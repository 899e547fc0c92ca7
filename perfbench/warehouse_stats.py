"""Post-run readers over a crawl warehouse's committed state.

Reads the manifest, the per-round ``metrics`` rows, the
``extract_partition`` lineage and the on-disk size of every table,
straight from the parquet files (no Spark), so the numbers describe
exactly what a round committed.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def manifest(wh: str | Path) -> dict:
    return json.loads((Path(wh) / "_manifest.json").read_text())


def committed_rounds(wh: str | Path, table: str) -> list[int]:
    return sorted(
        int(r) for r, info in manifest(wh)["rounds"].items()
        if table in info["tables"]
    )


def read_table(wh: str | Path, table: str, rounds: list[int],
               columns: list[str] | None = None) -> pa.Table | None:
    """Committed rows of ``table`` for ``rounds`` (None when empty)."""
    parts = []
    for r in rounds:
        for f in sorted((Path(wh) / table / f"round={r}").glob("*.parquet")):
            parts.append(pq.read_table(f, columns=columns))
    parts = [p for p in parts if p.num_rows]
    return pa.concat_tables(parts) if parts else None


def round_metrics(wh: str | Path, rounds: list[int]) -> dict[int, dict]:
    """Per round: the stage counters (queued, selected, results,
    new_seen, frontier_delta, expired, ...) and the ``extract_partition``
    rows_in per partition."""
    out = {r: {"stages": {}, "partition_rows_in": []} for r in rounds}
    t = read_table(wh, "metrics", rounds)
    if t is None:
        return out
    for row in t.to_pylist():
        r = row.get("round")
        if r not in out:
            continue
        if row["stage"] == "extract_partition":
            out[r]["partition_rows_in"].append(row["rows_in"])
        elif row["partition_id"] is None:
            out[r]["stages"][row["stage"]] = row["rows_out"]
    return out


def partition_skew(rows_in: list[int]) -> float:
    """max ÷ median rows per extraction partition (1.0 = even)."""
    if not rows_in:
        return 0.0
    return max(rows_in) / max(statistics.median(rows_in), 1)


def table_sizes(wh: str | Path, rounds: list[int]) -> dict[str, dict]:
    """{table: {round: {"files": n, "bytes": b}}} for committed rounds."""
    info = manifest(wh)["rounds"]
    out: dict[str, dict] = {}
    for r in rounds:
        for table in info.get(str(r), {}).get("tables", {}):
            d = Path(wh) / table / f"round={r}"
            files = sorted(d.glob("*.parquet"))
            out.setdefault(table, {})[r] = {
                "files": len(files),
                "bytes": sum(p.stat().st_size for p in files),
            }
    return out
