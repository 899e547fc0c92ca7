"""The ``corpus_analytics`` workload: the twelve headline queries.

Set-up writes the input tables (``analytics_data``), and a copy at a
tenth of the rows on which it runs every query once, three at a time,
so the timed passes find the JVM, the generated code and the Python
workers warm.
While the warm-up runs, a background thread computes every query's
DuckDB ``oracle_sql()`` twin on the full tables with one DuckDB
thread; set-up waits for it, so the timed window runs alone.  A timed
pass collects every query's result into pandas, as a user would; the
gate compares the last pass's results with their twins exactly as
``tools/check_oracle.py`` does.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import importlib.util
import time

from . import analytics_data
from .context import StealWindow

GATE_EVERY_UNIT = False  # every unit reads the same tables
MIN_UNITS = 2  # timed passes per run, so the phases are medians of two
WARMUP_SCALE = 0.1  # row share of the warm-up tables
WARMUP_THREADS = 3  # warm-up queries in flight at once

# headline query -> per-layer span name (the module that does the work);
# phase 1 is the five relational queries, phase 2 the seven corpus ones
QUERIES = {
    "agg_pricing_summary": "queries.agg_pricing_summary_s",
    "j8_copartition_join": "queries.j8_copartition_join_s",
    "j3_broadcast_dim": "queries.j3_broadcast_dim_s",
    "w2_topk_per_group": "queries.w2_topk_per_group_s",
    "a1_latest_per_user": "queries.a1_latest_per_user_s",
    # phase 2
    "text_quality": "textops.quality_s",
    "text_fingerprint_dups": "textops.fingerprint_dups_s",
    "dedup_minhash_lsh": "dedupe.minhash_lsh_s",
    "dedup_simhash": "dedupe.simhash_s",
    "ann_topk_cosine": "embeddings.topk_cosine_s",
    "ann_lsh_buckets": "embeddings.lsh_buckets_s",
    "multimodal_features": "multimodal.features_s",
}
N_RELATIONAL = 5
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings"]


def params(seed: int) -> dict:
    return {"rows": analytics_data.ROWS, "warmup_scale": WARMUP_SCALE,
            "warmup_threads": WARMUP_THREADS,
            "min_passes": MIN_UNITS, "queries": list(QUERIES)}


def setup(run) -> dict:
    data = str(run.dir / "tables")
    t0 = time.perf_counter()
    rows = analytics_data.generate(data, run.seed)
    warm_data = str(run.dir / "warmup-tables")
    analytics_data.generate(warm_data, run.seed + 1, WARMUP_SCALE)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(_oracle_frames, data)
        warm = _warm_up(run, warm_data)
        warm_s = time.perf_counter() - t0
        oracle_frames = oracle.result()
    run.setup_parts.update({
        "tables_gen_s": gen_s,
        "warmup_pass_s": warm_s,
        "warmup_and_oracle_s": time.perf_counter() - t0,
        "warmup_queries": warm,
        "table_rows": rows,
    })
    return {"data": data, "oracle": oracle_frames, "results": {}}


def _warm_up(run, data: str) -> dict[str, float]:
    """Collect every query once on ``data``, ``WARMUP_THREADS`` queries
    at a time: the JIT, code generation and Python worker start-up a
    pass needs are the same, in less wall time than one query at a
    time."""
    from crawlkit.queries import REGISTRY

    def one(name: str) -> float:
        t0 = time.perf_counter()
        REGISTRY[name][0](run.spark, data).toPandas()
        return time.perf_counter() - t0

    with concurrent.futures.ThreadPoolExecutor(WARMUP_THREADS) as pool:
        return dict(zip(QUERIES, pool.map(one, QUERIES)))


def run_pass(run, data: str, tracer, results: dict) -> dict[str, float]:
    """Seconds per query; each query's result is collected into
    ``results``."""
    from crawlkit.queries import REGISTRY

    out = {}
    for name, span_name in QUERIES.items():
        t0 = time.perf_counter()
        with tracer.span(span_name) if tracer else contextlib.nullcontext():
            results[name] = REGISTRY[name][0](run.spark, data).toPandas()
        out[name] = time.perf_counter() - t0
    return out


def unit(run, state: dict, name: str) -> dict:
    results: dict = {}
    with StealWindow() as w:
        per_query = run_pass(run, state["data"], run.tracer, results)
    state["results"] = results  # the gate checks the last pass
    times = list(per_query.values())
    return {
        "run_s": w.seconds,
        "steps_s": times,
        "phases_s": [sum(times[:N_RELATIONAL]), sum(times[N_RELATIONAL:])],
        "items": len(per_query),
        "steal_pct": w.steal_pct,
        "per_query_s": per_query,
    }


def _check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", root / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_frames(data: str) -> dict:
    """{query: (DuckDB result frame, exact tie values or None)}, with
    one DuckDB thread so the concurrent warm-up keeps the cores."""
    import duckdb

    from crawlkit.queries import REGISTRY

    con = duckdb.connect(config={"threads": 1})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out = {}
        for name in QUERIES:
            ties = ROUND_TIES.get(name)
            out[name] = (con.execute(REGISTRY[name][1]).df(),
                         ties[1](con) if ties else None)
        return out
    finally:
        con.close()


def gate(run, state: dict, unit_rec: dict, corrupt: bool) -> list[dict]:
    """The last timed pass's results vs the DuckDB twins, per query,
    normalised with ``check_oracle.norm`` and compared with the same
    frame-equality tolerances.  ``corrupt`` alters one value of the
    first result first (self-test)."""
    import pandas as pd

    norm = _check_oracle(run.root).norm
    checks = []
    for i, (name, s) in enumerate(state["results"].items()):
        d, exact = state["oracle"][name]
        if corrupt and i == 0:
            s = s.copy()
            col = s.columns[-1]
            s.loc[0, col] = s.loc[0, col] + 1
        ties = 0
        if exact is not None:
            d, ties = _settle_round_ties(s, d, ROUND_TIES[name][0], exact)
        s, d = norm(s), norm(d)
        detail = {"rows": len(s), "oracle_rows": len(d), "oracle_round_ties": ties}
        ok = len(s) == len(d) and list(s.columns) == list(d.columns)
        if ok:
            try:
                pd.testing.assert_frame_equal(s, d, check_dtype=False,
                                              check_exact=False, rtol=0, atol=1e-9)
            except AssertionError as e:
                ok = False
                detail["diff"] = str(e).splitlines()[:4]
        checks.append({"check": f"oracle.{name}", "ok": ok, "detail": detail})
    return checks


def _half_up(value, places: int) -> float | None:
    """``value`` (a Fraction or Decimal) rounded half up to ``places``
    when it lies exactly halfway between two such numbers, else None."""
    from fractions import Fraction

    scaled = Fraction(value) * 10 ** places
    if scaled.denominator != 2:
        return None
    return float((scaled + Fraction(1, 2)) / 10 ** places)


def _text_quality_ties(con) -> dict:
    """{(doc_id,): {"avg_tok_len": v}} for documents whose exact mean
    token length is a tie at 3 places."""
    from fractions import Fraction

    out = {}
    for doc_id, text in con.execute(
            "SELECT doc_id, text FROM documents").fetchall():
        toks = text.split()
        if toks:
            v = _half_up(Fraction(sum(map(len, toks)), len(toks)), 3)
            if v is not None:
                out[(doc_id,)] = {"avg_tok_len": v}
    return out


def _pricing_ties(con) -> dict:
    """{(returnflag, linestatus): {column: v}} for the exact decimal
    sums of ``agg_pricing_summary`` that are a tie at 2 places."""
    out = {}
    for flag, status, *sums in con.execute("""
        SELECT l_returnflag, l_linestatus,
          SUM(CAST(l_quantity AS DECIMAL(38,6))),
          SUM(CAST(l_extendedprice AS DECIMAL(38,6))),
          SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""").fetchall():
        cols = dict(zip(("sum_qty", "sum_base_price", "sum_disc_price"), sums))
        ties = {c: _half_up(v, 2) for c, v in cols.items()}
        ties = {c: v for c, v in ties.items() if v is not None}
        if ties:
            out[(flag, status)] = ties
    return out


# Queries that round an exact value to a few places.  When that value
# is exactly halfway, Spark rounds its decimal form half up while DuckDB
# rounds the nearest double, which may lie just below the tie (323/80 =
# 4.0375 is 4.03749999... as a double, so 4.037 instead of 4.038).
ROUND_TIES = {
    "text_quality": (["doc_id"], _text_quality_ties),
    "agg_pricing_summary": (["l_returnflag", "l_linestatus"], _pricing_ties),
}


def _settle_round_ties(s, d, keys: list[str], exact: dict):
    """Replace a DuckDB value by the exact half-up rounding of a tie
    (from ``exact``, {key tuple: {column: value}}) where Spark agrees
    with that rounding and DuckDB does not; every other cell is
    compared as is.  Returns the oracle frame and the cells replaced."""
    spark_rows = {tuple(r[k] for k in keys): r for r in s.to_dict("records")}
    d = d.copy()
    ties = 0
    for i, row in enumerate(d.to_dict("records")):
        key = tuple(row[k] for k in keys)
        for col, want in exact.get(key, {}).items():
            got = spark_rows.get(key, {}).get(col)
            if row[col] != want and got == want:
                d.loc[d.index[i], col] = want
                ties += 1
    return d, ties


def layer_metrics(run, state: dict, unit_rec: dict, tracer,
                  jobs: list[dict]) -> tuple[dict, dict]:
    out = {}
    for span_name in QUERIES.values():
        spans = [s for s in tracer.spans if s.name == span_name]
        out[span_name] = sum(s.seconds for s in spans)
    return out, {}
