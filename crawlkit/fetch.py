"""Fetch + extract stage (S6/J8 + X1-X10).

"Fetching" in the batch rebuild is a join of the (narrow) selected
frontier against the Common-Crawl-style ``pages`` table on the
canonical url (SURVEY.md J8) — the reference's network fetch
(``/root/reference/src/crawler.ts:17-110``) replaced by a table scan, so
byte-identical extraction is what's verified.  Extraction runs in ONE
``mapInPandas`` pass over Arrow batches: per batch, the pure-Python
kernel (``extract.py``) computes title/meta/CBOR/text/canonical-html/links,
and each out-link's identity (``canon.url_identity``).

Shuffle hygiene: only the frontier's narrow key columns are joined into
the wide pages scan; the MB-scale raw ``html`` bytes never pass through
more than the single fetch join, and the stage output drops them
(results carry the canonical re-rendered html + page_len only,
mirroring the reference's stored doc row and its 1 MiB page/content
guard, ``src/api.ts:96-102`` + ``src/db/model.ts:73-79,142-147``).
"""

from __future__ import annotations

import hashlib
from datetime import datetime
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import canon
from .extract import MAX_CELL_SIZE, extract_document
from .schema import EXTRACTED_SCHEMA, LINKS_TYPE


def make_doc_id(url_canon: str, fetched_ts: datetime) -> bytes:
    """XID-style 12-byte id: 4B big-endian unix seconds + 8B content
    hash of the canonical url.  Timestamp-prefixed and byte-comparable
    like the reference's XID (``src/db/model.ts:48,169-182``) but
    deterministic (no machine/pid/counter randomness)."""
    ts = int(fetched_ts.timestamp()).to_bytes(4, "big")
    return ts + hashlib.blake2b(url_canon.encode(), digest_size=8).digest()


def _extract_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in EXTRACTED_SCHEMA.fields]
    for pdf in batches:
        out: list[dict] = []
        for row in pdf.itertuples(index=False):
            rec = {
                "url": row.url_canon,
                "url_canon": row.url_canon,
                "url_hash": row.url_hash,
                "host": row.host,
                "src": row.src,
                "status": "fetch_failed",
                "title": None,
                "meta": None,
                "content": None,
                "html": None,
                "page_len": None,
                "text": None,
                "lang": row.lang,
                "links": None,
                "depth": row.depth,
            }
            if row.html_bytes is not None:
                html = bytes(row.html_bytes).decode("utf-8", errors="replace")
                ex = extract_document(html, row.url_canon, src=row.src)
                # Link identity (P2 validity, S7 canonical form, host)
                # resolves here, while each link is already a Python
                # string: the round explodes this array and only adds
                # the JVM-side hash, with no Arrow round-trip of its own.
                links = []
                for href in ex.links:
                    url = canon.resolve_link(row.url_canon, href)
                    ident = canon.url_identity(url)
                    if ident is not None:
                        links.append(
                            {"url": url, "url_canon": ident[0], "host": ident[1]}
                        )
                rec.update(
                    status=ex.status,
                    links=links,
                    page_len=ex.page_len,
                )
                if ex.status == "ok":
                    if (
                        ex.page_len > MAX_CELL_SIZE
                        or len(ex.content_cbor) > MAX_CELL_SIZE
                    ):
                        # save() guards the trimmed PAGE bytes and the
                        # CBOR content bytes, strictly greater-than
                        # (model.ts:142-147) — not the region html,
                        # which the reference never stores
                        rec["status"] = "too_large"
                    else:
                        rec.update(
                            title=ex.title,
                            meta=ex.meta,
                            content=ex.content_cbor,
                            # the stored html column is the CANONICAL
                            # re-render of the amended tree, trimmed —
                            # setHTML(toHTML(obj)), api.ts:96-102 +
                            # model.ts:73-75; the X5 region html is
                            # transient parse input (crawler.ts:83)
                            html=ex.canonical_html.strip(),
                            text=ex.text,
                        )
            out.append(rec)
        yield pd.DataFrame(out, columns=cols)


from pyspark.sql import types as T

# What the round pipeline actually needs back from extraction when the
# wide results are written in-task: link-growth and status bookkeeping.
NARROW_EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("links", LINKS_TYPE, True),
        T.StructField("depth", T.IntegerType(), False),
    ]
)


def _results_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("id", pa.binary()),
            ("url", pa.string()),
            ("url_canon", pa.string()),
            ("url_hash", pa.int64()),
            ("host", pa.string()),
            ("src", pa.string()),
            ("title", pa.string()),
            ("meta", pa.map_(pa.string(), pa.string())),
            ("content", pa.binary()),
            ("html", pa.string()),
            ("page_len", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("status", pa.string()),
            ("depth", pa.int32()),
            ("fetched_ts", pa.timestamp("us", tz="UTC")),
            ("round", pa.int32()),
        ]
    )


def fetch_extract_write(
    selected: DataFrame,
    pages: DataFrame,
    sink,
    round_no: int,
    fetched_ts,
) -> DataFrame:
    """Fetch-join + extraction that writes the WIDE results shard
    directly from each task via the warehouse's :class:`ShardSink`
    and emits only NARROW rows.

    Why: the wide columns (canonical html, CBOR content, text — ~60-80 KB
    per page) otherwise cross the Arrow pipe back into the JVM, get
    cached columnar, and get re-read for the parquet write — three
    full passes of multi-GB data per round.  Writing zstd parquet
    in-task keeps the wide bytes in one pass; Spark only ever shuffles
    the narrow link/status columns.

    ``sink`` is a :class:`crawlkit.storage.ShardSink` (from
    ``Warehouse.staging_sink``): it owns the write protocol —
    overwrite-by-task-id idempotence, object-store-safe paths, and
    manifest-gated visibility — so this function holds no filesystem
    assumptions.  Speculative execution must stay off (asserted here,
    off by default): a speculative twin racing the original on the
    same shard name could tear a shard.  The caller obtains the sink
    per attempt; ``staging_sink`` wipes orphan shards of a crashed
    previous attempt, whose task layout may have differed.
    """
    import pyarrow as pa
    from pyspark import TaskContext

    if (
        selected.sparkSession.conf.get("spark.speculation", "false").lower()
        == "true"
    ):
        raise RuntimeError(
            "fetch_extract_write writes one shard per task id and is not "
            "safe under speculative execution; set spark.speculation=false"
        )
    narrow_cols = [f.name for f in NARROW_EXTRACTED_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Incremental shard write: Arrow batches stream into the shard
        # in byte-bounded row groups (ShardWriter buffers to
        # CRAWLKIT_ROW_GROUP_BYTES then flushes one group), so the
        # worker holds O(row-group target) wide bytes — never the
        # task's whole shard (O(task-share) would be gigabytes at the
        # design point).  Opened lazily: a task with no ok rows leaves
        # no file; a task whose generator is closed EARLY (partial-
        # consumption action) aborts the shard rather than finalizing
        # a valid-looking footer over a truncated prefix — so a shard
        # file exists iff its task ran to completion.
        writer = None
        completed = False
        arrow_schema = _results_arrow_schema()
        try:
            for pdf in _extract_partition(batches):
                ok = pdf[pdf["status"] == "ok"]
                wide: list[dict] = []
                for row in ok.itertuples(index=False):
                    wide.append(
                        {
                            "id": make_doc_id(row.url_canon, fetched_ts),
                            "url": row.url,
                            "url_canon": row.url_canon,
                            "url_hash": row.url_hash,
                            "host": row.host,
                            "src": row.src,
                            "title": row.title,
                            "meta": list((row.meta or {}).items()),
                            "content": row.content,
                            "html": row.html,
                            "page_len": row.page_len,
                            "text": row.text,
                            "lang": row.lang,
                            "status": row.status,
                            "depth": row.depth,
                            "fetched_ts": fetched_ts,
                            "round": round_no,
                        }
                    )
                if wide:
                    table = pa.Table.from_pylist(wide, schema=arrow_schema)
                    if writer is None:
                        writer = sink.open_writer(
                            TaskContext.get().partitionId(), arrow_schema
                        )
                    writer.write_table(table)
                yield pdf[narrow_cols]
            completed = True
        finally:
            if writer is not None:
                if completed:
                    writer.close()
                else:
                    writer.abort()

    return _join_pages(selected, pages).mapInPandas(
        run, NARROW_EXTRACTED_SCHEMA
    )


def _join_pages(selected: DataFrame, pages: DataFrame) -> DataFrame:
    """The J8 fetch join: selected frontier keys LEFT OUTER the pages
    table, so a selected url with no page (dead link) comes back with
    null ``html_bytes`` and extracts as fetch_failed.

    Shuffle hygiene — the MB-scale ``html`` column must NOT cross an
    exchange.  ``pages`` is the bucket-clustered table from
    :meth:`crawlkit.storage.Warehouse.bucketized_pages` (``run_crawl``
    always bucketizes): the scan reports its bucketing, so only the
    narrow key side shuffles, into the bucket partitioning, and the
    html-bearing scan feeds the join with ZERO exchange at any
    selected-set size — the Iceberg bucket-transform plan of the
    10^10-URL design point.  The ``shuffle_hash`` hint makes the narrow
    frame the BUILD side (SPARK-36612 left-outer build-left), so the
    html rows stream through the join with no sort and no hash table.
    The join output is already bucket-count parallel; a post-join
    repartition would be exactly the html shuffle this plan avoids.
    """
    narrow = selected.select(
        F.col("url").alias("src"), "url_canon", "url_hash", "host", "depth"
    )
    pages_sel = pages.select(
        F.col("url").alias("page_url"),
        F.col("html").alias("html_bytes"),
        F.col("lang"),
    )
    return narrow.hint("shuffle_hash").join(
        pages_sel, narrow.url_canon == F.col("page_url"), "left"
    ).drop("page_url")
