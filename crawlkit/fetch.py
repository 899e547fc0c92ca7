"""Fetch + extract stage (S6/J8 + X1-X10).

"Fetching" in the batch rebuild is a join of the (narrow) selected
frontier against the Common-Crawl-style ``pages`` table on the
canonical url (SURVEY.md J8) — the reference's network fetch
(``/root/reference/src/crawler.ts:17-110``) replaced by a table scan, so
byte-identical extraction is what's verified.  Extraction runs in ONE
``mapInPandas`` pass over Arrow batches: per batch, ``extract_batch``
runs the pure-Python kernel (``extract.py``) once per page — it computes
title/meta/CBOR/text/canonical-html/links and decides whether the row
is stored — and resolves each out-link's identity
(``canon.url_identity``).

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
from .extract import extract_document
from .schema import NARROW_EXTRACTED_SCHEMA, RESULTS_SCHEMA


def make_doc_id(url_canon: str, fetched_ts: datetime) -> bytes:
    """XID-style 12-byte id: 4B big-endian unix seconds + 8B content
    hash of the canonical url.  Timestamp-prefixed and byte-comparable
    like the reference's XID (``src/db/model.ts:48,169-182``) but
    deterministic (no machine/pid/counter randomness)."""
    ts = int(fetched_ts.timestamp()).to_bytes(4, "big")
    return ts + hashlib.blake2b(url_canon.encode(), digest_size=8).digest()


def extract_batch(
    pdf: pd.DataFrame, fetched_ts: datetime, round_no: int
) -> tuple[pd.DataFrame, dict[str, list]]:
    """Run the kernel over one fetch-joined batch: ONE pass per row.

    Returns the narrow frame (``NARROW_EXTRACTED_SCHEMA``, every row)
    and the ``RESULTS_SCHEMA`` columns of the rows the kernel decided
    to store (status ok), ready for ``pa.Table.from_pydict``.  A row
    with no page (null ``html_bytes``) is fetch_failed."""
    statuses: list[str] = []
    links: list[list[dict] | None] = []
    # The stored rows' kernel columns, taken field by field: keeping
    # each Extracted (with its doc tree) alive until the batch ends
    # makes every cyclic-GC pass walk the whole batch's trees (GC time
    # 0.87-1.21 against 0.49-0.69 ms/page over 500 bench-weight pages,
    # 4-vCPU host).
    title, meta, content, html_col, page_len, text = [], [], [], [], [], []
    for row in pdf.itertuples(index=False):
        if row.html_bytes is None:
            statuses.append("fetch_failed")
            links.append(None)
            continue
        html = bytes(row.html_bytes).decode("utf-8", errors="replace")
        ex = extract_document(html, row.url_canon, src=row.src)
        statuses.append(ex.status)
        # Out-link identity (P2 validity, S7 canonical form, host)
        # resolves here, while each link is already a Python string:
        # the round explodes this array and only adds the JVM-side
        # hash, with no Arrow round-trip of its own.
        page_links = []
        for href in ex.links:
            url = canon.resolve_link(row.url_canon, href)
            ident = canon.url_identity(url)
            if ident is not None:
                page_links.append(
                    {"url": url, "url_canon": ident[0], "host": ident[1]}
                )
        links.append(page_links)
        if ex.status == "ok":
            title.append(ex.title)
            meta.append(list(ex.meta.items()))
            content.append(ex.content_cbor)
            html_col.append(ex.canonical_html)
            page_len.append(ex.page_len)
            text.append(ex.text)
    narrow = pd.DataFrame({
        "url": pdf["url_canon"],
        "url_canon": pdf["url_canon"],
        "url_hash": pdf["url_hash"],
        "host": pdf["host"],
        "status": statuses,
        "links": links,
        "depth": pdf["depth"],
    })
    kept = pdf.loc[[s == "ok" for s in statuses]]
    urls = kept["url_canon"].tolist()
    n = len(urls)
    results = {
        "id": [make_doc_id(u, fetched_ts) for u in urls],
        "url": urls,
        "url_canon": urls,
        "url_hash": kept["url_hash"].tolist(),
        "host": kept["host"].tolist(),
        "src": kept["src"].tolist(),
        "title": title,
        "meta": meta,
        "content": content,
        "html": html_col,
        "page_len": page_len,
        "text": text,
        "lang": kept["lang"].tolist(),
        "status": ["ok"] * n,
        "depth": kept["depth"].tolist(),
        "fetched_ts": [fetched_ts] * n,
        "round": [round_no] * n,
    }
    return narrow, results


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

    ``sink`` is a :class:`crawlkit.storage.ShardSink` from
    ``Warehouse.staging_sink``, obtained per attempt: it owns the write
    protocol, so this function holds no filesystem assumptions.
    Speculative execution must stay off (asserted here, off by
    default): a speculative twin racing the original on the same shard
    name could tear a shard.
    """
    import pyarrow as pa
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_schema

    if (
        selected.sparkSession.conf.get("spark.speculation", "false").lower()
        == "true"
    ):
        raise RuntimeError(
            "fetch_extract_write writes one shard per task id and is not "
            "safe under speculative execution; set spark.speculation=false"
        )
    arrow_schema = to_arrow_schema(RESULTS_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Each batch's stored rows stream into the task's shard
        # (ShardSink.open_writer bounds the wide bytes held to one row
        # group).  Opened lazily: a task with no ok rows leaves no
        # file; a task whose generator is closed EARLY (partial-
        # consumption action) aborts the shard rather than finalizing
        # a valid-looking footer over a truncated prefix — so a shard
        # file exists iff its task ran to completion.
        writer = None
        completed = False
        try:
            for pdf in batches:
                narrow, results = extract_batch(pdf, fetched_ts, round_no)
                if results["id"]:
                    if writer is None:
                        writer = sink.open_writer(
                            TaskContext.get().partitionId(), arrow_schema
                        )
                    writer.write_table(
                        pa.Table.from_pydict(results, schema=arrow_schema)
                    )
                yield narrow
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
