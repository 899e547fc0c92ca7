"""Table schemas (SURVEY.md §1.3, FIXTURES.md).

The canonical input (BASELINE.json ``input_hint``) is a table of
Common-Crawl-style pages; the engine owns frontier/results/urlseen/
hostbudget/metrics.  On a real cluster these are Iceberg tables
(bucketed by ``xxhash64(host)``); in this sandbox they are Parquet
directories under a warehouse with an atomic per-round manifest commit
(see ``storage.py``) — the layout mirrors Iceberg snapshot semantics so
the storage layer swaps in without touching the engine.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_ts", T.TimestampType(), True),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Mirrors the reference ``doc`` table (cql/schema.cql:1-15) plus crawl
# bookkeeping columns.
RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.BinaryType(), True),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("html", T.StringType(), True),
        T.StructField("page_len", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("fetched_ts", T.TimestampType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

URLSEEN_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bloom_bytes", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

URLSEEN_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Recrawl-expiry tombstones: a row (h, r) kills urlseen_exact rows for
# url_hash h with round <= r, making the url probe as unseen again
# (rounds.run_round expiry; urlseen.effective_exact).  O(evicted) rows
# per expiry instead of rewriting the exact table.
URLSEEN_EVICTED_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Cached recrawl-expiry candidate scan (rounds._expiry_candidates):
# the newest stored doc per url_hash within the manifest-pruned old
# results shards.  Valid for as long as the (pruned round set, cutoff)
# signature recorded with it in the manifest matches — see
# Warehouse.latest_extra("expiry_scan").  Also P3 freshness's input
# (rounds._stored_docs), hence ``title``.
EXPIRY_CAND_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("res_ts", T.TimestampType(), True),
        T.StructField("res_round", T.IntegerType(), True),
        T.StructField("title", T.StringType(), True),
    ]
)

HOSTBUDGET_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay_ms", T.LongType(), False),
        T.StructField("disallow_rules", T.ArrayType(T.StringType()), True),
        T.StructField("allow_rules", T.ArrayType(T.StringType()), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("stage", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("elapsed_ms", T.LongType(), True),
    ]
)

# Out-links of one extracted page, identity already resolved in the
# extraction task (canon.url_identity): the resolved url, its canonical
# form and host.  Invalid links are dropped there.
LINKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("url_canon", T.StringType(), False),
            T.StructField("host", T.StringType(), False),
        ]
    )
)

# Output schema of the fetch+extract mapInPandas stage
# (fetch.fetch_extract_write): the wide results are written in-task, so
# the round gets back only its link-growth and status bookkeeping.
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
