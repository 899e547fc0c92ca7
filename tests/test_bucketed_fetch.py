"""J8 fetch join over the bucket-clustered pages corpus.

The fetch join must NOT shuffle the pages scan: with the pages corpus
bucket-clustered on ``url`` (``Warehouse.bucketized_pages`` — the
parquet stand-in for Iceberg's ``bucket(url)`` transform, SURVEY.md
§1.3), the html-bearing scan feeds the join with zero exchanges and
only the narrow frontier side shuffles into the bucket partitioning.
Verified on the physical plan (one Exchange, on the narrow side,
bucketed scan active, no broadcast), on the default crawl's bucket
count and its adoption on resume, and on resume-time re-registration
of the bucketed table.  Crawl equality with the oracle simulator is
checked in ``test_rounds.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlkit.rounds import CrawlConfig, run_crawl
from crawlkit.storage import Warehouse
from crawlkit.synth import robots_df, seeds_df

from test_rounds import MAX_DEPTH

BUCKETS = 16


@pytest.fixture(scope="module")
def bucket_wh(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wh-bucketed"))
    wh = Warehouse(d)
    return wh, wh.bucketized_pages(pages, BUCKETS)


def _selected_frame(spark):
    from crawlkit.sparkfns import with_url_identity

    return with_url_identity(
        spark.createDataFrame(
            [(f"https://h{i % 5}.example/p/{i}",) for i in range(40)],
            "url string",
        ).select(
            "url",
            F.lit(0).alias("depth"),
            F.lit(None).cast("double").alias("priority"),
        )
    )


def _plan_nodes(node):
    """Physical plan nodes, pre-order (cached relations are leaves:
    their plan ran before this one)."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _assert_bucketed_join_plan(df) -> None:
    """The fetch join's physical plan: exactly ONE Exchange, directly
    on the narrow frontier side; nothing broadcast; the pages side a
    bucketed scan (SelectedBucketsCount) with no exchange above it;
    and the join streams pages as the probe side (ShuffledHashJoin
    BuildLeft) — no sort, no hash table, no shuffle of html."""
    root = df._jdf.queryExecution().executedPlan()
    if _kind(root) == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    kinds = [_kind(n) for n in _plan_nodes(root)]
    assert "BroadcastExchangeExec" not in kinds, root.toString()
    assert kinds.count("ShuffleExchangeExec") == 1, root.toString()
    (join,) = [n for n in _plan_nodes(root)
               if _kind(n) == "ShuffledHashJoinExec"]
    assert join.buildSide().toString() == "BuildLeft", root.toString()
    assert _kind(join.left()) == "ShuffleExchangeExec", root.toString()
    (scan,) = [n for n in _plan_nodes(join.right())
               if _kind(n) == "FileSourceScanExec"]
    assert scan.bucketedScan(), root.toString()
    assert "SelectedBucketsCount" in scan.toString(), root.toString()


def test_fresh_ingest_writes_one_file_per_bucket(pages, bucket_wh):
    """The ingest shuffles into the bucket partitioning first, so each
    bucket is one file, not one file per input task per bucket."""
    wh, _ = bucket_wh
    assert pages.rdd.getNumPartitions() > 1  # else one file per bucket anyway
    files = list((wh.root / "pages_bucketed").glob("*.parquet"))
    assert 0 < len(files) <= BUCKETS, len(files)


def test_large_regime_plan_html_never_crosses_exchange(spark, bucket_wh):
    """The done-criterion plan audit on the 16-bucket fixture."""
    from crawlkit.fetch import _join_pages

    _, pages_b = bucket_wh
    joined = _join_pages(_selected_frame(spark), pages_b)
    _assert_bucketed_join_plan(joined)
    # and the join returns every selected key exactly once (left outer)
    assert joined.count() == 40


def test_unknown_size_never_broadcasts(spark, pages):
    """No selected-set size reaches the join, and none is needed: even
    over the un-bucketed, cached pages frame (small enough for Spark's
    own broadcast threshold), the join takes the shuffled plan, never
    an unbounded broadcast."""
    from crawlkit.fetch import _join_pages

    plan = (
        _join_pages(_selected_frame(spark), pages)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_default_crawl_buckets_by_shuffle_partitions(
    spark, pages, synth_cfg, tmp_path_factory, monkeypatch
):
    """A crawl with ``pages_buckets`` unset bucketizes into
    ``spark.sql.shuffle.partitions`` buckets and pins that count; its
    executed fetch join is the bucketed plan; a resume adopts the
    pinned count."""
    from crawlkit import fetch

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plans: list = []
    inner = fetch._join_pages

    def spy_join(selected, pages_):
        # planned now, while the round's persisted frames are cached
        joined = inner(selected, pages_)
        joined._jdf.queryExecution().executedPlan()
        plans.append(joined)
        return joined

    monkeypatch.setattr(fetch, "_join_pages", spy_join)
    d = str(tmp_path_factory.mktemp("wh-default-buckets"))
    cfg = CrawlConfig(warehouse=d, n_bloom_partitions=16,
                      max_depth=MAX_DEPTH, salt=4)
    first = run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
                      robots_df(spark, synth_cfg), max_rounds=1)
    assert first and cfg.pages_buckets == n_shuffle == 8
    assert Warehouse(d).pages_bucket_count() == n_shuffle
    assert len(plans) == 1
    _assert_bucketed_join_plan(plans[0])

    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle * 2))
    try:
        cfg2 = CrawlConfig(warehouse=d, n_bloom_partitions=16,
                           max_depth=MAX_DEPTH, salt=4)
        resumed = run_crawl(spark, cfg2, pages, max_rounds=1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    assert cfg2.pages_buckets == n_shuffle
    assert resumed and len(plans) == 2
    _assert_bucketed_join_plan(plans[1])
    assert Warehouse(d).last_committed_round() == 2


def test_resume_adopts_pinned_bucket_spec(
    spark, pages, synth_cfg, tmp_path_factory
):
    """A resume that omits ``pages_buckets`` must adopt the bucket
    count pinned on disk by the original ingest (like the seen-filter
    partition count) instead of re-ingesting at another count."""
    d = str(tmp_path_factory.mktemp("wh-adopt"))
    cfg = CrawlConfig(warehouse=d, n_bloom_partitions=16,
                      max_depth=MAX_DEPTH, salt=4, pages_buckets=BUCKETS)
    first = run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
                      robots_df(spark, synth_cfg), max_rounds=1)
    assert first and Warehouse(d).pages_bucket_count() == BUCKETS

    r1 = Warehouse(d).last_committed_round()
    cfg2 = CrawlConfig(warehouse=d, n_bloom_partitions=16,
                       max_depth=MAX_DEPTH, salt=4)  # buckets forgotten
    resumed = run_crawl(spark, cfg2, pages, max_rounds=1)
    assert cfg2.pages_buckets == BUCKETS
    assert resumed and Warehouse(d).last_committed_round() == r1 + 1

    fresh = Warehouse(str(tmp_path_factory.mktemp("wh-fresh")))
    assert fresh.pages_bucket_count() is None


def test_bucketized_pages_reregisters_on_resume(spark, pages, bucket_wh):
    """A new session loses the in-memory catalog entry; the spec file
    next to the data re-registers the same bucketed table (simulated
    here by dropping the catalog entry)."""
    import hashlib

    wh, pages_b = bucket_wh
    n = pages_b.count()
    tag = hashlib.blake2b(str(wh.root.resolve()).encode(),
                          digest_size=4).hexdigest()
    name = f"crawlkit_pages_b{BUCKETS}_{tag}"
    assert spark.catalog.tableExists(name)
    spark.sql(f"DROP TABLE {name}")  # ≙ session restart
    again = wh.bucketized_pages(pages, BUCKETS)
    assert again.count() == n
    # and the join over the re-registered table is still exchange-free
    # on the pages side (a bare scan would not report bucketing —
    # autoBucketedScan only engages it when a join benefits)
    from crawlkit.fetch import _join_pages

    _assert_bucketed_join_plan(_join_pages(_selected_frame(spark), again))
    # mismatched bucket count on resume fails loudly
    with pytest.raises(ValueError, match="buckets"):
        wh.bucketized_pages(pages, BUCKETS * 2)
