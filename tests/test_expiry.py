"""T3 recrawl expiry: stale urls leave the URL-seen set (tombstones)
and get refetched; dead urls never requeue-loop; the cycle terminates
once everything is fresh.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import functions as F

from crawlkit import schema
from crawlkit.rounds import CrawlConfig, run_crawl
from crawlkit.storage import Warehouse
from crawlkit.synth import EPOCH

from conftest import CRAWL_KW, copy_warehouse
from crawlkit.urlseen import effective_exact

T0 = EPOCH + timedelta(days=1)  # == CrawlConfig.now default (session crawl ts)
T1 = EPOCH + timedelta(days=11)


def _cfg(wh_dir, **kw):
    # CRAWL_KW so the resume agrees with the session crawl's config
    return CrawlConfig(warehouse=wh_dir, **CRAWL_KW, **kw)


def _results(spark, wh_dir):
    wh = Warehouse(wh_dir)
    return wh.read(spark, "results", schema.RESULTS_SCHEMA)


def _run_expiry_cycle(spark, pages, src_wh_dir, tmp_path_factory):
    """Resume a copy of the session T0 crawl at T1 with a 3-day expiry.
    The session fixture (conftest ref_crawl) IS the initial T0 crawl:
    its cfg is CRAWL_KW at the default now == T0.
    Returns (initial urls, recrawl metrics, results frame, wh_dir)."""
    wh_dir = copy_warehouse(src_wh_dir, tmp_path_factory, "wh-exp")
    first = {
        r["url_canon"]
        for r in _results(spark, wh_dir).select("url_canon").collect()
    }
    assert first, "initial crawl fetched nothing"
    mets = run_crawl(spark, _cfg(wh_dir, now=T1, expire_days=3),
                     pages, max_rounds=6)
    return first, mets, _results(spark, wh_dir), wh_dir


def test_expiry_requeues_and_refetches(spark, pages, ref_crawl,
                                       tmp_path_factory):
    first, mets, results, tmp_warehouse = _run_expiry_cycle(
        spark, pages, ref_crawl[2], tmp_path_factory
    )
    # the resumed crawl expired the stale docs and recrawled them
    assert any(m.get("expired", 0) > 0 for m in mets)
    refetched = {
        r["url_canon"]
        for r in results.where(F.col("fetched_ts") == F.lit(T1))
        .select("url_canon").collect()
    }
    assert refetched == first  # every T0 doc went stale → all recrawled
    # tombstones committed; the effective seen set keeps exactly the
    # re-crawled (newer-round) rows for those urls
    wh = Warehouse(tmp_warehouse)
    tomb = wh.read(spark, "urlseen_evicted", schema.URLSEEN_EVICTED_SCHEMA)
    assert tomb.count() == len(first)
    exact = wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
    live = effective_exact(exact, tomb)
    dup = (live.groupBy("url_hash").count().where(F.col("count") > 1))
    assert dup.count() == 0
    assert live.count() == exact.count() - tomb.count()
    # everything fresh now → a further resume is an immediate no-op
    again = run_crawl(
        spark, _cfg(tmp_warehouse, now=T1, expire_days=3),
        pages, max_rounds=6)
    assert again == []


def test_effective_exact_is_round_aware(spark):
    exact = spark.createDataFrame(
        [(7, "a", 1), (7, "a", 5), (9, "b", 2)],
        schema.URLSEEN_EXACT_SCHEMA,
    )
    tomb = spark.createDataFrame([(7, 3)], schema.URLSEEN_EVICTED_SCHEMA)
    live = {(r["url_hash"], r["round"])
            for r in effective_exact(exact, tomb).collect()}
    # the round-5 re-crawl survives its round-3 tombstone; round-1 dies
    assert live == {(7, 5), (9, 2)}
    tomb_all = spark.createDataFrame([(7, 7), (9, 2)],
                                     schema.URLSEEN_EVICTED_SCHEMA)
    assert effective_exact(exact, tomb_all).count() == 0


def test_rounds_at_or_before_prunes_by_manifest_ts(tmp_warehouse):
    """Expiry's shard pruning: ts <= cutoff included, newer excluded,
    legacy rounds without a ts conservatively included."""
    wh = Warehouse(tmp_warehouse)
    wh.commit_round(1, {"results": 5}, ts="2026-01-01T00:00:00")
    wh.commit_round(2, {"results": 5}, ts="2026-06-01T00:00:00")
    wh.commit_round(3, {"results": 5})  # legacy: no ts
    wh.commit_round(4, {"frontier": 5}, ts="2026-01-01T00:00:00")
    assert wh.rounds_at_or_before("results", "2026-01-01T00:00:00") == [1, 3]
    assert wh.rounds_at_or_before("results", "2026-12-31T00:00:00") == [1, 2, 3]
    assert wh.rounds_at_or_before("results", "2025-01-01T00:00:00") == [3]
    assert wh.committed_rounds("results") == [1, 2, 3]


def test_expiry_scan_runs_only_when_prunable_set_changes(
        spark, pages, ref_crawl, tmp_path_factory, monkeypatch):
    """The old-shard candidate scan (max-by over every old results
    shard) is cached in the ``expiry_cand`` table keyed by its
    (pruned round set, cutoff) signature: a multi-round expiry crawl
    scans ONCE, later rounds re-read the cached candidates; a LATER
    resume whose cutoff admits new shards scans again."""
    from crawlkit import storage

    wh_dir = copy_warehouse(ref_crawl[2], tmp_path_factory, "wh-expcache")
    scan_reads: list[tuple] = []
    orig_read = storage.Warehouse.read

    def spy_read(self, spark_, table, schema_, rounds=None):
        # the candidate scan is the ONLY explicit-round results read
        if table == "results" and rounds is not None:
            scan_reads.append(tuple(rounds))
        return orig_read(self, spark_, table, schema_, rounds=rounds)

    monkeypatch.setattr(storage.Warehouse, "read", spy_read)
    mets = run_crawl(spark, _cfg(wh_dir, now=T1, expire_days=3),
                     pages, max_rounds=6)
    # multi-round crawl (expire+requeue, then refetch), ONE shard scan
    assert len(mets) >= 2
    assert len(scan_reads) == 1
    assert [m.get("expiry_scanned") for m in mets][0] == 1
    assert all(m.get("expiry_scanned") == 0 for m in mets[1:])
    # a later resume: the refetched shards have aged past the new
    # cutoff → prunable set changed → fresh scan (exactly one more)
    t2 = T1 + timedelta(days=10)
    mets2 = run_crawl(spark, _cfg(wh_dir, now=t2, expire_days=3),
                      pages, max_rounds=6)
    assert mets2 and mets2[0].get("expiry_scanned") == 1
    assert len(scan_reads) == 2
    # cache-correctness: the second cycle recrawls exactly the docs
    # the first cycle fetched (everything from T1 is stale at t2)
    t1_set = {
        r["url_canon"]
        for r in _results(spark, wh_dir)
        .where(F.col("fetched_ts") == F.lit(T1)).select("url_canon")
        .collect()
    }
    t2_set = {
        r["url_canon"]
        for r in _results(spark, wh_dir)
        .where(F.col("fetched_ts") == F.lit(t2)).select("url_canon")
        .collect()
    }
    assert t1_set and t2_set == t1_set
