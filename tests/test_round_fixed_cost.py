"""Per-round fixed cost: each Python stage runs once, and a round reads
``results`` only through the expiry scan's manifest-pruned old shards.

* P3 freshness reads the committed ``expiry_cand`` tables, not the whole
  results table; a crawl where P3 filters (``expire_days <
  fresh_days``) must equal the same crawl with the old full-results P3.
* The frontier delta's plan holds no ``ArrowEvalPython``: link identity
  is resolved inside the extraction task.
* ``probe_unseen`` plans its bloom cogroup once.
* ``with_url_identity`` runs one Arrow round-trip.
"""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from crawlkit import rounds, schema
from crawlkit.rounds import CrawlConfig, run_crawl
from crawlkit.storage import Warehouse
from crawlkit.synth import EPOCH

from conftest import CRAWL_KW, copy_warehouse
from test_bucketed_fetch import _kind, _plan_nodes

T0 = EPOCH + timedelta(days=1)  # the session crawl's now
# Resumed 2 days later with a 1-day expiry and the 3-day freshness
# window: every T0 doc expires and is requeued, and in the next round
# P3 finds it titled and still fresh, so it is not refetched.
EXPIRE_DAYS, FRESH_DAYS, ADVANCE = 1, 3, timedelta(days=2)


def _cfg(wh_dir: str) -> CrawlConfig:
    return CrawlConfig(warehouse=wh_dir, **CRAWL_KW, now=T0 + ADVANCE,
                       expire_days=EXPIRE_DAYS, fresh_days=FRESH_DAYS)


def _full_results_docs(spark, wh):
    """P3's input before the candidate-table change: the newest doc
    per url over EVERY committed results shard."""
    if not wh.committed_rounds("results"):
        return None
    return (
        wh.read(spark, "results", schema.RESULTS_SCHEMA)
        .groupBy("url_canon")
        .agg(F.max_by(F.struct("url_hash", "title", "fetched_ts"),
                      F.struct("fetched_ts", "id")).alias("s"))
        .select("s.url_hash", "url_canon", "s.title",
                F.col("s.fetched_ts").alias("res_ts"))
    )


def _state(spark, wh_dir: str) -> dict:
    wh = Warehouse(wh_dir)

    def rows(table, sch, cols):
        return sorted(tuple(r) for r in
                      wh.read(spark, table, sch).select(*cols).collect())

    return {
        "results": rows("results", schema.RESULTS_SCHEMA,
                        ["url_canon", "round", "fetched_ts", "text"]),
        "exact": rows("urlseen_exact", schema.URLSEEN_EXACT_SCHEMA,
                      ["url_hash", "url_canon", "round"]),
        "evicted": rows("urlseen_evicted", schema.URLSEEN_EVICTED_SCHEMA,
                        ["url_hash", "round"]),
        "frontier": rows("frontier", schema.FRONTIER_SCHEMA,
                         ["round", "url_canon", "depth", "retry_count"]),
    }


@pytest.fixture(scope="module")
def p3_crawls(spark, pages, ref_crawl, tmp_path_factory):
    """The same resumed expiry crawl twice on copies of the session
    warehouse: with the engine's P3, recording every ``results`` read
    and the plan node kinds of every frontier delta, and with the old
    full-results P3."""
    new_dir = copy_warehouse(ref_crawl[2], tmp_path_factory, "wh-p3-new")
    old_dir = copy_warehouse(ref_crawl[2], tmp_path_factory, "wh-p3-old")
    reads: list[tuple[list[int] | None, list[int]]] = []
    delta_plans: list[list[str]] = []
    orig_read, orig_write = Warehouse.read, Warehouse.write
    orig_docs = rounds._stored_docs
    cutoff = (T0 + ADVANCE - timedelta(days=EXPIRE_DAYS)).isoformat()

    def spy_read(self, spark_, table, schema_, rounds=None):
        if table == "results":
            reads.append((rounds, self.rounds_at_or_before("results", cutoff)))
        return orig_read(self, spark_, table, schema_, rounds=rounds)

    def spy_write(self, df, table, round_no):
        if table == "frontier":
            root = df._jdf.queryExecution().executedPlan()
            if _kind(root) == "AdaptiveSparkPlanExec":
                root = root.executedPlan()
            delta_plans.append([_kind(n) for n in _plan_nodes(root)])
        return orig_write(self, df, table, round_no)

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(Warehouse, "read", spy_read)
        mp.setattr(Warehouse, "write", spy_write)
        new = run_crawl(spark, _cfg(new_dir), pages, max_rounds=6)
        mp.undo()
        mp.setattr(rounds, "_stored_docs", _full_results_docs)
        old = run_crawl(spark, _cfg(old_dir), pages, max_rounds=6)
    finally:
        mp.undo()
    assert rounds._stored_docs is orig_docs
    return {"new": (new, new_dir), "old": (old, old_dir), "reads": reads,
            "delta_plans": delta_plans}


def test_p3_on_expiry_candidates_equals_full_results_p3(spark, p3_crawls):
    new, new_dir = p3_crawls["new"]
    old, old_dir = p3_crawls["old"]
    # P3 really filtered: the round after the expiry round queued every
    # requeued doc but selected fewer than it queued
    assert new[0]["expired"] > 0
    assert new[1]["queued"] == new[0]["expired"]
    assert new[1]["selected"] < new[1]["queued"]
    assert new == old
    assert _state(spark, new_dir) == _state(spark, old_dir)


def test_round_reads_only_pruned_old_results_shards(p3_crawls):
    """The expiry scan is the only ``results`` read of a round, with an
    explicit round list inside the manifest-pruned old-shard set; it
    runs once, and later rounds reuse the cached candidates."""
    reads = p3_crawls["reads"]
    assert len(reads) == 1, reads
    for read_rounds, pruned in reads:
        assert read_rounds and set(read_rounds) <= set(pruned)


def test_frontier_delta_plan_has_no_arrow_eval_python(p3_crawls):
    """Link identity runs inside the extraction task: no frontier
    delta's plan evaluates a scalar pandas UDF (cached inputs, such as
    the politeness frame with its robots verdict, are plan leaves —
    they ran earlier in the round)."""
    plans = p3_crawls["delta_plans"]
    assert len(plans) == len(p3_crawls["new"][0])
    for kinds in plans:
        assert "FlatMapCoGroupsInPandasExec" in kinds  # the link probe
        assert not [k for k in kinds if "ArrowEvalPython" in k], kinds


def test_p3_takes_newest_doc_across_scans_when_now_moved_back(
        spark, tmp_warehouse):
    """A resume whose ``now`` moved backwards commits a scan with an
    earlier cutoff than an older scan: P3 then also reads the older
    scan and keeps the newest doc per url across both."""
    wh = Warehouse(tmp_warehouse)
    t = EPOCH + timedelta(days=10)

    def scan(round_no, cutoff, docs):
        wh.write(spark.createDataFrame(
            [(h, f"https://a.example/{h}", f"https://a.example/{h}",
              "a.example", 0, ts, r, title) for h, ts, r, title in docs],
            schema.EXPIRY_CAND_SCHEMA), "expiry_cand", round_no)
        wh.commit_round(round_no, {"expiry_cand": len(docs)},
                        extra={"expiry_scan": {"rounds": [1],
                                               "cutoff": cutoff.isoformat()}})

    # url 1's newest doc is only in the older scan with the later cutoff
    scan(2, t, [(1, t - timedelta(days=1), 1, "new"),
                (2, t - timedelta(days=3), 1, "two")])
    scan(3, t - timedelta(days=2), [(1, t - timedelta(days=5), 0, "old"),
                                    (3, t - timedelta(days=4), 0, "three")])
    docs = {r["url_hash"]: r["title"]
            for r in rounds._stored_docs(spark, wh).collect()}
    assert docs == {1: "new", 2: "two", 3: "three"}
    # forward time: the newest scan alone
    scan(4, t + timedelta(days=1), [(1, t - timedelta(days=1), 1, "new")])
    docs = rounds._stored_docs(spark, wh).collect()
    assert [(r["url_hash"], r["title"]) for r in docs] == [(1, "new")]


def test_p3_skipped_without_committed_expiry_scan(tmp_warehouse, spark):
    assert rounds._stored_docs(spark, Warehouse(tmp_warehouse)) is None


def test_probe_unseen_plans_one_cogroup(spark):
    from crawlkit.urlseen import probe_unseen, updated_bloom_partitions

    seen = spark.createDataFrame(
        [(h * 7919, f"u{h}", 1) for h in range(200)],
        schema.URLSEEN_EXACT_SCHEMA)
    empty = spark.createDataFrame([], schema.URLSEEN_BLOOM_SCHEMA)
    state = updated_bloom_partitions(seen, empty, seen.limit(0), 4,
                                     round_no=1).persist()
    cand = spark.createDataFrame(
        [(h * 7919, f"u{h}") for h in range(150, 260)],
        "url_hash long, url_canon string")
    unseen = probe_unseen(cand, state, seen, 4)
    kinds = [_kind(n) for n in
             _plan_nodes(unseen._jdf.queryExecution().sparkPlan())]
    assert kinds.count("FlatMapCoGroupsInPandasExec") == 1, kinds
    assert sorted(r["url_hash"] for r in unseen.collect()) == [
        h * 7919 for h in range(200, 260)]
    assert unseen.columns == ["url_hash", "url_canon"]
    state.unpersist()


def test_url_identity_is_one_arrow_round_trip(spark):
    from crawlkit.sparkfns import with_url_identity

    df = spark.createDataFrame(
        [("https://A.example:443/x?utm_s=1&b=2&a=1",), ("http://no.tls/",),
         ("not a url",), ("https://b.example",)], "url string")
    ident = with_url_identity(df)
    kinds = [_kind(n) for n in
             _plan_nodes(ident._jdf.queryExecution().sparkPlan())]
    assert sum("ArrowEvalPython" in k for k in kinds) == 1, kinds
    got = sorted(tuple(r) for r in ident.select(
        "url", "url_canon", "host",
        (F.col("url_hash") == F.xxhash64("url_canon")).alias("hash_ok"),
    ).collect())
    assert got == [
        ("https://A.example:443/x?utm_s=1&b=2&a=1",
         "https://a.example/x?a=1&b=2", "a.example", True),
        ("https://b.example", "https://b.example/", "b.example", True),
    ]
