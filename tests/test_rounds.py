"""End-to-end crawl-round tests (SURVEY.md §5 step 3).

Asserts the north_rule invariants on a deterministic synthetic corpus:
(a) byte-identical extracted text per url vs the pinned kernel,
(b) crawl ordering equals the single-threaded oracle simulator,
(c) final URL-seen set equality,
(d) checkpoint resume reproduces the same outputs,
(e) invariance under shuffle-partition count (cluster-size analog).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlkit import schema
from crawlkit.rounds import CrawlConfig, run_crawl, run_round
from crawlkit.storage import Warehouse
from crawlkit.synth import robots_df, seeds_df

from oracle_sim import simulate_crawl

from conftest import CRAWL_KW, TERMINAL_ROUNDS

MAX_ROUNDS = TERMINAL_ROUNDS
MAX_DEPTH = CRAWL_KW["max_depth"]


def _crawl(spark, pages, synth_cfg, wh_dir, max_rounds=MAX_ROUNDS):
    cfg = CrawlConfig(warehouse=wh_dir, **CRAWL_KW)
    metrics = run_crawl(
        spark, cfg, pages,
        seeds_df(spark, synth_cfg), robots_df(spark, synth_cfg),
        max_rounds=max_rounds,
    )
    return cfg, metrics


def _fetch_order(spark, wh_dir):
    """Engine crawl order: (round, host, host_rank, url_canon) of all
    terminal fetches, from the results + seen tables."""
    wh = Warehouse(wh_dir)
    seen = wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
    return {
        (r["round"], r["url_canon"])
        for r in seen.select("round", "url_canon").collect()
    }


@pytest.fixture(scope="module")
def crawl_run(ref_crawl):
    return ref_crawl  # session-scoped terminated crawl (read-only here)


@pytest.fixture(scope="module")
def sim(synth_cfg):
    return simulate_crawl(synth_cfg, max_rounds=MAX_ROUNDS, max_depth=MAX_DEPTH)


def test_text_parity_byte_identical(spark, pages, crawl_run):
    _, _, wh_dir = crawl_run
    wh = Warehouse(wh_dir)
    res = wh.read(spark, "results", schema.RESULTS_SCHEMA)
    joined = res.select("url_canon", "text").join(
        pages.selectExpr("url as url_canon", "text as golden"), "url_canon"
    )
    total = joined.count()
    assert total > 50
    assert joined.where(F.col("text") != F.col("golden")).count() == 0
    # every result url must exist in pages (fetch = table join)
    assert res.count() == total


def test_urlseen_matches_oracle(spark, crawl_run, sim):
    _, _, wh_dir = crawl_run
    wh = Warehouse(wh_dir)
    seen = {
        r["url_canon"]
        for r in wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
        .select("url_canon")
        .collect()
    }
    assert seen == sim.seen


def test_crawl_ordering_matches_oracle(spark, crawl_run, sim):
    """Per-round fetched sets + per-host ranks equal the sequential
    oracle (the engine's politeness rank is its crawl order)."""
    _, metrics, wh_dir = crawl_run
    wh = Warehouse(wh_dir)
    seen = wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
    engine_rounds: dict[int, set[str]] = {}
    for row in seen.collect():
        engine_rounds.setdefault(row["round"], set()).add(row["url_canon"])
    # oracle round r fetched set, restricted to terminal (page existed)
    for r, selected in enumerate(sim.rounds, start=1):
        oracle_terminal = {
            cu for (_h, _rank, cu) in selected if cu in sim.seen
        } & {cu for cu in sim.seen}
        # restrict to urls first seen in round r in oracle
        prev = set()
        for rr in range(1, r):
            prev |= engine_rounds.get(rr, set())
        oracle_r = {
            cu
            for (_h, _rank, cu) in selected
            if cu in sim.seen and cu not in prev
        }
        assert engine_rounds.get(r, set()) == oracle_r, f"round {r} mismatch"


def test_results_match_oracle_titles(spark, crawl_run, sim):
    _, _, wh_dir = crawl_run
    wh = Warehouse(wh_dir)
    res = wh.read(spark, "results", schema.RESULTS_SCHEMA)
    engine = {
        r["url_canon"]: (r["title"], r["text"])
        for r in res.select("url_canon", "title", "text").collect()
    }
    assert set(engine) == set(sim.results)
    for cu, (title, text) in engine.items():
        assert sim.results[cu]["title"] == title
        assert sim.results[cu]["text"] == text  # byte-identical


def test_resume_from_checkpoint(spark, pages, synth_cfg, tmp_warehouse,
                                ref_crawl):
    """Run 2 rounds, 'crash', resume → identical final state to an
    uninterrupted run (T6)."""
    cfg = CrawlConfig(warehouse=tmp_warehouse, **CRAWL_KW)
    run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
              robots_df(spark, synth_cfg), max_rounds=2)
    wh = Warehouse(tmp_warehouse)
    assert wh.last_committed_round() == 2
    # resume (no seeds needed — state is in the warehouse)
    run_crawl(spark, cfg, pages, max_rounds=MAX_ROUNDS - 2)
    resumed = _fetch_order(spark, tmp_warehouse)
    # identical to the uninterrupted session reference run
    assert resumed == _fetch_order(spark, ref_crawl[2])


def test_uncommitted_round_is_invisible(spark, pages, synth_cfg, tmp_warehouse):
    """A round written but not committed must not be readable (atomic
    snapshot semantics)."""
    cfg = CrawlConfig(warehouse=tmp_warehouse, max_depth=MAX_DEPTH, salt=4)
    run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
              robots_df(spark, synth_cfg), max_rounds=1)
    wh = Warehouse(tmp_warehouse)
    before = wh.read(spark, "results", schema.RESULTS_SCHEMA).count()
    # stage round 2 data without committing
    df = wh.read(spark, "results", schema.RESULTS_SCHEMA).limit(1)
    wh.write(df, "results", 99)
    after = wh.read(spark, "results", schema.RESULTS_SCHEMA).count()
    assert after == before


def test_crash_resume_wipes_orphan_shards(spark, pages, synth_cfg,
                                          tmp_warehouse):
    """A crashed round's staging dir may hold result shards from task
    layouts that no longer exist; re-execution must start from an
    EMPTY staging dir or commit_round would publish stale rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = CrawlConfig(warehouse=tmp_warehouse, max_depth=MAX_DEPTH, salt=4)
    run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
              robots_df(spark, synth_cfg), max_rounds=1)
    wh = Warehouse(tmp_warehouse)
    committed = wh.row_count("results", 1)

    # simulate the crashed attempt: an orphan shard with a partition id
    # the re-run's layout will never produce
    round2_dir = wh.round_path("results", 2)
    round2_dir.mkdir(parents=True, exist_ok=True)
    from pyspark.sql.pandas.types import to_arrow_schema

    orphan = pa.Table.from_pylist(
        [{"id": b"\x00" * 12, "url": "https://orphan.example/x",
          "url_canon": "https://orphan.example/x", "url_hash": 1,
          "host": "orphan.example", "src": "https://orphan.example/x",
          "title": "ORPHAN", "meta": [], "content": b"", "html": "",
          "page_len": 0, "text": "", "lang": "en", "status": "ok",
          "depth": 0, "fetched_ts": cfg.now, "round": 2}],
        schema=to_arrow_schema(schema.RESULTS_SCHEMA),
    )
    pq.write_table(orphan, round2_dir / "part-99999.parquet")

    run_crawl(spark, cfg, pages, max_rounds=1)  # resume executes round 2
    res = wh.read(spark, "results", schema.RESULTS_SCHEMA)
    assert res.where(res.title == "ORPHAN").count() == 0
    assert wh.row_count("results", 1) == committed  # round 1 untouched


def test_results_shards_carry_results_schema(ref_crawl):
    """Every committed results shard is written in-task by pyarrow, not
    by Spark, so its schema is checked here: exactly RESULTS_SCHEMA's
    column names, types and nullability, in order."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    wh = Warehouse(ref_crawl[2])
    shards = [
        f for r in wh.committed_rounds("results")
        for f in wh.round_path("results", r).glob("*.parquet")
    ]
    assert shards
    want = [(f.name, f.dataType, f.nullable)
            for f in schema.RESULTS_SCHEMA.fields]
    for f in shards:
        got = [(fld.name, from_arrow_type(fld.type), fld.nullable)
               for fld in pq.read_schema(f)]
        assert got == want


def test_partition_count_invariance(spark, pages, synth_cfg, tmp_path_factory):
    """north_rule cluster-size invariant: same ordering & seen set at
    shuffle.partitions ∈ {1, 8, 32}."""
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    orders = []
    try:
        for p in (1, 8, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(p))
            d = str(tmp_path_factory.mktemp(f"wh-p{p}"))
            _crawl(spark, pages, synth_cfg, d, max_rounds=2)
            orders.append(_fetch_order(spark, d))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert orders[0] == orders[1] == orders[2]


def test_crawl_round_smoke_multiround_and_shuffle_stable(spark):
    """VERDICT r3 item 6: the driver-visible smoke query runs 3 rounds
    with a mid-crawl resume; its row set must cover multiple rounds and
    be invariant under shuffle-partition count."""
    from crawlkit.queries import REGISTRY

    fn, _ = REGISTRY["crawl_round_smoke"]
    snapshots = []
    for n in ("4", "13"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            df = fn(spark, None)
            rows = df.collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        snapshots.append(sorted((r["url"], r["status"], r["round"])
                                for r in rows))
    assert snapshots[0] == snapshots[1]
    assert len(snapshots[0]) > 0
    rounds = {r[2] for r in snapshots[0]}
    assert len(rounds) >= 2, rounds  # the resume actually crawled on


def test_frontier_read_is_pruned_to_one_delta(spark, pages, synth_cfg,
                                              tmp_warehouse, monkeypatch):
    """VERDICT r4 item 2: the per-round frontier read must be O(1) in
    crawl length — queued rows for round r live only in the round-(r-1)
    delta (write-time invariant), so a long crawl reads ONE delta per
    round, not every committed delta."""
    from crawlkit import storage
    from crawlkit.synth import seeds_df as _seeds

    frontier_reads: list[tuple[int, ...]] = []
    orig_read = storage.Warehouse.read

    def spy_read(self, spark_, table, schema_, rounds=None):
        if table == "frontier":
            assert rounds is not None, "frontier read must be pruned"
            frontier_reads.append(tuple(rounds))
        return orig_read(self, spark_, table, schema_, rounds=rounds)

    monkeypatch.setattr(storage.Warehouse, "read", spy_read)
    cfg = CrawlConfig(warehouse=tmp_warehouse, **CRAWL_KW)
    mets = run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
                     robots_df(spark, synth_cfg), max_rounds=MAX_ROUNDS)
    assert len(mets) >= 3, "corpus should sustain a multi-round crawl"
    # in-round reads: round r touches exactly the round-(r-1) delta,
    # regardless of how many deltas the crawl has committed by then
    engine_reads = [r for r in frontier_reads if len(r) <= 2]
    assert engine_reads, frontier_reads
    for i, rounds in enumerate(engine_reads):
        assert rounds == (i,), (i, frontier_reads)
