"""The crawl-round job + checkpoint/resume (SURVEY.md §3.1, T1-T6).

One round = one DataFrame job DAG:

``frontier(queued, round=r) → [T3 expiry: stale urls leave the seen
set (tombstones) and requeue] → P2 validity
(done at enqueue) → P3 freshness vs the cached expiry candidates →
J2 urlseen bloom anti-join (exact-confirmed) → W2/T4 salted per-host
politeness top-k → J8 fetch join against pages → X1-X10 mapInPandas
extraction, out-link identity included → fan-out: results ∥ urlseen
delta ∥ frontier delta (links + deferred + retries + expired
requeues) ∥ tombstones ∥ metrics``

then one atomic manifest commit (T6).  Resume = last committed round +
1; a crashed round leaves no visible state and re-executes.

A round reads ``results`` only through the expiry scan's
manifest-pruned old shards, so its cost does not grow with the number
of stored docs, and each Python stage (extraction, the two bloom
probes, the bloom rebuild, the robots verdict) runs once per round.

Determinism (north_rule): every operator that picks among equals uses
an explicit deterministic order — link dedupe is a min-aggregation by
url_hash, politeness ranks ``(depth, -priority, url_canon)``, ids are
content-derived — so the crawl ordering and final URL-seen set are
invariant under cluster size / partition count (property-tested at
shuffle.partitions ∈ {1, 8, 32}).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schema
from .fetch import fetch_extract_write
from .politeness import politeness_ranked
from .sparkfns import url_hash_col, with_url_identity
from .storage import Warehouse
from .synth import EPOCH
from .urlseen import (
    derive_n_partitions,
    effective_exact,
    latest_blooms,
    probe_unseen,
    updated_bloom_partitions,
)


@dataclass
class CrawlConfig:
    warehouse: str
    # power of two; also the parallelism of bloom probe/rebuild stages.
    # Sized so one partition's serialized filter stays within
    # urlseen.PARTITION_BYTE_BUDGET — set ``expected_urls`` to derive
    # it instead of guessing (10^10 urls → 512 partitions at the
    # default 64 MiB budget).  Pinned in the warehouse manifest at
    # bootstrap; resumes adopt the pinned value.
    n_bloom_partitions: int = 64
    max_depth: int = 4
    round_duration_ms: int = 60_000
    salt: int = 8
    max_retries: int = 2
    fresh_days: int = 3  # reference freshness window (src/db/model.ts:45-50)
    # Bucket count of the pages corpus, bucket-clustered on url at crawl
    # start (Warehouse.bucketized_pages) so the J8 fetch join
    # co-partitions with the scan and the html side crosses zero
    # exchanges.  0: adopt the count pinned in the warehouse, else
    # spark.sql.shuffle.partitions.
    pages_buckets: int = 0
    # Recrawl expiry (T3 engine mechanism): a url whose newest stored
    # doc is older than this many days is EVICTED from the URL-seen set
    # (tombstone rows, O(evicted) — see urlseen.effective_exact) and
    # requeued for the next round, closing the fetch→stale→refetch
    # cycle the freshness predicate (fresh_days) only filters on.  The
    # bloom partitions keep the evicted urls' bits (exact-confirm
    # absorbs the false positives).  None (default) disables expiry —
    # zero added work per round.  Only content-bearing (status=ok) urls
    # expire; terminal failures (not_found/too_large) stay seen.
    expire_days: int | None = None
    # Expected total URL count for this crawl (the frontier design
    # point, e.g. 10**10).  When set, n_bloom_partitions is DERIVED
    # from it (urlseen.derive_n_partitions) so no seen-filter partition
    # can outgrow the per-partition byte budget — the rebuild kernel
    # fails loudly if one ever would.
    expected_urls: int | None = None
    now: datetime = field(default=EPOCH + timedelta(days=1))

    def __post_init__(self) -> None:
        if self.expected_urls is not None:
            self.n_bloom_partitions = derive_n_partitions(self.expected_urls)


FRONTIER_COLS = [f.name for f in schema.FRONTIER_SCHEMA.fields]


def _as_frontier(df: DataFrame, round_no: int, status: str = "queued") -> DataFrame:
    return df.select(
        "url",
        "url_canon",
        "url_hash",
        "host",
        F.col("depth").cast("int"),
        F.coalesce(F.col("priority"), F.lit(0.0)).alias("priority"),
        F.col("discovered_ts"),
        F.coalesce(F.col("retry_count"), F.lit(0)).cast("int").alias("retry_count"),
        F.lit(status).alias("status"),
        F.lit(round_no).cast("int").alias("round"),
    )


def _dedupe_frontier(df: DataFrame, round_no: int) -> DataFrame:
    """S4 in-round dedupe (the same url can be enqueued via several
    paths: retry + rediscovered link), enforced at WRITE time with
    order-free min/max merges.  The invariant — committed frontier
    deltas are unique per (round, url_hash) — lets every reader (and
    every resume re-read) take the round's queued set as a straight
    filter instead of re-shuffling already-unique rows."""
    deduped = df.groupBy("url_hash").agg(
        F.min("url").alias("url"),
        F.min("url_canon").alias("url_canon"),
        F.min("host").alias("host"),
        F.min("depth").cast("int").alias("depth"),
        F.max("priority").alias("priority"),
        F.min("discovered_ts").alias("discovered_ts"),
        F.max("retry_count").alias("retry_count"),
    )
    return _as_frontier(deduped, round_no)


def bootstrap(
    spark: SparkSession,
    cfg: CrawlConfig,
    seeds: DataFrame,
    robots: DataFrame,
) -> Warehouse:
    """Round 0: validate/canonicalize seeds → frontier eligible for
    round 1; persist robots as the hostbudget dim; commit."""
    wh = Warehouse(cfg.warehouse)
    ident = (
        with_url_identity(seeds)
        .withColumn("priority", F.lit(0.0))
        .withColumn("retry_count", F.lit(0))
    )
    frontier0 = _dedupe_frontier(ident, round_no=1)
    # independent tables: overlap the two write jobs' scheduling latency
    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [
            pool.submit(wh.write, frontier0, "frontier", 0),
            pool.submit(wh.write, robots, "hostbudget", 0),
        ]:
            fut.result()
    # manifest row counts from the staged parquet FOOTERS — a
    # .count() here would re-run the whole canonicalize+dedupe plan
    # (the seed UDF pass twice per crawl), pure fixed overhead
    # Pin the seen-filter partition count with the bootstrap commit:
    # partition ids are pmod(url_hash, P), so every later round (and
    # every resume) MUST probe/rebuild with the same P or the stored
    # filter state silently mismatches.  run_crawl adopts the pinned
    # value on resume.
    wh.commit_round(0, {"frontier": wh.row_count("frontier", 0),
                        "hostbudget": wh.row_count("hostbudget", 0)},
                    ts=cfg.now.isoformat(),
                    extra={"n_bloom_partitions": cfg.n_bloom_partitions})
    return wh


def _expiry_candidates(results_old: DataFrame, expire_cut) -> DataFrame:
    """The expensive half of expiry: newest stored doc per url_hash
    across the manifest-pruned old shards, filtered to the stale
    cutoff.  Depends ONLY on (old shard set, cutoff) — both constant
    until a results shard newly ages past the cutoff — so run_round
    caches the output in the ``expiry_cand`` table keyed by that
    signature and re-reads it instead of re-scanning the old shards
    every round."""
    return (
        results_old.select(
            "url_hash", "url", "url_canon", "host", "depth",
            "fetched_ts", "round", "id", "title",
        )
        .groupBy("url_hash")
        .agg(
            F.max_by(
                F.struct("url", "url_canon", "host", "depth",
                         "fetched_ts", "round", "title"),
                F.struct("fetched_ts", "id"),
            ).alias("s")
        )
        .select(
            "url_hash", "s.url", "s.url_canon", "s.host",
            F.col("s.depth").cast("int").alias("depth"),
            F.col("s.fetched_ts").alias("res_ts"),
            F.col("s.round").cast("int").alias("res_round"),
            "s.title",
        )
        .where(F.col("res_ts") <= F.lit(expire_cut))
    )


def _stored_docs(spark: SparkSession, wh: Warehouse) -> DataFrame | None:
    """The newest stored doc of every queued url that can have one —
    P3 freshness's only input besides the frontier — or None when no
    queued url can have a stored doc.

    A queued url has a stored doc only if expiry requeued it, or a link
    rediscovered it after its tombstone.  Either way that doc went
    through an expiry candidate scan, and no newer doc exists (a
    refetch would make the url seen and fresh again).  So the committed
    ``expiry_cand`` tables hold every doc P3 can need, and a crawl that
    never committed one (expiry never ran) skips P3 outright.

    Which tables: a scan covers every shard committed before it with
    ts <= its cutoff, so the newest scan covers every earlier scan with
    a cutoff no later than its own.  While ``now`` only moves forward
    that is all of them and P3 reads ONE table.  When a resume moved
    ``now`` backwards, earlier scans with a later cutoff are read too,
    and the newest doc per url is taken across them."""
    scans = wh.extras("expiry_scan")
    if not scans:
        return None
    newest_round, newest_sig = scans[-1]
    rounds = [newest_round] + [
        r for r, sig in scans[:-1] if sig["cutoff"] > newest_sig["cutoff"]
    ]
    docs = wh.read(spark, "expiry_cand", schema.EXPIRY_CAND_SCHEMA,
                   rounds=rounds).select("url_hash", "url_canon", "title",
                                         "res_ts", "res_round")
    if len(rounds) > 1:
        docs = docs.groupBy("url_hash", "url_canon").agg(
            F.max_by(F.struct("title", "res_ts"),
                     F.struct("res_ts", "res_round")).alias("s")
        ).select("url_hash", "url_canon", "s.title", "s.res_ts")
    return docs


def _fresh_filter(queued: DataFrame, docs: DataFrame, fresh_cut) -> DataFrame:
    """P3: drop queued urls whose newest stored doc is titled and
    fetched after ``fresh_cut`` (reference freshness window,
    src/db/model.ts:45-50)."""
    fresh = docs.where(
        F.col("title").isNotNull()
        & (F.col("title") != "")
        & (F.col("res_ts") > F.lit(fresh_cut))
    ).select("url_hash", "url_canon")
    return queued.join(fresh, ["url_hash", "url_canon"], "left_anti")


def _filter_stale(
    cand: DataFrame,
    exact: DataFrame,
    frontier: DataFrame,
    round_no: int,
) -> DataFrame:
    """The live half of expiry, re-evaluated every round against
    current state: keep candidates whose seen-set entry is still that
    same stale fetch (a url refetched since has a newer exact row —
    ``seen_round == res_round`` rules it out; an EVICTED url has no
    live exact row and drops at the inner join) and that are not
    already queued.  The exact table (the 10^10-row side) is narrowed
    to candidate hashes BEFORE its max-round aggregation: the
    candidate set is bounded by the old shards' url count, so AQE can
    broadcast it and the exact side never shuffles in full."""
    seen_latest = (
        exact.join(cand.select("url_hash"), "url_hash")
        .groupBy("url_hash")
        .agg(F.max("round").alias("seen_round"))
    )
    pending = frontier.where(
        (F.col("status") == "queued") & (F.col("round") >= round_no)
    ).select("url_hash")
    return (
        cand.join(seen_latest, "url_hash")
        .where(F.col("seen_round") == F.col("res_round"))
        .join(pending, "url_hash", "left_anti")
    )


def run_round(
    spark: SparkSession,
    wh: Warehouse,
    cfg: CrawlConfig,
    pages: DataFrame,
    round_no: int,
) -> dict[str, int] | None:
    """Execute one crawl round; returns stage metrics, or None when the
    frontier has no queued rows for this round (crawl finished)."""
    # Manifest-pruned frontier read: the delta committed at round k
    # holds ONLY rows queued for round k+1 (bootstrap's round-0 delta
    # feeds round 1; run_round's growth delta feeds round+1), so the
    # rows this round can see — queued for round_no or later — all
    # live in deltas committed at rounds >= round_no-1.  In steady
    # state that is exactly ONE delta; a long crawl therefore pays
    # O(1) file listings/footers per round, not O(crawl history).
    frontier_rounds = [
        r for r in wh.committed_rounds("frontier") if r >= round_no - 1
    ]
    frontier = wh.read(spark, "frontier", schema.FRONTIER_SCHEMA,
                       rounds=frontier_rounds)
    # Frontier deltas are deduped per (round, url_hash) AT WRITE TIME
    # (bootstrap and the delta write below share _dedupe_frontier), so
    # the round's queued set is a straight filter — no per-read (and
    # per-RESUME-re-read) shuffle re-deduping already-unique rows.
    queued = frontier.where(
        (F.col("round") == round_no) & (F.col("status") == "queued")
    )
    robots = wh.read(spark, "hostbudget", schema.HOSTBUDGET_SCHEMA)
    bloom_state = latest_blooms(
        wh.read(spark, "urlseen_bloom", schema.URLSEEN_BLOOM_SCHEMA)
    )
    exact = wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
    # Recrawl-expiry tombstones (manifest-gated: zero work until the
    # first expiry ever commits) — every exact consumer below sees the
    # LIVE seen set.
    if wh.committed_rounds("urlseen_evicted"):
        exact = effective_exact(
            exact,
            wh.read(spark, "urlseen_evicted", schema.URLSEEN_EVICTED_SCHEMA),
        )
    # P3 needs only committed scans: every queued url was enqueued by
    # an earlier round.
    stored_docs = _stored_docs(spark, wh)

    queued = queued.persist()
    metrics: dict[str, int] = {"queued": queued.count()}

    # Manifest-metadata short-circuits (no Spark jobs): round 1 of any
    # crawl has no stored results and no seen-set — skip the expiry
    # scan and the bloom probe entirely instead of cogrouping with
    # empty state.
    have_results = bool(wh.committed_rounds("results"))
    have_seen = bool(wh.committed_rounds("urlseen_exact"))

    # T3 recrawl expiry: urls whose newest stored doc has gone stale
    # leave the seen set (tombstones) and re-enter the frontier.
    # ``seen_round == res_round`` pins eligibility to urls whose LAST
    # terminal outcome was that stored doc — a url refetched after a
    # previous expiry that 404'd has a newer exact row and is never
    # re-expired, so dead urls cannot requeue-loop.  Urls already queued this round or later are
    # excluded (they are about to be fetched anyway).
    stale = None
    expiry_sig = None  # set when this round ran (and must commit) a fresh scan
    if cfg.expire_days is not None and have_results and have_seen:
        expire_cut = cfg.now - timedelta(days=cfg.expire_days)
        # Manifest pruning (100 TB shape): a results shard's logical ts
        # is its crawl's cfg.now == every row's fetched_ts, so only
        # shards with ts <= cutoff can contain expirable rows — the
        # scan is O(old shards), not O(results).  Correct even though
        # newer shards are skipped: a url refetched recently has a
        # newer exact row, so ``seen_round == res_round`` in
        # _filter_stale already rules it out without ever reading the
        # newer result.
        old_rounds = wh.rounds_at_or_before("results", expire_cut.isoformat())
        if old_rounds:
            # Scan-result cache: the candidate aggregation depends only
            # on (old shard set, cutoff).  While that signature is
            # unchanged — i.e. no shard newly aged past the cutoff —
            # re-read the cached candidates instead of re-running the
            # max-by over every old shard each round.  The LIVE checks
            # (seen-set row still the stale fetch, not already queued)
            # re-evaluate every round either way, so retry exhaustion
            # or dequeues between scans are still picked up.
            sig = {"rounds": old_rounds, "cutoff": expire_cut.isoformat()}
            cached = wh.latest_extra("expiry_scan")
            if cached is not None and cached[1] == sig:
                cand = wh.read(spark, "expiry_cand",
                               schema.EXPIRY_CAND_SCHEMA, rounds=[cached[0]])
            else:
                scan = _expiry_candidates(
                    wh.read(spark, "results", schema.RESULTS_SCHEMA,
                            rounds=old_rounds),
                    expire_cut,
                )
                # stage the scan, then aim downstream consumers at the
                # staged parquet — the aggregation runs exactly once
                wh.write(scan, "expiry_cand", round_no)
                cand = wh.read(spark, "expiry_cand",
                               schema.EXPIRY_CAND_SCHEMA, rounds=[round_no])
                expiry_sig = sig
            metrics["expiry_scanned"] = int(expiry_sig is not None)
            stale = _filter_stale(
                cand, exact, frontier, round_no,
            ).persist()  # feeds in-flight exact view, tombstones, requeue
            metrics["expired"] = stale.count()
            if metrics["expired"] == 0:
                stale.unpersist()
                stale = None

    if metrics["queued"] == 0 and stale is None:
        queued.unpersist()
        return None

    if stale is not None:
        # In-flight view: this round's probes and rebuild sources must
        # not see the urls being evicted (their tombstones commit with
        # this round).  The evicted urls' filter bits stay set; the
        # exact anti-join on this view absorbs them.
        exact = exact.join(stale.select("url_hash"), "url_hash", "left_anti")

    def probe(df: DataFrame) -> DataFrame:
        if not have_seen:
            return df
        return probe_unseen(df, bloom_state, exact, cfg.n_bloom_partitions)

    # P3 freshness: skip urls whose latest stored doc is titled & fresh
    cand = queued
    if stored_docs is not None:
        cand = _fresh_filter(
            queued, stored_docs, cfg.now - timedelta(days=cfg.fresh_days)
        )

    # J2 URL-seen anti-join (bloom + exact confirm).  Persisted: the
    # politeness split references it for both selected and deferred.
    new_cand = probe(cand).persist()

    # W2/T4 politeness.  The RANKED frame is what gets persisted:
    # selected and deferred are both cheap filters over it, so the
    # robots verdict UDF (broadcast dim join + Arrow matcher — the most
    # expensive narrow stage) materializes exactly once per round
    # instead of once per branch.
    ranked = politeness_ranked(
        new_cand, robots, cfg.round_duration_ms, cfg.salt
    ).persist()
    selected = ranked.where(F.col("is_selected")).drop("is_selected")
    deferred = ranked.where(~F.col("is_selected")).drop(
        "is_selected", "host_rank"
    )

    # J8 + X1-X10 fetch & extract.  The wide results (CBOR content,
    # region html, text) are written to the round's results shard
    # directly inside the extraction tasks (fetch.fetch_extract_write)
    # — one pass for the multi-GB columns; only the narrow link/status
    # frame comes back through Arrow and is persisted for the
    # downstream joins.
    extracted = fetch_extract_write(
        selected, pages, wh.staging_sink("results", round_no),
        round_no, cfg.now,
    ).persist()

    # Terminal outcomes (ok / not_found / too_large) enter the seen set;
    # fetch failures do NOT (S5: lock released so retries can happen).
    terminal = extracted.where(F.col("status") != "fetch_failed")
    new_seen = (
        terminal.select("url_hash", "url_canon")
        .withColumn("round", F.lit(round_no).cast("int"))
        .persist()  # feeds bloom rebuild, link anti-join, write, count
    )
    bloom_delta = updated_bloom_partitions(
        new_seen, bloom_state, exact, cfg.n_bloom_partitions, round_no,
    )

    # Frontier growth: out-links of ok pages, deduped deterministically,
    # minus (seen ∪ just-fetched ∪ still-queued deferred/retries).  The
    # extraction task already validated and canonicalized every link;
    # only the hash is added here, JVM-side.
    links = (
        extracted.where(
            (F.col("status") == "ok") & (F.col("depth") + 1 <= cfg.max_depth)
        )
        .select(F.inline("links"),
                (F.col("depth") + 1).cast("int").alias("depth"))
        .withColumn("url_hash", url_hash_col("url_canon"))
    )
    link_cand = (
        links.groupBy("url_canon", "url_hash", "host")
        .agg(F.min("url").alias("url"), F.min("depth").alias("depth"))
        .withColumn("priority", F.lit(0.0))
        .withColumn("retry_count", F.lit(0))
        .withColumn("discovered_ts", F.lit(cfg.now))
    )
    links_unseen = (
        probe(link_cand)
        .join(new_seen.select("url_hash"), "url_hash", "left_anti")
        .join(deferred.select("url_hash"), "url_hash", "left_anti")
    )

    retries = (
        selected.select(
            "url", "url_canon", "url_hash", "host", "depth", "priority",
            "discovered_ts", "retry_count",
        )
        .join(
            extracted.where(F.col("status") == "fetch_failed").select("url_hash"),
            "url_hash",
        )
        .withColumn("retry_count", (F.col("retry_count") + 1).cast("int"))
        .where(F.col("retry_count") <= cfg.max_retries)
    )

    deferred_next = deferred.select(
        "url", "url_canon", "url_hash", "host", "depth", "priority",
        "discovered_ts", "retry_count",
    )
    growth = (
        _as_frontier(links_unseen, round_no + 1)
        .unionByName(_as_frontier(deferred_next, round_no + 1))
        .unionByName(_as_frontier(retries, round_no + 1))
    )
    if stale is not None:
        # Expired urls re-enter the frontier at their stored depth
        # (recrawl, not rediscovery).  A stale url also rediscovered via
        # links this round merges in _dedupe_frontier (min-depth wins).
        requeue = (
            stale.select("url", "url_canon", "url_hash", "host", "depth")
            .withColumn("priority", F.lit(0.0))
            .withColumn("retry_count", F.lit(0))
            .withColumn("discovered_ts", F.lit(cfg.now))
        )
        growth = growth.unionByName(_as_frontier(requeue, round_no + 1))
    frontier_delta = _dedupe_frontier(growth, round_no + 1)

    # -- persist + atomic commit (T6) ------------------------------------
    # The per-partition lineage collect (north_rule "resumable ... with
    # per-partition lineage + metrics": one row per physical partition
    # of the fetch+extract output, so an operator can localize
    # data-quality or straggler issues) is the action that materializes
    # the narrow frame, running extraction AND the in-task wide
    # results-shard writes in one pass.  Its ok-row sum is the round's
    # results count.
    part_rows = extracted.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(
        F.count("*").alias("rows_in"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("rows_out"),
    ).collect()
    metrics["results"] = sum(int(r["rows_out"]) for r in part_rows)
    # The state writes are independent (distinct tables, all reading
    # only persisted frames), so submit them from worker threads: Spark
    # schedules concurrently-submitted jobs in parallel, overlapping
    # each job's fixed scheduling latency and letting small final-stage
    # tails share the cluster instead of serializing.  The selected
    # count (a filter over the persisted politeness frame) rides along
    # in the same window.  Any failure re-raises here — before
    # commit_round — so a partial write is never published.
    with ThreadPoolExecutor(max_workers=5) as pool:
        write_futs = [
            pool.submit(wh.write, new_seen, "urlseen_exact", round_no),
            pool.submit(wh.write, bloom_delta, "urlseen_bloom", round_no),
            pool.submit(wh.write, frontier_delta, "frontier", round_no),
        ]
        if stale is not None:
            tomb_delta = stale.select("url_hash").withColumn(
                "round", F.lit(round_no).cast("int")
            )
            write_futs.append(
                pool.submit(wh.write, tomb_delta, "urlseen_evicted", round_no)
            )
        selected_fut = pool.submit(selected.count)
        for fut in write_futs:
            fut.result()
        metrics["selected"] = selected_fut.result()

    # Post-write row counts come from the staged parquet FOOTERS (no
    # Spark job): three fewer scheduling round-trips of per-round fixed
    # overhead vs recounting the frames.
    metrics["new_seen"] = wh.row_count("urlseen_exact", round_no)
    metrics["frontier_delta"] = wh.row_count("frontier", round_no)
    all_rows = [
        (round_no, None, stage, None, int(v), None)
        for stage, v in metrics.items()
    ] + [
        (round_no, int(r["partition_id"]), "extract_partition",
         int(r["rows_in"]), int(r["rows_out"]), None)
        for r in part_rows
    ]
    wh.write(spark.createDataFrame(all_rows, schema.METRICS_SCHEMA),
             "metrics", round_no)
    # true table row count (stage rows + per-partition lineage rows)
    metrics_rows = wh.row_count("metrics", round_no)
    # Commit keys are TABLE names (the manifest is what readers prune on).
    commit_tables = {
        "results": metrics["results"],
        "urlseen_exact": metrics["new_seen"],
        "urlseen_bloom": metrics["new_seen"],
        "frontier": metrics["frontier_delta"],
        "metrics": metrics_rows,
    }
    if stale is not None:
        commit_tables["urlseen_evicted"] = metrics["expired"]
    extra = None
    if expiry_sig is not None:
        # Publish the expiry candidate scan WITH its validity signature
        # (atomically, same manifest write): later rounds skip the
        # old-shard re-scan while the signature still matches.
        commit_tables["expiry_cand"] = wh.row_count("expiry_cand", round_no)
        extra = {"expiry_scan": expiry_sig}
    wh.commit_round(round_no, commit_tables, ts=cfg.now.isoformat(),
                    extra=extra)
    for df in (queued, new_cand, ranked, extracted, new_seen):
        df.unpersist()
    if stale is not None:
        stale.unpersist()
    return metrics


def run_crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    pages: DataFrame,
    seeds: DataFrame | None = None,
    robots: DataFrame | None = None,
    max_rounds: int = 10,
) -> list[dict[str, int]]:
    """Drive a crawl to completion (or max_rounds), resuming from the
    last committed round if the warehouse already has state."""
    wh = Warehouse(cfg.warehouse)
    last = wh.last_committed_round()
    if last is None:
        if seeds is None or robots is None:
            raise ValueError("fresh crawl needs seeds and robots")
        wh = bootstrap(spark, cfg, seeds, robots)
        last = 0
    else:
        # Resume: the stored filter layout is authoritative — adopt the
        # partition count pinned at bootstrap (a config drift here would
        # silently probe the wrong partitions).  Every bootstrap pins
        # it, so a warehouse without one was not written by run_crawl.
        pinned = wh.latest_extra("n_bloom_partitions")
        if pinned is None:
            raise ValueError(
                f"warehouse {cfg.warehouse} has committed rounds but no "
                "pinned n_bloom_partitions; it cannot be resumed"
            )
        cfg.n_bloom_partitions = int(pinned[1])
    if not cfg.pages_buckets:
        # The on-disk bucket layout is authoritative, like the
        # seen-filter partition count: a resume adopts the pinned
        # spec.  A fresh crawl takes the shuffle partition count, the
        # width the narrow side's exchange would have had anyway.
        cfg.pages_buckets = wh.pages_bucket_count() or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    # One-time (idempotent, resume-safe) bucket-clustered ingest; every
    # round's fetch join then co-partitions with the scan.
    pages = wh.bucketized_pages(pages, cfg.pages_buckets)
    all_metrics: list[dict[str, int]] = []
    for round_no in range(last + 1, last + 1 + max_rounds):
        m = run_round(spark, wh, cfg, pages, round_no)
        if m is None:
            break
        all_metrics.append(m)
        # Manifest-metadata short-circuit: every round-(r+1) frontier row
        # is part of round r's delta (bootstrap feeds round 1, deltas
        # feed round+1 only), so an empty delta means the next round has
        # no queued work — stop without scheduling its read+count jobs.
        if m["frontier_delta"] == 0:
            break
    return all_metrics
