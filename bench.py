"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Every query is forced end-to-end with the noop sink (so projections and
UDF stages actually execute, not just a count-star shortcut).  The
crawl benchmark runs full rounds (frontier → politeness → fetch-join →
extraction → state commit) over the deterministic synthetic corpus and
reports pages/s — the north-star metric's sandbox-scale proxy.

Env:
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  BENCH_QUERY_REPS     analytics reps per query (default 3; best rep
                       reported, every rep carries its own /proc/stat
                       steal%% window — same self-adjudication
                       protocol as the crawl leg)
  BENCH_CRAWL_PAGES    synthetic crawl corpus size (default 60000 —
                       the BASELINE.md scaling-matrix corpus, so the
                       per-round crawl number is apples-to-apples)
  BENCH_CRAWL_REPS     crawl reps (default 3; best rep reported, every
                       rep carries its own /proc/stat steal%% window)
  BENCH_SKIP_CRAWL     set to skip the crawl benchmark
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "agg_pricing_summary",   # scan + partial/final agg
    "j8_copartition_join",   # fact-fact sort-merge join
    "j3_broadcast_dim",      # broadcast dim join
    "w2_topk_per_group",     # window top-k
    "a1_latest_per_user",    # max-by agg
    "text_quality",          # array/lambda text kit
    "text_fingerprint_dups", # hash fingerprint + group
    "dedup_minhash_lsh",     # signature + banding + verify join
    "dedup_simhash",         # bit-majority signatures
    "ann_topk_cosine",       # brute-force ANN
    "ann_lsh_buckets",       # hyperplane LSH bucketing
    "multimodal_features",   # Arrow mapInPandas header codec
]


def force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, sampled around each timed
    window.  This sandbox is a shared VM: steal is ~0 when idle but has
    been observed >35% under load, which swings identical runs up to
    ~3x.  Carrying the per-window steal in the artifact makes every
    number self-adjudicating — a slow rep at high steal is weather, a
    slow rep at ~0 steal is a regression."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:  # non-Linux fallback: no context, not a crash
        return 0, 1


class _StealWindow:
    """Context manager: .pct is the steal%% across the with-block."""

    def __enter__(self):
        self._s0, self._t0 = _cpu_ticks()
        return self

    def __exit__(self, *exc):
        s1, t1 = _cpu_ticks()
        self.pct = round(100.0 * (s1 - self._s0) / max(t1 - self._t0, 1), 1)
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from crawlkit.queries import REGISTRY
    from crawlkit.session import get_spark

    spark = get_spark(
        "crawlkit-bench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        # Pin default.parallelism: spread() and the synth generator size
        # stages off it, and an env-driven drift (e.g. 32 → 64) makes
        # round-over-round artifacts non-comparable at the same sf.
        extra_conf={"spark.default.parallelism": str(cpus)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footer cache
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # Analytics leg: best-of-N per QUERY, each rep inside its own steal
    # window — round-over-round artifacts self-adjudicate weather vs
    # regression per query, exactly like the crawl leg (VERDICT r4
    # item 1: a single-shot number can't separate co-tenant weather
    # from real creep).
    qreps = max(int(os.environ.get("BENCH_QUERY_REPS", "3")), 1)
    timings: dict[str, float] = {}
    query_reps: dict[str, dict] = {}
    with _StealWindow() as qwin:
        for name in HEADLINE:
            fn, _sql = REGISTRY[name]
            secs: list[float] = []
            steals: list[float] = []
            for _ in range(qreps):
                with _StealWindow() as w:
                    t0 = time.perf_counter()
                    force(fn(spark, sf_dir))
                    secs.append(round(time.perf_counter() - t0, 3))
                steals.append(w.pct)
            best_i = min(range(qreps), key=lambda i: secs[i])
            timings[name] = secs[best_i]
            query_reps[name] = {
                "rep_seconds": secs,
                "rep_steal_pct": steals,
                "best_steal_pct": steals[best_i],
            }

    crawl_stats = {}
    if not os.environ.get("BENCH_SKIP_CRAWL"):
        from pyspark.sql import functions as F

        from crawlkit.rounds import CrawlConfig, run_crawl
        from crawlkit.synth import SynthConfig, robots_df, seeds_df, synth_pages

        from crawlkit.storage import Warehouse

        # North-metric probe: ONE saturated round over realistically
        # heavy pages (~24 KB html, ~12 ms extraction) — the steady-
        # state pipeline cost, not frontier ramp-up.  Corpus generation
        # is outside the timed window.
        n_pages = int(os.environ.get("BENCH_CRAWL_PAGES", "60000"))
        scfg = SynthConfig(n_pages=n_pages, n_hosts=100, n_seeds=10,
                           fanout=4, body_paras=(150, 250))
        corpus_dir = tempfile.mkdtemp(prefix="crawlkit-bench-corpus-")
        synth_pages(spark, scfg).write.mode("overwrite").parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)  # realistic scan path
        seeds = pages.select("url", F.lit(0).alias("depth"),
                             F.col("warc_ts").alias("discovered_ts"))
        robots = robots_df(spark, scfg).withColumn(
            "crawl_delay_ms", F.lit(0).cast("long"))

        # The one-time bucketize ingest happens OUTSIDE the timed reps
        # (at the design point the corpus is bucketed at write time)
        # and is reported separately: it fills a skeleton warehouse
        # that every rep copies, and the rep's crawl adopts its pinned
        # bucket count.  The count is the engine's default
        # (``pages_buckets=0``: spark.sql.shuffle.partitions): every
        # stage after the fetch join runs one task per bucket, so many
        # more buckets than shuffle partitions add a fixed per-task
        # cost to each of them.
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        skeleton = corpus_dir + "-wh"
        t_b = time.perf_counter()
        Warehouse(skeleton).bucketized_pages(pages, buckets).count()
        ingest_s = round(time.perf_counter() - t_b, 2)

        def crawl_rep() -> tuple[float, int, float]:
            wh = tempfile.mkdtemp(prefix="crawlkit-bench-wh-")
            shutil.copytree(skeleton, wh, dirs_exist_ok=True)
            cfg = CrawlConfig(warehouse=wh, round_duration_ms=600_000)
            with _StealWindow() as w:
                t0 = time.perf_counter()
                metrics = run_crawl(spark, cfg, pages, seeds, robots,
                                    max_rounds=1)
                dt = round(time.perf_counter() - t0, 3)
            shutil.rmtree(wh, ignore_errors=True)
            return dt, sum(m.get("selected", 0) for m in metrics), w.pct

        # Best-of-N reps: this sandbox's co-tenant weather swings
        # identical runs up to ~3x; each rep carries its OWN steal%%
        # window so the artifact adjudicates weather vs regression
        # without needing a baseline-doc footnote.
        reps = max(int(os.environ.get("BENCH_CRAWL_REPS", "3")), 1)
        rep_runs = [crawl_rep() for _ in range(reps)]
        # best rep by ITS OWN throughput — never mix one rep's page
        # count with another rep's elapsed time
        crawl_s, fetched, crawl_steal = max(
            rep_runs, key=lambda sfw: sfw[1] / sfw[0]
        )
        timings["crawl_round_saturated"] = crawl_s
        crawl_stats = {
            "rounds": 1,
            "buckets": buckets,
            "bucketize_ingest_seconds": ingest_s,
            "pages_fetched": fetched,
            "pages_per_sec": round(fetched / crawl_s, 2),
            "pages_per_sec_per_core": round(fetched / crawl_s / cpus, 2),
            "cpus": cpus,
            "rep_seconds": [s for s, _, _ in rep_runs],
            "rep_steal_pct": [w for _, _, w in rep_runs],
            "best_rep_steal_pct": crawl_steal,
        }
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(skeleton, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_reps": query_reps,
        "sf": sf_dir,
        "queries_steal_pct": qwin.pct,
        "default_parallelism": cpus,
        "crawl": crawl_stats,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
