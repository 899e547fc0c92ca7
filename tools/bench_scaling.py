"""Two-cluster-size scaling evidence (north_rule: throughput scaling
efficiency >= 0.8 from N to 4N executors).

No real cluster exists in this sandbox, so the same saturated crawl
round — every page seeded, politeness unlimited, full fetch+extract —
runs at two parallelism levels on the SAME corpus; we report throughput
at both and efficiency = (T_4N / T_N) / 4.  Two modes:

* default: ``local[N]`` vs ``local[4N]`` (threads in one JVM);
* ``--cluster``: ``local-cluster[N,1,M]`` vs ``local-cluster[4N,1,M]``
  — REAL separate executor JVMs (one core each, own heap, own Python
  workers) with true executor-boundary serialization and shuffle, the
  closest in-sandbox proxy to N vs 4N executors under spark-submit.

The corpus is generated ONCE (at full parallelism, untimed, in a child
process whose JVM exits before the timed legs start), written
to parquet and bucket-clustered on url into a skeleton warehouse; each
timed session reads it cold from a copy of that skeleton, so no timed
round pays the bucketize ingest and both legs join against the same
buckets.  Pages use the heavy synthetic profile (~24 KB html, ~12 ms
extraction) so per-page work resembles real web pages rather than
fixture stubs; a saturated round is the steady-state per-round
pipeline (canonicalize → bloom anti-join → politeness rank → fetch
join → Arrow-batched extraction → state commit), not the frontier
ramp-up.

Usage: python tools/bench_scaling.py [n_small] [n_pages]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

HEAVY = {"body_paras": (150, 250), "para_words": (8, 24)}


def synth_cfg(n_pages: int):
    from crawlkit.synth import SynthConfig

    return SynthConfig(n_pages=n_pages, n_hosts=100, n_seeds=10, fanout=4, **HEAVY)


def shuffle_partitions(cores: int) -> int:
    """3 shuffle tasks per core: at shuffle_partitions == cores the
    politeness windows and state writes run one task wave, so a single
    slow task (zstd-heavy partition, GC pause) stretches the whole
    stage; 3x gives the scheduler room to rebalance.  Same rule for
    both legs, so the pair stays like-for-like."""
    return max(3 * cores, 8)


def skeleton_of(corpus_dir: str) -> str:
    return str(Path(corpus_dir).parent / "wh-skeleton")


def generate_corpus(n_pages: int, out_dir: str, buckets: int) -> None:
    """Generate and bucketize the corpus in a child process.  Its
    local[32] session grows the driver heap to ~7 GB, and a stopped
    session in THIS process would keep that JVM (and its heap) alive
    through both timed legs; the child's JVM exits with it."""
    import multiprocessing

    child = multiprocessing.get_context("spawn").Process(
        target=_generate_corpus, args=(n_pages, out_dir, buckets))
    child.start()
    child.join()
    if child.exitcode != 0:
        raise RuntimeError(f"corpus generation failed (exit {child.exitcode})")


def _generate_corpus(n_pages: int, out_dir: str, buckets: int) -> None:
    from crawlkit.session import get_spark
    from crawlkit.storage import Warehouse
    from crawlkit.synth import synth_pages

    spark = get_spark("crawlkit-scale-gen", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    synth_pages(spark, synth_cfg(n_pages)).write.mode("overwrite").parquet(out_dir)
    shutil.rmtree(skeleton_of(out_dir), ignore_errors=True)
    Warehouse(skeleton_of(out_dir)).bucketized_pages(
        spark.read.parquet(out_dir), buckets)
    spark.stop()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — measured around each
    run because this sandbox is a shared VM: steal is ~0 when idle but
    has been observed >35% under load, which caps multi-core scaling
    regardless of code.  Reported so efficiency numbers carry their
    contention context."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


EXEC_MEM_MB = int(os.environ.get("CRAWLKIT_SCALE_EXEC_MEM_MB", "8192"))
# cores per executor in --cluster mode; `cores` stays the TOTAL core
# count so the two modes compare like for like.  2 cores/executor makes
# the N→4N pair "1 executor → 4 executors" at n_small=2 — the literal
# north-rule shape with real executor JVM boundaries.
EXEC_CORES = int(os.environ.get("CRAWLKIT_SCALE_EXEC_CORES", "2"))


def run_at(cores: int, n_pages: int, corpus_dir: str,
           cluster: bool = False) -> dict:
    from pyspark.sql import functions as F

    from crawlkit.rounds import CrawlConfig, run_crawl
    from crawlkit.session import get_spark
    from crawlkit.synth import robots_df

    if cluster:
        n_exec = max(1, cores // EXEC_CORES)
        master = f"local-cluster[{n_exec},{EXEC_CORES},{EXEC_MEM_MB}]"
        extra = {
            "spark.executor.memory": f"{EXEC_MEM_MB - 512}m",
            # the driver no longer hosts executor heaps in this mode
            "spark.driver.memory": "8g",
            # executor Python workers are separate processes with their
            # own cwd — ship the package path the way spark-submit
            # --py-files would
            "spark.executorEnv.PYTHONPATH": str(
                Path(__file__).resolve().parent.parent
            ),
        }
    else:
        master, extra = f"local[{cores}]", None
    spark = get_spark(
        f"crawlkit-scale-{cores}", master=master,
        shuffle_partitions=shuffle_partitions(cores), extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(corpus_dir)

    # saturate: every page url is a seed; crawl_delay=0 → unlimited quota
    seeds = pages.select("url", F.lit(0).alias("depth"),
                         F.col("warc_ts").alias("discovered_ts"))
    robots = robots_df(spark, synth_cfg(n_pages)).withColumn(
        "crawl_delay_ms", F.lit(0).cast("long")
    )

    wh = tempfile.mkdtemp(prefix=f"crawlkit-scale{cores}-")
    shutil.copytree(skeleton_of(corpus_dir), wh, dirs_exist_ok=True)
    cfg = CrawlConfig(warehouse=wh, round_duration_ms=600_000)
    s0, t0ticks = _cpu_ticks()
    t0 = time.perf_counter()
    metrics = run_crawl(spark, cfg, pages, seeds, robots, max_rounds=1)
    dt = time.perf_counter() - t0
    s1, t1ticks = _cpu_ticks()
    steal_pct = round(100.0 * (s1 - s0) / max(t1ticks - t0ticks, 1), 1)
    fetched = sum(m.get("selected", 0) for m in metrics)
    shutil.rmtree(wh, ignore_errors=True)
    spark.stop()
    return {"cores": cores, "fetched": fetched, "seconds": round(dt, 2),
            "pages_per_sec": round(fetched / dt, 2),
            "host_steal_pct": steal_pct}


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--cluster"]
    cluster = "--cluster" in sys.argv[1:]
    sys.argv[1:] = argv
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 60000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    # optional 4th arg: reuse (or create) a persistent corpus dir, so
    # repeated quiet-window attempts skip the ~2 min generation.  A
    # size marker guards against silently measuring a stale corpus of
    # a different n_pages.
    keep_dir = sys.argv[4] if len(sys.argv) > 4 else None
    # Both legs join against one bucket layout, sized like the 4N leg's
    # shuffle (run_crawl's default): many more buckets than that add a
    # fixed per-task cost to every stage downstream of the join.
    buckets = shuffle_partitions(4 * n_small)
    if keep_dir:
        from crawlkit.storage import Warehouse

        corpus_dir = keep_dir
        marker = Path(corpus_dir).parent / "_n_pages"
        stale = (
            not Path(corpus_dir, "_SUCCESS").exists()
            or Warehouse(skeleton_of(corpus_dir)).pages_bucket_count()
            != buckets
            or not marker.exists()
            or marker.read_text().strip() != str(n_pages)
        )
        if stale:
            shutil.rmtree(corpus_dir, ignore_errors=True)
            generate_corpus(n_pages, corpus_dir, buckets)
            marker.parent.mkdir(parents=True, exist_ok=True)
            marker.write_text(str(n_pages))
    else:
        corpus_dir = tempfile.mkdtemp(prefix="crawlkit-scale-corpus-") + "/pages"
        generate_corpus(n_pages, corpus_dir, buckets)
    # Interleave fresh sessions (N, 4N, N, 4N, ...): each rep is an
    # independent cold app, so machine-level drift (page cache, VM
    # noise) hits both sizes alike; efficiency is computed per adjacent
    # pair and as best-vs-best.
    smalls, bigs = [], []
    for _ in range(reps):
        smalls.append(run_at(n_small, n_pages, corpus_dir, cluster))
        bigs.append(run_at(n_small * 4, n_pages, corpus_dir, cluster))
    if not keep_dir:
        shutil.rmtree(str(Path(corpus_dir).parent), ignore_errors=True)
    best_small = max(smalls, key=lambda r: r["pages_per_sec"])
    best_big = max(bigs, key=lambda r: r["pages_per_sec"])
    pair_effs = [
        round(b["pages_per_sec"] / s["pages_per_sec"] / 4, 3)
        for s, b in zip(smalls, bigs)
    ]
    eff = round(best_big["pages_per_sec"] / best_small["pages_per_sec"] / 4, 3)
    print(json.dumps({
        "mode": ("local-cluster[cores/%d,%d,%d]" % (EXEC_CORES, EXEC_CORES,
                                                    EXEC_MEM_MB)
                 if cluster else "local[N]"),
        "n_pages": n_pages,
        "small": best_small,
        "big": best_big,
        "small_runs": [r["seconds"] for r in smalls],
        "big_runs": [r["seconds"] for r in bigs],
        "pair_efficiencies": pair_effs,
        "scaling_efficiency_Nto4N": eff,
    }))


if __name__ == "__main__":
    main()
