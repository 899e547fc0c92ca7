"""crawlkit benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_expiry --seed 1 \\
        --seconds 20 --trace 0

Workloads: ``crawl_expiry`` (a saturated crawl round over bench-weight
pages, then a round that expires and requeues every stored doc) and
``corpus_analytics`` (the twelve headline queries).  With ``--trace 0``
the last stdout line carries the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones (and the tracing overhead).  Every run checks its outputs after the
timed window and exits 1 when a check fails; ``--corrupt-output`` flips
one output value first, so that exit 1 is expected.  The full record
(per-round and per-query times, steal%, spans, Spark job totals, host
facts) goes to ``perfbench_results/<workload>-seed<seed>-trace<t>.json``.

Everything the run writes lives under the checkout it runs from and is
removed afterwards, except that record.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = {  # name -> module
    "crawl_expiry": "perfbench.crawl",
    "corpus_analytics": "perfbench.analytics",
}
# The Spark driver heap is a fixed size, not one derived from the host's
# free memory, so peak_rss_mb compares across hosts and runs.  It is
# committed and touched at JVM start (-Xms, AlwaysPreTouch): left to
# grow, G1 stopped at a different size from run to run, which moved the
# driver's RSS by up to a sixth.  Heap pressure shows in spark.gc_s.
HEAP_MB = 2048


def metric_units(section: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def fit_host(run_dir: Path) -> dict:
    """Environment for a local[nproc] session sized to this host."""
    from perfbench.context import nproc

    cores = nproc()
    for sub in ("spark-local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    tmp = run_dir / "tmp"
    tempfile.tempdir = str(tmp)
    # -XX:-UsePerfData: no /tmp/hsperfdata_* file from either JVM.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        "SPARK_LAUNCHER_OPTS": java_opts,
        "CRAWLKIT_DRIVER_MEM": f"{HEAP_MB}m",
    })
    return {"cores": cores, "driver_heap_mb": HEAP_MB, "java_opts": java_opts}


class Run:
    """Per-run state shared by the workload modules."""

    def __init__(self, seed: int, run_dir: Path) -> None:
        self.seed = seed
        self.root = ROOT
        self.dir = run_dir
        self.setup_parts: dict = {}  # set-up steps, for the record
        self.tracer = None  # a trace.Tracer while the traced unit runs
        self.spark = None
        self.cores = 0

    def start_spark(self, cores: int, java_opts: str,
                    event_log: Path | None) -> float:
        from crawlkit.session import get_spark

        conf = {
            "spark.default.parallelism": str(cores),
            "spark.sql.warehouse.dir": str(self.dir / "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch {java_opts}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.cores = cores
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop_spark(self) -> None:
        """Stop the session and wait for the Spark driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def end_to_end(units: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(u["run_s"] for u in units),
        "phase1_s": statistics.median(u["phases_s"][0] for u in units),
        "phase2_s": statistics.median(u["phases_s"][1] for u in units),
        "items_per_s": statistics.median(u["items"] / u["run_s"] for u in units),
        "peak_rss_mb": peak_rss_mb,
    }


def spans_by_name(tracer, jobs: list[dict]) -> dict:
    from perfbench.eventlog import FIELDS

    out: dict[str, dict] = {}
    for s in tracer.spans:
        row = out.setdefault(s.name, {"calls": 0, "seconds": 0.0,
                                      "self_s": 0.0, "jobs": 0,
                                      **dict.fromkeys(FIELDS, 0.0)})
        row["calls"] += 1
        row["seconds"] += s.seconds
        row["self_s"] += tracer.self_seconds(s)
    for j in jobs:
        if j["span"] is None or j["span"] >= len(tracer.spans):
            continue
        row = out[tracer.spans[j["span"]].name]
        row["jobs"] += 1
        for k in FIELDS:
            row[k] += j[k]
    return out


def execute(args, run: Run, detail: dict) -> tuple[dict, list[dict], int]:
    """Set up, measure, check.  Returns (metrics, checks, ops run)."""
    from perfbench import eventlog
    from perfbench.context import RssSampler, cpu_ticks, steal_pct

    mod = importlib.import_module(WORKLOADS[args.workload])
    host = fit_host(run.dir)
    detail["host"].update(host)
    detail["params"] = mod.params(args.seed)
    event_log = run.dir / "eventlog" if args.trace else None
    run_ticks = cpu_ticks()
    t0 = time.perf_counter()
    session_s = run.start_spark(host["cores"], host["java_opts"], event_log)
    state = mod.setup(run)
    setup_s = time.perf_counter() - t0
    detail["setup"] = {"session_start_s": session_s, **run.setup_parts,
                       "setup_s": setup_s}

    units: list[dict] = []
    checks: list[dict] = []
    if not args.trace:
        with RssSampler(run.jvm_pid()) as rss:
            t_start = time.perf_counter()
            while (len(units) < mod.MIN_UNITS
                   or time.perf_counter() - t_start < args.seconds):
                units.append(mod.unit(run, state, f"u{len(units)}"))
        t0 = time.perf_counter()
        for u in units if mod.GATE_EVERY_UNIT else units[-1:]:
            checks += mod.gate(run, state, u, args.corrupt_output)
        detail["gate_s"] = time.perf_counter() - t0
        metrics = end_to_end(units, setup_s, rss.peak_mb)
        detail["rss"] = {"samples": rss.samples, "peak_mb": rss.peak_mb,
                         "peak_jvm_mb": rss.peak_root_mb,
                         "peak_worker_processes": rss.peak_children}
    else:
        from perfbench.trace import Tracer

        # untraced first, so the traced unit runs on a warm session too
        units.append(mod.unit(run, state, "untraced"))
        tracer = run.tracer = Tracer(run.spark.sparkContext)
        units.append(mod.unit(run, state, "traced"))
        run.tracer = None
        checks += mod.gate(run, state, units[-1], args.corrupt_output)
        run.stop_spark()  # flushes the event log
        jobs = eventlog.read_jobs(event_log)
        layers, detail["layer_detail"] = mod.layer_metrics(
            run, state, units[-1], tracer, jobs)
        traced_ids = {s.id for s in tracer.spans}
        layers.update(eventlog.totals([j for j in jobs if j["span"] in traced_ids]))
        layers["trace.overhead_s"] = units[1]["run_s"] - units[0]["run_s"]
        names = metric_units("per_layer")
        metrics = {n: float(layers.get(n, 0.0)) for n in names}
        detail["per_layer_extra"] = {k: v for k, v in layers.items() if k not in names}
        detail["spans_by_name"] = spans_by_name(tracer, jobs)
        detail["spans"] = tracer.to_json()

    detail["units"] = [{k: v for k, v in u.items() if k != "wh"} for u in units]
    detail["run_steal_pct"] = steal_pct(run_ticks, cpu_ticks())
    ops = sum(len(u["steps_s"]) for u in units) + len(checks)
    return metrics, checks, ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-output", action="store_true",
                    help="flip one output value before the checks (self-test)")
    args = ap.parse_args(argv)

    if not (ROOT / "crawlkit" / "__init__.py").is_file():
        print(f"perfbench: no crawlkit package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.context import host_context

    run_dir = ROOT / ".perfbench_runs" / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out_dir = ROOT / "perfbench_results"
    out_dir.mkdir(exist_ok=True)
    run_dir.mkdir(parents=True)
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": host_context(ROOT)}
    run = Run(args.seed, run_dir)
    metrics, checks, ops, error = {}, [], 0, None
    try:
        metrics, checks, ops = execute(args, run, detail)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        run.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            (ROOT / ".perfbench_runs").rmdir()

    failed = sum(not c["ok"] for c in checks) + (error is not None)
    attempted = max(ops + (error is not None), 1)
    n_units = len(detail.get("units", []))
    n_steps = sum(len(u["steps_s"]) for u in detail.get("units", []))
    units = metric_units("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            n: {"value": v, "unit": units[n]} for n, v in metrics.items()
        },
    }
    detail.update({"checks": checks, "error": error, "result": result,
                   "error_rate": failed / attempted})
    path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(detail, indent=1, default=str))
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"units={n_units} steps={n_steps} correct={result['correct']} "
          f"failed={failed}/{attempted} detail={path}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
