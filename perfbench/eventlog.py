"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Turns job, stage and task end events into per-job totals, each job
tagged with the benchmark span that submitted it (the
``perfbench.span`` local property set by :mod:`perfbench.trace`).
"""

from __future__ import annotations

import json
from pathlib import Path

from .trace import SPAN_PROPERTY

FIELDS = ("tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
          "shuffle_read_mb", "spill_mb")


def _log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.rglob("*")
             if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return files[0]


def read_jobs(log_dir: str | Path) -> list[dict]:
    """One dict per job: id, span (int or None), submit/end epoch
    seconds, and the task totals in :data:`FIELDS`."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(_log_file(Path(log_dir))) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                job = {"id": ev["Job ID"],
                       "span": int(span) if span not in (None, "") else None,
                       "submit": ev["Submission Time"] / 1000.0, "end": None}
                job.update(dict.fromkeys(FIELDS, 0.0))
                jobs[job["id"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job["id"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                job["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                job["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return sorted(jobs.values(), key=lambda j: j["id"])


def totals(jobs: list[dict]) -> dict:
    out = {f"spark.{k}": sum(j[k] for j in jobs) for k in FIELDS}
    out["spark.jobs"] = len(jobs)
    return out
