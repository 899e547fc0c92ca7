"""Run context: host facts, CPU steal windows and a peak-RSS sampler.

Every artifact the benchmark writes carries the host it ran on (nproc,
MemAvailable, steal%), so a slow figure can be told apart from a noisy
neighbour on a shared VM.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from pathlib import Path


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return round(100.0 * (t1[0] - t0[0]) / max(t1[1] - t0[1], 1), 2)


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_sha(root: Path) -> str | None:
    """HEAD of ``root`` when it is the top of a git work tree, else None."""
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]) != root:
        return None
    return lines[1]


def host_context(root: Path) -> dict:
    return {
        "nproc": nproc(),
        "mem_available_mb": mem_available_mb(),
        "git_sha": git_sha(root),
        "python": sys.version.split()[0],
    }


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so summing it over a process tree
    counts the pages forked Python workers share only once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _parents() -> dict[int, int]:
    """{pid: ppid} of every process on the host, one pass over /proc."""
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree_rss_mb(root_pid: int) -> tuple[float, float, int]:
    """(resident MB of ``root_pid``, resident MB of all its descendants,
    descendant count), resident memory taken as PSS."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    rest, n, stack = 0, 0, list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        rest += _pss_kb(pid)
        n += 1
        stack.extend(kids.get(pid, ()))
    return _pss_kb(root_pid) / 1024.0, rest / 1024.0, n


class RssSampler:
    """Background thread sampling the resident memory of a process tree
    (the Spark driver JVM and the Python workers it forks) while
    enabled; ``peak_mb`` is the largest sample seen."""

    def __init__(self, root_pid: int, period_s: float = 0.25) -> None:
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_root_mb = 0.0
        self.peak_children = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            root, rest, n = tree_rss_mb(self.root_pid)
            self.peak_mb = max(self.peak_mb, root + rest)
            self.peak_root_mb = max(self.peak_root_mb, root)
            self.peak_children = max(self.peak_children, n)
            self.samples += 1
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class StealWindow:
    """Wall time and steal% across a with-block."""

    def __enter__(self) -> "StealWindow":
        self.t0 = time.perf_counter()
        self._ticks = cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self.t0
        self.steal_pct = steal_pct(self._ticks, cpu_ticks())
