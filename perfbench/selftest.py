"""Show that the correctness gate catches a corrupted output.

    python3 perfbench/selftest.py [--workload NAME] [--seed N]

Runs the benchmark once with ``--corrupt-output`` (one stored text
byte flipped for the crawl, one result value changed for the
analytics queries) and passes only if that run reports
``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def corrupted_run_fails(workload: str, seed: int) -> bool:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0", "--corrupt-output"],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    print(f"{workload}: exit={proc.returncode} correct={result.get('correct')} "
          f"failed={result.get('failed')}/{result.get('attempted')}")
    return proc.returncode == 1 and result.get("correct") is False \
        and result.get("failed", 0) >= 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    choices=("crawl_expiry", "corpus_analytics"))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    workloads = args.workload or ["crawl_expiry", "corpus_analytics"]
    ok = all([corrupted_run_fails(w, args.seed) for w in workloads])
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
