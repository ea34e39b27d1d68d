"""Median-of-N bench stamping protocol (r13 verdict item 6).

Run ``bench.py`` N times (default 3; env ``SPARK_GRAFT_STAMP_RUNS``
sets the exact count, floor 1 — a committed stamp should still use
>= 3) on the closed tree, keep the MEDIAN run's full artifact, and record
ALL N headline totals inside it as ``"runs": [..]`` — keeping
whichever run happened to be fast is a one-sided filter; the median
of N complete runs is the defensible stamp on a VM whose wall times
band up to ~1.6× with host load. Each underlying run still uses
bench.py's own per-query median-of-3 sampling; this wrapper medians
across PROCESS-level runs (fresh JVM, fresh page-cache state).

Usage: python scripts/bench_median.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N = max(1, int(os.environ.get("SPARK_GRAFT_STAMP_RUNS", "3")))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import full_artifact_name  # noqa: E402

FULL = os.path.join(REPO, full_artifact_name())


def main() -> int:
    artifacts = []
    for i in range(N):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            check=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        with open(FULL) as f:
            artifacts.append(json.load(f))
        print(
            f"run {i + 1}/{N}: {artifacts[-1]['value']} s "
            f"(load {artifacts[-1]['host_load_1m']})",
            flush=True,
        )
    totals = [a["value"] for a in artifacts]
    order = sorted(range(N), key=lambda j: totals[j])
    med = artifacts[order[N // 2]]  # upper median for even N
    med["runs"] = totals
    with open(FULL, "w") as f:
        json.dump(med, f, indent=1)
    print(
        json.dumps(
            {
                "kept_median": med["value"],
                "runs": totals,
                "host_load_1m": med["host_load_1m"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
