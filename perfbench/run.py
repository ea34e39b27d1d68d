"""Benchmark entry point.

    python3 perfbench/run.py --workload gateway_bi --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run gets a fresh directory under
``.perfbench_runs/`` holding its inputs, warehouse, metastore, Spark
local dirs and event log; the engine runs with that directory as its
working directory and the directory is removed at the end. A run record
(metrics, host-speed stamps, per-op detail) is kept beside it as
``.perfbench_runs/<workload>-seed<N>-trace<T>.json``.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with no wrappers installed;
with ``--trace 1`` they are the per-layer ones from a separate run with
wrappers and Spark's event log switched on. The line before it prints
the workload's own per-op-kind figures, by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("gateway_bi", "lakehouse_upsert")

# (name, unit) of the end-to-end metrics every workload reports
E2E = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_ms_geomean", "ms"),
    ("peak_rss_mb", "MB"),
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nineinfra_spark", "engine.py")):
        print("perfbench: run from the repository root (nineinfra_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import common
    import layers

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    calib_before = common.calib_py_s()
    started = time.time()
    try:
        os.chdir(run_dir)
        if args.workload == "gateway_bi":
            import gateway_bi as workload
        else:
            import lakehouse as workload
        out = workload.run(args.seed, args.seconds, bool(args.trace), run_dir)
        if args.trace:  # the event log and spans live in run_dir
            metrics = layers.compute(args.workload, out, run_dir)
        else:
            metrics = {name: common.metric(out[name], unit) for name, unit in E2E}
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    calib_after = common.calib_py_s()

    detail = out["detail"]
    correct = out["failed"] == 0
    print(json.dumps({"workload": args.workload, "detail": detail}), flush=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "started_epoch": started,
        "wall_s": time.time() - started,
        "calib_py_s": {"before": calib_before, "after": calib_after},
        "correct": correct,
        "metrics": metrics,
        "detail": detail,
    }
    rec_path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
