"""Optimization-round profiler (guide §1).

For each named query: capture ``explain("formatted")`` to
``plans/<tag>/<name>_<suffix>.txt`` and optionally time it with the
bench methodology (warm-up + N noop-sink runs, median) under the same
Engine/conf as bench.py. Jobs are labelled via setJobDescription.

Usage:
  python scripts/profile_query.py --tag TAG [--time N] [--suffix before] \
      [--sf DIR] name [name ...]
  (no names -> the bench HEADLINE list)

``--tag`` is required: ``plans/<tag>/`` holds committed captures, so
the script never picks a directory to overwrite on its own.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_time = 0
    tag, suffix = None, "before"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--time":
            n_time = int(args[i + 1]); i += 2
        elif args[i] == "--tag":
            tag = args[i + 1]; i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]; i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1
    if tag is None:
        print(
            "usage: python scripts/profile_query.py --tag TAG [--time N] "
            "[--suffix SUFFIX] [--sf DIR] [name ...]\n"
            "error: --tag is required (plans/<tag>/ holds committed captures)",
            file=sys.stderr,
        )
        return 2

    from nineinfra_spark.engine import Engine

    engine = Engine().open()
    spark = engine.spark
    from nineinfra_spark.plans import registry

    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in set(registry.names())]

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    # page-cache warm-up as in bench.py
    if n_time:
        for tname in ("lineitem", "orders", "documents", "embeddings", "events"):
            p = os.path.join(sf_dir, f"{tname}.parquet")
            if os.path.exists(p):
                _force(spark.read.parquet(p))

    results: dict[str, float] = {}
    for name in names:
        fn = registry.get(name).fn
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        if n_time:
            _force(fn(spark, sf_dir))  # warm-up
            samples = []
            for _ in range(n_time):
                t0 = time.perf_counter()
                _force(fn(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            results[name] = round(statistics.median(samples), 4)
            print(f"{name}: {results[name]} s  (runs {[round(s,3) for s in samples]})", flush=True)
        else:
            print(f"{name}: plan -> {name}_{suffix}.txt", flush=True)
        spark.sparkContext.setJobDescription(None)

    if results:
        print(json.dumps({"timings": results, "sf_dir": sf_dir}), flush=True)
    engine.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
