"""Per-JOB decomposition of a registered query (r17, guide §1.1).

Runs one query under the bench Engine with the Spark event log
enabled, then parses the log into a job-level timing table
(job id, duration, description/callsite) — the "which action costs
what" view that a wall-clock median cannot give for multi-action
queries (maintenance operators, iterative loops, streaming drains).

Usage:
  python scripts/profile_jobs.py <query> [<query> ...]

Prints one table per query; timed run is the SECOND execution
(first is warm-up, same as bench.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVDIR = "/tmp/spark-events-profile"


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from nineinfra_spark.engine import Engine, EngineConfig

    engine = Engine(
        EngineConfig(
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{EVDIR}",
            }
        )
    ).open()
    spark = engine.spark
    from nineinfra_spark.plans import registry

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            _force(spark.read.parquet(p))

    for name in names:
        fn = registry.get(name).fn
        _force(fn(spark, sf_dir))  # warm-up
        spark.sparkContext.setJobDescription(f"[TIMED:{name}]")
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        print(f"\n== {name}: wall {wall:.3f}s (timed pass)")
    engine.close()

    # parse the single application event log; Spark 4 may write a
    # rolling-log DIRECTORY (eventlog_v2_<app>/events_1_...) instead of
    # a single file
    logs = [f for f in os.listdir(EVDIR) if not f.startswith(".")]
    assert len(logs) == 1, logs
    target = os.path.join(EVDIR, logs[0])
    if os.path.isdir(target):
        parts = sorted(
            os.path.join(target, p)
            for p in os.listdir(target)
            if p.startswith("events_")
        )
    else:
        parts = [target]
    jobs: dict[int, dict] = {}
    for part in parts:
        if part.endswith(".zstd"):
            import io
            import subprocess

            raw = subprocess.run(
                ["zstd", "-dc", part], capture_output=True, check=True
            ).stdout
            fh = io.StringIO(raw.decode())
        else:
            fh = open(part)
        with fh as f:
            for line in f:
                _ingest(json.loads(line), jobs)
    print("\njob_id         sec     gap  stages  description")
    for jid, gap in job_gaps(jobs):
        j = jobs[jid]
        sec = f"{j['sec']:.3f}" if "sec" in j else "unfinished"
        print(
            f"{jid:>6}  {sec:>10}  {gap:6.3f}  {j['stages']:>6}  "
            f"{j['desc'][:100]}"
        )
    return 0


def job_gaps(jobs: dict) -> list[tuple[int, float]]:
    """``(job id, gap seconds)`` in submission order. A job's gap is
    the driver-side time before it: from the end of the union of the
    intervals of every job submitted earlier to its own start, 0 when
    an earlier job still runs (jobs overlap). A job with no end event
    is taken to run to the end of the log, so it never opens a gap."""
    out = []
    covered = None  # end of the union of earlier jobs' intervals, ms
    for jid in sorted(jobs, key=lambda i: (jobs[i]["t0"], i)):
        j = jobs[jid]
        gap = 0.0 if covered is None else max(0.0, j["t0"] - covered) / 1000.0
        end = j["t0"] + j["sec"] * 1000.0 if "sec" in j else float("inf")
        covered = end if covered is None else max(covered, end)
        out.append((jid, gap))
    return out


def _ingest(ev: dict, jobs: dict) -> None:
    e = ev.get("Event")
    if e == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        jobs[ev["Job ID"]] = {
            "t0": ev["Submission Time"],
            "desc": props.get(
                "spark.job.description",
                props.get("callSite.short", ""),
            ),
            "stages": len(ev.get("Stage IDs", [])),
        }
    elif e == "SparkListenerJobEnd":
        j = jobs.get(ev["Job ID"])
        if j is not None:
            j["sec"] = (ev["Completion Time"] - j["t0"]) / 1000.0


if __name__ == "__main__":
    sys.exit(main())
