"""Helpers shared by the workloads: run isolation, Spark settings,
statistics, memory and the host-speed stamp."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time

#: Spark master for every engine the benchmark starts: the benchmark is
#: sized for a 4-core host, one load generator beside one engine.
CPUS = 4
DRIVER_MEMORY = "2g"


def calib_py_s() -> float:
    """The fixed-work pure-Python loop of bench.py's calibration: the
    same 6M-step LCG, so the two stamps compare. Context for a reader,
    never a gated metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(6_000_000):
        acc = (acc * 1103515245 + i) & 0x7FFFFFFF
    return time.perf_counter() - t0


def isolated_env(run_dir: str) -> dict[str, str]:
    """Environment for a process that hosts an engine: temp files, Spark
    local dirs and derby all land under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(CPUS),
        }
    )
    return env


def engine_conf(run_dir: str, event_log: bool) -> dict[str, str]:
    """``EngineConfig.extra_conf`` pinning every path the JVM writes to
    ``run_dir``; with ``event_log`` Spark's event log is switched on."""
    tmp = os.path.join(run_dir, "tmp")
    java_opts = f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.hadoop.hive.exec.scratchdir": os.path.join(run_dir, "hive-scratch"),
        "spark.hadoop.hive.exec.local.scratchdir": os.path.join(run_dir, "hive-local"),
        "spark.hadoop.hive.downloaded.resources.dir": os.path.join(run_dir, "hive-res"),
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_jvm() -> None:
    """Shut down the JVM PySpark launched for this process and wait for
    it to exit (``SparkSession.stop`` leaves it running until Python
    exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in (0, 100] of ``values``."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the peak resident sizes of ``pid`` (default: this
    process) and all its descendants — the Python driver plus the JVM
    it launched."""
    todo = [pid or os.getpid()]
    total_kb = 0
    while todo:
        p = todo.pop()
        total_kb += _vm_hwm_kb(p)
        todo.extend(_children(p))
    return total_kb / 1024.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
