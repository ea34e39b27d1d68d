"""Engine process for ``gateway_bi``: serves the REST frontend over
catalog tables made from the generated parquet.

    python3 gateway_server.py <root> <run_dir> <trace 0|1> <clients>

Opens the engine and prints a JSON line; waits for ``load`` on stdin
(the inputs are then written), makes the tables and prints a second JSON
line when it serves (``port`` and set-up timings); then waits for
``stop`` on stdin; it then records its peak memory, writes its
spans (traced runs), closes the engine and prints a last JSON line.
Run with ``run_dir`` as the working directory.
"""

from __future__ import annotations

import json
import os
import sys
import time

PINNED = ("nation", "region", "customer", "supplier", "part")
TABLES = PINNED + ("orders", "lineitem")
USERS_TABLE = "nine_auth.users"


def users(n: int) -> dict[str, str]:
    return {f"analyst{i}": f"pw-{i}" for i in range(n)}


def install_tracer():
    """Wrap the public calls a REST statement makes inside the engine."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    from nineinfra_spark import auth, doctor
    from tracing import Tracer

    tracer = Tracer()
    tracer.wrap(SparkSession, "sql", "sql.plan")
    tracer.wrap(SparkSession, "newSession", "rest.session_clone")
    tracer.wrap(DataFrame, "collect", "sql.exec")
    tracer.wrap(DataFrame, "toLocalIterator", "sql.exec")
    tracer.wrap(doctor, "scale_risks", "doctor.scale_risks")
    tracer.wrap(auth.UserStore, "authenticate", "auth.check")
    return tracer


def main(root: str, run_dir: str, trace: bool, clients: int) -> int:
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from common import engine_conf, stop_jvm, tree_peak_rss_mb

    from nineinfra_spark import auth
    from nineinfra_spark.engine import Engine, EngineConfig
    from nineinfra_spark.rest import start_rest_gateway

    tracer = install_tracer() if trace else None
    engine = Engine(
        EngineConfig(
            app_name="perfbench_gateway",
            warehouse_dir=os.path.join(run_dir, "warehouse"),
            extra_conf=engine_conf(run_dir, event_log=trace),
        )
    )
    t0 = time.perf_counter()
    engine.open()
    open_s = time.perf_counter() - t0
    gateway = None
    try:
        spark = engine.spark
        if tracer is not None:
            tracer.sc = spark.sparkContext
        print(json.dumps({"open_s": open_s}), flush=True)
        if sys.stdin.readline().strip() != "load":
            return 1
        t0 = time.perf_counter()
        auth.init_users_table(spark, users(clients), USERS_TABLE)
        data = os.path.join(run_dir, "input")
        for t in TABLES:
            spark.sql(
                f"CREATE TABLE {t} USING parquet LOCATION '{data}/{t}.parquet'"
            )
        load_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        engine.pin_hot_tables(PINNED)
        pin_s = time.perf_counter() - t0
        gateway = start_rest_gateway(spark, 0, auth=auth.UserStore(spark, USERS_TABLE))
        print(json.dumps({"port": gateway.port, "load_s": load_s, "pin_s": pin_s}),
              flush=True)
        if sys.stdin.readline().strip() != "stop":
            return 1
        rss_mb = tree_peak_rss_mb()
        if tracer is not None:
            tracer.restore()
            tracer.dump(os.path.join(run_dir, "server_spans.json"))
    finally:
        if gateway is not None:
            gateway.stop()
        engine.close()
        stop_jvm()
    print(json.dumps({"peak_rss_mb": rss_mb}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3] == "1", int(sys.argv[4])))
