"""``lakehouse_upsert``: one in-process writer replays a fixed seeded
cycle of table maintenance ops beside point reads on the same tables.

Set-up writes a 150k-row managed orders table, a z-ordered events layout
and a 24-file bloom index over orders. Each cycle then runs, in order:

1. ``merge``   — ``merge_into_table_versioned`` of a 500-row orders delta;
2. ``zappend`` — ``zorder_layout_append`` of 1,000 new events;
3. ``bappend`` — ``bloom_index_append`` upsert of 200 orders rows;
4. ``probe``   — three ``bloom_skipping_read`` lookups of 5 keys, collected;
5. ``scan``    — a count / price-sum scan of the managed table;
6. ``report``  — the registered ``q1_pricing_summary`` over the generated
   lineitem, forced by a ``noop`` write;
7. ``vacuum``  — ``vacuum_versions(keep=2)``.

Cycle ``c`` draws its deltas and keys from ``(seed, c)``, so every cycle
does the same amount of work and every run the same sequence. Set-up
builds the three structures and warms each with one untimed cycle (one
probe) on four threads (table, z-layout, bloom index, report), since
they share nothing; then one timed cycle runs on one thread, which gives
one sample of each op kind and three probes. The expected state
of the table and of the index is kept in NumPy arrays, and every probe
and scan is checked against it; the report is checked once, in set-up,
against the registry's DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from common import (
    engine_conf, geomean, isolated_env, median, metric, stop_jvm, tree_peak_rss_mb,
)

DB_TABLE = "lh.orders"
N_BLOOM_FILES = 24
BLOOM_M_BITS = 65_536  # ~1% false positives at 6,250 keys per file
N_EVENTS_BASE = 20_000
MERGE_ROWS = 500
ZAPPEND_ROWS = 1_000
BAPPEND_ROWS = 200
PROBES = 3
PROBE_KEYS = 5
REPORT_QUERY = "q1_pricing_summary"
KINDS = ("merge", "zappend", "bappend", "probe", "scan", "report", "vacuum")
# op kinds whose p50s make op_ms_geomean
GEOMEAN_KINDS = ("merge", "zappend", "bappend", "probe", "report")


def _snapshot(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every data file under ``roots``
    (checksum and marker files excluded)."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                if f.startswith(".") or f == "_SUCCESS":
                    continue
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


class Lakehouse:
    def __init__(self, spark, run_dir: str, seed: int, tracer=None):
        from nineinfra_spark.operators import bloomindex, merge, zorder

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        # ops call through the modules, so a traced run's wrappers apply
        self.merge_mod, self.zorder_mod, self.bloom_mod = merge, zorder, bloomindex
        self.input_dir = os.path.join(run_dir, "input")
        self.zpath = os.path.join(run_dir, "layouts", "events_z")
        self.bpath = os.path.join(run_dir, "layouts", "orders_bloom")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.ops: list[dict] = []
        self.failed_checks: list[str] = []
        self.op_ids = itertools.count()  # next() is atomic across the set-up threads

    # -- set-up -----------------------------------------------------------
    def generate(self) -> None:
        """Write the inputs and the expected state the checks compare with."""
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        self.orders_path = datagen.write_star(rng, self.input_dir)["orders"]
        self.events_path = datagen.write_events(rng, self.input_dir, N_EVENTS_BASE)
        self.orders = pq.read_table(self.orders_path).to_pandas()
        cents = np.rint(self.orders["o_totalprice"].to_numpy() * 100).astype(np.int64)
        self.table_cents = cents.copy()
        self.bloom_cents = cents.copy()
        self.lay = (
            self.orders["o_orderdate"].to_numpy().astype("datetime64[D]").astype(np.int64)
        )
        self.events_total = N_EVENTS_BASE

    def prepare_and_warm(self) -> None:
        """Build the table, the z-layout and the bloom index, then run one
        untimed cycle (one probe) over each, and the report with its
        oracle check: four independent chains, run on four threads."""
        from pyspark.sql import functions as F

        spark = self.spark
        orders = spark.read.parquet(self.orders_path)

        def table_chain():
            spark.sql("CREATE DATABASE IF NOT EXISTS lh")
            orders.write.mode("overwrite").saveAsTable(DB_TABLE)
            self.merge(0, False)
            self.scan(0, False)
            self.vacuum(0, False)

        def events_chain():
            self.zorder_mod.zorder_layout_write(
                spark.read.parquet(self.events_path), self.zpath,
                ["user_id", "value"], bits=8, bucket_bits=5,
            )
            self.zappend(0, False)

        def bloom_chain():
            self.bloom_mod.bloom_index_write(
                orders.select(
                    "o_orderkey",
                    "o_totalprice",
                    F.datediff("o_orderdate", F.lit("1970-01-01")).alias("lay"),
                ),
                self.bpath, "lay", "o_orderkey", N_BLOOM_FILES, m_bits=BLOOM_M_BITS,
            )
            self.bappend(0, False)
            self.probe(0, 0, False)

        def report_chain():
            self.check_report()

        chains = (table_chain, events_chain, bloom_chain, report_chain)
        with ThreadPoolExecutor(max_workers=len(chains)) as pool:
            futures = [pool.submit(f) for f in chains]
            for f in futures:
                f.result()

    # -- ops ----------------------------------------------------------------
    def _op(self, kind: str, fn, timed: bool, rows: int = 0):
        op_id = next(self.op_ids)
        roots = [self.warehouse, self.zpath, self.bpath]
        before = _snapshot(roots) if timed else None
        t_wall = time.time()
        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.op(op_id, kind):
                out = fn()
        else:
            out = fn()
        lat = time.perf_counter() - t0
        rec = {"op": op_id, "kind": kind, "start": t_wall, "end": t_wall + lat,
               "lat_s": lat, "rows": rows, "timed": timed}
        if timed:
            rec["bytes"] = _written_bytes(before, _snapshot(roots))
        self.ops.append(rec)
        return out, rec

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed_checks.append(what)

    def _rng(self, c: int, step: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, c, step])

    def merge(self, c: int, timed: bool) -> None:
        rng = self._rng(c, 0)
        keys = np.sort(rng.choice(len(self.orders), MERGE_ROWS, replace=False))
        new_cents = rng.integers(100_000, 50_000_000, MERGE_ROWS)
        delta = self.orders.iloc[keys].copy()
        delta["o_totalprice"] = new_cents / 100.0
        mdf = self.spark.createDataFrame(delta)
        self._op(
            "merge",
            lambda: self.merge_mod.merge_into_table_versioned(
                self.spark, DB_TABLE, mdf, ["o_orderkey"]
            ),
            timed, MERGE_ROWS,
        )
        self.table_cents[keys] = new_cents

    def zappend(self, c: int, timed: bool) -> None:
        rows = datagen.events_rows(self._rng(c, 1), 10_000_000 + c * ZAPPEND_ROWS, ZAPPEND_ROWS)
        zdf = self.spark.createDataFrame(rows, datagen.EVENTS_DDL)
        stats, rec = self._op(
            "zappend",
            lambda: self.zorder_mod.zorder_layout_append(
                self.spark, self.zpath, zdf, key_cols=["event_id"]
            ),
            timed, ZAPPEND_ROWS,
        )
        rec["dirty_frac"] = stats["buckets_dirty"] / stats["buckets_total"]
        self.events_total += ZAPPEND_ROWS

    def bappend(self, c: int, timed: bool) -> None:
        rng = self._rng(c, 2)
        keys = np.sort(rng.choice(len(self.orders), BAPPEND_ROWS, replace=False))
        cents = rng.integers(100_000, 50_000_000, BAPPEND_ROWS)
        bdf = self.spark.createDataFrame(
            [(int(k), float(p) / 100.0, int(self.lay[k])) for k, p in zip(keys, cents)],
            "o_orderkey bigint, o_totalprice double, lay int",
        )
        self._op(
            "bappend",
            lambda: self.bloom_mod.bloom_index_append(
                self.spark, self.bpath, bdf, key_cols=["o_orderkey"]
            ),
            timed, BAPPEND_ROWS,
        )
        self.bloom_cents[keys] = cents

    def probe(self, c: int, i: int, timed: bool) -> None:
        keys = [int(k) for k in self._rng(c, 3 + i).choice(len(self.orders), PROBE_KEYS,
                                                           replace=False)]

        def read():
            df, stats = self.bloom_mod.bloom_skipping_read(self.spark, self.bpath, keys)
            return df.collect(), stats

        (rows, stats), rec = self._op("probe", read, timed)
        rec["skipped_frac"] = stats["files_skipped"] / stats["files_total"]
        got = {r["o_orderkey"]: round(r["o_totalprice"] * 100) for r in rows}
        want = {k: int(self.bloom_cents[k]) for k in keys}
        self._check(len(rows) == PROBE_KEYS and got == want, f"probe c{c} {keys}")

    def scan(self, c: int, timed: bool) -> None:
        (row,), _ = self._op(
            "scan",
            lambda: self.spark.table(DB_TABLE)
            .selectExpr("count(*) AS n",
                        "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents")
            .collect(),
            timed,
        )
        self._check(
            row["n"] == len(self.orders) and row["cents"] == int(self.table_cents.sum()),
            f"scan c{c}: {row['n']} rows, {row['cents']} cents",
        )

    def report(self, c: int, timed: bool) -> None:
        from nineinfra_spark.plans import registry

        query = registry.get(REPORT_QUERY)

        def span(name):
            if self.tracer is None:
                return contextlib.nullcontext()
            return self.tracer.span(name)

        def run():
            with span("plans.build"):
                df = query.fn(self.spark, self.input_dir)
            with span("plans.run"):
                df.write.format("noop").mode("overwrite").save()

        self._op("report", run, timed)

    def check_report(self) -> None:
        """Untimed warm-up of the report: its rows, collected, against
        the registry's DuckDB oracle over the same parquet (floats to
        1e-9 relative)."""
        import duckdb

        from nineinfra_spark.plans import registry

        query = registry.get(REPORT_QUERY)
        got = [r.asDict() for r in query.fn(self.spark, self.input_dir).collect()]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{self.input_dir}/lineitem.parquet')"
        )
        res = con.execute(query.oracle)
        cols = [d[0] for d in res.description]
        want = [dict(zip(cols, row)) for row in res.fetchall()]
        con.close()

        def same(a, b):
            if isinstance(a, float) or isinstance(b, float):
                return math.isclose(float(a), float(b), rel_tol=1e-9)
            return a == b

        def key(row):
            return tuple(str(row[c]) for c in sorted(row) if not isinstance(row[c], float))

        got.sort(key=key)
        want.sort(key=key)
        self._check(
            len(got) == len(want)
            and all(g.keys() == w.keys() and all(same(g[k], w[k]) for k in g)
                    for g, w in zip(got, want)),
            f"{REPORT_QUERY} differs from its oracle",
        )

    def vacuum(self, c: int, timed: bool) -> None:
        self._op(
            "vacuum",
            lambda: self.merge_mod.vacuum_versions(self.spark, DB_TABLE, keep=2),
            timed,
        )

    def cycle(self, c: int) -> None:
        """One timed cycle, in order."""
        self.merge(c, True)
        self.zappend(c, True)
        self.bappend(c, True)
        for i in range(PROBES):
            self.probe(c, i, True)
        self.scan(c, True)
        self.report(c, True)
        self.vacuum(c, True)

    def final_check(self) -> None:
        n = self.spark.read.parquet(self.zpath).count()
        self._check(n == self.events_total, f"z-layout rows {n} != {self.events_total}")


def install_tracer():
    """Wrap the operator entry points the cycle calls, and the pyspark
    calls they make."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    from nineinfra_spark.operators import bloomindex, merge, zorder
    from tracing import Tracer

    tracer = Tracer()
    tracer.wrap(merge, "merge_into_table_versioned", "operators.merge")
    tracer.wrap(merge, "vacuum_versions", "operators.vacuum")
    tracer.wrap(zorder, "zorder_layout_append", "operators.zappend")
    tracer.wrap(bloomindex, "bloom_index_append", "operators.bappend")
    tracer.wrap(bloomindex, "bloom_skipping_read", "operators.probe")
    tracer.wrap(bloomindex, "bloom_probe_files_table", "operators.probe_bits")
    tracer.wrap(SparkSession, "sql", "sql.plan")
    tracer.wrap(DataFrame, "collect", "sql.exec")
    return tracer


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    from nineinfra_spark.engine import Engine, EngineConfig

    t_setup = time.perf_counter()
    os.environ.update(isolated_env(run_dir))
    conf = engine_conf(run_dir, event_log=trace)
    engine = Engine(
        EngineConfig(
            app_name="perfbench_lakehouse",
            warehouse_dir=os.path.join(run_dir, "warehouse"),
            extra_conf=conf,
        )
    )
    tracer = install_tracer() if trace else None
    t0 = time.perf_counter()
    engine.open()
    open_s = time.perf_counter() - t0
    try:
        if tracer is not None:
            tracer.sc = engine.spark.sparkContext
        lh = Lakehouse(engine.spark, run_dir, seed, tracer)
        t0 = time.perf_counter()
        lh.generate()
        lh.prepare_and_warm()
        load_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        # fixed work: one timed cycle, about 16 s on a 4-core host, sized
        # to fit the benchmark's 20 s runs; ``seconds`` is not used
        lh.cycle(1)
        lh.final_check()
        rss_mb = tree_peak_rss_mb()
    finally:
        if tracer is not None:
            tracer.restore()
        engine.close()
        stop_jvm()

    timed = [o for o in lh.ops if o["timed"]]
    by_kind = {k: [o["lat_s"] * 1000 for o in timed if o["kind"] == k] for k in KINDS}
    p50 = {k: median(v) for k, v in by_kind.items()}
    detail = {
        "samples": {k: len(v) for k, v in by_kind.items()},
        "failed_checks": lh.failed_checks[:10],
        "metrics": {
            "merge_ms_p50": metric(p50["merge"], "ms"),
            "zappend_ms_p50": metric(p50["zappend"], "ms"),
            "bappend_ms_p50": metric(p50["bappend"], "ms"),
            "point_ms_p50": metric(p50["probe"], "ms"),
            "report_ms_p50": metric(p50["report"], "ms"),
            "write_bytes_per_row": metric(
                sum(o["bytes"] for o in timed) / sum(o["rows"] for o in timed), "B/row"
            ),
            "error_rate": metric(len(lh.failed_checks) / len(lh.ops), "ratio"),
        },
    }
    return {
        "attempted": len(lh.ops),
        "failed": len(lh.failed_checks),
        "setup_s": setup_s,
        "ops_per_s": len(timed) / sum(o["lat_s"] for o in timed),
        "op_ms_geomean": geomean([p50[k] for k in GEOMEAN_KINDS]),
        "peak_rss_mb": rss_mb,
        "detail": detail,
        "engine": {"open_s": open_s, "load_s": load_s, "pin_s": 0.0},
        "ops": lh.ops,
        "tracer": tracer,
    }
