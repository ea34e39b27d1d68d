"""Shared fixtures: one SparkSession per test session + DuckDB oracle."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from nineinfra_spark.engine import TPCH_TABLES, Engine, EngineConfig

SF_SMOKE = os.environ.get("NINE_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("NINE_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def engine():
    eng = Engine(EngineConfig(app_name="nineinfra_tests")).open()
    yield eng
    eng.close()


@pytest.fixture(scope="session")
def spark(engine):
    return engine.spark


@pytest.fixture(autouse=True)
def _empty_result_cache():
    """Every test starts with an empty fetch result cache, template
    store and decoded-column cache, so no job count or counter reads
    what an earlier test left."""
    from nineinfra_spark import shortcircuit

    shortcircuit._results.clear()
    shortcircuit._templates.clear()
    shortcircuit._decoded.clear()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs it ran)``,
    counted under a job group once the listener bus has delivered every
    job event."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views,
    matching the driver's oracle setup."""
    con = duckdb.connect()
    for t in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame the way the driver's compare does:
    columns sorted by name, rows sorted by all columns."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _driver_vhash(df: pd.DataFrame) -> str:
    """Mirror of the driver's order-insensitive value hash (cells
    stringified, rows sorted) — see scripts/drive_driver_contract.py."""
    import hashlib

    df = df[sorted(df.columns)]
    rows = sorted(
        repr([str(v) for v in r]) for r in df.itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # decimals / numpy scalars → python
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def assert_matches_oracle(spark, name: str, fn, oracle: str, sf_dir: str = SF_ORACLE):
    """Differential check: Spark result == DuckDB oracle result, exactly.

    Stricter than the driver (exact value equality, not hash) so that
    any reasonable hashing scheme on the driver side also matches.
    """
    got = fn(spark, sf_dir).toPandas()
    con = duck_connect(sf_dir)
    try:
        want = con.execute(oracle).df()
    finally:
        con.close()

    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} oracle={len(want)}"

    g, w = _canon(got), _canon(want)
    for col in g.columns:
        gv = [_norm_cell(x) for x in g[col].tolist()]
        wv = [_norm_cell(x) for x in w[col].tolist()]
        for i, (a, b) in enumerate(zip(gv, wv)):
            if isinstance(a, float) and isinstance(b, float):
                assert a == b or (math.isnan(a) and math.isnan(b)), (
                    f"{name}.{col}[{i}]: spark={a!r} oracle={b!r} (diff={a - b!r})"
                )
            else:
                # timestamps: compare as pandas-normalized values
                if pd.api.types.is_datetime64_any_dtype(g[col]) or pd.api.types.is_datetime64_any_dtype(w[col]):
                    a2, b2 = pd.Timestamp(a), pd.Timestamp(b)
                    assert a2 == b2 or (pd.isna(a2) and pd.isna(b2)), (
                        f"{name}.{col}[{i}]: spark={a2!r} oracle={b2!r}"
                    )
                else:
                    assert a == b, f"{name}.{col}[{i}]: spark={a!r} oracle={b!r}"

    # Driver-faithful hash: the driver stringifies every cell before
    # hashing, so 740 (bigint) vs 740.0 (double) MISMATCHES there even
    # though == passes above. Reproduce that strictness here so dtype
    # drift (e.g. DuckDB HUGEINT sums surfacing as float) is caught in
    # the fast loop, not by the gate.
    assert _driver_vhash(g) == _driver_vhash(w), (
        f"{name}: driver-style value hash differs — dtype/format "
        f"mismatch (e.g. int vs float column)? spark dtypes="
        f"{dict(g.dtypes.astype(str))} oracle dtypes={dict(w.dtypes.astype(str))}"
    )
