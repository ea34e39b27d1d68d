"""Shared helpers for query plan modules."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.sources.readers import read_table

#: root of the warehouse databases the catalog and streaming queries
#: build (≙ the reference's ``/nineinfra/datahouse`` folder)
WAREHOUSE = "/tmp/nineinfra_spark_warehouse"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (column pruning / predicate pushdown
    apply; nanos-timestamp handling lives in sources.readers)."""
    return read_table(spark, sf_dir, name)


def fresh_tables(spark: SparkSession, sf_dir: str, *names: str) -> str:
    """Create (if missing) ``sf_dir``'s warehouse database
    ``nine_wh_<sf>`` at ``{WAREHOUSE}/<db>`` and clear it for the
    tables ``names``: each name and every ``<name>__*`` table the
    operators derive from it (merge and publish stages, displaced and
    archived snapshots) is dropped and its directory removed.
    Other tables are untouched. Returns the database name. Costs one
    ``SHOW TABLES`` and one listing of the database directory.

    Orphaned locations: the in-memory session catalog (a vanilla
    session's) forgets its tables when the process ends, but their
    managed directories stay on disk, and the next CREATE there fails
    with LOCATION_ALREADY_EXISTS. So on that catalog every matching
    directory is removed. A Hive catalog that owned a table already
    removed its directory on DROP (asserted in
    tests/test_catalog_hive.py); there only directories that no
    catalog entry owned are removed."""
    db = "nine_wh_" + os.path.basename(sf_dir).replace(".", "_")
    root = f"{WAREHOUSE}/{db}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{root}'")

    def ours(name: str) -> bool:
        return any(name == n or name.startswith(f"{n}__") for n in names)

    owned = {
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN {db}").collect()
        if not r["isTemporary"] and ours(r["tableName"])
    }
    for name in owned:
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
    is_hive = spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    if os.path.isdir(root):
        for entry in os.listdir(root):
            if ours(entry) and (not is_hive or entry not in owned):
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    return db


def dec(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """Cast to decimal so sums are exact and order-independent — makes
    floating aggregates bit-stable across engines (Spark vs DuckDB
    would otherwise disagree in the last ulp depending on reduce order).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def ts(s: str) -> Column:
    """Literal timestamp from 'YYYY-MM-DD' (testdata dates are timestamps)."""
    return F.lit(s).cast("timestamp")


def ranked_prefix(df, order_cols, value_col, n_parts: int = 32):
    """Distributed global rank + running sum over a total order — the
    replacement for ``Window.orderBy`` WITHOUT ``partitionBy`` (which
    moves the whole input to ONE task; see tests/test_plan_lint.py's
    unpartitioned-WindowExec rule). Returns ``df`` plus two columns:
    ``i`` (1-based global row_number in ``order_cols`` order, bigint)
    and ``cum`` (running sum of ``value_col`` inclusive, bigint).

    Shape: range-repartition on the sort key (parallel exchange),
    freeze partition ids with a localCheckpoint (BOTH consumers below
    must see the SAME boundaries — re-evaluating a range exchange may
    re-sample), then (a) a pid-local PARTITIONED window for local
    rank/prefix and (b) an |n_parts|²-bounded offsets self-join
    (count/sum of all earlier partitions, broadcast back). No stage
    ever holds more than one range partition; callers that use it on
    an unbounded input need the ``bounded-nlj`` tag for the tiny
    offsets theta-join.

    ``order_cols`` must define a TOTAL order (include a tiebreaker
    key) — rows with equal keys could otherwise straddle a range
    boundary and double-count an offset."""
    reserved = {"_pid", "_li", "_lsum", "_pcnt", "_psum",
                "_cnt_off", "_sum_off", "i", "cum"}
    clash = reserved & set(df.columns)
    if clash:
        # withColumn would silently overwrite (or drop, for _pid) a
        # caller column — refuse loudly instead of losing data
        raise ValueError(
            f"ranked_prefix: input columns collide with the helper's "
            f"working/output names: {sorted(clash)}"
        )
    parts = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    pstats = parts.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_pcnt"),
        F.sum(value_col).alias("_psum"),
    )
    offs = (
        pstats.alias("a")
        .join(pstats.alias("b"), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(
            F.coalesce(F.sum("b._pcnt"), F.lit(0)).cast("bigint").alias("_cnt_off"),
            F.coalesce(F.sum("b._psum"), F.lit(0)).cast("bigint").alias("_sum_off"),
        )
    )
    from pyspark.sql import Window

    lw = Window.partitionBy("_pid").orderBy(*order_cols)
    local = parts.withColumn("_li", F.row_number().over(lw)).withColumn(
        "_lsum",
        F.sum(value_col).over(
            lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn("i", (F.col("_li") + F.col("_cnt_off")).cast("bigint"))
        .withColumn("cum", (F.col("_lsum") + F.col("_sum_off")).cast("bigint"))
        .drop("_pid", "_li", "_lsum", "_cnt_off", "_sum_off")
    )


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-gated scan parallelizer for per-row-heavy RELATIONAL
    pipelines (optimization guide §2.5 "input skew: one huge
    unsplittable file → repartition immediately after the read").

    The testdata ships each table as ONE parquet file with ONE row
    group; a row group is the unit of parquet splitting, so the scan
    is a single task and every expression, broadcast-hash-join probe
    and partial aggregate stacked above it runs on one core of N.
    Hash-repartitioning on a deterministic high-cardinality key right
    after the (pushed-down) scan moves that per-row work onto all
    cores for the price of one narrow local shuffle.

    Distinctions vs :func:`cpu_spread` (which stays for the opaque
    text/codec kernels): no ``localCheckpoint`` — plain relational
    consumers don't need a pushdown barrier, and a checkpoint would
    block column pruning/predicate pushdown into the scan; and HASH
    keys instead of keyless round-robin — a keyless ``repartition(n)``
    pays a sort of the whole input inside the serial scan task
    (``spark.sql.execution.sortBeforeRepartition``) and re-draws row
    placement on task retry (SPARK-38388), while hashing a stable key
    is deterministic and sort-free.

    Scale posture: gated on ``len(df.inputFiles()) < defaultParallelism``
    — a real corpus (files >= cores) takes the no-op branch, so the
    exchange does not exist at 100 TB; on the single-file testdata the
    partition count follows ``local[$SPARK_GRAFT_CPUS]``, never a
    constant tuned to this host."""
    if not keys:
        raise ValueError("spread() needs at least one deterministic key column")
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= par:
        return df
    return df.repartition(par, *[F.col(k) for k in keys])


def cpu_spread(df):
    """Adaptive pre-compute repartition for CPU-bound per-row work
    (regex tokenization, array folds): Spark sizes scan partitions by
    BYTES, so a small-but-dense single-file table serializes heavy
    row work on one core. If the scan has fewer files than cores,
    shuffle the (tiny) raw rows once and localCheckpoint — the RDD
    boundary doubles as a predicate-pushdown barrier, without which
    InferFiltersFromGenerate + PushDownPredicates drag the expensive
    expressions back below the repartition into the scan stage. On a
    real corpus (files ≥ cores) this is a no-op branch."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        return df.repartition(par).localCheckpoint(eager=False)
    return df
