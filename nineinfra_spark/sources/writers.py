"""File/table sinks (SURVEY.md §2.1).

The reference platform's whole purpose is storing warehouse data on
object storage (MinIO bucket + ``datahouse/`` folder,
``internal/controller/minio.go:72-121``; metastore-registered tables
under the warehouse root, ``internal/controller/metastore.go:105-114``).
These wrappers are the engine-native write surface: file sinks in
every format, partitioned layout, and managed-table persistence.

Scale notes baked into the defaults:

- Writers never coalesce to one file — output parallelism follows the
  input partitioning, which is what survives a 1000-executor cluster.
- ``partition_by`` produces the Hive ``k=v`` directory layout that
  makes partition pruning work on read (see the pruning query in
  plans/sources_sinks.py).
- Modes are plain Spark save modes; default ``error`` so accidental
  overwrite of warehouse data is loud.
"""

from __future__ import annotations

import contextlib
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _writer(df: DataFrame, mode: str, partition_by: Sequence[str] | None):
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def write_parquet(
    df: DataFrame, path: str, mode: str = "error",
    partition_by: Sequence[str] | None = None,
) -> None:
    _writer(df, mode, partition_by).parquet(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "error",
    partition_by: Sequence[str] | None = None,
) -> None:
    _writer(df, mode, partition_by).orc(path)


def write_csv(
    df: DataFrame, path: str, mode: str = "error",
    partition_by: Sequence[str] | None = None, header: bool = True, **options: str,
) -> None:
    _writer(df, mode, partition_by).options(
        header=str(header).lower(), **options
    ).csv(path)


def write_json(
    df: DataFrame, path: str, mode: str = "error",
    partition_by: Sequence[str] | None = None,
) -> None:
    _writer(df, mode, partition_by).json(path)


def write_text(df: DataFrame, path: str, mode: str = "error") -> None:
    """Text sink: df must have exactly one string column."""
    df.write.mode(mode).text(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "error",
    num_partitions: int | None = None,
    **options: str,
) -> None:
    """JDBC sink (the platform's RDBMS tier — PostgreSQL 16,
    ``internal/controller/postgresql.go:276-355``). Each write
    partition opens one connection and batch-inserts its rows, so
    ``num_partitions`` is the write concurrency knob — size it to what
    the target database accepts, NOT to the cluster (1000 executors
    hammering one Postgres is an outage, not a sink)."""
    if num_partitions is not None and num_partitions != df.rdd.getNumPartitions():
        # repartition, not coalesce: coalesce can only REDUCE (the
        # knob silently no-ops upward) and a coalesce(1) propagates up
        # the plan, serializing the expensive upstream computation
        # onto one task (r11 review finding). The shuffle is the price
        # of an honest concurrency contract.
        df = df.repartition(num_partitions)
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def save_as_table(
    df: DataFrame, name: str, mode: str = "error",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Managed-table sink (≙ metastore-registered tables under the
    warehouse root, ``metastore.go:105-114``)."""
    _writer(df, mode, partition_by).saveAsTable(name)


def partition_columns(spark: SparkSession, table: str) -> list[str]:
    """``table``'s declared partition columns: one catalog lookup
    (``Catalog.listColumns`` runs Spark jobs and costs ~100× more)."""
    state = spark._jsparkSession.sessionState()  # noqa: SLF001
    ident = state.sqlParser().parseTableIdentifier(table)
    cols = state.catalog().getTableMetadata(ident).partitionColumnNames()
    return [cols.apply(i) for i in range(cols.length())]


@contextlib.contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Run the block with ``partitionOverwriteMode=dynamic``, so an
    overwriting ``insertInto`` replaces only the partitions present in
    its data (``insertInto`` ignores the writer option of this name and
    would replace EVERY partition). On exit a mode the session had not
    set is unset again, so its SQL conf text (the fetch caches' key) is
    left as found."""
    jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    saved = spark.conf.get(_OVERWRITE_MODE) if jconf.contains(_OVERWRITE_MODE) else None
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(_OVERWRITE_MODE)
        else:
            spark.conf.set(_OVERWRITE_MODE, saved)


def compact_partitioned_table(
    spark,
    table: str,
    partition_cols: Sequence[str],
    target_file_bytes: int | None = None,
) -> None:
    """Compact a partitioned table's small files (the remediation
    every long-lived warehouse table needs — a 100 TB table fed by
    frequent small appends degrades scan/listing until compacted).

    Two modes:

    - ``target_file_bytes=None`` (default): each partition directory
      ends at ONE file — right for dimension-scale partitions and the
      deterministic contract the registered query pins.
    - ``target_file_bytes=N``: each partition is rewritten into
      ``ceil(partition_bytes / N)`` files — the 100 TB mode. One file
      per partition would be WRONG at scale (a 1 TB partition → one
      1 TB file written by one task and unsplittable pressure on
      every later reader); sizing to ~128 MB keeps write parallelism
      and scan splits healthy. Per-partition byte sizes come from the
      table's CURRENT files (a driver-side listing — the same
      metadata the metastore serves at scale), and rows are salted by
      ``pmod(hash(all non-partition cols), k)`` so each partition
      value spreads across exactly its k writer tasks.

    Mechanics (both modes): read the table, shuffle-repartition so
    each output file's rows land in one task, dynamic-partition
    INSERT OVERWRITE back — partitions not present in the data are
    untouched, readers see either the old or the new complete file
    set (the parquet commit protocol swaps per-partition), and the
    table's schema/metadata are unchanged.

    ``spark``: the SparkSession owning ``table``. ``partition_cols``
    must be exactly the table's declared partition columns — the whole
    mechanism depends on dynamic-partition overwrite engaging; on an
    unpartitioned table (or with the wrong columns) the
    self-referential INSERT OVERWRITE would degenerate into a static
    full overwrite of a path being read, so we validate up front and
    fail with a clear error instead.
    """
    import os

    from pyspark.sql import functions as F

    declared = partition_columns(spark, table)
    if sorted(declared) != sorted(partition_cols):
        raise ValueError(
            f"compact_partitioned_table({table!r}): partition_cols "
            f"{sorted(partition_cols)} != table's declared partition columns "
            f"{sorted(declared)} — compaction requires dynamic-partition "
            f"overwrite on exactly the declared partitioning"
        )
    df = spark.table(table)
    with dynamic_partition_overwrite(spark):
        if target_file_bytes is None:
            n = max(df.select(*partition_cols).distinct().count(), 1)
            out = df.repartition(n, *[df[c] for c in partition_cols])
        else:
            # per-partition-value file budget from the current layout
            location = (
                spark.sql(f"DESCRIBE FORMATTED {table}")
                .filter(F.col("col_name") == "Location")
                .first()["data_type"]
            )
            if not location.startswith("file:"):
                # the driver-side os.walk sizing below only sees a
                # local filesystem — on s3a/hdfs it would yield ZERO
                # budgets and the job would return success having
                # compacted nothing (r11 review finding: fail loudly,
                # never silently no-op a maintenance job)
                raise ValueError(
                    f"compact_partitioned_table({table!r}, "
                    "target_file_bytes=...): byte-budget mode sizes "
                    f"partitions by local directory walk; {location} "
                    "is not a local-filesystem table. Use the "
                    "one-file-per-partition mode (target_file_bytes="
                    "None) or a storage-native listing."
                )
            from urllib.parse import unquote

            root = location.removeprefix("file:")
            budgets = []  # one row per partition value: cols + base + k
            base = 0
            for dirpath, _dirs, files in sorted(os.walk(root)):
                pbytes = sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files
                    if f.endswith(".parquet")
                )
                if pbytes == 0:
                    continue
                rel = os.path.relpath(dirpath, root)
                # Hive %-escapes special chars in k=v dir names
                # ('a:b' → 'a%3Ab') — unquote so the join matches the
                # actual column values (r11 review finding)
                kv = {
                    k: unquote(v)
                    for k, v in (
                        p.split("=", 1) for p in rel.split(os.sep) if "=" in p
                    )
                }
                if sorted(kv) != sorted(partition_cols):
                    continue
                k = max(1, -(-pbytes // target_file_bytes))
                budgets.append([kv[c] for c in partition_cols] + [base, k])
                base += k
            if not budgets:
                raise RuntimeError(
                    f"compact_partitioned_table({table!r}): no "
                    "partition directories with parquet data found "
                    f"under {root} — refusing to run a no-op overwrite"
                )
            schema = (
                ", ".join(f"{c} string" for c in partition_cols) + ", _base int, _k int"
            )
            kmap = spark.createDataFrame(budgets, schema)
            # string-typed join keys: cast the data side to match the
            # k=v directory names the listing produced
            cond = [
                df[c].cast("string") == kmap[c] for c in partition_cols
            ]
            data_cols = [c for c in df.columns if c not in partition_cols]
            # dense global file id: each (partition value, salt) pair
            # gets its own id in [0, total) → range-partitioning on it
            # targets one output file's rows per task. (Approximate,
            # not exact: RangePartitioner samples _fid, so under heavy
            # skew two adjacent dense ids can share a task and its
            # file lands above target — a sizing target, not a hard
            # cap; hash repartition would be strictly worse, merging
            # groups on bucket collisions.)
            salted = (
                df.join(F.broadcast(kmap), cond)
                .drop(*[kmap[c] for c in partition_cols])
                .withColumn(
                    "_fid",
                    F.col("_base") + F.pmod(F.hash(*data_cols), F.col("_k")),
                )
            )
            # inner-join semantics: any row whose partition value found
            # no budget (escaping drift, NULL partition) would be
            # silently DROPPED from the rewrite — verify nothing leaked
            # before overwriting the table with the joined set
            n_df, n_salted = df.count(), salted.count()
            if n_df != n_salted:
                raise RuntimeError(
                    f"compact_partitioned_table({table!r}): "
                    f"{n_df - n_salted} rows matched no partition "
                    "budget (directory-name/value drift, e.g. NULL "
                    "partitions) — aborting before a lossy overwrite"
                )
            total = max(base, 1)
            out = (
                salted.repartitionByRange(total, salted["_fid"])
                .drop("_base", "_k", "_fid")
                .select(*df.columns)  # insertInto matches by position
            )
        out.write.mode("overwrite").insertInto(table, overwrite=True)


def save_as_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    mode: str = "error",
) -> None:
    """Bucketed managed-table sink: rows are hash-partitioned into
    ``n_buckets`` files per partition ON WRITE, so a later join or
    aggregation on the bucket key needs NO shuffle — the 100 TB idiom
    for fact⋈fact joins that repeat (write once, join many times
    exchange-free). Buckets are also sorted by the key, so the join
    side skips its sort.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by).sortBy(*bucket_by)
    writer.saveAsTable(name)
