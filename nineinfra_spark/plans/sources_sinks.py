"""Source/sink + catalog lifecycle queries (SURVEY.md §2.1).

Round-trip pattern: each query WRITES a testdata table through a sink
(CSV/JSON/ORC/text/partitioned-parquet/managed table), READS it back
through the matching source, and returns the re-read contents — the
oracle is plain SELECT over the original parquet view, so any fidelity
loss in either direction fails the hash-match.

Write targets live under ``/tmp/nineinfra_spark_io`` (overwrite mode →
rerunnable). The catalog queries mirror the reference's actual data
model — metastore-registered tables under a warehouse root
(``internal/controller/metastore.go:105-114``,
``ninecluster_types.go:29-31``) — using the session catalog with an
explicit database LOCATION, so they run on any SparkSession.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.plans._util import t
from nineinfra_spark.plans.registry import query
from nineinfra_spark.sources import readers, writers

IO_ROOT = "/tmp/nineinfra_spark_io"
WAREHOUSE = "/tmp/nineinfra_spark_warehouse"


def _out(*parts: str) -> str:
    return os.path.join(IO_ROOT, *parts)


@query(
    "src_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("source", "sink", "csv"),
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV source with explicit schema (no inference pass —
    at scale, inferSchema is a full extra read of the data)."""
    nation = t(spark, sf_dir, "nation")
    path = _out("csv", os.path.basename(sf_dir), "nation")
    writers.write_csv(nation, path, mode="overwrite")
    return readers.read_csv(spark, path, schema=nation.schema)


@query(
    "src_avro_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 7 <> 0 THEN CAST(s_acctbal AS DOUBLE) END
               AS score
    FROM supplier
    """,
    tags=("source", "sink", "avro", "connector"),
    min_spark="4.0",  # the reader rides the Python DataSource API
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File sink → source, via the pure-stdlib
    codec in ``sources/avro_lite.py`` (deflate blocks, nullable-union
    column) — the env ships no spark-avro jar and no Python Avro lib
    (r9 probe, NOTES.md), so the format row is closed with a
    spec-faithful reimplementation: executor-parallel writer (one
    container file per partition), file-per-task Python DataSource
    reader. IEEE doubles cross the binary encoding bit-exactly, so the
    oracle is plain relational."""
    from nineinfra_spark.sources import avro_lite

    supplier = (
        t(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_name",
            F.when(
                F.col("s_suppkey") % 7 != 0, F.col("s_acctbal").cast("double")
            ).alias("score"),
        )
        .repartition(4)
    )
    out = _out("avro", os.path.basename(sf_dir), "supplier")
    avro_lite.write_avro_dataframe(supplier, out, codec="deflate")
    avro_lite.register(spark)
    return spark.read.format("avro_lite").option("path", out).load()


@query(
    "src_json_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("source", "sink", "json"),
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source with explicit schema. Doubles survive
    because Spark serializes with round-trip precision."""
    supplier = t(spark, sf_dir, "supplier")
    path = _out("json", os.path.basename(sf_dir), "supplier")
    writers.write_json(supplier, path, mode="overwrite")
    return readers.read_json(spark, path, schema=supplier.schema).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@query(
    "src_orc_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("source", "sink", "orc"),
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar sink → source (vectorized reader + pushdown, the
    second columnar format the platform stores, SURVEY.md §1.2)."""
    region = t(spark, sf_dir, "region")
    path = _out("orc", os.path.basename(sf_dir), "region")
    writers.write_orc(region, path, mode="overwrite")
    return readers.read_orc(spark, path)


@query(
    "src_text_scan",
    oracle="SELECT n_name AS value FROM nation",
    tags=("source", "sink", "text"),
)
def src_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text sink (one line per row) → text source (one ``value``
    string column per line)."""
    nation = t(spark, sf_dir, "nation")
    path = _out("text", os.path.basename(sf_dir), "nation_names")
    writers.write_text(nation.select(F.col("n_name").cast("string")), path, mode="overwrite")
    return readers.read_text(spark, path)


@query(
    "src_jdbc_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 10 = 0
    GROUP BY o_orderpriority
    """,
    tags=("source", "sink", "jdbc"),
)
def src_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink → partitioned JDBC source, end-to-end against
    embedded Derby (already on Spark's classpath — the metastore uses
    it). The reference platform fronts PostgreSQL over exactly this
    path (``internal/controller/postgresql.go:52-99``,
    ``kyuubi.go:59-63``); only url + driver class differ for a
    networked RDBMS.

    A keyed slice of ``orders`` is written through the JDBC sink, read
    back with ``partitionColumn/lowerBound/upperBound/numPartitions``
    (four range-partitioned SELECTs, each its own connection+task —
    the ONLY scalable way to ingest an RDBMS table), and aggregated;
    the oracle computes the same aggregate from the original parquet,
    so any fidelity loss in either JDBC direction fails the hash.

    Scale posture: the JDBC read is bounded by the DATABASE, not
    Spark — numPartitions is connection concurrency. Doubles survive
    the trip bit-exactly (Derby DOUBLE = IEEE 754); the sum still
    routes through round→decimal per the engine-wide discipline."""
    pid_db = os.path.join(
        "/tmp", f"nine_jdbc_{os.getpid()}", os.path.basename(sf_dir)
    )
    url = f"jdbc:derby:{pid_db};create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    orders = t(spark, sf_dir, "orders")
    slice_ = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    writers.write_jdbc(
        slice_, url, "ORDERS_RT", mode="overwrite", num_partitions=4, **drv
    )
    lo, hi = slice_.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    back = readers.read_jdbc(
        spark,
        url,
        "ORDERS_RT",
        partition_column="o_orderkey",
        num_partitions=4,
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        **drv,
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@query(
    "sink_partitioned_pruning",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
    tags=("sink", "partitioned", "pruning"),
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned write (``o_orderpriority=<v>/`` dirs) +
    partition-pruned read-back: the filter on the partition column is
    resolved against directory names — pruned partitions are never
    opened. At 100 TB this is the difference between scanning 2/5 of
    the table and all of it (verify with .explain: PartitionFilters).
    """
    orders = t(spark, sf_dir, "orders")
    path = _out("part", os.path.basename(sf_dir), "orders_by_priority")
    writers.write_parquet(
        orders, path, mode="overwrite", partition_by=["o_orderpriority"]
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "catalog_table_lifecycle",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
    tags=("catalog", "ddl", "ctas"),
)
def catalog_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full managed-table lifecycle against the session catalog:
    CREATE DATABASE (explicit warehouse LOCATION ≙ the reference's
    ``/nineinfra/datahouse`` root), saveAsTable, CTAS from SQL over
    the registered table, ALTER TABLE ADD COLUMNS (schema evolution on
    a live table), INSERT OVERWRITE (full recompute into the evolved
    schema), read back via the catalog, DROP handled by overwrite
    semantics on re-run. The reference's metastore role implies the
    full DDL verb set (``internal/controller/metastore.go:181-219``);
    the two-session persistence of ALTER/OVERWRITE is asserted in
    tests/test_catalog_hive.py.

    Runs on any session: with the Engine's hive/derby profile
    (``EngineConfig.hive_metastore`` ≙ the platform's persistent Hive
    Metastore, ``metastore.go:105-114``) DROP TABLE alone removes the
    managed location — real lifecycle semantics, verified with a
    second-session read-back in tests/test_catalog_hive.py. On a
    vanilla in-memory-catalog session (the driver's), the catalog
    forgets tables whose managed dirs persist on disk, so orphaned
    locations are cleared explicitly.
    """
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("customer_t", "segment_summary"):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            # Orphaned location: either the in-memory catalog (which
            # never removes managed dirs) or a DIFFERENT catalog
            # instance owned this dir. A hive catalog that owned the
            # table has already removed it via DROP — that semantic is
            # asserted in tests/test_catalog_hive.py.
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    customer = t(spark, sf_dir, "customer")
    writers.save_as_table(customer, f"{db}.customer_t", mode="overwrite")
    # CTAS with the count only; the balance column arrives via ALTER.
    spark.sql(
        f"""
        CREATE TABLE {db}.segment_summary AS
        SELECT c_mktsegment,
               COUNT(*) AS n_customers
        FROM {db}.customer_t
        WHERE c_acctbal > 0
        GROUP BY c_mktsegment
        """
    )
    # Schema evolution on the live table, then a full recompute into
    # the evolved schema — the INSERT OVERWRITE path a nightly rebuild
    # uses (metadata-only ALTER: no data rewrite until the INSERT).
    spark.sql(f"ALTER TABLE {db}.segment_summary ADD COLUMNS (total_bal DOUBLE)")
    spark.sql(
        f"""
        INSERT OVERWRITE TABLE {db}.segment_summary
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM {db}.customer_t
        WHERE c_acctbal > 0
        GROUP BY c_mktsegment
        """
    )
    return spark.read.table(f"{db}.segment_summary")


@query(
    "catalog_insert_overwrite_dynamic",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        WHERE o_orderpriority <> '1-URGENT'
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
    ) final_state
    GROUP BY o_orderpriority
    """,
    tags=("catalog", "ddl", "partitioned", "overwrite"),
)
def catalog_insert_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition INSERT OVERWRITE: replace ONLY the partitions
    present in the incoming data, leave every other partition
    untouched — the idempotent-backfill idiom (re-run yesterday's
    load without wiping the rest of the table). Reference DDL role:
    the metastore manages partitioned warehouse tables
    (``internal/controller/metastore.go:181-219``).

    Lifecycle here: CREATE a partitioned table, INSERT the full orders
    set, then INSERT OVERWRITE a filtered slice of the '1-URGENT'
    partition under ``partitionOverwriteMode=dynamic``. The oracle
    reconstructs the expected final state (non-urgent untouched +
    replaced urgent slice) — STATIC overwrite mode would have wiped
    the other partitions and fail the differential, so the dynamic
    semantic itself is what's verified. At 100 TB the overwrite
    rewrites one partition's files; the others are never read."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    tbl = f"{db}.orders_dynpart"
    owned = spark.catalog.tableExists(tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = f"{WAREHOUSE}/{db}/orders_dynpart"
    if os.path.exists(loc) and (not is_hive or not owned):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)  # orphaned location
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_src_dyn")
    spark.sql(
        f"""
        CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING parquet PARTITIONED BY (o_orderpriority STRING)
        """
    )
    spark.sql(
        f"""
        INSERT INTO {tbl}
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders_src_dyn
        """
    )
    saved_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.sql(
            f"""
            INSERT OVERWRITE TABLE {tbl}
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders_src_dyn
            WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
            """
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved_mode)
    return (
        spark.table(tbl)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "catalog_compact_small_files",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("catalog", "ddl", "partitioned", "compaction"),
)
def catalog_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: a partitioned table is deliberately
    fragmented (16-way repartition before insert → 16 files per
    partition directory), then rewritten with
    ``writers.compact_partitioned_table`` so each partition holds ONE
    file — the remediation every long-lived warehouse table needs
    (frequent small appends at 100 TB degrade scan and listing until
    compacted; the reference's metastore-managed warehouse implies
    exactly this maintenance op). The rewrite is a dynamic-partition
    self-overwrite: untouched partitions stay untouched, content is
    byte-identical — which is what the oracle checks (file-count
    reduction is asserted in tests/test_sources.py)."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    tbl = f"{db}.orders_smallfiles"
    owned = spark.catalog.tableExists(tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = f"{WAREHOUSE}/{db}/orders_smallfiles"
    if os.path.exists(loc) and (not is_hive or not owned):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)  # orphaned location
    spark.sql(
        f"""
        CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING parquet PARTITIONED BY (o_orderpriority STRING)
        """
    )
    (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartition(16)  # manufacture the small-files problem
        .write.mode("append")
        .insertInto(tbl)
    )
    writers.compact_partitioned_table(spark, tbl, ["o_orderpriority"])
    return (
        spark.table(tbl)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "catalog_bucketed_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 450000
    """,
    tags=("catalog", "bucketed", "join"),
)
def catalog_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: both sides written with
    ``bucketBy(8, custkey)`` + sorted buckets, so the join matches
    bucket-to-bucket with NO Exchange on either side (plan-asserted in
    tests/test_sources.py). This is the write-once/join-many-times
    idiom that removes the dominant shuffle from repeated fact⋈fact
    joins at 100 TB — the bucketing survives in the metastore, so
    every later session gets the exchange-free plan for free."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl, src in (("orders_bkt", "orders"), ("customer_bkt", "customer")):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)  # orphaned location
    writers.save_as_bucketed_table(
        t(spark, sf_dir, "orders"), f"{db}.orders_bkt", ["o_custkey"], 8,
        mode="overwrite",
    )
    writers.save_as_bucketed_table(
        t(spark, sf_dir, "customer"), f"{db}.customer_bkt", ["c_custkey"], 8,
        mode="overwrite",
    )
    o = spark.table(f"{db}.orders_bkt").filter(F.col("o_totalprice") > 450000)
    c = spark.table(f"{db}.customer_bkt")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@query(
    "catalog_partsupp_bucketed",
    oracle=None,  # set just below — needs tpch's partsupp CTE
    tags=("catalog", "bucketed", "agg", "ext"),
)
def catalog_partsupp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once for the derived ``partsupp``: CTAS the
    synthetic relation (see ``tpch._partsupp``) into a table BUCKETED
    by ``ps_partkey``, then compute the per-part supply profile
    (min cost / total availability / supplier count) straight off the
    buckets — the aggregation's grouping key matches the bucketing,
    so the plan has NO Exchange (asserted in tests/test_sources.py).

    This is the production answer to deriving partsupp per query
    (NOTES.md r6 plan audit): at 100 TB the derivation runs once,
    the bucket layout persists in the metastore, and every later
    per-partkey join or aggregate — q2's min-cost probe, q11's value
    rollup — reads it exchange-free."""
    from nineinfra_spark.plans.tpch import _partsupp

    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    tbl = f"{db}.partsupp_bkt"
    owned = spark.catalog.tableExists(tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = f"{WAREHOUSE}/{db}/partsupp_bkt"
    if os.path.exists(loc) and (not is_hive or not owned):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)  # orphaned location
    writers.save_as_bucketed_table(
        _partsupp(spark, sf_dir), tbl, ["ps_partkey"], 8, mode="overwrite"
    )
    return (
        spark.table(tbl)
        .groupBy("ps_partkey")
        .agg(
            F.min("ps_supplycost").cast("double").alias("min_cost"),
            F.sum("ps_availqty").cast("bigint").alias("total_avail"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


def _partsupp_bucketed_oracle() -> str:
    from nineinfra_spark.plans.tpch import _PARTSUPP_CTE

    return (
        _PARTSUPP_CTE
        + """
    SELECT ps_partkey,
           CAST(MIN(ps_supplycost) AS DOUBLE) AS min_cost,
           CAST(SUM(ps_availqty) AS BIGINT) AS total_avail,
           COUNT(*) AS n_suppliers
    FROM partsupp
    GROUP BY ps_partkey
    """
    )



_MERGE_BASE_HEX = "('0','1','2','3','4','5','6','7')"
_MERGE_UPD_HEX = "('0','9')"


@query(
    "catalog_merge_upsert",
    oracle=f"""
    WITH base AS (
        SELECT * FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN {_MERGE_BASE_HEX}
    ),
    upd AS (
        SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN {_MERGE_UPD_HEX}
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM upd
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    """,
    tags=("catalog", "ddl", "merge", "upsert"),
)
def catalog_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO against a live managed table — the row-level-update
    verb the warehouse's plain-parquet storage lacks natively,
    implemented as the lakehouse copy-on-write snapshot merge
    (``operators/merge.py``): base snapshot → merge_upsert (update
    matched, insert new) → stage table → ALTER RENAME swap. The base
    is a deterministic half of ``orders`` (md5 bucket 0-7); the
    updates batch doubles o_totalprice and restamps status 'M' for an
    overlapping slice (bucket 0 — matched → UPDATE) plus a disjoint
    slice (bucket 9 — unmatched → INSERT). The oracle states the same
    MERGE in ANSI SQL (update-wins union + NOT IN), so the swap's
    visible result is verified row-for-row.

    Scale posture: the merge is ONE key-keyed anti-join (AQE
    broadcasts the dimension-sized updates batch over the base scan)
    and the swap is a metastore rename — no reader ever sees a
    partial table, and nothing touches the driver. o_totalprice * 2
    is exact IEEE doubling — bit-stable on both engines."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("orders_m", "orders_m__merge_stage"):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    hx = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    base = orders.filter(hx.isin(*"01234567"))
    writers.save_as_table(base, f"{db}.orders_m", mode="overwrite")
    updates = orders.filter(hx.isin("0", "9")).select(
        "o_orderkey",
        "o_custkey",
        F.lit("M").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    from nineinfra_spark.operators.merge import merge_into_table

    merge_into_table(spark, f"{db}.orders_m", updates, keys=["o_orderkey"])
    return spark.read.table(f"{db}.orders_m").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@query(
    "catalog_rollup_incremental",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS m, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("catalog", "rollup", "mv", "incremental"),
)
def catalog_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup (materialized-view) maintenance — the OLAP
    serving tier's pre-aggregation kept fresh without full recompute
    (≙ the Doris rollup the reference's OLAP role serves,
    ``internal/controller/doris.go:20-28``):

    1. a month-partitioned fact table is loaded with history
       (o_orderdate < 2001), and its rollup (month × status → count,
       revenue) is fully computed once;
    2. a late batch (the 2001 months) APPENDS to the fact table;
    3. the refresh recomputes ONLY the arrived months — the fact read
       is partition-PRUNED to the affected months and the rollup
       write is a dynamic-partition overwrite of exactly those
       partitions. Untouched months keep their v1 files.

    The oracle states the full aggregate over ALL orders, so the
    differential gate proves incremental maintenance converged to the
    full recompute. At 100 TB this is the only affordable shape: cost
    scales with the arrived partitions, not table history; the
    refresh agg map-side-combines within each pruned partition."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("sales_fact", "sales_rollup"):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("o_price"),
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
    )
    cutoff = F.lit("2001-01-01").cast("timestamp")
    history = orders.filter(F.col("o_orderdate") < cutoff).drop("o_orderdate")
    arrivals = orders.filter(F.col("o_orderdate") >= cutoff).drop("o_orderdate")

    writers.save_as_table(history, f"{db}.sales_fact", partition_by=["m"])

    def rollup_of(fact: DataFrame) -> DataFrame:
        return fact.groupBy("m", "o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_price").cast("double").alias("total_price"),
        ).select("o_orderstatus", "n_orders", "total_price", "m")

    writers.save_as_table(
        rollup_of(spark.table(f"{db}.sales_fact")),
        f"{db}.sales_rollup",
        partition_by=["m"],
    )

    # -- the incremental cycle ---------------------------------------
    arrivals.select(*spark.table(f"{db}.sales_fact").columns).write.mode(
        "append"
    ).insertInto(f"{db}.sales_fact")
    affected = [r["m"] for r in arrivals.select("m").distinct().collect()]

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        pruned = spark.table(f"{db}.sales_fact").filter(F.col("m").isin(affected))
        rollup_of(pruned).write.mode("overwrite").insertInto(
            f"{db}.sales_rollup", overwrite=True
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    return spark.table(f"{db}.sales_rollup").select(
        "m", "o_orderstatus", "n_orders", "total_price"
    )


_ANALYZE_COLS = ("c_custkey", "c_mktsegment", "c_acctbal")


@query(
    "catalog_analyze_stats",
    oracle=f"""
    WITH exact AS (
        SELECT 'c_custkey' AS col_name,
               COUNT(*) FILTER (WHERE c_custkey IS NULL) AS num_nulls,
               COUNT(DISTINCT c_custkey) AS exact_ndv
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment',
               COUNT(*) FILTER (WHERE c_mktsegment IS NULL),
               COUNT(DISTINCT c_mktsegment)
        FROM customer
        UNION ALL
        SELECT 'c_acctbal',
               COUNT(*) FILTER (WHERE c_acctbal IS NULL),
               COUNT(DISTINCT c_acctbal)
        FROM customer
    )
    SELECT col_name, CAST(num_nulls AS BIGINT) AS num_nulls,
           CAST(exact_ndv AS BIGINT) AS exact_ndv,
           TRUE AS ndv_ok
    FROM exact
    """,
    tags=("catalog", "stats", "analyze"),
)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS — the
    optimizer-statistics surface a metastore-backed warehouse relies
    on for CBO join ordering and broadcast decisions
    (``internal/controller/metastore.go:181-219`` implies the full
    Hive DDL/stats verb set). The query ANALYZEs a managed copy of
    ``customer``, reads back the catalog's per-column stats
    (DESCRIBE EXTENDED t col), and emits per column: the catalog's
    exact null count, the EXACT ndv recomputed from data, and
    ``ndv_ok`` = catalog's HLL-approximate distinct_count within
    ±15% of exact (3× the sketch's 5% relative standard deviation) — the same exact-vs-sketch
    bounds-boolean contract as `agg_approx_sketches` (an approximate
    value can't be hash-compared, its correctness bound can).

    Scale posture: ANALYZE is one scan with a map-side-combinable
    sketch per column; DESCRIBE is a metastore lookup. The stats
    power the CBO at 100 TB — this query makes the repo's claim to
    that machinery testable."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    tbl = f"{db}.customer_stats"
    owned = spark.catalog.tableExists(tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = f"{WAREHOUSE}/{db}/customer_stats"
    if os.path.exists(loc) and (not is_hive or not owned):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
    customer = t(spark, sf_dir, "customer")
    writers.save_as_table(customer, tbl)
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {', '.join(_ANALYZE_COLS)}"
    )

    rows = []
    for c in _ANALYZE_COLS:
        kv = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} {c}").collect()
        }
        rows.append((c, int(kv["num_nulls"]), int(kv["distinct_count"])))
    catalog_stats = spark.createDataFrame(
        rows, "col_name string, num_nulls long, approx_ndv long"
    )

    exact = None
    for c in _ANALYZE_COLS:
        e = customer.agg(
            F.lit(c).alias("col_name"),
            F.countDistinct(F.col(c)).cast("bigint").alias("exact_ndv"),
        )
        exact = e if exact is None else exact.unionAll(e)

    return (
        catalog_stats.join(exact, "col_name")
        .select(
            "col_name",
            "num_nulls",
            "exact_ndv",
            (
                (F.col("approx_ndv") * 100 >= F.col("exact_ndv") * 85)
                & (F.col("approx_ndv") * 100 <= F.col("exact_ndv") * 115)
            ).alias("ndv_ok"),
        )
    )

# late-bind the oracle (avoids importing tpch before registration)
from nineinfra_spark.plans import registry as _registry  # noqa: E402

_registry.get("catalog_partsupp_bucketed").oracle = _partsupp_bucketed_oracle()


@query(
    "catalog_merge_timetravel",
    oracle=f"""
    WITH v0 AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN {_MERGE_BASE_HEX}
    ),
    upd AS (
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN {_MERGE_UPD_HEX}
    ),
    v1 AS (
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM v0 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    ),
    v2 AS (
        SELECT * FROM v1
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <> '1'
    ),
    states AS (
        SELECT 0 AS version, * FROM v0
        UNION ALL SELECT 1, * FROM v1
        UNION ALL SELECT 2, * FROM v2
    )
    SELECT version,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM states GROUP BY version
    """,
    tags=("catalog", "merge", "timetravel"),
)
def catalog_merge_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on plain warehouse tables: two successive
    MERGEs run through ``merge_into_table_versioned`` — each archives
    the pre-merge snapshot as ``{{table}}__v{{n}}`` before the staged
    result takes the live name — and the query then reads ALL THREE
    states (v0 original, v1 after the upsert, current after the
    delete-merge) in one result. The oracle derives the same three
    states relationally, so every archived snapshot is verified, not
    just the head. ``vacuum_versions`` (retention) is exercised in
    tests/test_merge.py.

    Scale posture: identical to `catalog_merge_upsert` per merge (one
    key-keyed join, metastore rename swap); archiving is a RENAME —
    zero data movement — and old-version reads are plain scans, no
    delta-chain replay. Retention cost is a table drop."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in (
        "orders_tt",
        "orders_tt__v0",
        "orders_tt__v1",
        "orders_tt__merge_stage",
    ):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    # sweep any uniquely-named stage tables a crashed versioned merge
    # left behind (catalog-sized listing; normally empty)
    for r in spark.sql(f"SHOW TABLES IN {db}").collect():
        if r["tableName"].startswith(("orders_tt__stage_", "orders_tt__merge_old")):
            spark.sql(f"DROP TABLE IF EXISTS {db}.{r['tableName']}")
    orders = t(spark, sf_dir, "orders")
    hx = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    base = orders.filter(hx.isin(*"01234567")).select(
        "o_orderkey", "o_totalprice"
    )
    writers.save_as_table(base, f"{db}.orders_tt", mode="overwrite")

    from nineinfra_spark.operators.merge import (
        merge_into_table_versioned,
        read_version,
    )

    updates = orders.filter(hx.isin("0", "9")).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    merge_into_table_versioned(
        spark, f"{db}.orders_tt", updates, keys=["o_orderkey"]
    )
    deletes = orders.filter(hx == "1").select("o_orderkey", "o_totalprice")
    merge_into_table_versioned(
        spark, f"{db}.orders_tt", deletes, keys=["o_orderkey"],
        when_matched="delete",
    )

    def _state(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        ).select(F.lit(version).alias("version"), "n_rows", "sum_price")

    return (
        _state(read_version(spark, f"{db}.orders_tt", 0), 0)
        .unionAll(_state(read_version(spark, f"{db}.orders_tt", 1), 1))
        .unionAll(_state(spark.table(f"{db}.orders_tt"), 2))
    )


@query(
    "catalog_view_lifecycle",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_big,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders
    WHERE o_totalprice > 400000
    GROUP BY o_orderpriority
    """,
    tags=("catalog", "ddl", "view"),
)
def catalog_view_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEW DDL lifecycle: a catalog VIEW (persistent definition over
    a warehouse table) and a TEMP VIEW (session-scoped) are created,
    queried through — the final aggregate reads the temp view which
    reads the catalog view which reads the table — and the catalog
    view is verified replaceable (CREATE OR REPLACE changes the
    predicate; the oracle states the final definition). Views are
    definition-only: Catalyst inlines them, so the executed plan is
    identical to querying the base table with the view's predicate
    pushed to the scan.

    Scale: a metadata feature — plans exactly as the inlined query."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    spark.sql(f"DROP VIEW IF EXISTS {db}.big_orders_v")
    for tbl in ("orders_for_view",):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    writers.save_as_table(orders, f"{db}.orders_for_view", mode="overwrite")
    # first definition, then replaced — the REPLACE must win
    spark.sql(
        f"CREATE VIEW {db}.big_orders_v AS"
        f" SELECT * FROM {db}.orders_for_view WHERE o_totalprice > 100000"
    )
    spark.sql(
        f"CREATE OR REPLACE VIEW {db}.big_orders_v AS"
        f" SELECT * FROM {db}.orders_for_view WHERE o_totalprice > 400000"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW big_orders_tmp AS"
        f" SELECT o_orderpriority, o_totalprice FROM {db}.big_orders_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_big,
               CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM big_orders_tmp
        GROUP BY o_orderpriority
        """
    )


@query(
    "catalog_rollup_routing",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("catalog", "rollup", "mv", "routing"),
)
def catalog_rollup_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view ROUTING (≙ Doris rollup selection,
    ``internal/controller/doris.go:20-28``): a (month × status) rollup
    with additive measures is materialized once; a status-only
    aggregate is then answered FROM THE ROLLUP by
    ``operators/mv.route_aggregate`` — re-summing over the absent
    month dim and deriving AVG as Σsum/Σcount (never re-averaging, the
    classic MV wrong-answer). The oracle aggregates the raw fact, so
    the differential proves routed == fact-computed; the routed plan
    never scanning the fact, and the router refusing non-containable
    requests, are pinned in tests/test_mv_routing.py.

    Scale posture: the routed read touches |months×statuses| rows —
    the fact table's size is irrelevant to the query, which is the
    entire point of a serving rollup."""
    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("sales_rollup_rt",):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)

    orders = t(spark, sf_dir, "orders")
    rollup = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
            "o_orderstatus",
            F.round("o_totalprice", 2).cast("decimal(18,2)").alias("p"),
        )
        .groupBy("m", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("p").alias("sum_price"),
        )
    )
    writers.save_as_table(rollup, f"{db}.sales_rollup_rt", mode="overwrite")

    from nineinfra_spark.operators.mv import RollupSpec, route_aggregate

    spec = RollupSpec(
        table=f"{db}.sales_rollup_rt",
        dims=("m", "o_orderstatus"),
        sums=("sum_price",),
        counts=("n_orders",),
    )
    routed = route_aggregate(
        spark,
        spec,
        group_by=["o_orderstatus"],
        measures={
            "n_orders": ("count", "n_orders"),
            "total_price": ("sum", "sum_price"),
            "avg_price": ("avg", "sum_price", "n_orders"),
        },
    )
    assert routed is not None  # containment holds by construction here
    return routed.select(
        "o_orderstatus",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        "avg_price",
    )


@query(
    "catalog_masked_view",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS c_name_masked,
           CAST(FLOOR(c_acctbal / 1000) * 1000 AS DOUBLE) AS acctbal_band,
           c_mktsegment
    FROM customer
    """,
    tags=("catalog", "security", "masking"),
)
def catalog_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column masking for non-privileged access (the Ranger-style
    policy layer a shared SQL gateway needs; the reference's auth
    model stops at connection auth — ``kyuubi.go:55-64`` — so the
    masking itself is engine-side): a SECURE VIEW over customer that
    redacts identifying digits from names and coarsens account
    balances to 1000-unit bands. Analysts query the view name;
    the base table stays ACL'd. The gateway tier (rest.py/auth.py)
    decides WHO gets which view; this query pins WHAT the masked
    surface computes.

    Masking must be deterministic and engine-stable: digit redaction
    is a charclass regexp_replace, banding is floor division on the
    exact value — no hashing, no salt, so the oracle replicates the
    masked relation bit-for-bit. Scale: a projection — masked views
    inline into the scan like any view."""
    cust = t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer_base_tmp")
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY VIEW customer_masked_tmp AS
        SELECT c_custkey,
               regexp_replace(c_name, '[0-9]', '*') AS c_name_masked,
               CAST(FLOOR(c_acctbal / 1000) * 1000 AS DOUBLE) AS acctbal_band,
               c_mktsegment
        FROM customer_base_tmp
        """
    )
    return spark.table("customer_masked_tmp")


# -- binary-file source (multimodal ingestion) ------------------------------

BINFILE_MOD = 25  # stage every 25th doc as a standalone payload file


def _stage_binary_files(sf_dir: str) -> str:
    """Driver-side fixture stager (the same pattern as the streaming
    file stager): materialize a bounded subset of document payloads as
    standalone ``<doc_id>.bin`` files so the binaryFile SOURCE — the
    operator under test — has a real media-style directory to ingest.
    Idempotent per (sf, content); bounded at |docs|/25 files."""
    import pyarrow.parquet as pq

    out = _out("binfiles", os.path.basename(sf_dir))
    done = os.path.join(out, "_STAGED")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        if doc_id % BINFILE_MOD == 0:
            with open(os.path.join(out, f"{doc_id}.bin"), "wb") as f:
                f.write(text.encode("utf-8"))
    with open(done, "w") as f:
        f.write("ok")
    return out


@query(
    "src_binaryfile_scan",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id % 25 = 0
    """,
    tags=("source", "binary", "multimodal"),
)
def src_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file SOURCE (`spark.read.format("binaryFile")`) — the
    ingestion path for real media lakes, where images/audio live as
    objects and Spark lists + reads them into (path, modificationTime,
    length, content) rows. A bounded subset of document payloads is
    staged as ``<doc_id>.bin`` files (driver-side fixture, same
    pattern as the streaming stager); the query ingests the DIRECTORY
    with a ``pathGlobFilter`` and emits per-file size + content md5,
    which the oracle recomputes from the source-of-truth rows — any
    byte lost or reordered in the listing→read path fails the hash.

    Scale posture: binaryFile is a standard FileScan — parallel by
    file, partition-prunable by path, driver holds only the listing.
    At 100 TB the same plan reads an object-store prefix; the
    per-file `content` column stays columnar-batched and is pruned
    away when a query touches only path/length metadata."""
    src_dir = _stage_binary_files(sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(src_dir)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "catalog_delete_update",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7')
    ),
    after_delete AS (
        SELECT * FROM base WHERE NOT (o_orderpriority = '5-LOW')
    ),
    after_update AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderpriority = '1-URGENT' THEN price * 2
                    ELSE price END AS price
        FROM after_delete
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM after_update GROUP BY o_orderpriority
    """,
    tags=("catalog", "delete", "update", "row-level"),
)
def catalog_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE + UPDATE on a plain warehouse table — the two
    lakehouse mutations MERGE doesn't cover (OSS Spark SQL has neither
    on parquet; Delta/Iceberg's copy-on-write forms are exactly these
    plans plus a manifest). ``operators/merge.delete_where`` removes
    the '5-LOW' slice, ``update_where`` doubles '1-URGENT' prices;
    the table is unpartitioned, so both swap in the whole snapshot via
    the rename-first publish, and the oracle derives the same final
    state relationally — so predicate scoping (UPDATE must not touch
    unmatched rows) and the swap's atomicity are both hash-verified.
    `catalog_delete_partition_scoped` runs the same two calls on a
    partitioned table.

    Scale posture: each mutation is one declarative scan→project→
    write with the input's parallelism. Doubling is exact IEEE; sums
    go through round→decimal."""
    from nineinfra_spark.operators.merge import delete_where, update_where

    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("orders_du", "orders_du__merge_stage", "orders_du__merge_old"):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    hx = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    base = orders.filter(hx.isin(*"01234567")).select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
    )
    writers.save_as_table(base, f"{db}.orders_du", mode="overwrite")

    delete_where(spark, f"{db}.orders_du", "o_orderpriority = '5-LOW'")
    update_where(
        spark,
        f"{db}.orders_du",
        "o_orderpriority = '1-URGENT'",
        {"price": "price * 2"},
    )
    return (
        spark.table(f"{db}.orders_du")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "catalog_delete_partition_scoped",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7')
    ),
    after_partial_delete AS (
        SELECT * FROM base
        WHERE NOT (o_orderpriority = '5-LOW' AND o_orderkey % 3 = 0)
    ),
    after_full_delete AS (
        SELECT * FROM after_partial_delete
        WHERE NOT (o_orderpriority = '2-HIGH')
    ),
    after_update AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderpriority = '1-URGENT' THEN price * 2
                    ELSE price END AS price
        FROM after_full_delete
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM after_update GROUP BY o_orderpriority
    """,
    tags=("catalog", "delete", "update", "partitioned", "row-level"),
)
def catalog_delete_partition_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-SCOPED row-level DELETE + UPDATE — the same
    `operators/merge.delete_where` / `update_where` calls as
    `catalog_delete_update`, on a table partitioned by
    `o_orderpriority`, which makes them take the 100 TB form: instead
    of rewriting the full snapshot per mutation, only the partitions
    containing matched rows are rewritten via dynamic-partition INSERT
    OVERWRITE, and a fully-emptied partition is DROPPED rather than
    silently resurrected. Three mutations exercise the three shapes: a partial
    delete inside one partition (only `5-LOW` rewrites), a whole-
    partition delete (`2-HIGH` is dropped), and a scoped update
    (only `1-URGENT` rewrites). The oracle derives the same final
    state relationally; `tests/test_merge.py::
    TestPartitionScopedMutation` additionally pins that untouched
    partitions keep byte-identical files.

    Scale: each mutation's rewrite cost is proportional to the
    AFFECTED partitions, not the table — the same file-pruning
    contract as Delta/Iceberg copy-on-write, with partition grain
    standing in for file grain. Reference parity: the warehouse
    tables the reference registers in its metastore
    (``internal/controller/metastore.go:105-114``) are exactly such
    partitioned parquet tables."""
    from nineinfra_spark.operators.merge import delete_where, update_where

    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("orders_pp",):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    hx = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    base = orders.filter(hx.isin(*"01234567")).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        "o_orderpriority",
    )
    writers.save_as_table(
        base, f"{db}.orders_pp", mode="overwrite",
        partition_by=["o_orderpriority"],
    )

    delete_where(
        spark, f"{db}.orders_pp",
        "o_orderpriority = '5-LOW' AND o_orderkey % 3 = 0",
    )
    delete_where(spark, f"{db}.orders_pp", "o_orderpriority = '2-HIGH'")
    update_where(
        spark, f"{db}.orders_pp",
        "o_orderpriority = '1-URGENT'",
        {"price": "price * 2"},
    )
    return (
        spark.table(f"{db}.orders_pp")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "src_parquet_schema_merge",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(NULL AS DOUBLE) AS price
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, o_orderpriority,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey % 100 = 1
    """,
    tags=("source", "parquet", "schema-evolution"),
)
def src_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches land in one
    directory with DIFFERENT schemas (the second batch grew a
    ``price`` column — the standard additive-evolution event in a
    long-lived ingest directory), and ``mergeSchema=true`` reconciles
    them — old files surface NULL for the new column, nothing is
    rewritten. The oracle derives the same union relationally, so a
    reader that drops the new column (footer-sampling default) or
    misaligns old rows fails the hash.

    Scale posture: schema merge costs one footer read per file AT
    PLANNING (that is why it's opt-in); the scan itself stays
    parallel and column-pruned. The durable practice at 100 TB is
    catalog-declared schemas (ALTER TABLE ADD COLUMNS —
    `catalog_table_lifecycle`), with mergeSchema as the
    evolution-discovery tool."""
    orders = t(spark, sf_dir, "orders")
    path = _out("schemamerge", os.path.basename(sf_dir), "orders_evolving")
    old = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    new = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
    )
    writers.write_parquet(old, path, mode="overwrite")
    new.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.select("o_orderkey", "o_orderpriority", "price")


# -- malformed-input handling (CSV parse modes) -----------------------------

CSV_BAD_MOD = 7  # every 7th staged key becomes a malformed line


def _stage_malformed_csv(sf_dir: str) -> str:
    """Driver-side fixture: a CSV of (o_orderkey, o_orderpriority,
    price) rows for keys ≡ 3 (mod 10), where every key ≡ 0 (mod 7)
    line is WRITTEN BROKEN (a single unparseable token) — a fully
    deterministic corpus of good and bad lines, so every mode's
    row count has an exact relational oracle."""
    import pyarrow.parquet as pq

    out = _out("badcsv", os.path.basename(sf_dir))
    path = os.path.join(out, "orders_dirty.csv")
    if os.path.exists(path):
        return path
    os.makedirs(out, exist_ok=True)
    tbl = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    lines = []
    for k, pri, price in zip(
        tbl["o_orderkey"].to_pylist(),
        tbl["o_orderpriority"].to_pylist(),
        tbl["o_totalprice"].to_pylist(),
    ):
        if k % 10 != 3:
            continue
        if k % CSV_BAD_MOD == 0:
            lines.append(f"BROKEN_{k}")
        else:
            lines.append(f"{k},{pri},{round(price, 2)}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


@query(
    "src_csv_malformed_modes",
    oracle=f"""
    WITH staged AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN o_orderkey % {CSV_BAD_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN o_orderkey % {CSV_BAD_MOD} = 0
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_dropmalformed,
           TRUE AS failfast_raises
    FROM staged
    """,
    tags=("source", "csv", "malformed", "bounded-nlj"),  # 1-row agg crosses
)
def src_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-data handling on the CSV source — the operational surface
    every real ingest hits. One deterministic dirty file (every 7th
    key written as an unparseable token), read under all three parse
    modes:

    - PERMISSIVE + ``columnNameOfCorruptRecord``: every line becomes a
      row; corrupt ones carry the raw line in the quarantine column
      (nulls elsewhere) — counted here and verified against the
      construction rule;
    - DROPMALFORMED: bad lines silently vanish — the surviving count
      must equal lines − corrupt;
    - FAILFAST: the first bad line aborts the scan — asserted by
      catching the raised error (the oracle pins literal TRUE).

    Scale posture: parse modes are per-task streaming decisions — no
    extra pass, no shuffle; PERMISSIVE quarantine is the 100 TB
    pattern (load everything, route ``_corrupt`` rows to a dead-letter
    table) because DROPMALFORMED destroys evidence and FAILFAST turns
    one bad byte into a dead job."""
    path = _stage_malformed_csv(sf_dir)
    schema = "o_orderkey long, o_orderpriority string, price double, _corrupt string"
    # .cache() is the documented workaround for Spark's refusal to run
    # a query whose referenced columns are ONLY the corrupt-record
    # column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # the fixture is bounded, so the cache is a few KB.
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .cache()
    )
    counts = permissive.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
    )
    # count(1) over CSV is answered WITHOUT parsing rows (Spark skips
    # conversion when no data column is referenced), which would make
    # DROPMALFORMED drop nothing and FAILFAST never fail — aggregate a
    # REAL column so every line goes through the parser.
    dropped = (
        spark.read.schema("o_orderkey long, o_orderpriority string, price double")
        .option("mode", "DROPMALFORMED")
        .csv(path)
        .agg(F.count("o_orderkey").cast("bigint").alias("n_dropmalformed"))
    )
    try:
        (
            spark.read.schema(
                "o_orderkey long, o_orderpriority string, price double"
            )
            .option("mode", "FAILFAST")
            .csv(path)
            .agg(F.sum("o_orderkey"))
            .collect()
        )
        failfast_raises = False
    except Exception:
        failfast_raises = True
    return counts.crossJoin(dropped).select(
        "n_lines",
        "n_corrupt",
        "n_dropmalformed",
        F.lit(failfast_raises).alias("failfast_raises"),
    )


# -- custom connector via the Python DataSource API -------------------------

SYNTH_N = 2000
SYNTH_PARTS = 8


@query(
    "src_python_datasource",
    oracle=f"""
    WITH ks AS (
        SELECT unnest(generate_series(0, {SYNTH_N - 1})) AS k
    ),
    h AS (
        SELECT k,
               CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   AS hv
        FROM ks
    )
    SELECT k AS event_id,
           hv % 1000 AS user_id,
           k AS ts_offset_s,
           (hv // 1000 % 1000000) / 100.0 AS value
    FROM h
    """,
    tags=("source", "connector", "python-datasource"),
    min_spark="4.0",  # Python DataSource API

)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM SOURCE CONNECTOR end-to-end through Spark's Python
    DataSource API (SPARK-44076) — the native way to add a connector
    the platform doesn't ship, with no JVM build: ``nine_synth``
    (``sources/pyds.py``) registers via ``spark.dataSource.register``
    and reads as ``format("nine_synth")``, its ``partitions()``
    splitting the keyspace into contiguous ranges so each task
    generates only its slice (executor-parallel, nothing through the
    driver). Rows are md5-derived, so the DuckDB oracle reproduces the
    EXACT relation from the parameters alone — connector fidelity is
    hash-verified row-for-row.

    Scale posture: a synthetic source is bounded by CPU, not I/O —
    numPartitions is the parallelism knob; the same API shape (range
    partitions + per-task iterators) is how a real REST/scan connector
    would parallelize. Python-per-row is the API's contract for the
    SOURCE; everything after the scan is ordinary codegen."""
    from nineinfra_spark.sources import pyds

    pyds.register(spark)
    return (
        spark.read.format("nine_synth")
        .option("n", str(SYNTH_N))
        .option("numPartitions", str(SYNTH_PARTS))
        .load()
    )


@query(
    "src_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(n_nationkey AS DOUBLE) / 4 AS weight
    FROM nation
    """,
    tags=("source", "sink", "xml"),
    min_spark="4.0",  # built-in XML source (SPARK-44265)
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML source with an explicit schema (Spark 4's
    built-in XML data source — previously the separate spark-xml
    package). One element per row under ``rowTag``; a double column
    proves numeric fidelity through the text encoding (Spark writes
    doubles with round-trip precision, and /4 is exact binary so the
    value is representable).

    Scale posture: XML is a row-amplifying text format — fine for
    config/feed ingestion, wrong for fact tables; the roundtrip uses
    the dimension-sized ``nation``. Explicit schema on read (schema
    inference over XML is a full extra pass, same rule as CSV/JSON).
    Reference parity: the reference's Spark images bundle spark-xml
    for feed ingestion alongside CSV/JSON (config-driven formats,
    ``internal/controller/ninecluster_types.go:29-38``)."""
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        (F.col("n_nationkey").cast("double") / 4).alias("weight"),
    )
    path = _out("xml", os.path.basename(sf_dir), "nation")
    nation.write.format("xml").option("rowTag", "nation").mode(
        "overwrite"
    ).save(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(nation.schema)
        .load(path)
    )


def _safe_identity(user: str) -> str:
    """Validate a policy identity before it may appear inside view
    SQL. The grantee here is a constant, but the deployment path
    feeds it from the gateway's doAs identity (client-controlled
    X-Proxy-User) — interpolating that unchecked into the policy
    predicate would be SQL-injectable (r9 ADVICE finding). CREATE
    VIEW is DDL, which Spark's parameterized ``spark.sql(sql, args)``
    cannot cover, so the identity is allowlist-validated instead:
    lowercase identifier characters only, same charset as the auth
    table's user names."""
    import re as _re

    if not _re.fullmatch(r"[a-z][a-z0-9_]{0,63}", user):
        raise ValueError(f"invalid policy identity: {user!r}")
    return user


@query(
    "catalog_rls_view",
    oracle="""
    WITH policy AS (
        SELECT 'analyst_emea' AS grantee, 'BUILDING' AS segment
        UNION ALL SELECT 'analyst_emea', 'MACHINERY'
        UNION ALL SELECT 'analyst_apac', 'AUTOMOBILE'
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    JOIN policy p
      ON p.segment = c.c_mktsegment AND p.grantee = 'analyst_emea'
    """,
    tags=("catalog", "security", "rls"),
)
def catalog_rls_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-level security — the filtering half of the policy layer
    (`catalog_masked_view` is the column half): a policy table maps
    grantees to the market segments they may see, and the secured
    view is the base table SEMI-FILTERED through the policy for the
    session's effective user (here pinned to ``analyst_emea``; the
    gateway's doAs identity — ``rest.py`` X-Proxy-User — supplies it
    in deployment, ``spark.nineinfra.effective.user``, and MUST pass
    :func:`_safe_identity` first: the header is client-controlled and
    view DDL is not parameterizable). Analysts get the view; the base
    table stays ACL'd.

    Scale posture: the policy table is grantee×segment-sized and
    broadcasts; Catalyst inlines the view so the policy join lands
    directly above the pushed-down base scan — row filtering costs
    one broadcast semi-join at scan speed, never a second pass."""
    cust = t(spark, sf_dir, "customer")
    policy = spark.createDataFrame(
        [
            ("analyst_emea", "BUILDING"),
            ("analyst_emea", "MACHINERY"),
            ("analyst_apac", "AUTOMOBILE"),
        ],
        "grantee string, segment string",
    )
    cust.createOrReplaceTempView("rls_base_tmp")
    policy.createOrReplaceTempView("rls_policy_tmp")
    effective_user = _safe_identity("analyst_emea")
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY VIEW customer_rls_tmp AS
        SELECT b.c_custkey, b.c_name, b.c_mktsegment
        FROM rls_base_tmp b
        WHERE b.c_mktsegment IN (
            SELECT segment FROM rls_policy_tmp
            WHERE grantee = '{effective_user}'
        )
        """
    )
    return spark.table("customer_rls_tmp")


@query(
    "sink_python_datasource",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    """,
    tags=("sink", "source", "connector", "python-datasource"),
    min_spark="4.0",  # Python DataSource writer API
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM SINK CONNECTOR end-to-end through the Python DataSource
    WRITER API — the write-side twin of ``src_python_datasource``:
    ``format("nine_jsonl")`` stages one uniquely-named JSON-lines file
    per task, and the driver's commit renames the acknowledged files
    and writes ``_MANIFEST.json`` LAST (the commit point — readers
    trust only manifested files, so a crashed or aborted job is
    invisible whatever staging debris remains; ``sources/pyds.py``,
    same stage→rename→manifest shape as the object-store publish).
    The read-back goes through the manifest, and the oracle states
    the original relation — any fidelity or atomicity slip in either
    direction fails the hash. Integer/string columns only: portable
    JSON is the connector's contract (cross-engine float text is
    not).

    Scale posture: write is executor-parallel (one file per task,
    nothing through the driver but ~bytes-sized commit messages);
    abort is O(tasks). Python-per-row is the API's contract for the
    SINK boundary, exactly as for the source."""
    from nineinfra_spark.sources import pyds

    pyds.register(spark)
    out = _out("pyds_sink", os.path.basename(sf_dir), "orders")
    import shutil

    shutil.rmtree(out, ignore_errors=True)  # overwrite semantics
    sel = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .repartition(4)
    )
    sel.write.format("nine_jsonl").option("path", out).mode(
        "append"
    ).save()
    return spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderpriority string"
    ).json(pyds.manifested_files(out))


def _zorder_skip_oracle() -> str:
    """DuckDB mirror of ``zorder_skipping_read``: the same 8-bit
    ``operators/zorder.zvalue_column`` arithmetic (IEEE-double scaling,
    integer bit interleave — the proven ``fn_zorder_values`` idiom),
    bucketed by the top 5 z-bits. One file per bucket (pytest-pinned in
    tests/test_zorder.py), so per-FILE envelopes on the Spark side
    equal per-BUCKET envelopes here."""
    bits, k, grid, zb_shift = 8, 2, 255, 11
    cells = []
    for c in ("user_id", "value"):
        cells.append(
            f"GREATEST(0, LEAST({grid}, CAST(FLOOR("
            f"(CAST({c} AS DOUBLE) - lo_{c}) / span_{c} * {grid}) AS BIGINT)))"
        )
    z = " | ".join(
        f"((((c{i} >> {b}) & 1)) << {b * k + i})"
        for b in range(bits)
        for i in range(k)
    )
    return f"""
    WITH stats AS (
        SELECT CAST(MIN(CAST(user_id AS DOUBLE)) AS DOUBLE) AS lo_user_id,
               CAST(MAX(CAST(user_id AS DOUBLE)) - MIN(CAST(user_id AS DOUBLE)) AS DOUBLE) AS span_user_id,
               CAST(MIN(CAST(value AS DOUBLE)) AS DOUBLE) AS lo_value,
               CAST(MAX(CAST(value AS DOUBLE)) - MIN(CAST(value AS DOUBLE)) AS DOUBLE) AS span_value
        FROM events
    ),
    bounds AS (
        SELECT CAST(CEIL(lo_user_id + span_user_id * 0.25) AS BIGINT) AS au,
               CAST(FLOOR(lo_user_id + span_user_id * 0.55) AS BIGINT) AS bu,
               lo_value + span_value * 0.25 AS av,
               lo_value + span_value * 0.55 AS bv
        FROM stats
    ),
    cells AS (
        SELECT user_id, value, {cells[0]} AS c0, {cells[1]} AS c1
        FROM events CROSS JOIN stats
    ),
    zb AS (
        SELECT user_id, value, ({z}) >> {zb_shift} AS bucket
        FROM cells
    ),
    env AS (
        SELECT bucket,
               MIN(user_id) AS mnu, MAX(user_id) AS mxu,
               MIN(value) AS mnv, MAX(value) AS mxv
        FROM zb GROUP BY bucket
    ),
    fagg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
               CAST(SUM(CASE WHEN NOT (mxu < au OR mnu > bu
                                       OR mxv < av OR mnv > bv)
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_hit
        FROM env CROSS JOIN bounds
    ),
    bagg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CAST(ROUND(value * 1000000000.0) AS BIGINT)), -1) AS BIGINT) AS sum_value_nanos
        FROM zb CROSS JOIN bounds
        WHERE user_id >= au AND user_id <= bu
          AND value >= av AND value <= bv
    )
    SELECT files_total, files_hit, files_total - files_hit AS files_skipped,
           n_rows, sum_value_nanos
    FROM fagg CROSS JOIN bagg
    """


@query(
    "zorder_skipping_read",
    oracle=_zorder_skip_oracle(),
    tags=("sink", "layout", "zorder", "skipping", "bounded-nlj"),
)
def zorder_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-skipping READ proof — the payoff half of the
    ``operators/zorder.py`` layout clustering (``fn_zorder_values``
    proves the kernel; this query proves files are actually SKIPPED):
    write events as one parquet file per z-bucket (8-bit Morton code
    over (user_id, value), top 5 bits → ≤32 buckets, each bucket
    wholly in one task so each directory holds exactly ONE file), then
    answer a 2-D box query and report, from the files' OWN min-max
    envelopes (grouped by ``_metadata.file_path`` — the physical
    layout, not the bucket column), how many files a min-max-pruning
    reader must open: ``files_hit`` vs ``files_total``. The oracle
    recomputes the identical z-bucketing arithmetically, so the
    physical file envelopes are pinned to the mathematical layout.

    Scale posture: the layout job is one hash exchange + write (same
    as any clustered rewrite); the envelope audit is a scan-shaped
    agg keyed by file (#files groups); the box answer is a pushdown
    filter + agg. At 100 TB the envelope table IS the skipping index
    (Delta/Iceberg keep exactly these per-file min/max stats); the
    pigeonhole here — a 30%×30% box hits a small fraction of z-laid
    files, asserted ``files_hit < files_total`` in tests/test_zorder.py
    — is what turns a full scan into a few-file read. Reference scope:
    table layout/compaction is the reference's storage-tier concern
    (``internal/controller/minio.go:286-319`` provisions the object
    store; layout policy is delegated to the engine — implemented
    natively here)."""
    from nineinfra_spark.operators.zorder import zvalue_expr

    ev = t(spark, sf_dir, "events").select("user_id", "value")
    st = ev.agg(
        F.min(F.col("user_id").cast("double")).alias("lo_u"),
        F.max(F.col("user_id").cast("double")).alias("hi_u"),
        F.min(F.col("value").cast("double")).alias("lo_v"),
        F.max(F.col("value").cast("double")).alias("hi_v"),
    ).first()
    # box bounds: identical IEEE expression tree to the oracle's
    # bounds CTE (lo + span * frac, evaluated left-to-right). The
    # user_id bounds are INTEGERS (ceil/floor) so the box predicate
    # compares the bigint column against bigint literals — a
    # double-cast on the column side would block parquet filter
    # pushdown, and the whole point of the layout is that the
    # physical scan's PushedFilters skip row groups by the same
    # min-max logic the envelope audit reports (pytest-asserted).
    import math

    span_u, span_v = st["hi_u"] - st["lo_u"], st["hi_v"] - st["lo_v"]
    au = math.ceil(st["lo_u"] + span_u * 0.25)
    bu = math.floor(st["lo_u"] + span_u * 0.55)
    av, bv = st["lo_v"] + span_v * 0.25, st["lo_v"] + span_v * 0.55

    # r17 optimization: zvalue_column would run column_bounds — a
    # SECOND full-scan min/max aggregate identical to `st` above
    # (same F.min/max(cast double) expressions, so the bounds are
    # bit-identical). Reuse st via zvalue_expr: one bounds job, not
    # two (guide §1.2 "don't compute things you throw away").
    zb = F.shiftright(
        zvalue_expr(
            ["user_id", "value"],
            {
                "user_id": (st["lo_u"], st["hi_u"]),
                "value": (st["lo_v"], st["hi_v"]),
            },
            bits=8,
        ),
        11,
    )
    path = _out("zorder_skip", os.path.basename(sf_dir), "events_z")
    writers.write_parquet(
        ev.withColumn("zb", zb).repartition(32, "zb"),
        path,
        mode="overwrite",
        partition_by=["zb"],
    )
    back = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("fp"), "user_id", "value"
    )
    env = back.groupBy("fp").agg(
        F.min("user_id").alias("mnu"),
        F.max("user_id").alias("mxu"),
        F.min("value").alias("mnv"),
        F.max("value").alias("mxv"),
    )
    hit = ~(
        (F.col("mxu") < F.lit(au))
        | (F.col("mnu") > F.lit(bu))
        | (F.col("mxv") < F.lit(av))
        | (F.col("mnv") > F.lit(bv))
    )
    fagg = env.agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum(hit.cast("bigint")).alias("files_hit"),
    )
    bagg = (
        back.filter(
            (F.col("user_id") >= F.lit(au))
            & (F.col("user_id") <= F.lit(bu))
            & (F.col("value") >= F.lit(av))
            & (F.col("value") <= F.lit(bv))
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(
                F.sum(
                    F.round(F.col("value") * F.lit(1000000000.0)).cast(
                        "bigint"
                    )
                ),
                F.lit(-1).cast("bigint"),
            ).alias("sum_value_nanos"),
        )
    )
    return fagg.crossJoin(bagg).select(
        "files_total",
        "files_hit",
        (F.col("files_total") - F.col("files_hit")).alias("files_skipped"),
        "n_rows",
        "sum_value_nanos",
    )


#: bloom_skipping_read geometry — static because the oracle SQL must
#: state the same constants. m_bits sized for the LARGEST bench SF
#: (sf0.1: 150k orders / 24 files ≈ 6.3k keys/file → fill ≈ 0.32,
#: fp ≈ 1% — m_bits_for(6250) ≈ 66k); smaller SFs just run sparser.
_BLOOM_NF, _BLOOM_M, _BLOOM_K = 24, 65536, 4


def _bloom_skip_oracle() -> str:
    """DuckDB recomputes the ENTIRE bloom-skipping contract from raw
    orders: fid assignment (frozen-bounds grid), per-file bit sets
    (the md5 ``stable_hash64`` family — engine-portable integer
    arithmetic), probe admission (all-k-positions containment), and
    the final stats + filtered aggregate row. Any drift in the grid,
    the hashing, or the admission logic breaks the hash match."""
    M, K, NF = _BLOOM_M, _BLOOM_K, _BLOOM_NF

    def hash60(expr: str, salt: str) -> str:
        return (
            f"CAST(CONCAT('0x', SUBSTR(md5(CONCAT('{salt}', "
            f"CAST({expr} AS VARCHAR))), 1, 15)) AS BIGINT)"
        )

    pos_union = " UNION ALL ".join(
        f"SELECT o_orderkey AS pkey, {j} AS j, "
        f"{hash60('o_orderkey', f'bloom{j}/')} % {M} AS pos FROM probes"
        for j in range(K)
    )
    bit_union = " UNION ALL ".join(
        f"SELECT fid, {hash60('o_orderkey', f'bloom{j}/')} % {M} AS bit "
        f"FROM assigned"
        for j in range(K)
    )
    return f"""
    WITH base AS (
        SELECT o_orderkey, o_totalprice,
               date_diff('day', DATE '1970-01-01', o_orderdate) AS lay
        FROM orders
    ),
    bounds AS (
        SELECT MIN(CAST(lay AS DOUBLE)) AS lo,
               MAX(CAST(lay AS DOUBLE)) AS hi
        FROM base
    ),
    assigned AS (
        SELECT base.*,
               GREATEST(0, LEAST({NF - 1},
                   CAST(FLOOR((CAST(lay AS DOUBLE) - lo)
                        / (CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END)
                        * {NF}) AS INT))) AS fid
        FROM base, bounds
    ),
    probes AS (
        SELECT o_orderkey FROM orders
        ORDER BY md5(CAST(o_orderkey AS VARCHAR)) LIMIT 5
    ),
    pos AS ({pos_union}),
    bits AS (SELECT DISTINCT * FROM ({bit_union})),
    hits AS (
        SELECT b.fid
        FROM pos p JOIN bits b ON b.bit = p.pos
        GROUP BY b.fid, p.pkey
        HAVING COUNT(DISTINCT p.j) = {K}
    ),
    fstats AS (
        SELECT (SELECT COUNT(DISTINCT fid) FROM assigned) AS files_total,
               (SELECT COUNT(DISTINCT fid) FROM hits) AS files_hit
    )
    SELECT CAST(files_total AS BIGINT) AS files_total,
           CAST(files_hit AS BIGINT) AS files_hit,
           CAST(files_total - files_hit AS BIGINT) AS files_skipped,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM assigned
            WHERE o_orderkey IN (SELECT o_orderkey FROM probes)) AS n_rows,
           (SELECT CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)))
                   AS DOUBLE) FROM assigned
            WHERE o_orderkey IN (SELECT o_orderkey FROM probes)) AS sum_price
    FROM fstats
    """


@query(
    "bloom_skipping_read",
    oracle=_bloom_skip_oracle(),
    tags=("sink", "layout", "bloom", "skipping"),
)
def bloom_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point-lookup READ proof — the payoff half of
    ``operators/bloomindex.py`` (the complement of
    `zorder_skipping_read`: min-max envelopes skip RANGE predicates on
    the layout columns; the per-file Bloom bitmap skips POINT lookups
    on a high-cardinality secondary key the layout was NOT built on).
    Write orders date-laid-out into 24 fid-partitioned files with a
    table-backed bitmap index over ``o_orderkey``, probe a
    deterministic 5-key point-lookup set (the 5 smallest md5(key)
    values — md5 is injective over distinct bigints for all practical
    purposes, so the ORDER BY is total and both engines pick the same
    keys), and report how many files the probe had to open
    (``files_hit`` vs ``files_total`` — 5 keys hit ≤ 5-ish of 24
    files, so the skipping is REAL, not a read-everything degenerate)
    plus the exact count/decimal-sum over the rows the pruned read
    returned.
    The oracle recomputes grid, bitmaps, and admission arithmetically,
    so the stats AND the row contents are both pinned.

    Scale posture: the index build is one bounds agg + one hash
    exchange + a map-side-combined (fid, bit) aggregate written as a
    parquet bits TABLE (index-sized, never driver-resident — the r13
    verdict's sharding fix); the probe reads only the probed words
    of that table, on the driver while that slice fits under the
    broadcast threshold, else as a broadcast join of the probe keys'
    (word, mask) pairs against it; the data read is partition-pruned to the hit files (skipped files never open —
    plan-asserted in tests/test_bloomindex.py). Reference scope:
    storage-tier indexing over the object store the reference
    provisions (``internal/controller/minio.go:286-319``); index
    semantics are native here, Delta's BLOOM FILTER INDEX shape."""
    import shutil

    from nineinfra_spark.operators.bloomindex import (
        bloom_index_write,
    )
    from nineinfra_spark.operators.bloomindex import (
        bloom_skipping_read as _bloom_read,
    )

    orders = t(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("lay"),
    )
    path = _out("bloom_skip", os.path.basename(sf_dir), "orders_bloom")
    shutil.rmtree(path, ignore_errors=True)  # idempotent re-runs

    # The probe-key selection (a scan+top-5 of the same immutable
    # parquet input) is INDEPENDENT of the index build, so it runs
    # concurrently on a driver thread and back-fills executor slots
    # the build's stage tails leave idle (guide §2.6 "overlap
    # independent jobs"). Same jobs, same results — only the wall
    # between them is removed.
    from concurrent.futures import ThreadPoolExecutor

    def _probe_keys() -> list:
        return [
            r["o_orderkey"]
            for r in orders.select(
                "o_orderkey",
                F.md5(F.col("o_orderkey").cast("string")).alias("h"),
            )
            .orderBy("h")
            .limit(5)
            .collect()
        ]

    with ThreadPoolExecutor(max_workers=1) as _pool:
        probe_fut = _pool.submit(_probe_keys)
        bloom_index_write(
            df, path, "lay", "o_orderkey", _BLOOM_NF, _BLOOM_M, _BLOOM_K
        )
        probe = probe_fut.result()
    out, stats = _bloom_read(spark, path, probe)
    res = out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
    return res.select(
        F.lit(stats["files_total"]).cast("bigint").alias("files_total"),
        F.lit(stats["files_hit"]).cast("bigint").alias("files_hit"),
        F.lit(stats["files_skipped"]).cast("bigint").alias("files_skipped"),
        F.col("n_rows"),
        F.col("sum_price"),
    )


@query(
    "catalog_snapshot_diff",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) AS hx
        FROM customer
    ),
    o AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM cust
        WHERE hx NOT IN ('c', 'd', 'e', 'f')
    ),
    n AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN hx IN ('2', '3') THEN c_acctbal * 2
                    ELSE c_acctbal END AS c_acctbal
        FROM cust WHERE hx NOT IN ('0', '1')
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.c_mktsegment AS old_seg,
           n.c_mktsegment AS new_seg,
           CAST(o.c_acctbal AS DOUBLE) AS old_bal,
           CAST(n.c_acctbal AS DOUBLE) AS new_bal
    FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
    """,
    tags=("catalog", "diff", "cdc"),
)
def catalog_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff over the versioned-table protocol —
    "what exactly changed between the archived ``__v0`` snapshot and
    live?": the audit query that pairs with `catalog_merge_timetravel`
    (Delta's CDC view / Iceberg's changelog scan over the warehouse
    the reference provisions, ``internal/controller/metastore.go:
    105-114``). Two deterministic customer slices are materialized as
    ``{table}__v0`` and the live table (md5-hex membership: deletes =
    hex 0-1, inserts = hex c-f, updates = hex 2-3 with the balance
    doubled — IEEE-exact on both engines), then
    ``snapshot_diff_versions`` classifies insert/delete/update with
    old_/new_ payloads. The oracle derives the identical delta
    relationally (FULL OUTER JOIN; ``IS DISTINCT FROM`` mirrors the
    Spark-side null-safe struct ``<=>`` negation). A doubled balance
    of 0.00 stays 'unchanged' on BOTH engines — same membership, no
    boundary drift.

    Scale posture: one hash exchange per side keyed on c_custkey; the
    payload-equality filter runs join-side, so the unchanged mass
    (most of a real table between snapshots) never reaches the output
    projection. Bucketed snapshots would drop even those exchanges.
    Archive reads are plain scans — no delta-chain replay
    (operators/diff.py)."""
    from nineinfra_spark.operators.diff import snapshot_diff_versions

    sfx = os.path.basename(sf_dir).replace(".", "_")
    db = f"nine_wh_{sfx}"
    is_hive = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{WAREHOUSE}/{db}'")
    for tbl in ("customer_sd", "customer_sd__v0"):
        owned = spark.catalog.tableExists(f"{db}.{tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        loc = f"{WAREHOUSE}/{db}/{tbl}"
        if os.path.exists(loc) and (not is_hive or not owned):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    hx = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)
    old = cust.filter(~hx.isin(*"cdef"))
    new = cust.filter(~hx.isin("0", "1")).withColumn(
        "c_acctbal",
        F.when(hx.isin("2", "3"), F.col("c_acctbal") * 2).otherwise(
            F.col("c_acctbal")
        ),
    )
    writers.save_as_table(old, f"{db}.customer_sd__v0", mode="overwrite")
    writers.save_as_table(new, f"{db}.customer_sd", mode="overwrite")
    d = snapshot_diff_versions(
        spark, f"{db}.customer_sd", 0, key_cols=["c_custkey"]
    )
    return d.select(
        "c_custkey",
        "change_type",
        F.col("old_c_mktsegment").alias("old_seg"),
        F.col("new_c_mktsegment").alias("new_seg"),
        F.col("old_c_acctbal").cast("double").alias("old_bal"),
        F.col("new_c_acctbal").cast("double").alias("new_bal"),
    )
