"""Source/sink layer tests: plan-level partition pruning, JDBC reader
option validation, and write-mode safety."""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from pyspark.sql import functions as F

from nineinfra_spark.plans._util import t
from nineinfra_spark.sources import readers, writers

SF = "/root/testdata/sf0.001"
IO = "/tmp/nineinfra_spark_io/tests"


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def test_partition_pruning_reaches_scan(spark):
    """A filter on the partition column must become a PartitionFilters
    entry on the scan (pruned dirs never opened) — the property that
    keeps partitioned reads O(selected partitions) at 100 TB."""
    orders = t(spark, SF, "orders")
    path = os.path.join(IO, "orders_part")
    writers.write_parquet(orders, path, mode="overwrite", partition_by=["o_orderpriority"])
    back = spark.read.parquet(path).filter(F.col("o_orderpriority") == "1-URGENT")
    plan = _explain_str(back)
    assert "PartitionFilters" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters", 1)[1][:200]


def test_predicate_pushdown_reaches_parquet(spark):
    """Non-partition predicates must reach the parquet scan as
    PushedFilters (row-group skipping)."""
    li = t(spark, SF, "lineitem").filter(F.col("l_quantity") < 10).select("l_orderkey")
    plan = _explain_str(li)
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters", 1)[1][:200]


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the full lineitem schema."""
    li = t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _explain_str(li)
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="bound"):
        readers.read_jdbc(
            spark, "jdbc:postgresql://localhost/x", "t", partition_column="id"
        )


def test_jdbc_derby_roundtrip_partitioned_and_rerunnable(spark, tmp_path):
    """End-to-end JDBC against embedded Derby: the partitioned read
    must produce numPartitions range-scan tasks, values must survive
    the trip, and overwrite mode must be rerunnable against an
    already-booted Derby database (same-process second run)."""
    from nineinfra_spark.sources import writers

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(1, 41)], "id long, v double"
    )
    for _ in range(2):  # second pass = overwrite on a booted db
        writers.write_jdbc(df, url, "RT", mode="overwrite",
                           num_partitions=2, **drv)
    back = readers.read_jdbc(
        spark, url, "RT", partition_column="id",
        num_partitions=4, lower_bound=1, upper_bound=41, **drv,
    )
    assert back.rdd.getNumPartitions() == 4
    got = {r["id"]: r["v"] for r in back.collect()}
    assert got == {i: i * 1.5 for i in range(1, 41)}


def test_default_write_mode_is_error(spark):
    """Accidental overwrite must be loud: default mode errors if the
    target exists."""
    nation = t(spark, SF, "nation")
    path = os.path.join(IO, "nation_once")
    writers.write_parquet(nation, path, mode="overwrite")
    with pytest.raises(Exception):
        writers.write_parquet(nation, path)  # default mode="error"


def test_csv_roundtrip_preserves_types(spark):
    nation = t(spark, SF, "nation")
    path = os.path.join(IO, "nation_csv")
    writers.write_csv(nation, path, mode="overwrite")
    back = readers.read_csv(spark, path, schema=nation.schema)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_nanos_rebuild_gated_on_parquet_annotation(spark, tmp_path):
    """A plain bigint column named 'ts' (e.g. epoch millis) must pass
    through read_parquet untouched — the nanos→timestamp rebuild fires
    only for columns the parquet footer annotates TIMESTAMP(NANOS)."""
    p = str(tmp_path / "plain_ts")
    spark.range(5).selectExpr("id", "id * 1000 AS ts").write.parquet(p)
    back = readers.read_parquet(spark, p)
    assert dict(back.dtypes)["ts"] == "bigint"
    assert sorted(r["ts"] for r in back.collect()) == [0, 1000, 2000, 3000, 4000]

    # the annotated testdata column IS rebuilt
    ev = readers.read_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")


def test_asof_rejects_map_payload(spark):
    """Map-typed payload columns are non-orderable (they'd break the
    deterministic tie-break) — asof_join refuses them up front."""
    from nineinfra_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.sql("SELECT 1 AS k, 5 AS ts, map('a', 1) AS payload")
    with pytest.raises(TypeError, match="orderable"):
        asof_join(left, right, on="k", ts="ts")


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key → SortMergeJoin with NO
    shuffle Exchange on either side (the write-once/join-many-times
    co-location idiom). Broadcast is disabled for the assertion so the
    small test tables can't hide the bucketing behind a BHJ."""
    from nineinfra_spark.plans.sources_sinks import catalog_bucketed_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = catalog_bucketed_join(spark, SF)
        plan = _explain_str(df)
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange hashpartitioning" not in plan, plan[:1500]
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compact_small_files_reduces_to_one_per_partition(spark):
    """catalog_compact_small_files manufactures a 16-files-per-
    partition table and compacts it; the registered query's oracle
    checks content — THIS asserts the physical effect: exactly one
    parquet file per partition directory afterward, same rows."""
    import glob
    import os

    from nineinfra_spark.plans.sources_sinks import (
        WAREHOUSE,
        catalog_compact_small_files,
    )

    out = catalog_compact_small_files(spark, SF)
    assert out.count() > 0
    sfx = os.path.basename(SF).replace(".", "_")
    loc = f"{WAREHOUSE}/nine_wh_{sfx}/orders_smallfiles"
    part_dirs = [d for d in glob.glob(f"{loc}/o_orderpriority=*") if os.path.isdir(d)]
    assert part_dirs, loc
    for d in part_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, (d, len(files))


def test_compact_multi_partition_table(spark, tmp_path):
    """compact_partitioned_table on a fresh two-partition table:
    every partition directory ends at exactly one file and no row is
    lost — exercised on a table the helper builds itself (unlike the
    registered query's orders-derived table), so the helper's
    contract is pinned independently of the query plumbing."""
    import glob

    from nineinfra_spark.sources.writers import compact_partitioned_table

    wh = str(tmp_path / "wh")
    db = "compact_edge_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{wh}/{db}'")
    tbl = f"{db}.t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (k BIGINT) USING parquet PARTITIONED BY (pr STRING)"
    )
    spark.range(100).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS pr"
    ).repartition(8).write.mode("append").insertInto(tbl)
    loc = f"{wh}/{db}/t"
    assert len(glob.glob(f"{loc}/pr=A/*.parquet")) > 1

    compact_partitioned_table(spark, tbl, ["pr"])
    assert len(glob.glob(f"{loc}/pr=A/*.parquet")) == 1
    assert len(glob.glob(f"{loc}/pr=B/*.parquet")) == 1
    assert spark.table(tbl).count() == 100

    # Wrong partition_cols must fail loudly BEFORE any write — not
    # degenerate into a static full overwrite of a path being read.
    import pytest

    with pytest.raises(ValueError, match="declared partition columns"):
        compact_partitioned_table(spark, tbl, ["k"])
    assert spark.table(tbl).count() == 100  # untouched

    spark.sql(f"DROP TABLE {tbl}")

    # Unpartitioned table: same loud rejection.
    spark.sql(f"CREATE TABLE {tbl} (k BIGINT) USING parquet")
    spark.range(10).selectExpr("id AS k").write.mode("append").insertInto(tbl)
    with pytest.raises(ValueError, match="declared partition columns"):
        compact_partitioned_table(spark, tbl, ["k"])
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"DROP DATABASE {db}")


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _compact_fresh_table(spark, tmp_path):
    from nineinfra_spark.sources.writers import compact_partitioned_table

    db = "compact_conf_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/{db}'")
    tbl = f"{db}.t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.range(20).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS pr"
    ).repartition(4).write.partitionBy("pr").saveAsTable(tbl)
    compact_partitioned_table(spark, tbl, ["pr"])
    assert spark.table(tbl).count() == 20
    spark.sql(f"DROP DATABASE {db} CASCADE")


def _insert_overwrite_dynamic(spark, tmp_path):
    from nineinfra_spark.plans.sources_sinks import catalog_insert_overwrite_dynamic

    catalog_insert_overwrite_dynamic(spark, SF)


def _rollup_incremental(spark, tmp_path):
    from nineinfra_spark.plans.sources_sinks import catalog_rollup_incremental

    catalog_rollup_incremental(spark, SF)


@pytest.mark.parametrize(
    "run",
    [_compact_fresh_table, _insert_overwrite_dynamic, _rollup_incremental],
    ids=["compaction", "insert_overwrite_dynamic", "rollup_incremental"],
)
def test_dynamic_overwrite_leaves_conf_text_unchanged(spark, tmp_path, run):
    """The dynamic partition overwrite mode is set only around the
    write: a session that had not set it ends with it unset, so its SQL
    conf text (the key of the result cache and the statement templates)
    is unchanged, and a value the session had set survives."""
    jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    try:
        spark.conf.unset(_OVERWRITE_MODE)
        before = jconf.getAllConfs().toString()
        run(spark, tmp_path)
        assert jconf.getAllConfs().toString() == before
        spark.conf.set(_OVERWRITE_MODE, "STATIC")
        run(spark, tmp_path)
        assert spark.conf.get(_OVERWRITE_MODE) == "STATIC"
    finally:
        spark.conf.unset(_OVERWRITE_MODE)


class TestKafkaPlumbing:
    """Kafka source option plumbing (no broker/connector in env — the
    same signature-level treatment as the JDBC reader; the reference's
    stream cluster type is ninecluster_types.go:40-45)."""

    def test_subscribe_mode(self):
        opts = readers.kafka_options("b1:9092,b2:9092", "events")
        assert opts == {
            "kafka.bootstrap.servers": "b1:9092,b2:9092",
            "startingOffsets": "earliest",
            "failOnDataLoss": "true",
            "subscribe": "events",
        }

    def test_pattern_and_assign_modes(self):
        assert (
            readers.kafka_options("b:9092", subscribe_pattern="ev-.*")["subscribePattern"]
            == "ev-.*"
        )
        a = readers.kafka_options("b:9092", assign='{"events":[0,1]}')
        assert a["assign"] == '{"events":[0,1]}'

    def test_exactly_one_mode_required(self):
        with pytest.raises(ValueError, match="exactly one"):
            readers.kafka_options("b:9092")
        with pytest.raises(ValueError, match="exactly one"):
            readers.kafka_options("b:9092", "t", subscribe_pattern="t.*")

    def test_offset_and_rate_options(self):
        opts = readers.kafka_options(
            "b:9092",
            "events",
            starting_offsets="latest",
            ending_offsets="latest",
            fail_on_data_loss=False,
            max_offsets_per_trigger=100_000,
            **{"kafka.security.protocol": "SASL_SSL"},
        )
        assert opts["startingOffsets"] == "latest"
        assert opts["endingOffsets"] == "latest"
        assert opts["failOnDataLoss"] == "false"
        assert opts["maxOffsetsPerTrigger"] == "100000"
        assert opts["kafka.security.protocol"] == "SASL_SSL"

    def test_load_reaches_spark_kafka_source(self, spark):
        """The reader plumbing is real: .load() reaches Spark's data-
        source resolution and fails with the documented missing-
        connector error (env-block), not a python-side error."""
        with pytest.raises(Exception, match="(?i)kafka"):
            readers.read_kafka(spark, "localhost:9092", "events")
        with pytest.raises(Exception, match="(?i)kafka"):
            readers.read_kafka(spark, "localhost:9092", "events", streaming=False)


def test_partsupp_bucketed_agg_has_no_exchange(spark):
    """The per-partkey aggregate over the bucketed partsupp table must
    plan with ZERO Exchange — the bucket layout satisfies the
    aggregation's required distribution (the materialize-once answer
    to re-deriving partsupp per query)."""
    from nineinfra_spark.plans.sources_sinks import catalog_partsupp_bucketed

    df = catalog_partsupp_bucketed(spark, SF)
    plan = _explain_str(df)
    assert "Exchange" not in plan, plan[:1500]
    assert df.count() > 0


def test_partsupp_derivation_invariants(spark):
    """The synthetic partsupp (tpch._partsupp) must satisfy the
    TPC-H-like invariants at every shipped SF: exactly 4 DISTINCT
    suppliers per part, suppkeys inside the supplier key range,
    availqty in [1, 9999], supplycost an exact DECIMAL(12,2) in
    [1.00, 1000.00). These are what q2/q9/q11/q16/q20 lean on."""
    from decimal import Decimal

    from nineinfra_spark.plans.tpch import _partsupp

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ps = _partsupp(spark, sf_dir)
        n_part = t(spark, sf_dir, "part").count()
        n_supp = t(spark, sf_dir, "supplier").count()
        assert ps.count() == 4 * n_part
        per_part = ps.groupBy("ps_partkey").agg(
            F.count_distinct("ps_suppkey").alias("d")
        )
        assert per_part.filter(F.col("d") != 4).count() == 0
        stats = ps.agg(
            F.min("ps_suppkey"), F.max("ps_suppkey"),
            F.min("ps_availqty"), F.max("ps_availqty"),
            F.min("ps_supplycost"), F.max("ps_supplycost"),
        ).first()
        assert 0 <= stats[0] and stats[1] < n_supp
        assert 1 <= stats[2] and stats[3] <= 9999
        assert Decimal("1.00") <= stats[4] and stats[5] < Decimal("1000.00")
        assert dict(ps.dtypes)["ps_supplycost"] == "decimal(12,2)"


def test_compact_with_target_file_bytes(spark, tmp_path):
    """Size-targeted compaction (the 100 TB mode): a big partition is
    rewritten into ceil(bytes/target) files, a small one into 1 —
    never everything into one unsplittable file. Content preserved."""
    import glob

    from nineinfra_spark.sources.writers import compact_partitioned_table

    wh = str(tmp_path / "wh")
    db = "compact_size_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{wh}/{db}'")
    tbl = f"{db}.t"
    spark.sql(
        f"CREATE TABLE {tbl} (k BIGINT, payload STRING) "
        f"USING parquet PARTITIONED BY (pr STRING)"
    )
    # partition A: 20k rows with fat payloads; partition B: 50 rows
    spark.sql(
        """
        SELECT id AS k, repeat(uuid(), 8) AS payload,
               CASE WHEN id < 20000 THEN 'A' ELSE 'B' END AS pr
        FROM range(20050)
        """
    ).repartition(16).write.mode("append").insertInto(tbl)
    loc = f"{wh}/{db}/t"
    assert len(glob.glob(f"{loc}/pr=A/*.parquet")) > 1
    before = spark.table(tbl).count()

    import os

    a_bytes = sum(
        os.path.getsize(p) for p in glob.glob(f"{loc}/pr=A/*.parquet")
    )
    target = max(a_bytes // 4, 1)  # expect ~4-5 files for A, 1 for B
    compact_partitioned_table(spark, tbl, ["pr"], target_file_bytes=target)

    n_a = len(glob.glob(f"{loc}/pr=A/*.parquet"))
    n_b = len(glob.glob(f"{loc}/pr=B/*.parquet"))
    assert n_a >= 3, n_a  # big partition split across multiple files
    assert n_b == 1, n_b  # small partition compacted to one
    assert spark.table(tbl).count() == before
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"DROP DATABASE {db}")


def test_nanos_rebuild_quotes_awkward_column_names(spark, tmp_path):
    """r11 review finding: the nanos→timestamp rebuild interpolated
    the raw column name into F.expr — a TIMESTAMP(NANOS) column named
    'event ts' (space) or 'order' (reserved word) threw ParseException
    on a file plain spark.read.parquet handles. Backtick-quoted now."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos_names")
    os.makedirs(p, exist_ok=True)
    tbl = pa.table(
        {
            "event ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
            "order": pa.array([2_000_000_000_000_000_000], pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, os.path.join(p, "f.parquet"))
    back = readers.read_parquet(spark, p)
    types = dict(back.dtypes)
    assert types["event ts"].startswith("timestamp")
    assert types["order"].startswith("timestamp")
    assert back.count() == 1


def test_compact_handles_hive_escaped_partition_values(spark):
    """r11 review finding: Hive %-escapes special chars in k=v dir
    names ('a:b' → 'a%3Ab'); the byte-budget mode's string join then
    matched nothing and the overwrite would have silently dropped
    those partitions (now also guarded by a pre-overwrite row-count
    check)."""
    from nineinfra_spark.sources.writers import compact_partitioned_table

    spark.sql("DROP TABLE IF EXISTS esc_compact")
    df = spark.createDataFrame(
        [(i, "a:b" if i % 2 else "c d") for i in range(40)], "id int, k string"
    ).repartition(8)
    df.write.partitionBy("k").saveAsTable("esc_compact")
    try:
        compact_partitioned_table(
            spark, "esc_compact", ["k"], target_file_bytes=10 * 1024 * 1024
        )
        got = spark.table("esc_compact")
        assert got.count() == 40
        assert sorted(
            r["k"] for r in got.select("k").distinct().collect()
        ) == ["a:b", "c d"]
    finally:
        spark.sql("DROP TABLE IF EXISTS esc_compact")
