"""Data-quality constraint checking (DeeQu/dbt-test-style) over the
warehouse tables.

A platform that provisions a metastore + engine (the reference's whole
deliverable, ``internal/controller/kyuubi.go:189-203``) gets asked for
table-quality gates on day one: primary-key uniqueness, referential
integrity, domain/range constraints, null budgets. This module states
each expectation as ONE aggregate over the target table and returns a
verdict table — the shape a CI gate or an orchestration sensor
consumes directly.

Scale design: every check is a single (mostly map-side-combinable)
aggregate or key-keyed anti-join count — no check materializes
violations wholesale (the observed count travels, not the rows). At
100 TB a suite of N checks is N column-pruned scans, each at scan
speed; checks over the same table could share one pass via a combined
agg, which is the optimization `dq_expectations` deliberately leaves
to the reader-visible plan (separate scans keep each check's pushed
filter and pruned schema independently auditable)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.plans._util import t
from nineinfra_spark.plans.registry import query

_STATUS_DOMAIN = ("O", "F", "P")


@query(
    "dq_expectations",
    oracle=f"""
    SELECT 'orders_pk_unique' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
           COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM orders WHERE o_orderstatus NOT IN {_STATUS_DOMAIN}
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'lineitem_ships_after_order',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    """,
    tags=("dq", "constraints"),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-expectation quality gate over orders/lineitem: PK
    uniqueness, FK integrity (anti-join count), value domain,
    null budget, numeric range, and a cross-table ordering invariant
    (lines ship on/after their order date). One verdict row per
    check: (check_name, n_violations, passed).

    Each check's plan is the cheapest faithful shape: pushed-filter
    counts for domain/range/null checks (scan speed), a LeftAnti on
    the key for FK integrity, one equi-join for the cross-table
    invariant. Violation COUNTS aggregate map-side; violating ROWS
    are never shipped — at 100 TB the suite costs a handful of
    column-pruned scans and nothing else."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")

    def verdict(name: str, n_violations) -> DataFrame:
        return n_violations.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )

    pk = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n")
    )
    fk = (
        lineitem.join(orders.select("o_orderkey"),
                      lineitem["l_orderkey"] == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    domain = (
        orders.filter(~F.col("o_orderstatus").isin(*_STATUS_DOMAIN))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nulls = orders.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n")
    )
    qty = (
        lineitem.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ship = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        verdict("orders_pk_unique", pk)
        .unionAll(verdict("lineitem_fk_orders", fk))
        .unionAll(verdict("orders_status_domain", domain))
        .unionAll(verdict("orders_custkey_not_null", nulls))
        .unionAll(verdict("lineitem_qty_range", qty))
        .unionAll(verdict("lineitem_ships_after_order", ship))
    )


@query(
    "dq_volume_freshness",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    vol AS (
        SELECT day, n,
               LAG(n) OVER (ORDER BY day) AS prev_n
        FROM daily
    ),
    vol_rows AS (
        SELECT 'volume_drop' AS check_name,
               strftime(day, '%Y-%m-%d') AS scope,
               CAST(COALESCE(10000 * n // prev_n, -1) AS BIGINT) AS value,
               COALESCE(2 * n >= prev_n, TRUE) AS ok
        FROM vol
    ),
    fresh AS (
        SELECT 'freshness' AS check_name,
               'events' AS scope,
               CAST((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
                     - epoch_us(MAX(ts))) // 3600000000 AS BIGINT) AS value,
               (epoch_us(TIMESTAMP '2024-01-31 00:00:00')
                - epoch_us(MAX(ts))) // 3600000000 <= 48 AS ok
        FROM events
    )
    SELECT * FROM vol_rows UNION ALL SELECT * FROM fresh
    """,
    tags=("dq", "operational", "bounded-nlj", "dimension-only"),
)
def dq_volume_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational data-quality gate — the pipeline-health checks
    `dq_expectations`' CONSTRAINT checks don't cover: (a) day-over-day
    VOLUME: each ingest day is flagged when its row count falls below
    half the previous day's (2·n ≥ prev as cross-multiplied integers —
    the "upstream silently broke" detector), carried with the actual
    ratio in basis points (-1 sentinel on the first day, which has no
    baseline and passes vacuously); (b) FRESHNESS: integer hours
    between the newest event and the reference clock (pinned to
    2024-01-31 — a deployment passes now()), gated at 48 h. One
    verdict row per check, counts and hours only — never data rows.

    Scale posture: one map-side-combined daily rollup (≤|calendar|
    rows) + a calendar-sized lag window + a 1-row freshness
    aggregate — scan-speed at any volume, same contract as
    dq_expectations."""
    from pyspark.sql import Window

    events = t(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day")
    vol = daily.select(
        "day", "n", F.lag("n").over(w).alias("prev_n")
    ).select(
        F.lit("volume_drop").alias("check_name"),
        F.date_format("day", "yyyy-MM-dd").alias("scope"),
        F.coalesce(
            F.expr("cast(10000 * n div prev_n as bigint)"), F.lit(-1)
        )
        .cast("bigint")
        .alias("value"),
        F.coalesce(2 * F.col("n") >= F.col("prev_n"), F.lit(True)).alias(
            "ok"
        ),
    )
    hours = F.expr(
        "(unix_micros(timestamp'2024-01-31 00:00:00')"
        " - unix_micros(cast(max(ts) as timestamp))) div 3600000000"
    )
    fresh = events.agg(hours.alias("h")).select(
        F.lit("freshness").alias("check_name"),
        F.lit("events").alias("scope"),
        F.col("h").cast("bigint").alias("value"),
        (F.col("h") <= 48).alias("ok"),
    )
    return vol.unionByName(fresh)


#: dq_bloom_fill_audit geometry — static because the oracle SQL must
#: state the same constants. customer sf0.1 = 15k rows / 8 files ≈
#: 1.9k keys/file; m = 32768 keeps fill ≈ 0.2 (healthy), smaller SFs
#: run sparser still.
_AUD_NF, _AUD_M, _AUD_K = 8, 32768, 4


def _bloom_audit_oracle() -> str:
    """DuckDB recomputes the per-file audit from raw customer rows:
    grid assignment, the DISTINCT hash-position count per file (which
    must equal the popcount of the Spark-side packed words — an
    independent pin on the bitmap word encoding), and the saturation
    verdict as an integer comparison."""
    NF, M, K = _AUD_NF, _AUD_M, _AUD_K

    def hash60(expr: str, salt: str) -> str:
        return (
            f"CAST(CONCAT('0x', SUBSTR(md5(CONCAT('{salt}', "
            f"CAST({expr} AS VARCHAR))), 1, 15)) AS BIGINT)"
        )

    bit_union = " UNION ALL ".join(
        f"SELECT fid, {hash60('c_name', f'bloom{j}/')} % {M} AS bit "
        f"FROM assigned"
        for j in range(K)
    )
    return f"""
    WITH base AS (
        SELECT c_custkey, c_name FROM customer
    ),
    bounds AS (
        SELECT MIN(CAST(c_custkey AS DOUBLE)) AS lo,
               MAX(CAST(c_custkey AS DOUBLE)) AS hi
        FROM base
    ),
    assigned AS (
        SELECT c_custkey, c_name,
               GREATEST(0, LEAST({NF - 1},
                   CAST(FLOOR((CAST(c_custkey AS DOUBLE) - lo)
                        / (CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END)
                        * {NF}) AS INT))) AS fid
        FROM base, bounds
    ),
    bits AS (SELECT DISTINCT fid, bit FROM ({bit_union})),
    per AS (
        SELECT fid, COUNT(*) AS n_rows,
               COUNT(DISTINCT c_name) AS n_keys
        FROM assigned GROUP BY fid
    ),
    sb AS (SELECT fid, COUNT(*) AS set_bits FROM bits GROUP BY fid)
    SELECT CAST(per.fid AS BIGINT) AS fid,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(set_bits AS BIGINT) AS set_bits,
           set_bits * 2 > {M} AS saturated
    FROM per JOIN sb ON per.fid = sb.fid
    """


@query(
    "dq_bloom_fill_audit",
    oracle=_bloom_audit_oracle(),
    tags=("dq", "bloom", "index", "audit"),
)
def dq_bloom_fill_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health expectation over a per-file Bloom index
    (``operators/bloomindex.py``): one row per file with its row
    count, distinct key count, bitmap POPCOUNT, and the saturation
    verdict (``set_bits * 2 > m_bits`` — fill past 0.5 means the
    fill^k false-positive model has degraded and the index needs a
    resize, the check `bloom_index_write` warns on). This is the
    dq-gate form of that warning: an orchestration sensor runs it
    after every maintenance window the way `dq_expectations` gates
    table constraints.

    The oracle recomputes the per-file DISTINCT hash-position count
    from the raw rows, which must equal the popcount of the packed
    63-bit words in the parquet bits table — so this query also pins
    the table-backed word encoding end-to-end against an independent
    engine (build one way, audit the other). All comparisons are
    integer-exact.

    Scale posture: the audit is two index-sized aggregates — a
    popcount scan of the bits table (n_files × m/63 rows) and one
    count/distinct pass over the data grouped by the fid partition
    column — joined on fid; nothing row-sized reaches the driver."""
    import os as _os
    import shutil as _shutil

    from nineinfra_spark.operators.bloomindex import (
        BITS_SCHEMA,
        _data_schema,
        bloom_index_write,
        read_index_meta,
    )
    from nineinfra_spark.plans.sources_sinks import _out

    sfx = _os.path.basename(sf_dir)
    path = _out("bloom_audit", sfx, "customer_bloom")
    _shutil.rmtree(path, ignore_errors=True)  # idempotent re-runs
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    bloom_index_write(
        cust, path, "c_custkey", "c_name", _AUD_NF, _AUD_M, _AUD_K
    )
    meta = read_index_meta(path)
    set_bits = (
        spark.read.schema(BITS_SCHEMA)
        .parquet(_os.path.join(path, meta["bits_dir"]))
        .groupBy("fid")
        .agg(F.sum(F.bit_count("word")).alias("set_bits"))
    )
    per = (
        spark.read.schema(_data_schema(meta))
        .parquet(path)
        .groupBy("fid")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("c_name").alias("n_keys"),
        )
    )
    return per.join(set_bits, "fid").select(
        F.col("fid").cast("bigint").alias("fid"),
        "n_rows",
        "n_keys",
        "set_bits",
        (F.col("set_bits") * 2 > F.lit(_AUD_M)).alias("saturated"),
    )
