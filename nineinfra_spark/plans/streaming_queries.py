"""Streaming queries (SURVEY.md §2.9) registered for the correctness
gate: each replays ``events`` through Structured Streaming
(availableNow → memory sink, see streaming/ops.py) and returns the
drained result, which the DuckDB oracle checks against the batch-SQL
equivalent — streaming output is held to the same hash-match bar as
batch.

Coverage: tumbling / sliding / session windows with watermarks,
stateful dedup, stream-static join, stream-stream interval join, and
arbitrary stateful processing (applyInPandasWithState). Output modes:
append (windows close under watermark), update (stateful counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.operators.merge import (
    publish_snapshot,
    read_table_property,
)
from nineinfra_spark.plans._util import fresh_tables, t
from nineinfra_spark.plans.ext_text import TOKS_DUCK, TOKS_SPARK
from nineinfra_spark.plans.registry import query
from nineinfra_spark.streaming.ops import (
    capture_microbatch_plan,
    read_events_stream,
    run_available_now,
    sink_name,
)

#: replay watermark — longer than any disorder in the historical file,
#: so no late row is dropped and streaming == batch exactly.
WM = "35 days"


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL 6 HOUR AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window", "tumbling"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour window aggregation with watermark.

    Replay uses COMPLETE output (emit every window at drain end):
    append mode only emits windows the watermark has passed, and a
    replay's watermark stops at max(event_time) - delay, which would
    hold the trailing windows in state forever. A continuously-fed
    production deployment uses append + a short watermark — windows
    then close as the stream advances and state stays bounded."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_available_now(agg, sink_name("mem_tumbling", sf_dir), "complete")


@query(
    "stream_sliding_window",
    oracle="""
    WITH expanded AS (
        SELECT event_type,
               time_bucket(INTERVAL '6 hours', ts) - k * (INTERVAL 6 HOUR) AS ws
        FROM events, (SELECT unnest([0, 1]) AS k)
    )
    SELECT ws AS window_start, ws + INTERVAL 12 HOUR AS window_end,
           event_type, COUNT(*) AS n
    FROM expanded
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (12 h size, 6 h slide): each event lands in two
    overlapping windows. Both engines align windows to the epoch (the
    oracle expands each event into its two covering windows
    explicitly). State is 2× tumbling — still watermark-bounded."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM)
        .groupBy(F.window("ts", "12 hours", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    return run_available_now(agg, sink_name("mem_sliding", sf_dir), "complete")


@query(
    "stream_session_window",
    oracle="""
    WITH x AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ), y AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS sess_id
        FROM x
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sess_id
    """,
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-min inactivity gap) per user —
    the operator batch SQL needs a gaps-and-islands window dance for
    (that dance IS the oracle). Session state merges as events arrive
    and closes via watermark; keyed on user_id so it shuffles like
    any keyed agg."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_available_now(agg, sink_name("mem_session", sf_dir), "complete")


@query(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first-seen (user_id, event_type)
    pairs pass, repeats are dropped against the state store; the
    watermark bounds how long each key is remembered. Key-only output
    makes the result order-independent (= DISTINCT in batch)."""
    ev = read_events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", WM)
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(dedup, sink_name("mem_dedup", sf_dir), "append")


@query(
    "stream_static_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("streaming", "join", "stream-static"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch joins against the static
    dimension (broadcast when small — the classic enrichment shape),
    then a windowless keyed agg in update mode... here drained with a
    watermark-free global agg via availableNow + complete mode."""
    ev = read_events_stream(spark, sf_dir)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_available_now(joined, sink_name("mem_ssjoin", sf_dir), "complete")


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
    """,
    tags=("streaming", "join", "stream-stream"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user
    signups within the preceding 7 days. Both sides are watermarked
    and the join condition bounds event time on both ends — that
    bound is what lets the engine evict buffered state; an unbounded
    stream-stream join would buffer forever."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WM)
    )
    signups = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", WM)
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAYS")),
    ).select("purchase_id", "signup_id", "user_id")
    return run_available_now(joined, sink_name("mem_sstream", sf_dir), "append")


@query(
    "stream_stateful_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "state", "applyInPandasWithState"),
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (``applyInPandasWithState``):
    per-user running totals held in explicit GroupState — the escape
    hatch for operators the built-in stateful set can't express
    (custom sessionization, CEP-ish logic). Decimal-exact value sums
    via integer cents so the result is reduce-order-independent."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_counts(key, pdfs, state: GroupState):
        import numpy as np

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # integer cents via HALF-AWAY-FROM-ZERO rounding (pandas
            # .round is half-even; Spark/DuckDB ROUND is half-away —
            # the repo-wide rounding discipline), exact under any
            # accumulation order
            v = pdf["value"].to_numpy(dtype="float64")
            cents += int(
                (np.floor(np.abs(v) * 100.0 + 0.5) * np.sign(v)).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
        )

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")
    counted = ev.withWatermark("ts", WM).groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(counted, sink_name("mem_state", sf_dir), "update")


@query(
    "stream_upsert_snapshot",
    oracle="""
    SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "cdc", "upsert", "foreachBatch"),
)
def stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC apply loop: a stream of change events maintained as a
    LATEST-STATE SNAPSHOT table (SCD Type-1) via ``foreachBatch`` —
    per micro-batch, reduce the batch to its newest row per user_id,
    then merge into the managed snapshot with LATEST-WINS resolution
    (full-outer on the key, keep the greater (ts, event_id) version).
    The recency guard makes the result independent of batch
    boundaries and file arrival order — an out-of-order replay
    converges to the same snapshot, which is what lets the oracle
    state it as plain "row_number() = 1 per user" over history.

    ``maxFilesPerTrigger=1`` forces one micro-batch per staged file,
    so multi-file inputs (the sf1 tiling) actually exercise the
    incremental path. Scale posture: per batch, one map-side-combined
    agg on user_id over the DELTA only, one key-keyed join against
    the snapshot (AQE broadcasts the delta when it is small — the
    usual CDC shape), and a stage-and-swap write so readers never see
    a half-applied batch; nothing touches the driver. This is the
    reference's intended stream→warehouse wiring
    (``api/v1alpha1/ninecluster_types.go:40-45``) realized natively."""
    db = fresh_tables(spark, sf_dir, "events_snapshot")
    snap = f"{db}.events_snapshot"

    cols = ["user_id", "ts", "event_id", "event_type", "value"]
    empty = spark.createDataFrame(
        [], "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    empty.write.saveAsTable(snap)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.select(
                "user_id",
                F.struct("ts", "event_id", "event_type", "value").alias("v"),
            )
            .groupBy("user_id")
            .agg(F.max("v").alias("v_new"))
        )
        base = spark.table(snap).select(
            "user_id", F.struct("ts", "event_id", "event_type", "value").alias("v_old")
        )
        merged = (
            base.join(delta, "user_id", "full_outer")
            .select(
                "user_id",
                F.when(
                    F.col("v_old").isNull() | (F.col("v_new") > F.col("v_old")),
                    F.col("v_new"),
                )
                .otherwise(F.col("v_old"))
                .alias("v"),
            )
            .select("user_id", "v.ts", "v.event_id", "v.event_type", "v.value")
        )
        publish_snapshot(spark, snap, merged)

    ev = read_events_stream(spark, sf_dir, maxFilesPerTrigger="1").select(*cols)
    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    capture_microbatch_plan(q, "stream_upsert_snapshot")
    return spark.table(snap).select(*cols)


#: table property recording the last folded micro-batch id for the
#: ADDITIVE foreachBatch maintainers. Written atomically with each
#: publish (publish_snapshot sets it on the stage table BEFORE the
#: rename swap), so replay detection has NO data-committed/marker-
#: unwritten crash window: a crash before the stage→live rename
#: commits neither data nor marker (the batch replays and recomputes
#: from the old state); after, both. Within the registered queries
#: each invocation resets its tables, so the marker is belt-and-
#: braces there — it exists for a persistent-checkpoint deployment,
#: where foreachBatch re-delivers the last batch after a restart and
#: a blind re-fold would double-count (min/+ are idempotent only per
#: key-presence, not per delivery).
LAST_BATCH_PROP = "nine.last_batch_id"


def _replayed_batch(spark: SparkSession, table: str, batch_id) -> bool:
    if batch_id is None:
        return False
    last = read_table_property(spark, table, LAST_BATCH_PROP)
    return last is not None and int(batch_id) <= int(last)


def _marker_props(batch_id) -> dict[str, str] | None:
    return None if batch_id is None else {LAST_BATCH_PROP: str(batch_id)}


def apply_dedup_index_batch(
    spark: SparkSession, idx: str, batch_df: DataFrame, batch_id=None
) -> bool:
    """Fold one micro-batch of documents into the content-signature
    index ``idx`` with MONOTONE resolution (least canonical id,
    additive copy count). With ``batch_id`` set, a re-delivered batch
    (id ≤ the index's ``nine.last_batch_id`` property) is SKIPPED —
    returns False — and each publish records the id atomically with
    the data (see :data:`LAST_BATCH_PROP`)."""
    if _replayed_batch(spark, idx, batch_id):
        return False
    delta = (
        batch_df.select(
            "doc_id",
            F.md5(F.expr(f"array_join({TOKS_SPARK}, ' ')")).alias(
                "content_hash"
            ),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("new_id"),
            F.count(F.lit(1)).alias("new_n"),
        )
    )
    base = spark.table(idx).select(
        "content_hash",
        F.col("canonical_doc_id").alias("old_id"),
        F.col("n_copies").alias("old_n"),
    )
    merged = base.join(delta, "content_hash", "full_outer").select(
        "content_hash",
        F.least(
            F.coalesce("old_id", F.col("new_id")),
            F.coalesce("new_id", F.col("old_id")),
        ).alias("canonical_doc_id"),
        (F.coalesce("old_n", F.lit(0)) + F.coalesce("new_n", F.lit(0))).alias(
            "n_copies"
        ),
    )
    publish_snapshot(spark, idx, merged, properties=_marker_props(batch_id))
    return True


def apply_rollup_batch(
    spark: SparkSession, tbl: str, batch_df: DataFrame, batch_id=None
) -> bool:
    """Fold one micro-batch of orders into the (month × status)
    serving rollup ``tbl`` by ADDITION. Same replay contract as
    :func:`apply_dedup_index_batch`: with ``batch_id`` set, a
    re-delivered batch is skipped (returns False) and each publish
    records the id atomically with the data."""
    if _replayed_batch(spark, tbl, batch_id):
        return False
    delta = (
        batch_df.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
            "o_orderstatus",
            F.round("o_totalprice", 2).cast("decimal(18,2)").alias("p"),
        )
        .groupBy("m", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("d_n"),
            F.sum("p").cast("decimal(18,2)").alias("d_sum"),
        )
    )
    base = spark.table(tbl)
    merged = base.join(delta, ["m", "o_orderstatus"], "full_outer").select(
        "m",
        "o_orderstatus",
        (
            F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("total_price"), F.lit(0).cast("decimal(18,2)"))
            + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(18,2)"))
        )
        .cast("decimal(18,2)")
        .alias("total_price"),
    )
    publish_snapshot(spark, tbl, merged, properties=_marker_props(batch_id))
    return True


@query(
    "stream_dedup_index",
    oracle=f"""
    SELECT md5(array_to_string({TOKS_DUCK}, ' ')) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("streaming", "dedup", "foreachBatch"),
)
def stream_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of incremental dedup: a document stream
    maintains the content-signature INDEX table via ``foreachBatch``
    — per micro-batch, fold the batch to (content_hash, min doc_id,
    count), then merge into the managed index with MONOTONE
    resolution (least canonical id, additive copy count). min and +
    are commutative/associative, so the final index is independent of
    batch boundaries and file arrival order — which is what lets the
    oracle state it as a plain batch GROUP BY over all documents, and
    what `dedup_incremental_batch` probes as "the already-ingested
    corpus's signature table".

    Scale posture: per batch one map-side-combined agg over the DELTA
    only, one hash-keyed join against the index (AQE broadcasts the
    delta when small), stage-and-swap publication so readers never see
    a half-merged index. The index row is ~50 bytes/distinct doc —
    the narrow table that makes 100 TB ingest dedup affordable.
    Batch-boundary independence is pytest-proven on an adversarial
    3-file round-robin split (tests/test_stream_dedup_index.py);
    restart-replay safety comes from the ``nine.last_batch_id``
    marker each publish commits atomically with the data (see
    :func:`apply_dedup_index_batch`; replay test in the same suite)."""
    from nineinfra_spark.streaming.ops import read_table_stream

    db = fresh_tables(spark, sf_dir, "dedup_index")
    idx = f"{db}.dedup_index"

    empty = spark.createDataFrame(
        [], "content_hash string, canonical_doc_id long, n_copies long"
    )
    empty.write.saveAsTable(idx)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_dedup_index_batch(spark, idx, batch_df, batch_id=batch_id)

    docs = read_table_stream(spark, sf_dir, "documents", maxFilesPerTrigger="1")
    q = (
        docs.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    capture_microbatch_plan(q, "stream_dedup_index")
    return spark.table(idx).select("content_hash", "canonical_doc_id", "n_copies")


@query(
    "stream_rollup_maintenance",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS m, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("streaming", "mv", "rollup", "foreachBatch"),
)
def stream_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous materialized-view maintenance: an orders stream keeps
    the (month × status) serving rollup fresh via ``foreachBatch`` —
    each micro-batch folds to its partial (count, decimal-sum) cells
    and merges into the managed rollup by ADDITION. Counts and decimal
    sums are commutative/associative, so the converged rollup is
    independent of batch boundaries and arrival order — the same
    algebraic argument as `stream_dedup_index`, here applied to the
    OLAP serving tier (this is the streaming half of
    `catalog_rollup_incremental`, which handles the batch/backfill
    half; `catalog_rollup_routing` is the read side).

    Scale posture: per batch, one map-side-combined agg over the
    DELTA only (cells out ≤ |months×statuses|), a cell-keyed merge
    join against the rollup (broadcast — the rollup is
    dimension-sized), stage-and-swap publication. The fact's history
    is never re-read. Restart-replay safety: the ``nine.last_batch_id``
    marker each publish commits atomically with the data (see
    :func:`apply_rollup_batch`; replay test in
    tests/test_stream_rollup.py)."""
    from nineinfra_spark.streaming.ops import read_table_stream

    db = fresh_tables(spark, sf_dir, "stream_rollup")
    tbl = f"{db}.stream_rollup"

    empty = spark.createDataFrame(
        [], "m string, o_orderstatus string, n_orders long, total_price decimal(18,2)"
    )
    empty.write.saveAsTable(tbl)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(spark, tbl, batch_df, batch_id=batch_id)

    orders = read_table_stream(spark, sf_dir, "orders", maxFilesPerTrigger="1")
    q = (
        orders.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    capture_microbatch_plan(q, "stream_rollup_maintenance")
    return spark.table(tbl).select(
        "m",
        "o_orderstatus",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    )


# -- custom STREAMING connector (Python DataSource API) ---------------------

PYDS_N = 600
PYDS_STEP = 250


@query(
    "stream_python_datasource",
    oracle=f"""
    WITH ks AS (
        SELECT unnest(generate_series(0, {PYDS_N - 1})) AS k
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
    tags=("stream", "connector", "python-datasource"),
    min_spark="4.0",  # Python DataSource stream reader

)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source through the Python DataSource API: the
    ``nine_synth`` connector's stream leg serves micro-batches with an
    exact offset (the next unread key), and ``readBetweenOffsets``
    regenerates any committed range on recovery — the Kafka-reader
    contract, implemented in pure Python. The run drains {PYDS_N}
    rows in ≥3 offset-bounded micro-batches into a memory sink; the
    oracle recomputes the exact relation, so a duplicated or skipped
    offset range (the exactly-once failure modes) breaks the hash.

    Scale posture: a simple stream reader executes on the driver by
    design (Spark prefetch) and suits control-rate sources; the
    partition-parallel batch leg is the bulk path, and a real broker
    source would implement the partitioned stream-reader variant with
    the same offset algebra."""
    import time as _time
    import uuid as _uuid

    from nineinfra_spark.sources import pyds

    pyds.register(spark)
    name = f"mem_pyds_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("nine_synth")
        .option("n", str(PYDS_N))
        .option("step", str(PYDS_STEP))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline:
            if spark.table(name).count() >= PYDS_N:
                break
            _time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    capture_microbatch_plan(q, "stream_python_datasource")
    return spark.table(name).select(
        "event_id", "user_id", "ts_offset_s", "value"
    )


TOPICS_SPEC = "web:250,wiki:150,code:100"
TOPICS_CAP = 120


@query(
    "stream_topics_rate_capped",
    oracle="""
    WITH t AS (
        SELECT 'web' AS topic, 250 AS n
        UNION ALL SELECT 'wiki', 150
    ),
    ks AS (
        SELECT topic, unnest(generate_series(0, n - 1)) AS k FROM t
    ),
    h AS (
        SELECT topic, k,
               CAST('0x' || substr(
                   md5(topic || '/' || CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   AS hv
        FROM ks
    )
    SELECT topic, k AS event_id, hv % 1000 AS user_id,
           (hv // 1000 % 1000000) / 100.0 AS value
    FROM h
    """,
    tags=("stream", "connector", "kafka-semantics"),
    min_spark="4.0",  # Python DataSource stream reader
)
def stream_topics_rate_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-SEMANTICS streaming connector (`nine_topics`,
    sources/pyds.py): three named topics, an anchored-regex pattern
    subscription selecting two of them (`web|wiki` — the `code` topic
    must never leak into the sink), and a maxOffsetsPerTrigger cap of
    120 rows per micro-batch apportioned proportionally to each
    topic's remaining backlog (Kafka's rate-limit distribution, made
    deterministic by a floor+remainder split). 400 rows drain in ≥4
    capped batches; offsets are {{topic: pos}} maps, so recovery
    replays (`readBetweenOffsets`) regenerate identical batches. The
    oracle recomputes the exact md5-derived relation — a dropped,
    duplicated, or leaked (unsubscribed-topic) row breaks the hash.

    The broker-backed Kafka leg stays env-blocked
    (sources/readers.py:kafka_options builds the real options); this
    query is the driver-verified contract of the semantics that leg
    would add."""
    import time as _time
    import uuid as _uuid

    from nineinfra_spark.sources import pyds

    pyds.register(spark)
    name = f"mem_topics_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("nine_topics")
        .option("topics", TOPICS_SPEC)
        .option("subscribePattern", "web|wiki")
        .option("maxOffsetsPerTrigger", str(TOPICS_CAP))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline:
            if spark.table(name).count() >= 400:
                break
            _time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    capture_microbatch_plan(q, "stream_topics_rate_capped")
    return spark.table(name).select("topic", "event_id", "user_id", "value")


@query(
    "stream_bitmap_distinct",
    oracle="""
    WITH wk AS (
        SELECT user_id,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                   AS week
        FROM events
    ),
    weekly AS (
        SELECT week, COUNT(DISTINCT user_id) AS n_distinct
        FROM wk GROUP BY week
    ),
    total AS (
        SELECT CAST(-1 AS BIGINT) AS week,
               COUNT(DISTINCT user_id) AS n_distinct FROM wk
    )
    SELECT week, CAST(n_distinct AS BIGINT) AS n_distinct FROM weekly
    UNION ALL
    SELECT week, CAST(n_distinct AS BIGINT) FROM total
    """,
    tags=("streaming", "bitmap", "foreachBatch"),
)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT-distinct maintenance via bitmap OR-merge — the
    continuous twin of `agg_bitmap_distinct_rollup`: each micro-batch
    folds its users into (week, word, bits) 63-bit bitmap rows and
    ORs them into the managed serving table. Bitwise OR is
    commutative, associative AND IDEMPOTENT, so the index is not just
    batch-boundary/arrival-order independent like the additive
    maintainers (`stream_rollup_maintenance`) — it survives REPLAYED
    batches byte-identically, i.e. at-least-once delivery already
    yields the exactly-once result. That algebra is why serving tiers
    store distincts as bitmaps (the Doris BITMAP pattern), and why
    the oracle can be the plain batch COUNT(DISTINCT) at both rollup
    levels.

    Scale posture: per batch, one map-side bit_or over the DELTA
    (≤ ⌈|ids|/63⌉ words out), one word-keyed OR-join into the index;
    the final readout is dimension-sized."""
    from nineinfra_spark.streaming.ops import read_table_stream

    db = fresh_tables(spark, sf_dir, "user_bitmaps")
    idx = f"{db}.user_bitmaps"

    empty = spark.createDataFrame([], "week long, w_idx long, bits long")
    empty.write.saveAsTable(idx)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.select(
                F.floor(
                    F.datediff(
                        F.col("ts").cast("date"),
                        F.lit("2024-01-01").cast("date"),
                    )
                    / 7
                )
                .cast("bigint")
                .alias("week"),
                "user_id",
            )
            .groupBy("week", F.expr("user_id div 63").alias("w_idx"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(cast(1 as bigint),"
                    " cast(user_id % 63 as int)))"
                ).alias("new_bits")
            )
        )
        base = spark.table(idx).select(
            "week", "w_idx", F.col("bits").alias("old_bits")
        )
        merged = base.join(delta, ["week", "w_idx"], "full_outer").select(
            "week",
            "w_idx",
            F.expr(
                "coalesce(old_bits, 0) | coalesce(new_bits, 0)"
            ).alias("bits"),
        )
        publish_snapshot(spark, idx, merged)

    ev = read_table_stream(spark, sf_dir, "events", maxFilesPerTrigger="1")
    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    capture_microbatch_plan(q, "stream_bitmap_distinct")

    words = spark.table(idx)
    weekly = words.groupBy("week").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct")
    )
    total = (
        words.groupBy("w_idx")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct"))
        .select(F.lit(-1).cast("bigint").alias("week"), "n_distinct")
    )
    return weekly.select("week", "n_distinct").unionByName(total)


def _zstream_oracle() -> str:
    """DuckDB mirror of ``stream_zorder_maintenance``: the final
    layout's rows grouped by z-bucket. The seed slice freezes the
    grid (bounds from ``event_id % 3 = 0`` rows only — the
    ``zorder_layout_write`` contract), every event is then bucketed
    by the identical clamped 8-bit Morton arithmetic as the proven
    ``zorder_skipping_read`` oracle, so a batch dropped, duplicated,
    or mis-bucketed anywhere in the streaming append loop breaks the
    hash."""
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
    WITH seed AS (
        SELECT user_id, value FROM events WHERE event_id % 3 = 0
    ),
    stats AS (
        SELECT CAST(MIN(CAST(user_id AS DOUBLE)) AS DOUBLE) AS lo_user_id,
               CAST(MAX(CAST(user_id AS DOUBLE)) - MIN(CAST(user_id AS DOUBLE)) AS DOUBLE) AS span_user_id,
               CAST(MIN(CAST(value AS DOUBLE)) AS DOUBLE) AS lo_value,
               CAST(MAX(CAST(value AS DOUBLE)) - MIN(CAST(value AS DOUBLE)) AS DOUBLE) AS span_value
        FROM seed
    ),
    cells AS (
        SELECT value, {cells[0]} AS c0, {cells[1]} AS c1
        FROM events CROSS JOIN stats
    ),
    zbt AS (
        SELECT ({z}) >> {zb_shift} AS zb, value FROM cells
    )
    SELECT CAST(zb AS BIGINT) AS zb,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 1000000000.0) AS BIGINT)) AS BIGINT)
               AS sum_value_nanos
    FROM zbt GROUP BY zb
    """


@query(
    "stream_zorder_maintenance",
    oracle=_zstream_oracle(),
    tags=("streaming", "zorder", "layout", "foreachBatch"),
)
def stream_zorder_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous LAYOUT maintenance: the table stays z-clustered
    WHILE it ingests. A deterministic seed slice (``event_id % 3 =
    0``) is laid out with ``zorder_layout_write`` (freezing the grid
    bounds); the remaining events arrive as a file-source stream and
    ``maintain_layout_stream`` merges every micro-batch through
    ``zorder_layout_append`` — per batch, ONLY the dirty z-buckets are
    rewritten (the frozen-grid upsert of ``operators/_grid_upsert.py``:
    dynamic-partition overwrite), so maintenance cost tracks the
    batch, not the table. This registers the last shipped
    maintainer that had no correctness-gate query (r12: operator +
    pytest only); the dedup-index and rollup maintainers are its
    siblings over managed tables.

    Exactly-once: Spark's checkpoint replays the last batch after a
    restart; the sidecar ``last_batch_id`` marker skips replayed
    batches and ``key_cols=["event_id"]`` dedups the one crash window
    between the partition-overwrite commit and the marker write
    (tests/test_zorder.py pins the algebra; the checkpoint-recovery
    replay is proven end-to-end for the sibling maintainers in
    tests/test_stream_dedup_index.py / test_stream_rollup.py).

    Scale posture: the stream's own state is nothing but source
    offsets; each batch costs one z-value projection + the dirty
    buckets' rewrite (measured flat for 10× table size at fixed batch
    size, r12). Reference scope: continuous ingest+OPTIMIZE over the
    provisioned object store (``internal/controller/minio.go:
    286-319``); Delta's optimizeWrite/auto-compaction shape, native
    here."""
    import os as _os
    import shutil as _shutil

    from nineinfra_spark.operators.zorder import (
        maintain_layout_stream,
        zorder_layout_write,
    )
    from nineinfra_spark.plans.sources_sinks import _out

    sfx = _os.path.basename(sf_dir)
    root = _out("zorder_stream", sfx)
    _shutil.rmtree(root, ignore_errors=True)
    path = _os.path.join(root, "events_z")
    ckpt = _os.path.join(root, "ckpt")
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    seed = ev.filter(F.col("event_id") % 3 == 0)
    zorder_layout_write(seed, path, ["user_id", "value"], bits=8, bucket_bits=5)
    delta = (
        read_events_stream(spark, sf_dir, maxFilesPerTrigger="1")
        .filter(F.col("event_id") % 3 != 0)
        .select("event_id", "user_id", "value")
    )
    q = maintain_layout_stream(
        delta, path, ckpt, key_cols=["event_id"], trigger_available_now=True
    )
    q.awaitTermination()
    capture_microbatch_plan(q, "stream_zorder_maintenance")
    back = spark.read.parquet(path)
    return (
        back.groupBy("zb")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.round(F.col("value") * F.lit(1000000000.0)).cast("bigint")
            ).alias("sum_value_nanos"),
        )
        .select(
            F.col("zb").cast("bigint").alias("zb"),
            "n_rows",
            "sum_value_nanos",
        )
    )
