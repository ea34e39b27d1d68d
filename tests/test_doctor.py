"""nineinfra_spark.doctor — the plan-doctor API, pinned on crafted
plans: each rule fires on its anti-pattern, stays silent on the
corresponding healthy shape, and AQE's Final+Initial double-print
doesn't duplicate findings."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from nineinfra_spark import doctor


def _kinds(df):
    return sorted({f.kind for f in doctor.scale_risks(df)})


@contextmanager
def _no_broadcast(spark):
    """Force non-broadcast join strategies (CartesianProduct instead
    of BroadcastNestedLoopJoin for an unkeyed join)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_cartesian_flagged(spark):
    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    with _no_broadcast(spark):
        assert "cartesian" in _kinds(a.crossJoin(b))


def test_nested_loop_flagged(spark):
    a = spark.range(100)
    one = spark.range(1).agg(F.count(F.lit(1)).alias("n"))
    kinds = _kinds(a.crossJoin(F.broadcast(one)))
    assert "nested-loop" in kinds
    assert "cartesian" not in kinds


def test_equi_join_clean(spark):
    a = spark.range(100).withColumn("k", F.col("id") % 7)
    b = spark.range(7).withColumnRenamed("id", "k")
    assert _kinds(a.join(b, "k")) == []


def test_global_window_flagged_and_partitioned_clean(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    bad = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    assert _kinds(bad) == ["global-window"]
    good = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert _kinds(good) == []


def test_partitionby_without_orderby_clean(spark):
    """partitionBy-without-orderBy also prints 2 bracket groups — the
    detector must not confuse it with the unpartitioned shape."""
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    ok = df.withColumn("m", F.min("id").over(Window.partitionBy("k")))
    assert _kinds(ok) == []


def test_rank_after_topk_suppressed(spark):
    """The house pattern: a global window fed by a TakeOrdered(N) sees
    at most N rows — not a risk."""
    df = spark.range(1000).withColumn("v", F.col("id") % 97)
    top = df.orderBy(F.desc("v"), "id").limit(10)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("v"), "id"))
    )
    assert _kinds(ranked) == []


def test_row_python_flagged_arrow_clean(spark):
    @F.udf("long")
    def slow(v):
        return v + 1

    assert "row-python" in _kinds(spark.range(10).select(slow("id")))

    @F.pandas_udf("long")
    def fast(v: pd.Series) -> pd.Series:
        return v + 1

    assert _kinds(spark.range(10).select(fast("id"))) == []


def test_findings_deduped_across_aqe_sections(spark):
    """AQE prints Final AND Initial plans — one physical risk must
    yield one finding, not two."""
    df = spark.range(100).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    findings = doctor.scale_risks(df)
    assert len([f for f in findings if f.kind == "global-window"]) == 1


def test_every_finding_carries_a_hint(spark):
    df = spark.range(100).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    for f in doctor.scale_risks(df):
        assert f.hint and f.line


def test_unpruned_scan_flagged_blocked_pushdown(spark, tmp_path):
    """A limit between a partition-column filter and the scan blocks
    pushdown: the scan reads EVERY partition (PartitionFilters: [])
    while the query filters on the partition column — the r10-verdict
    §4 scale-killer class the doctor must now see."""
    p = str(tmp_path / "part_tbl")
    (
        spark.range(200)
        .withColumn(
            "dt", F.when(F.col("id") % 2 == 0, "a").otherwise("b")
        )
        .write.partitionBy("dt")
        .parquet(p)
    )
    blocked = spark.read.parquet(p).limit(50).filter(F.col("dt") == "a")
    assert "unpruned-scan" in _kinds(blocked)


def test_pruned_scan_clean(spark, tmp_path):
    """The healthy twin: the same filter directly over the scan
    becomes a PartitionFilter — no finding."""
    p = str(tmp_path / "part_tbl")
    (
        spark.range(200)
        .withColumn(
            "dt", F.when(F.col("id") % 2 == 0, "a").otherwise("b")
        )
        .write.partitionBy("dt")
        .parquet(p)
    )
    pruned = spark.read.parquet(p).filter(F.col("dt") == "a")
    assert "unpruned-scan" not in _kinds(pruned)
    # a blocked filter on a NON-partition column is not this rule's
    # business: no partition-column filter exists anywhere
    other = spark.read.parquet(p).limit(50).filter(F.col("id") > 3)
    assert "unpruned-scan" not in _kinds(other)


def test_limit_on_join_build_side_does_not_suppress_global_window(spark):
    """r10 ADVICE: a GlobalLimit on the BUILD side of a join bounds
    that side only — the window's actual input is still unbounded, so
    the suppression walk must stop at the join and the global-window
    finding must fire."""
    a = spark.range(1000).withColumn("k", F.col("id") % 7)
    b = (
        spark.range(1000)
        .withColumn("k", F.col("id") % 7)
        .orderBy("id")
        .limit(5)
        .select("k")
        .distinct()
    )
    ranked = a.join(b, "k").withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    assert "global-window" in _kinds(ranked)


def _write_partitioned(spark, path: str, n_cols: int = 0) -> str:
    """A parquet table partitioned on ``dt`` ('a'/'b'), with ``id``
    plus ``n_cols`` long-named data columns."""
    extra = [
        (F.col("id") + i).alias(f"a_rather_long_data_column_name_{i:02d}")
        for i in range(n_cols)
    ]
    (
        spark.range(200)
        .select(
            "id",
            *extra,
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("dt"),
        )
        .write.partitionBy("dt")
        .parquet(path)
    )
    return path


_RENDER_CONFS = (
    "spark.sql.maxMetadataStringLength",
    "spark.sql.debug.maxToStringFields",
)


@pytest.mark.parametrize("confs", ["unset", "set"])
def test_doctor_writes_no_session_state(spark, tmp_path, monkeypatch, confs):
    """The doctor reads the plan and nothing else: no conf is set or
    unset on the caller's session, whether the session left the
    plan-rendering confs at their defaults or set them itself, and the
    session's SQL conf text (the fetch caches' key) is unchanged."""
    sess = spark.newSession()
    if confs == "set":
        sess.conf.set(_RENDER_CONFS[0], "100")
        sess.conf.set(_RENDER_CONFS[1], "25")
    p = _write_partitioned(sess, str(tmp_path / "part_tbl"))
    blocked = sess.read.parquet(p).limit(50).filter(F.col("dt") == "a")
    jconf = sess._jsparkSession.sessionState().conf()
    before = jconf.getAllConfs().toString()
    calls = []
    conf_cls = type(sess.conf)
    for name in ("set", "unset"):
        real = getattr(conf_cls, name)

        def spy(self, *args, _name=name, _real=real):
            calls.append((_name, args))
            return _real(self, *args)

        monkeypatch.setattr(conf_cls, name, spy)
    assert "unpruned-scan" in _kinds(blocked)
    assert calls == []
    assert jconf.getAllConfs().toString() == before


def test_unpruned_scan_flagged_on_wide_table(spark, tmp_path):
    """A scan with 40 long-named data columns: its output list runs
    past the default field limit and its ReadSchema past the default
    metadata length, and the blocked partition filter is still seen."""
    p = _write_partitioned(spark, str(tmp_path / "wide_tbl"), n_cols=40)
    blocked = spark.read.parquet(p).limit(50).filter(F.col("dt") == "a")
    assert "unpruned-scan" in _kinds(blocked)


def test_unpruned_scan_flagged_inside_scalar_subquery(spark, tmp_path):
    """The partition attributes of a relation inside a scalar subquery
    are found too: the same blocked filter one level down."""
    p = _write_partitioned(spark, str(tmp_path / "part_tbl"))
    df = spark.sql(
        "SELECT id, (SELECT count(*) FROM "
        f"(SELECT * FROM parquet.`{p}` LIMIT 50) WHERE dt = 'a') AS n "
        "FROM range(3)"
    )
    assert "unpruned-scan" in _kinds(df)


def test_nested_loop_flagged_inside_scalar_subquery(spark):
    df = spark.sql(
        "SELECT id, (SELECT count(*) FROM range(100) a CROSS JOIN "
        "(SELECT count(*) AS c FROM range(1)) b) AS n FROM range(3)"
    )
    assert "nested-loop" in _kinds(df)


def test_global_window_same_findings_after_execution(spark):
    """Once the query ran, the executed plan is AQE's final plan; the
    findings are those of the unexecuted plan."""
    df = spark.range(100).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    before = _kinds(df)
    df.collect()
    assert "isFinalPlan=true" in doctor.render(df._jdf.queryExecution())[0]
    assert _kinds(df) == before == ["global-window"]


def test_microbatch_capture_flags_unpruned_scan(spark, tmp_path):
    """A captured micro-batch over a partitioned file-source stream
    carries the batch relation's partition attributes: a filter on the
    partition column that a Python UDF keeps from the scan is
    flagged."""
    from nineinfra_spark.streaming import ops

    src = _write_partitioned(spark, str(tmp_path / "stream_src"))
    is_a = F.udf(lambda d: d == "a", "boolean")
    stream = (
        spark.readStream.schema("id long, dt string")
        .parquet(src)
        .filter((F.col("dt") == "a") | is_a(F.col("dt")))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("doctor_partitioned_stream")
        .trigger(availableNow=True)
        .start()
    )
    prev_last = ops.MICROBATCH_PLANS.get("__last__")
    try:
        q.awaitTermination()
        ops.capture_microbatch_plan(q, "doctor_partitioned_stream")
        plan, part_attrs = ops.MICROBATCH_PLANS["doctor_partitioned_stream"]
        kinds = {f.kind for f in doctor.scale_risks_in_plan(plan, part_attrs)}
        assert kinds == {"row-python", "unpruned-scan"}, plan
    finally:
        q.stop()
        spark.catalog.dropTempView("doctor_partitioned_stream")
        ops.MICROBATCH_PLANS.pop("doctor_partitioned_stream", None)
        if prev_last is None:
            ops.MICROBATCH_PLANS.pop("__last__", None)
        else:
            ops.MICROBATCH_PLANS["__last__"] = prev_last
