"""nineinfra_spark.doctor — the plan-doctor API, pinned on crafted
plans: each rule fires on its anti-pattern, stays silent on the
corresponding healthy shape, and AQE's Final+Initial double-print
doesn't duplicate findings."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd

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


def test_untruncated_plan_confs_serialize_and_restore(spark):
    """Review finding (r11): full_plan's conf set-render-restore is
    session-scoped state — two concurrent renders on a shared session
    (parallel REST explain:true requests) could interleave so one
    rendered truncated and the other "restored" the inflated values
    permanently. The context manager must hold a lock for the whole
    set→render→restore span and always restore the ORIGINAL value."""
    import threading

    from nineinfra_spark.doctor import untruncated_plan_confs

    key = "spark.sql.maxMetadataStringLength"
    original = spark.conf.get(key)
    inside_a = threading.Event()
    b_entered = threading.Event()
    seen = {}

    def hold_a():
        with untruncated_plan_confs(spark):
            seen["a"] = spark.conf.get(key)
            inside_a.set()
            # B must NOT get in while A holds the lock
            assert not b_entered.wait(timeout=0.4)

    def try_b():
        inside_a.wait(timeout=5)
        with untruncated_plan_confs(spark):
            b_entered.set()
            seen["b"] = spark.conf.get(key)

    ta = threading.Thread(target=hold_a)
    tb = threading.Thread(target=try_b)
    ta.start()
    tb.start()
    ta.join()
    tb.join()
    # both renders saw the raised value; neither saw the other's
    # temporary as its baseline
    assert seen["a"] == "100000"
    assert seen["b"] == "100000"
    assert b_entered.is_set()
    # and the session ends where it started, not inflated
    assert spark.conf.get(key) == original


def test_untruncated_plan_confs_leave_the_conf_text_unchanged(spark):
    """A render on a session that never set the truncation confs
    unsets them again: the session's SQL conf text, which keys the
    fetch result cache and the statement templates, is what it was."""
    from nineinfra_spark.doctor import untruncated_plan_confs

    sess = spark.newSession()
    jconf = sess._jsparkSession.sessionState().conf()
    before = jconf.getAllConfs().toString()
    with untruncated_plan_confs(sess):
        assert sess.conf.get("spark.sql.maxMetadataStringLength") == "100000"
    assert jconf.getAllConfs().toString() == before


def test_microbatch_capture_renders_untruncated(spark):
    """Review finding (r11): the streaming plan capture rendered under
    the DEFAULT truncation confs, silently no-opping the unpruned-scan
    lint rule on the streaming half. The capture must raise the
    rendering confs for the explainInternal call."""
    from nineinfra_spark.streaming import ops

    key = "spark.sql.maxMetadataStringLength"

    class FakeJsq:
        def explainInternal(self, _extended):
            return f"conf={spark.conf.get(key)}"

    class FakeQuery:
        _jsq = FakeJsq()

    original = spark.conf.get(key)
    prev_last = ops.MICROBATCH_PLANS.get("__last__")
    ops.capture_microbatch_plan(FakeQuery(), "capture_conf_probe")
    try:
        assert ops.MICROBATCH_PLANS["capture_conf_probe"] == "conf=100000"
        assert spark.conf.get(key) == original
    finally:
        ops.MICROBATCH_PLANS.pop("capture_conf_probe", None)
        if prev_last is None:
            ops.MICROBATCH_PLANS.pop("__last__", None)
        else:
            ops.MICROBATCH_PLANS["__last__"] = prev_last
