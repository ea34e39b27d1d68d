"""Physical-plan lint over the WHOLE registry — the scale rules as a
test, so a regression can't sneak in behind a green differential:

1. No unbounded cartesian product: ``CartesianProduct`` may appear
   only in queries tagged ``not-for-scale`` (the explicit exact-
   verification oracles).
2. ``BroadcastNestedLoopJoin`` (the bounded cross shape) only where a
   tag declares WHY it's bounded: ``bounded-nlj`` (a broadcast
   constant-size side), ``dimension-only``, or ``not-for-scale``.
3. Row-at-a-time Python (``BatchEvalPython``, which also matches
   ``BatchEvalPythonUDTF``) only in the three deliberate API-parity
   UDF/UDTF queries — everywhere else Python must be Arrow-batched
   (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``)
   or absent.
4. No single-partition WindowExec: a ``Window`` node whose partition
   spec is EMPTY but whose order spec is not moves the entire input
   to ONE task ("No Partition Defined for Window operation"). Allowed
   only when (a) the window's subtree contains a
   ``TakeOrderedAndProject``/``GlobalLimit`` (the rank-after-top-k
   house pattern: the window sees ≤N rows), or (b) the query is
   tagged ``dimension-only`` (a declared bounded rollup —
   ``window_range_frame``'s supplier-catalog frame,
   ``dq_volume_freshness``'s day-grain gate). This is the rule that
   would have caught the r9 ``agg_gini_concentration`` /
   ``part_revenue_abc`` catalog-rollup windows mechanically (both now
   use ``_util.ranked_prefix`` instead).
5. No unpruned partitioned scan: a ``FileScan`` whose
   ``PartitionFilters`` is empty while a ``Filter`` elsewhere in the
   plan references one of that scan's partition columns (read from
   the plan's file relations) — the pruning-regression class nothing
   excuses. Plans are rendered
   via ``doctor.render``: the plan text with every output attribute,
   plus the partition attributes read from the plan's relations.

Coverage is the WHOLE registry (r11 closed the skip list): batch
queries are linted from their DataFrame plan; queries whose build
RUNS a stream (tag ``streaming``) are linted from the micro-batch
plan the incremental planner ACTUALLY executed, captured by
``streaming.ops.capture_microbatch_plan`` at every replay-harness
exit point — that plan contains the state-store operators and their
``REQUIRED_BY_STATEFUL_OPERATOR`` Exchanges a batch plan never
shows, so the stateful witnesses (dedup, stream-stream join) also
prove their state is hash-partitioned on its key. Catalog / sink /
source builds are executed too (idempotent — the driver sim runs the
registry twice back-to-back). ``test_lint_covers_whole_registry``
pins batch ∪ streaming == registry, batch ∩ streaming == ∅.
"""

from __future__ import annotations

import pytest

from nineinfra_spark import doctor

from nineinfra_spark.plans import registry

SF = "/root/testdata/sf0.001"

_SKIP_TAGS = {"streaming"}

_LINTABLE = [
    n
    for n in registry.names()
    if not (_SKIP_TAGS & set(registry.get(n).tags))
]

#: queries allowed to plan row-at-a-time Python, by design (API parity
#: with the SLOW path — their docstrings say exactly that)
_ROW_PYTHON_OK = {"udf_scalar_python", "udf_sql_registered", "udf_python_udtf"}


def _render(spark, name: str) -> tuple[str, frozenset[str]]:
    """``doctor.render`` of the query's plan: its text and its
    partition-column attributes."""
    df = registry.get(name).fn(spark, SF)
    return doctor.render(df._jdf.queryExecution())


def _plan(spark, name: str) -> str:
    return _render(spark, name)[0]


# the detection helpers live in nineinfra_spark.doctor — the
# user-facing plan-doctor API; this suite is the same rule engine
# applied registry-wide with the tag-based exemption policy

#: which Finding kinds each exemption tag excuses
_TAG_EXCUSES = {
    "cartesian": {"not-for-scale"},
    "nested-loop": {"bounded-nlj", "dimension-only", "not-for-scale"},
    "global-window": {"dimension-only"},
    # NO tag excuses an unpruned partitioned scan: a partition-column
    # filter that fails to reach the scan is a bug, fix the plan
    "unpruned-scan": set(),
}


@pytest.mark.parametrize("name", _LINTABLE)
def test_plan_scale_rules(spark, name):
    tags = set(registry.get(name).tags)

    for f in doctor.scale_risks_in_plan(*_render(spark, name)):
        if f.kind == "row-python":
            assert name in _ROW_PYTHON_OK, (
                f"{name}: {f.kind} — {f.hint}\n{f.line}"
            )
            continue
        assert tags & _TAG_EXCUSES[f.kind], (
            f"{name}: {f.kind} without a declaring tag — {f.hint}"
            f"\n{f.line}"
        )


def test_range_frame_bucketed_has_no_window(spark):
    """The fact-scale RANGE-frame variant must never plan a WindowExec
    (the whole point vs. the dimension-only `window_range_frame`):
    hash-agg + bucket-level spread + broadcast join-back only."""
    plan = _plan(spark, "window_range_frame_bucketed")
    assert "Window" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_bpe_pair_counts_takes_ordered_before_window(spark):
    """text_bpe_pair_counts ranks AFTER a TakeOrdered(N) — the global
    row_number window must only ever see N rows, not every pair key."""
    plan = _plan(spark, "text_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_lint_covers_whole_registry():
    """EVERY registered query is linted by exactly one of the two
    sweeps: batch queries from their DataFrame plan
    (test_plan_scale_rules), streaming queries from their captured
    micro-batch plan (test_streaming_microbatch_plan_rules). r11
    closed the skip list: coverage is the full registry."""
    assert set(_LINTABLE) | set(_STREAMING) == set(registry.names())
    assert not set(_LINTABLE) & set(_STREAMING)
    assert len(_STREAMING) <= 15, _STREAMING  # streaming stays minority


# -- streaming: lint the plan the micro-batch engine ACTUALLY ran -----------

_STREAMING = [
    n
    for n in registry.names()
    if "streaming" in registry.get(n).tags
]

#: stateful streaming operators must hash-partition on their STATE
#: key (the engine inserts Exchange REQUIRED_BY_STATEFUL_OPERATOR) —
#: a state store not co-partitioned with its key cannot scale past
#: one executor. Checked on the two r10-verdict-named witnesses.
_STATE_KEYED = {
    "stream_dedup_watermark": ("StreamingDeduplicate", ("user_id", "event_type")),
    "stream_stream_join": ("StreamingSymmetricHashJoin", ("user_id",)),
}


def _microbatch_plan(spark, name: str) -> tuple[str, frozenset[str]]:
    """Run the streaming query's replay (availableNow at the smoke SF)
    and return the ``doctor.render`` result of the last executed
    micro-batch — captured by ``streaming.ops.capture_microbatch_plan``
    at every harness exit point."""
    from nineinfra_spark.streaming import ops

    ops.MICROBATCH_PLANS.pop("__last__", None)
    registry.get(name).fn(spark, SF)
    plan = ops.MICROBATCH_PLANS.get("__last__")
    assert plan is not None, f"{name}: no micro-batch plan captured"
    return plan


@pytest.mark.parametrize("name", _STREAMING)
def test_streaming_microbatch_plan_rules(spark, name):
    """The r10-verdict item: the 11 streaming queries were the entire
    lint skip list — now each one's micro-batch EXECUTION plan (from
    the incremental planner, with the state-store operators the batch
    plan never shows) passes the same rule engine, and the stateful
    witnesses prove their state is partitioned on its key."""
    plan, part_attrs = _microbatch_plan(spark, name)
    tags = set(registry.get(name).tags)
    for f in doctor.scale_risks_in_plan(plan, part_attrs):
        if f.kind == "row-python":
            assert name in _ROW_PYTHON_OK, (
                f"{name}: {f.kind} — {f.hint}\n{f.line}"
            )
            continue
        assert tags & _TAG_EXCUSES[f.kind], (
            f"{name}: {f.kind} without a declaring tag — {f.hint}"
            f"\n{f.line}"
        )
    if name in _STATE_KEYED:
        node, keys = _STATE_KEYED[name]
        assert node in plan, f"{name}: expected {node} in\n{plan[:2000]}"
        part_lines = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning(" in ln
            and "REQUIRED_BY_STATEFUL_OPERATOR" in ln
        ]
        assert part_lines, f"{name}: no stateful-operator Exchange"
        assert any(
            all(k in ln for k in keys) for ln in part_lines
        ), f"{name}: state Exchange not keyed on {keys}:\n" + "\n".join(
            part_lines
        )


def test_verify_priority_fits_driver_window():
    """_VERIFY_FIRST must fit the driver's ~50-slot CORRECTNESS
    window — an oversized priority list silently pushes its own tail
    outside the gate, defeating the point."""
    from nineinfra_spark.plans import _VERIFY_FIRST

    assert len(_VERIFY_FIRST) <= 50, len(_VERIFY_FIRST)


def test_spread_gate_noop_on_many_file_table(spark, tmp_path):
    """Pin the 100 TB no-op claim of plans/_util.spread (r16 verdict
    item 9): on a table with at least defaultParallelism input files
    the gate must take the no-op branch (zero Exchange added), and on
    the single-file testdata shape it must add exactly one
    hash-partitioning Exchange on the given key."""
    from nineinfra_spark.plans._util import spread

    par = spark.sparkContext.defaultParallelism

    many_dir = str(tmp_path / "many")
    spark.range(0, par * 4).withColumnRenamed("id", "k").repartition(
        par
    ).write.parquet(many_dir)
    many = spark.read.parquet(many_dir)
    assert len(many.inputFiles()) >= par
    out = spread(many, "k")
    assert out is many, "spread() must be a no-op when files >= cores"
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    one_dir = str(tmp_path / "one")
    spark.range(0, 100).withColumnRenamed("id", "k").coalesce(1).write.parquet(
        one_dir
    )
    one = spark.read.parquet(one_dir)
    assert len(one.inputFiles()) == 1
    plan = spread(one, "k")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(k" in plan, plan
