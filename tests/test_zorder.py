"""Z-order layout operator (operators/zorder.py): bit-correctness of
the Morton code and the actual data-skipping payoff — the z-ordered
layout must tighten per-file min-max envelopes on BOTH participating
columns vs a single-column sort."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nineinfra_spark.operators.zorder import zorder_write, zvalue_column
from nineinfra_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"
OUT = "/tmp/nineinfra_zorder_test"


def _scan_metadata(df, key: str) -> str:
    """``key`` of the file scan's metadata map (``PushedFilters``,
    ``PartitionFilters``, ...), whole: the plan text cuts each metadata
    value at ``spark.sql.maxMetadataStringLength`` chars."""
    plan = df._jdf.queryExecution().sparkPlan()
    leaves = plan.collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            return leaf.metadata().apply(key)
    raise AssertionError(f"no file scan in\n{plan.toString()}")


def _interleave(cells: list[int], bits: int) -> int:
    z, k = 0, len(cells)
    for b in range(bits):
        for i, c in enumerate(cells):
            z |= ((c >> b) & 1) << (b * k + i)
    return z


def test_zvalue_bit_exact(spark):
    """Morton code matches a Python reference on a grid whose min-max
    scaling is exact (values already on the [0, grid] lattice)."""
    bits = 4
    grid = (1 << bits) - 1
    rows = [(a, b) for a in range(0, grid + 1, 3) for b in range(0, grid + 1, 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zvalue_column(df, ["x", "y"], bits=bits)).collect()
    }
    for (x, y), z in got.items():
        assert z == _interleave([x, y], bits), (x, y)


def test_zvalue_validation(spark):
    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match="1..4 columns"):
        zvalue_column(df, [])
    with pytest.raises(ValueError, match="exceeds a signed long"):
        zvalue_column(df, ["x", "y"], bits=32)


@pytest.fixture(scope="module")
def layouts(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    ev = read_table(spark, SF, "events").select("event_id", "user_id", "value")
    n_files = 8
    # baseline: globally sorted by user_id only
    (
        ev.repartitionByRange(n_files, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(os.path.join(OUT, "by_user"))
    )
    zorder_write(ev, os.path.join(OUT, "zorder"), ["user_id", "value"], n_files)
    yield OUT
    shutil.rmtree(OUT, ignore_errors=True)


def _avg_span(root: str, col: str) -> float:
    """Mean per-file (max-min) envelope of ``col``, normalized by the
    global span — the fraction of the value range a reader must assume
    a file may contain (lower = better skipping)."""
    spans, glo, ghi = [], None, None
    for f in os.listdir(root):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(root, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
        glo = lo if glo is None else min(glo, lo)
        ghi = hi if ghi is None else max(ghi, hi)
    width = float(ghi - glo) or 1.0
    return sum(float(hi - lo) for lo, hi in spans) / len(spans) / width


def test_zorder_tightens_both_columns(layouts):
    """user_id-sorted layout: tight on user_id, useless (~full span)
    on value. Z-order: materially tight on BOTH."""
    by_user_value = _avg_span(os.path.join(layouts, "by_user"), "value")
    z_user = _avg_span(os.path.join(layouts, "zorder"), "user_id")
    z_value = _avg_span(os.path.join(layouts, "zorder"), "value")
    # the single-column sort leaves value envelopes ~the whole range
    # (uncorrelated columns: each file sees most of the value span)
    assert by_user_value > 0.7, by_user_value
    # z-order: every file's envelope covers well under half the range
    # on each clustered column
    assert z_user < 0.55, z_user
    assert z_value < 0.55, z_value


def test_zorder_preserves_content(spark, layouts):
    ev = read_table(spark, SF, "events").select("event_id", "user_id", "value")
    back = spark.read.parquet(os.path.join(layouts, "zorder"))
    assert back.count() == ev.count()
    assert (
        back.agg(F.sum("event_id"), F.sum("user_id")).first()
        == ev.agg(F.sum("event_id"), F.sum("user_id")).first()
    )


def test_four_columns_work_at_default_bits(spark):
    """r11 review finding: the documented 1..4-column contract raised
    unconditionally at 4 columns because the fixed 16-bit default
    overflowed the signed long; the default now auto-fits (15 bits at
    k=4) while explicit oversized bits still raise."""
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0), (4.0, 3.0, 2.0, 1.0)], "a double, b double, c double, d double"
    )
    rows = df.withColumn("z", zvalue_column(df, ["a", "b", "c", "d"])).collect()
    assert len(rows) == 2
    assert all(r["z"] >= 0 for r in rows)
    with pytest.raises(ValueError):
        zvalue_column(df, ["a", "b", "c", "d"], bits=16)


def test_empty_and_all_null_inputs_do_not_crash(spark, tmp_path):
    """r11 review finding: None min/max stats (empty frame, all-NULL
    column) crashed the expression builder with a bare TypeError."""
    empty = spark.createDataFrame([], "x double, y double")
    assert empty.withColumn("z", zvalue_column(empty, ["x", "y"])).count() == 0
    nulls = spark.createDataFrame([(None, 1.0), (None, 2.0)], "x double, y double")
    out = nulls.withColumn("z", zvalue_column(nulls, ["x", "y"])).collect()
    assert len(out) == 2
    zorder_write(empty, str(tmp_path / "zempty"), ["x", "y"], 1)


class TestSkippingRead:
    """r12: the READ-side proof behind the `zorder_skipping_read`
    registered query — files are physically one-per-bucket, the box
    query's envelope audit actually skips most files, and reading ONLY
    the envelope-hit files reproduces the full box answer (i.e. the
    min-max skip is sound, not just small)."""

    @pytest.fixture(scope="class")
    def run(self, spark):
        from nineinfra_spark.plans import registry

        row = registry.get("zorder_skipping_read").fn(spark, SF).collect()[0]
        path = "/tmp/nineinfra_spark_io/zorder_skip/sf0.001/events_z"
        return row, path

    def test_one_file_per_bucket(self, spark, run):
        _, path = run
        back = spark.read.parquet(path)
        n_files = back.select(
            F.col("_metadata.file_path")
        ).distinct().count()
        n_buckets = back.select("zb").distinct().count()
        assert n_files == n_buckets  # envelope-per-file == per-bucket

    def test_most_files_skipped(self, run):
        row, _ = run
        assert row["files_total"] >= 16
        assert row["files_hit"] * 2 < row["files_total"]  # >50% skipped
        assert row["files_skipped"] == row["files_total"] - row["files_hit"]

    def test_hit_files_alone_answer_the_box(self, spark, run):
        """Soundness: a reader that opens ONLY the envelope-hit files
        gets the exact same box rows as a full scan — no in-box row
        hides in a skipped file."""
        row, path = run
        ev = read_table(spark, SF, "events").select("user_id", "value")
        st = ev.agg(
            F.min(F.col("user_id").cast("double")).alias("lo_u"),
            F.max(F.col("user_id").cast("double")).alias("hi_u"),
            F.min(F.col("value").cast("double")).alias("lo_v"),
            F.max(F.col("value").cast("double")).alias("hi_v"),
        ).first()
        import math

        span_u, span_v = st["hi_u"] - st["lo_u"], st["hi_v"] - st["lo_v"]
        au = math.ceil(st["lo_u"] + span_u * 0.25)
        bu = math.floor(st["lo_u"] + span_u * 0.55)
        av, bv = st["lo_v"] + span_v * 0.25, st["lo_v"] + span_v * 0.55
        box = (
            (F.col("user_id") >= F.lit(au))
            & (F.col("user_id") <= F.lit(bu))
            & (F.col("value") >= F.lit(av))
            & (F.col("value") <= F.lit(bv))
        )
        back = spark.read.parquet(path).select(
            F.col("_metadata.file_path").alias("fp"), "user_id", "value"
        )
        env = back.groupBy("fp").agg(
            F.min("user_id").alias("mnu"), F.max("user_id").alias("mxu"),
            F.min("value").alias("mnv"), F.max("value").alias("mxv"),
        )
        hit_files = [
            r["fp"]
            for r in env.filter(
                ~(
                    (F.col("mxu") < F.lit(au))
                    | (F.col("mnu") > F.lit(bu))
                    | (F.col("mxv") < F.lit(av))
                    | (F.col("mnv") > F.lit(bv))
                )
            ).collect()
        ]
        assert len(hit_files) == row["files_hit"]
        # strip file: URI prefix for the reader
        paths = [f.replace("file:", "") for f in hit_files]
        from_hits = sorted(
            tuple(r)
            for r in spark.read.parquet(*paths)
            .select("user_id", "value")
            .filter(box)
            .collect()
        )
        from_all = sorted(
            tuple(r)
            for r in back.select("user_id", "value").filter(box).collect()
        )
        assert from_hits == from_all
        assert len(from_all) == row["n_rows"]

    def test_box_predicate_reaches_pushed_filters(self, spark, run):
        """The box predicate must reach the parquet scan's
        PushedFilters on BOTH clustered columns — a double-cast on the
        bigint column side silently blocks pushdown, turning the
        layout's row-group skipping into a full decode (the r12 plan
        review caught exactly that in the first draft of this
        query)."""
        _, path = run
        back = spark.read.parquet(path).select("user_id", "value")
        boxed = back.filter(
            (F.col("user_id") >= F.lit(5))
            & (F.col("user_id") <= F.lit(9))
            & (F.col("value") >= F.lit(10.0))
            & (F.col("value") <= F.lit(100.0))
        )
        pushed = _scan_metadata(boxed, "PushedFilters")
        for token in (
            "GreaterThanOrEqual(user_id", "LessThanOrEqual(user_id",
            "GreaterThanOrEqual(value", "LessThanOrEqual(value",
        ):
            assert token in pushed, (token, pushed)


class TestIncrementalMaintain:
    """zorder_layout_write / zorder_layout_append: the OPTIMIZE loop —
    frozen-bounds bucketing, dirty-bucket-only rewrite, content and
    envelope soundness after the append."""

    @pytest.fixture(scope="class")
    def maintained(self, spark):
        from nineinfra_spark.operators.zorder import (
            zorder_layout_append,
            zorder_layout_write,
        )

        out = "/tmp/nineinfra_zorder_maintain_test"
        shutil.rmtree(out, ignore_errors=True)
        ev = read_table(spark, SF, "events").select(
            "event_id", "user_id", "value"
        )
        base = ev.filter(F.col("event_id") % 7 != 0)
        st = ev.agg(
            F.min("user_id").alias("lo"), F.max("user_id").alias("hi")
        ).first()
        low_slice = st["lo"] + (st["hi"] - st["lo"]) / 10
        delta = ev.filter(F.col("event_id") % 7 == 0).filter(
            F.col("user_id") < low_slice
        )
        meta = zorder_layout_write(
            base, out, ["user_id", "value"], bits=8, bucket_bits=5,
            mode="overwrite",
        )
        before = {
            d: sorted(os.listdir(os.path.join(out, d)))
            for d in os.listdir(out)
            if d.startswith("zb=")
        }
        stats = zorder_layout_append(spark, out, delta)
        after = {
            d: sorted(os.listdir(os.path.join(out, d)))
            for d in os.listdir(out)
            if d.startswith("zb=")
        }
        return {
            "out": out, "meta": meta, "stats": stats,
            "before": before, "after": after,
            "base": base, "delta": delta,
        }

    def test_only_dirty_buckets_rewritten(self, maintained):
        before, after = maintained["before"], maintained["after"]
        stats = maintained["stats"]
        assert stats["rows_appended"] > 0
        changed = [
            d for d in after
            if d not in before or after[d] != before[d]
        ]
        assert len(changed) == stats["buckets_dirty"]
        # the delta was confined to the low-user_id slice, so most
        # buckets are untouched — the whole point of the increment
        assert stats["buckets_dirty"] < stats["buckets_total"] / 2
        untouched = [d for d in before if d not in changed]
        for d in untouched:
            assert after[d] == before[d], f"{d} rewritten needlessly"

    def test_one_file_per_dirty_bucket(self, maintained):
        after = maintained["after"]
        for d, files in after.items():
            parquet = [f for f in files if f.endswith(".parquet")]
            assert len(parquet) == 1, f"{d}: {parquet}"

    def test_content_is_exact_union(self, spark, maintained):
        got = (
            spark.read.parquet(maintained["out"])
            .select("event_id", "user_id", "value")
            .sort("event_id")
            .collect()
        )
        want = (
            maintained["base"].unionByName(maintained["delta"])
            .sort("event_id")
            .collect()
        )
        assert got == want

    def test_envelopes_stay_sound_after_append(self, spark, maintained):
        """Reading ONLY the envelope-hit files answers a box query
        exactly — skipping soundness survives the increment."""
        out = maintained["out"]
        back = spark.read.parquet(out).select(
            F.col("_metadata.file_path").alias("fp"), "user_id", "value"
        )
        st = back.agg(
            F.min("user_id").alias("lu"), F.max("user_id").alias("hu"),
            F.min("value").alias("lv"), F.max("value").alias("hv"),
        ).first()
        au = st["lu"] + (st["hu"] - st["lu"]) * 0.2
        bu = st["lu"] + (st["hu"] - st["lu"]) * 0.5
        av = st["lv"] + (st["hv"] - st["lv"]) * 0.2
        bv = st["lv"] + (st["hv"] - st["lv"]) * 0.5
        env = back.groupBy("fp").agg(
            F.min("user_id").alias("mnu"), F.max("user_id").alias("mxu"),
            F.min("value").alias("mnv"), F.max("value").alias("mxv"),
        )
        hit_files = [
            r["fp"]
            for r in env.filter(
                ~((F.col("mxu") < au) | (F.col("mnu") > bu)
                  | (F.col("mxv") < av) | (F.col("mnv") > bv))
            ).collect()
        ]
        box = (
            (F.col("user_id") >= au) & (F.col("user_id") <= bu)
            & (F.col("value") >= av) & (F.col("value") <= bv)
        )
        data_cols = ["event_id", "user_id", "value"]
        full = (
            spark.read.parquet(out).filter(box)
            .select(*data_cols).sort(*data_cols).collect()
        )
        assert 0 < len(hit_files) < len(env.collect())
        # leaf files read directly carry no zb partition column —
        # compare on the data columns, which is what a pruning reader
        # returns anyway
        only_hit = (
            spark.read.parquet(*hit_files).filter(box)
            .select(*data_cols).sort(*data_cols).collect()
        )
        assert [tuple(r) for r in only_hit] == [tuple(r) for r in full]

    def test_empty_delta_is_noop(self, spark, maintained):
        from nineinfra_spark.operators.zorder import zorder_layout_append

        before = maintained["after"]
        empty = maintained["delta"].filter(F.lit(False))
        stats = zorder_layout_append(spark, maintained["out"], empty)
        assert stats["rows_appended"] == 0
        assert stats["buckets_dirty"] == 0
        after = {
            d: sorted(os.listdir(os.path.join(maintained["out"], d)))
            for d in os.listdir(maintained["out"])
            if d.startswith("zb=")
        }
        assert after == before

    def test_column_mismatch_rejected(self, spark, maintained):
        from nineinfra_spark.operators.zorder import zorder_layout_append

        bad = maintained["delta"].withColumnRenamed("value", "val")
        with pytest.raises(ValueError, match="delta columns"):
            zorder_layout_append(spark, maintained["out"], bad)

    def test_out_of_range_delta_clamps_to_edge_buckets(self, spark, tmp_path):
        """Values beyond the frozen bounds land in edge buckets — the
        layout degrades gracefully under drift, never errors or
        scatters."""
        from nineinfra_spark.operators.zorder import (
            zorder_layout_append,
            zorder_layout_write,
        )

        out = str(tmp_path / "drift")
        base = spark.range(0, 100).select(
            F.col("id").alias("x"), (F.col("id") * 2).alias("y")
        )
        zorder_layout_write(base, out, ["x", "y"], bits=8, bucket_bits=4)
        drifted = spark.createDataFrame(
            [(10_000, 99_999), (-5_000, -1)], "x long, y long"
        )
        stats = zorder_layout_append(spark, out, drifted)
        assert stats["rows_appended"] == 2
        # one row clamps to the all-max cell, one to the all-min cell
        assert stats["buckets_dirty"] == 2
        got = sorted(
            (r["x"], r["y"])
            for r in spark.read.parquet(out)
            .filter((F.col("x") > 5000) | (F.col("x") < 0))
            .collect()
        )
        assert got == [(-5_000, -1), (10_000, 99_999)]


class TestStreamingMaintain:
    """Batch-replay idempotence and the foreachBatch streaming sink."""

    def _layout(self, spark, tmp_path):
        from nineinfra_spark.operators.zorder import zorder_layout_write

        out = str(tmp_path / "layout")
        base = spark.range(0, 200).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 50).alias("user_id"),
            (F.col("id") % 17).cast("double").alias("value"),
        )
        zorder_layout_write(base, out, ["user_id", "value"], bits=8, bucket_bits=4)
        return out, base

    def test_batch_marker_skips_replay(self, spark, tmp_path):
        from nineinfra_spark.operators.zorder import zorder_layout_append

        out, base = self._layout(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1000, 3, 5.0)], "event_id long, user_id long, value double"
        )
        s1 = zorder_layout_append(spark, out, delta, batch_id=7)
        assert s1["rows_appended"] == 1
        s2 = zorder_layout_append(spark, out, delta, batch_id=7)
        assert s2.get("skipped_replay") is True and s2["rows_appended"] == 0
        assert spark.read.parquet(out).filter("event_id = 1000").count() == 1
        # a NEWER batch still lands
        s3 = zorder_layout_append(
            spark, out,
            spark.createDataFrame(
                [(1001, 3, 5.0)], "event_id long, user_id long, value double"
            ),
            batch_id=8,
        )
        assert s3["rows_appended"] == 1

    def test_key_dedup_closes_the_crash_window(self, spark, tmp_path):
        """Replay WITHOUT the marker (the crash-between-commit-and-
        marker shape): key_cols dedups the re-delivered rows."""
        from nineinfra_spark.operators.zorder import zorder_layout_append

        out, base = self._layout(spark, tmp_path)
        delta = spark.createDataFrame(
            [(2000, 10, 3.0), (2001, 11, 4.0)],
            "event_id long, user_id long, value double",
        )
        zorder_layout_append(spark, out, delta, key_cols=["event_id"])
        zorder_layout_append(spark, out, delta, key_cols=["event_id"])
        got = spark.read.parquet(out).filter("event_id >= 2000")
        assert got.count() == 2

    def test_in_bucket_upsert_replaces(self, spark, tmp_path):
        from nineinfra_spark.operators.zorder import zorder_layout_append

        out, base = self._layout(spark, tmp_path)
        # event_id 0: user_id 0, value 0.0 — re-deliver with the SAME
        # z columns (in-bucket update is the supported shape)
        upd = spark.createDataFrame(
            [(0, 0, 0.0)], "event_id long, user_id long, value double"
        )
        zorder_layout_append(spark, out, upd, key_cols=["event_id"])
        assert spark.read.parquet(out).filter("event_id = 0").count() == 1

    def test_anti_upsert_both_paths_stay_broadcast_hash(self, spark):
        """Plan pin for the upsert helper's two forms: eqNullSafe AND
        plain equality both extract as hash-join keys — the delta side
        stays a broadcast hash join, never a nested loop (the claim
        both append docstrings rest on)."""
        from nineinfra_spark.operators._grid_upsert import anti_upsert_keys

        ex = spark.range(100).select(
            F.col("id").alias("k"), F.lit("v").alias("v")
        )
        dk = spark.range(5).select(F.col("id").alias("k"))
        for ns in (True, False):
            plan = (
                anti_upsert_keys(ex, dk, ["k"], null_safe=ns)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastHashJoin" in plan, (ns, plan)
            assert "NestedLoop" not in plan, (ns, plan)

    def test_null_key_replay_converges(self, spark, tmp_path):
        """Crash-window replay of a delta carrying NULL-key rows must
        converge (the null-safe path — a plain anti-join never matches
        NULL and would duplicate them)."""
        from nineinfra_spark.operators.zorder import zorder_layout_append

        out, base = self._layout(spark, tmp_path)
        delta = spark.createDataFrame(
            [(None, 10, 3.0), (4000, 10, 3.0)],
            "event_id long, user_id long, value double",
        )
        zorder_layout_append(spark, out, delta, key_cols=["event_id"])
        zorder_layout_append(spark, out, delta, key_cols=["event_id"])
        got = spark.read.parquet(out).filter(
            "user_id = 10 and value = 3.0 and event_id >= 4000"
            " or (user_id = 10 and value = 3.0 and event_id is null)"
        )
        assert got.filter("event_id is null").count() == 1
        assert got.filter("event_id = 4000").count() == 1

    def test_null_free_delta_takes_plain_path_and_keeps_null_rows(
        self, spark, tmp_path
    ):
        """The per-batch gate: a delta with ZERO NULL keys uses the
        plain equi anti-join (identical semantics there) — existing
        NULL-key rows in the dirty buckets survive the rewrite."""
        from nineinfra_spark.operators.zorder import zorder_layout_append

        out, base = self._layout(spark, tmp_path)
        seed = spark.createDataFrame(
            [(None, 10, 3.0), (None, 10, 3.0)],
            "event_id long, user_id long, value double",
        )
        zorder_layout_append(spark, out, seed)  # blind append, both land
        delta = spark.createDataFrame(
            [(5000, 10, 3.0)], "event_id long, user_id long, value double"
        )
        zorder_layout_append(spark, out, delta, key_cols=["event_id"])
        kept = spark.read.parquet(out).filter(
            "event_id is null and user_id = 10"
        )
        assert kept.count() == 2

    def test_null_key_delta_collapses_existing_nulls(self, spark, tmp_path):
        """The DOCUMENTED NULL-collapse: a delta carrying a NULL-key
        row supersedes ALL existing NULL-key rows in the dirty buckets
        (NULL is one upsert key under eqNullSafe — divergence from SQL
        MERGE, stated in the append docstring)."""
        from nineinfra_spark.operators.zorder import zorder_layout_append

        out, base = self._layout(spark, tmp_path)
        seed = spark.createDataFrame(
            [(None, 10, 3.0), (None, 10, 3.0)],
            "event_id long, user_id long, value double",
        )
        zorder_layout_append(spark, out, seed)
        delta = spark.createDataFrame(
            [(None, 10, 3.0)], "event_id long, user_id long, value double"
        )
        zorder_layout_append(spark, out, delta, key_cols=["event_id"])
        assert (
            spark.read.parquet(out)
            .filter("event_id is null and user_id = 10")
            .count()
            == 1
        )

    def test_streaming_sink_end_to_end(self, spark, tmp_path):
        from nineinfra_spark.operators.zorder import maintain_layout_stream

        out, base = self._layout(spark, tmp_path)
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            [(3000, 5, 2.0), (3001, 6, 3.0)],
            "event_id long, user_id long, value double",
        ).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, user_id long, value double"
        ).parquet(src)
        q = maintain_layout_stream(
            stream, out, ckpt, key_cols=["event_id"],
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        assert (
            spark.read.parquet(out).filter("event_id >= 3000").count() == 2
        )
        # restart with one NEW source file: only the new batch lands,
        # the old one is not re-appended (checkpoint + marker)
        spark.createDataFrame(
            [(3002, 7, 4.0)], "event_id long, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        q2 = maintain_layout_stream(
            stream, out, ckpt, key_cols=["event_id"],
            trigger_available_now=True,
        )
        q2.awaitTermination(120)
        got = spark.read.parquet(out).filter("event_id >= 3000")
        assert got.count() == 3
        # layout invariant held through streaming: one file per bucket
        n_multi = 0
        for d in os.listdir(out):
            if d.startswith("zb="):
                files = [
                    f for f in os.listdir(os.path.join(out, d))
                    if f.endswith(".parquet")
                ]
                n_multi += len(files) != 1
        assert n_multi == 0


def test_append_reads_only_dirty_buckets(spark, tmp_path):
    """The read-side bound of the increment: the existing-rows scan
    must PARTITION-PRUNE to the dirty buckets — inputFiles() of the
    pruned read equals the dirty directories' files, never the whole
    layout. (This is the property that makes the append
    delta-proportional at 100 TB.)"""
    from nineinfra_spark.operators.zorder import (
        read_layout_meta,
        zorder_layout_write,
        zvalue_expr,
    )

    out = str(tmp_path / "prune")
    base = spark.range(0, 1000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 97).alias("user_id"),
        (F.col("id") % 31).cast("double").alias("value"),
    )
    zorder_layout_write(base, out, ["user_id", "value"], bits=8, bucket_bits=5)
    meta = read_layout_meta(out)
    bounds = {c: tuple(v) for c, v in meta["bounds"].items()}
    z = zvalue_expr(["user_id", "value"], bounds, bits=8)
    delta = spark.createDataFrame(
        [(9001, 3, 1.0), (9002, 90, 30.0)],
        "event_id long, user_id long, value double",
    )
    dirty = [
        r["zb"]
        for r in delta.withColumn("zb", F.shiftright(z, 11))
        .select("zb").distinct().collect()
    ]
    import re

    pruned = spark.read.parquet(out).filter(F.col("zb").isin(dirty))
    part_filters = _scan_metadata(pruned, "PartitionFilters")
    # the dirty-bucket predicate must land in the scan's
    # PartitionFilters (directory-level pruning — non-dirty files are
    # never OPENED), not merely in a post-scan Filter. NB
    # inputFiles() can't witness this: it reports the relation's file
    # index BEFORE partition-filter application.
    m = re.fullmatch(r"\[(.*)\]", part_filters)
    assert m, part_filters
    assert re.search(r"zb#\d+ IN \(", m.group(1)), m.group(1)
    for b in dirty:
        assert str(b) in m.group(1), (dirty, m.group(1))
    # and the pruned relation is a strict minority of the layout
    assert len(dirty) < len(set(spark.read.parquet(out).inputFiles())) / 2


def test_reserved_layout_columns_rejected(spark, tmp_path):
    """A user data column named 'zb' (layout write) or '_z' (plain
    zorder_write) would be silently clobbered by withColumn and
    corrupt the layout's data_columns round-trip — refused up front
    (r12 advice finding)."""
    from nineinfra_spark.operators.zorder import (
        zorder_layout_write,
        zorder_write,
    )

    df = spark.createDataFrame([(1, 2, 3)], "x long, y long, zb long")
    with pytest.raises(ValueError, match="'zb' is reserved"):
        zorder_layout_write(df, str(tmp_path / "l"), ["x", "y"], bits=8)
    df2 = spark.createDataFrame([(1, 2, 3)], "x long, y long, _z long")
    with pytest.raises(ValueError, match="'_z' is reserved"):
        zorder_write(df2, str(tmp_path / "w"), ["x", "y"], n_files=2)


def test_zorder_concurrent_writer_detection_cas(spark, tmp_path):
    """The zorder twin of the bloom CAS guard: an appender whose
    sidecar read predates another writer's commit raises at its
    marker commit instead of silently overwriting it."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from nineinfra_spark.operators.zorder import (
        _guarded_sidecar_write,
        _read_sidecar_raw,
        read_layout_meta,
        zorder_layout_append,
        zorder_layout_write,
    )

    out = str(tmp_path / "zcas")
    df = spark.range(0, 500).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )
    zorder_layout_write(df, out, ["user_id", "value"], bits=8, bucket_bits=4)
    raw_a = _read_sidecar_raw(out)
    meta_a = read_layout_meta(out)
    delta = spark.range(500, 550).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )
    zorder_layout_append(spark, out, delta, batch_id=0)  # writer B commits
    meta_a["last_batch_id"] = 99
    with _pytest.raises(RuntimeError, match="concurrent maintenance writer"):
        _guarded_sidecar_write(out, meta_a, raw_a)
    assert read_layout_meta(out)["last_batch_id"] == 0  # B's marker intact


def test_sidecar_without_schema_is_refused(spark, tmp_path):
    """A layout sidecar with no declared data ``schema`` (the old
    ``data_columns`` form) is refused with a rebuild message before any
    job, and the layout is left as it was."""
    import json

    from nineinfra_spark.operators.zorder import (
        read_layout_meta,
        zorder_layout_append,
        zorder_layout_write,
    )

    out = str(tmp_path / "old")
    base = spark.range(0, 100).select(
        F.col("id").alias("x"), (F.col("id") * 2).alias("y")
    )
    zorder_layout_write(base, out, ["x", "y"], bits=8, bucket_bits=4)
    sidecar = os.path.join(out, "_zlayout.json")
    with open(sidecar) as f:
        meta = json.load(f)
    meta["data_columns"] = ["x", "y"]
    del meta["schema"]
    with open(sidecar, "w") as f:
        json.dump(meta, f)
    rebuild = "rebuild it with zorder_layout_write"
    delta = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match=rebuild):
        zorder_layout_append(spark, out, delta, key_cols=["x"])
    with pytest.raises(ValueError, match=rebuild):
        read_layout_meta(out)
    assert spark.read.parquet(out).count() == 100


def test_keyed_append_job_count(spark, tmp_path, count_jobs):
    """A keyed append of a small delta runs 7 Spark jobs: discovery,
    the delta-key broadcast, the eager pin of the combined rows and the
    overwrite, with their AQE stages. The dirty-bucket read declares
    the sidecar's schema, so no job infers it from the files."""
    from nineinfra_spark.operators.zorder import (
        zorder_layout_append,
        zorder_layout_write,
    )

    out = str(tmp_path / "jobs")
    base = spark.range(0, 500).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        (F.col("id") % 11).cast("double").alias("value"),
    )
    zorder_layout_write(base, out, ["user_id", "value"], bits=8, bucket_bits=4)
    delta = spark.createDataFrame(
        [(3, 3, 3.0), (9001, 5, 2.0), (9002, 30, 9.0)],
        "event_id long, user_id long, value double",
    )
    stats, jobs = count_jobs(
        lambda: zorder_layout_append(spark, out, delta, key_cols=["event_id"])
    )
    assert stats["rows_appended"] == 3
    assert jobs == 7
    assert spark.read.parquet(out).count() == 502


def test_keyed_append_keeps_the_declared_column_types(spark, tmp_path):
    """A layout built from a pyarrow ``timestamp("us")`` column reads
    ``ts`` as ``timestamp_ntz``. A keyed append of a ``ts timestamp``
    delta casts it to the declared type first, so every bucket keeps
    one parquet type for ``ts`` and the inferred read schema stays
    ``timestamp_ntz``, with the delta's wall-clock values."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import types as T

    from nineinfra_spark.operators.zorder import (
        zorder_layout_append,
        zorder_layout_write,
    )

    src = tmp_path / "src"
    src.mkdir()
    n = 200
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "user_id": pa.array([i % 23 for i in range(n)], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
        }),
        str(src / "part-0.parquet"),
    )
    out = str(tmp_path / "layout")
    zorder_layout_write(
        spark.read.parquet(str(src)), out, ["user_id", "event_id"], bits=8, bucket_bits=3
    )
    delta = spark.createDataFrame(
        [(5, 5, dt.datetime(2030, 6, 1, 12, 30)), (9001, 7, dt.datetime(2031, 1, 2))],
        "event_id long, user_id long, ts timestamp",
    )
    stats = zorder_layout_append(spark, out, delta, key_cols=["event_id"])
    assert 0 < stats["buckets_dirty"] < stats["buckets_total"]

    ts_types = set()
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                schema = pq.ParquetFile(os.path.join(root, f)).schema
                ts_types.add(str(schema.column(schema.names.index("ts"))))
    assert len(ts_types) == 1, ts_types
    back = spark.read.parquet(out)
    assert back.schema["ts"].dataType == T.TimestampNTZType()
    assert back.count() == n + 1
    got = {r["event_id"]: r["ts"] for r in back.filter("event_id IN (5, 9001)").collect()}
    assert got == {5: dt.datetime(2030, 6, 1, 12, 30), 9001: dt.datetime(2031, 1, 2)}
