"""merge_upsert / merge_into_table semantics (operators/merge.py).

The registered query `catalog_merge_upsert` differentially verifies
the update-mode stage-and-swap path against DuckDB; these tests pin
the remaining operator contract: insert-only and delete modes, schema
validation, and that the swap leaves no staging residue.
"""

from __future__ import annotations

import pytest

from nineinfra_spark.operators.merge import merge_into_table, merge_upsert


@pytest.fixture()
def frames(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, s string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id long, s string, v double"
    )
    return base, updates


def _by_id(df):
    return {r["id"]: (r["s"], r["v"]) for r in df.collect()}


def test_update_mode_replaces_and_inserts(frames):
    base, updates = frames
    got = _by_id(merge_upsert(base, updates, ["id"]))
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_ignore_mode_keeps_base_row(frames):
    base, updates = frames
    got = _by_id(merge_upsert(base, updates, ["id"], when_matched="ignore"))
    assert got == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_delete_mode_removes_matched(frames):
    base, updates = frames
    got = _by_id(merge_upsert(base, updates, ["id"], when_matched="delete"))
    assert got == {1: ("a", 10.0), 3: ("c", 30.0)}


def test_schema_mismatch_rejected(spark, frames):
    base, _ = frames
    bad = spark.createDataFrame([(9, "x")], "id long, s string")
    with pytest.raises(ValueError, match="column sets differ"):
        merge_upsert(base, bad, ["id"])


def test_unknown_key_rejected(frames):
    base, updates = frames
    with pytest.raises(ValueError, match="not in base columns"):
        merge_upsert(base, updates, ["nope"])


def test_bad_when_matched_rejected(frames):
    base, updates = frames
    with pytest.raises(ValueError, match="when_matched"):
        merge_upsert(base, updates, ["id"], when_matched="upsert")


def test_merge_into_table_swaps_without_residue(spark, frames):
    base, updates = frames
    spark.sql("DROP TABLE IF EXISTS merge_t")
    spark.sql("DROP TABLE IF EXISTS merge_t__merge_stage")
    base.write.mode("overwrite").saveAsTable("merge_t")
    merge_into_table(spark, "merge_t", updates, ["id"])
    got = _by_id(spark.table("merge_t"))
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # swap is complete: no staging table left behind
    assert not spark.catalog.tableExists("merge_t__merge_stage")
    # merging again is idempotent on the swapped table (regression for
    # a swap that leaves the table name pointing at a dropped location)
    merge_into_table(spark, "merge_t", updates, ["id"])
    assert _by_id(spark.table("merge_t")) == got
    spark.sql("DROP TABLE merge_t")


def test_versioned_merge_time_travel_and_vacuum(spark, frames):
    from nineinfra_spark.operators.merge import (
        list_versions,
        merge_into_table_versioned,
        read_version,
        vacuum_versions,
    )

    base, updates = frames
    for tbl in ("tt_t", "tt_t__v0", "tt_t__v1", "tt_t__merge_stage"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    base.write.mode("overwrite").saveAsTable("tt_t")

    v = merge_into_table_versioned(spark, "tt_t", updates, ["id"])
    assert v == 0
    # archived v0 is the ORIGINAL base, current is the merged state
    assert _by_id(read_version(spark, "tt_t", 0)) == _by_id(base)
    assert _by_id(spark.table("tt_t")) == {
        1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)
    }

    v = merge_into_table_versioned(
        spark, "tt_t", updates.limit(1), ["id"], when_matched="delete"
    )
    assert v == 1
    assert list_versions(spark, "tt_t") == [0, 1]
    # v1 equals the state after merge #1 — archives are immutable
    assert _by_id(read_version(spark, "tt_t", 1)) == {
        1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)
    }

    # retention: keep the newest archive only
    dropped = vacuum_versions(spark, "tt_t", keep=1)
    assert dropped == [0]
    assert list_versions(spark, "tt_t") == [1]

    # REGRESSION (advice r6): after a vacuum the next version number
    # must be max+1, not the archive COUNT — count-based numbering
    # would compute 1 and collide with the surviving __v1 archive,
    # aborting the merge mid-swap.
    v = merge_into_table_versioned(spark, "tt_t", updates.limit(1), ["id"])
    assert v == 2
    assert list_versions(spark, "tt_t") == [1, 2]

    # a negative keep is a caller error, not "keep from the other end"
    with pytest.raises(ValueError, match="keep must be >= 0"):
        vacuum_versions(spark, "tt_t", keep=-1)
    assert list_versions(spark, "tt_t") == [1, 2]  # nothing dropped

    for tbl in ("tt_t", "tt_t__v1", "tt_t__v2"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _cleanup_prefix(spark, prefix):
    for r in spark.sql("SHOW TABLES").collect():
        if r["tableName"].startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")


def test_versioned_merge_two_concurrent_writers(spark):
    """Two simultaneous versioned MERGEs on one table must both land:
    the archive rename is the compare-and-swap on the metastore head,
    the loser recomputes against the winner's result and retries, and
    neither update is lost (the ACID role the reference delegates to
    its metastore tier, internal/controller/metastore.go:105-114)."""
    import threading

    from nineinfra_spark.operators.merge import merge_into_table_versioned

    _cleanup_prefix(spark, "race_t")
    base = spark.createDataFrame(
        [(i, 0) for i in range(1, 11)], "id long, v long"
    )
    base.write.mode("overwrite").saveAsTable("race_t")
    upd_a = spark.createDataFrame([(1, 100), (11, 100)], "id long, v long")
    upd_b = spark.createDataFrame([(2, 200), (12, 200)], "id long, v long")

    errs: list[Exception] = []

    def writer(upd):
        try:
            merge_into_table_versioned(
                spark, "race_t", upd, ["id"], max_retries=10
            )
        except Exception as exc:  # surfaced below
            errs.append(exc)

    ts = [threading.Thread(target=writer, args=(u,)) for u in (upd_a, upd_b)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert errs == [], errs

    got = {r["id"]: r["v"] for r in spark.table("race_t").collect()}
    # BOTH merges landed: no lost update in either interleaving
    assert got[1] == 100 and got[11] == 100, got
    assert got[2] == 200 and got[12] == 200, got
    assert len(got) == 12
    # two commits -> two archived versions, no stage residue
    from nineinfra_spark.operators.merge import list_versions

    assert len(list_versions(spark, "race_t")) == 2
    stages = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("race_t__stage_")
    ]
    assert stages == []
    _cleanup_prefix(spark, "race_t")


def test_delete_where_removes_only_matched(spark, frames):
    from nineinfra_spark.operators.merge import delete_where

    base, _ = frames
    _cleanup_prefix(spark, "du_t")
    base.write.mode("overwrite").saveAsTable("du_t")
    delete_where(spark, "du_t", "v > 15.0")
    assert _by_id(spark.table("du_t")) == {1: ("a", 10.0)}
    _cleanup_prefix(spark, "du_t")


def test_delete_where_null_predicate_keeps_row(spark):
    """SQL DELETE removes rows where the predicate is TRUE; a NULL
    predicate (e.g. a comparison against a NULL column value) keeps
    the row. A naive NOT(pred) filter would drop it."""
    from nineinfra_spark.operators.merge import delete_where

    _cleanup_prefix(spark, "du_n")
    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    ).write.mode("overwrite").saveAsTable("du_n")
    delete_where(spark, "du_n", "v > 15.0")
    got = {r["id"] for r in spark.table("du_n").collect()}
    # id=3 deleted (v>15 TRUE); id=2 kept (NULL predicate != TRUE)
    assert got == {1, 2}
    _cleanup_prefix(spark, "du_n")


def test_retryable_race_classifier(spark):
    """The CAS retry loop must retry ONLY the concurrent-rename race
    signatures (missing live table; taken archive destination), never
    permanent analysis errors — pinned here with genuine exceptions
    captured from the live session, not hand-built strings."""
    from pyspark.sql.utils import AnalysisException

    from nineinfra_spark.operators.merge import _is_retryable_race

    with pytest.raises(AnalysisException) as not_found:
        spark.table("no_such_table_xyz_12345")
    assert _is_retryable_race(not_found.value)

    with pytest.raises(AnalysisException) as bad_col:
        spark.sql("SELECT no_such_col FROM range(1)").collect()
    assert not _is_retryable_race(bad_col.value)
    assert not _is_retryable_race(bad_col.value, allow_exists=True)

    _cleanup_prefix(spark, "clsf_t")
    spark.range(1).write.saveAsTable("clsf_t")
    with pytest.raises(AnalysisException) as exists:
        spark.range(1).write.saveAsTable("clsf_t")  # no overwrite
    # destination-taken is a race ONLY on the archive-rename CAS path
    assert _is_retryable_race(exists.value, allow_exists=True)
    assert not _is_retryable_race(exists.value)
    _cleanup_prefix(spark, "clsf_t")


def test_versioned_merge_failure_leaves_no_stage(spark, monkeypatch):
    """When the version CAS is exhausted (here: forced by pinning the
    observed head version to one whose archive slot is already taken),
    the fully-written stage table must be dropped, not leaked."""
    from nineinfra_spark.operators import merge as merge_mod

    _cleanup_prefix(spark, "leak_t")
    spark.createDataFrame([(1, 10.0)], "id long, v double").write.mode(
        "overwrite"
    ).saveAsTable("leak_t")
    # occupy the archive slot the (pinned) CAS will always target
    spark.range(1).write.saveAsTable("leak_t__v5")
    monkeypatch.setattr(merge_mod, "list_versions", lambda *_a, **_k: [4])
    upd = spark.createDataFrame([(2, 20.0)], "id long, v double")
    with pytest.raises(merge_mod.MergeConflictError):
        merge_mod.merge_into_table_versioned(
            spark, "leak_t", upd, ["id"], max_retries=1
        )
    stages = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("leak_t__stage_")
    ]
    assert stages == []
    # the live table is untouched by the failed merge
    assert {r["id"] for r in spark.table("leak_t").collect()} == {1}
    _cleanup_prefix(spark, "leak_t")


class TestRecoverPublishedTable:
    """Crash-point recovery for the publish_snapshot rename protocol:
    every state the protocol can leave is restored to a complete
    table under the live name."""

    def _fresh(self, spark, name):
        _cleanup_prefix(spark, name)
        spark.createDataFrame([(1, "live")], "id long, tag string").write.mode(
            "overwrite"
        ).saveAsTable(name)

    def _tags(self, spark, name):
        return {r["tag"] for r in spark.table(name).collect()}

    def test_clean_drops_strays(self, spark):
        from nineinfra_spark.operators.merge import recover_published_table

        self._fresh(spark, "rec_a")
        # crash before the first rename: live intact, stage written
        spark.createDataFrame([(2, "stage")], "id long, tag string").write.saveAsTable(
            "rec_a__merge_stage"
        )
        assert recover_published_table(spark, "rec_a") == "clean"
        assert self._tags(spark, "rec_a") == {"live"}
        assert not spark.catalog.tableExists("rec_a__merge_stage")
        _cleanup_prefix(spark, "rec_a")

    def test_rolled_back_between_renames(self, spark):
        from nineinfra_spark.operators.merge import recover_published_table

        self._fresh(spark, "rec_b")
        spark.createDataFrame([(2, "stage")], "id long, tag string").write.saveAsTable(
            "rec_b__merge_stage"
        )
        # crash between rename live->old and rename stage->live
        spark.sql("ALTER TABLE rec_b RENAME TO rec_b__merge_old")
        assert recover_published_table(spark, "rec_b") == "rolled-back"
        # the interrupted publish never committed: pre-publish state is live
        assert self._tags(spark, "rec_b") == {"live"}
        assert not spark.catalog.tableExists("rec_b__merge_stage")
        assert not spark.catalog.tableExists("rec_b__merge_old")
        _cleanup_prefix(spark, "rec_b")

    def test_clean_after_commit_drops_old(self, spark):
        from nineinfra_spark.operators.merge import recover_published_table

        self._fresh(spark, "rec_c")
        # crash after the commit rename but before DROP old
        spark.sql("ALTER TABLE rec_c RENAME TO rec_c__merge_old")
        spark.createDataFrame([(2, "new")], "id long, tag string").write.saveAsTable(
            "rec_c"
        )
        assert recover_published_table(spark, "rec_c") == "clean"
        assert self._tags(spark, "rec_c") == {"new"}
        assert not spark.catalog.tableExists("rec_c__merge_old")
        _cleanup_prefix(spark, "rec_c")

    def test_rolled_forward_stage_only(self, spark):
        from nineinfra_spark.operators.merge import recover_published_table

        _cleanup_prefix(spark, "rec_d")
        spark.createDataFrame([(2, "stage")], "id long, tag string").write.saveAsTable(
            "rec_d__merge_stage"
        )
        assert recover_published_table(spark, "rec_d") == "rolled-forward"
        assert self._tags(spark, "rec_d") == {"stage"}
        _cleanup_prefix(spark, "rec_d")

    def test_nothing_to_recover_raises(self, spark):
        from nineinfra_spark.operators.merge import recover_published_table

        _cleanup_prefix(spark, "rec_e")
        with pytest.raises(RuntimeError, match="no live"):
            recover_published_table(spark, "rec_e")


def test_update_where_scopes_assignments(spark, frames):
    from nineinfra_spark.operators.merge import update_where

    base, _ = frames
    _cleanup_prefix(spark, "du_u")
    base.write.mode("overwrite").saveAsTable("du_u")
    update_where(spark, "du_u", "id = 2", {"v": "v * 10", "s": "upper(s)"})
    # only the matched row changes; expressions see the row's values
    assert _by_id(spark.table("du_u")) == {
        1: ("a", 10.0), 2: ("B", 200.0), 3: ("c", 30.0)
    }
    _cleanup_prefix(spark, "du_u")


def test_update_where_rejects_unknown_column(spark, frames):
    from nineinfra_spark.operators.merge import update_where

    base, _ = frames
    _cleanup_prefix(spark, "du_x")
    base.write.mode("overwrite").saveAsTable("du_x")
    with pytest.raises(ValueError, match="not in"):
        update_where(spark, "du_x", "id = 1", {"nope": "1"})
    _cleanup_prefix(spark, "du_x")


class _FailingRenames:
    """SparkSession proxy that fails the first ``n_failures`` SQL
    statements matching ``pattern`` (everything else passes through) —
    simulates a crash/transient fault at an exact protocol step."""

    def __init__(self, spark, pattern, n_failures):
        self._spark = spark
        self._pattern = pattern
        self._left = n_failures
        self.failed = 0

    def sql(self, stmt, *a, **k):
        if self._pattern in stmt and self._left > 0:
            self._left -= 1
            self.failed += 1
            raise RuntimeError(f"injected fault at: {stmt}")
        return self._spark.sql(stmt, *a, **k)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def test_versioned_merge_rolls_forward_on_transient_publish_fault(spark, frames):
    """ADVICE r7 (medium): after the archive CAS the merge is
    committed-in-progress — a transient failure of the stage→live
    rename must be retried forward, committing the merge."""
    from nineinfra_spark.operators import merge as merge_mod

    base, upd = frames
    _cleanup_prefix(spark, "cw_f")
    base.write.mode("overwrite").saveAsTable("cw_f")
    # target precisely the stage→live rename: stage names are
    # cw_f__stage_<hex>, so match only statements that start with the
    # stage table and end with the live name
    class P(_FailingRenames):
        def sql(self, stmt, *a, **k):
            if (
                stmt.startswith("ALTER TABLE cw_f__stage_")
                and stmt.rstrip().endswith("RENAME TO cw_f")
                and self._left > 0
            ):
                self._left -= 1
                self.failed += 1
                raise RuntimeError(f"injected fault at: {stmt}")
            return self._spark.sql(stmt, *a, **k)

    proxy = P(spark, "", 1)
    v = merge_mod.merge_into_table_versioned(proxy, "cw_f", upd, ["id"])
    assert proxy.failed == 1  # the fault really fired
    assert v == 0
    # merge committed: live carries the merged rows, archive holds v0
    assert _by_id(spark.table("cw_f")) == {
        1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)
    }
    assert _by_id(spark.table("cw_f__v0")) == {
        1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)
    }
    stages = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("cw_f__stage_")
    ]
    assert stages == []
    _cleanup_prefix(spark, "cw_f")


def test_versioned_merge_rolls_back_on_persistent_publish_fault(spark, frames):
    """If even the roll-forward retry fails, the archive must be
    renamed back to the live name (merge never visible, nothing lost)
    and the stage must not leak."""
    from nineinfra_spark.operators import merge as merge_mod

    base, upd = frames
    _cleanup_prefix(spark, "cw_b")
    base.write.mode("overwrite").saveAsTable("cw_b")

    class P(_FailingRenames):
        def sql(self, stmt, *a, **k):
            if (
                stmt.startswith("ALTER TABLE cw_b__stage_")
                and stmt.rstrip().endswith("RENAME TO cw_b")
                and self._left > 0
            ):
                self._left -= 1
                self.failed += 1
                raise RuntimeError(f"injected fault at: {stmt}")
            return self._spark.sql(stmt, *a, **k)

    proxy = P(spark, "", 99)  # stage→live can never succeed
    with pytest.raises(RuntimeError, match="injected fault"):
        merge_mod.merge_into_table_versioned(proxy, "cw_b", upd, ["id"])
    assert proxy.failed == 2  # initial publish + one roll-forward retry
    # rollback restored the pre-merge state under the live name
    assert _by_id(spark.table("cw_b")) == {
        1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)
    }
    assert not spark.catalog.tableExists("cw_b__v0")
    stages = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("cw_b__stage_")
    ]
    assert stages == []  # rollback succeeded → stage disposed
    _cleanup_prefix(spark, "cw_b")


class TestRecoverVersionedTable:
    """Open-time recovery for the versioned-merge protocol — the
    uuid-stage + __v{n} states recover_published_table cannot see
    (ADVICE r7 medium)."""

    def _fresh(self, spark, name):
        _cleanup_prefix(spark, name)
        spark.createDataFrame([(1, "live")], "id long, tag string").write.mode(
            "overwrite"
        ).saveAsTable(name)

    def _tags(self, spark, name):
        return {r["tag"] for r in spark.table(name).collect()}

    def test_clean_drops_orphan_stages(self, spark):
        from nineinfra_spark.operators.merge import recover_versioned_table

        self._fresh(spark, "rv_a")
        spark.createDataFrame([(2, "stage")], "id long, tag string").write.saveAsTable(
            "rv_a__stage_" + "a" * 12
        )
        assert recover_versioned_table(spark, "rv_a") == "clean"
        assert self._tags(spark, "rv_a") == {"live"}
        assert not spark.catalog.tableExists("rv_a__stage_" + "a" * 12)
        _cleanup_prefix(spark, "rv_a")

    def test_rolled_forward_single_stage(self, spark):
        """Crash between archive CAS and stage→live: live gone, one
        complete stage — promote it (the merge WAS committed)."""
        from nineinfra_spark.operators.merge import recover_versioned_table

        self._fresh(spark, "rv_b")
        spark.createDataFrame([(2, "merged")], "id long, tag string").write.saveAsTable(
            "rv_b__stage_" + "b" * 12
        )
        spark.sql("ALTER TABLE rv_b RENAME TO rv_b__v0")  # the archive CAS
        assert recover_versioned_table(spark, "rv_b") == "rolled-forward"
        assert self._tags(spark, "rv_b") == {"merged"}
        assert self._tags(spark, "rv_b__v0") == {"live"}  # archive kept
        _cleanup_prefix(spark, "rv_b")

    def test_rolled_back_ambiguous_stages(self, spark):
        """Live gone but TWO orphan stages (concurrent crashed writers)
        — the winner can't be identified, so the newest archive is
        restored and both stages dropped."""
        from nineinfra_spark.operators.merge import recover_versioned_table

        self._fresh(spark, "rv_c")
        for s in ("c" * 12, "d" * 12):
            spark.createDataFrame(
                [(2, "stage")], "id long, tag string"
            ).write.saveAsTable(f"rv_c__stage_{s}")
        spark.sql("ALTER TABLE rv_c RENAME TO rv_c__v3")
        assert recover_versioned_table(spark, "rv_c") == "rolled-back"
        assert self._tags(spark, "rv_c") == {"live"}
        assert not spark.catalog.tableExists("rv_c__v3")
        for s in ("c" * 12, "d" * 12):
            assert not spark.catalog.tableExists(f"rv_c__stage_{s}")
        _cleanup_prefix(spark, "rv_c")

    def test_nothing_to_recover_raises(self, spark):
        from nineinfra_spark.operators.merge import recover_versioned_table

        _cleanup_prefix(spark, "rv_e")
        with pytest.raises(RuntimeError, match="no live"):
            recover_versioned_table(spark, "rv_e")


class TestPartitionScopedMutation:
    """delete_where / update_where on a partitioned table: only the
    partitions containing matched rows are rewritten — the 100 TB
    delete/update form (VERDICT r7 item #6)."""

    def _table_files(self, spark, name):
        """{path: mtime} for every data file under the table root."""
        import os

        loc = (
            spark.sql(f"DESCRIBE FORMATTED {name}")
            .filter("col_name = 'Location'")
            .first()["data_type"]
        ).removeprefix("file:")
        out = {}
        for dirpath, _dirs, files in os.walk(loc):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    def _fresh(self, spark, name):
        _cleanup_prefix(spark, name)
        df = spark.createDataFrame(
            [
                (1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a"),
                (4, 40.0, "b"), (5, 50.0, "b"),
                (6, 60.0, "c"),
            ],
            "id long, v double, p string",
        )
        df.write.partitionBy("p").saveAsTable(name)

    def test_delete_rewrites_only_affected_partition(self, spark):
        from nineinfra_spark.operators.merge import delete_where

        self._fresh(spark, "pp_d")
        before = self._table_files(spark, "pp_d")
        n = delete_where(spark, "pp_d", "p = 'a' AND id >= 2")
        assert n == 1  # only partition 'a' contained matches
        after = self._table_files(spark, "pp_d")
        # rows: the two matched are gone, everything else intact
        assert sorted(r["id"] for r in spark.table("pp_d").collect()) == [1, 4, 5, 6]
        # files of partitions b and c are BYTE-UNTOUCHED (same path+mtime)
        untouched_before = {p: m for p, m in before.items() if "/p=a/" not in p}
        untouched_after = {p: m for p, m in after.items() if "/p=a/" not in p}
        assert untouched_before == untouched_after
        _cleanup_prefix(spark, "pp_d")

    def test_delete_drops_fully_emptied_partition(self, spark):
        from nineinfra_spark.operators.merge import delete_where

        self._fresh(spark, "pp_e")
        n = delete_where(spark, "pp_e", "p = 'b'")
        assert n == 1
        assert sorted(r["id"] for r in spark.table("pp_e").collect()) == [1, 2, 3, 6]
        # the emptied partition is dropped from the catalog, not resurrected
        parts = [r[0] for r in spark.sql("SHOW PARTITIONS pp_e").collect()]
        assert "p=b" not in parts
        _cleanup_prefix(spark, "pp_e")

    def test_delete_null_predicate_keeps_row(self, spark):
        from nineinfra_spark.operators.merge import delete_where

        _cleanup_prefix(spark, "pp_n")
        spark.createDataFrame(
            [(1, 5.0, "a"), (2, None, "a"), (3, 9.0, "b")],
            "id long, v double, p string",
        ).write.partitionBy("p").saveAsTable("pp_n")
        # v > 4 is NULL for id=2 — SQL DELETE keeps NULL-predicate rows
        delete_where(spark, "pp_n", "v > 4.0")
        assert sorted(r["id"] for r in spark.table("pp_n").collect()) == [2]
        _cleanup_prefix(spark, "pp_n")

    def test_no_match_is_noop(self, spark):
        from nineinfra_spark.operators.merge import delete_where

        self._fresh(spark, "pp_z")
        before = self._table_files(spark, "pp_z")
        assert delete_where(spark, "pp_z", "id > 999") == 0
        assert self._table_files(spark, "pp_z") == before
        _cleanup_prefix(spark, "pp_z")

    def test_emptied_null_partition_is_dropped(self, spark):
        """A NULL partition value maps to __HIVE_DEFAULT_PARTITION__ on
        disk; the DROP spec must use that name — str(None) renders
        'None', never matches, and the emptied partition silently
        resurrects (advice r8)."""
        from nineinfra_spark.operators.merge import delete_where

        _cleanup_prefix(spark, "pp_nullp")
        spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, None), (3, 3.0, None)],
            "id long, v double, p string",
        ).write.partitionBy("p").saveAsTable("pp_nullp")
        n = delete_where(spark, "pp_nullp", "p IS NULL")
        assert n == 1
        assert sorted(r["id"] for r in spark.table("pp_nullp").collect()) == [1]
        parts = [r[0] for r in spark.sql("SHOW PARTITIONS pp_nullp").collect()]
        assert all("__HIVE_DEFAULT_PARTITION__" not in p for p in parts), parts
        _cleanup_prefix(spark, "pp_nullp")

    def test_emptied_date_partition_is_dropped(self, spark):
        """DATE partition values must render in the catalog's literal
        form (ISO), not whatever str() yields."""
        import datetime

        from nineinfra_spark.operators.merge import delete_where

        _cleanup_prefix(spark, "pp_datep")
        spark.createDataFrame(
            [
                (1, datetime.date(2024, 1, 1)),
                (2, datetime.date(2024, 1, 1)),
                (3, datetime.date(2024, 2, 2)),
            ],
            "id long, d date",
        ).write.partitionBy("d").saveAsTable("pp_datep")
        n = delete_where(spark, "pp_datep", "d = DATE'2024-01-01'")
        assert n == 1
        assert sorted(r["id"] for r in spark.table("pp_datep").collect()) == [3]
        parts = [r[0] for r in spark.sql("SHOW PARTITIONS pp_datep").collect()]
        assert parts == ["d=2024-02-02"], parts
        _cleanup_prefix(spark, "pp_datep")

    def test_many_partitions_uses_join_membership(self, spark, monkeypatch):
        """Above _MEMBERSHIP_LITERAL_CAP affected partitions the
        membership switches to a broadcast semi-join (no unbounded
        literal tree / collect — advice r8): force the cap to 2 and
        delete across 4 partitions; results and emptied-partition
        drops must be identical to the literal path."""
        from nineinfra_spark.operators import merge as M

        _cleanup_prefix(spark, "pp_many")
        spark.createDataFrame(
            [(i, float(i), f"g{i % 4}") for i in range(1, 17)],
            "id long, v double, p string",
        ).write.partitionBy("p").saveAsTable("pp_many")
        monkeypatch.setattr(M, "_MEMBERSHIP_LITERAL_CAP", 2)
        # matches rows in all 4 partitions; empties g0 (ids 4,8,12,16)
        n = M.delete_where(
            spark, "pp_many", "p = 'g0' OR id >= 13"
        )
        assert n == 4
        kept = sorted(r["id"] for r in spark.table("pp_many").collect())
        assert kept == [1, 2, 3, 5, 6, 7, 9, 10, 11]
        parts = [r[0] for r in spark.sql("SHOW PARTITIONS pp_many").collect()]
        assert "p=g0" not in parts
        # update path through the join membership too
        n2 = M.update_where(
            spark, "pp_many", "id <= 3", {"v": "v + 100"}
        )
        assert n2 == 3  # g1, g2, g3 contain ids 1..3
        got = {r["id"]: r["v"] for r in spark.table("pp_many").collect()}
        assert got[1] == 101.0 and got[2] == 102.0 and got[3] == 103.0
        assert got[5] == 5.0
        _cleanup_prefix(spark, "pp_many")

    def test_update_rewrites_only_affected_partition(self, spark):
        from nineinfra_spark.operators.merge import update_where

        self._fresh(spark, "pp_u")
        before = self._table_files(spark, "pp_u")
        n = update_where(
            spark, "pp_u", "p = 'b' AND id = 4", {"v": "v * 10"}
        )
        assert n == 1
        got = {r["id"]: r["v"] for r in spark.table("pp_u").collect()}
        assert got == {1: 10.0, 2: 20.0, 3: 30.0, 4: 400.0, 5: 50.0, 6: 60.0}
        untouched_before = {p: m for p, m in before.items() if "/p=b/" not in p}
        after = self._table_files(spark, "pp_u")
        untouched_after = {p: m for p, m in after.items() if "/p=b/" not in p}
        assert untouched_before == untouched_after
        _cleanup_prefix(spark, "pp_u")

    def test_update_rejects_partition_column_assignment(self, spark):
        from nineinfra_spark.operators.merge import update_where

        self._fresh(spark, "pp_x")
        with pytest.raises(ValueError, match="partition columns"):
            update_where(spark, "pp_x", "id = 1", {"p": "'z'"})
        _cleanup_prefix(spark, "pp_x")

    def test_emptied_backslash_and_quote_partitions_are_dropped(self, spark):
        """An emptied partition's DROP spec escapes backslashes as well
        as quotes: unescaped, 'a\\b' parses as 'a' plus a backspace,
        matches no partition, and the partition and its deleted row
        both survive."""
        from nineinfra_spark.operators.merge import delete_where

        _cleanup_prefix(spark, "pp_esc")
        spark.createDataFrame(
            [(1, "a\\b"), (2, "c"), (3, "it's")], "id long, p string"
        ).write.partitionBy("p").saveAsTable("pp_esc")
        assert delete_where(spark, "pp_esc", "id = 1") == 1
        assert delete_where(spark, "pp_esc", "id = 3") == 1
        assert [r["id"] for r in spark.table("pp_esc").collect()] == [2]
        parts = [r[0] for r in spark.sql("SHOW PARTITIONS pp_esc").collect()]
        assert parts == ["p=c"], parts
        _cleanup_prefix(spark, "pp_esc")

    def test_scoped_rewrite_leaves_conf_text_unchanged(self, spark):
        """The dynamic overwrite mode is set for the rewrite only: a
        session that had not set it has it unset again, so its SQL conf
        text (the key of the result cache and the statement templates)
        is unchanged; a session that had set it keeps its value."""
        from nineinfra_spark.operators.merge import delete_where, update_where

        key = "spark.sql.sources.partitionOverwriteMode"
        jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        self._fresh(spark, "pp_conf")
        try:
            spark.conf.unset(key)
            before = jconf.getAllConfs().toString()
            assert delete_where(spark, "pp_conf", "id = 1") == 1
            assert update_where(spark, "pp_conf", "id = 4", {"v": "0.0"}) == 1
            assert jconf.getAllConfs().toString() == before
            spark.conf.set(key, "STATIC")
            assert delete_where(spark, "pp_conf", "id = 2") == 1
            assert spark.conf.get(key) == "STATIC"
            assert sorted(r["id"] for r in spark.table("pp_conf").collect()) == [3, 4, 5, 6]
        finally:
            spark.conf.unset(key)
            _cleanup_prefix(spark, "pp_conf")


def test_partition_scoped_rewrite_scan_prunes_to_affected(spark):
    """The 100 TB claim, plan-level: a partitioned delete_where's rewrite
    scan must PRUNE to the affected partition directories — the
    membership IN-list resolves statically, so the FileScan's file
    index holds only the affected partition's path and the partition
    predicate never survives as a row filter."""
    from nineinfra_spark.operators.merge import _partition_membership

    _cleanup_prefix(spark, "pp_plan")
    spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")],
        "id long, v double, p string",
    ).write.partitionBy("p").saveAsTable("pp_plan")
    try:
        rows = (
            spark.table("pp_plan").filter("p = 'a'").select("p").distinct().collect()
        )
        member = _partition_membership(rows, ["p"])
        kept = (
            spark.table("pp_plan")
            .filter(member)
            .filter("NOT coalesce((p = 'a' AND id >= 2), false)")
        )
        plan = kept._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        # static pruning: the file index carries ONE partition path
        assert "InMemoryFileIndex(1 paths)" in scan, scan[:300]
        # only the non-partition remainder survives as a data filter
        assert "DataFilters: [NOT coalesce((id" in scan, scan[:300]
    finally:
        _cleanup_prefix(spark, "pp_plan")


def test_merges_and_publish_keep_the_table_partitioning(spark):
    """merge_into_table, merge_into_table_versioned and publish_snapshot
    write their stage with the live table's declared partition columns,
    so the table they swap in (and the versioned archive) stays
    partitioned, with the merged rows."""
    from nineinfra_spark.operators.merge import (
        merge_into_table_versioned,
        publish_snapshot,
        vacuum_versions,
    )

    def part_cols(t):
        return [c.name for c in spark.catalog.listColumns(t) if c.isPartition]

    def rows(t):
        return {r["id"]: (r["v"], r["p"]) for r in spark.table(t).collect()}

    schema = "id long, v double, p string"
    _cleanup_prefix(spark, "kp_t")
    spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b")], schema
    ).write.partitionBy("p").saveAsTable("kp_t")
    try:
        upd = spark.createDataFrame([(2, 20.0, "b"), (3, 3.0, "c")], schema)
        merge_into_table(spark, "kp_t", upd, ["id"])
        assert part_cols("kp_t") == ["p"]
        assert rows("kp_t") == {1: (1.0, "a"), 2: (20.0, "b"), 3: (3.0, "c")}

        upd = spark.createDataFrame([(1, 10.0, "a"), (4, 4.0, "d")], schema)
        v = merge_into_table_versioned(spark, "kp_t", upd, ["id"])
        assert part_cols("kp_t") == ["p"]
        assert part_cols(f"kp_t__v{v}") == ["p"]
        assert rows(f"kp_t__v{v}") == {1: (1.0, "a"), 2: (20.0, "b"), 3: (3.0, "c")}
        assert rows("kp_t") == {
            1: (10.0, "a"), 2: (20.0, "b"), 3: (3.0, "c"), 4: (4.0, "d"),
        }

        publish_snapshot(spark, "kp_t", spark.table("kp_t").filter("id != 3"))
        assert part_cols("kp_t") == ["p"]
        assert rows("kp_t") == {1: (10.0, "a"), 2: (20.0, "b"), 4: (4.0, "d")}
        parts = sorted(r[0] for r in spark.sql("SHOW PARTITIONS kp_t").collect())
        assert parts == ["p=a", "p=b", "p=d"], parts
        # dropping the archive deletes its own files, not the live ones
        assert vacuum_versions(spark, "kp_t", keep=0) == [v]
        spark.sql("REFRESH TABLE kp_t")
        assert rows("kp_t") == {1: (10.0, "a"), 2: (20.0, "b"), 4: (4.0, "d")}
    finally:
        _cleanup_prefix(spark, "kp_t")


class TestVersionHighWaterMark:
    """r11 review finding: after vacuum_versions(keep=0) emptied the
    archive, max(archives)+1 restarted numbering at 0 — a caller's
    recorded version handle silently rebound to an unrelated
    post-vacuum snapshot. The high-water-mark table property keeps
    numbering monotone across vacuums."""

    def test_versions_never_reused_after_full_vacuum(self, spark):
        from nineinfra_spark.operators.merge import (
            list_versions,
            merge_into_table_versioned,
            read_version,
            vacuum_versions,
        )

        spark.sql("DROP TABLE IF EXISTS hwm_t")
        for v in range(3):
            spark.sql(f"DROP TABLE IF EXISTS hwm_t__v{v}")
        spark.createDataFrame([(1, 10)], "id int, x int").write.saveAsTable(
            "hwm_t"
        )
        try:
            up1 = spark.createDataFrame([(1, 11)], "id int, x int")
            up2 = spark.createDataFrame([(1, 12)], "id int, x int")
            assert merge_into_table_versioned(spark, "hwm_t", up1, ["id"]) == 0
            assert merge_into_table_versioned(spark, "hwm_t", up2, ["id"]) == 1
            assert vacuum_versions(spark, "hwm_t", keep=0) == [0, 1]
            assert list_versions(spark, "hwm_t") == []
            up3 = spark.createDataFrame([(1, 13)], "id int, x int")
            v = merge_into_table_versioned(spark, "hwm_t", up3, ["id"])
            assert v == 2  # NOT 0 — old handles can never rebind
            assert read_version(spark, "hwm_t", 2).collect()[0]["x"] == 12
        finally:
            spark.sql("DROP TABLE IF EXISTS hwm_t")
            for v in range(4):
                spark.sql(f"DROP TABLE IF EXISTS hwm_t__v{v}")


class TestPermanentFileLossEscalates:
    """r11 review finding: ANY FileNotFoundException was treated as a
    retryable rename race — a permanently deleted base file caused
    max_retries full staged-merge recomputations, then a misdiagnosed
    MergeConflictError. The SAME path missing twice in a row (after a
    REFRESH + re-read) now surfaces the original error on attempt 2."""

    def test_same_missing_path_raises_after_second_attempt(
        self, spark, monkeypatch
    ):
        from nineinfra_spark.operators import merge as M

        spark.sql("DROP TABLE IF EXISTS fnf_t")
        spark.createDataFrame([(1, 10)], "id int, x int").write.saveAsTable(
            "fnf_t"
        )
        calls = {"n": 0}

        def always_missing(*a, **k):
            calls["n"] += 1
            raise RuntimeError(
                "Job aborted: FAILED_READ_FILE.FILE_NOT_EXIST "
                "java.io.FileNotFoundException: File "
                "file:/warehouse/fnf_t/part-00000.parquet does not exist"
            )

        monkeypatch.setattr(M, "merge_upsert", always_missing)
        up = spark.createDataFrame([(1, 11)], "id int, x int")
        try:
            with pytest.raises(RuntimeError, match="does not exist"):
                M.merge_into_table_versioned(
                    spark, "fnf_t", up, ["id"], max_retries=5
                )
            assert calls["n"] == 2  # one race-benefit retry, then surface
        finally:
            spark.sql("DROP TABLE IF EXISTS fnf_t")


class TestMissingPathAnchored:
    """r12 ADVICE fix: _missing_path must anchor to the FileNotFound
    clause — a stable prefix path earlier in the message (table root,
    warehouse dir) used to be extracted for BOTH of two genuinely
    distinct rename races, escalating a retryable race into a hard
    raise on attempt 2."""

    def test_prefix_path_does_not_shadow_missing_file(self):
        from nineinfra_spark.operators.merge import _missing_path

        a = RuntimeError(
            "Scan failed for table at location file:/warehouse/t. "
            "java.io.FileNotFoundException: File "
            "file:/warehouse/t/part-00001.parquet does not exist"
        )
        b = RuntimeError(
            "Scan failed for table at location file:/warehouse/t. "
            "java.io.FileNotFoundException: File "
            "file:/warehouse/t/part-00007.parquet does not exist"
        )
        pa, pb = _missing_path(a), _missing_path(b)
        assert pa == "/warehouse/t/part-00001.parquet"
        assert pb == "/warehouse/t/part-00007.parquet"
        assert pa != pb  # two distinct races never compare equal

    def test_failed_read_file_and_uri_slashes_normalize(self):
        from nineinfra_spark.operators.merge import _missing_path

        m = _missing_path(
            RuntimeError(
                "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error "
                "while reading file file:///warehouse/t/part-0.parquet. "
                "It is possible the underlying files have been updated."
            )
        )
        assert m == "/warehouse/t/part-0.parquet"

    def test_unanchored_message_stays_retryable(self):
        from nineinfra_spark.operators.merge import _missing_path

        assert (
            _missing_path(
                RuntimeError("error mentioning /warehouse/root only")
            )
            is None
        )


def test_publish_snapshot_properties_with_quotes(spark):
    """TBLPROPERTIES keys/values are interpolated into SQL — a quote or
    backslash in a PUBLIC-API property must roundtrip, not break the
    ALTER TABLE statement (or inject into it)."""
    from nineinfra_spark.operators.merge import (
        publish_snapshot,
        read_table_property,
    )

    _cleanup_prefix(spark, "prop_q")
    spark.createDataFrame([(1, "live")], "id long, tag string").write.mode(
        "overwrite"
    ).saveAsTable("prop_q")
    snap = spark.createDataFrame([(2, "new")], "id long, tag string")
    publish_snapshot(
        spark,
        "prop_q",
        snap,
        properties={"nine.note": "it's a 'quoted' value \\ with backslash"},
    )
    assert (
        read_table_property(spark, "prop_q", "nine.note")
        == "it's a 'quoted' value \\ with backslash"
    )
    assert {r["tag"] for r in spark.table("prop_q").collect()} == {"new"}
    _cleanup_prefix(spark, "prop_q")


def test_torn_empty_base_read_detected_and_retried(spark, monkeypatch):
    """r16: the third publish reader shape (HMS rename commits the
    metastore row before the directory move → a concurrent read scans
    an absent location as ZERO files) can poison the versioned merge's
    own base read — the merge then wins the CAS on a fresh version
    number and publishes a snapshot missing every pre-existing row
    (observed: N-session race under full-suite load lost the base
    row). The post-CAS provenance check compares the archived head's
    file set against what the merge actually scanned, rolls the
    archive back on mismatch, and retries with a fresh read."""
    from nineinfra_spark.operators.merge import (
        list_versions,
        merge_into_table_versioned,
        recover_versioned_table,
    )

    for r in spark.sql("SHOW TABLES").collect():
        if r["tableName"].startswith("torn_tbl"):
            spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")
    spark.createDataFrame(
        [(i, "base") for i in range(5)], "id long, tag string"
    ).write.saveAsTable("torn_tbl")

    calls = {"torn_reads": 0}
    real_table = spark.table
    empty = spark.createDataFrame([], "id long, tag string")

    def torn_once(name):
        if name == "torn_tbl" and calls["torn_reads"] == 0:
            calls["torn_reads"] = 1
            return empty  # the mid-publish empty scan, deterministically
        return real_table(name)

    monkeypatch.setattr(spark, "table", torn_once)
    upd = spark.createDataFrame([(1000, "upd")], "id long, tag string")
    version = merge_into_table_versioned(spark, "torn_tbl", upd, ["id"])
    monkeypatch.setattr(spark, "table", real_table)

    assert calls["torn_reads"] == 1  # the torn read WAS served
    ids = sorted(r["id"] for r in spark.table("torn_tbl").collect())
    # old code: table == [1000] (every base row silently dropped)
    assert ids == [0, 1, 2, 3, 4, 1000]
    assert version == 0 and list_versions(spark, "torn_tbl") == [0]
    assert recover_versioned_table(spark, "torn_tbl") == "clean"
    spark.sql("DROP TABLE torn_tbl")
    spark.sql("DROP TABLE IF EXISTS torn_tbl__v0")
