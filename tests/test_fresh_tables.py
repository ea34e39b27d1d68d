"""``plans._util.fresh_tables``: the one setup step of the catalog and
streaming queries, on the in-memory session catalog (the driver's)."""

from __future__ import annotations

import os

from nineinfra_spark.plans import _util


def _tables(spark, db):
    return sorted(
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN {db}").collect()
        if not r["isTemporary"]
    )


def test_fresh_tables_clears_derived_tables_and_orphans(spark, tmp_path, monkeypatch):
    """Orphan directories (on disk, not in the catalog) of ``t`` and of
    its merge stage, unique publish stage and an archived snapshot, and
    a catalog-registered ``t__merge_old``, are all gone after one call;
    the sibling ``t_rt`` is untouched; the database keeps the name and
    location the queries always used; a second call changes nothing."""
    monkeypatch.setattr(_util, "WAREHOUSE", str(tmp_path))
    sf_dir = "/data/sf_fresh.t"  # only its basename names the database
    db = "nine_wh_sf_fresh_t"
    root = tmp_path / db
    spark.sql(f"CREATE DATABASE {db} LOCATION '{root}'")
    try:
        for orphan in ("t", "t__merge_stage", "t__stage_0123456789ab", "t__v3"):
            (root / orphan).mkdir(parents=True)
            (root / orphan / "part-0.parquet").write_bytes(b"stale")
        spark.range(3).write.saveAsTable(f"{db}.t__merge_old")
        spark.range(5).write.saveAsTable(f"{db}.t_rt")
        assert _tables(spark, db) == ["t__merge_old", "t_rt"]

        assert _util.fresh_tables(spark, sf_dir, "t") == db
        loc = spark.catalog.getDatabase(db).locationUri
        assert loc.removeprefix("file:") == str(root)
        assert _tables(spark, db) == ["t_rt"]
        assert sorted(os.listdir(root)) == ["t_rt"]
        assert spark.table(f"{db}.t_rt").count() == 5

        assert _util.fresh_tables(spark, sf_dir, "t") == db
        assert _tables(spark, db) == ["t_rt"]
        assert sorted(os.listdir(root)) == ["t_rt"]
        assert spark.table(f"{db}.t_rt").count() == 5

        # the orphaned location no longer blocks a CREATE at that name
        spark.range(2).write.saveAsTable(f"{db}.t")
        assert spark.table(f"{db}.t").count() == 2
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
