"""Persistent-catalog semantics (Engine hive/derby profile).

The platform's data model is a PERSISTENT metastore (reference:
``internal/controller/metastore.go:105-114`` — Hive Metastore wired
into the SQL gateway at ``kyuubi.go:41``). Two things must hold that
an in-memory session catalog cannot give:

1. DROP TABLE on a managed table removes its data directory.
2. A *later, separate* session sees tables created by an earlier one.
3. ALTER TABLE ADD COLUMNS + INSERT OVERWRITE survive into the later
   session: the evolved schema and the overwritten contents are what
   the second JVM reads back (the full DDL verb set the reference's
   metastore role implies, ``internal/controller/metastore.go:181-219``).

Catalog implementation is fixed at JVM creation, and the pytest
session already holds a vanilla SparkContext — so each phase runs in
its own subprocess with a fresh JVM sharing the same derby metastore.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import os
import subprocess
import sys

#: the checkout these tests run from: subprocesses import its package
ROOT = str(Path(__file__).resolve().parents[1])

SF = "/root/testdata/sf0.001"

# multi-process: spawns a second SparkSession process per case —
# excluded from the default lane (see pytest.ini), run via -m slow
pytestmark = pytest.mark.slow

_PHASE1 = """
import os, sys
from nineinfra_spark.engine import Engine, EngineConfig

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="hive_phase1",
    master="local[4]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
)).open()
spark = eng.spark
assert spark.conf.get("spark.sql.catalogImplementation") == "hive"

nation = eng.read_parquet("{sf}/nation.parquet")
spark.sql("CREATE DATABASE IF NOT EXISTS nine_db")
eng.save_as_table(nation, "nine_db.nation_t", mode="overwrite")
eng.save_as_table(nation.limit(5), "nine_db.doomed_t", mode="overwrite")

doomed_dir = os.path.join(root, "warehouse", "nine_db.db", "doomed_t")
assert os.path.isdir(doomed_dir), f"managed dir missing: {{doomed_dir}}"
spark.sql("DROP TABLE nine_db.doomed_t")
assert not os.path.exists(doomed_dir), "DROP TABLE left the managed dir behind"

# schema evolution + full overwrite, persisted for the second session:
# add a column the original table never had, then overwrite with a
# recompute that fills it.
spark.sql("CREATE TABLE nine_db.evolved_t AS "
          "SELECT n_nationkey, n_name FROM nine_db.nation_t WHERE n_regionkey = 0")
spark.sql("ALTER TABLE nine_db.evolved_t ADD COLUMNS (name_len INT)")
spark.sql("INSERT OVERWRITE TABLE nine_db.evolved_t "
          "SELECT n_nationkey, n_name, CAST(LENGTH(n_name) AS INT) "
          "FROM nine_db.nation_t WHERE n_regionkey = 1")
print("PHASE1_OK", nation.count())
eng.close()
"""

_PHASE2 = """
import os, sys
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.plans.registry import get

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="hive_phase2",
    master="local[4]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
)).open()
spark = eng.spark

# second-session read-back: the catalog survived the first JVM
n = spark.read.table("nine_db.nation_t").count()
assert n == 25, f"expected 25 nations, got {{n}}"
assert not spark.catalog.tableExists("nine_db.doomed_t")

# ALTER + INSERT OVERWRITE from phase 1 persisted: the second JVM
# sees the evolved 3-column schema and ONLY the overwritten rows
ev = spark.read.table("nine_db.evolved_t")
assert ev.columns == ["n_nationkey", "n_name", "name_len"], ev.columns
rows = ev.collect()
assert all(r.name_len == len(r.n_name) for r in rows), rows[:3]
region1 = spark.read.table("nine_db.nation_t").where("n_regionkey = 1").count()
assert len(rows) == region1, (len(rows), region1)

# the registered lifecycle queries run on the hive session with NO
# filesystem workaround (is_hive branch) — incl. the ALTER/OVERWRITE
# steps and the dynamic-partition overwrite
out = get("catalog_table_lifecycle").fn(spark, "{sf}")
assert out.count() > 0
out2 = get("catalog_insert_overwrite_dynamic").fn(spark, "{sf}")
assert out2.count() > 0
print("PHASE2_OK", n)
eng.close()
"""


_PARTITIONED = """
import os, sys
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.operators.merge import (
    delete_where, merge_into_table, merge_into_table_versioned,
    publish_snapshot, update_where,
)

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="hive_partitioned",
    master="local[2]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
)).open()
spark = eng.spark
schema = "id long, v double, p string"
spark.createDataFrame(
    [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "a\\\\b")], schema
).write.partitionBy("p").saveAsTable("kp_t")

def check(table, want):
    cols = [c.name for c in spark.catalog.listColumns(table) if c.isPartition]
    assert cols == ["p"], (table, cols)
    got = {{r.id: (r.v, r.p) for r in spark.table(table).collect()}}
    assert got == want, (table, got)

upd = spark.createDataFrame([(2, 20.0, "b"), (4, 4.0, "c")], schema)
merge_into_table(spark, "kp_t", upd, ["id"])
check("kp_t", {{1: (1.0, "a"), 2: (20.0, "b"), 3: (3.0, "a\\\\b"), 4: (4.0, "c")}})
upd = spark.createDataFrame([(1, 10.0, "a")], schema)
v = merge_into_table_versioned(spark, "kp_t", upd, ["id"])
check(f"kp_t__v{{v}}", {{1: (1.0, "a"), 2: (20.0, "b"), 3: (3.0, "a\\\\b"), 4: (4.0, "c")}})
publish_snapshot(spark, "kp_t", spark.table("kp_t").filter("id != 4"))
check("kp_t", {{1: (10.0, "a"), 2: (20.0, "b"), 3: (3.0, "a\\\\b")}})
assert delete_where(spark, "kp_t", "id = 3") == 1
assert update_where(spark, "kp_t", "id = 2", {{"v": "v * 10"}}) == 1
check("kp_t", {{1: (10.0, "a"), 2: (200.0, "b")}})
parts = sorted(r[0] for r in spark.sql("SHOW PARTITIONS kp_t").collect())
assert parts == ["p=a", "p=b"], parts
print("PARTITIONED_OK")
eng.close()
"""

def _run(script: str, root: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", script.format(sf=SF), root],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    return proc.stdout


def test_persistent_catalog_across_sessions(tmp_path):
    root = str(tmp_path / "hive_cat")
    os.makedirs(root)
    out1 = _run(_PHASE1, root)
    assert "PHASE1_OK 25" in out1
    out2 = _run(_PHASE2, root)
    assert "PHASE2_OK 25" in out2


def test_merges_and_row_mutations_keep_partitioning_on_hive(tmp_path):
    """merge_into_table, merge_into_table_versioned, publish_snapshot,
    delete_where and update_where on a partitioned table in the
    Derby-backed Hive metastore keep its partition columns and rows,
    and a delete drops the partition it empties."""
    root = str(tmp_path / "hive_part")
    os.makedirs(root)
    assert "PARTITIONED_OK" in _run(_PARTITIONED, root)
