"""EngineConfig.recover_tables: open-time rename-protocol replay —
the log-replay-on-open semantic a manifest lakehouse performs, wired
into Engine.open so a crashed publish is repaired BEFORE any frontend
serves queries. Subprocess-isolated: each phase boots its own JVM on
one persistent derby metastore.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import subprocess
import sys

#: the checkout these tests run from: subprocesses import its package
ROOT = str(Path(__file__).resolve().parents[1])

# multi-process: crash-recovery across engine restarts — excluded from
# the default lane (see pytest.ini), run via -m slow
pytestmark = pytest.mark.slow

_PHASE1_CRASH_STATE = """
import os, sys
from nineinfra_spark.engine import Engine, EngineConfig

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="rec_open_p1", master="local[2]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
)).open()
spark = eng.spark
spark.createDataFrame([(1, "old")], "id long, tag string").write.saveAsTable(
    "rt_tbl"
)
# manufacture the versioned-merge crash state: archive CAS done
# (live renamed to __v0), fully-written uuid stage left, live missing
spark.createDataFrame([(1, "merged"), (2, "merged")],
                      "id long, tag string").write.saveAsTable(
    "rt_tbl__stage_" + "e" * 12
)
spark.sql("ALTER TABLE rt_tbl RENAME TO rt_tbl__v0")
print("PHASE1_OK", flush=True)
eng.close()
"""

_PHASE2_RECOVER = """
import os, sys
from nineinfra_spark.engine import Engine, EngineConfig

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="rec_open_p2", master="local[2]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
    recover_tables=("rt_tbl", "rt_never_created"),
)).open()
spark = eng.spark
# the crashed merge was committed-in-progress: rolled FORWARD
tags = sorted(r["tag"] for r in spark.table("rt_tbl").collect())
assert tags == ["merged", "merged"], tags
# archive kept; stage name gone (promoted)
assert spark.catalog.tableExists("rt_tbl__v0")
assert not spark.catalog.tableExists("rt_tbl__stage_" + "e" * 12)
# and the never-created name was tolerated (first-boot semantics)
print("PHASE2_OK", flush=True)
eng.close()
"""


def test_open_time_recovery_rolls_crashed_merge_forward(tmp_path):
    for script, marker in (
        (_PHASE1_CRASH_STATE, "PHASE1_OK"),
        (_PHASE2_RECOVER, "PHASE2_OK"),
    ):
        proc = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path)],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=ROOT,
        )
        assert proc.returncode == 0, (
            f"{marker} phase failed:\n{proc.stdout}\n{proc.stderr[-3000:]}"
        )
        assert marker in proc.stdout
