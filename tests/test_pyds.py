"""Custom Python DataSource connector (sources/pyds.py): batch/stream
agreement, partition ranges, and the offset-recovery path
(readBetweenOffsets) that only executes on checkpoint restart.
"""

from __future__ import annotations

from pathlib import Path

import pytest
import os
import shutil
import time

from nineinfra_spark.sources import pyds

#: the checkout these tests run from: subprocesses import its package
ROOT = str(Path(__file__).resolve().parents[1])

OUT = "/tmp/nineinfra_pyds_test"


def test_batch_rows_match_generator(spark):
    """The batch read reproduces synth_row exactly over the keyspace,
    with the requested task parallelism."""
    pyds.register(spark)
    df = (
        spark.read.format("nine_synth")
        .option("n", "100")
        .option("numPartitions", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(pyds.synth_row(k) for k in range(100))
    assert got == want


def test_stream_equals_batch(spark):
    """Draining the stream leg yields the identical relation the batch
    leg produces — connector determinism across both read paths."""
    pyds.register(spark)
    name = "mem_pyds_eq"
    q = (
        spark.readStream.format("nine_synth")
        .option("n", "120")
        .option("step", "50")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 120:
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()
    stream_rows = sorted(tuple(r) for r in spark.table(name).collect())
    batch_rows = sorted(
        tuple(r)
        for r in spark.read.format("nine_synth").option("n", "120").load().collect()
    )
    assert stream_rows == batch_rows


def test_stream_restart_replays_committed_offsets_exactly_once(spark):
    """Kill the streaming connector mid-run and restart from the same
    checkpoint: recovery goes through readBetweenOffsets (replay of
    the committed-but-unfinished range) — the path a normal run never
    executes — and the final sink must hold every key exactly once."""
    pyds.register(spark)
    sink = os.path.join(OUT, "restart_sink")
    ckpt = os.path.join(OUT, "restart_ckpt")
    for d in (sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    def start(trigger):
        return (
            spark.readStream.format("nine_synth")
            .option("n", "200")
            .option("step", "40")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # phase 1: slow trigger; stop after the first committed batch
    q = start({"processingTime": "2 seconds"})
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p["batchId"] >= 1 for p in q.recentProgress):
            break
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    partial = spark.read.parquet(sink).count()
    assert 0 < partial < 200, partial

    # phase 2: restart → offset log replays the in-flight range via
    # readBetweenOffsets, then continues to the end of the keyspace
    q2 = start({"processingTime": "100 milliseconds"})
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.read.parquet(sink).count() >= 200:
                break
            time.sleep(0.3)
    finally:
        q2.stop()
        q2.awaitTermination()
    keys = [r["event_id"] for r in spark.read.parquet(sink).collect()]
    assert len(keys) == 200, len(keys)      # nothing lost
    assert len(set(keys)) == 200            # nothing duplicated
    assert set(keys) == set(range(200))


_MIDBATCH_CHILD = """
import sys, time
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

sink, ckpt = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("pyds_midbatch_victim").getOrCreate())
from nineinfra_spark.sources import pyds
pyds.register(spark)

# ~80 ms per row -> each 40-row batch executes for ~3 s: a wide window
# between the offset-log write (before execution) and the commit-log
# write (after), for the parent to SIGKILL into.
slow = F.udf(lambda x: (time.sleep(0.08), x)[1], LongType())
q = (spark.readStream.format("nine_synth")
    .option("n", "120").option("step", "40").load()
    .withColumn("event_id", slow(F.col("event_id")))
    .writeStream.format("parquet")
    .option("path", sink).option("checkpointLocation", ckpt)
    .trigger(processingTime="100 milliseconds")
    .start())
print("STREAM_STARTED", flush=True)
q.awaitTermination()
"""


@pytest.mark.slow
def test_stream_midbatch_kill_replays_exactly_once(spark, tmp_path):
    """VERDICT r7 item #9: SIGKILL the streaming connector AFTER the
    offset log advanced for a batch but BEFORE that batch committed —
    the hardest crash point. Recovery must replay exactly the
    committed-offset range via readBetweenOffsets, and the file sink's
    manifest must hide the killed batch's orphan files: every key
    exactly once."""
    import signal
    import subprocess
    import sys as _sys

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    err_f = open(tmp_path / "child_err.log", "w")
    proc = subprocess.Popen(
        [_sys.executable, "-c", _MIDBATCH_CHILD, sink, ckpt],
        stdout=subprocess.PIPE,
        stderr=err_f,
        text=True,
        cwd=ROOT,
    )
    try:
        # wait until some batch N has its offset logged but no commit —
        # then give execution a beat so tasks are genuinely mid-flight
        deadline = time.time() + 180
        target = None
        while time.time() < deadline:
            offsets = {
                int(f) for f in os.listdir(os.path.join(ckpt, "offsets"))
                if f.isdigit()
            } if os.path.isdir(os.path.join(ckpt, "offsets")) else set()
            commits = {
                int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                if f.isdigit()
            } if os.path.isdir(os.path.join(ckpt, "commits")) else set()
            pending = offsets - commits
            # require at least one COMMITTED batch so replay has a lower
            # bound, and one pending batch to kill into
            if commits and pending:
                target = max(pending)
                break
            if proc.poll() is not None:
                raise AssertionError("victim died early")
            time.sleep(0.05)
        assert target is not None, "never observed offset-advanced/uncommitted"
        time.sleep(1.0)  # land the kill mid-execution
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)

        # the crash state is the real one: offset advanced, no commit
        offsets = {int(f) for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit()}
        commits = {int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()}
        assert max(offsets) > (max(commits) if commits else -1)

        # phase 2: restart WITHOUT the slow UDF on the shared session —
        # recovery replays the pending range via readBetweenOffsets
        from nineinfra_spark.sources import pyds as _p

        _p.register(spark)
        q2 = (
            spark.readStream.format("nine_synth")
            .option("n", "120")
            .option("step", "40")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(sink).count() >= 120:
                        break
                except Exception:
                    pass
                time.sleep(0.3)
        finally:
            q2.stop()
            q2.awaitTermination()
        keys = [r["event_id"] for r in spark.read.parquet(sink).collect()]
        assert len(keys) == 120, len(keys)  # nothing lost (at-least-once)
        assert len(set(keys)) == 120        # nothing duplicated (exactly-once)
        assert set(keys) == set(range(120))
    finally:
        if proc.poll() is None:
            proc.kill()
        err_f.close()


# -- nine_jsonl sink: commit protocol ---------------------------------------


class TestJsonlSink:
    def _write(self, spark, tmp_path, df):
        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        out = str(tmp_path / "out")
        df.write.format("nine_jsonl").option("path", out).mode(
            "append"
        ).save()
        return out

    def test_commit_manifest_and_no_staging_debris(self, spark, tmp_path):
        import json
        import os

        from nineinfra_spark.sources import pyds

        df = spark.range(100).selectExpr("id", "concat('v', id) AS s") \
            .repartition(4)
        out = self._write(spark, tmp_path, df)

        names = sorted(os.listdir(out))
        assert "_MANIFEST.json" in names
        assert not [n for n in names if n.startswith(".staging-")]
        manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
        assert sum(e["rows"] for e in manifest["files"]) == 100
        back = spark.read.schema("id long, s string").json(
            pyds.manifested_files(out)
        )
        assert sorted(r["id"] for r in back.collect()) == list(range(100))

    def test_failed_job_leaves_no_commit_point(self, spark, tmp_path):
        """A task failure mid-write must leave the target UNREADABLE
        by protocol: no manifest, no final part files — only ignorable
        staging debris at worst."""
        import os

        import pytest as _pytest
        from pyspark.sql import functions as F

        from nineinfra_spark.sources import pyds

        pyds.register(spark)

        @F.udf("long")
        def poison(v):
            if v == 37:
                raise RuntimeError("poisoned row")
            return v

        out = str(tmp_path / "crash")
        df = spark.range(100).select(poison("id").alias("id")).repartition(4)
        with _pytest.raises(Exception):
            df.write.format("nine_jsonl").option("path", out).mode(
                "append"
            ).save()

        names = os.listdir(out) if os.path.isdir(out) else []
        assert "_MANIFEST.json" not in names
        assert not [n for n in names if n.startswith("part-")]
        with _pytest.raises(FileNotFoundError):
            pyds.manifested_files(out)

    def test_overwrite_removes_stale_parts(self, spark, tmp_path):
        """mode('overwrite') after a LARGER previous commit must not
        leave stale part-*.jsonl behind: a plain spark.read.json(dir)
        (no manifest filtering) has to see only the new data (r9
        ADVICE finding)."""
        import os

        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        out = str(tmp_path / "ow")
        big = spark.range(100).selectExpr("id", "'old' AS s").repartition(8)
        big.write.format("nine_jsonl").option("path", out).mode(
            "append"
        ).save()
        small = spark.range(5).selectExpr("id", "'new' AS s").repartition(2)
        small.write.format("nine_jsonl").option("path", out).mode(
            "overwrite"
        ).save()

        parts = [n for n in os.listdir(out) if n.startswith("part-")]
        assert len(parts) == 2, parts
        back = spark.read.schema("id long, s string").json(out)
        got = sorted((r["id"], r["s"]) for r in back.collect())
        assert got == [(i, "new") for i in range(5)]

    def test_overwrite_sweeps_orphan_staging_debris(self, spark, tmp_path):
        """r12 review finding (the avro-sink sweep's twin): a driver
        that died before commit/abort leaves .staging-*.jsonl orphans
        forever — dot-files no reader sees, but unbounded disk debris.
        An overwrite commit (whose contract already destroys
        concurrent state) must sweep them; the committed data is
        unaffected."""
        import os

        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        out = tmp_path / "sweep"
        out.mkdir()
        for i in range(3):  # a dead job's acknowledged-but-uncommitted tasks
            (out / f".staging-dead{i}.jsonl").write_text('{"id": 999}\n')
        df = spark.range(4).selectExpr("id", "'v' AS s").repartition(2)
        df.write.format("nine_jsonl").option("path", str(out)).mode(
            "overwrite"
        ).save()
        names = sorted(os.listdir(out))
        assert not any(n.startswith(".staging-") for n in names)
        back = spark.read.schema("id long, s string").json(
            pyds.manifested_files(str(out))
        )
        assert sorted(r["id"] for r in back.collect()) == [0, 1, 2, 3]

    def test_append_leaves_foreign_stagings_alone(self, spark, tmp_path):
        """Append must NOT sweep stagings — a concurrent writer's
        acknowledged-but-not-yet-committed staging files are live
        state, and deleting them would crash its commit rename."""
        import os

        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        out = tmp_path / "app"
        out.mkdir()
        (out / ".staging-concurrent.jsonl").write_text('{"id": 7}\n')
        df = spark.range(2).selectExpr("id", "'v' AS s").repartition(1)
        df.write.format("nine_jsonl").option("path", str(out)).mode(
            "append"
        ).save()
        assert ".staging-concurrent.jsonl" in os.listdir(out)

    def test_overwrite_crash_mid_cleanup_keeps_manifest_consistent(
        self, spark, tmp_path, monkeypatch
    ):
        """r10 ADVICE: stale-part deletion runs AFTER the manifest
        flip, so a crash mid-cleanup leaves only EXTRA stale parts
        (invisible to manifest-trusting readers) — never a committed
        manifest referencing already-deleted files. Driver-side unit
        of ``_JsonlWriter.commit`` with ``os.remove`` poisoned."""
        import json
        import os

        import pytest as _pytest

        from nineinfra_spark.sources.pyds import _JsonlCommit, _JsonlWriter

        out = str(tmp_path / "ow_crash")
        os.makedirs(out)
        # previous LARGER commit: 3 parts + manifest
        old = []
        for i in range(3):
            name = f"part-{i:05d}.jsonl"
            with open(os.path.join(out, name), "w") as f:
                f.write('{"id": %d, "s": "old"}\n' % i)
            old.append({"file": name, "rows": 1})
        with open(os.path.join(out, "_MANIFEST.json"), "w") as f:
            json.dump({"files": old}, f)
        # new 1-part overwrite whose stale-cleanup crashes on unlink
        schema = spark.range(1).selectExpr("id", "'x' AS s").schema
        w = _JsonlWriter({"path": out}, schema, overwrite=True)
        staged = os.path.join(out, ".staging-crashtest.jsonl")
        with open(staged, "w") as f:
            f.write('{"id": 100, "s": "new"}\n')

        def boom(_path):
            raise OSError("simulated crash mid-cleanup")

        monkeypatch.setattr(os, "remove", boom)
        with _pytest.raises(OSError, match="mid-cleanup"):
            w.commit([_JsonlCommit(staged=staged, rows=1)])
        monkeypatch.undo()

        manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
        assert [f["file"] for f in manifest["files"]] == ["part-00000.jsonl"]
        for f in manifest["files"]:
            assert os.path.exists(os.path.join(out, f["file"]))

    def test_reader_trusts_only_the_manifest(self, spark, tmp_path):
        import os

        from nineinfra_spark.sources import pyds

        df = spark.range(10).selectExpr("id", "'x' AS s").repartition(2)
        out = self._write(spark, tmp_path, df)
        # plant debris: an orphan staging file and an unmanifested part
        open(os.path.join(out, ".staging-zombie.jsonl"), "w").write(
            '{"id": 999, "s": "zombie"}\n'
        )
        open(os.path.join(out, "part-99999.jsonl"), "w").write(
            '{"id": 998, "s": "stray"}\n'
        )
        back = spark.read.schema("id long, s string").json(
            pyds.manifested_files(out)
        )
        ids = sorted(r["id"] for r in back.collect())
        assert ids == list(range(10))


class TestJsonlAppendAndTypes:
    """r11 review findings: (a) mode('append') renamed new parts over
    the old commit's part files and rewrote the manifest with only the
    new ones — the previous commit was silently destroyed; (b) any
    timestamp/date/decimal/binary column crashed every task with a
    bare json TypeError."""

    def test_append_extends_previous_commit(self, spark, tmp_path):
        import json
        import os

        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        out = str(tmp_path / "appnd")
        df1 = spark.range(10).selectExpr("id", "'first' AS tag").coalesce(2)
        df2 = spark.range(10, 25).selectExpr("id", "'second' AS tag").coalesce(3)
        for df in (df1, df2):
            df.write.format("nine_jsonl").option("path", out).mode(
                "append"
            ).save()
        manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
        assert sum(e["rows"] for e in manifest["files"]) == 25
        # every manifested file exists; names never collided
        names = [e["file"] for e in manifest["files"]]
        assert len(names) == len(set(names))
        for n in names:
            assert os.path.exists(os.path.join(out, n))
        back = spark.read.schema("id long, tag string").json(
            pyds.manifested_files(out)
        )
        got = {(r["id"], r["tag"]) for r in back.collect()}
        assert got == {(i, "first") for i in range(10)} | {
            (i, "second") for i in range(10, 25)
        }

    def test_timestamp_decimal_binary_columns_serialize(self, spark, tmp_path):
        import json
        import os

        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        out = str(tmp_path / "typed")
        df = spark.range(3).selectExpr(
            "id",
            "timestamp'2024-05-04 03:02:01' AS ts",
            "date'2024-05-04' AS d",
            "cast(1.25 as decimal(10,2)) AS dec",
            "cast('ab' as binary) AS bin",
        )
        df.write.format("nine_jsonl").option("path", out).mode(
            "overwrite"
        ).save()
        manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
        assert sum(e["rows"] for e in manifest["files"]) == 3
        nonempty = next(e for e in manifest["files"] if e["rows"] > 0)
        row = json.loads(
            open(os.path.join(out, nonempty["file"])).readline()
        )
        assert row["ts"].startswith("2024-05-04T03:02:01")
        assert row["d"] == "2024-05-04"
        assert row["dec"] == "1.25"
        assert row["bin"] == "YWI="  # base64('ab')


class TestSynthEdgeInputs:
    """r11 review finding: n=0 crashed planning with range(0,0,0) and
    numPartitions=0 with ZeroDivisionError — now an empty scan and a
    clear error respectively."""

    def test_n_zero_is_empty_scan(self, spark):
        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        assert (
            spark.read.format("nine_synth").option("n", "0").load().count()
            == 0
        )

    def test_bad_partitions_raise_clearly(self, spark):
        import pytest as _pytest

        from nineinfra_spark.sources import pyds

        pyds.register(spark)
        with _pytest.raises(Exception, match="numPartitions"):
            spark.read.format("nine_synth").option("n", "10").option(
                "numPartitions", "0"
            ).load().count()
