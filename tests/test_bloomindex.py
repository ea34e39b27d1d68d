"""Per-file Bloom index (operators/bloomindex.py): deterministic
bitmaps, no false NEGATIVES (the exactness contract), real file
skipping via partition pruning, and the guard rails."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nineinfra_spark.operators.bloomindex import (
    _positions,
    _positions_py,
    bloom_index_write,
    bloom_probe_files_table,
    bloom_skipping_read,
    read_index_meta,
)

N = 2000
N_FILES = 16


def _frame(spark):
    # layout column `day` (what the table is organized by), probe
    # column `key` (high-cardinality, uncorrelated with layout)
    return spark.range(0, N).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bloom") / "t")
    df = _frame(spark)
    meta = bloom_index_write(df, path, "day", "key", N_FILES)
    return path, meta, df


def test_probe_positions_match_column_expr(spark):
    """Driver-side probe hashing must be bit-identical to the build's
    column expression — a drift here turns into false negatives."""
    vals = ["abc", "0", "x y z", "4d3", ""]
    df = spark.createDataFrame([(v,) for v in vals], "v string").select(
        "v", _positions(F.col("v"), 8192, 4).alias("pos")
    )
    got = {r["v"]: list(r["pos"]) for r in df.collect()}
    for v in vals:
        assert got[v] == _positions_py(v, 8192, 4)


def test_no_false_negatives_every_key(spark, indexed):
    """EVERY indexed key must probe to a file set containing its file
    — the exactness contract of Bloom skipping."""
    path, meta, df = indexed
    back = spark.read.parquet(path)
    rows = back.select("key", "fid").collect()
    from nineinfra_spark.operators.bloomindex import load_bits

    bitsets = load_bits(spark, path)
    for r in rows:
        pos = _positions_py(r["key"], meta["m_bits"], meta["k"])
        assert all(p in bitsets[r["fid"]] for p in pos), r["key"]


def test_skipping_read_equals_full_filter(spark, indexed):
    path, meta, df = indexed
    import hashlib

    probe = [hashlib.md5(str(i).encode()).hexdigest() for i in (3, 500, 1777)]
    out, stats = bloom_skipping_read(spark, path, probe)
    got = sorted((r["key"], r["payload"]) for r in out.collect())
    want = sorted(
        (r["key"], r["payload"])
        for r in df.filter(F.col("key").isin(probe)).collect()
    )
    assert got == want and len(got) == 3
    assert stats["files_total"] == N_FILES
    # 3 probe keys live in <= 3 files; false positives may add a few,
    # but skipping must be REAL (not a read-everything degenerate)
    assert stats["files_hit"] <= 6
    assert stats["files_skipped"] >= N_FILES - 6

    # absent keys: whatever survives the bloom, the exact filter
    # returns nothing
    out2, stats2 = bloom_skipping_read(spark, path, ["nope1", "nope2"])
    assert out2.count() == 0


def test_partition_pruning_reaches_the_scan(spark, indexed):
    """Skipped files must never be OPENED: the fid filter compiles to
    PartitionFilters on the scan."""
    path, meta, df = indexed
    import hashlib

    probe = [hashlib.md5(b"42").hexdigest()]
    out, stats = bloom_skipping_read(spark, path, probe)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "fid" in pf.group(1)


def test_rebuild_is_deterministic(spark, tmp_path):
    df = _frame(spark)
    m1 = bloom_index_write(df, str(tmp_path / "a"), "day", "key", N_FILES)
    m2 = bloom_index_write(df, str(tmp_path / "b"), "day", "key", N_FILES)
    assert m1 == m2
    assert m2 == read_index_meta(str(tmp_path / "b"))


def test_null_layout_and_null_keys(spark, tmp_path):
    """NULL layout rows land deterministically in file 0 and their
    keys stay probe-able; NULL keys are never indexed and a NULL probe
    matches nothing."""
    df = spark.createDataFrame(
        [(None, "nk", 1), (5, None, 2), (9, "ok", 3)],
        "day int, key string, payload int",
    )
    path = str(tmp_path / "n")
    meta = bloom_index_write(df, path, "day", "key", 4)
    out, _ = bloom_skipping_read(spark, path, ["nk"])
    assert [r["payload"] for r in out.collect()] == [1]
    out2, stats2 = bloom_skipping_read(spark, path, [None])
    assert out2.count() == 0
    out3, _ = bloom_skipping_read(spark, path, ["ok", None])
    assert [r["payload"] for r in out3.collect()] == [3]


def test_empty_frame_and_empty_probe(spark, tmp_path):
    empty = spark.createDataFrame([], "day int, key string")
    path = str(tmp_path / "e")
    bloom_index_write(empty, path, "day", "key", 4)
    out, stats = bloom_skipping_read(spark, path, ["x"])
    assert out.count() == 0 and stats["files_hit"] == 0
    assert bloom_probe_files_table(spark, path, ["x", 7]) == []
    df = _frame(spark)
    path2 = str(tmp_path / "e2")
    bloom_index_write(df, path2, "day", "key", 4)
    out2, stats2 = bloom_skipping_read(spark, path2, [])
    assert out2.count() == 0 and stats2["files_hit"] == 0
    assert bloom_probe_files_table(spark, path2, [None, None]) == []


def test_guards(spark, tmp_path):
    df = _frame(spark)
    with pytest.raises(ValueError, match="n_files"):
        bloom_index_write(df, str(tmp_path / "g"), "day", "key", 0)
    with pytest.raises(ValueError, match="not in frame"):
        bloom_index_write(df, str(tmp_path / "g"), "nope", "key", 4)
    with pytest.raises(ValueError, match="'fid' is reserved"):
        bloom_index_write(
            df.withColumn("fid", F.lit(1)), str(tmp_path / "g"), "day", "key", 4
        )


def test_bloom_skipping_matches_draft_duckdb_oracle(spark, tmp_path):
    """De-risk the r14 registration of a `bloom_skipping_read` registry
    query: DuckDB recomputes the ENTIRE contract from the raw table —
    fid assignment (frozen-bounds grid), per-file bitmaps (md5 hash
    family), probe admission (all-k-positions containment), and the
    final stats+aggregate row — and must agree with the operator
    exactly. Same draft-oracle device as the rejection ledger."""
    import duckdb

    from nineinfra_spark.plans._util import t

    SF = "/root/testdata/sf0.01"
    N_FILES, M, K = 24, 8192, 4
    orders = t(spark, SF, "orders")
    df = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("lay"),
    )
    path = str(tmp_path / "orders_bloom")
    meta = bloom_index_write(df, path, "lay", "o_orderkey", N_FILES, M, K)
    probe = [
        r["o_orderkey"]
        for r in orders.filter(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) == "00"
        )
        .select("o_orderkey")
        .collect()
    ]
    assert probe  # sf0.01 always has ~1/256 of the keys
    out, stats = bloom_skipping_read(spark, path, probe)
    got = out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).first()

    def hash60(expr, salt):
        return (
            f"CAST(CONCAT('0x', SUBSTR(md5(CONCAT('{salt}', "
            f"CAST({expr} AS VARCHAR))), 1, 15)) AS BIGINT)"
        )

    pos_union = " UNION ALL ".join(
        f"SELECT o_orderkey AS pkey, {j} AS j, "
        f"{hash60('o_orderkey', f'bloom{j}/')} % {M} AS pos FROM probes"
        for j in range(K)
    )
    bit_union = " UNION ALL ".join(
        f"SELECT fid, {hash60('o_orderkey', f'bloom{j}/')} % {M} AS bit "
        f"FROM assigned"
        for j in range(K)
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')"
        )
        want = con.execute(f"""
        WITH base AS (
            SELECT o_orderkey, o_totalprice,
                   date_diff('day', DATE '1970-01-01', o_orderdate) AS lay
            FROM orders
        ),
        bounds AS (
            SELECT MIN(CAST(lay AS DOUBLE)) AS lo,
                   MAX(CAST(lay AS DOUBLE)) AS hi
            FROM base
        ),
        assigned AS (
            SELECT base.*,
                   GREATEST(0, LEAST({N_FILES - 1},
                       CAST(FLOOR((CAST(lay AS DOUBLE) - lo)
                            / (CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END)
                            * {N_FILES}) AS INT))) AS fid
            FROM base, bounds
        ),
        probes AS (
            SELECT o_orderkey FROM orders
            WHERE SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) = '00'
        ),
        pos AS ({pos_union}),
        bits AS (SELECT DISTINCT * FROM ({bit_union})),
        hits AS (
            SELECT b.fid
            FROM pos p JOIN bits b ON b.bit = p.pos
            GROUP BY b.fid, p.pkey
            HAVING COUNT(DISTINCT p.j) = {K}
        )
        SELECT
            (SELECT COUNT(DISTINCT fid) FROM assigned) AS files_total,
            (SELECT COUNT(DISTINCT fid) FROM hits) AS files_hit,
            (SELECT COUNT(*) FROM assigned
             WHERE o_orderkey IN (SELECT o_orderkey FROM probes)) AS n_rows,
            (SELECT CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)))
                    AS DOUBLE) FROM assigned
             WHERE o_orderkey IN (SELECT o_orderkey FROM probes)) AS sum_price
        """).fetchone()
    finally:
        con.close()
    assert stats["files_total"] == want[0]
    assert stats["files_hit"] == want[1]
    assert got["n_rows"] == want[2]
    assert got["sum_price"] == want[3]
    # and the skipping is real on this geometry
    assert stats["files_hit"] < stats["files_total"] or len(probe) > 50


def test_append_extends_index_and_keeps_exactness(spark, tmp_path):
    """Incremental append: delta rows land in frozen-grid files, the
    bitmaps extend monotonically, and every key — old and new — still
    probes exactly; the replay marker skips a re-delivered batch."""
    from nineinfra_spark.operators.bloomindex import bloom_index_append

    df = _frame(spark)
    path = str(tmp_path / "a")
    bloom_index_write(df, path, "day", "key", N_FILES)
    delta = spark.range(N, N + 300).select(
        (F.col("id") % 250).alias("day"),  # drift past the frozen hi=99
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    stats = bloom_index_append(spark, path, delta, batch_id=0)
    assert stats["rows_appended"] == 300
    import hashlib

    # a NEW key probes to its rows; an OLD key still does
    for i in (N + 7, 12):
        k = hashlib.md5(str(i).encode()).hexdigest()
        out, st = bloom_skipping_read(spark, path, [k])
        assert [r["payload"] for r in out.collect()] == [i * 3]
        assert st["files_hit"] < st["files_total"]
    # full no-false-negatives sweep over the merged table
    meta = read_index_meta(path)
    from nineinfra_spark.operators.bloomindex import load_bits

    bitsets = load_bits(spark, path)
    for r in spark.read.parquet(path).select("key", "fid").collect():
        pos = _positions_py(r["key"], meta["m_bits"], meta["k"])
        assert all(p in bitsets[r["fid"]] for p in pos)
    # replay: same batch id skipped, no row duplication
    st2 = bloom_index_append(spark, path, delta, batch_id=0)
    assert st2.get("skipped_replay") is True
    assert spark.read.parquet(path).count() == N + 300
    # schema mismatch refused
    with pytest.raises(ValueError, match="delta columns"):
        bloom_index_append(spark, path, delta.drop("payload"), batch_id=1)


def test_m_bits_for_follows_fill_model():
    """The sizing helper follows the fill^k false-positive model."""
    from nineinfra_spark.operators.bloomindex import m_bits_for

    # ~10.5 bits/key at 1% FP, k=4
    m = m_bits_for(1000, fp=0.01)
    assert 9_000 <= m <= 12_000 and m % 64 == 0
    assert m_bits_for(0) > 0
    with pytest.raises(ValueError, match="fp"):
        m_bits_for(100, fp=1.5)


def test_saturation_warns_and_right_sizing_restores_skipping(spark, tmp_path):
    """An undersized bitmap saturates (every file hits — exact but
    unskipping) and must WARN; resizing via m_bits_for restores real
    skipping on the same data."""
    import warnings

    from nineinfra_spark.operators.bloomindex import m_bits_for

    df = spark.range(0, 20_000).select(
        (F.col("id") % 64).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bloom_index_write(
            df, str(tmp_path / "sat"), "day", "key", 8, m_bits=512
        )
    assert any("fill ratio" in str(x.message) for x in w)
    # right-sized: 20k rows / 8 files = 2.5k keys/file
    m = m_bits_for(2500)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        bloom_index_write(
            df, str(tmp_path / "ok"), "day", "key", 8, m_bits=m
        )
    assert not any("fill ratio" in str(x.message) for x in w2)
    import hashlib

    out, stats = bloom_skipping_read(
        spark, str(tmp_path / "ok"), [hashlib.md5(b"77").hexdigest()]
    )
    assert out.count() == 1
    assert stats["files_hit"] < stats["files_total"]


def test_compact_restores_one_file_per_fid(spark, tmp_path):
    """Repeated appends fragment fid partitions into many small files;
    compact rewrites only the fragmented fids back to one file each —
    rows, bitmaps, and probes unchanged throughout."""
    from nineinfra_spark.operators.bloomindex import (
        bloom_index_append,
        bloom_index_compact,
    )

    path = str(tmp_path / "c")
    df = _frame(spark)
    bloom_index_write(df, path, "day", "key", 8)
    for i in range(3):
        delta = spark.range(N + i * 500, N + (i + 1) * 500).select(
            (F.col("id") % 100).alias("day"),
            F.md5(F.col("id").cast("string")).alias("key"),
            (F.col("id") * 3).alias("payload"),
        )
        bloom_index_append(spark, path, delta, batch_id=i)
    before = spark.read.parquet(path)
    rows_before = before.count()
    stats = bloom_index_compact(spark, path)
    assert stats["fids_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    # one file per fid now
    import os as _os

    for d in _os.listdir(path):
        if d.startswith("fid="):
            n = sum(
                1
                for f in _os.listdir(_os.path.join(path, d))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            assert n == 1, d
    after = spark.read.parquet(path)
    assert after.count() == rows_before
    # probes still exact post-compact
    import hashlib

    k = hashlib.md5(str(N + 1_100).encode()).hexdigest()
    out, st = bloom_skipping_read(spark, path, [k])
    assert [r["payload"] for r in out.collect()] == [(N + 1_100) * 3]
    # idempotent: second compact is a no-op
    stats2 = bloom_index_compact(spark, path)
    assert stats2["fids_compacted"] == 0
    assert stats2["files_before"] == stats2["files_after"] == stats["files_after"]


def test_key_type_guard(spark, tmp_path):
    """Key types whose Spark cast('string') rendering diverges from
    Python str() (double, boolean, ...) are refused at build time —
    they would hash to different bit positions on the two sides and
    produce false NEGATIVES; probe keys of such types are refused
    too. Integer keys (identical renderings) work end-to-end."""
    dfd = spark.range(0, 50).select(
        (F.col("id") % 5).alias("day"), (F.col("id") * 1.5).alias("key")
    )
    with pytest.raises(ValueError, match="cast it to string"):
        bloom_index_write(dfd, str(tmp_path / "d"), "day", "key", 4)
    dfb = spark.range(0, 50).select(
        (F.col("id") % 5).alias("day"), (F.col("id") % 2 == 0).alias("key")
    )
    with pytest.raises(ValueError, match="cast it to string"):
        bloom_index_write(dfb, str(tmp_path / "b"), "day", "key", 4)
    dfi = spark.range(0, 500).select(
        (F.col("id") % 20).alias("day"),
        (F.col("id") * 7 + 1).alias("key"),
        (F.col("id") + 100).alias("payload"),
    )
    path = str(tmp_path / "i")
    meta = bloom_index_write(dfi, path, "day", "key", 8)
    out, st = bloom_skipping_read(spark, path, [7 * 123 + 1])
    assert [r["payload"] for r in out.collect()] == [223]
    assert st["files_hit"] < st["files_total"]
    from nineinfra_spark.operators.bloomindex import bloom_probe_files_table

    with pytest.raises(TypeError, match="str or int"):
        bloom_probe_files_table(spark, path, [True])
    with pytest.raises(TypeError, match="str or int"):
        bloom_probe_files_table(spark, path, [1.5])


def test_nondeterministic_source_is_pinned(spark, tmp_path):
    """The build pins its input ONCE: a genuinely non-deterministic
    source (random-filter UDF — different rows per action) must still
    yield bitmaps covering exactly the rows the parquet files hold;
    without the pin the bounds agg, the write, and the bitmap agg
    would each see a different subset → false negatives."""
    import random

    from pyspark.sql.functions import udf

    flaky = udf(lambda: random.random() < 0.5, "boolean").asNondeterministic()
    df = _frame(spark).filter(flaky())
    path = str(tmp_path / "nd")
    meta = bloom_index_write(df, path, "day", "key", 8)
    from nineinfra_spark.operators.bloomindex import load_bits

    bitsets = load_bits(spark, path)
    rows = spark.read.parquet(path).select("key", "fid").collect()
    assert rows  # the random filter kept something (p≈1 at N=2000)
    for r in rows:
        pos = _positions_py(r["key"], meta["m_bits"], meta["k"])
        assert all(p in bitsets[r["fid"]] for p in pos), r["key"]


def test_crash_window_key_dedup_converges(spark, tmp_path):
    """marker-AFTER-data ordering: simulate the one remaining crash
    window (bits + data committed, marker unwritten) and prove that a
    key_cols replay CONVERGES — no duplicate rows, probes exact."""
    from nineinfra_spark.operators.bloomindex import (
        _write_sidecar,
        bloom_index_append,
    )

    df = _frame(spark)
    path = str(tmp_path / "cw")
    bloom_index_write(df, path, "day", "key", 8)
    delta = spark.range(N, N + 200).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    st = bloom_index_append(spark, path, delta, batch_id=0, key_cols=["key"])
    assert st["rows_appended"] == 200
    total = spark.read.parquet(path).count()
    assert total == N + 200
    # crash simulation: rewind the marker the append wrote LAST
    meta = read_index_meta(path)
    assert meta["last_batch_id"] == 0
    del meta["last_batch_id"]
    _write_sidecar(path, meta)
    # foreachBatch re-delivers batch 0 → the upsert dedups, converged
    st2 = bloom_index_append(spark, path, delta, batch_id=0, key_cols=["key"])
    assert st2.get("skipped_replay") is None
    assert spark.read.parquet(path).count() == total
    assert read_index_meta(path)["last_batch_id"] == 0
    import hashlib

    k = hashlib.md5(str(N + 7).encode()).hexdigest()
    out, _ = bloom_skipping_read(spark, path, [k])
    assert [r["payload"] for r in out.collect()] == [(N + 7) * 3]
    # and a marker-committed replay short-circuits as before
    st3 = bloom_index_append(spark, path, delta, batch_id=0, key_cols=["key"])
    assert st3.get("skipped_replay") is True


def test_table_append_merges_sparkside_and_compact_vacuums(spark, tmp_path):
    """Table-backed append merges words Spark-side into a FRESH
    versioned bits dir (the old version stays for in-flight probes);
    compact vacuums every version the sidecar no longer references."""
    import hashlib
    import os as _os

    from nineinfra_spark.operators.bloomindex import (
        bloom_index_append,
        bloom_index_compact,
    )

    path = str(tmp_path / "ta")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    delta = spark.range(N, N + 200).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    st = bloom_index_append(spark, path, delta, batch_id=0)
    assert st["rows_appended"] == 200
    meta = read_index_meta(path)
    assert meta["bits_storage"] == "table"
    assert meta["bits_dir"] != "_bloomindex_bits"
    dirs = sorted(
        d for d in _os.listdir(path) if d.startswith("_bloomindex_bits")
    )
    assert len(dirs) == 2  # old version retained for racing readers
    # probes exact for a new and an old key through the new bits table
    for i in (N + 13, 5):
        k = hashlib.md5(str(i).encode()).hexdigest()
        out, s = bloom_skipping_read(spark, path, [k])
        assert [r["payload"] for r in out.collect()] == [i * 3]
        assert s["files_hit"] < s["files_total"]
    # default compact RETAINS the single most recently superseded dir
    # (grace window for a probe that read the sidecar just before the
    # append committed)
    cst = bloom_index_compact(spark, path)
    assert cst["bits_dirs_vacuumed"] == 0
    assert (
        len([d for d in _os.listdir(path) if d.startswith("_bloomindex_bits")])
        == 2
    )
    # a second append supersedes again: the OLDEST version (two commit
    # points behind) is now vacuumable, the latest-superseded retained
    delta2 = spark.range(N + 200, N + 300).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_append(spark, path, delta2, batch_id=1)
    cst2 = bloom_index_compact(spark, path)
    assert cst2["bits_dirs_vacuumed"] == 1
    # explicit no-grace vacuum drops everything unreferenced
    cst3 = bloom_index_compact(spark, path, retain_latest_bits_dir=False)
    assert cst3["bits_dirs_vacuumed"] == 1
    meta = read_index_meta(path)
    left = [d for d in _os.listdir(path) if d.startswith("_bloomindex_bits")]
    assert left == [meta["bits_dir"]]
    k = hashlib.md5(str(N + 13).encode()).hexdigest()
    out, s = bloom_skipping_read(spark, path, [k])
    assert [r["payload"] for r in out.collect()] == [(N + 13) * 3]


def test_maintain_bloom_stream_checkpoint_recovery_replay(spark, tmp_path):
    """The streaming maintainer through Spark's REAL checkpoint
    recovery: drain a 3-file source, delete the last commits/ entry
    (+ .crc) to recreate the batch-ran/commit-unwritten crash window,
    restart — Spark genuinely re-delivers the final batch and the
    marker (plus key_cols upsert) keeps the index converged: no row
    duplication, probes exact."""
    import hashlib
    import os as _os

    from nineinfra_spark.operators.bloomindex import maintain_bloom_stream

    path = str(tmp_path / "t")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    src = tmp_path / "src"
    src.mkdir()
    delta_all = spark.range(N, N + 300).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    for s in range(3):
        (
            delta_all.filter(F.col("payload") % 3 == s)
            .coalesce(1)
            .write.mode("append")
            .parquet(str(src))
        )
    ckpt = str(tmp_path / "ckpt")

    def run():
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = maintain_bloom_stream(
            stream, path, ckpt, key_cols=["key"], trigger_available_now=True
        )
        q.awaitTermination()

    run()
    assert spark.read.parquet(path).count() == N + 300
    commits = sorted(
        f for f in _os.listdir(_os.path.join(ckpt, "commits")) if f.isdigit()
    )
    assert len(commits) >= 2  # the source really drained in >1 batch
    _os.remove(_os.path.join(ckpt, "commits", commits[-1]))
    crc = _os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    run()  # batch genuinely re-delivered with the same id
    assert spark.read.parquet(path).count() == N + 300, "replay duplicated rows"
    for i in (N + 299, 3):  # a streamed key and a seed key still probe exact
        k = hashlib.md5(str(i).encode()).hexdigest()
        out, st = bloom_skipping_read(spark, path, [k])
        assert [r["payload"] for r in out.collect()] == [i * 3]


def test_table_probe_plan_broadcasts_probe_side(spark, indexed):
    """The table probe's 100 TB posture, plan-asserted: the probe
    keys' (word, mask) pairs BROADCAST against the bits table — a
    BroadcastHashJoin on `w`, with no shuffle Exchange of the bits
    side below the join and no cartesian anywhere."""
    import hashlib
    import re

    from nineinfra_spark.operators.bloomindex import _probe_hits_df

    path, meta, df = indexed
    keys = [hashlib.md5(str(i).encode()).hexdigest() for i in range(9)]
    hits = _probe_hits_df(spark, path, meta, keys)
    hits.collect()
    plan = hits._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]  # AQE prints both plans
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final and "NestedLoop" not in final
    # the bits-table scan feeds the join directly: between the join
    # and the parquet scan there is a BroadcastExchange (probe side)
    # but no shuffle Exchange of the scanned bits
    join_to_scan = final[final.index("BroadcastHashJoin"):]
    scan_pos = join_to_scan.index("Scan parquet")
    assert "Exchange hashpartitioning" not in join_to_scan[:scan_pos], (
        "bits table shuffled before the probe join"
    )
    assert re.search(r"BroadcastExchange", final)
    # the probe's known word indexes are pushed into the bits-table
    # scan (parquet row-group min/max skipping), not just joined
    assert re.search(r"PushedFilters: \[[^\]]*In\(w", final), (
        "probe word-set IN filter not pushed to the bits scan"
    )


def test_compact_resize_repairs_saturated_index(spark, tmp_path):
    """The sense→repair loop: build UNDERSIZED (fill > 0.5, the
    dq_bloom_fill_audit saturation verdict), run compact with the
    default resize mode, and the bitmaps rebuild at m_bits_for — fill
    drops below the threshold, probes stay exact (vs the full-table
    filter), and real skipping is restored. Bounds, layout, and rows
    must be untouched."""
    import hashlib
    import warnings

    from nineinfra_spark.operators.bloomindex import (
        bloom_fill_ratios_table,
        bloom_index_compact,
    )

    path = str(tmp_path / "rz")
    df = spark.range(0, 20_000).select(
        (F.col("id") % 64).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the build-time warning fires
        bloom_index_write(df, path, "day", "key", 8, m_bits=512)
    meta0 = read_index_meta(path)
    fills0 = bloom_fill_ratios_table(spark, path)
    assert max(fills0.values()) > 0.5  # the audit's saturation signal
    # saturated: a random absent key hits (nearly) every file
    miss = hashlib.md5(b"absent-key-xyz").hexdigest()
    _, st0 = bloom_skipping_read(spark, path, [miss])
    assert st0["files_hit"] >= st0["files_total"] - 1
    cst = bloom_index_compact(spark, path)
    assert cst["worst_fill"] > 0.5
    assert cst["resized_m_bits"] is not None
    meta1 = read_index_meta(path)
    assert meta1["m_bits"] == cst["resized_m_bits"] > meta0["m_bits"]
    assert meta1["bounds"] == meta0["bounds"]  # grid untouched
    assert meta1["bits_dir"] != meta0["bits_dir"]  # versioned commit
    fills1 = bloom_fill_ratios_table(spark, path)
    assert max(fills1.values()) < 0.5
    # rows untouched, probes exact for present keys, skipping restored
    assert spark.read.parquet(path).count() == 20_000
    for i in (0, 7777, 19_999):
        k = hashlib.md5(str(i).encode()).hexdigest()
        out, st = bloom_skipping_read(spark, path, [k])
        assert [r["payload"] for r in out.collect()] == [i * 3]
        assert st["files_skipped"] > 0
    _, st_miss = bloom_skipping_read(spark, path, [miss])
    assert st_miss["files_hit"] <= 1  # ~1% fp on 8 files
    # second compact: healthy index, no further resize
    cst2 = bloom_index_compact(spark, path)
    assert cst2["resized_m_bits"] is None
    assert cst2["worst_fill"] < 0.5


def test_compact_resize_noop_threshold(spark, tmp_path):
    """Resize disabled via None leaves a saturated index alone, and an
    already right-sized index is never rebuilt (m_bits_for would not
    grow m)."""
    import warnings

    from nineinfra_spark.operators.bloomindex import (
        bloom_fill_ratios_table,
        bloom_index_compact,
    )

    df = spark.range(0, 5_000).select(
        (F.col("id") % 32).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    p_sat = str(tmp_path / "sat")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        meta0 = bloom_index_write(df, p_sat, "day", "key", 4, m_bits=256)
    assert max(bloom_fill_ratios_table(spark, p_sat).values()) > 0.5
    cst0 = bloom_index_compact(spark, p_sat, resize_if_fill_above=None)
    assert cst0["resized_m_bits"] is None and cst0["worst_fill"] > 0.5
    meta1 = read_index_meta(p_sat)
    assert (meta1["m_bits"], meta1["bits_dir"]) == (256, meta0["bits_dir"])
    # right-sized from the start: compact never rebuilds
    p_ok = str(tmp_path / "ok")
    meta_ok = bloom_index_write(df, p_ok, "day", "key", 4)
    cst_ok = bloom_index_compact(spark, p_ok)
    assert cst_ok["resized_m_bits"] is None
    assert read_index_meta(p_ok)["bits_dir"] == meta_ok["bits_dir"]


def test_null_key_cols_replay_dedups_null_keys(spark, tmp_path):
    """The key_cols upsert is NULL-SAFE: a crash-window replay of a
    delta containing NULL-key rows must converge (no duplicates) —
    a plain anti-join would never match the NULL keys and duplicate
    them silently."""
    from nineinfra_spark.operators.bloomindex import (
        _write_sidecar,
        bloom_index_append,
    )

    path = str(tmp_path / "nk")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    delta = spark.range(N, N + 50).select(
        (F.col("id") % 100).alias("day"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.md5(F.col("id").cast("string")))
        .alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_append(spark, path, delta, batch_id=0, key_cols=["key"])
    total = spark.read.parquet(path).count()
    assert total == N + 50
    # crash window: marker rewound, batch re-delivered
    meta = read_index_meta(path)
    del meta["last_batch_id"]
    _write_sidecar(path, meta)
    bloom_index_append(spark, path, delta, batch_id=0, key_cols=["key"])
    after = spark.read.parquet(path)
    assert after.count() == total  # NULL-key rows deduped too
    assert after.filter(F.col("key").isNull()).count() == 10


def test_concurrent_writer_detection_cas(spark, tmp_path):
    """The single-writer contract is fail-fast DETECTED: a writer
    that read the sidecar before another writer's commit must RAISE
    at its own commit point instead of silently replacing the
    sidecar (which would drop the other writer's bits — false
    negatives)."""
    from nineinfra_spark.operators.bloomindex import (
        _guarded_sidecar_write,
        _read_sidecar_raw,
        bloom_index_append,
    )

    path = str(tmp_path / "cas")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    # writer A reads its CAS token
    raw_a = _read_sidecar_raw(path)
    meta_a = read_index_meta(path)
    # writer B commits an append in between
    delta = spark.range(N, N + 40).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_append(spark, path, delta, batch_id=0)
    bits_dir_b = read_index_meta(path)["bits_dir"]
    # writer A's commit must now refuse — not overwrite B's pointer
    meta_a["last_batch_id"] = 99
    with pytest.raises(RuntimeError, match="concurrent maintenance writer"):
        _guarded_sidecar_write(path, meta_a, raw_a)
    after = read_index_meta(path)
    assert after["bits_dir"] == bits_dir_b  # B's commit intact
    assert after["last_batch_id"] == 0
    # a fresh read-then-commit succeeds (the retry path)
    raw2 = _read_sidecar_raw(path)
    meta2 = read_index_meta(path)
    meta2["last_batch_id"] = 1
    _guarded_sidecar_write(path, meta2, raw2)
    assert read_index_meta(path)["last_batch_id"] == 1


def test_resize_respects_index_k(spark, tmp_path):
    """The resize loop sizes with the INDEX's own k, not the module
    default: an undersized k=8 index repairs to its k-aware design
    fill (fp^(1/8) ~= 0.56 — above the flat 0.5 threshold, which the
    effective threshold must therefore also respect), and the repaired
    index is never churned by the next compact."""
    import hashlib
    import warnings

    from nineinfra_spark.operators.bloomindex import (
        bloom_fill_ratios_table,
        bloom_index_compact,
    )

    path = str(tmp_path / "k8")
    df = spark.range(0, 4000).select(
        (F.col("id") % 50).alias("lay"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        bloom_index_write(df, path, "lay", "key", 8, m_bits=512, k=8)
    assert max(bloom_fill_ratios_table(spark, path).values()) > 0.9
    cst = bloom_index_compact(spark, path)
    assert cst["resized_m_bits"] is not None
    eff = 0.01 ** (1.0 / 8)  # k=8 design fill at the 1% fp target
    fill1 = max(bloom_fill_ratios_table(spark, path).values())
    assert fill1 <= eff + 1e-9
    # probes exact, absent keys ~1% fp per file
    k_ = hashlib.md5(b"777").hexdigest()
    out, st = bloom_skipping_read(spark, path, [k_])
    assert out.count() == 1 and st["files_skipped"] > 0
    # a healthy k=8 index at its design fill is NOT churned
    cst2 = bloom_index_compact(spark, path)
    assert cst2["resized_m_bits"] is None


def test_compact_detects_mid_compact_append(spark, tmp_path, monkeypatch):
    """Compact's small-files rewrite replaces whole fid partitions
    from a pre-read snapshot, so an append that commits mid-compact
    would have its rows silently dropped — the touch-commit CAS must
    RAISE instead (and the append side's own CAS covers the mirror
    interleave)."""
    import nineinfra_spark.operators.bloomindex as bi
    from nineinfra_spark.operators.bloomindex import (
        bloom_index_append,
        bloom_index_compact,
    )

    path = str(tmp_path / "mc")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    for i in range(2):  # fragment so compact takes the rewrite branch
        delta = spark.range(N + i * 100, N + (i + 1) * 100).select(
            (F.col("id") % 100).alias("day"),
            F.md5(F.col("id").cast("string")).alias("key"),
            (F.col("id") * 3).alias("payload"),
        )
        bloom_index_append(spark, path, delta, batch_id=i)
    orig = bi._read_sidecar_raw
    state = {"fired": False}

    def hook(p_):
        raw = orig(p_)
        if not state["fired"]:
            state["fired"] = True
            # a concurrent appender commits AFTER compact reads its token
            late = spark.range(N + 200, N + 250).select(
                (F.col("id") % 100).alias("day"),
                F.md5(F.col("id").cast("string")).alias("key"),
                (F.col("id") * 3).alias("payload"),
            )
            bloom_index_append(spark, p_, late, batch_id=2)
        return raw

    monkeypatch.setattr(bi, "_read_sidecar_raw", hook)
    with pytest.raises(RuntimeError, match="concurrent maintenance writer"):
        bloom_index_compact(spark, path)


def test_grace_window_keeps_inflight_probe_readable(spark, tmp_path):
    """The reader's view of the vacuum grace window: a probe that read
    the sidecar just before an append committed still holds the OLD
    bits-dir pointer — after a default compact (which retains the most
    recently superseded dir) that probe must still complete and stay
    exact; only after a FURTHER commit+compact does the old dir
    vacuum."""
    import hashlib

    from nineinfra_spark.operators.bloomindex import (
        bloom_index_append,
        bloom_index_compact,
        bloom_probe_files_table,
    )

    path = str(tmp_path / "gr")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    old_meta = read_index_meta(path)  # the in-flight reader's snapshot
    delta = spark.range(N, N + 100).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_append(spark, path, delta, batch_id=0)
    bloom_index_compact(spark, path)  # grace: old dir retained
    k = hashlib.md5(b"42").hexdigest()  # a seed key the old bitmap holds
    hits_old = bloom_probe_files_table(spark, path, [k], meta=old_meta)
    hits_new = bloom_probe_files_table(spark, path, [k])
    assert hits_old  # old-pointer probe still readable and admits the key
    assert set(hits_old) <= set(hits_new) or hits_old == hits_new
    # two more commit points later the old dir is legitimately gone
    delta2 = spark.range(N + 100, N + 150).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_append(spark, path, delta2, batch_id=1)
    bloom_index_compact(spark, path)
    import os as _os

    assert not _os.path.isdir(_os.path.join(path, old_meta["bits_dir"])) or (
        old_meta["bits_dir"] == read_index_meta(path)["bits_dir"]
    )


def _mixed_probe_groups(present):
    """About 200 probe keys (present and absent str keys, int keys,
    NULLs), shuffled into groups of 40: a handful of present keys
    per group keeps each group's hit set well short of every file, so
    equal fid sets compare the admission rule, not the file count."""
    import random

    keys = (
        list(present)
        + [f"absent-{i}" for i in range(100)]
        + list(range(0, 5000, 100))
        + [None] * 25
    )
    random.Random(7).shuffle(keys)
    return [keys[i : i + 40] for i in range(0, len(keys), 40)]


def test_driver_consult_matches_broadcast_join(spark, indexed, tmp_path):
    """The driver-side consult of a small probe slice admits exactly
    the fids the broadcast-join plan admits — on the fixture index and
    on an index whose bits table was merged by an append."""
    import hashlib

    from nineinfra_spark.operators.bloomindex import (
        _probe_hits_df,
        _probe_hits_local,
        _probe_rows,
        bloom_index_append,
    )

    def md5s(ids):
        return [hashlib.md5(str(i).encode()).hexdigest() for i in ids]

    path, meta, _ = indexed
    appended = str(tmp_path / "ap")
    bloom_index_write(_frame(spark), appended, "day", "key", 8)
    delta = spark.range(N, N + 200).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    bloom_index_append(spark, appended, delta, batch_id=0)
    cases = [
        (path, meta, md5s(range(0, N, 80))),
        (
            appended,
            read_index_meta(appended),
            md5s(range(0, N, 160)) + md5s(range(N, N + 200, 16)),
        ),
    ]
    for p, m, present in cases:
        n_hit = 0
        for keys in _mixed_probe_groups(present):
            want = sorted(r["fid"] for r in _probe_hits_df(spark, p, m, keys).collect())
            got = _probe_hits_local(p, m, _probe_rows(m, keys))
            assert got == want, keys
            assert len(got) < m["n_files"]
            n_hit += len(got)
        assert n_hit > 0


def test_probe_path_follows_broadcast_threshold(spark, indexed, count_jobs):
    """The public table probe consults on the driver (no Spark job)
    while the probe slice fits under autoBroadcastJoinThreshold, takes
    the broadcast-join plan above it, and both return the same fids."""
    import hashlib

    path, _, _ = indexed
    keys = [hashlib.md5(str(i).encode()).hexdigest() for i in (3, 500, 1777)]
    keys += ["absent", None, 12]
    local, local_jobs = count_jobs(
        lambda: bloom_probe_files_table(spark, path, keys)
    )
    assert local_jobs == 0
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        joined, joined_jobs = count_jobs(
            lambda: bloom_probe_files_table(spark, path, keys)
        )
    finally:
        spark.conf.set(conf, old)
    assert joined_jobs > 0
    assert joined == local and 0 < len(local) < N_FILES


def test_small_index_probe_runs_one_job(spark, indexed, count_jobs):
    """A small-index point lookup is one Spark job: the consult runs on
    the driver and the data read declares the sidecar schema, so only
    the pruned read of the hit files is left."""
    import hashlib

    path, _, df = indexed
    key = hashlib.md5(b"42").hexdigest()
    rows, jobs = count_jobs(
        lambda: bloom_skipping_read(spark, path, [key])[0].collect()
    )
    assert jobs == 1
    assert [(r["key"], r["payload"]) for r in rows] == [(key, 126)]


def test_empty_probe_runs_no_job(spark, indexed, count_jobs):
    """A probe that admits no file, and an all-NULL probe, answer from
    an empty frame built on the driver: no Spark job, and the sidecar's
    schema (names, types, nullability)."""
    import json

    from pyspark.sql import types as T

    path, meta, _ = indexed
    miss = next(
        k
        for k in (f"absent-{i}" for i in range(1000))
        if not bloom_probe_files_table(spark, path, [k])
    )
    schema = T.StructType.fromJson(json.loads(meta["schema"]))

    def probe(keys):
        out, stats = bloom_skipping_read(spark, path, keys)
        return out, stats, out.collect()

    for keys in ([miss], [None, None]):
        (out, stats, rows), jobs = count_jobs(lambda: probe(keys))
        assert (jobs, rows, stats["files_hit"]) == (0, [], 0), keys
        assert out.schema == schema


def test_second_write_onto_index_raises_and_leaves_it_unchanged(
    spark, tmp_path
):
    """The build is error-if-exists: writing onto an existing index
    raises before anything lands, so its rows, sidecar and bitmaps are
    exactly as before (an append-mode write would add rows the bits
    table never indexes — false negatives)."""
    from nineinfra_spark.operators.bloomindex import (
        _read_sidecar_raw,
        load_bits,
    )

    path = str(tmp_path / "w")
    df = _frame(spark)
    bloom_index_write(df, path, "day", "key", 4)
    rows0 = sorted(map(tuple, spark.read.parquet(path).collect()))
    raw0, bits0 = _read_sidecar_raw(path), load_bits(spark, path)
    delta = spark.range(N, N + 50).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 3).alias("payload"),
    )
    with pytest.raises(FileExistsError, match="already exists"):
        bloom_index_write(delta, path, "day", "key", 4)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows0
    assert _read_sidecar_raw(path) == raw0
    assert load_bits(spark, path) == bits0


def test_refused_write_runs_no_job_and_names_the_way_out(
    spark, tmp_path, count_jobs
):
    """The existing-path check comes before the pin and the bounds
    aggregate: the refused write runs no Spark job, and its message
    points at ``bloom_index_append`` or removing the directory (not at
    a save mode the function does not have)."""
    path = str(tmp_path / "w")
    bloom_index_write(_frame(spark), path, "day", "key", 4)

    def refused():
        with pytest.raises(FileExistsError) as ei:
            bloom_index_write(_frame(spark), path, "day", "key", 4)
        return str(ei.value)

    msg, jobs = count_jobs(refused)
    assert jobs == 0
    assert "bloom_index_append" in msg and "remove the directory" in msg
    assert "overwrite" not in msg


def test_sidecar_without_bits_table_is_refused(spark, tmp_path):
    """A sidecar lacking the ``"bits_storage": "table"`` marker (an
    index with its bitmaps inlined in the sidecar) is refused with the
    rebuild message by the probe, append and compact entry points —
    never a KeyError on the missing bits pointer."""
    import json

    from nineinfra_spark.operators.bloomindex import (
        bloom_index_append,
        bloom_index_compact,
    )

    path = tmp_path / "old"
    path.mkdir()
    (path / "_bloomindex.json").write_text(
        json.dumps(
            {
                "layout_col": "day",
                "key_col": "key",
                "n_files": 4,
                "m_bits": 64,
                "k": 4,
                "bounds": [0.0, 99.0],
                "schema": _frame(spark).schema.json(),
                "enc": "b64",
                "bits": {"0": "AQ=="},
            }
        )
    )
    rebuild = "rebuild it with bloom_index_write"
    with pytest.raises(ValueError, match=rebuild):
        bloom_skipping_read(spark, str(path), ["k"])
    with pytest.raises(ValueError, match=rebuild):
        bloom_index_append(spark, str(path), _frame(spark), batch_id=0)
    with pytest.raises(ValueError, match=rebuild):
        bloom_index_compact(spark, str(path))


def test_skipping_read_probes_through_module_attribute(
    spark, indexed, monkeypatch
):
    """``bloom_skipping_read`` consults the bitmaps through the
    module-level ``bloom_probe_files_table``, exactly once: the seam a
    tracer wraps to time the consult. A refactor that calls a private
    helper instead would silently empty that timing."""
    import hashlib

    from nineinfra_spark.operators import bloomindex

    calls = []
    real = bloomindex.bloom_probe_files_table

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(bloomindex, "bloom_probe_files_table", counting)
    path, _, _ = indexed
    bloomindex.bloom_skipping_read(
        spark, path, [hashlib.md5(b"42").hexdigest()]
    )
    assert len(calls) == 1


def test_keyed_append_job_count(spark, tmp_path, count_jobs):
    """A keyed append of a small delta runs 11 Spark jobs: discovery,
    the bits merge and write, then the upsert rewrite, with their AQE
    stages. No aggregate re-reads the two bits tables for a stat."""
    from nineinfra_spark.operators.bloomindex import bloom_index_append

    path = str(tmp_path / "jobs")
    bloom_index_write(_frame(spark), path, "day", "key", 8)
    delta = spark.range(N - 100, N + 100).select(
        (F.col("id") % 100).alias("day"),
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.col("id") * 5).alias("payload"),
    )
    stats, jobs = count_jobs(
        lambda: bloom_index_append(spark, path, delta, key_cols=["key"])
    )
    assert stats == {"rows_appended": 200, "files_touched": 8}
    assert jobs == 11
    assert spark.read.parquet(path).count() == N + 100
