"""Per-file Bloom index: point-lookup file skipping on a secondary key.

Min-max envelopes (``operators/zorder.py``) skip files for RANGE
predicates on the clustered columns; they are useless for a point
lookup on a HIGH-CARDINALITY column the layout wasn't built on (a
``doc_id``/``content_hash`` probe against a date-laid-out table reads
every file — each file's [min, max] spans the whole key space). The
lakehouse answer is a per-file Bloom filter (Delta's ``BLOOM FILTER
INDEX``, parquet's own column bloom filters): a few bytes of bitmap
per file that answer "might this file contain key X?" with no false
NEGATIVES — so skipping stays exact — and a bounded false-positive
rate that only costs extra file reads. The reference platform
provisions the object store these tables live on
(``internal/controller/minio.go:286-319``); the index semantics are
native here, over plain parquet + a ``_bloomindex.json`` sidecar.

Determinism contract: the bit positions derive from the md5-based
``stable_hash64`` family (``nineinfra_spark.functions``) — engine-
portable integer arithmetic, so an external engine (or the DuckDB
oracle) recomputes the same bitmaps from the data alone, and a
rebuilt index over the same rows is byte-identical.

Scale posture:

- **build**: one bounds aggregate on the layout column + one hash
  exchange on the file id + the write; the bitmap aggregation is one
  map-side-combined ``(fid, bit)`` distinct — output bounded by
  ``n_files × m_bits``, index-sized (the same "bytes per file" budget
  real bloom indexes spend). Nothing corpus-sized reaches the driver.
- **bitmap storage**: one form. The bitmaps live as a parquet
  ``(fid, word-index, 63-bit word)`` INDEX TABLE under the data
  directory — the same shape as the dedup band index — built and
  merged entirely Spark-side, so at the 4096-file ceiling
  :func:`bloom_index_write` enforces (≈ 5 GB of packed bitmap at 1M
  keys per file) the bitmap set never becomes a driver-resident
  object. The tiny JSON sidecar holds only the grid contract (bounds,
  sizes, schema, replay marker) plus a pointer to the current bits
  table, marked ``"bits_storage": "table"``; a sidecar without that
  marker (an old all-in-sidecar index) is refused with a rebuild
  message by every entry point.
- **probe**: a probe needs only the bits-table rows of the words its
  keys hash to — ``n_files`` × distinct probed words rows of 16 B.
  When that slice fits under the session's
  ``spark.sql.autoBroadcastJoinThreshold``, the driver reads just
  those rows from the bits-table parquet (pyarrow, no Spark job);
  otherwise the probe keys' ``(position → word, mask)`` pairs
  (len(keys) × k rows, tiny) are BROADCAST against the bits table.
  Admission is the same on both paths: all k distinct hash positions
  set, per (fid, key); output is fid ids, file-count-bounded.
  Surviving files are read via PARTITION PRUNING (``fid`` is a
  partition column), so skipped files are never opened, and the
  residual exact filter runs only over the hit files.

NULL keys are never indexed and never probe-able (SQL equality on
NULL matches nothing) — same semantics as a filter, not a gap.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nineinfra_spark.operators import _grid_upsert, _sidecar

_SIDECAR = "_bloomindex.json"

#: key-column types whose Spark ``cast('string')`` rendering is
#: IDENTICAL to Python's ``str()`` — the property that keeps the
#: driver-side probe hashing (:func:`_positions_py`) bit-compatible
#: with the build's column expression (:func:`_positions`). Boolean
#: (``true`` vs ``True``), floating point (``1.0E10`` vs
#: ``10000000000.0``), decimal, and date/timestamp renderings all
#: diverge between the engines, which would turn into Bloom false
#: NEGATIVES (silently dropped probe rows) — so they are refused at
#: build time; cast such keys to string explicitly first.
_KEY_TYPE_NAMES = ("string", "tinyint", "smallint", "int", "bigint")

#: default bits per file bitmap (2^13 = 8192 bits = 1 KiB packed) and
#: hash-function count. With k=4 the false-positive rate is
#: ``fill_ratio^4``, and ~1% FP needs ≈ 10.5 bits/key — so the
#: default suits ≤ ~800 keys/file. Size real tables with
#: :func:`m_bits_for`; an undersized bitmap SATURATES (fill → 1.0,
#: every file hits, skipping degrades to a full scan — still exact,
#: never wrong) and :func:`bloom_index_write` warns when it happens.
M_BITS = 8192
K_HASHES = 4


def m_bits_for(keys_per_file: int, fp: float = 0.01, k: int = K_HASHES) -> int:
    """Bitmap size for a target false-positive rate at ``k`` hashes
    (default 4): solve ``fp = fill^k`` with ``fill = 1 − e^(−k·n/m)``.
    Rounded up to a multiple of 64. At the k=4/1% default this is
    ≈ 10.5 bits/key — a 1M-key file costs ~1.3 MB of packed bitmap.
    Pass the INDEX's own ``k`` when sizing an existing index (the
    resize loop does) — the 4-hash formula under-sizes a k>4 index,
    leaving its fill above threshold forever."""
    import math

    if keys_per_file < 1:
        return M_BITS
    if not 0 < fp < 1:
        raise ValueError(f"fp must be in (0, 1), got {fp}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    fill = fp ** (1.0 / k)
    m = math.ceil(-k * keys_per_file / math.log(1.0 - fill))
    return ((m + 63) // 64) * 64


#: usable bits per signed-long word in the table-backed bitmap
#: encoding — 63 keeps every shift amount ≤ 62, portable to engines
#: that refuse ``1 << 63`` (the DuckDB convention the repo's bitmap
#: operators share).
WORD_BITS = 63

_BITS_TABLE = "_bloomindex_bits"  # initial bits-table dir (appends version it)

#: the bits table's columns, declared on every read: inferring them
#: from the parquet footers costs a Spark job per read
BITS_SCHEMA = "fid int, w int, word bigint"

#: bytes per bits-table row (fid + w + word) in the probe-slice size
#: estimate that picks the driver or the broadcast-join consult
_BITS_ROW_BYTES = 16


def _read_bits(spark: SparkSession, path: str, bits_dir: str) -> DataFrame:
    return spark.read.schema(BITS_SCHEMA).parquet(os.path.join(path, bits_dir))


def _data_schema(meta: dict):
    """The table's schema as the sidecar stores it, plus the ``fid``
    partition column — declared on data reads for the same reason as
    :data:`BITS_SCHEMA`, and it also reads an index with no data files
    (an empty build writes none)."""
    from pyspark.sql import types as T

    return _grid_upsert.declared_schema(meta["schema"], "fid", T.IntegerType())


def _fid_expr(layout_col: str, lo: float, hi: float, n_files: int):
    """The file id of a row: ``floor((layout − lo) / span · n_files)``
    over the frozen bounds, clamped to ``0..n_files-1``; a NULL layout
    value goes to file 0."""
    span = (hi - lo) or 1.0
    return F.coalesce(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_files - 1),
                F.floor(
                    (F.col(layout_col).cast("double") - F.lit(lo))
                    / F.lit(span)
                    * n_files
                ).cast("int"),
            ),
        ),
        F.lit(0),
    )


def _n_data_files(fid_dir: str) -> int:
    return sum(
        1
        for f in os.listdir(fid_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _words_df(pairs: DataFrame, word_bits: int = WORD_BITS) -> DataFrame:
    """``(fid, bit)`` pairs (duplicates welcome — ``bit_or`` dedups
    for free, so callers skip the extra distinct exchange) → the
    ``(fid, w, word)`` bitmap words of the table-backed encoding.
    Map-side-combined aggregation; output ≤ n_files ×
    ceil(m_bits / word_bits) rows — index-sized, fully distributed."""
    return (
        pairs.select(
            "fid",
            F.floor(F.col("bit") / word_bits).cast("int").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {word_bits} AS INT))"
            ).alias("m"),
        )
        .groupBy("fid", "w")
        .agg(F.bit_or("m").alias("word"))
    )


def load_bits(spark: SparkSession, path: str) -> dict[int, set[int]]:
    """fid → set(bit) — a driver-side materializer for tests and
    small-index introspection only (it is exactly the driver-resident
    object the bits table exists to avoid; never call it on a
    production-sized index)."""
    meta = read_index_meta(path)
    wb = meta.get("word_bits", WORD_BITS)
    out: dict[int, set[int]] = {}
    rows = _read_bits(spark, path, meta["bits_dir"]).collect()
    for r in rows:
        s = out.setdefault(r["fid"], set())
        word, base = r["word"], r["w"] * wb
        for b in range(wb):
            if (word >> b) & 1:
                s.add(base + b)
    return out


def bloom_fill_ratios_table(spark: SparkSession, path: str) -> dict[int, float]:
    """Per-file bitmap fill ratio (set bits / m_bits) — one popcount
    aggregation over the bits table (never materializes bitmaps on
    the driver). The expected false-positive rate per file is
    ``fill^k`` — fills past ~0.5 mean the bitmap is undersized for the
    file's key count (:func:`bloom_index_compact` resizes it)."""
    meta = read_index_meta(path)
    m = meta["m_bits"]
    bits = _read_bits(spark, path, meta["bits_dir"])
    return {
        r["fid"]: r["nb"] / m
        for r in bits.groupBy("fid")
        .agg(F.sum(F.bit_count("word")).alias("nb"))
        .collect()
    }


def _hash_expr(col, salt: str):
    """60-bit non-negative md5 hash — the engine-portable family of
    ``functions.stable_hash64``, inlined so the salt composes with the
    Bloom hash index."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def _positions(col, m_bits: int, k: int):
    """The k bit positions of one key value (array<bigint>)."""
    return F.array(
        *[_hash_expr(col, f"bloom{j}/") % m_bits for j in range(k)]
    )


def _render_key(value) -> str:
    """Canonical probe-key rendering — the driver-side twin of the
    build's ``cast('string')``. Only ``str`` and ``int`` render
    identically on both sides (see ``_KEY_TYPE_NAMES``); anything else
    — including ``bool``, whose Python rendering is ``True`` where
    Spark says ``true`` — is refused rather than silently hashed to a
    divergent bit position (a false NEGATIVE, breaking exactness)."""
    if isinstance(value, str):
        return value
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    raise TypeError(
        f"bloom probe keys must be str or int (got {type(value).__name__}"
        f" {value!r}); other types render differently in Spark's "
        f"cast('string') vs Python str() and would produce false "
        f"negatives — cast the key column and the probe to string"
    )


def _check_key_type(df: DataFrame, key_col: str) -> None:
    dt = df.schema[key_col].dataType.simpleString()
    if dt not in _KEY_TYPE_NAMES:
        raise ValueError(
            f"bloom index key column {key_col!r} has type {dt}; only "
            f"{_KEY_TYPE_NAMES} render identically in Spark and on the "
            f"driver (boolean/double/decimal/timestamp renderings "
            f"diverge → false negatives) — cast it to string first"
        )


def _positions_py(value, m_bits: int, k: int) -> list[int]:
    """Driver-side twin of :func:`_positions` for probe keys — must
    stay bit-identical to the column expression (pinned by
    tests/test_bloomindex.py::test_probe_positions_match_column_expr).
    Keys go through :func:`_render_key`, which refuses any type whose
    Python rendering diverges from Spark's ``cast('string')``."""
    import hashlib

    rendered = _render_key(value)
    out = []
    for j in range(k):
        h = hashlib.md5(f"bloom{j}/{rendered}".encode()).hexdigest()[:15]
        out.append(int(h, 16) % m_bits)
    return out


def _write_sidecar(path: str, meta: dict) -> None:
    _sidecar.write(path, _SIDECAR, meta)


def _read_sidecar_raw(path: str) -> str:
    return _sidecar.read_raw(path, _SIDECAR)


def _load_meta(path: str) -> tuple[str, dict]:
    """The sidecar's raw text (the CAS token of the maintenance
    commits) and its parsed contract. Every entry point reads the
    sidecar here, so this is the one place a sidecar without the
    bits-table marker — an old index with its bitmaps inlined in the
    sidecar — is refused."""
    raw = _read_sidecar_raw(path)
    meta = json.loads(raw)
    if meta.get("bits_storage") != "table":
        raise ValueError(
            f"bloom index {path!r} has no bits table (its sidecar lacks "
            f'"bits_storage": "table"); rebuild it with bloom_index_write'
        )
    return raw, meta


def read_index_meta(path: str) -> dict:
    """The index contract of a :func:`bloom_index_write` directory."""
    return _load_meta(path)[1]


def _guarded_sidecar_write(path: str, meta: dict, expected_raw: str) -> str:
    """Optimistic-CAS sidecar commit for the maintenance paths
    (append / compact / resize) — the shared protocol in
    ``operators/_sidecar.py``: a racing writer raises instead of
    silently replacing the other's bits pointer (false negatives)."""
    return _sidecar.guarded_write(
        path, _SIDECAR, meta, expected_raw, "bloom index"
    )


def bloom_index_write(
    df: DataFrame,
    path: str,
    layout_col: str,
    key_col: str,
    n_files: int,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> dict:
    """Write ``df`` as ``n_files`` range-bucketed parquet files on
    ``layout_col`` (partition column ``fid``), plus a per-file Bloom
    bitmap over ``key_col``.

    The file id is ``floor((layout − lo) / span · n_files)`` against
    the frozen [lo, hi] bounds — deterministic (an oracle recomputes
    the same assignment; same device as the z-order grid), clamped at
    the edges so out-of-range values land in the boundary files. Rows
    with a NULL ``layout_col`` go to file 0 (they must live
    somewhere deterministic; their keys are still indexed).

    The bitmaps are a parquet ``(fid, w, word)`` table under
    ``_bloomindex_bits``, built Spark-side; the JSON sidecar carries
    only the grid contract and the table pointer.

    ``path`` must not exist: a second write onto an index raises
    ``FileExistsError`` before any job runs (remove the directory to
    rebuild; :func:`bloom_index_append` extends one).

    Returns the sidecar dict."""
    if not 1 <= n_files <= 4096:
        raise ValueError(f"n_files must be in 1..4096, got {n_files}")
    if m_bits < 8 or k < 1:
        raise ValueError(f"need m_bits >= 8 and k >= 1, got {m_bits}/{k}")
    for c in (layout_col, key_col):
        if c not in df.columns:
            raise ValueError(f"bloom_index_write: column {c!r} not in frame")
    if "fid" in df.columns:
        raise ValueError(
            "bloom_index_write: column 'fid' is reserved for the file-id "
            "partition column — rename it first"
        )
    _check_key_type(df, key_col)
    if os.path.exists(path):
        raise FileExistsError(
            f"bloom_index_write: {path!r} already exists; extend an index "
            "with bloom_index_append, or remove the directory to rebuild it"
        )
    # pin ONCE: the bounds aggregate, the parquet write, and the
    # bitmap aggregation below are three separate actions — a
    # non-deterministic source (a sample, a changing view) recomputed
    # between them yields bitmaps missing keys the files hold: false
    # NEGATIVES (the zorder_layout_append lesson, applied to the
    # build path too). LAZY checkpoint (r17): the bounds aggregate
    # right below is the materializing action, so the pin costs no
    # extra job (localCheckpoint materializes exactly once; eager vs
    # lazy changes only WHEN).
    df = df.localCheckpoint(eager=False)
    stats = df.agg(
        F.min(F.col(layout_col).cast("double")).alias("lo"),
        F.max(F.col(layout_col).cast("double")).alias("hi"),
    ).first()
    lo, hi = stats["lo"], stats["hi"]
    if lo is None or hi is None:
        lo, hi = 0.0, 0.0  # empty / all-NULL layout: single-cell grid
    tagged = df.withColumn("fid", _fid_expr(layout_col, lo, hi, n_files))
    tagged_w = tagged.repartition(n_files, "fid")
    tagged_w.write.partitionBy("fid").parquet(path)
    # bitmap build: (fid, bit) pairs → one map-side-combined aggregate
    # (bit_or dedups on its own — an explicit distinct would add a
    # second full exchange for nothing); ≤ n_files × m_bits rows ever
    # shuffle. A NULL key hashes to an ARRAY OF
    # NULLS (not a null array), so explode emits null bits — filtered
    # here so null keys are never indexed (the word aggregation would
    # propagate them).
    #
    # Parallelism gate (r17, guide §2.5/§6.1): a single-file source
    # pins the checkpoint to ONE partition, which made the k·|rows|
    # md5 evaluations of the position expressions a single-task stage
    # (0.65 s of the sf0.1 build). When the pinned blocks are narrower
    # than the cluster, route the bitmap scan through the same
    # fid-keyed repartition the data write already needs (one small
    # re-exchange of the pinned blocks buys k-way × cores md5
    # parallelism); a real corpus (partitions ≥ cores) keeps the
    # natural partitioning and pays NO exchange on the bitmap side.
    ckpt_parts = df.rdd.getNumPartitions()
    par = df.sparkSession.sparkContext.defaultParallelism
    bits_src = tagged_w if ckpt_parts < min(par, n_files) else tagged
    bits_pairs = bits_src.select(
        "fid",
        F.explode(_positions(F.col(key_col), m_bits, k)).alias("bit"),
    ).filter(F.col("bit").isNotNull())
    meta = {
        "layout_col": layout_col,
        "key_col": key_col,
        "n_files": n_files,
        "m_bits": m_bits,
        "k": k,
        "bounds": [lo, hi],
        # data schema (sans fid): an EMPTY table writes no parquet
        # files at all, so the probe path needs a schema source that
        # is not the files
        "schema": df.schema.json(),
    }
    # the bitmaps never leave the cluster: words written directly as
    # the parquet index table, sized ~one file per 64 fids
    (
        _words_df(bits_pairs)
        .repartition(max(1, n_files // 64), "fid")
        .write.parquet(os.path.join(path, _BITS_TABLE))
    )
    meta["bits_storage"] = "table"
    meta["bits_dir"] = _BITS_TABLE
    meta["word_bits"] = WORD_BITS
    _write_sidecar(path, meta)
    worst = max(
        bloom_fill_ratios_table(df.sparkSession, path).values(), default=0.0
    )
    if worst > 0.5:
        import warnings

        warnings.warn(
            f"bloom_index_write({path!r}): worst bitmap fill ratio is "
            f"{worst:.2f} — expected false-positive rate "
            f"{worst ** k:.0%} per file; skipping will degrade toward a "
            f"full scan (still exact). Resize with m_bits_for(keys_per_"
            f"file) and rebuild.",
            UserWarning,
            stacklevel=2,
        )
    return meta


def bloom_index_append(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    batch_id: int | None = None,
    key_cols: Sequence[str] | None = None,
) -> dict:
    """Incremental maintenance: append ``delta`` to a
    :func:`bloom_index_write` directory, extending the per-file
    bitmaps. The delta's file ids come from the sidecar's FROZEN
    layout bounds (same grid as the original build — the zorder
    frozen-bounds device), so out-of-range drift clamps into the edge
    files and existing files' bitmaps stay valid.

    With ``key_cols`` the data step is the frozen-grid upsert of
    ``operators/_grid_upsert.py``, whose module docstring states the
    protocol: pin, discovery, NULL-key collapse, replay convergence,
    single writer and lineage break. What is Bloom's own is the
    ordering, in three steps:

    1. **bits first** (marker untouched): the delta's words are OR-ed
       into a fresh versioned bits table and the sidecar pointer
       commits. Bloom bits only ever gain, so a crash after this step
       leaves a SUPERSET bitmap over the committed rows — pure false
       positives; the reverse order would leave appended keys missing
       from the bitmap: false NEGATIVES, silently dropped rows.
    2. **data second**: with ``key_cols``, the upsert rewrite of the
       touched fid partitions; without, a blind append of new files.
    3. **replay marker last**: ``last_batch_id`` commits only after
       the data, so a crashed append re-runs on restart; the bits
       re-merge is a monotone no-op. Without ``key_cols`` a crash
       between data and marker duplicates the batch's rows on replay.

    Every sidecar commit is CAS-guarded (:func:`_guarded_sidecar_write`),
    so a racing appender raises instead of silently dropping the other
    writer's bits (a false-negative class).

    Returns ``{"rows_appended", "files_touched"}``
    (``"skipped_replay": True`` when the marker short-circuits)."""
    raw, meta = _load_meta(path)  # raw: CAS token for the sidecar commits
    if batch_id is not None:
        last = meta.get("last_batch_id")
        if last is not None and batch_id <= last:
            return {
                "rows_appended": 0,
                "files_touched": 0,
                "skipped_replay": True,
            }
    n_files, m_bits, k = meta["n_files"], meta["m_bits"], meta["k"]
    schema = _data_schema(meta)
    fid = _fid_expr(meta["layout_col"], *meta["bounds"], n_files)
    # dirty fids come from the ROWS, not the bits: NULL-key rows carry
    # no bits but still land in (and, under key_cols, rewrite) files
    staged = _grid_upsert.stage(
        "bloom_index_append", delta, schema, "fid", fid, key_cols
    )
    _check_key_type(staged.delta, meta["key_col"])
    delta_pairs = staged.delta.select(
        "fid",
        F.explode(
            _positions(F.col(meta["key_col"]), m_bits, k)
        ).alias("bit"),
    ).filter(F.col("bit").isNotNull())  # null keys are never indexed
    # Spark-side merge: old words ∪ delta words, bit_or per
    # (fid, w) — index-sized, nothing bitmap-shaped on the driver.
    # The merged table lands under a FRESH versioned dir; the
    # sidecar replace below is the atomic commit point (stale
    # versions are vacuumed by bloom_index_compact, not here — an
    # in-flight probe may still hold the old pointer).
    merged = (
        _read_bits(spark, path, meta["bits_dir"])
        .unionByName(_words_df(delta_pairs, meta.get("word_bits", WORD_BITS)))
        .groupBy("fid", "w")
        .agg(F.bit_or("word").alias("word"))
    )
    new_dir = f"{_BITS_TABLE}_{uuid.uuid4().hex[:8]}"
    (
        merged.repartition(max(1, n_files // 64), "fid")
        .write.parquet(os.path.join(path, new_dir))
    )
    meta["bits_dir"] = new_dir
    # step 1: bits BEFORE data, the marker deliberately not in it
    raw = _guarded_sidecar_write(path, meta, raw)
    # step 2: the data
    if staged.dirty and key_cols:
        _grid_upsert.rewrite(
            spark, path, schema, "fid", staged.dirty,
            staged.delta, key_cols, staged.null_keys,
        )
    elif staged.dirty:
        (
            staged.delta.repartition(len(staged.dirty), "fid")
            .write.mode("append")
            .partitionBy("fid")
            .parquet(path)
        )
    # step 3: replay marker AFTER the data
    if batch_id is not None:
        meta["last_batch_id"] = batch_id
        _guarded_sidecar_write(path, meta, raw)
    return {"rows_appended": staged.rows, "files_touched": len(staged.dirty)}


def maintain_bloom_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str] | None = None,
    trigger_available_now: bool = False,
):
    """Continuous ingest for a bloom-indexed table: a Structured
    Streaming sink that merges every micro-batch through
    :func:`bloom_index_append` — the point-lookup index stays fresh
    WHILE the table ingests, the sibling of
    ``zorder.maintain_layout_stream`` (range skipping) and the
    dedup-index/rollup maintainers (managed tables).

    Exactly-once: Spark's checkpoint replays the last batch after a
    restart; the append's ``last_batch_id`` marker (committed AFTER
    the data) skips batches the index already holds, and ``key_cols``
    (recommended) closes the one data-committed/marker-unwritten
    crash window by upsert-dedup — proven through Spark's REAL
    checkpoint recovery in tests/test_bloomindex.py (delete the last
    ``commits/`` entry, restart, batch re-delivered, no duplication).

    ONE stream per index (single ``last_batch_id``) — fan sources
    into one stream rather than racing appenders. Returns the started
    ``StreamingQuery``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        bloom_index_append(
            batch_df.sparkSession,
            path,
            batch_df,
            batch_id=batch_id,
            key_cols=key_cols,
        )

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bloom_index_compact(
    spark: SparkSession,
    path: str,
    resize_if_fill_above: float | None = 0.5,
    fp_target: float = 0.01,
    retain_latest_bits_dir: bool = True,
) -> dict:
    """Post-append maintenance: each :func:`bloom_index_append` adds
    one file per touched ``fid`` partition, so a long-running ingest
    degrades a fid into many small files (the classic small-files
    tax). Rewrite every MULTI-file fid back to one file — the row set
    is identical, so the bitmaps need no change and probes stay exact
    throughout.

    The rewrite is the frozen-grid rewrite of
    ``operators/_grid_upsert.py`` with no delta: cost tracks the
    fragmented fids only, and untouched partitions are never opened.

    Compaction is also the VACUUM point for the bits table: each
    append commits a fresh versioned bits table and leaves the
    prior version on disk (an in-flight probe may still hold the old
    pointer — the same reader-race posture as the merge archives), so
    stale versions accumulate until this maintenance pass removes
    them. The single most RECENTLY superseded dir is retained by
    default (``retain_latest_bits_dir``): a probe that read the
    sidecar just before the append that superseded it can still be
    scanning that dir when compact runs — anything older has already
    survived two commit points and is safe to drop. Pass ``False``
    only when no probe can be in flight.

    **Resize (the sense→repair loop)**: an undersized bitmap
    SATURATES as keys accumulate (fill → 1.0, expected false-positive
    rate fill^k → 1, skipping degrades toward a full scan — still
    exact, never wrong). ``bloom_index_write`` warns at build time and
    the ``dq_bloom_fill_audit`` query detects it in an existing index;
    this is the repair: when the WORST per-file fill exceeds
    ``resize_if_fill_above`` (default 0.5, the build-warning
    threshold), the bitmaps are REBUILT from the data at
    ``m_bits_for(max per-file distinct keys, fp_target)`` — bounds,
    layout, and rows untouched, only the bitmap geometry changes,
    committed by the same atomic sidecar replace (the new bits land in
    a versioned dir), so in-flight probes keep a consistent
    (m_bits, bits) pair whichever sidecar they read. Pass ``None`` to
    disable. Mirrors the z-order family's OPTIMIZE loop.

    Returns ``{"fids_compacted", "files_before", "files_after",
    "bits_dirs_vacuumed", "worst_fill", "resized_m_bits"}``
    (``resized_m_bits`` is None when no resize ran).

    SAME single-writer maintenance lane as :func:`bloom_index_append`:
    compact must not run concurrently with appends — its small-files
    rewrite replaces whole fid partitions from a pre-read snapshot, so
    a mid-compact append's rows would be silently dropped from the
    rewritten fids. The violation is fail-fast DETECTED both ways: the
    rewrite ends with a CAS touch-commit of the sidecar, which raises
    here if an append committed mid-compact, and trips the APPEND's
    own CAS if one is still in flight. Both directions are
    unconditional: every guarded commit bumps the sidecar's
    ``_cas_rev`` field (so even a payload-identical touch-commit — or
    an append whose delta added zero new bits — changes the bytes a
    stale token is compared against), and same-host commits serialize
    under an flock held across the whole read-check-replace
    (``operators/_sidecar.py``)."""
    import shutil

    raw, meta0 = _load_meta(path)  # raw: CAS token, catches mid-compact appends
    ref = meta0["bits_dir"]
    stale = [
        d
        for d in os.listdir(path)
        if d.startswith(_BITS_TABLE)
        and d != ref
        and os.path.isdir(os.path.join(path, d))
    ]
    if retain_latest_bits_dir and stale:
        stale.remove(
            max(stale, key=lambda d: os.path.getmtime(os.path.join(path, d)))
        )
    vacuumed = 0
    for d in stale:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        vacuumed += 1
    n_data = {
        f: _n_data_files(d)
        for f, d in _grid_upsert.partition_dirs(path, "fid").items()
    }
    files_before = sum(n_data.values())
    frag = sorted(f for f, n in n_data.items() if n > 1)
    if frag:
        # the frozen-grid rewrite with no delta: one file per fid again
        _grid_upsert.rewrite(spark, path, _data_schema(meta0), "fid", frag)
        files_after = sum(
            _n_data_files(d)
            for d in _grid_upsert.partition_dirs(path, "fid").values()
        )
        # touch-commit: raises if a maintenance writer committed while
        # the rewrite ran (its rows were just dropped from the
        # rewritten fids — surface the lost update instead of hiding
        # it), and trips an in-flight append's own CAS symmetrically
        raw = _guarded_sidecar_write(path, meta0, raw)
    else:
        files_after = files_before
    worst_fill, resized = _maybe_resize(
        spark, path, resize_if_fill_above, fp_target
    )
    return {
        "fids_compacted": len(frag),
        "files_before": files_before,
        "files_after": files_after,
        "bits_dirs_vacuumed": vacuumed,
        "worst_fill": worst_fill,
        "resized_m_bits": resized,
    }


def _maybe_resize(
    spark: SparkSession,
    path: str,
    fill_threshold: float | None,
    fp_target: float,
) -> tuple[float, int | None]:
    """The repair half of the bloom sense→repair loop (see
    :func:`bloom_index_compact`): measure the worst per-file fill and,
    past the threshold, rebuild the bitmaps FROM THE DATA at
    ``m_bits_for(max per-file distinct keys, fp_target)``. Only the
    bitmap geometry changes — bounds, layout, rows, and the replay
    marker are carried over verbatim; the atomic sidecar replace is
    the commit point (the bits land in a fresh versioned dir first,
    the append protocol's reader-race posture)."""
    raw, meta = _load_meta(path)  # raw: CAS token for the sidecar commit
    worst = max(bloom_fill_ratios_table(spark, path).values(), default=0.0)
    if fill_threshold is None:
        return worst, None
    # k-aware effective threshold: the DESIGN fill for fp_target at k
    # hashes is fp^(1/k) (0.32 at k=4, 0.56 at k=8) — a correctly
    # sized high-k index sits just under it, so a flat 0.5 would trip
    # the resize check forever on k>=7 geometries that cannot be
    # improved at this fp_target
    eff = max(fill_threshold, fp_target ** (1.0 / meta["k"]))
    if worst <= eff or not _grid_upsert.partition_dirs(path, "fid"):
        return worst, None
    key_col, k = meta["key_col"], meta["k"]
    # no localCheckpoint pin here: the parquet files are immutable
    # during maintenance (single writer, and compact's own rewrite is
    # already done), so the sizing aggregate and the pairs build may
    # scan twice — pinning would materialize the WHOLE table for a
    # bitmap rebuild, the wrong trade at 100 TB
    data = spark.read.schema(_data_schema(meta)).parquet(path)
    max_keys = (
        data.filter(F.col(key_col).isNotNull())
        .groupBy("fid")
        .agg(F.count_distinct(key_col).alias("nk"))
        .agg(F.max("nk"))
        .first()[0]
        or 0
    )
    m_new = m_bits_for(max_keys, fp_target, k)
    if m_new <= meta["m_bits"]:
        # fill is high but the geometry is already at (or past) the
        # target size — rebuilding at the same m cannot lower it
        return worst, None
    pairs = data.select(
        "fid", F.explode(_positions(F.col(key_col), m_new, k)).alias("bit")
    ).filter(F.col("bit").isNotNull())
    meta["m_bits"] = m_new
    new_dir = f"{_BITS_TABLE}_{uuid.uuid4().hex[:8]}"
    (
        _words_df(pairs, meta.get("word_bits", WORD_BITS))
        .repartition(max(1, meta["n_files"] // 64), "fid")
        .write.parquet(os.path.join(path, new_dir))
    )
    meta["bits_dir"] = new_dir
    _guarded_sidecar_write(path, meta, raw)
    return worst, m_new


def bloom_probe_files_table(
    spark: SparkSession, path: str, keys: Sequence, meta: dict | None = None
) -> list[int]:
    """File ids that MIGHT contain any of ``keys`` (no false
    negatives; false positives bounded by the bitmap geometry); NULL
    keys match nothing, like SQL equality. The consult needs only the
    probed words' rows of the bits table, ``n_files`` × distinct
    probed words × 16 B: under the session's
    ``spark.sql.autoBroadcastJoinThreshold`` the driver reads just
    those rows (:func:`_probe_hits_local`, no Spark job); above it the
    probe keys' ``(word, mask)`` pairs are BROADCAST against the bits
    table (:func:`_probe_hits_df`), which never moves and never
    reaches the driver. The output is fid ids, file-count-bounded.
    ``meta`` is the index contract as :func:`read_index_meta` returns
    it (read from ``path`` when omitted)."""
    if meta is None:
        meta = read_index_meta(path)
    rows = _probe_rows(meta, keys)
    if not rows:
        return []
    n_words = len({r[2] for r in rows})
    # the session's threshold as Spark itself parses it (byte units,
    # -1 = broadcast off, which sends every probe to the join)
    threshold = (
        spark._jsparkSession.sessionState()  # noqa: SLF001
        .conf()
        .autoBroadcastJoinThreshold()
    )
    if meta["n_files"] * n_words * _BITS_ROW_BYTES <= threshold:
        return _probe_hits_local(path, meta, rows)
    hits = _probe_hits_df(spark, path, meta, keys)
    return sorted(r["fid"] for r in hits.collect())


def _probe_rows(meta: dict, keys: Sequence) -> list[tuple[str, int, int, int]]:
    """``(pkey, j, w, m)`` for every non-null probe key and hash
    function ``j``: the word index ``w`` and bit mask ``m`` of the
    key's j-th position."""
    m_bits, k = meta["m_bits"], meta["k"]
    wb = meta.get("word_bits", WORD_BITS)
    rows = []
    for key in keys:
        if key is None:
            continue  # NULL probes match nothing, like SQL equality
        rk = _render_key(key)
        for j, p in enumerate(_positions_py(rk, m_bits, k)):
            rows.append((rk, j, p // wb, 1 << (p % wb)))
    return rows


def _probe_hits_local(path: str, meta: dict, rows: list) -> list[int]:
    """Driver twin of :func:`_probe_hits_df` for a probe slice under
    the broadcast threshold: read only the probed words' rows of the
    bits-table parquet and apply the same admission rule, vectorised
    in Arrow — join on ``w``, test ``word & m``, keep (fid, key) groups
    with all k distinct ``j`` set. Sorted hit fids."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    cols = list(zip(*rows))
    probe = pa.table(
        {
            "pkey": pa.array(cols[0], pa.string()),
            "j": pa.array(cols[1], pa.int32()),
            "w": pa.array(cols[2], pa.int32()),
            "m": pa.array(cols[3], pa.int64()),
        }
    )
    # BITS_SCHEMA in Arrow types; declared so a bits dir with no data
    # files (an empty build) reads as zero rows
    schema = pa.schema(
        [("fid", pa.int32()), ("w", pa.int32()), ("word", pa.int64())]
    )
    bits = pads.dataset(
        os.path.join(path, meta["bits_dir"]), schema=schema, format="parquet"
    ).to_table(filter=pc.field("w").isin(sorted(set(cols[2]))))
    joined = bits.join(probe, "w", join_type="inner")
    set_bits = joined.filter(
        pc.not_equal(pc.bit_wise_and(joined["word"], joined["m"]), 0)
    )
    per_key = set_bits.group_by(["fid", "pkey"]).aggregate(
        [("j", "count_distinct")]
    )
    admitted = per_key.filter(pc.equal(per_key["j_count_distinct"], meta["k"]))
    return sorted(pc.unique(admitted["fid"]).to_pylist())


def _probe_hits_df(
    spark: SparkSession, path: str, meta: dict, keys: Sequence
) -> DataFrame | None:
    """The hit-fids plan of the table probe (None when no non-null
    keys) — factored out so tests can pin its SHAPE: the probe side
    broadcast (BroadcastHashJoin on ``w``, never a shuffle of the
    bits table, never a cartesian)."""
    rows = _probe_rows(meta, keys)
    if not rows:
        return None
    probe_df = spark.createDataFrame(
        rows, "pkey string, j int, w int, m bigint"
    )
    # the probe's word indexes are a small known set — push them into
    # the bits-table scan as an IN filter so parquet min/max row-group
    # stats skip everything outside it (the join alone would still
    # read every row group of the (n_files x m/63)-row table)
    words = sorted({r[2] for r in rows})
    bits = _read_bits(spark, path, meta["bits_dir"]).filter(
        F.col("w").isin(words)
    )
    return (
        bits.join(F.broadcast(probe_df), "w")
        .filter(F.col("word").bitwiseAND(F.col("m")) != 0)
        .groupBy("fid", "pkey")
        .agg(F.count_distinct("j").alias("nj"))
        .filter(F.col("nj") == F.lit(meta["k"]))
        .select("fid")
        .distinct()
    )


def bloom_skipping_read(
    spark: SparkSession, path: str, keys: Sequence
) -> tuple[DataFrame, dict]:
    """Point-lookup over a :func:`bloom_index_write` directory: consult
    the bitmaps (:func:`bloom_probe_files_table`), read ONLY the files
    whose bitmap admits some probe key (partition pruning on ``fid`` —
    skipped files are never opened), then apply the exact
    ``key IN (...)`` filter over the survivors. Returns ``(rows_df, stats)`` with
    ``stats = {"files_total", "files_hit", "files_skipped"}``. The
    data read declares the sidecar schema, so a small-index probe runs
    one Spark job: the pruned read of the hit files.

    Exactness: the bitmap has no false negatives, so the pruned read
    returns exactly the rows a full-table filter would — pinned by
    tests/test_bloomindex.py against the unpruned scan."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    meta = read_index_meta(path)
    # files_total is the PHYSICAL file count — the denominator a naive
    # reader would open; a free directory listing, not a Spark job
    # (and unlike the bits table it also counts files holding only
    # NULL keys, which carry no bitmap yet still exist on disk)
    n_present = len(_grid_upsert.partition_dirs(path, "fid"))
    hit = bloom_probe_files_table(spark, path, keys, meta)
    stats = {
        "files_total": n_present,
        "files_hit": len(hit),
        "files_skipped": n_present - len(hit),
    }
    key_col = meta["key_col"]
    probe = [k for k in keys if k is not None]
    if not hit or not probe:
        # schema from the sidecar, never the files: an empty table
        # wrote no parquet at all, and a skipped read must not even
        # list the directory. An empty Arrow table runs no Spark job
        # (an empty row list runs one).
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        empty = to_arrow_schema(schema).empty_table()
        return spark.createDataFrame(empty, schema), stats
    df = spark.read.schema(_data_schema(meta)).parquet(path)
    out = (
        df.filter(F.col("fid").isin(hit))
        .filter(F.col(key_col).isin(probe))
        .drop("fid")
    )
    return out, stats
