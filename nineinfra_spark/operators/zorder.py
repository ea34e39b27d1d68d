"""Z-order (Morton) file-layout clustering for multi-dimensional data
skipping.

Parquet readers prune row groups / files by min-max statistics. A
table sorted by one column skips beautifully on that column and not at
all on others; interleaving the BITS of several columns' ranks (the
Z-order curve) gives every participating column locality, so filters
on ANY of them skip most files. This is the layout optimization the
lakehouse engines expose as ``OPTIMIZE ... ZORDER BY``; here it is a
native operator over plain parquet: compute the z-value, range-
partition + sort by it, write.

Scale design: rank normalization uses ``percent_rank`` per column —
one pass per column of (value)-keyed window over a RANGE-partitioned
sort... which would serialize; instead we normalize by MIN/MAX scaling
(one tiny global aggregate, broadcast back) — the standard practical
choice (Delta's implementation samples range boundaries the same way).
Skew in value distributions degrades z-locality but never correctness.
The final ``repartitionByRange(z)`` is one range exchange — identical
cost to any global sort-write — and each output task writes one
z-contiguous file, which is what makes the min-max envelopes tight.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nineinfra_spark.operators import _grid_upsert, _sidecar

#: default bits of z-resolution per column. The k-column z-value uses
#: k*bits bits and must stay inside a signed 64-bit long (≤ 62), so
#: the DEFAULT auto-fits: min(ZBITS, 62 // k) — 16 bits up to 3 cols,
#: 15 bits at 4 cols (r11 review finding: the old fixed default made
#: the documented 4-column form unconditionally raise).
ZBITS = 16


def _resolve_bits(k: int, bits: int | None) -> int:
    if not 1 <= k <= 4:
        raise ValueError(f"zorder supports 1..4 columns, got {k}")
    if bits is None:
        bits = min(ZBITS, 62 // k)
    if bits * k > 62:
        raise ValueError(f"bits={bits} × {k} cols exceeds a signed long")
    return bits


def zvalue_expr(
    cols: Sequence[str],
    bounds: dict[str, tuple[float | None, float | None]],
    bits: int | None = None,
) -> Column:
    """Morton code over ``cols`` with CALLER-SUPPLIED normalization
    bounds — the frozen-bounds form incremental layout maintenance
    needs (new batches must land in the SAME cells as the original
    layout job, so the bounds are persisted, not recomputed). Values
    outside ``[lo, hi]`` clamp to the edge cells (the least/greatest
    pair) — correct for skipping because file envelopes are always
    computed from the actual data at read time, never from the grid.

    ``bounds[c] = (lo, hi)``; a ``(None, None)`` entry means the
    layout job saw no data for the column (empty frame / all-NULL) —
    any constants work, so 0-span constants are used."""
    k = len(cols)
    bits = _resolve_bits(k, bits)
    grid = (1 << bits) - 1
    cells = []
    for c in cols:
        lo, hi = bounds[c]
        if lo is None or hi is None:
            # empty frame or all-NULL column: no data to scale; any
            # constants work (NULL inputs fall through least/greatest
            # to a deterministic cell) — just don't crash the layout
            # job on a None - None subtraction (r11 review finding)
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        cell = F.least(
            F.lit(grid),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * grid).cast(
                "long"
            ),
        )
        cells.append(F.greatest(F.lit(0), cell))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, cell in enumerate(cells):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cell, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    return z


def column_bounds(
    df: DataFrame, cols: Sequence[str]
) -> dict[str, tuple[float | None, float | None]]:
    """Min/max normalization constants for ``cols`` — one global
    aggregate over ``df``, a broadcast-sized side input (at 100 TB:
    one column-pruned scan-speed agg)."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_hi_{c}") for c in cols],
    ).first()
    return {c: (stats[f"_lo_{c}"], stats[f"_hi_{c}"]) for c in cols}


def zvalue_column(
    df: DataFrame, cols: Sequence[str], bits: int | None = None
) -> Column:
    """Morton code over ``cols``: each column is min-max scaled to an
    unsigned ``bits``-bit integer grid, then the columns' bits are
    interleaved (column i contributes bit b to z-bit ``b*k + i``).
    Pure integer/bit arithmetic after the scaling divide — the
    rounding to grid cells uses floor on a non-negative ratio, so the
    same row always lands in the same cell. Bounds come from one
    global aggregate over ``df`` (see :func:`column_bounds`); for
    frozen caller-supplied bounds use :func:`zvalue_expr`."""
    _resolve_bits(len(cols), bits)
    return zvalue_expr(cols, column_bounds(df, cols), bits=bits)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int | None = None,
    mode: str = "error",
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files clustered on the
    Z-order curve over ``cols`` — after this, a min-max-pruning reader
    skips most files for a selective filter on ANY of ``cols``.
    One range exchange + per-task sort; no driver materialization."""
    if "_z" in df.columns:
        raise ValueError(
            "zorder_write: column '_z' is reserved for the z-value — "
            "rename it first (withColumn would silently replace it)"
        )
    z = zvalue_column(df, cols, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


# ------------------------------------------ incremental layout maintenance

#: sidecar filename; the leading underscore makes Spark's parquet
#: reader skip it as a non-data file.
_LAYOUT_SIDECAR = "_zlayout.json"


def _write_sidecar(path: str, meta: dict) -> None:
    _sidecar.write(path, _LAYOUT_SIDECAR, meta)


def _read_sidecar_raw(path: str) -> str:
    return _sidecar.read_raw(path, _LAYOUT_SIDECAR)


def _guarded_sidecar_write(path: str, meta: dict, expected_raw: str) -> str:
    """Optimistic-CAS marker commit for the append maintainer — the
    shared protocol in ``operators/_sidecar.py``: two racing appenders
    interleaving dynamic-partition overwrites is the single-writer
    contract's failure mode; the conflict raises at the marker commit
    instead of silently diverging."""
    return _sidecar.guarded_write(
        path, _LAYOUT_SIDECAR, meta, expected_raw, "z-order layout"
    )


def _load_meta(path: str) -> tuple[str, dict]:
    """The sidecar's raw text (the CAS token of the marker commit) and
    its parsed contract. Every reader of a layout's sidecar goes
    through here, so this is the one place a sidecar without the
    declared data ``schema`` (a layout written before the dirty-bucket
    read declared its schema) is refused."""
    import json

    raw = _read_sidecar_raw(path)
    meta = json.loads(raw)
    if "schema" not in meta:
        raise ValueError(
            f"z-order layout {path!r} has no declared schema (its sidecar "
            f'lacks "schema"); rebuild it with zorder_layout_write'
        )
    return raw, meta


def read_layout_meta(path: str) -> dict:
    """The frozen layout contract of a :func:`zorder_layout_write`
    directory: z columns, bit widths, the normalization bounds every
    later append must reuse, and the data schema."""
    return _load_meta(path)[1]


def _zbucket_expr(
    cols: Sequence[str],
    bounds: dict[str, tuple[float | None, float | None]],
    bits: int,
    bucket_bits: int,
) -> Column:
    """The z-bucket of a row: the top ``bucket_bits`` bits of its
    Morton code over the frozen ``bounds``."""
    z = zvalue_expr(cols, bounds, bits=bits)
    return F.shiftright(z, bits * len(cols) - bucket_bits)


def zorder_layout_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    bucket_bits: int = 5,
    mode: str = "error",
) -> dict:
    """Write ``df`` as a z-BUCKETED parquet directory: Morton code
    over ``cols``, top ``bucket_bits`` bits → partition column ``zb``
    (≤ ``2**bucket_bits`` directories, each holding one z-contiguous
    file), plus a ``_zlayout.json`` sidecar freezing the layout
    contract (columns, bits, normalization bounds, data schema). This
    is the OPTIMIZE-style full layout job; :func:`zorder_layout_append`
    is its incremental maintenance loop.

    The frozen bounds are what make increments possible: a later
    batch normalized against ITS OWN min/max would scatter into
    different cells than the original layout, dirtying every bucket.
    Values beyond the frozen range clamp into the edge buckets —
    envelope-based skipping stays SOUND (envelopes are computed from
    actual file contents at read time); it merely degrades toward a
    fat edge bucket under heavy drift, which a periodic full
    re-layout (re-running this function) re-freezes away.

    Returns the sidecar dict. Scale posture: one bounds aggregate +
    one hash exchange on ``zb`` + the write — identical cost to any
    clustered rewrite of the same data."""
    k = len(cols)
    rbits = _resolve_bits(k, bits)
    if not 1 <= bucket_bits <= rbits * k:
        raise ValueError(
            f"bucket_bits={bucket_bits} outside 1..{rbits * k} (= bits*k)"
        )
    if "zb" in df.columns:
        raise ValueError(
            "zorder_layout_write: column 'zb' is reserved for the z-bucket "
            "partition column — rename it first (withColumn would silently "
            "replace it and corrupt the layout's schema contract)"
        )
    bounds = column_bounds(df, cols)
    n_buckets = 1 << bucket_bits
    (
        df.withColumn("zb", _zbucket_expr(cols, bounds, rbits, bucket_bits))
        .repartition(n_buckets, "zb")
        .write.mode(mode)
        .partitionBy("zb")
        .parquet(path)
    )
    meta = {
        "cols": list(cols),
        "bits": rbits,
        "bucket_bits": bucket_bits,
        "bounds": {c: list(bounds[c]) for c in cols},
        # data schema (sans zb): the append reads the dirty buckets
        # with it instead of inferring it from the files
        "schema": df.schema.json(),
    }
    _write_sidecar(path, meta)
    return meta


def zorder_layout_append(
    spark,
    path: str,
    delta: DataFrame,
    batch_id: int | None = None,
    key_cols: Sequence[str] | None = None,
) -> dict:
    """Incremental z-order maintenance: merge ``delta`` into an
    existing :func:`zorder_layout_write` directory, rewriting ONLY the
    buckets the delta touches. The cost is proportional to the dirty
    buckets' data, not the table — the OPTIMIZE loop a continuously-
    ingesting 100 TB table needs (a full re-layout per batch would be
    a full table rewrite per batch).

    The delta's ``zb`` is computed with the sidecar's FROZEN bounds
    (same cells as the original job), and the dirty buckets go through
    the frozen-grid upsert of ``operators/_grid_upsert.py``, whose
    module docstring states the protocol: pin, discovery, NULL-key
    collapse, replay convergence, single writer and lineage break.
    Each dirty bucket ends as ONE z-bucketed file again.

    What is z-order's own: without ``key_cols`` the delta still
    unions into the rewrite (the layout keeps one file per bucket), so
    only the ``batch_id`` marker dedups a replay. With ``batch_id``
    set, a batch id ≤ the sidecar's ``last_batch_id`` is SKIPPED; the
    marker commits after the data, CAS-guarded, and raises if another
    writer committed since this append read the sidecar.

    Returns ``{"rows_appended", "buckets_dirty", "buckets_total"}``
    (``"skipped_replay": True`` added when the marker short-circuits).
    """
    raw, meta = _load_meta(path)  # raw: CAS token for the marker commit
    if batch_id is not None:
        last = meta.get("last_batch_id")
        if last is not None and batch_id <= last:
            return {
                "rows_appended": 0,
                "buckets_dirty": 0,
                "buckets_total": -1,
                "skipped_replay": True,
            }
    schema = _grid_upsert.declared_schema(meta["schema"], "zb", T.LongType())
    bounds = {c: tuple(v) for c, v in meta["bounds"].items()}
    zb = _zbucket_expr(meta["cols"], bounds, meta["bits"], meta["bucket_bits"])
    staged = _grid_upsert.stage(
        "zorder_layout_append", delta, schema, "zb", zb, key_cols
    )
    if staged.dirty:
        _grid_upsert.rewrite(
            spark, path, schema, "zb", staged.dirty,
            staged.delta, key_cols, staged.null_keys,
        )
        if batch_id is not None:
            meta["last_batch_id"] = batch_id
            _guarded_sidecar_write(path, meta, raw)
    return {
        "rows_appended": staged.rows,
        "buckets_dirty": len(staged.dirty),
        "buckets_total": len(_grid_upsert.partition_dirs(path, "zb")),
    }


def maintain_layout_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str] | None = None,
    trigger_available_now: bool = False,
):
    """Continuous-ingestion layout maintenance: a Structured Streaming
    sink that merges every micro-batch into a
    :func:`zorder_layout_write` directory through
    :func:`zorder_layout_append` — the table stays z-clustered WHILE
    it ingests, instead of degrading until a nightly OPTIMIZE.

    Exactly-once: Spark's checkpoint replays the last batch after a
    restart; the append's ``batch_id`` marker skips batches the layout
    already holds, and ``key_cols`` (recommended — any natural unique
    id) additionally dedups the one crash window between the data
    commit and the marker write (see :func:`zorder_layout_append`).

    ONE stream per layout: the sidecar holds a single
    ``last_batch_id``, so a second concurrent stream (its own
    checkpoint, its own batch-id sequence) would skip batches the
    FIRST stream's marker happens to dominate. Fan multiple sources
    into one stream (union) instead of running parallel writers.

    Returns the started ``StreamingQuery``. Scale posture: per batch,
    cost tracks the batch's dirty buckets (measured flat for 10×
    table size at fixed batch size); the stream's own state is
    nothing but Spark's source offsets."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        zorder_layout_append(
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
