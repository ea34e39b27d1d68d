"""Frozen-grid upsert: the one maintenance protocol behind
``zorder_layout_append``, ``bloom_index_append`` and
``bloom_index_compact``.

A frozen-grid table is a parquet directory partitioned by a grid
column (``zb`` for a z-order layout, ``fid`` for a Bloom index). A
row's cell is a pure function of the row and the bounds its sidecar
froze at build time, so a later batch lands in the same cells as the
original build. Incremental maintenance rewrites only the cells a
delta touches, in two steps:

- :func:`stage` checks the delta against the declared data schema,
  casts its columns to the declared types, tags each row with its
  cell, pins the tagged delta and runs the one discovery job;
- :func:`rewrite` reads the dirty cells' current rows with the
  declared schema, drops the rows the delta supersedes, unions the
  delta in and overwrites exactly those cells.

Each caller keeps only what differs: its grid expression, its sidecar
and replay marker, and for the Bloom index the bits merge that
commits between the two steps.

The protocol:

- **Declared types.** Each delta column is cast to the declared type
  with Spark's store-assignment rules (``DataFrame.to``: ANSI casts in
  the session time zone; an overflow or a cast those rules refuse,
  such as string to long, raises). Without it the union with the
  existing rows would widen a column, and the rewritten cells would be
  written with another physical type than the untouched ones.
- **Pin.** The delta is ``localCheckpoint``-ed lazily before
  discovery. Discovery and the rewrite are separate actions; a
  non-deterministic delta (a sample, a changing view) recomputed
  between them could surface cells at write time whose old rows were
  never read, and the overwrite would drop them. The discovery job
  materializes the pin, so it costs no extra job.
- **Discovery.** One grouped job over the pinned delta returns the
  dirty cell ids (at most one per cell, driver-bounded by the grid),
  whether any key column holds a NULL, and the delta's row count.
- **NULL-key collapse.** When the delta carries a NULL key, keys match
  NULL-SAFELY (``<=>``), so a replayed NULL-key row converges. NULL
  then acts as ONE upsert key: a NULL-key delta row supersedes every
  existing NULL-key row in the dirty cells, unlike SQL/Delta MERGE
  where NULL never matches. If NULL keys denote distinct rows, make
  the key non-null (coalesce a surrogate) or accept the collapse. A
  delta with no NULL key takes the plain equi anti-join, where the
  question never arises.
- **Replay convergence.** Callers commit their ``last_batch_id``
  marker after the data, so a crash between the two re-delivers the
  batch (foreachBatch semantics). With ``key_cols`` the re-run drops
  the copies the first attempt committed and converges: a re-delivered
  row has the same cell as the copy it supersedes, so the stale copy
  is always inside the dirty set. As a general upsert this is exact
  only while an update keeps the row's cell; an update that moves it
  leaves the superseded copy in a cell the rewrite never opens.
  Without ``key_cols`` the marker still dedups every non-crash replay.
- **Single writer.** One maintenance writer per directory. Two racing
  writers that share a dirty cell both read the pre-race rows and the
  last partition commit wins. Callers detect the violation with the
  CAS-guarded sidecar commits of ``operators/_sidecar.py`` instead of
  diverging silently; fan sources into one stream instead.
- **Lineage break.** The rewrite reads the path it overwrites, which
  Spark refuses, so the combined rows are ``localCheckpoint``-ed
  eagerly first, sized to the dirty cells, not the table. Dynamic
  partition overwrite then replaces only the dirty cells, each as one
  file; untouched cells are never opened, and a reader sees each cell
  whole old or whole new.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def partition_dirs(path: str, part_col: str) -> dict[int, str]:
    """cell id → its ``<part_col>=<n>`` partition directory: the one
    listing of a grid table's cells (a driver-side walk, no Spark
    job)."""
    prefix = f"{part_col}="
    return {
        int(d[len(prefix):]): os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith(prefix) and os.path.isdir(os.path.join(path, d))
    }


def declared_schema(
    schema_json: str, part_col: str, part_type: T.DataType
) -> T.StructType:
    """The data schema a sidecar stores, plus the grid column. Reads
    declare it: inferring it from the parquet footers costs a Spark
    job per read, and a table with no data files has no footers."""
    return T.StructType.fromJson(json.loads(schema_json)).add(
        part_col, part_type
    )


def anti_upsert_keys(
    existing: DataFrame,
    delta_keys: DataFrame,
    key_cols: Sequence[str],
    null_safe: bool = True,
) -> DataFrame:
    """Drop ``existing`` rows whose key tuple ``delta_keys`` carries
    (the delta wins). ``null_safe`` matches keys with ``eqNullSafe``,
    so NULL keys match each other (the NULL-key collapse in the module
    docstring); a plain anti-join never matches NULL and a replay
    would duplicate NULL-key rows. For a delta with no NULL key the
    two forms are identical, since a NULL-key ``existing`` row is kept
    either way. EqualNullSafe still extracts as a hash-join key, so
    the delta-sized ``delta_keys`` side (must be distinct) stays a
    broadcast hash join, never a nested loop."""
    renamed = delta_keys.select(
        *[F.col(c).alias(f"__dk_{c}") for c in key_cols]
    )
    if null_safe:
        pairs = [
            existing[c].eqNullSafe(renamed[f"__dk_{c}"]) for c in key_cols
        ]
    else:
        pairs = [existing[c] == renamed[f"__dk_{c}"] for c in key_cols]
    cond = reduce(lambda a, b: a & b, pairs)
    return existing.join(F.broadcast(renamed), cond, "left_anti")


def dirty_partitions_and_null_flag(
    delta: DataFrame, part_col: str, key_cols: Sequence[str] | None
) -> tuple[list, bool, int]:
    """Distinct ``part_col`` ids of ``delta``, whether any
    ``key_cols`` value is NULL, and the delta's row count, all from
    one grouped job (the count is the sum of the per-cell counts)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    if key_cols:
        null_any = reduce(
            lambda a, b: a | b, [F.col(c).isNull() for c in key_cols]
        )
        aggs.append(F.max(F.when(null_any, 1).otherwise(0)).alias("__nk"))
    agg = delta.groupBy(part_col).agg(*aggs).collect()
    return (
        [r[part_col] for r in agg],
        bool(key_cols) and any(r["__nk"] for r in agg),
        sum(r["__n"] for r in agg),
    )


class Staged(NamedTuple):
    """A delta tagged with its cells and pinned, plus what discovery
    found: the dirty cell ids, whether a key column holds a NULL, and
    the row count."""

    delta: DataFrame
    dirty: list
    null_keys: bool
    rows: int


def stage(
    op: str,
    delta: DataFrame,
    schema: T.StructType,
    part_col: str,
    grid: Column,
    key_cols: Sequence[str] | None,
) -> Staged:
    """Check ``delta``'s columns and ``key_cols`` against ``schema``
    (the declared data schema plus ``part_col``), cast them to its
    types, tag each row with ``grid`` as ``part_col``, pin lazily and
    run discovery."""
    data_cols = [f.name for f in schema.fields if f.name != part_col]
    if sorted(delta.columns) != sorted(data_cols):
        raise ValueError(
            f"{op}: delta columns {sorted(delta.columns)} "
            f"!= table columns {sorted(data_cols)}"
        )
    bad = [c for c in key_cols or () if c not in data_cols]
    if bad:
        raise ValueError(f"{op}: key columns {bad} not in table")
    data = T.StructType([_nullable(f) for f in schema.fields if f.name != part_col])
    tagged = (
        delta.to(data)
        .withColumn(part_col, grid)
        .localCheckpoint(eager=False)
    )
    return Staged(tagged, *dirty_partitions_and_null_flag(
        tagged, part_col, key_cols
    ))


def _nullable(field: T.StructField) -> T.StructField:
    """``field`` with NULL allowed at every level: ``DataFrame.to``
    refuses a nullable column for a non-nullable field, and a declared
    schema keeps the nullability of the frame it was taken from."""

    def relax(t: T.DataType) -> T.DataType:
        if isinstance(t, T.StructType):
            return T.StructType([_nullable(f) for f in t.fields])
        if isinstance(t, T.ArrayType):
            return T.ArrayType(relax(t.elementType), True)
        if isinstance(t, T.MapType):
            return T.MapType(relax(t.keyType), relax(t.valueType), True)
        return t

    return T.StructField(field.name, relax(field.dataType), True, field.metadata)


def rewrite(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    part_col: str,
    dirty: Sequence,
    delta: DataFrame | None = None,
    key_cols: Sequence[str] | None = None,
    null_safe: bool = False,
) -> None:
    """Rewrite the ``dirty`` cells of ``path`` as one file each: their
    current rows (read with ``schema``), minus the rows whose
    ``key_cols`` the tagged ``delta`` carries, plus the delta. With no
    delta it only compacts the cells."""
    rows = (
        spark.read.schema(schema)
        .parquet(path)
        .filter(F.col(part_col).isin(list(dirty)))
    )
    if delta is not None:
        if key_cols:
            rows = anti_upsert_keys(
                rows,
                delta.select(*key_cols).distinct(),
                key_cols,
                null_safe=null_safe,
            )
        rows = rows.unionByName(delta)
    (
        rows.repartition(len(dirty), part_col)
        .localCheckpoint(eager=True)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )
