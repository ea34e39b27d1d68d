"""LSH candidate pairs: the banding OR-construction as one operator.

Every banded near-dup query (MinHash over shingles, sign codes over
embeddings, perceptual hashes over images) has the same shape: each
row emits one ``(band_idx, band_key)`` row per band, rows that share a
band bucket are joined on that key, and the pair set is de-duplicated,
because a pair that collides in several bands comes out of the join
once per shared band. :func:`band_pairs` is that shape. It only
composes DataFrame operations, so Catalyst plans the caller's whole
query as before: one Generate per side, one equi-join keyed on
``(band_idx, band_key)`` (shuffle bounded by bucket occupancy, never
all-pairs), one distinct.

Two caller-side choices decide the cost, and both stay with the
caller:

- **Carry or re-attach.** When bands crowd (few band-key bits, long
  posting lists) the raw candidate set is quadratic in list occupancy
  and the distinct over it dominates. Carrying a narrow per-id value
  through the join (``carry``) lets ``keep`` drop pairs before the
  distinct. When bands do not crowd, candidates are about the true
  pairs and carrying only widens the join rows: take the distinct ids
  and re-attach the payload with two joins afterwards. Both give the
  same pair set whenever ``keep`` is a pure function of the pair.
- **Pin the input.** The two sides of the self-join do not reuse an
  exchange across the aliased subtrees under AQE, so an expensive
  ``df`` (a signature aggregate, a decoded-image hash) is computed
  twice in two concurrent jobs unless the caller pins it with
  ``localCheckpoint`` before calling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_pairs(
    df: DataFrame,
    id_col: str,
    band_keys: Sequence[Column | str],
    *,
    names: tuple[str, str] = ("id_a", "id_b"),
    probe: DataFrame | None = None,
    carry: Sequence[str] = (),
    out: Sequence[Column] = (),
    keep: Column | None = None,
) -> DataFrame:
    """Distinct pairs of rows that share at least one band bucket.

    ``band_keys`` holds one key expression per band, evaluated on
    ``df`` (and on ``probe``); band ``i`` joins only with band ``i``.
    A null key never matches.

    - Self-join (``probe`` is None): pairs of ``df`` rows with
      ``names[0] < names[1]``, so each unordered pair appears once.
    - Probe (``probe`` given): every ``df`` × ``probe`` pair that
      collides, with no ordering predicate; ``probe`` must carry
      ``id_col``, ``carry`` and the columns ``band_keys`` reads.

    Each ``carry`` column ``c`` is available as ``c_a`` (left row) and
    ``c_b`` (right row) to the ``out`` expressions and to ``keep``.
    ``keep`` may also read the ``out`` columns; it filters pairs before
    the distinct (see the module docstring for when that pays).

    Returns ``names[0]``, ``names[1]`` (typed as ``id_col``) and then
    the ``out`` columns, one row per distinct pair. An empty or
    one-row input gives zero rows with that schema.
    """

    def banded(frame: DataFrame) -> DataFrame:
        return frame.select(
            id_col,
            *carry,
            F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"),
        )

    left = banded(df)
    right = left if probe is None else banded(probe)
    on = (F.col("x.band_idx") == F.col("y.band_idx")) & (
        F.col("x.band_key") == F.col("y.band_key")
    )
    if probe is None:
        on = on & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
    pairs = left.alias("x").join(right.alias("y"), on).select(
        F.col(f"x.{id_col}").alias(names[0]),
        F.col(f"y.{id_col}").alias(names[1]),
        *[F.col(f"x.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"y.{c}").alias(f"{c}_b") for c in carry],
    )
    pairs = pairs.select("*", *out)
    if keep is not None:
        pairs = pairs.filter(keep)
    return pairs.drop(*[f"{c}_{s}" for c in carry for s in "ab"]).distinct()
