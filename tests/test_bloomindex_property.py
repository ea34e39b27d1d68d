"""Property suite for the Bloom-index kernels (the r12 lesson:
parsers and codecs get hypothesis suites). Pure-python properties run
example-per-call; the Spark↔driver hash parity batches each example
into ONE job."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nineinfra_spark.operators.bloomindex import _positions, _positions_py


@given(
    st.text(min_size=0, max_size=40),
    st.sampled_from([64, 512, 8192]),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_positions_in_range_and_deterministic(value, m, k):
    pos = _positions_py(value, m, k)
    assert len(pos) == k
    assert all(0 <= p < m for p in pos)
    assert pos == _positions_py(value, m, k)


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=5, deadline=None)
def test_spark_and_driver_hashing_agree_on_generated_values(spark, keys):
    """The build-side column expression and the driver-side probe
    hashing must agree on ARBITRARY unicode — a divergence (encoding,
    normalization) would be a silent false-negative factory. One
    Spark job per example."""
    m, k = 8192, 4
    df = spark.createDataFrame([(v,) for v in keys], "v string").select(
        "v", _positions(F.col("v"), m, k).alias("pos")
    )
    got = {r["v"]: list(r["pos"]) for r in df.collect()}
    for v in keys:
        assert got[v] == _positions_py(v, m, k), repr(v)


@given(st.sets(st.integers(min_value=0, max_value=1 << 14), max_size=300))
@settings(max_examples=5, deadline=None)
def test_words_df_roundtrips_positions(spark, bits):
    """The table-backed 63-bit word encoding must reproduce exactly
    the position set it was built from — the pack/unpack roundtrip
    property, restated for the parquet words (one Spark job per
    example)."""
    from nineinfra_spark.operators.bloomindex import WORD_BITS, _words_df

    rows = [(0, b) for b in sorted(bits)]
    df = spark.createDataFrame(rows, "fid int, bit long")
    got = set()
    for r in _words_df(df).collect():
        for i in range(WORD_BITS):
            if (r["word"] >> i) & 1:
                got.add(r["w"] * WORD_BITS + i)
    assert got == bits


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            min_size=0,
            max_size=20,
        ),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=3, deadline=None)
@pytest.mark.slow
def test_driver_and_join_probes_agree_on_generated_keys(
    spark, tmp_path_factory, keys
):
    """Over a generated corpus, the driver consult and the
    broadcast-join probe (forced by a 1-byte broadcast threshold) must
    admit the same fid sets, and every indexed key must be admitted
    (no false negatives) on both paths."""
    from nineinfra_spark.operators.bloomindex import (
        bloom_index_write,
        bloom_probe_files_table,
    )

    path = str(tmp_path_factory.mktemp("prop") / "t")
    rows = [(i % 7, k_) for i, k_ in enumerate(keys)]
    df = spark.createDataFrame(rows, "lay int, key string")
    bloom_index_write(df, path, "lay", "key", 4, m_bits=2048)
    probes = [keys[: len(keys) // 2] + ["@absent1", "@absent2"]]
    probes += [[k_] for k_ in keys]

    def consult():
        return [bloom_probe_files_table(spark, path, p) for p in probes]

    local = consult()
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        joined = consult()
    finally:
        spark.conf.set(conf, old)
    assert local == joined
    for k_, hits in zip(keys, local[1:]):
        assert hits, repr(k_)  # indexed ⇒ admitted


@pytest.mark.parametrize("m0", [128, 256, 512, 2048, 8192, 32768])
@pytest.mark.slow
def test_resize_property_across_fill_ratios(spark, tmp_path, m0):
    """Sweep the build geometry from badly undersized (fill → 1.0)
    to oversized (fill ≈ 0.04) against a FIXED corpus and pin the
    sense→repair invariants at every point on the curve:

    1. exactness ALWAYS — every indexed key is admitted before and
       after compact, whatever the fill (saturation degrades skipping,
       never correctness);
    2. compact resizes IFF the worst fill exceeds the 0.5 threshold;
    3. a triggered resize lands the worst fill below 0.5 and restores
       real skipping for a sparse probe."""
    import hashlib
    import warnings

    from nineinfra_spark.operators.bloomindex import (
        bloom_fill_ratios_table,
        bloom_index_compact,
        bloom_index_write,
        bloom_skipping_read,
    )

    n, n_files = 4000, 8
    df = spark.range(0, n).select(
        (F.col("id") % 50).alias("lay"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    path = str(tmp_path / f"m{m0}")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        bloom_index_write(df, path, "lay", "key", n_files, m_bits=m0)
    fill0 = max(bloom_fill_ratios_table(spark, path).values())
    sample = [hashlib.md5(str(i).encode()).hexdigest() for i in (1, n // 2)]
    for k_ in sample:  # exactness before repair, even saturated
        out, _ = bloom_skipping_read(spark, path, [k_])
        assert out.count() == 1
    cst = bloom_index_compact(spark, path)
    assert (cst["resized_m_bits"] is not None) == (fill0 > 0.5)
    fill1 = max(bloom_fill_ratios_table(spark, path).values())
    if fill0 > 0.5:
        assert fill1 < 0.5
    for k_ in sample:  # exactness after repair
        out, st = bloom_skipping_read(spark, path, [k_])
        assert out.count() == 1
        assert st["files_skipped"] > 0  # healthy post-compact index
