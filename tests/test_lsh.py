"""operators/lsh.py:band_pairs on hand-built frames: pair dedup across
bands, the self-join ordering, the probe form, carried-column filters
and degenerate inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from nineinfra_spark.operators.lsh import band_pairs

SCHEMA = "doc_id long, n long, k0 string, k1 string, k2 string"
KEYS = ["k0", "k1", "k2"]

ROWS = [
    # 1 and 2 collide in all three bands; 3 collides with 1 in band 1
    # only; 4 shares band 0's key value with 1, but in band 2, which
    # must not match (a band joins only with the same band)
    (1, 10, "a", "b", "c"),
    (2, 10, "a", "b", "c"),
    (3, 40, "x", "b", "y"),
    (4, 10, "p", "q", "a"),
]


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_multi_band_collision_comes_out_once_ordered(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = band_pairs(df, "doc_id", KEYS, names=("doc_a", "doc_b"))
    assert out.columns == ["doc_a", "doc_b"]
    assert _pairs(out) == [(1, 2), (1, 3), (2, 3)]


def test_probe_keeps_every_left_right_pair(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    left = df.filter(F.col("doc_id") >= 2)
    right = df.filter(F.col("doc_id") <= 2)
    out = band_pairs(
        left, "doc_id", KEYS, names=("delta_id", "index_id"), probe=right
    )
    assert out.columns == ["delta_id", "index_id"]
    # no ordering predicate: (2, 1) and (3, 1) have delta > index, and
    # the self-pair (2, 2) is a collision like any other
    assert _pairs(out) == [(2, 1), (2, 2), (3, 1), (3, 2)]


def test_carried_filter_drops_pairs_before_distinct(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = band_pairs(
        df,
        "doc_id",
        KEYS,
        names=("doc_a", "doc_b"),
        carry=["n"],
        out=[(F.col("n_a") + F.col("n_b")).alias("total")],
        keep=F.col("n_a") == F.col("n_b"),
    )
    assert out.columns == ["doc_a", "doc_b", "total"]
    assert _pairs(out) == [(1, 2, 20)]


def test_empty_and_one_row_inputs_give_empty_pairs(spark):
    for rows in ([], ROWS[:1]):
        df = spark.createDataFrame(rows, SCHEMA)
        out = band_pairs(
            df,
            "doc_id",
            KEYS,
            names=("doc_a", "doc_b"),
            carry=["n"],
            out=[(F.col("n_a") - F.col("n_b")).alias("dn")],
        )
        assert out.collect() == []
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            ("doc_a", "bigint"),
            ("doc_b", "bigint"),
            ("dn", "bigint"),
        ]
