"""Property-based algebraic spot checks (SURVEY.md §5.2 item 5):
identities that must hold for ANY input, exercised on small generated
frames. Few examples per property (Spark job per example), no
deadline — these catch semantic regressions, not perf.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),
        st.integers(min_value=0, max_value=3),
        st.text(alphabet="abc", min_size=0, max_size=2),
    ),
    min_size=0,
    max_size=12,
)

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

SCHEMA = "k int, v int, s string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA) if rows else spark.createDataFrame([], SCHEMA)


def _bag(df):
    return sorted(map(tuple, df.collect()))


@SETTINGS
@given(rows=ROWS)
def test_filter_projection_commute(spark, rows):
    """σ∘π == π∘σ when the predicate only references kept columns —
    the identity predicate pushdown relies on."""
    df = _df(spark, rows)
    a = df.filter(F.col("v") > 1).select("k", "v")
    b = df.select("k", "v").filter(F.col("v") > 1)
    assert _bag(a) == _bag(b)


@SETTINGS
@given(a=ROWS, b=ROWS)
@pytest.mark.slow
def test_union_all_count_additive(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert da.unionAll(db).count() == da.count() + db.count()


@SETTINGS
@given(a=ROWS, b=ROWS)
@pytest.mark.slow
def test_inner_join_commutative(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    left = da.join(db, "k").select("k")
    right = db.join(da, "k").select("k")
    assert _bag(left) == _bag(right)


@SETTINGS
@given(rows=ROWS)
def test_distinct_idempotent(spark, rows):
    df = _df(spark, rows)
    assert _bag(df.distinct().distinct()) == _bag(df.distinct())


@SETTINGS
@given(a=ROWS, b=ROWS)
@pytest.mark.slow
def test_intersect_except_all_partition(spark, a, b):
    """Bag semantics: intersectAll(a,b) + exceptAll(a,b) == a."""
    da, db = _df(spark, a), _df(spark, b)
    part = _bag(da.intersectAll(db)) + _bag(da.exceptAll(db))
    assert sorted(part) == _bag(da)


# -- nineinfra_spark.functions algebraic properties ------------------------

VEC = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
    min_size=3,
    max_size=3,
)


@SETTINGS
@given(a=VEC, b=VEC)
def test_cosine_symmetric_and_bounded(spark, a, b):
    """cos(a,b) == cos(b,a), |cos| ≤ 1 (+ε), cos(a,a) == 1 for a ≠ 0."""
    import math

    from nineinfra_spark import functions as NF

    df = spark.createDataFrame(
        [(a, b)], "ea array<float>, eb array<float>"
    ).select(
        NF.cosine_similarity("ea", "eb").alias("ab"),
        NF.cosine_similarity("eb", "ea").alias("ba"),
        NF.cosine_similarity("ea", "ea").alias("aa"),
    )
    r = df.collect()[0]
    if r["ab"] is not None:  # zero-norm sides divide by 0 → NULL/NaN
        if not math.isnan(r["ab"]):
            assert r["ab"] == r["ba"]
            assert abs(r["ab"]) <= 1.0 + 1e-9
    if any(x != 0.0 for x in a) and r["aa"] is not None and not math.isnan(r["aa"]):
        assert abs(r["aa"] - 1.0) <= 1e-9


TOKSETS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
    min_size=1,
    max_size=4,
)


@SETTINGS
@given(arrs=TOKSETS)
@pytest.mark.slow
def test_jaccard_identity_and_symmetry(spark, arrs):
    """j(x,x) == 1 for non-empty x; j(a,b) == j(b,a); 0 ≤ j ≤ 1."""
    from nineinfra_spark import functions as NF

    rows = [(list(dict.fromkeys(x)),) for x in arrs]  # distinct elements
    df = spark.createDataFrame(rows, "s array<string>")
    pairs = (
        df.selectExpr("s AS sa").crossJoin(df.selectExpr("s AS sb"))
        .select(
            F.size("sa").alias("na"),
            NF.jaccard("sa", "sb").alias("jab"),
            NF.jaccard("sb", "sa").alias("jba"),
            NF.jaccard("sa", "sa").alias("jaa"),
        )
        .collect()
    )
    for r in pairs:
        if r["jab"] is not None:
            assert r["jab"] == r["jba"]
            assert -1e-12 <= r["jab"] <= 1.0 + 1e-12
        if r["na"] > 0:
            assert r["jaa"] == 1.0


@SETTINGS
@given(text=st.text(alphabet="ab X.", min_size=0, max_size=30), n=st.integers(2, 4))
def test_shingle_count_property(spark, text, n):
    """len(distinct n-gram shingles) ≤ max(len(tokens) - n + 1, 0), and
    0 tokens → empty array (never NULL)."""
    from nineinfra_spark import functions as NF

    r = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            F.size(NF.tokens("text")).alias("ntok"),
            F.size(NF.ngram_shingles(NF.tokens("text"), n)).alias("nsh"),
        )
        .collect()[0]
    )
    assert r["nsh"] >= 0  # size() of NULL would be -1
    assert r["nsh"] <= max(r["ntok"] - n + 1, 0)


MERGE_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=8,
)


@SETTINGS
@given(base=MERGE_ROWS, upd=MERGE_ROWS, mode=st.sampled_from(["update", "ignore", "delete"]))
def test_merge_upsert_matches_model(spark, base, upd, mode):
    """merge_upsert against a Python bag model of ANSI MERGE for all
    three when_matched modes, including NULL keys (SQL equality:
    NULL never matches, so NULL-keyed base rows survive update/delete
    and NULL-keyed update rows always insert)."""
    from nineinfra_spark.operators.merge import merge_upsert

    # duplicate update keys are the caller's bug per contract — dedupe
    seen, upd_unique = set(), []
    for k, v in upd:
        if k not in seen or k is None:
            seen.add(k)
            upd_unique.append((k, v))
    schema = "k int, v int"
    bdf = spark.createDataFrame(base, schema) if base else spark.createDataFrame([], schema)
    udf_ = (
        spark.createDataFrame(upd_unique, schema)
        if upd_unique
        else spark.createDataFrame([], schema)
    )

    upd_keys = {k for k, _ in upd_unique if k is not None}
    base_keys = {k for k, _ in base if k is not None}
    if mode == "update":
        want = [r for r in base if r[0] is None or r[0] not in upd_keys] + upd_unique
    elif mode == "ignore":
        want = base + [r for r in upd_unique if r[0] is None or r[0] not in base_keys]
    else:  # delete
        want = [r for r in base if r[0] is None or r[0] not in upd_keys]

    got = sorted(
        map(tuple, merge_upsert(bdf, udf_, ["k"], when_matched=mode).collect()),
        key=lambda t: (t[0] is None, t[0], t[1]),
    )
    assert got == sorted(want, key=lambda t: (t[0] is None, t[0], t[1]))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        ),
        min_size=0,
        max_size=8,
    ),
    pred=st.sampled_from(["v > 1", "v = 0", "v <> 1", "v < -1", "v >= 2 AND v <= 3"]),
)
def test_delete_where_matches_duckdb(spark, rows, pred):
    """delete_where differentially against DuckDB's real DELETE on the
    same rows and predicate — pins three-valued logic (NULL predicate
    keeps the row) to the ANSI engine, not to our reading of it."""
    import duckdb

    from nineinfra_spark.operators.merge import delete_where

    tbl = "pp_del_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__merge_stage")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__merge_old")
    schema = "id int, v int"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    df.write.mode("overwrite").saveAsTable(tbl)
    delete_where(spark, tbl, pred)
    got = sorted(map(tuple, spark.table(tbl).collect()), key=lambda t: (t[0], t[1] is None, t[1]))

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, v INTEGER)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.execute(f"DELETE FROM t WHERE {pred}")
    want = sorted(
        map(tuple, con.execute("SELECT id, v FROM t").fetchall()),
        key=lambda t: (t[0], t[1] is None, t[1]),
    )
    con.close()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        ),
        min_size=0,
        max_size=8,
    ),
    pred=st.sampled_from(["v > 1", "v = 0", "v <> 1", "v IS NULL"]),
)
def test_update_where_matches_duckdb(spark, rows, pred):
    """update_where differentially against DuckDB's real UPDATE: a
    NULL predicate leaves the row unchanged, assignments see the
    pre-update row, unmatched rows pass through bit-identical."""
    import duckdb

    from nineinfra_spark.operators.merge import update_where

    tbl = "pp_upd_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__merge_stage")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__merge_old")
    schema = "id int, v int"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    df.write.mode("overwrite").saveAsTable(tbl)
    update_where(spark, tbl, pred, {"v": "v * 10 + 1"})
    got = sorted(map(tuple, spark.table(tbl).collect()), key=lambda t: (t[0], t[1] is None, t[1]))

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, v INTEGER)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.execute(f"UPDATE t SET v = v * 10 + 1 WHERE {pred}")
    want = sorted(
        map(tuple, con.execute("SELECT id, v FROM t").fetchall()),
        key=lambda t: (t[0], t[1] is None, t[1]),
    )
    con.close()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert got == want


# -- asof_join vs pandas merge_asof (independent reference impl) ----------

ASOF_LEFT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, ts)
    min_size=1, max_size=15,
)
ASOF_RIGHT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-5, 5)),
    min_size=0, max_size=15, unique_by=lambda r: (r[0], r[1]),
)


@SETTINGS
@given(left=ASOF_LEFT, right=ASOF_RIGHT,
       direction=st.sampled_from(["backward", "forward", "nearest"]),
       tol=st.sampled_from([None, 0, 7, 30]))
def test_asof_join_matches_pandas_merge_asof(spark, left, right, direction, tol):
    """operators/asof.py vs pandas.merge_asof — an INDEPENDENT
    implementation of the same semantics (by-key as-of match in either
    direction, optional max-gap tolerance). Right-side (key, ts) pairs
    are unique, so the value-deterministic tie-break never has to
    disagree with pandas' positional one."""
    import pandas as pd

    from nineinfra_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(left, "k int, ts int")
    rdf = (
        spark.createDataFrame(right, "k int, ts int, v int")
        if right
        else spark.createDataFrame([], "k int, ts int, v int")
    )
    got = {
        (r["k"], r["ts"], i): (r["v_r"], r["ts_r"])
        for i, r in enumerate(
            asof_join(
                ldf, rdf, on="k", ts="ts", payload=["v"], suffix="_r",
                direction=direction, tolerance_s=tol,
            )
            .orderBy("k", "ts")
            .collect()
        )
    }

    lp = pd.DataFrame(left, columns=["k", "ts"], dtype="int64").sort_values(
        ["ts", "k"], kind="mergesort"
    )
    rp = pd.DataFrame(
        right, columns=["k", "ts", "v"], dtype="int64"
    ).sort_values(["ts", "k"], kind="mergesort")
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction,
        suffixes=("", "_r"),
        tolerance=tol if tol is None else int(tol),
    ).sort_values(["k", "ts"], kind="mergesort")
    exp = {}
    for i, row in enumerate(merged.itertuples(index=False)):
        v = None if pd.isna(row.v) else int(row.v)
        exp[(row.k, row.ts, i)] = v

    assert len(got) == len(exp)
    got_bag = sorted((k, ts, v) for (k, ts, _), (v, _) in got.items())
    exp_bag = sorted((k, ts, v) for (k, ts, _), v in exp.items())
    assert got_bag == exp_bag


# -- partition-scoped mutations ≡ full-snapshot mutations ------------------


def _none_safe_bag(df, cols):
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(map(tuple, df.select(*cols).collect()), key=key)


def _drop_with_location(spark, table):
    """DROP the table and any merge residue AND clear the warehouse
    dir — a hypothesis shrink that aborts mid-example can leave the
    location behind, and the next example's saveAsTable then fails
    with LOCATION_ALREADY_EXISTS."""
    import shutil

    for t in (table, f"{table}__merge_stage", f"{table}__merge_old"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = loc.removeprefix("file:")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)


PART_ROWS = st.lists(
    st.tuples(
        st.integers(0, 20),                      # id
        st.one_of(st.none(), st.integers(-5, 5)),  # v (nullable!)
        st.sampled_from(["a", "b", "c", "a\\b", "it's"]),  # partition
    ),
    min_size=1, max_size=12,
)

PRED = st.sampled_from([
    "p = 'a'",                      # whole-partition
    "p = 'a' AND id >= 5",          # partial within one partition
    "v > 0",                        # cross-partition, NULL-bearing
    "id % 2 = 0",                   # cross-partition
    "id > 999",                     # no-op
])


@SETTINGS
@given(rows=PART_ROWS, pred=PRED)
@pytest.mark.slow
def test_delete_where_on_partitioned_table_equiv_full_rewrite(spark, rows, pred):
    """delete_where on a partitioned table (partition-scoped rewrite)
    must leave EXACTLY the rows it leaves on an unpartitioned copy
    (full-snapshot rewrite) — partition scoping is a cost
    optimization, never a semantics change (including SQL NULL
    handling: a NULL predicate keeps the row)."""
    from nineinfra_spark.operators.merge import delete_where

    for t in ("prop_dp", "prop_df"):
        _drop_with_location(spark, t)
    df = spark.createDataFrame(rows, "id long, v long, p string")
    df.write.partitionBy("p").saveAsTable("prop_dp")
    df.write.saveAsTable("prop_df")

    delete_where(spark, "prop_dp", pred)
    delete_where(spark, "prop_df", pred)

    got = _none_safe_bag(spark.table("prop_dp"), ["id", "v", "p"])
    exp = _none_safe_bag(spark.table("prop_df"), ["id", "v", "p"])
    assert got == exp
    for t in ("prop_dp", "prop_df"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@SETTINGS
@given(rows=PART_ROWS, pred=PRED)
@pytest.mark.slow
def test_update_where_on_partitioned_table_equiv_full_rewrite(spark, rows, pred):
    from nineinfra_spark.operators.merge import update_where

    for t in ("prop_up", "prop_uf"):
        _drop_with_location(spark, t)
    df = spark.createDataFrame(rows, "id long, v long, p string")
    df.write.partitionBy("p").saveAsTable("prop_up")
    df.write.saveAsTable("prop_uf")

    assignments = {"v": "coalesce(v, 0) * 10 + 1"}
    update_where(spark, "prop_up", pred, assignments)
    update_where(spark, "prop_uf", pred, assignments)

    got = _none_safe_bag(spark.table("prop_up"), ["id", "v", "p"])
    exp = _none_safe_bag(spark.table("prop_uf"), ["id", "v", "p"])
    assert got == exp
    for t in ("prop_up", "prop_uf"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_asof_ntz_gap_is_dst_free(spark):
    """r11 review finding: TIMESTAMP_NTZ gaps routed through a
    session-timezone cast, which is non-linear at DST transitions —
    'nearest' could pick the wrong side by up to an hour and results
    varied with the session timezone. NTZ arithmetic is wall-clock
    now: under Europe/Berlin across the 2026-03-29 spring-forward,
    the forward candidate at a 75-minute wall gap must beat the
    backward candidate at a 90-minute wall gap (the tz-cast route
    collapsed the backward gap to 30 minutes and chose it)."""
    import datetime

    from pyspark.sql import types as T

    from nineinfra_spark.operators.asof import asof_join

    ntz = T.TimestampNTZType()
    lschema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts", ntz)]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", ntz),
            T.StructField("tag", T.StringType()),
        ]
    )
    left = spark.createDataFrame(
        [(1, datetime.datetime(2026, 3, 29, 3, 0, 0))], lschema
    )
    right = spark.createDataFrame(
        [
            (1, datetime.datetime(2026, 3, 29, 1, 30, 0), "backward"),
            (1, datetime.datetime(2026, 3, 29, 4, 15, 0), "forward"),
        ],
        rschema,
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
    try:
        out = asof_join(
            left, right, on="k", ts="ts", direction="nearest"
        ).collect()
        assert len(out) == 1
        assert out[0]["tag_right"] == "forward"
        # tolerance is wall-clock too: 80 min admits only the forward
        out2 = asof_join(
            left,
            right.filter("tag = 'backward'"),
            on="k",
            ts="ts",
            direction="nearest",
            tolerance_s=80 * 60,
        ).collect()
        assert out2[0]["tag_right"] is None  # 90-min wall gap > 80 min
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_asof_join_rejects_reserved_and_colliding_columns(spark):
    """Internal working columns (__is_left, __r), the struct's __ts
    field, and suffixed output names that shadow left columns are
    refused up front instead of silently duplicating (r13 review)."""
    import pytest as _pytest

    from nineinfra_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1.0, 5.0)], "k long, ts double, __r double")
    right = spark.createDataFrame([(1, 1.0, 2.0)], "k long, ts double, px double")
    with _pytest.raises(ValueError, match="internal working columns"):
        asof_join(left, right, on="k", ts="ts")
    l2 = spark.createDataFrame([(1, 1.0)], "k long, ts double")
    r2 = spark.createDataFrame([(1, 1.0, 2.0)], "k long, ts double, __ts double")
    with _pytest.raises(ValueError, match="__ts"):
        asof_join(l2, r2, on="k", ts="ts")
    l3 = spark.createDataFrame(
        [(1, 1.0, 9.9)], "k long, ts double, px_right double"
    )
    r3 = spark.createDataFrame([(1, 1.0, 2.0)], "k long, ts double, px double")
    with _pytest.raises(ValueError, match="suffixed right-payload"):
        asof_join(l3, r3, on="k", ts="ts")
    # a different suffix resolves the clash
    out = asof_join(l3, r3, on="k", ts="ts", suffix="_r")
    assert out.columns == ["k", "ts", "px_right", "px_r", "ts_r"]
