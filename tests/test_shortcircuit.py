"""Short-circuit point statements (``nineinfra_spark/shortcircuit.py``).

Differential: every generated statement shape is written twice with
separately drawn literals, and both statements are sent through the
REST frontend as served (the second may be answered from the first's
template) and with the eligibility function, templates and result
cache replaced so Spark answers; each pair of response bodies must
agree — byte for byte on a one-file table, as row multisets with equal
``rowCount``/``truncated`` on a multi-file one. Refusal: each plan the
short circuit must not answer runs Spark jobs and gives Spark's body
and status; a qualifying point statement runs none. Cursors: the same
statements opened with ``cursor: true`` page identically when served
from the driver and when streamed by Spark.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import random
import urllib.error
import urllib.request
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nineinfra_spark import shortcircuit
from nineinfra_spark.rest import start_rest_gateway

N_ROWS = 48

#: column → (arrow type, generator of one non-null value)
_UTC = dt.timezone.utc
_COLUMNS = {
    "i": (pa.int32(), lambda r: r.randint(-5, 5)),
    "bi": (pa.int64(), lambda r: r.randint(-(2**40), 2**40)),
    "si": (pa.int16(), lambda r: r.randint(-3, 3)),
    "b": (pa.bool_(), lambda r: r.random() < 0.5),
    "x": (pa.float64(), lambda r: r.choice(
        [float("nan"), -0.0, 0.0, float("inf"), float("-inf"), 1.5, -2.25])),
    "dec": (pa.decimal128(10, 3), lambda r: Decimal(r.randint(-9999, 9999)).scaleb(-3)),
    "s": (pa.string(), lambda r: r.choice(["", "a", "é", "日本", "ß z", "A"])),
    "d": (pa.date32(), lambda r: r.choice(
        [dt.date(1500, 3, 1), dt.date(1970, 1, 1), dt.date(2024, 2, 29), dt.date(1, 1, 1)])),
    "tsn": (pa.timestamp("us"), lambda r: r.choice(
        [dt.datetime(2001, 2, 3, 4, 5, 6, 789000), dt.datetime(1969, 12, 31, 23, 59, 59),
         dt.datetime(2030, 1, 1)])),
    "tsz": (pa.timestamp("us", tz="UTC"), lambda r: r.choice(
        [dt.datetime(2001, 2, 3, 4, 5, 6, 789000, tzinfo=_UTC),
         dt.datetime(1999, 12, 31, 23, 0, tzinfo=_UTC), dt.datetime(2020, 6, 1, tzinfo=_UTC)])),
    "bin": (pa.binary(), lambda r: r.choice([b"", b"\x00\xff", b"ab", b"\xe9"])),
}


def _write_table(path: str, seed: int, n_files: int) -> None:
    """``N_ROWS`` seeded rows over every proven type, with nulls in
    every column, split into ``n_files`` parquet files."""
    rng = random.Random(seed)
    cols = {
        name: [None if rng.random() < 0.2 else gen(rng) for _ in range(N_ROWS)]
        for name, (_, gen) in _COLUMNS.items()
    }
    cols["i"][0] = 3  # a key the refusal tests can rely on
    table = pa.table({n: pa.array(v, _COLUMNS[n][0]) for n, v in cols.items()})
    os.makedirs(path)
    step = -(-N_ROWS // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))


@pytest.fixture(scope="module")
def rest(spark):
    gw = start_rest_gateway(spark, port=0)
    yield gw
    gw.stop()


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """``sc_one`` (one file) and ``sc_multi`` (three files), the same
    generator with different seeds."""
    root = tmp_path_factory.mktemp("shortcircuit")
    out = {}
    for name, seed, n_files in (("sc_one", 1, 1), ("sc_multi", 2, 3)):
        path = str(root / name)
        _write_table(path, seed, n_files)
        spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")
        out[name] = path
    yield out
    for name in out:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _post(
    gw, payload: dict | None, session: str | None = None,
    path: str = "/api/v1/sql", method: str = "POST",
) -> tuple[int, bytes]:
    headers = {"Content-Type": "application/json"}
    if session is not None:
        headers["X-Session-Id"] = session
    req = urllib.request.Request(
        f"http://127.0.0.1:{gw.port}{path}",
        data=None if payload is None else json.dumps(payload).encode(),
        headers=headers,
        method=method,
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read()


@contextlib.contextmanager
def _forced_spark():
    """Every plan refused by the eligibility check, and the template
    store and result cache bypassed: Spark answers."""
    saved = shortcircuit._point_read, shortcircuit._cached_collect, shortcircuit._template_answer
    shortcircuit._point_read = lambda limited, limit: None
    shortcircuit._cached_collect = lambda limited, limit: limited.collect()
    shortcircuit._template_answer = lambda sess, text, mode, window: None
    try:
        yield
    finally:
        (shortcircuit._point_read, shortcircuit._cached_collect,
         shortcircuit._template_answer) = saved


@contextlib.contextmanager
def _served_counter():
    """Counts the statements the short circuit answered."""
    saved = shortcircuit._PointRead.rows
    box = {"served": 0}

    def rows(self, limit):
        out = saved(self, limit)
        box["served"] += out is not None
        return out

    shortcircuit._PointRead.rows = rows
    try:
        yield box
    finally:
        shortcircuit._PointRead.rows = saved


def _jobs(spark, fn):
    """``(fn(), Spark jobs it ran)``. The gateway's handler threads run
    jobs outside any job group, so new ids in the group-less set are
    counted once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _both(gw, payload: dict, session: str | None = None):
    """(served response, forced-Spark response), each ``(status, body)``."""
    served = _post(gw, payload, session)
    with _forced_spark():
        spark_side = _post(gw, payload, session)
    return served, spark_side


# -- generated statements ----------------------------------------------------


def _sql_literal(col: str, v) -> str:
    if v is None:
        return "NULL"
    if col in ("i", "bi"):
        return str(v)
    if col == "si":
        return f"CAST({v} AS SMALLINT)"
    if col == "b":
        return "true" if v else "false"
    if col == "x":
        return f"double('{v}')"
    if col == "dec":
        return f"CAST('{v}' AS DECIMAL(10,3))"
    if col == "s":
        return "'" + v.replace("'", "''") + "'"
    if col == "d":
        return f"DATE '{v.isoformat()}'"
    if col == "tsn":
        return f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'"
    if col == "tsz":
        return f"TIMESTAMP '{v.replace(tzinfo=None).isoformat(sep=' ')}'"
    return "X'" + v.hex() + "'"


#: per column, literals that occur in the tables plus ones that do not
_LITERALS = {
    "i": [-5, 0, 3, 99],
    "bi": [0, 2**41, -(2**41)],
    "si": [-3, 0, 2, 77],
    "b": [True, False],
    "x": [float("nan"), -0.0, 1.5, float("inf"), float("-inf")],
    "dec": [Decimal("0.000"), Decimal("1.234"), Decimal("-9.999")],
    "s": ["", "a", "é", "日本", "zzz"],
    "d": [dt.date(1500, 3, 1), dt.date(1970, 1, 1), dt.date(1000, 1, 1)],
    "tsn": [dt.datetime(2001, 2, 3, 4, 5, 6, 789000), dt.datetime(2000, 1, 1)],
    "tsz": [dt.datetime(2001, 2, 3, 4, 5, 6, 789000), dt.datetime(2020, 6, 1)],
    "bin": [b"", b"ab"],
}


@st.composite
def _predicates(draw):
    """One predicate shape, written twice with separately drawn
    literals."""
    col = draw(st.sampled_from(sorted(_COLUMNS)))
    kind = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "in", "in_null", "null", "notnull"]))
    if kind == "null":
        return (f"{col} IS NULL",) * 2
    if kind == "notnull":
        return (f"{col} IS NOT NULL",) * 2
    lits = _LITERALS[col]
    if kind.startswith("in"):
        n = draw(st.integers(1, 3))
        out = []
        for _ in range(2):
            items = [draw(st.sampled_from(lits)) for _ in range(n)]
            if kind == "in_null":
                items.append(None)
            out.append(f"{col} IN ({', '.join(_sql_literal(col, v) for v in items)})")
        return tuple(out)
    return tuple(f"{col} {kind} {_sql_literal(col, draw(st.sampled_from(lits)))}" for _ in range(2))


@st.composite
def _statements(draw):
    """``((first, second), limit)``: one statement shape with two draws
    of its literals, so the second may be answered from the first's
    template."""
    preds = draw(st.lists(_predicates(), min_size=1, max_size=2))
    cols = draw(st.one_of(
        st.just(["*"]),
        st.lists(st.sampled_from(sorted(_COLUMNS)), min_size=1, max_size=4, unique=True),
    ))
    limit = draw(st.sampled_from([1000, 1000, 5]))
    stmts = tuple(
        f"SELECT {', '.join(cols)} FROM {{t}} WHERE {' AND '.join(p[i] for p in preds)}"
        for i in (0, 1)
    )
    return stmts, limit


def _multiset(body: bytes) -> dict:
    out = json.loads(body)
    if "rows" in out:
        out["rows"] = sorted(json.dumps(r) for r in out["rows"])
    return out


def _differential(rest, stmts, limit: int, table: str) -> list:
    """Both statements answered as served (the second possibly from the
    first's template) and with Spark forced; the bodies agree. Returns
    whether each was answered with 200."""
    payloads = [{"sql": stmt.format(t=table), "limit": limit} for stmt in stmts]
    served = [_post(rest, payload) for payload in payloads]
    with _forced_spark():
        forced = [_post(rest, payload) for payload in payloads]
    for payload, (s1, b1), (s2, b2) in zip(payloads, served, forced):
        assert s1 == s2, (payload, b1[:300], b2[:300])
        if table == "sc_one":
            assert b1 == b2, payload
        else:
            assert _multiset(b1) == _multiset(b2), payload
    return [status == 200 for status, _ in served]


@contextlib.contextmanager
def _templated():
    """Counts the statements answered from a template."""
    box = {"before": shortcircuit.fetch_metrics()["templated"]}
    try:
        yield box
    finally:
        box["templated"] = shortcircuit.fetch_metrics()["templated"] - box["before"]


_SETTINGS = dict(
    deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow]
)


@pytest.mark.parametrize("table", ["sc_one", "sc_multi"])
def test_differential_rest_bodies(rest, tables, table):
    """Served and forced-Spark REST bodies agree for generated
    statements over every proven type, each shape run twice with new
    literals; the short circuit and the templates answered a good share
    of them (the comparison is not vacuous)."""
    with _served_counter() as box, _templated() as templated:
        oks = []

        @given(_statements())
        @settings(max_examples=30, **_SETTINGS)
        def check(case):
            oks.extend(_differential(rest, case[0], case[1], table))

        check()
    assert sum(oks) >= 40
    assert box["served"] >= 16
    assert templated["templated"] >= 4


@pytest.mark.slow
@pytest.mark.parametrize("table", ["sc_one", "sc_multi"])
def test_differential_rest_bodies_long(rest, tables, table):
    """The same property over more examples."""

    with _templated() as templated:

        @given(_statements())
        @settings(max_examples=200, **_SETTINGS)
        def check(case):
            _differential(rest, case[0], case[1], table)

        check()
    assert templated["templated"] >= 20


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM sc_one WHERE i = 3",
        "SELECT s, d, tsz, bin FROM sc_one WHERE s = 'é' AND d >= DATE '1500-03-01'",
        "SELECT * FROM sc_one WHERE tsn IS NULL",
        "SELECT i, b FROM sc_one WHERE 0 < i AND b",
        "SELECT * FROM sc_multi WHERE i IN (3, -1, NULL)",
        "SELECT * FROM sc_one WHERE i = 12345",
    ],
)
def test_point_statement_runs_no_spark_job(spark, rest, tables, sql):
    """A qualifying statement is answered with no Spark job, with the
    body forced Spark gives."""
    (status, body), jobs = _jobs(spark, lambda: _post(rest, {"sql": sql}))
    assert status == 200
    assert jobs == 0
    with _forced_spark():
        spark_side = _post(rest, {"sql": sql})
    if "sc_multi" in sql:
        assert _multiset(body) == _multiset(spark_side[1])
    else:
        assert (status, body) == spark_side


# -- refusals ----------------------------------------------------------------


def _assert_spark_answers(spark, rest, payload, session=None):
    (served, jobs) = _jobs(spark, lambda: _post(rest, payload, session))
    assert jobs > 0, payload
    with _forced_spark():
        spark_side = _post(rest, payload, session)
    assert served == spark_side, payload
    return served


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT a.i, b.s FROM sc_one a JOIN sc_one b ON a.i = b.i WHERE a.i = 3",
        "SELECT count(*) AS n FROM sc_one WHERE i = 3",
        "SELECT i, s FROM sc_one WHERE i IS NOT NULL ORDER BY i, s, bi",
        "SELECT i FROM sc_one WHERE i = 3 LIMIT 1",
        "SELECT i + 1 AS j FROM sc_one WHERE i = 3",
        "SELECT * FROM sc_one WHERE x > 0",
        "SELECT * FROM sc_one WHERE bin = X'6162'",
    ],
)
def test_other_plans_run_spark(spark, rest, tables, sql):
    _assert_spark_answers(spark, rest, {"sql": sql})


def test_result_larger_than_limit_runs_spark(spark, rest, tables):
    out = _assert_spark_answers(spark, rest, {"sql": "SELECT * FROM sc_one", "limit": 5})
    assert json.loads(out[1])["truncated"] is True


def test_pinned_table_runs_spark(spark, rest, tables):
    spark.catalog.cacheTable("sc_one")
    try:
        spark.table("sc_one").count()
        _assert_spark_answers(spark, rest, {"sql": "SELECT * FROM sc_one WHERE i = 3"})
    finally:
        spark.catalog.uncacheTable("sc_one")


def test_csv_and_partitioned_tables_run_spark(spark, rest, tmp_path):
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, None, 10)], "k INT, s STRING, p INT")
    df.write.csv(str(tmp_path / "csv"))
    df.write.partitionBy("p").parquet(str(tmp_path / "part"))
    spark.sql(f"CREATE TABLE sc_csv (k INT, s STRING, p INT) USING csv LOCATION '{tmp_path}/csv'")
    spark.sql(
        f"CREATE TABLE sc_part (k INT, s STRING, p INT) USING parquet "
        f"PARTITIONED BY (p) LOCATION '{tmp_path}/part'"
    )
    try:
        spark.sql("MSCK REPAIR TABLE sc_part")
        for t in ("sc_csv", "sc_part"):
            _assert_spark_answers(spark, rest, {"sql": f"SELECT * FROM {t} WHERE k = 3"})
    finally:
        spark.sql("DROP TABLE IF EXISTS sc_csv")
        spark.sql("DROP TABLE IF EXISTS sc_part")


def test_declared_schema_differing_from_files_runs_spark(spark, rest, tables):
    """A declared schema that leaves out file columns (or adds one the
    files lack) is refused: Spark's nulls and projections decide."""
    path = tables["sc_one"]
    for name, cols in (("sc_sub", "i INT, s STRING"), ("sc_extra", "i INT, s STRING, zz INT")):
        if name == "sc_extra":
            cols = ", ".join(f"{c} {t}" for c, t in (
                ("i", "INT"), ("bi", "BIGINT"), ("si", "SMALLINT"), ("b", "BOOLEAN"),
                ("x", "DOUBLE"), ("dec", "DECIMAL(10,3)"), ("s", "STRING"), ("d", "DATE"),
                ("tsn", "TIMESTAMP_NTZ"), ("tsz", "TIMESTAMP"), ("bin", "BINARY"), ("zz", "INT")))
        spark.sql(f"CREATE TABLE {name} ({cols}) USING parquet LOCATION '{path}'")
        try:
            _assert_spark_answers(spark, rest, {"sql": f"SELECT * FROM {name} WHERE i = 3"})
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.parametrize(
    "conf", ["spark.sql.caseSensitive", "spark.sql.files.ignoreCorruptFiles"]
)
def test_non_default_session_conf_runs_spark(spark, rest, tables, conf):
    sid = f"sc-{conf}"
    status, _ = _post(rest, {"sql": f"SET {conf}=true"}, sid)
    assert status == 200
    _assert_spark_answers(spark, rest, {"sql": "SELECT * FROM sc_one WHERE i = 3"}, sid)


def test_file_deleted_after_create_gives_spark_status(spark, rest, tmp_path):
    path = str(tmp_path / "gone")
    _write_table(path, 3, 1)
    spark.sql(f"CREATE TABLE sc_gone USING parquet LOCATION '{path}'")
    try:
        payload = {"sql": "SELECT * FROM sc_gone WHERE i = 3"}
        assert _post(rest, payload)[0] == 200
        os.remove(os.path.join(path, "part-0.parquet"))
        (s1, _), (s2, _) = _both(rest, payload)
        assert s1 == s2
    finally:
        spark.sql("DROP TABLE IF EXISTS sc_gone")


def test_legacy_calendar_file_runs_spark_unless_its_dates_are_modern(spark, rest, tmp_path):
    """A file that says a Spark 2 writer made it is rebased from the
    hybrid calendar by Spark's reader; the driver cannot do that, so
    an old date in it keeps Spark (which shifts it), and a file whose
    dates are all past the calendar switch is still served."""
    for name, day in (("sc_legacy_old", dt.date(1500, 3, 1)), ("sc_legacy_new", dt.date(1999, 1, 1))):
        path = tmp_path / name
        path.mkdir()
        table = pa.table({"k": pa.array([1, 2], pa.int64()), "d": pa.array([day, None])})
        table = table.replace_schema_metadata({"org.apache.spark.version": "2.4.0"})
        pq.write_table(table, str(path / "part-0.parquet"))
        spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")
        try:
            payload = {"sql": f"SELECT * FROM {name} WHERE k = 1"}
            if name == "sc_legacy_old":
                body = _assert_spark_answers(spark, rest, payload)[1]
                assert json.loads(body)["rows"][0][1] != day.isoformat()  # rebased
            else:
                (status, body), jobs = _jobs(spark, lambda: _post(rest, payload))
                assert (status, jobs) == (200, 0)
                with _forced_spark():
                    assert _post(rest, payload) == (status, body)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


# -- cursors -----------------------------------------------------------------


def _fetch(gw, sid: str, page: int, session: str | None = None) -> tuple[int, bytes]:
    return _post(gw, {"max": page}, session, path=f"/api/v1/statements/{sid}/fetch")


def _cursor(gw, sql: str, page: int, session: str | None = None) -> list:
    """Open ``sql`` as a cursor and drain it in pages of ``page`` rows:
    the open response (statement id left out) and every fetch
    response, each ``(status, body)``, up to the first error or the
    page with ``hasMore: false``."""
    status, body = _post(gw, {"sql": sql, "cursor": True}, session)
    if status != 200:
        return [(status, body)]
    opened = json.loads(body)
    sid = opened.pop("statementId")
    out = [(status, json.dumps(opened).encode())]
    while True:
        status, body = _fetch(gw, sid, page, session)
        out.append((status, body))
        if status != 200 or not json.loads(body)["hasMore"]:
            return out


def _drained(pages: list) -> tuple:
    """A drained cursor up to page order: the open response, the fetch
    statuses and errors, the rows as a multiset, the total
    ``rowCount`` and the last ``hasMore``."""
    bodies = [json.loads(b) for _, b in pages[1:]]
    return (
        pages[0],
        [(s, b.get("error")) for (s, _), b in zip(pages[1:], bodies)],
        sorted(json.dumps(r) for b in bodies for r in b.get("rows", [])),
        sum(b.get("rowCount", 0) for b in bodies),
        bodies[-1].get("hasMore") if bodies else None,
    )


def _cursor_differential(rest, stmts, page: int, table: str) -> list:
    """Both statements opened as cursors and drained as served (the
    second possibly from the first's template) and with Spark forced;
    the pages agree. Returns whether each drained with 200s."""
    sqls = [stmt.format(t=table) for stmt in stmts]
    served = [_cursor(rest, sql, page) for sql in sqls]
    with _forced_spark():
        forced = [_cursor(rest, sql, page) for sql in sqls]
    oks = []
    for sql, got, want in zip(sqls, served, forced):
        if table == "sc_one":
            assert got == want, (sql, page)
        else:
            assert _drained(got) == _drained(want), (sql, page)
        ok = all(status == 200 for status, _ in got)
        if ok:
            assert _drained(got)[4] is False, (sql, page)
        oks.append(ok)
    return oks


_PAGES = st.sampled_from([1, 7, 500])


@pytest.mark.parametrize("table", ["sc_one", "sc_multi"])
def test_differential_cursor_pages(rest, tables, table):
    """Generated statements opened as cursors and drained with a drawn
    page size: every page is byte-equal to forced Spark's on one file,
    and the drained rows agree as a multiset on three files; the short
    circuit and the templates served a good share of them, each shape
    run twice with new literals."""
    with _served_counter() as box, _templated() as templated:
        oks = []

        @given(_statements(), _PAGES)
        @settings(max_examples=30, **_SETTINGS)
        def check(case, page):
            oks.extend(_cursor_differential(rest, case[0], page, table))

        check()
    assert sum(oks) >= 40
    assert box["served"] >= 16
    assert templated["templated"] >= 4


@pytest.mark.slow
@pytest.mark.parametrize("table", ["sc_one", "sc_multi"])
def test_differential_cursor_pages_long(rest, tables, table):
    """The same property over more examples."""

    with _templated() as templated:

        @given(_statements(), _PAGES)
        @settings(max_examples=200, **_SETTINGS)
        def check(case, page):
            _cursor_differential(rest, case[0], page, table)

        check()
    assert templated["templated"] >= 20


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM sc_one",
        "SELECT i, s, bin FROM sc_one WHERE i IS NOT NULL",
        "SELECT * FROM sc_multi WHERE i IN (3, -1, NULL)",
        "WITH x AS (SELECT * FROM sc_one WHERE i > 0) SELECT i, s FROM x WHERE i = 3",
    ],
)
def test_qualifying_cursor_runs_no_spark_job(spark, rest, tables, sql):
    """Opening and draining a qualifying cursor runs no Spark job and
    pages as forced Spark does."""
    served, jobs = _jobs(spark, lambda: _cursor(rest, sql, 7))
    assert jobs == 0
    assert all(status == 200 for status, _ in served)
    with _forced_spark():
        spark_side = _cursor(rest, sql, 7)
    if "sc_multi" in sql:
        assert _drained(served) == _drained(spark_side)
    else:
        assert served == spark_side


def _assert_cursor_spark_answers(spark, rest, sql, page=7, session=None) -> list:
    served, jobs = _jobs(spark, lambda: _cursor(rest, sql, page, session))
    assert jobs > 0, sql
    with _forced_spark():
        assert _cursor(rest, sql, page, session) == served, sql
    return served


def test_join_cursor_runs_spark(spark, rest, tables):
    _assert_cursor_spark_answers(
        spark, rest, "SELECT a.i, b.s FROM sc_one a JOIN sc_one b ON a.i = b.i WHERE a.i = 3"
    )


def test_pinned_table_cursor_runs_spark(spark, rest, tables):
    spark.catalog.cacheTable("sc_one")
    try:
        spark.table("sc_one").count()
        _assert_cursor_spark_answers(spark, rest, "SELECT * FROM sc_one WHERE i IS NOT NULL")
    finally:
        spark.catalog.uncacheTable("sc_one")


def test_case_sensitive_session_cursor_runs_spark(spark, rest, tables):
    sid = "sc-cursor-case"
    assert _post(rest, {"sql": "SET spark.sql.caseSensitive=true"}, sid)[0] == 200
    _assert_cursor_spark_answers(spark, rest, "SELECT * FROM sc_one WHERE i = 3", session=sid)


def test_cursor_over_the_cap_streams_every_row_from_spark(spark, rest, tmp_path):
    """One file of ``MAX_FETCH_LIMIT + 1`` rows qualifies but holds more
    rows than a driver-side cursor may: Spark streams all of them."""
    from nineinfra_spark.rest import MAX_FETCH_LIMIT

    n = MAX_FETCH_LIMIT + 1
    path = tmp_path / "sc_big"
    path.mkdir()
    pq.write_table(pa.table({"k": pa.array(range(n), pa.int64())}), str(path / "part-0.parquet"))
    spark.sql(f"CREATE TABLE sc_big USING parquet LOCATION '{path}'")
    try:
        with _served_counter() as box:
            pages = _assert_cursor_spark_answers(
                spark, rest, "SELECT * FROM sc_big", page=MAX_FETCH_LIMIT
            )
        assert box["served"] == 0
        bodies = [json.loads(b) for _, b in pages[1:]]
        assert [(b["rowCount"], b["hasMore"]) for b in bodies] == [
            (MAX_FETCH_LIMIT, True), (1, False)
        ]
        assert [r[0] for b in bodies for r in b["rows"]] == list(range(n))
    finally:
        spark.sql("DROP TABLE IF EXISTS sc_big")


def _open_served(spark, rest, sql: str) -> str:
    (status, body), jobs = _jobs(spark, lambda: _post(rest, {"sql": sql, "cursor": True}))
    assert (status, jobs) == (200, 0)
    return json.loads(body)["statementId"]


def test_served_cursor_stops_at_the_exact_boundary(spark, rest, tables):
    """A short-circuited result that ends on a page boundary says
    ``hasMore: false`` on that page, and the handle is then gone."""
    sid = _open_served(spark, rest, "SELECT i FROM sc_one")
    pages = [json.loads(_fetch(rest, sid, N_ROWS // 2)[1]) for _ in range(2)]
    assert [(p["rowCount"], p["hasMore"]) for p in pages] == [
        (N_ROWS // 2, True), (N_ROWS // 2, False)
    ]
    assert _fetch(rest, sid, 1)[0] == 404


def test_served_cursor_delete_then_404(spark, rest, tables):
    sid = _open_served(spark, rest, "SELECT * FROM sc_one")
    status, body = _fetch(rest, sid, 5)
    assert status == 200 and json.loads(body)["hasMore"]
    status, body = _post(rest, None, path=f"/api/v1/statements/{sid}", method="DELETE")
    assert (status, json.loads(body)) == (200, {"closed": sid})
    assert _fetch(rest, sid, 5)[0] == 404


def test_served_cursor_eviction_is_404_and_frees_its_rows(spark, rest, tables):
    """LRU eviction of a paged short-circuited cursor answers 404, as
    for a Spark-backed one, and drops the rows it held."""
    import nineinfra_spark.rest as R

    statements = rest._server.RequestHandlerClass.statements
    old_cap = R.MAX_STATEMENTS
    R.MAX_STATEMENTS = 3
    try:
        victim = _open_served(spark, rest, "SELECT * FROM sc_one")
        held = statements[victim]
        status, body = _fetch(rest, victim, 10)
        assert status == 200 and json.loads(body)["hasMore"]
        for _ in range(R.MAX_STATEMENTS + 1):
            _open_served(spark, rest, "SELECT i FROM sc_one WHERE i = 3")
        assert _fetch(rest, victim, 1)[0] == 404
        assert next(held._it, None) is None
    finally:
        R.MAX_STATEMENTS = old_cap


@contextlib.contextmanager
def _optimizer_calls():
    """Counts the optimizer runs the eligibility check asks for."""
    saved = shortcircuit._optimized
    box = {"calls": 0}

    def spy(qe):
        box["calls"] += 1
        return saved(qe)

    shortcircuit._optimized = spy
    try:
        yield box
    finally:
        shortcircuit._optimized = saved


@pytest.mark.parametrize(
    "sql,calls",
    [
        ("SELECT a.i, b.s FROM sc_one a JOIN sc_one b ON a.i = b.i", 0),
        ("SELECT i, count(*) AS n FROM sc_one GROUP BY i", 0),
        ("SELECT * FROM sc_one WHERE i = 3", 1),
        ("WITH x AS (SELECT * FROM sc_one WHERE i > 0) SELECT i, s FROM x WHERE i = 3", 1),
    ],
)
def test_refusal_before_the_optimizer(rest, tables, sql, calls):
    """A join or aggregate cursor is refused on its analyzed plan, with
    no optimizer run for the short circuit; a qualifying one pays
    exactly one, also when a CTE (a second leaf until the optimizer
    inlines it) names the table."""
    with _optimizer_calls() as box:
        pages = _cursor(rest, sql, 500)
    assert all(status == 200 for status, _ in pages)
    assert box["calls"] == calls


def test_binary_cells_are_base64(spark, rest, tmp_path):
    """A binary cell reads as standard padded base64 in one-shot bodies
    and cursor pages, served and with Spark forced."""
    path = tmp_path / "sc_bin"
    path.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()), "bin": pa.array([b"\x00\xff", None])}),
        str(path / "part-0.parquet"),
    )
    spark.sql(f"CREATE TABLE sc_bin USING parquet LOCATION '{path}'")
    sql = "SELECT bin FROM sc_bin WHERE k = 1"
    try:
        for forced in (False, True):
            with _forced_spark() if forced else contextlib.nullcontext():
                with _served_counter() as box:
                    status, body = _post(rest, {"sql": sql})
                    pages = _cursor(rest, sql, 500)
            assert box["served"] == (0 if forced else 2)
            assert (status, json.loads(body)["rows"]) == (200, [["AP8="]])
            assert [json.loads(b)["rows"] for _, b in pages[1:]] == [[["AP8="]]]
    finally:
        spark.sql("DROP TABLE IF EXISTS sc_bin")
