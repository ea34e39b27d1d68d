"""Statement templates (``nineinfra_spark/shortcircuit.py``).

A point statement the short circuit served leaves a template; the next
statement of the same text up to its literals is answered from it with
no parser, no optimizer and no Spark job, with the body forced Spark
gives. Invalidation: after each change that can alter the answer or the
name resolution (a re-created or moved table, a shadowing temp view,
another current database, another session conf or doAs user, a
rewritten or added file, a cached table, a literal past the int range)
the next statement is not answered from its template, and its body is
forced Spark's. Shapes whose literals the optimizer derives from other
literals never leave one.
"""

from __future__ import annotations

import base64
import json
import os
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_mysql_wire import Client
from test_shortcircuit import _forced_spark, _jobs, _optimizer_calls

from nineinfra_spark import shortcircuit
from nineinfra_spark.mysql_wire import start_mysql_gateway
from nineinfra_spark.rest import start_rest_gateway

_POINT = "SELECT * FROM {t} WHERE k = {k}"


def _write(path, n: int = 20, tag: str = "a", files: int = 1, k_type=pa.int64()) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "k": pa.array(range(n), k_type),
        "s": pa.array([f"{tag}{i}" for i in range(n)]),
        "ts": pa.array([1_600_000_000_000_000 + i for i in range(n)], pa.timestamp("us", tz="UTC")),
    })
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{tag}-{f}.parquet"))


@pytest.fixture(scope="module")
def rest(spark):
    gw = start_rest_gateway(spark, port=0, auth=lambda user, pw: pw == "pw",
                            proxy_acl={"admin": "*"})
    yield gw
    gw.stop()


@pytest.fixture
def table(spark, tmp_path):
    """``tt``: one file of 20 rows at ``tmp_path/a``."""
    _write(str(tmp_path / "a"))
    spark.sql(f"CREATE TABLE tt USING parquet LOCATION '{tmp_path / 'a'}'")
    yield tmp_path
    spark.sql("DROP TABLE IF EXISTS tt")


def _headers(session=None, proxy=None) -> dict:
    headers = {"Authorization": "Basic " + base64.b64encode(b"admin:pw").decode()}
    if session:
        headers["X-Session-Id"] = session
    if proxy:
        headers["X-Proxy-User"] = proxy
    return headers


def _sql(gw, sql: str, session=None, proxy=None, cursor=False, limit=1000) -> tuple[int, bytes]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{gw.port}/api/v1/sql",
        data=json.dumps({"sql": sql, "cursor": cursor, "limit": limit}).encode(),
        headers={"Content-Type": "application/json", **_headers(session, proxy)},
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read()


def _templated() -> int:
    return shortcircuit.fetch_metrics()["templated"]


def _spark_body(gw, sql, session=None, proxy=None, limit=1000):
    with _forced_spark():
        return _sql(gw, sql, session, proxy, limit=limit)


def _recorded(spark, gw, first: str, second: str, session=None, proxy=None, limit=1000) -> None:
    """``first`` is served and leaves a template; ``second`` is answered
    from it with no Spark job and forced Spark's body."""
    assert _sql(gw, first, session, proxy, limit=limit)[0] == 200
    before = _templated()
    got, jobs = _jobs(spark, lambda: _sql(gw, second, session, proxy, limit=limit))
    assert (got[0], jobs, _templated() - before) == (200, 0, 1), got
    assert got == _spark_body(gw, second, session, proxy, limit)


def _not_templated(gw, sql: str, session=None, proxy=None) -> bytes:
    """``sql`` is not answered from a template, and its body is forced
    Spark's."""
    before = _templated()
    got = _sql(gw, sql, session, proxy)
    assert _templated() == before, sql
    assert got == _spark_body(gw, sql, session, proxy)
    return got[1]


# -- hits ----------------------------------------------------------------------


def test_hit_skips_parser_and_optimizer(spark, rest, table):
    """A hit runs neither ``SparkSession.sql`` nor the optimizer, in
    one-shot and cursor mode alike."""
    from pyspark.sql import SparkSession

    _sql(rest, _POINT.format(t="tt", k=1))
    assert _sql(rest, _POINT.format(t="tt", k=1), cursor=True)[0] == 200
    calls = []
    saved = SparkSession.sql
    SparkSession.sql = lambda self, *a, **k: calls.append(a) or saved(self, *a, **k)
    try:
        with _optimizer_calls() as box:
            one_shot = _sql(rest, _POINT.format(t="tt", k=7))
            cursor = _sql(rest, _POINT.format(t="tt", k=8), cursor=True)
    finally:
        SparkSession.sql = saved
    assert (calls, box["calls"]) == ([], 0)
    assert json.loads(one_shot[1])["rows"][0][:2] == [7, "a7"]
    assert json.loads(cursor[1])["columns"] == ["k", "s", "ts"]


def test_comments_and_typed_literals_share_a_template(spark, rest, table):
    """Comments are not part of the text a template matches, and a
    typed timestamp literal is a slot."""
    sql = "/*op={}*/SELECT k, s FROM tt WHERE ts >= TIMESTAMP '{}' AND k IN ({}, {})"
    _recorded(
        spark, rest,
        sql.format(1, "2020-09-13 12:26:40", 1, 2),
        sql.format(2, "2020-09-13 12:26:40.000003", 3, 9),
    )


def test_truncated_window_comes_from_spark(spark, rest, table):
    """A template's read that matches more rows than the window falls
    through: Spark answers the truncated window."""
    sql = "SELECT k FROM tt WHERE k >= {}"
    _recorded(spark, rest, sql.format(15), sql.format(16), limit=5)
    before = _templated()
    got, jobs = _jobs(spark, lambda: _sql(rest, sql.format(0), limit=5))
    assert (jobs > 0, _templated() - before) == (True, 0)
    assert json.loads(got[1])["truncated"] is True
    assert got == _spark_body(rest, sql.format(0), limit=5)


# -- invalidation ---------------------------------------------------------------


@pytest.mark.parametrize("change", ["location", "schema"])
def test_recreated_table_is_not_templated(spark, rest, table, change):
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2))
    path = table / "b"
    _write(str(path), tag="b", k_type=pa.int64() if change == "location" else pa.int32())
    spark.sql("DROP TABLE tt")
    spark.sql(f"CREATE TABLE tt USING parquet LOCATION '{path}'")
    body = _not_templated(rest, _POINT.format(t="tt", k=3))
    assert json.loads(body)["rows"][0][1] == "b3"


def test_set_location_is_not_templated(spark, rest, table):
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2))
    _write(str(table / "b"), tag="b")
    spark.sql(f"ALTER TABLE tt SET LOCATION '{table / 'b'}'")
    body = _not_templated(rest, _POINT.format(t="tt", k=3))
    assert json.loads(body)["rows"][0][1] == "b3"


def test_shadowing_temp_view_is_not_templated(spark, rest, table):
    sid = "tt-view"
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2), sid)
    status, _ = _sql(rest, "CREATE TEMPORARY VIEW tt AS SELECT * FROM VALUES "
                           "(3L, 'view', TIMESTAMP '2000-01-01') AS v(k, s, ts)", sid)
    assert status == 200
    body = _not_templated(rest, _POINT.format(t="tt", k=3), sid)
    assert json.loads(body)["rows"][0][1] == "view"


@pytest.fixture
def other_db(spark, tmp_path):
    """``tt_db.tt``: the same name in another database, other rows."""
    _write(str(tmp_path / "other"), tag="o")
    spark.sql("CREATE DATABASE IF NOT EXISTS tt_db")
    spark.sql(f"CREATE TABLE tt_db.tt USING parquet LOCATION '{tmp_path / 'other'}'")
    yield
    spark.sql("DROP TABLE IF EXISTS tt_db.tt")
    spark.sql("DROP DATABASE IF EXISTS tt_db")


def test_use_other_database_is_not_templated_on_rest(spark, rest, table, other_db):
    sid = "tt-use"
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2), sid)
    assert _sql(rest, "USE tt_db", sid)[0] == 200
    body = _not_templated(rest, _POINT.format(t="tt", k=3), sid)
    assert json.loads(body)["rows"][0][1] == "o3"


def test_use_other_database_is_not_templated_on_mysql(spark, table, other_db):
    gw = start_mysql_gateway(spark, port=0)
    c = Client(gw.port)
    try:
        c.handshake()
        assert c.query(_POINT.format(t="tt", k=1))[1][0][1] == "a1"
        before = _templated()
        assert c.query(_POINT.format(t="tt", k=2))[1][0][1] == "a2"
        assert _templated() - before == 1
        c.seq = 0
        c.send_packet(bytes([0x02]) + b"tt_db")
        assert c.read_packet()[0] == 0x00
        before = _templated()
        assert c.query(_POINT.format(t="tt", k=3))[1][0][1] == "o3"
        assert _templated() == before
    finally:
        c.close()
        gw.stop()


def test_changed_session_conf_is_not_templated(spark, rest, table):
    sid = "tt-conf"
    sql = "SELECT k, ts FROM tt WHERE k = {}"
    _recorded(spark, rest, sql.format(1), sql.format(2), sid)
    assert _sql(rest, "SET spark.sql.session.timeZone=America/Los_Angeles", sid)[0] == 200
    _not_templated(rest, sql.format(3), sid)


def test_doas_user_is_not_templated(spark, rest, table):
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2), "tt-doas")
    body = _not_templated(rest, _POINT.format(t="tt", k=3), "tt-doas", proxy="bob")
    assert json.loads(body)["effectiveUser"] == "bob"


def test_external_rewrite_is_not_templated(spark, rest, table):
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2))
    path = table / "a" / "part-a-0.parquet"
    table_b = pa.table({"k": pa.array(range(30), pa.int64()),
                        "s": pa.array([f"z{i}" for i in range(30)]),
                        "ts": pa.array([0] * 30, pa.timestamp("us", tz="UTC"))})
    pq.write_table(table_b, str(path))
    spark.sql("REFRESH TABLE tt")
    body = _not_templated(rest, _POINT.format(t="tt", k=3))
    assert json.loads(body)["rows"][0][1] == "z3"


def test_insert_into_is_not_templated(spark, rest, table):
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2))
    spark.sql("INSERT INTO tt VALUES (3, 'new', TIMESTAMP '2001-01-01 00:00:00')")
    body = _not_templated(rest, _POINT.format(t="tt", k=3))
    assert sorted(r[1] for r in json.loads(body)["rows"]) == ["a3", "new"]


def test_cached_table_is_not_templated(spark, rest, table):
    _recorded(spark, rest, _POINT.format(t="tt", k=1), _POINT.format(t="tt", k=2))
    spark.sql("CACHE TABLE tt")
    try:
        _not_templated(rest, _POINT.format(t="tt", k=3))
    finally:
        spark.sql("UNCACHE TABLE tt")


def test_int_slot_past_int_range_is_not_templated(spark, rest, table, tmp_path):
    """2147483648 is a bigint literal: another class, so another text."""
    _write(str(tmp_path / "i"), tag="i", k_type=pa.int32())
    spark.sql(f"CREATE TABLE tt_int USING parquet LOCATION '{tmp_path / 'i'}'")
    try:
        _recorded(spark, rest, _POINT.format(t="tt_int", k=1), _POINT.format(t="tt_int", k=2))
        for k in (2147483648, -2147483649):
            body = _not_templated(rest, _POINT.format(t="tt_int", k=k))
            assert json.loads(body)["rows"] == []
    finally:
        spark.sql("DROP TABLE IF EXISTS tt_int")


def test_smallint_slot_takes_smallint_values_only(spark, rest, tmp_path):
    """An int literal over a smallint column is narrowed by the
    optimizer; a value past the smallint range falls through."""
    _write(str(tmp_path / "si"), tag="si", k_type=pa.int16())
    spark.sql(f"CREATE TABLE tt_si USING parquet LOCATION '{tmp_path / 'si'}'")
    try:
        _recorded(spark, rest, _POINT.format(t="tt_si", k=1), _POINT.format(t="tt_si", k=2))
        body = _not_templated(rest, _POINT.format(t="tt_si", k=40000))
        assert json.loads(body)["rows"] == []
    finally:
        spark.sql("DROP TABLE IF EXISTS tt_si")


@pytest.mark.parametrize(
    "first,second",
    [
        # a verbatim literal the optimizer folds against a slot's value
        ("SELECT * FROM tt WHERE k = 3 AND k + 1 = 4", "SELECT * FROM tt WHERE k = 5 AND k + 1 = 4"),
        # LIKE without wildcards becomes =: its pattern is no slot
        ("SELECT * FROM tt WHERE s LIKE 'a1' AND k = 1", "SELECT * FROM tt WHERE s LIKE 'a%' AND k = 1"),
        # two slots of one value claim one literal
        ("SELECT * FROM tt WHERE k = 3 AND k = 3", "SELECT * FROM tt WHERE k = 4 AND k = 3"),
        ("SELECT * FROM tt WHERE k = 3 OR k = 4", "SELECT * FROM tt WHERE k = 5 OR k = 6"),
        # a value not in the text
        ("SELECT * FROM tt WHERE ts < current_timestamp() AND k = 1",
         "SELECT * FROM tt WHERE ts < current_timestamp() AND k = 2"),
    ],
)
def test_derived_literals_leave_no_template(spark, rest, table, first, second):
    assert _sql(rest, first)[0] == 200
    _not_templated(rest, second)
    assert len(shortcircuit._templates) == 0


def test_variable_in_a_string_is_not_templated(spark, rest, tmp_path):
    """Spark substitutes ``${...}`` in the text before it parses, also
    inside a string, so such a text never matches a template."""
    app = spark.conf.get("spark.app.name")
    os.makedirs(tmp_path / "v")
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                             "s": ["${spark.app.name}", app, "x"]}),
                   str(tmp_path / "v" / "part-0.parquet"))
    spark.sql(f"CREATE TABLE tt_var USING parquet LOCATION '{tmp_path / 'v'}'")
    try:
        sql = "SELECT * FROM tt_var WHERE s = '{}'"
        _recorded(spark, rest, sql.format("x"), sql.format(app))
        body = _not_templated(rest, sql.format("${spark.app.name}"))
        assert json.loads(body)["rows"] == [[2, app]]
    finally:
        spark.sql("DROP TABLE IF EXISTS tt_var")


def _owned(owner: int) -> int:
    return sum(t.owner == owner for v in shortcircuit._templates.values() for t in v.values())


def test_templates_go_with_their_session(spark, table):
    """A template holds JVM objects that keep the session it was
    recorded in alive; once that session is gone, its templates are
    dropped."""
    import gc

    clone = spark.newSession()
    owner = shortcircuit._handles(clone).owner
    before = _templated()
    rows = [shortcircuit.fetch(clone, _POINT.format(t="tt", k=k), 1000)[1] for k in (1, 2)]
    assert ([r[0][:2] for r in rows], _templated() - before, _owned(owner)) == (
        [(1, "a1"), (2, "a2")], 1, 1)
    del clone, rows
    # pyspark's RDD.toDF closes over the newest session; another one
    # takes its place
    spark.newSession()
    gc.collect()
    shortcircuit.fetch(spark, _POINT.format(t="tt", k=3), 1000)
    assert _owned(owner) == 0


# -- decoded columns ------------------------------------------------------------


@pytest.mark.parametrize("fits", [True, False])
def test_decoded_bound_is_per_table(spark, rest, tmp_path, monkeypatch, fits):
    """Columns are decoded and cached only while all of a table's files
    fit the bound together; past it, each file under the bound alone,
    the read goes through ``pyarrow.dataset``. Both give forced Spark's
    body, rows in the order of Spark's scan (its longest file first)."""
    _write(str(tmp_path / "m"), n=40, tag="m", files=4)
    files = sorted((tmp_path / "m").iterdir())
    sizes = [pq.ParquetFile(str(f)).metadata for f in files]
    sizes = [sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups)) for md in sizes]
    monkeypatch.setattr(shortcircuit, "_DECODED_MAX", sum(sizes) - (0 if fits else 1))
    assert max(sizes) < shortcircuit._DECODED_MAX
    spark.sql(f"CREATE TABLE tt_m USING parquet LOCATION '{tmp_path / 'm'}'")
    try:
        sql = "SELECT k, s FROM tt_m WHERE k >= {} AND k < 35"
        misses = shortcircuit.fetch_metrics()["decodedMisses"]
        _recorded(spark, rest, sql.format(5), sql.format(6))
        got = json.loads(_sql(rest, sql.format(6))[1])["rows"]
        assert sorted(r[0] for r in got) == list(range(6, 35))
        assert (shortcircuit.fetch_metrics()["decodedMisses"] > misses) is fits
    finally:
        spark.sql("DROP TABLE IF EXISTS tt_m")


def test_files_spark_may_split_keep_spark(spark, rest, tmp_path):
    """Spark may split a file longer than ``openCostInBytes`` and read
    other files between its pieces: a table of several files with such a
    file is not served."""
    _write(str(tmp_path / "sp"), n=40, tag="sp", files=4)
    spark.sql(f"CREATE TABLE tt_sp USING parquet LOCATION '{tmp_path / 'sp'}'")
    spark.conf.set("spark.sql.files.openCostInBytes", "100")
    try:
        served = shortcircuit.fetch_metrics()["served"]
        _not_templated(rest, "SELECT k, s FROM tt_sp WHERE k >= 6")
        assert shortcircuit.fetch_metrics()["served"] == served
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
        spark.sql("DROP TABLE IF EXISTS tt_sp")
