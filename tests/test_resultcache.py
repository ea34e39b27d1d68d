"""Fetch result cache (``nineinfra_spark/shortcircuit.py``).

Hits: generated joins and aggregates over a pinned and an unpinned
dimension, answered from one session and then another; the second
answer is the first one byte for byte, runs no Spark job and equals
the body forced Spark gives. Invalidation: a Spark write, an external
rewrite, a re-pin, another session conf and a doAs user each make the
next answer a miss that runs Spark. Refusals: answers that must never
be reused run Spark every time. Bounds: entries and rows evict in LRU
order. Counters: ``GET /api/v1/metrics``.
"""

from __future__ import annotations

import base64
import json
import os
import re
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from test_shortcircuit import _forced_spark, _jobs, _post

from nineinfra_spark import shortcircuit
from nineinfra_spark.rest import start_rest_gateway

N_FACT = 300


def _fact_table(n: int, seed: int = 0) -> pa.Table:
    return pa.table({
        "k": pa.array([(i * 7 + seed) % 10 for i in range(n)], pa.int32()),
        "k2": pa.array([(i + seed) % 5 for i in range(n)], pa.int32()),
        "v": pa.array([(i * 37 + seed) % 1000 for i in range(n)], pa.int64()),
        "s": pa.array([f"s{i % 13}" for i in range(n)]),
    })


def _write_fact(path: str, n: int = N_FACT, seed: int = 0, files: int = 2) -> None:
    os.makedirs(path, exist_ok=True)
    table = _fact_table(n, seed)
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))


@pytest.fixture(scope="module")
def rest(spark):
    gw = start_rest_gateway(spark, port=0)
    yield gw
    gw.stop()


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """``rc_fact`` (two files), ``rc_dim`` (pinned) and ``rc_dim2``."""
    root = tmp_path_factory.mktemp("resultcache")
    _write_fact(str(root / "fact"))
    for name, key, col, n in (("dim", "k", "name", 10), ("dim2", "k2", "region", 5)):
        (root / name).mkdir()
        pq.write_table(
            pa.table({key: pa.array(range(n), pa.int32()),
                      col: pa.array([f"{col}-{i % 4}" for i in range(n)])}),
            str(root / name / "part-0.parquet"),
        )
    for name in ("fact", "dim", "dim2"):
        spark.sql(f"CREATE TABLE rc_{name} USING parquet LOCATION '{root / name}'")
    spark.catalog.cacheTable("rc_dim")
    spark.table("rc_dim").count()
    yield root
    spark.catalog.uncacheTable("rc_dim")
    for name in ("fact", "dim", "dim2"):
        spark.sql(f"DROP TABLE IF EXISTS rc_{name}")


def _delta(before: dict) -> dict:
    after = shortcircuit.fetch_metrics()
    return {k: after[k] - before[k] for k in shortcircuit._COUNTERS if after[k] != before[k]}


def _spark_body(gw, payload, session=None):
    with _forced_spark():
        return _post(gw, payload, session)


# -- hits --------------------------------------------------------------------


@st.composite
def _statements(draw):
    joins = draw(st.sampled_from([(), ("dim",), ("dim2",), ("dim", "dim2")]))
    sql = "FROM rc_fact f"
    groups = ["f.s", "f.k"]
    if "dim" in joins:
        sql += " JOIN rc_dim p ON f.k = p.k"
        groups.append("p.name")
    if "dim2" in joins:
        sql += " JOIN rc_dim2 u ON f.k2 = u.k2"
        groups.append("u.region")
    sql += f" WHERE f.v >= {draw(st.integers(0, 990))}"
    if draw(st.booleans()):
        g = draw(st.sampled_from(groups))
        agg = draw(st.sampled_from(["sum(f.v)", "count(*)", "min(f.v)", "max(f.s)", "avg(f.v)"]))
        return f"SELECT {g} AS g, {agg} AS m {sql} GROUP BY {g} ORDER BY g"
    cols = ", ".join(draw(st.lists(st.sampled_from(groups + ["f.v"]), min_size=1, max_size=3,
                                   unique=True)))
    return f"SELECT {cols} {sql} ORDER BY {cols}, f.v, f.s, f.k2"


@given(_statements(), st.sampled_from([1000, 1000, 50]))
@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_repeat_from_another_session_is_a_hit(spark, rest, tables, sql, limit):
    """The first answer runs Spark; the same statement from a second
    session is the same body byte for byte with no Spark job; both
    equal forced Spark's body. A truncated first window is not
    stored, so its repeat runs Spark again."""
    shortcircuit._results.clear()
    payload = {"sql": sql, "limit": limit}
    first, jobs1 = _jobs(spark, lambda: _post(rest, payload, "rc-a"))
    assert first[0] == 200, first
    assert jobs1 > 0
    before = shortcircuit.fetch_metrics()
    second, jobs2 = _jobs(spark, lambda: _post(rest, payload, "rc-b"))
    assert second == first
    truncated = json.loads(first[1])["truncated"]
    assert (jobs2 == 0) is not truncated, (sql, limit)
    assert _delta(before) == ({"misses": 1, "spark": 1} if truncated else {"hits": 1})
    assert _spark_body(rest, payload, "rc-b") == first


# -- invalidation ------------------------------------------------------------


_AGG = "SELECT k, sum(v) AS m, count(*) AS n FROM {t} GROUP BY k ORDER BY k"


def _stored_then(spark, gw, payload, session=None, session2=None, analysis_jobs=0):
    """Store ``payload``'s answer, and check that a repeat (from
    ``session2`` when given) is a hit that runs no job past the
    ``analysis_jobs`` of ``sess.sql``; returns the body."""
    first = _post(gw, payload, session)
    assert first[0] == 200, first
    before = shortcircuit.fetch_metrics()
    again, jobs = _jobs(spark, lambda: _post(gw, payload, session2 or session))
    assert (again, jobs, _delta(before)) == (first, analysis_jobs, {"hits": 1})
    return first


def _assert_miss(spark, gw, payload, session=None):
    """The next answer runs Spark, is a miss, and is forced Spark's."""
    before = shortcircuit.fetch_metrics()
    got, jobs = _jobs(spark, lambda: _post(gw, payload, session))
    assert jobs > 0
    assert _delta(before) == {"misses": 1, "spark": 1, "stored": 1}
    assert got == _spark_body(gw, payload, session)
    return got


def test_spark_insert_makes_a_miss(spark, rest, tmp_path):
    _write_fact(str(tmp_path / "t"))
    spark.sql(f"CREATE TABLE rc_ins USING parquet LOCATION '{tmp_path / 't'}'")
    try:
        payload = {"sql": _AGG.format(t="rc_ins")}
        old = _stored_then(spark, rest, payload)
        spark.sql("INSERT INTO rc_ins VALUES (3, 1, 5000, 'new')")
        new = _assert_miss(spark, rest, payload)
        assert new != old
    finally:
        spark.sql("DROP TABLE IF EXISTS rc_ins")


def test_external_rewrite_makes_a_miss(spark, rest, tmp_path):
    """A file rewritten by another writer (here pyarrow) changes its
    size and mtime: the next answer is Spark's over the new file."""
    path = tmp_path / "ext"
    _write_fact(str(path), files=1)
    payload = {"sql": _AGG.format(t=f"parquet.`{path}`")}
    # a path query infers the file schema with one job at analysis
    old = _stored_then(spark, rest, payload, analysis_jobs=1)
    pq.write_table(_fact_table(N_FACT + 7, seed=1), str(path / "part-0.parquet"))
    new = _assert_miss(spark, rest, payload)
    assert new != old


def test_repin_makes_a_miss(spark, rest, tables):
    payload = {"sql": "SELECT p.name, sum(f.v) AS m FROM rc_fact f JOIN rc_dim p "
                      "ON f.k = p.k GROUP BY p.name ORDER BY p.name"}
    _stored_then(spark, rest, payload)
    spark.catalog.uncacheTable("rc_dim")
    spark.catalog.cacheTable("rc_dim")
    spark.table("rc_dim").count()
    _assert_miss(spark, rest, payload)


@pytest.mark.parametrize(
    "conf", ["spark.sql.ansi.enabled=false", "spark.sql.session.timeZone=America/Los_Angeles"]
)
def test_other_session_conf_makes_a_miss(spark, rest, tables, conf):
    payload = {"sql": "SELECT s, sum(v) AS m, max(CAST(k AS TIMESTAMP)) AS t FROM rc_fact "
                      "GROUP BY s ORDER BY s"}
    _stored_then(spark, rest, payload, "rc-conf-a", "rc-conf-b")
    sid = f"rc-conf-{conf}"
    assert _post(rest, {"sql": f"SET {conf}"}, sid)[0] == 200
    _assert_miss(spark, rest, payload, sid)


def _request(gw, path: str, payload: dict | None = None, headers: dict | None = None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{gw.port}{path}",
        data=None if payload is None else json.dumps(payload).encode(),
        headers={"Content-Type": "application/json", **(headers or {})},
        method="GET" if payload is None else "POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read(), dict(r.headers)
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read(), dict(exc.headers)


def _basic(user: str) -> dict:
    return {"Authorization": "Basic " + base64.b64encode(f"{user}:pw".encode()).decode()}


@pytest.fixture(scope="module")
def authed(spark):
    gw = start_rest_gateway(
        spark, port=0, auth=lambda user, pw: pw == "pw", proxy_acl={"admin": "*"}
    )
    yield gw
    gw.stop()


def test_doas_user_makes_a_miss(spark, authed, tables):
    payload = {"sql": _AGG.format(t="rc_fact")}

    def post(sid, proxy=None):
        headers = {**_basic("admin"), "X-Session-Id": sid}
        if proxy:
            headers["X-Proxy-User"] = proxy
        status, body, _ = _request(authed, "/api/v1/sql", payload, headers)
        return status, body

    first = post("rc-doas-1")
    assert first[0] == 200
    assert _jobs(spark, lambda: post("rc-doas-2")) == (first, 0)
    before = shortcircuit.fetch_metrics()
    (status, body), jobs = _jobs(spark, lambda: post("rc-doas-1", proxy="bob"))
    assert (status, jobs > 0) == (200, True)
    assert _delta(before) == {"misses": 1, "spark": 1, "stored": 1}
    out = json.loads(body)
    assert out.pop("effectiveUser") == "bob"
    assert out == json.loads(first[1])


# -- answers that are never stored -------------------------------------------


def _assert_never_stored(spark, gw, payload, kind: str):
    """Two answers, both from Spark, and nothing stored."""
    outs = []
    for _ in range(2):
        before = shortcircuit.fetch_metrics()
        out, jobs = _jobs(spark, lambda: _post(gw, payload))
        assert jobs > 0, payload
        assert _delta(before) == {kind: 1, "spark": 1}, payload
        outs.append(out)
    assert len(shortcircuit._results) == 0
    return outs


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT k, rand() AS r FROM rc_fact WHERE v > 900",
        "SELECT max(v) AS m, current_timestamp() AS t FROM rc_fact",
        "SELECT k FROM rc_fact WHERE v > (SELECT avg(v) FROM rc_fact) ORDER BY k",
        "SELECT sum(rc_plus_one(v)) AS m FROM rc_fact",
        "SELECT s, count(*) AS n FROM rc_rdd GROUP BY s ORDER BY s",
    ],
    ids=["rand", "current_timestamp", "scalar_subquery", "python_udf", "logical_rdd"],
)
def test_unreusable_plans_are_refused(spark, rest, tables, sql):
    spark.udf.register("rc_plus_one", lambda x: x + 1, "bigint")
    rdd = spark.sparkContext.parallelize([("a",), ("b",), ("a",)], 2)
    spark.createDataFrame(rdd, "s string").createOrReplaceTempView("rc_rdd")
    try:
        outs = _assert_never_stored(spark, rest, {"sql": sql}, "refused")
        assert all(status == 200 for status, _ in outs)
    finally:
        spark.catalog.dropTempView("rc_rdd")


def test_truncated_window_is_never_stored(spark, rest, tables):
    payload = {"sql": "SELECT k, v FROM rc_fact ORDER BY v, k", "limit": 5}
    outs = _assert_never_stored(spark, rest, payload, "misses")
    assert outs[0] == outs[1] == _spark_body(rest, payload)
    assert json.loads(outs[0][1])["truncated"] is True


def test_error_is_never_stored(spark, rest, tables):
    """A statement that fails in its tasks fails the same way twice,
    as forced Spark does (up to job, stage and task numbers)."""
    payload = {"sql": "SELECT CAST(s AS INT) AS x FROM rc_fact"}
    outs = _assert_never_stored(spark, rest, payload, "misses")
    outs.append(_spark_body(rest, payload))

    def error(out):
        status, body = out
        return status, re.sub(r"\d+", "#", json.loads(body)["error"])

    assert error(outs[0]) == error(outs[1]) == error(outs[2])
    assert outs[0][0] == 400 and "CAST_INVALID_INPUT" in error(outs[0])[1]


# -- sharing and bounds ------------------------------------------------------


def test_mysql_frontend_shares_hits(spark, rest, tables):
    from test_mysql_wire import Client

    from nineinfra_spark.mysql_wire import start_mysql_gateway

    sql = _AGG.format(t="rc_fact")
    assert _post(rest, {"sql": sql})[0] == 200  # stored by REST (shared session)
    gw = start_mysql_gateway(spark, port=0)
    try:
        def query():
            c = Client(gw.port)
            try:
                c.handshake()
                return c.query(sql)
            finally:
                c.close()

        before = shortcircuit.fetch_metrics()
        served, jobs = _jobs(spark, query)
        assert (jobs, _delta(before)) == (0, {"hits": 1})
        with _forced_spark():
            assert query() == served
    finally:
        gw.stop()


def _filtered(t: int) -> dict:
    return {"sql": f"SELECT k, count(*) AS n FROM rc_fact WHERE v >= {t} GROUP BY k ORDER BY k"}


@pytest.mark.parametrize("bound", ["entries", "rows"])
def test_bounds_evict_least_recently_used(spark, rest, tables, monkeypatch, bound):
    """With room for two ten-row answers, storing a third evicts the
    one least recently used: A and B stored, A hit, C stored, so B is
    gone while A and C still hit."""
    if bound == "entries":
        monkeypatch.setattr(shortcircuit._results, "max_entries", 2)
    else:
        monkeypatch.setattr(shortcircuit._results, "max_weight", 25)
    a, b, c = _filtered(1), _filtered(2), _filtered(3)
    before = shortcircuit.fetch_metrics()
    for payload in (a, b, a, c):
        assert _post(rest, payload)[0] == 200
    assert _delta(before) == {"misses": 3, "spark": 3, "stored": 3, "hits": 1, "evicted": 1}
    assert (len(shortcircuit._results), shortcircuit._results.weight) == (2, 20)
    for payload, jobs in ((a, 0), (c, 0), (b, 1)):
        got, ran = _jobs(spark, lambda: _post(rest, payload))
        assert (ran > 0) == bool(jobs), payload
        assert got == _spark_body(rest, payload)


# -- cost --------------------------------------------------------------------


def test_miss_reads_versions_through_held_handles(spark, tables):
    """A miss's probe and its two version readings make at most 32 py4j
    round trips for a join of a two-file table and a pinned one. The
    listing is read once: the reading after the Spark run stats the
    files and asks only the pinned relation (three round trips)."""
    limited = spark.sql(
        "SELECT f.k, sum(f.v) AS m FROM rc_fact f JOIN rc_dim p ON f.k = p.k GROUP BY f.k"
    ).limit(1001)
    shortcircuit._Probe(limited)  # session handles and pattern sequence, once per process
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    counts = {}
    client.send_command = counted
    try:
        probe = shortcircuit._Probe(limited)
        counts["probe"] = len(calls)
        for reading in ("before", "after"):
            del calls[:]
            probe.versions()
            counts[reading] = len(calls)
    finally:
        client.send_command = send
    assert counts["after"] == 3, counts
    assert sum(counts.values()) <= 32, counts


# -- counters ----------------------------------------------------------------


def test_metrics_endpoint_counts_and_authenticates(spark, authed, tables):
    status, body, headers = _request(authed, "/api/v1/metrics")
    assert status == 401 and headers.get("WWW-Authenticate") == 'Basic realm="nineinfra"'
    wrong = {"Authorization": "Basic " + base64.b64encode(b"admin:wrong").decode()}
    assert _request(authed, "/api/v1/metrics", headers=wrong)[0] == 401

    def metrics():
        status, body, _ = _request(authed, "/api/v1/metrics", headers=_basic("admin"))
        assert status == 200
        return json.loads(body)

    def sql(text):
        status, _, _ = _request(authed, "/api/v1/sql", {"sql": text}, _basic("admin"))
        assert status == 200

    before = metrics()
    decoded = ("decodedHits", "decodedMisses")
    assert set(before) == set(shortcircuit._COUNTERS + decoded) | {
        "cacheEntries", "cacheRows", "decodedBytes"}
    sql("SELECT * FROM rc_fact WHERE k = 3")  # short circuit, leaves a template
    sql("SELECT * FROM rc_fact WHERE k = 4")  # template
    sql(_AGG.format(t="rc_fact"))  # miss, stored
    sql(_AGG.format(t="rc_fact"))  # hit
    sql("SELECT k, rand() AS r FROM rc_fact WHERE v > 990")  # refused
    after = metrics()
    assert {k: after[k] - before[k] for k in shortcircuit._COUNTERS + decoded} == {
        "served": 1, "templated": 1, "hits": 1, "misses": 1, "refused": 1, "stored": 1,
        "evicted": 0, "spark": 2,
        # four columns in each of two files: decoded by the first read,
        # found by the second
        "decodedMisses": 8, "decodedHits": 8,
    }
    assert (after["cacheEntries"], after["cacheRows"]) == (1, 10)
    assert after["decodedBytes"] == shortcircuit._decoded.weight > 0
