"""REST SQL frontend (the Kyuubi REST role, ninecluster_metadata.go:22-27).

A real HTTP client (urllib, over the wire on localhost) runs SQL
against the engine session's registered views — liveness, result
shape, fetch-limit truncation, and error mapping. The server is a
daemon thread on the shared session, so no subprocess/JVM isolation
is needed (unlike the thrift gateway, it sets no session conf).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from nineinfra_spark.engine import register_testdata
from nineinfra_spark.rest import start_rest_gateway

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def rest(spark):
    register_testdata(spark, SF)
    gw = start_rest_gateway(spark, port=0)  # OS-assigned, no collisions
    yield gw
    gw.stop()


def _get(gw, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{gw.port}{path}") as r:
        return json.loads(r.read())


def _post(gw, payload, session=None):
    headers = {"Content-Type": "application/json"}
    if session is not None:
        headers["X-Session-Id"] = session
    req = urllib.request.Request(
        f"http://127.0.0.1:{gw.port}/api/v1/sql",
        data=json.dumps(payload).encode(),
        headers=headers,
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def test_ping(rest):
    assert _get(rest, "/api/v1/ping") == {"status": "ok"}


def test_sql_over_http(rest):
    out = _post(rest, {"sql": "SELECT COUNT(*) AS n FROM nation"})
    assert out["columns"] == ["n"]
    assert out["rows"] == [[25]]
    assert out["truncated"] is False


def test_aggregate_query(rest):
    out = _post(
        rest,
        {
            "sql": (
                "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                "GROUP BY l_returnflag ORDER BY l_returnflag"
            )
        },
    )
    assert [r[0] for r in out["rows"]] == ["A", "N", "R"]
    assert all(isinstance(r[1], int) and r[1] > 0 for r in out["rows"])


def test_fetch_limit_truncates(rest):
    out = _post(rest, {"sql": "SELECT c_custkey FROM customer", "limit": 10})
    assert out["rowCount"] == 10
    assert out["truncated"] is True


def test_sql_error_maps_to_400(rest):
    req = urllib.request.Request(
        f"http://127.0.0.1:{rest.port}/api/v1/sql",
        data=json.dumps({"sql": "SELECT * FROM no_such_table"}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    body = json.loads(ei.value.read())
    assert "no_such_table" in body["error"].lower() or "TABLE_OR_VIEW" in body["error"]


def _post_expect_400(rest, data: bytes) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{rest.port}/api/v1/sql",
        data=data,
        headers={"Content-Type": "application/json"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    return json.loads(ei.value.read())


def test_limit_above_ceiling_rejected(rest):
    """A client cannot defeat the fetch cap: limit above
    MAX_FETCH_LIMIT is a 400, not a driver-side collect of 10**9."""
    body = _post_expect_400(
        rest, json.dumps({"sql": "SELECT 1 AS x", "limit": 10**9}).encode()
    )
    assert "limit" in body["error"]


def test_negative_limit_rejected(rest):
    body = _post_expect_400(
        rest, json.dumps({"sql": "SELECT 1 AS x", "limit": -5}).encode()
    )
    assert "limit" in body["error"]


def test_limit_at_ceiling_accepted(rest):
    from nineinfra_spark.rest import MAX_FETCH_LIMIT

    out = _post(rest, {"sql": "SELECT 1 AS x", "limit": MAX_FETCH_LIMIT})
    assert out["rows"] == [[1]]


def test_non_object_json_body_maps_to_400(rest):
    """A body that parses as JSON but isn't an object ([1], "x", null)
    must map to the documented 400 shape, not kill the handler
    thread with a TypeError."""
    for payload in (b"[1]", b'"x"', b"null", b"3"):
        body = _post_expect_400(rest, payload)
        assert "bad request" in body["error"]


def test_concurrent_clients(rest):
    """The multi-tenant claim: 8 clients fire distinct aggregates
    concurrently (ThreadingHTTPServer → one thread per request, all
    planning on the shared session); every client gets its own
    correct answer."""
    import concurrent.futures

    def one(k: int):
        out = _post(
            rest,
            {"sql": f"SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 8 = {k}"},
        )
        return k, out["rows"][0][0]

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = dict(ex.map(one, range(8)))
    assert len(results) == 8
    assert sum(results.values()) == 150  # sf0.001 customer count
    assert all(n > 0 for n in results.values())


class TestAuth:
    """Salted-MD5 users-table auth (kyuubi.go:55-64,138-164 mirrored
    by nineinfra_spark/auth.py) enforced as HTTP Basic on the REST
    frontend: 401 without/with-bad credentials, 200 with good ones."""

    @pytest.fixture(scope="class")
    def auth_rest(self, spark):
        from nineinfra_spark.auth import UserStore, init_users_table

        register_testdata(spark, SF)
        init_users_table(
            spark, {"admin": "s3cret", "bi_user": "pw2"}, table="nine_auth.users_t"
        )
        store = UserStore(spark, table="nine_auth.users_t")
        gw = start_rest_gateway(spark, port=0, auth=store)
        yield gw
        gw.stop()
        spark.sql("DROP TABLE IF EXISTS nine_auth.users_t")

    @staticmethod
    def _basic(user, pw):
        import base64

        return {"Authorization": "Basic " + base64.b64encode(f"{user}:{pw}".encode()).decode()}

    def _post(self, gw, payload, headers=None):
        req = urllib.request.Request(
            f"http://127.0.0.1:{gw.port}/api/v1/sql",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json", **(headers or {})},
        )
        return urllib.request.urlopen(req)

    def test_missing_credentials_401(self, auth_rest):
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(auth_rest, {"sql": "SELECT 1 AS x"})
        assert ei.value.code == 401
        assert ei.value.headers["WWW-Authenticate"].startswith("Basic")
        assert json.loads(ei.value.read()) == {"error": "unauthorized"}

    def test_bad_password_401(self, auth_rest):
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(auth_rest, {"sql": "SELECT 1 AS x"}, self._basic("admin", "wrong"))
        assert ei.value.code == 401

    def test_unknown_user_401(self, auth_rest):
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(auth_rest, {"sql": "SELECT 1 AS x"}, self._basic("eve", "s3cret"))
        assert ei.value.code == 401

    def test_garbage_basic_header_401(self, auth_rest):
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(
                auth_rest,
                {"sql": "SELECT 1 AS x"},
                {"Authorization": "Basic !!!not-base64!!!"},
            )
        assert ei.value.code == 401

    def test_good_credentials_200(self, auth_rest):
        with self._post(
            auth_rest, {"sql": "SELECT COUNT(*) AS n FROM nation"}, self._basic("admin", "s3cret")
        ) as r:
            assert json.loads(r.read())["rows"] == [[25]]

    def test_second_user_200(self, auth_rest):
        with self._post(
            auth_rest, {"sql": "SELECT 1 AS x"}, self._basic("bi_user", "pw2")
        ) as r:
            assert json.loads(r.read())["rows"] == [[1]]

    def test_ping_stays_open(self, auth_rest):
        # liveness must not require credentials (LB probes)
        assert _get(auth_rest, "/api/v1/ping") == {"status": "ok"}

    def test_stored_form_is_salted_md5(self, spark):
        """The stored password must be the reference's exact form:
        hex(md5('nineinfra' || password)) — never plaintext."""
        import hashlib

        from nineinfra_spark.auth import hash_password

        assert hash_password("abc") == hashlib.md5(b"nineinfraabc").hexdigest()
        assert hash_password("abc") == "59a13902aa0611ae96eb572e26964e40"


def test_engine_config_wires_rest_auth(spark):
    """EngineConfig.rest_auth_table + rest_port → the Engine-started
    frontend enforces HTTP Basic against that table."""
    import base64

    from nineinfra_spark.auth import init_users_table
    from nineinfra_spark.engine import Engine, EngineConfig

    init_users_table(spark, {"ops": "pw"}, table="nine_auth.users_eng")
    eng = Engine(EngineConfig(rest_port=0, rest_auth_table="nine_auth.users_eng"))
    eng.open()
    try:
        gw = eng.rest_gateway
        req = urllib.request.Request(
            f"http://127.0.0.1:{gw.port}/api/v1/sql",
            data=json.dumps({"sql": "SELECT 1 AS x"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 401
        req.add_header(
            "Authorization", "Basic " + base64.b64encode(b"ops:pw").decode()
        )
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read())["rows"] == [[1]]
    finally:
        eng.rest_gateway.stop()
        eng.rest_gateway = None  # NOT eng.close(): shared session must live
        spark.sql("DROP TABLE IF EXISTS nine_auth.users_eng")


def test_engine_config_wires_rest_port():
    """EngineConfig.rest_port plumbs through Engine.open/close. The
    pytest process already holds the shared session, so getOrCreate
    returns it — the REST thread attaches to it and is torn down
    without stopping the shared session (close only stops what this
    Engine opened... the shared SparkSession is process-global, so we
    stop only the gateway here)."""
    from nineinfra_spark.engine import Engine, EngineConfig

    eng = Engine(EngineConfig(rest_port=0))
    eng.open()
    try:
        assert eng.rest_gateway is not None
        assert eng.rest_gateway.port > 0
        assert _get(eng.rest_gateway, "/api/v1/ping") == {"status": "ok"}
    finally:
        eng.rest_gateway.stop()
        eng.rest_gateway = None  # NOT eng.close(): shared session must live


def test_explain_mode_returns_plan_without_executing(rest):
    """explain:true must return the plan text (with the physical-plan
    marker) and NO rows field; a bad explainMode is a 400."""
    out = _post(rest, {"sql": "SELECT 1 AS one", "explain": True})
    assert "plan" in out and "rows" not in out
    assert out["columns"] == ["one"]
    assert "Physical Plan" in out["plan"]

    bad = _post_expect_400(
        rest,
        json.dumps(
            {"sql": "SELECT 1", "explain": True, "explainMode": "bogus"}
        ).encode(),
    )
    assert "explainMode" in bad["error"]


def test_explain_surfaces_doctor_scale_risks(rest):
    """explain:true carries the plan doctor's verdict: a clean plan
    reports scaleRisks: [], a single-partition window reports the
    global-window anti-pattern with a hint — Kyuubi-parity plan mode
    doubles as plan VETTING (r10 verdict item 4)."""
    clean = _post(rest, {"sql": "SELECT 1 AS one", "explain": True})
    assert clean["scaleRisks"] == []

    risky = _post(
        rest,
        {
            "sql": "SELECT id, row_number() OVER (ORDER BY id) AS r "
            "FROM range(100)",
            "explain": True,
        },
    )
    kinds = {f["kind"] for f in risky["scaleRisks"]}
    assert "global-window" in kinds
    for f in risky["scaleRisks"]:
        assert f["hint"] and f["line"]


class TestDoAsImpersonation:
    """Kyuubi-style doAs on the REST frontend (kyuubi.go:55-64 — the
    authorization/isolation half; the Hadoop proxy-user half is
    env-blocked): an authenticated admin may run statements AS another
    user via X-Proxy-User under an explicit ACL; everyone else gets an
    explicit 403, never a silent identity fallback."""

    @pytest.fixture(scope="class")
    def doas_rest(self, spark):
        from nineinfra_spark.auth import UserStore, init_users_table

        register_testdata(spark, SF)
        init_users_table(
            spark,
            {"admin": "s3cret", "etl": "pw-etl", "bi_user": "pw2"},
            table="nine_auth.users_doas",
        )
        store = UserStore(spark, table="nine_auth.users_doas")
        gw = start_rest_gateway(
            spark,
            port=0,
            auth=store,
            proxy_acl={"admin": "*", "etl": {"bi_user"}},
        )
        yield gw
        gw.stop()
        spark.sql("DROP TABLE IF EXISTS nine_auth.users_doas")

    _basic = staticmethod(TestAuth._basic)

    def _post(self, gw, payload, headers=None):
        req = urllib.request.Request(
            f"http://127.0.0.1:{gw.port}/api/v1/sql",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json", **(headers or {})},
        )
        return urllib.request.urlopen(req)

    def test_admin_wildcard_may_impersonate(self, doas_rest):
        with self._post(
            doas_rest,
            {"sql": "SELECT 1 AS x"},
            {**self._basic("admin", "s3cret"), "X-Proxy-User": "bi_user"},
        ) as r:
            out = json.loads(r.read())
        assert out["rows"] == [[1]]
        assert out["effectiveUser"] == "bi_user"

    def test_scoped_admin_only_its_targets(self, doas_rest):
        with self._post(
            doas_rest,
            {"sql": "SELECT 1 AS x"},
            {**self._basic("etl", "pw-etl"), "X-Proxy-User": "bi_user"},
        ) as r:
            assert json.loads(r.read())["effectiveUser"] == "bi_user"
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(
                doas_rest,
                {"sql": "SELECT 1 AS x"},
                {**self._basic("etl", "pw-etl"), "X-Proxy-User": "admin"},
            )
        assert ei.value.code == 403
        assert "may not impersonate" in json.loads(ei.value.read())["error"]

    def test_non_admin_gets_403(self, doas_rest):
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(
                doas_rest,
                {"sql": "SELECT 1 AS x"},
                {**self._basic("bi_user", "pw2"), "X-Proxy-User": "admin"},
            )
        assert ei.value.code == 403

    def test_self_impersonation_is_identity(self, doas_rest):
        with self._post(
            doas_rest,
            {"sql": "SELECT 1 AS x"},
            {**self._basic("bi_user", "pw2"), "X-Proxy-User": "bi_user"},
        ) as r:
            assert json.loads(r.read())["effectiveUser"] == "bi_user"

    def test_effective_users_temp_state_is_isolated(self, doas_rest):
        """A temp view created AS bi_user is invisible AS etl (and to
        the shared session) — per-effective-user session clones."""
        with self._post(
            doas_rest,
            {"sql": "CREATE OR REPLACE TEMP VIEW doas_probe AS SELECT 42 AS v"},
            {**self._basic("admin", "s3cret"), "X-Proxy-User": "bi_user"},
        ):
            pass
        with self._post(
            doas_rest,
            {"sql": "SELECT v FROM doas_probe"},
            {**self._basic("admin", "s3cret"), "X-Proxy-User": "bi_user"},
        ) as r:
            assert json.loads(r.read())["rows"] == [[42]]
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(
                doas_rest,
                {"sql": "SELECT v FROM doas_probe"},
                {**self._basic("admin", "s3cret"), "X-Proxy-User": "etl"},
            )
        assert ei.value.code == 400  # analyzer: view not found in that session

    def test_identity_conf_recorded(self, doas_rest):
        # the effective identity is readable through the SQL conf
        # surface — the hook policy layers / audit taps use
        with self._post(
            doas_rest,
            {"sql": "SET spark.nineinfra.effective.user"},
            {**self._basic("admin", "s3cret"), "X-Proxy-User": "bi_user"},
        ) as r:
            out = json.loads(r.read())
        assert out["rows"][0][1] == "bi_user"

    def test_open_frontend_rejects_impersonation(self, spark):
        register_testdata(spark, SF)
        gw = start_rest_gateway(spark, port=0, proxy_acl={"anyone": "*"})
        try:
            with pytest.raises(urllib.error.HTTPError) as ei:
                self._post(
                    gw,
                    {"sql": "SELECT 1 AS x"},
                    {"X-Proxy-User": "bob"},
                )
            assert ei.value.code == 403
            assert "authenticated" in json.loads(ei.value.read())["error"]
        finally:
            gw.stop()


class TestSessionIsolation:
    """CONNECTION-share semantics: X-Session-Id requests run on a
    per-id newSession() clone — temp views isolated per session,
    catalog tables shared through the one metastore."""

    def test_same_name_temp_views_do_not_collide(self, rest):
        _post(rest, {"sql": "CREATE OR REPLACE TEMP VIEW tv_iso AS SELECT 1 AS x"},
              session="alice")
        _post(rest, {"sql": "CREATE OR REPLACE TEMP VIEW tv_iso AS SELECT 2 AS x"},
              session="bob")
        a = _post(rest, {"sql": "SELECT x FROM tv_iso"}, session="alice")
        b = _post(rest, {"sql": "SELECT x FROM tv_iso"}, session="bob")
        assert a["rows"] == [[1]]
        assert b["rows"] == [[2]]

    def test_other_sessions_cannot_see_the_view(self, rest):
        _post(rest, {"sql": "CREATE OR REPLACE TEMP VIEW tv_priv AS SELECT 7 AS x"},
              session="carol")
        # a fresh session: the view must not resolve
        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(rest, {"sql": "SELECT x FROM tv_priv"}, session="dave")
        assert exc.value.code == 400
        # …and neither must the shared (headerless) session
        with pytest.raises(urllib.error.HTTPError) as exc2:
            _post(rest, {"sql": "SELECT x FROM tv_priv"})
        assert exc2.value.code == 400

    def test_sessions_share_registered_views_and_catalog(self, rest):
        # parquet views registered on the PARENT session are visible
        # in clones? No — temp views are session-local by design; the
        # shared CATALOG (database/tables) is the cross-session
        # surface. Verify both directions.
        got = _post(rest, {"sql": "SELECT COUNT(*) AS n FROM nation"})
        assert got["rows"][0][0] == 25
        # session-scoped client creates a GLOBAL TEMP view: visible to
        # every session via the global_temp database (the documented
        # cross-session handoff for non-catalog state)
        _post(rest, {"sql":
              "CREATE OR REPLACE GLOBAL TEMP VIEW gv_share AS SELECT 9 AS x"},
              session="alice")
        shared = _post(rest, {"sql": "SELECT x FROM global_temp.gv_share"},
                       session="bob")
        assert shared["rows"] == [[9]]

    def test_interleaved_ddl_and_select_across_sessions(self, rest):
        """Two REST sessions interleave temp-view DDL + SELECTs
        concurrently; every client reads ITS OWN value every time."""
        import concurrent.futures

        def client(sid, val):
            for i in range(5):
                _post(rest, {"sql":
                      f"CREATE OR REPLACE TEMP VIEW tv_race AS SELECT {val} AS x"},
                      session=sid)
                got = _post(rest, {"sql": "SELECT x FROM tv_race"}, session=sid)
                assert got["rows"] == [[val]], (sid, i, got)
            return True

        with concurrent.futures.ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(client, "s1", 111), ex.submit(client, "s2", 222)]
            assert all(f.result() for f in futs)


class TestSessionRegistryEviction:
    """ADVICE r7: X-Session-Id is client-controlled, so the per-gateway
    session registry must be bounded — LRU eviction past MAX_SESSIONS,
    with recently-used ids surviving."""

    def test_registry_bounded_under_id_cycling(self, rest):
        from nineinfra_spark.rest import MAX_SESSIONS

        handler = rest._server.RequestHandlerClass
        start = len(handler.sessions)
        for i in range(MAX_SESSIONS + 20):
            _post(rest, {"sql": "SELECT 1 AS one"}, session=f"cycle-{i}")
        assert len(handler.sessions) <= MAX_SESSIONS
        # the most recent ids are the survivors
        assert f"cycle-{MAX_SESSIONS + 19}" in handler.sessions
        assert "cycle-0" not in handler.sessions
        assert start <= MAX_SESSIONS  # sanity: never was unbounded

    def test_recently_used_id_survives_cycling(self, rest):
        from nineinfra_spark.rest import MAX_SESSIONS

        handler = rest._server.RequestHandlerClass
        _post(
            rest,
            {"sql": "CREATE OR REPLACE TEMP VIEW tv_lru AS SELECT 7 AS x"},
            session="keepme",
        )
        # touch "keepme" between bursts so it stays most-recently-used
        for i in range(MAX_SESSIONS - 2):
            _post(rest, {"sql": "SELECT 1 AS one"}, session=f"burst-a-{i}")
        _post(rest, {"sql": "SELECT x FROM tv_lru"}, session="keepme")
        for i in range(MAX_SESSIONS - 2):
            _post(rest, {"sql": "SELECT 1 AS one"}, session=f"burst-b-{i}")
        assert "keepme" in handler.sessions
        out = _post(rest, {"sql": "SELECT x FROM tv_lru"}, session="keepme")
        assert out["rows"] == [[7]]


# -- cursor statements (the Kyuubi ExecuteStatement→FetchResults loop) ------


def _post_path(gw, path, payload, method="POST"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{gw.port}{path}",
        data=json.dumps(payload).encode() if payload is not None else None,
        headers={"Content-Type": "application/json"},
        method=method,
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def test_cursor_pages_through_full_result(rest):
    """250 rows in pages of 100: 100/100/50, hasMore flips on the last
    page, exhausted handle auto-closes (further fetch → 404) — the
    unbounded-extraction path the capped one-shot fetch refuses."""
    opened = _post(
        rest,
        {"sql": "SELECT id FROM range(250) ORDER BY id", "cursor": True},
    )
    sid = opened["statementId"]
    assert opened["columns"] == ["id"]

    seen = []
    p1 = _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 100})
    assert (p1["rowCount"], p1["hasMore"]) == (100, True)
    seen += [r[0] for r in p1["rows"]]
    p2 = _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 100})
    assert (p2["rowCount"], p2["hasMore"]) == (100, True)
    seen += [r[0] for r in p2["rows"]]
    p3 = _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 100})
    assert (p3["rowCount"], p3["hasMore"]) == (50, False)
    seen += [r[0] for r in p3["rows"]]
    assert seen == list(range(250))

    with pytest.raises(urllib.error.HTTPError) as e:
        _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 10})
    assert e.value.code == 404


def test_cursor_exact_boundary_has_no_phantom_page(rest):
    """A result that ends exactly on a page boundary must report
    hasMore=False on that page (the lookahead buffer's job)."""
    sid = _post(rest, {"sql": "SELECT id FROM range(100)", "cursor": True})[
        "statementId"
    ]
    p = _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 100})
    assert (p["rowCount"], p["hasMore"]) == (100, False)


def test_cursor_delete_closes_early(rest):
    sid = _post(rest, {"sql": "SELECT id FROM range(10)", "cursor": True})[
        "statementId"
    ]
    out = _post_path(
        rest, f"/api/v1/statements/{sid}", None, method="DELETE"
    )
    assert out == {"closed": sid}
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 1})
    assert e.value.code == 404


def test_cursor_bad_requests(rest):
    # unknown statement id
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_path(rest, "/api/v1/statements/nope/fetch", {"max": 1})
    assert e.value.code == 404
    # over-cap page size
    sid = _post(rest, {"sql": "SELECT 1 AS x", "cursor": True})["statementId"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_path(rest, f"/api/v1/statements/{sid}/fetch", {"max": 99999})
    assert e.value.code == 400
    # cursor+explain is contradictory
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(rest, {"sql": "SELECT 1", "cursor": True, "explain": True})
    assert e.value.code == 400


def test_cursor_streams_past_the_oneshot_cap(rest):
    """The cursor path must extract MORE rows than MAX_FETCH_LIMIT in
    total — that's its reason to exist — while each page stays capped."""
    from nineinfra_spark.rest import MAX_FETCH_LIMIT

    n = MAX_FETCH_LIMIT + 500
    sid = _post(
        rest, {"sql": f"SELECT id FROM range({n})", "cursor": True}
    )["statementId"]
    total, pages = 0, 0
    while True:
        p = _post_path(
            rest, f"/api/v1/statements/{sid}/fetch", {"max": MAX_FETCH_LIMIT}
        )
        total += p["rowCount"]
        pages += 1
        if not p["hasMore"]:
            break
    assert total == n and pages == 2


def test_cursor_eviction_is_explicit_404_and_releases_iterator(rest):
    """LRU eviction of a paged cursor must surface as an explicit 404
    on the next fetch — never a silently-truncated hasMore=False page
    — and the evicted statement's toLocalIterator generator must be
    CLOSED (r10 review finding: close() races an in-flight fetch
    unless taken under the statement lock)."""
    import nineinfra_spark.rest as R

    old_cap = R.MAX_STATEMENTS
    R.MAX_STATEMENTS = 3
    try:
        victim = _post(
            rest, {"sql": "SELECT id FROM range(500)", "cursor": True}
        )["statementId"]
        p1 = _post_path(
            rest, f"/api/v1/statements/{victim}/fetch", {"max": 100}
        )
        assert p1["rowCount"] == 100 and p1["hasMore"]
        # push the victim out of the LRU
        for _ in range(R.MAX_STATEMENTS + 1):
            _post(rest, {"sql": "SELECT 1 AS x", "cursor": True})
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_path(rest, f"/api/v1/statements/{victim}/fetch", {"max": 1})
        assert e.value.code == 404
    finally:
        R.MAX_STATEMENTS = old_cap


def test_statement_fetch_after_close_raises_not_truncates():
    """r10 ADVICE race: a handler that resolved the statement BEFORE
    the LRU pop acquires the lock AFTER close() already ran. The fetch
    must raise StatementClosedError (handler maps it to 404) — never
    see StopIteration from the closed generator and reply a
    silently-truncated hasMore=False page."""
    from nineinfra_spark.rest import StatementClosedError, _Statement

    def gen():
        yield from [(1,), (2,), (3,)]

    st = _Statement(["x"], gen(), owner="")
    # the racing handler already holds a reference (resolved pre-pop)
    st.close()
    with pytest.raises(StatementClosedError):
        with st.lock:
            st.fetch(10)


class TestAuthSessionIsolation:
    """r11 review finding: with auth enabled, session clones were
    keyed by the client-supplied X-Session-Id ALONE — two different
    authenticated users sending the same sid shared one clone
    (cross-user temp-view/conf exposure). Plain sids are now scoped to
    the authenticated principal."""

    auth_rest = TestAuth.__dict__["auth_rest"]
    _basic = staticmethod(TestAuth._basic)
    _post = TestAuth._post

    def test_same_sid_different_users_do_not_share_state(self, auth_rest):
        h_a = {**self._basic("admin", "s3cret"), "X-Session-Id": "shared-sid"}
        h_b = {**self._basic("bi_user", "pw2"), "X-Session-Id": "shared-sid"}
        with self._post(
            auth_rest,
            {"sql": "CREATE OR REPLACE TEMPORARY VIEW leak_probe AS SELECT 42 AS v"},
            h_a,
        ) as r:
            assert r.status == 200
        # admin sees their own view through the same sid…
        with self._post(
            auth_rest, {"sql": "SELECT v FROM leak_probe"}, h_a
        ) as r:
            assert json.loads(r.read())["rows"] == [[42]]
        # …but bi_user with the SAME sid must NOT
        with pytest.raises(urllib.error.HTTPError) as ei:
            self._post(auth_rest, {"sql": "SELECT v FROM leak_probe"}, h_b)
        assert ei.value.code == 400
        assert "leak_probe" in json.loads(ei.value.read())["error"]

    def test_fetch_401_carries_challenge(self, auth_rest):
        """r11 review finding: statements fetch/DELETE 401s omitted
        the RFC 7235 WWW-Authenticate challenge that /api/v1/sql
        sends — non-preemptive clients could never authenticate."""
        req = urllib.request.Request(
            f"http://127.0.0.1:{auth_rest.port}/api/v1/statements/nope/fetch",
            data=b"{}",
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 401
        assert ei.value.headers["WWW-Authenticate"].startswith("Basic")
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{auth_rest.port}/api/v1/statements/nope",
            method="DELETE",
        )
        with pytest.raises(urllib.error.HTTPError) as ei2:
            urllib.request.urlopen(req2)
        assert ei2.value.code == 401
        assert ei2.value.headers["WWW-Authenticate"].startswith("Basic")


def test_failed_open_unwinds_started_frontends(spark):
    """r12 review finding: a frontend failing mid-Engine.open() (here:
    an invalid MySQL port, configured AFTER the REST frontend starts)
    used to leak the already-running REST gateway — a live endpoint
    serving a session its owner believes never opened. open() must
    stop what it started and re-raise; the pre-existing shared Spark
    session must survive."""
    from nineinfra_spark.engine import Engine, EngineConfig

    eng = Engine(EngineConfig(rest_port=0, mysql_port=-5))
    with pytest.raises(Exception):
        eng.open()
    assert eng.rest_gateway is None
    assert eng.mysql_gateway is None
    assert eng.registration is None
    # the shared session this test runs on is untouched
    assert spark.sql("SELECT 1 AS x").collect()[0]["x"] == 1


class TestOpsEndpoints:
    """operators/diff.py + operators/zorder.py reachable from the
    gateway tier (r12 verdict item 7): the audit loop
    (/ops/table-changes) and the OPTIMIZE loop (/ops/zorder-append)."""

    def _post_op(self, gw, op, payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{gw.port}/api/v1/ops/{op}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    def test_table_changes_over_http(self, spark, rest):
        for t in ("rest_tc", "rest_tc__v0"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.createDataFrame(
            [(1, "A"), (2, "B")], "k long, seg string"
        ).write.saveAsTable("rest_tc__v0")
        spark.createDataFrame(
            [(1, "A"), (3, "C")], "k long, seg string"
        ).write.saveAsTable("rest_tc")
        try:
            out = self._post_op(
                rest, "table-changes", {"table": "rest_tc", "keyCols": ["k"]}
            )
            assert out["columns"] == [
                "k", "change_type", "old_seg", "new_seg", "v_from", "v_to",
            ]
            got = {(r[0], r[1]) for r in out["rows"]}
            assert got == {(2, "delete"), (3, "insert")}
            assert out["truncated"] is False
        finally:
            for t in ("rest_tc", "rest_tc__v0"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_zorder_append_over_http(self, spark, rest, tmp_path):
        from nineinfra_spark.operators.zorder import zorder_layout_write

        base = spark.range(0, 400).selectExpr(
            "id AS x", "(id * 7) % 400 AS y"
        )
        path = str(tmp_path / "layout")
        zorder_layout_write(base, path, ["x", "y"], bits=8, bucket_bits=4)
        out = self._post_op(
            rest,
            "zorder-append",
            {
                "path": path,
                "deltaSql": (
                    "SELECT id + 400 AS x, (id * 7) % 400 AS y "
                    "FROM range(0, 50)"
                ),
            },
        )
        assert out["rows_appended"] == 50
        assert 1 <= out["buckets_dirty"] <= out["buckets_total"]
        assert spark.read.parquet(path).count() == 450

    def test_zorder_append_without_schema_is_400(self, spark, rest, tmp_path):
        """A layout sidecar with no declared data schema is refused
        with the rebuild message, answered as the ops 400."""
        import os

        from nineinfra_spark.operators.zorder import zorder_layout_write

        path = str(tmp_path / "layout")
        zorder_layout_write(
            spark.range(0, 100).selectExpr("id AS x", "id AS y"),
            path, ["x", "y"], bits=8, bucket_bits=4,
        )
        sidecar = os.path.join(path, "_zlayout.json")
        with open(sidecar) as f:
            meta = json.load(f)
        meta["data_columns"] = ["x", "y"]
        del meta["schema"]
        with open(sidecar, "w") as f:
            json.dump(meta, f)
        with pytest.raises(urllib.error.HTTPError) as e:
            self._post_op(
                rest,
                "zorder-append",
                {"path": path, "deltaSql": "SELECT 1L AS x, 2L AS y"},
            )
        assert e.value.code == 400
        assert "rebuild it with zorder_layout_write" in json.loads(
            e.value.read()
        )["error"]

    def test_unknown_op_404(self, rest):
        req = urllib.request.Request(
            f"http://127.0.0.1:{rest.port}/api/v1/ops/nope",
            data=b"{}",
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 404

    def test_missing_field_400(self, rest):
        req = urllib.request.Request(
            f"http://127.0.0.1:{rest.port}/api/v1/ops/table-changes",
            data=json.dumps({"keyCols": ["k"]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400
        assert "missing field" in json.loads(e.value.read())["error"]


class TestBloomProbeEndpoint:
    """operators/bloomindex.py reachable from the gateway tier: the
    point-lookup loop with skipping stats."""

    def test_bloom_probe_over_http(self, spark, rest, tmp_path):
        import hashlib

        from nineinfra_spark.operators.bloomindex import bloom_index_write
        from pyspark.sql import functions as F

        df = spark.range(0, 3000).select(
            (F.col("id") % 60).alias("day"),
            F.md5(F.col("id").cast("string")).alias("key"),
            (F.col("id") * 2).alias("payload"),
        )
        path = str(tmp_path / "bp")
        bloom_index_write(df, path, "day", "key", 16)
        keys = [hashlib.md5(str(i).encode()).hexdigest() for i in (5, 2999)]
        req = urllib.request.Request(
            f"http://127.0.0.1:{rest.port}/api/v1/ops/bloom-probe",
            data=json.dumps({"path": path, "keys": keys}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            out = json.loads(r.read())
        assert out["columns"] == ["day", "key", "payload"]
        assert sorted(x[2] for x in out["rows"]) == [10, 5998]
        assert out["filesTotal"] == 16
        assert out["filesHit"] < out["filesTotal"]
        assert out["filesSkipped"] == out["filesTotal"] - out["filesHit"]
        assert out["truncated"] is False

    def test_nonportable_probe_key_400(self, spark, rest, tmp_path):
        """A probe key whose Python rendering diverges from Spark's
        cast('string') (float, bool) must surface as a clean 400 —
        never a silent false-negative probe (r14 key-type guard)."""
        from nineinfra_spark.operators.bloomindex import bloom_index_write
        from pyspark.sql import functions as F

        df = spark.range(0, 100).select(
            (F.col("id") % 5).alias("day"),
            F.col("id").cast("string").alias("key"),
        )
        path = str(tmp_path / "bk")
        bloom_index_write(df, path, "day", "key", 4)
        req = urllib.request.Request(
            f"http://127.0.0.1:{rest.port}/api/v1/ops/bloom-probe",
            data=json.dumps({"path": path, "keys": [1.5]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400
        assert "str or int" in json.loads(e.value.read())["error"]

    def test_index_without_bits_table_400(self, rest, tmp_path):
        """A sidecar lacking the bits-table marker (an index written
        with its bitmaps inlined in the sidecar) is refused with the
        rebuild message as a clean 400."""
        path = tmp_path / "old"
        path.mkdir()
        (path / "_bloomindex.json").write_text(
            json.dumps({"n_files": 1, "m_bits": 64, "k": 4, "bits": {}})
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{rest.port}/api/v1/ops/bloom-probe",
            data=json.dumps({"path": str(path), "keys": ["a"]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400
        assert "rebuild it with bloom_index_write" in json.loads(
            e.value.read()
        )["error"]

    def test_bad_keys_type_400(self, rest):
        req = urllib.request.Request(
            f"http://127.0.0.1:{rest.port}/api/v1/ops/bloom-probe",
            data=json.dumps({"path": "/nope", "keys": "abc"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400


def test_negative_content_length_is_400_not_a_hang(rest):
    """A negative Content-Length must be rejected up front — passed to
    rfile.read() it reads until EOF and parks the handler thread until
    the client disconnects (r15 review pass)."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", rest.port, timeout=10)
    try:
        body = b'{"sql": "SELECT 1 AS x"}'
        conn.putrequest("POST", "/api/v1/sql")
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", "-1")
        conn.endheaders()
        conn.send(body)
        resp = conn.getresponse()
        assert resp.status == 400
        assert b"Content-Length" in resp.read()
    finally:
        conn.close()
