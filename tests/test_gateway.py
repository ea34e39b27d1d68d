"""SQL gateway (Kyuubi role): a second client over the thrift wire.

Engine.open with ``thrift_port`` must serve the HiveServer2 protocol;
beeline (Hive JDBC driver, separate process) connects and runs SQL
against the engine's registered views — the reference's THRIFT_BINARY
frontend semantic. Subprocess-isolated: the gateway binds a port and
thrift confs at session build time, which must not leak into the
shared pytest session."""

from __future__ import annotations

from pathlib import Path

import pytest
import socket
import subprocess
import sys

#: the checkout these tests run from: subprocesses import its package
ROOT = str(Path(__file__).resolve().parents[1])

SF = "/root/testdata/sf0.001"


def _free_port() -> int:
    """An ephemeral port from the OS (bind 0, read it back) — no
    hardcoded port, so concurrent test runs can't collide. The tiny
    close-then-rebind race is accepted; the old fixed ports made every
    concurrent run collide deterministically."""
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


_SCRIPT = """
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.gateway import beeline_sql

eng = Engine(EngineConfig(
    app_name="gateway_test", master="local[4]", thrift_port={port}
)).open()
eng.register_dir("{sf}")

# second client, over the wire: aggregate a registered view
out = beeline_sql({port}, "SELECT COUNT(*) AS n FROM nation")
assert "25" in out, f"unexpected beeline output: {{out!r}}"

# and a real engine query via SQL text (the gateway user's path)
out2 = beeline_sql({port}, (
    "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
    "GROUP BY l_returnflag ORDER BY l_returnflag"
))
assert "A," in out2 and "N," in out2 and "R," in out2, out2
print("GATEWAY_OK")
eng.close()
"""


@pytest.mark.slow
def test_thrift_gateway_second_client():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(sf=SF, port=_free_port())],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=ROOT,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "GATEWAY_OK" in proc.stdout


_FULL_PROFILE = """
import os, sys
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.gateway import beeline_sql

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="full_profile", master="local[4]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
    thrift_port={port},
)).open()
spark = eng.spark

nation = eng.read_parquet("{sf}/nation.parquet")
spark.sql("CREATE DATABASE IF NOT EXISTS serve_db")
eng.save_as_table(nation, "serve_db.nation_hot", mode="overwrite")
eng.pin_hot_tables(["serve_db.nation_hot"])

# the wire client reads the hive-persisted, memory-pinned table
out = beeline_sql({port}, "SELECT COUNT(*) AS n FROM serve_db.nation_hot")
assert "25" in out, out
# and the serving plan actually reads the columnar cache
plan = spark.sql("SELECT COUNT(*) FROM serve_db.nation_hot")._jdf.queryExecution().executedPlan().toString()
assert "InMemoryRelation" in plan or "In-memory" in plan, plan[:800]
print("FULL_PROFILE_OK")
eng.close()
"""


@pytest.mark.slow
def test_all_platform_roles_compose():
    """Capstone: persistent metastore + thrift gateway + serve cache
    in ONE engine profile — a JDBC client queries a hive-registered
    managed table that serves from the in-memory columnar cache (the
    deployed platform's kyuubi+metastore+doris stack, in-process)."""
    import tempfile

    with tempfile.TemporaryDirectory() as root:
        proc = subprocess.run(
            [sys.executable, "-c", _FULL_PROFILE.format(sf=SF, port=_free_port()), root],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=ROOT,
        )
        assert proc.returncode == 0, (
            f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
        )
        assert "FULL_PROFILE_OK" in proc.stdout


_MULTI_TENANT = """
import json, os, sys, threading, urllib.request
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.gateway import beeline_sql

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="multi_tenant", master="local[4]",
    warehouse_dir=os.path.join(root, "warehouse"),
    thrift_port={thrift_port}, rest_port=0,
)).open()
eng.register_dir("{sf}")
rest_port = eng.rest_gateway.port
NATION = "parquet.`{sf}/nation.parquet`"  # session-independent source

def rest(sql, session=None):
    headers = {{"Content-Type": "application/json"}}
    if session:
        headers["X-Session-Id"] = session
    req = urllib.request.Request(
        f"http://127.0.0.1:{{rest_port}}/api/v1/sql",
        data=json.dumps({{"sql": sql}}).encode(), headers=headers)
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())

errs = []

def rest_client(sid, val):
    try:
        for i in range(4):
            rest(f"CREATE OR REPLACE TEMP VIEW tv_mt AS SELECT {{val}} AS x",
                 session=sid)
            got = rest("SELECT x FROM tv_mt", session=sid)
            assert got["rows"] == [[val]], (sid, i, got)
            got2 = rest(f"SELECT COUNT(*) AS n FROM {{NATION}}", session=sid)
            assert got2["rows"] == [[25]], (sid, got2)
    except Exception as exc:
        errs.append(("rest", sid, exc))

def thrift_client():
    try:
        # interleaved catalog DDL + SELECT over the thrift wire: the
        # catalog write path is serialized by the shared metastore
        beeline_sql({thrift_port}, "DROP TABLE IF EXISTS mt_cat")
        beeline_sql({thrift_port},
            "CREATE TABLE mt_cat AS SELECT n_regionkey, COUNT(*) AS n "
            f"FROM {{NATION}} GROUP BY n_regionkey")
        out = beeline_sql({thrift_port}, "SELECT COUNT(*) AS n FROM mt_cat")
        assert "5" in out, out
    except Exception as exc:
        errs.append(("thrift", exc))

ts = [threading.Thread(target=rest_client, args=("s1", 111)),
      threading.Thread(target=rest_client, args=("s2", 222)),
      threading.Thread(target=thrift_client)]
for t in ts: t.start()
for t in ts: t.join()
assert not errs, errs

# cross-frontend visibility: the thrift-created CATALOG table is
# visible to both REST sessions (shared metastore)…
for sid in ("s1", "s2"):
    got = rest("SELECT COUNT(*) AS n FROM mt_cat", session=sid)
    assert got["rows"] == [[5]], (sid, got)
# …but s1's temp view stays invisible to the shared session the
# thrift frontend plans on (session isolation held under concurrency)
try:
    eng.spark.sql("SELECT x FROM tv_mt")
    raise SystemExit("temp view leaked to shared session")
except Exception:
    pass
eng.spark.sql("DROP TABLE mt_cat")
print("MULTI_TENANT_OK")
eng.close()
"""


@pytest.mark.slow
def test_multi_tenant_interleaved_frontends():
    """Two REST sessions + one beeline thrift client interleaving
    temp-view DDL, catalog DDL, and SELECTs against ONE engine: every
    client sees its own temp state, catalog writes serialize through
    the shared metastore, and nothing leaks across sessions (the
    reference gateway's explicitly multi-tenant role,
    ninecluster_metadata.go:21-28)."""
    import tempfile

    with tempfile.TemporaryDirectory() as root:
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                _MULTI_TENANT.format(sf=SF, thrift_port=_free_port()),
                root,
            ],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=ROOT,
        )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "MULTI_TENANT_OK" in proc.stdout


_HTTP_TRANSPORT = """
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.gateway import beeline_sql

eng = Engine(EngineConfig(
    app_name="gateway_http", master="local[4]",
    thrift_port={port}, thrift_transport="http",
)).open()
eng.register_dir("{sf}")

out = beeline_sql({port}, "SELECT COUNT(*) AS n FROM nation",
                  transport="http")
assert "25" in out, f"unexpected beeline/http output: {{out!r}}"
print("HTTP_TRANSPORT_OK")
eng.close()
"""


@pytest.mark.slow
def test_thrift_http_transport_second_client():
    """THRIFT_HTTP frontend (the reference's port-10010 mode,
    ninecluster_metadata.go:22-27): the gateway serves thrift-over-
    HTTP on /cliservice and beeline connects with
    transportMode=http — the mode HTTP proxies and load balancers
    can route."""
    proc = subprocess.run(
        [sys.executable, "-c", _HTTP_TRANSPORT.format(sf=SF, port=_free_port())],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=ROOT,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "HTTP_TRANSPORT_OK" in proc.stdout


_THRIFT_AUTH = """
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.gateway import beeline_sql

eng = Engine(EngineConfig(
    app_name="gateway_auth", master="local[4]",
    thrift_port={port},
    thrift_auth_users={{"admin": "s3cret", "bi_user": "pw2"}},
)).open()
eng.register_dir("{sf}")

# good credentials: SASL PLAIN -> CUSTOM provider -> query runs
out = beeline_sql({port}, "SELECT COUNT(*) AS n FROM nation",
                  user="admin", password="s3cret")
assert "25" in out, out
out2 = beeline_sql({port}, "SELECT 1 AS x", user="bi_user", password="pw2")
assert "1" in out2, out2

# wrong password / unknown user: SASL rejects before any SQL runs
for u, p in (("admin", "wrong"), ("ghost", "s3cret"), ("admin", "")):
    try:
        beeline_sql({port}, "SELECT 1 AS x", user=u, password=p)
        raise SystemExit(f"credentials {{u}}:{{p}} were wrongly accepted")
    except RuntimeError:
        pass
print("THRIFT_AUTH_OK")
eng.close()
"""


@pytest.mark.slow
def test_thrift_custom_auth_enforced_on_wire():
    """The reference's JDBC-auth contract on the THRIFT frontend
    itself (kyuubi.go:55-64: salted-MD5 users lookup): an in-env
    compiled PasswdAuthenticationProvider behind
    hive.server2.authentication=CUSTOM accepts valid users and
    rejects bad passwords / unknown users at the SASL layer. Closes
    the formerly env-blocked auth half; doAs IMPERSONATION (engine
    jobs running as the authed user) still needs Hadoop proxy-user
    infra absent here."""
    proc = subprocess.run(
        [sys.executable, "-c", _THRIFT_AUTH.format(sf=SF, port=_free_port())],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=ROOT,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "THRIFT_AUTH_OK" in proc.stdout


def test_secure_workdir_rejects_unsafe_dirs(tmp_path):
    """ADVICE r7: the thrift-auth workdir feeds the driver classpath —
    a group/other-writable or foreign-owned directory must be refused,
    never silently reused (classpath-injection vector on shared hosts)."""
    import os

    import pytest

    from nineinfra_spark.thrift_auth import secure_workdir

    # fresh dir: created 0700 and accepted
    good = tmp_path / "auth_wd"
    assert secure_workdir(str(good)) == str(good)
    assert (os.stat(good).st_mode & 0o777) == 0o700

    # pre-created world-writable dir (the attack): refused
    bad = tmp_path / "planted"
    bad.mkdir(mode=0o777)
    os.chmod(bad, 0o777)  # mkdir honors umask; force the mode
    with pytest.raises(RuntimeError, match="writable"):
        secure_workdir(str(bad))

    # group-writable is enough to refuse
    gw = tmp_path / "groupw"
    gw.mkdir()
    os.chmod(gw, 0o720)
    with pytest.raises(RuntimeError, match="writable"):
        secure_workdir(str(gw))


def test_users_file_created_0600_and_rejects_injection(tmp_path):
    """r12 review findings: the credential file must carry 0600 from
    its FIRST byte (write-then-chmod left the hashes world-readable
    under umask 022 until the chmod landed), and a username with a
    newline must be refused — it would inject an attacker-chosen extra
    credential line into the store (only ':' was rejected)."""
    import os

    import pytest

    from nineinfra_spark.auth import hash_password
    from nineinfra_spark.thrift_auth import write_users_file

    path = str(tmp_path / "users.txt")
    old_umask = os.umask(0o022)  # the permissive-default scenario
    try:
        write_users_file(path, {"admin": "pw"})
    finally:
        os.umask(old_umask)
    assert (os.stat(path).st_mode & 0o777) == 0o600
    with open(path) as f:
        assert f.read() == f"admin:{hash_password('pw')}\n"

    for bad in ("a:b", "a\nevil", "a b", "a\tb", "a\rb"):
        with pytest.raises(ValueError, match="username"):
            write_users_file(str(tmp_path / "u2.txt"), {bad: "pw"})
    # a rejected store never leaves a partial file behind
    assert not os.path.exists(tmp_path / "u2.txt")


_CONCURRENT_DDL = """
import json, os, sys, threading, urllib.request
from nineinfra_spark.engine import Engine, EngineConfig
from nineinfra_spark.gateway import beeline_sql

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="concurrent_ddl", master="local[4]",
    warehouse_dir=os.path.join(root, "warehouse"),
    hive_metastore=True,
    metastore_dir=os.path.join(root, "metastore_db"),
    thrift_port={thrift_port}, rest_port=0,
)).open()
spark = eng.spark
rest_port = eng.rest_gateway.port
NATION = "parquet.`{sf}/nation.parquet`"

spark.sql("CREATE DATABASE ddl_db")
spark.sql(
    "CREATE TABLE ddl_db.stable AS "
    f"SELECT n_regionkey, COUNT(*) AS n FROM {{NATION}} GROUP BY n_regionkey")

def rest(sql, session=None):
    headers = {{"Content-Type": "application/json"}}
    if session:
        headers["X-Session-Id"] = session
    req = urllib.request.Request(
        f"http://127.0.0.1:{{rest_port}}/api/v1/sql",
        data=json.dumps({{"sql": sql}}).encode(), headers=headers)
    with urllib.request.urlopen(req, timeout=180) as r:
        return json.loads(r.read())

errs = []

def ddl_client(sid):
    # CREATE/DROP churn on the SHARED database from a dedicated session
    try:
        for i in range(5):
            tbl = f"ddl_db.churn_{{sid}}_{{i}}"
            rest(f"CREATE TABLE {{tbl}} AS SELECT {{i}} AS x", session=sid)
            got = rest(f"SELECT x FROM {{tbl}}", session=sid)
            assert got["rows"] == [[i]], (sid, i, got)
            rest(f"DROP TABLE {{tbl}}", session=sid)
    except Exception as exc:
        errs.append(("rest-ddl", sid, repr(exc)))

def thrift_reader():
    try:
        for _ in range(3):
            out = beeline_sql({thrift_port},
                "SELECT COUNT(*) AS n FROM ddl_db.stable")
            assert "5" in out, out
    except Exception as exc:
        errs.append(("thrift-read", repr(exc)))

ts = [threading.Thread(target=ddl_client, args=("sA",)),
      threading.Thread(target=ddl_client, args=("sB",)),
      threading.Thread(target=thrift_reader)]
for t in ts: t.start()
for t in ts: t.join()
assert not errs, errs

# catalog end-state: only the stable table survives the churn
tables = sorted(r["tableName"] for r in spark.sql("SHOW TABLES IN ddl_db").collect())
assert tables == ["stable"], tables
# no dangling managed-table directories under the database location
db_dir = os.path.join(root, "warehouse", "ddl_db.db")
leftovers = sorted(d for d in os.listdir(db_dir) if d != "stable")
assert leftovers == [], leftovers
print("CONCURRENT_DDL_OK")
eng.close()
"""


@pytest.mark.slow
def test_concurrent_ddl_two_rest_sessions_plus_thrift_reader():
    """VERDICT r7 item #7: two REST sessions churning CREATE/DROP on
    one database while a thrift client reads — catalog writes
    serialize through the shared metastore, the reader never fails,
    and no managed-table directory dangles after the drops."""
    import tempfile

    with tempfile.TemporaryDirectory() as root:
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                _CONCURRENT_DDL.format(sf=SF, thrift_port=_free_port()),
                root,
            ],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=ROOT,
        )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "CONCURRENT_DDL_OK" in proc.stdout


class _FakeConfSpark:
    """conf-only stand-in: the preflight reads nothing else."""

    def __init__(self, conf: dict):
        self._conf = conf

    @property
    def conf(self):
        outer = self

        class _C:
            def get(self, key, default=None):
                return outer._conf.get(key, default)

        return _C()


class TestPortConfPreflight:
    """The preflight consults ONLY the active transport mode's port
    key (r15 ADVICE): an http-port conf on a binary-mode server (or
    vice versa) is irrelevant and must not raise."""

    def test_other_modes_port_is_ignored(self):
        import warnings

        import pytest

        from nineinfra_spark.gateway import _preflight_port_conf

        # binary mode (default), only the http port set: no ValueError
        # — but a WARNING names the port the server would bind if the
        # mode assumption is wrong (hive-site may carry the mode)
        with pytest.warns(UserWarning, match="10010"):
            _preflight_port_conf(
                _FakeConfSpark({"hive.server2.thrift.http.port": "10010"}),
                10009,
            )
        # http mode, only the binary port set: no conflict (warns)
        with pytest.warns(UserWarning, match="10009"):
            _preflight_port_conf(
                _FakeConfSpark(
                    {
                        "hive.server2.transport.mode": "http",
                        "hive.server2.thrift.port": "10009",
                    }
                ),
                10010,
            )
        # other-mode port present but MATCHING the asked port: silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            _preflight_port_conf(
                _FakeConfSpark({"hive.server2.thrift.http.port": "10009"}),
                10009,
            )
        # matching key, matching value: fine
        _preflight_port_conf(
            _FakeConfSpark({"hive.server2.thrift.port": "10009"}), 10009
        )
        # matching key, WRONG value: fail fast with the key in the text
        with pytest.raises(ValueError, match="hive.server2.thrift.port"):
            _preflight_port_conf(
                _FakeConfSpark({"hive.server2.thrift.port": "10009"}), 10042
            )
        with pytest.raises(ValueError, match="http.port"):
            _preflight_port_conf(
                _FakeConfSpark(
                    {
                        "hive.server2.transport.mode": "HTTP",
                        "hive.server2.thrift.http.port": "10010",
                    }
                ),
                10042,
            )
        # absent conf entirely: allowed (hive-site/env may carry it)
        _preflight_port_conf(_FakeConfSpark({}), 10009)
