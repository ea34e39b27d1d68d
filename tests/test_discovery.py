"""Service-discovery registry (nineinfra_spark/discovery.py) — the
Kyuubi-HA / ZooKeeper ephemeral-namespace analog
(reference ``internal/controller/zookeeper.go:104-141``):
registration, deterministic pick, TTL expiry of a SIGKILL'd engine,
heartbeat survival past the ttl, and reader robustness to garbage.
No Spark involved — this layer is pure coordination."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from nineinfra_spark.discovery import (
    NoLiveEngine,
    ServiceRegistry,
)

#: the checkout these tests run from: subprocesses import its package
ROOT = str(Path(__file__).resolve().parents[1])


def test_register_list_pick_deregister(tmp_path):
    reg = ServiceRegistry(str(tmp_path), ttl_s=30)
    a = reg.register("engine-a", "sts://host-a:10009", {"pool": "etl"})
    b = reg.register("engine-b", "sts://host-b:10009")
    live = reg.list_live()
    assert [e.engine_id for e in live] == ["engine-a", "engine-b"]
    assert live[0].endpoint == "sts://host-a:10009"
    assert live[0].payload == {"pool": "etl"}

    # least-load wins; ties break by id (deterministic for every client)
    a.heartbeat(load=5)
    b.heartbeat(load=2)
    assert reg.pick().engine_id == "engine-b"
    b.heartbeat(load=5)
    assert reg.pick().engine_id == "engine-a"

    a.deregister()
    assert [e.engine_id for e in reg.list_live()] == ["engine-b"]
    b.deregister()
    with pytest.raises(NoLiveEngine):
        reg.pick()


def test_ttl_expiry_and_lazy_eviction(tmp_path):
    reg = ServiceRegistry(str(tmp_path), ttl_s=5)
    h = reg.register("engine-x", "sts://x:1")
    path = tmp_path / "engine-x.json"
    assert reg.pick().engine_id == "engine-x"

    # rewind the entry's mtime past the ttl — the crash shape without
    # waiting wall-clock for it
    old = time.time() - 60
    os.utime(path, (old, old))
    assert reg.list_live() == []
    with pytest.raises(NoLiveEngine):
        reg.pick()
    assert reg.evict_stale() == ["engine-x"]
    assert not path.exists()

    # the owner's next heartbeat resurrects the full entry (self-heal)
    h.heartbeat(load=1)
    assert reg.pick().engine_id == "engine-x"


def test_torn_and_foreign_files_skipped(tmp_path):
    reg = ServiceRegistry(str(tmp_path), ttl_s=30)
    reg.register("good", "sts://g:1")
    (tmp_path / "torn.json").write_text("{not json")
    (tmp_path / "notes.txt").write_text("ignore me")
    assert [e.engine_id for e in reg.list_live()] == ["good"]


def test_invalid_engine_id_rejected(tmp_path):
    reg = ServiceRegistry(str(tmp_path), ttl_s=30)
    for bad in ("", "a/b", ".hidden"):
        with pytest.raises(ValueError):
            reg.register(bad, "sts://x:1")
    with pytest.raises(ValueError):
        ServiceRegistry(str(tmp_path), ttl_s=0)


_CHILD = r"""
import sys, time
sys.path.insert(0, sys.argv.pop(1))
from nineinfra_spark.discovery import ServiceRegistry

root, engine_id = sys.argv[1], sys.argv[2]
reg = ServiceRegistry(root, ttl_s=1.5)
h = reg.register(engine_id, f"sts://{engine_id}:10009")
print("registered", flush=True)
for i in range(1000):
    time.sleep(0.2)
    h.heartbeat(load=1)
"""


def test_sigkill_expires_and_pick_fails_over(tmp_path):
    """The ZK-session contract end-to-end across real processes: a
    heartbeating engine stays live well past one ttl; SIGKILL (no
    cleanup path runs) expires it within one ttl; pick() fails over
    to the surviving engine."""
    reg = ServiceRegistry(str(tmp_path), ttl_s=1.5)
    survivor = reg.register("engine-b", "sts://b:10009")
    survivor.heartbeat(load=9)  # loaded, so the child wins pick()

    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD, ROOT, str(tmp_path), "engine-a"],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "registered"

        # alive across 2× ttl only because heartbeats refresh it
        deadline = time.time() + 3.0
        while time.time() < deadline:
            assert reg.pick().engine_id == "engine-a"
            time.sleep(0.3)

        child.send_signal(signal.SIGKILL)
        child.wait()

        # ephemerality: entry dies within ~one ttl of the last beat
        time.sleep(2.0)
        survivor.heartbeat(load=9)
        live = reg.list_live()
        assert [e.engine_id for e in live] == ["engine-b"]
        assert reg.pick().engine_id == "engine-b"
        # lazy GC clears the corpse
        assert reg.evict_stale() == ["engine-a"]
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def test_atomic_rewrite_never_torn(tmp_path):
    """A reader polling during rapid heartbeats must never see a
    partial file — os.replace guarantees whole-file swaps."""
    reg = ServiceRegistry(str(tmp_path), ttl_s=30)
    h = reg.register("engine-a", "sts://a:1", {"blob": "x" * 4096})
    for i in range(50):
        h.heartbeat(load=i)
        body = json.loads((tmp_path / "engine-a.json").read_text())
        assert body["load"] == i
        assert len(body["payload"]["blob"]) == 4096


_ENGINE_CHILD = r"""
import sys
sys.path.insert(0, sys.argv.pop(1))
from nineinfra_spark.engine import Engine, EngineConfig

root = sys.argv[1]
eng = Engine(EngineConfig(
    app_name="disc_engine", master="local[2]",
    rest_port=0, discovery_root=root, discovery_ttl_s=30,
    discovery_engine_id="engine-under-test",
)).open()
eng.heartbeat(load=3)
print("READY", flush=True)
sys.stdin.readline()  # parent's go-ahead to shut down
eng.close()
print("CLOSED", flush=True)
"""


def test_engine_open_registers_close_deregisters(tmp_path):
    """Engine lifecycle wiring: open() registers the engine in the
    discovery namespace advertising its REST endpoint, heartbeat()
    reports load, close() deregisters immediately (the clean-shutdown
    path — crash expiry is covered above). Subprocess-isolated so the
    engine owns its own JVM/session."""
    child = subprocess.Popen(
        [sys.executable, "-c", _ENGINE_CHILD, ROOT, str(tmp_path)],
        stdout=subprocess.PIPE,
        stdin=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "READY"
        reg = ServiceRegistry(str(tmp_path), ttl_s=30)
        info = reg.pick()
        assert info.engine_id == "engine-under-test"
        assert info.endpoint.startswith("http://127.0.0.1:")
        assert info.load == 3
        assert info.payload == {"app": "disc_engine"}

        # the discovered endpoint is LIVE: run SQL through it — the
        # whole ZK-analog loop (register → discover → query) end to end
        import urllib.request

        req = urllib.request.Request(
            f"{info.endpoint}/api/v1/sql",
            data=json.dumps({"sql": "SELECT 20 + 5 AS answer"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            body = json.loads(resp.read())
        assert body["rows"] == [[25]]

        child.stdin.write("\n")
        child.stdin.flush()
        assert child.stdout.readline().strip() == "CLOSED"
        assert reg.list_live() == []
        assert child.wait(timeout=60) == 0
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def test_garbage_entries_are_skipped_not_fatal(tmp_path):
    """r11 review finding: valid-JSON-of-the-wrong-shape (`5`,
    `{"load": "high"}`) or non-UTF-8 bytes in the registry raised
    AttributeError/ValueError/UnicodeDecodeError OUT of list_live,
    bricking pick() for every client even with live engines
    registered. Crash garbage of ANY shape is 'not registered'."""
    reg = ServiceRegistry(str(tmp_path), ttl_s=30)
    reg.register("good", "host:1")
    (tmp_path / "int.json").write_text("5")
    (tmp_path / "badload.json").write_text('{"load": "high"}')
    (tmp_path / "latin1.json").write_bytes(b'{"engine_id": "\xe9"}'[:-2] + b"\xe9")
    live = reg.list_live()
    assert [e.engine_id for e in live] == ["good"]
    assert reg.pick().endpoint == "host:1"


def test_merge_required_conf_preserves_auth_values():
    """r11 review finding (engine.py): user extra_conf naming
    spark.driver.extraClassPath/extraJavaOptions silently REPLACED the
    thrift-auth values — the JVM started without the auth jar and
    every login failed. Same-key values merge, auth leading."""
    from nineinfra_spark.engine import merge_required_conf

    required = {
        "spark.driver.extraClassPath": "/auth/nineauth.jar:/auth/conf",
        "spark.driver.extraJavaOptions": "-Dnineinfra.auth.file=/auth/users",
        "spark.hadoop.hive.server2.authentication": "CUSTOM",
    }
    user = {
        "spark.driver.extraClassPath": "/opt/jars/s3-extra.jar",
        "spark.driver.extraJavaOptions": "-Xss4m",
        "spark.hadoop.hive.server2.authentication": "NONE",
        "spark.sql.shuffle.partitions": "7",
    }
    merged = merge_required_conf(user, required)
    assert merged["spark.driver.extraClassPath"] == (
        "/auth/nineauth.jar:/auth/conf" + os.pathsep + "/opt/jars/s3-extra.jar"
    )
    assert merged["spark.driver.extraJavaOptions"] == (
        "-Dnineinfra.auth.file=/auth/users -Xss4m"
    )
    # non-mergeable auth-required key: the required value wins
    assert merged["spark.hadoop.hive.server2.authentication"] == "CUSTOM"
    # unrelated user confs pass through
    assert merged["spark.sql.shuffle.partitions"] == "7"
    # no auth confs at all → extra_conf untouched
    assert merge_required_conf(user, {}) == user


def test_evict_stale_sweeps_crashed_writer_tmp_debris(tmp_path):
    """r12 continuation review finding: a writer crashing between
    creating its tmp file and the atomic replace left
    '<id>.json.tmp.<hex>' debris forever — evict_stale only removed
    '.json' entries, contradicting the 'crash garbage never
    accumulates' contract. Stale tmp files are now swept on the same
    TTL; fresh ones (a writer mid-replace) are left alone."""
    reg = ServiceRegistry(str(tmp_path), ttl_s=5)
    reg.register("live", "sts://l:1")

    stale_tmp = tmp_path / "crashed.json.tmp.deadbeef"
    stale_tmp.write_text('{"engine_id": "crashed"}')
    old = time.time() - 60
    os.utime(stale_tmp, (old, old))

    fresh_tmp = tmp_path / "racing.json.tmp.cafe0001"
    fresh_tmp.write_text('{"engine_id": "racing"}')

    evicted = reg.evict_stale()
    assert evicted == []  # debris is not an entry — no id reported
    assert not stale_tmp.exists()
    assert fresh_tmp.exists()
    assert [e.engine_id for e in reg.list_live()] == ["live"]
