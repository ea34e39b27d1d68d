"""``gateway_bi``: a closed loop of BI clients against the REST frontend.

An engine process (``gateway_server.py``) serves the REST frontend over
catalog tables made from the generated star schema, with the five
dimension tables pinned in memory. One load-generator process runs
``CLIENTS`` threads; each has its own HTTP Basic user and its own
``X-Session-Id``, and sends its next statement only when the last one
has answered. Each client takes its statements from seeded shuffles of a
deck that holds the mix exactly:

- 40% ``point``:   one order by a uniform random key, from unpinned parquet;
- 25% ``agg``:     lineitem ⋈ supplier ⋈ nation revenue by nation over a
  random quarter (a fact scan beside pinned dimensions);
- 20% ``extract``: a cursor over one random month of orders (about 1,900
  rows), drained in 500-row pages;
- 15% ``explain``: planning plus the plan doctor, nothing executed.

After the run, point, agg and extract answers are checked against DuckDB
over the same parquet.
"""

from __future__ import annotations

import base64
import datetime as dt
import http.client
import itertools
import json
import math
import os
import subprocess
import sys
import threading
import time

import numpy as np

import datagen
from common import geomean, isolated_env, median, metric, pct
from tracing import op_marker

CLIENTS = 4
# statements of each kind in one 20-statement deck: 40/25/20/15 %
MIX = (("point", 8), ("agg", 5), ("extract", 4), ("explain", 3))
KINDS = tuple(k for k, _ in MIX)
DECK = [k for k, n in MIX for _ in range(n)]
WARMUP_ROUNDS = 1  # per client, one statement of every kind per round
PAGE_ROWS = 500
MONTHS = 79  # orders span 1995-01 .. 2001-07
QUARTERS = 27  # lineitem ship dates span 1995-Q1 .. 2001-Q3
SERVER_TIMEOUT_S = 90  # per step, so a wedged server still ends the run early


def _month(i: int) -> tuple[str, str]:
    y, m = divmod(i, 12)
    lo = dt.date(1995 + y, m + 1, 1)
    hi = dt.date(1995 + (i + 1) // 12, (i + 1) % 12 + 1, 1)
    return lo.isoformat(), hi.isoformat()


def _quarter(i: int) -> tuple[str, str]:
    return _month(3 * i)[0], _month(3 * i + 2)[1]


def agg_sql(q: int) -> str:
    lo, hi = _quarter(q)
    return (
        "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}' "
        "GROUP BY n_name"
    )


def extract_sql(m: int) -> str:
    lo, hi = _month(m)
    return (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'"
    )


def point_sql(key: int) -> str:
    return f"SELECT * FROM orders WHERE o_orderkey = {key}"


class Client:
    """One BI user: its own credentials, session id and statement stream."""

    def __init__(self, idx: int, port: int, seed: int, ids, trace: bool):
        self.idx = idx
        self.port = port
        self.trace = trace
        self.rng = np.random.default_rng([seed, 1000 + idx])
        self.ids = ids
        cred = base64.b64encode(f"analyst{idx}:pw-{idx}".encode()).decode()
        self.headers = {
            "Authorization": f"Basic {cred}",
            "X-Session-Id": f"bi-client-{idx}",
            "Content-Type": "application/json",
        }
        self.records: list[dict] = []

    def _post(self, path: str, body: dict) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("POST", path, json.dumps(body), self.headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _kinds(self):
        """Endless stream of kinds: decks holding the exact mix, each
        shuffled, so every run sees the mix whatever its length."""
        while True:
            yield from self.rng.permutation(DECK)

    def run_op(self, kind: str, timed: bool) -> None:
        op_id = next(self.ids)
        # only traced runs mark the text; otherwise it is what a BI tool sends
        tag = op_marker(op_id, kind) if self.trace else ""
        rec = {"op": op_id, "kind": kind, "timed": timed, "ok": False}
        if kind == "point":
            rec["arg"] = int(self.rng.integers(0, datagen.N_ORDERS))
            body = {"sql": tag + point_sql(rec["arg"])}
        elif kind == "agg":
            rec["arg"] = int(self.rng.integers(0, QUARTERS))
            body = {"sql": tag + agg_sql(rec["arg"])}
        elif kind == "explain":
            rec["arg"] = int(self.rng.integers(0, QUARTERS))
            body = {"sql": tag + agg_sql(rec["arg"]), "explain": True}
        else:
            rec["arg"] = int(self.rng.integers(0, MONTHS))
            body = {"sql": tag + extract_sql(rec["arg"]), "cursor": True}
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            status, raw = self._post("/api/v1/sql", body)
            rec["bytes"] = len(raw)
            payload = json.loads(raw)
            if status != 200:
                rec["error"] = payload.get("error", str(status))[:200]
            elif kind == "extract":
                rec["rows"], rec["fetches"] = self._drain(payload["statementId"], rec)
                rec["ok"] = True
            elif kind == "explain":
                rec["ok"] = bool(payload.get("plan")) and isinstance(
                    payload.get("scaleRisks"), list
                )
            else:
                rec["rows"] = payload["rows"]
                rec["ok"] = True
        except (OSError, ValueError, KeyError, http.client.HTTPException) as exc:
            rec["error"] = repr(exc)[:200]
        rec["lat_s"] = time.perf_counter() - t0
        rec["end"] = rec["start"] + rec["lat_s"]
        self.records.append(rec)

    def _drain(self, stmt_id: str, rec: dict) -> tuple[list, int]:
        rows, fetches = [], 0
        while True:
            status, raw = self._post(
                f"/api/v1/statements/{stmt_id}/fetch", {"max": PAGE_ROWS}
            )
            fetches += 1
            rec["bytes"] += len(raw)
            if status != 200:
                raise ValueError(f"fetch {status}: {raw[:200]!r}")
            page = json.loads(raw)
            rows.extend(page["rows"])
            if not page["hasMore"]:
                return rows, fetches

    def warmup(self) -> None:
        for _ in range(WARMUP_ROUNDS):
            for kind in KINDS:
                self.run_op(kind, timed=False)

    def loop(self, deadline: float) -> None:
        kinds = self._kinds()
        while time.perf_counter() < deadline:
            self.run_op(str(next(kinds)), timed=True)


def _run_threads(clients, target, *args) -> None:
    threads = [threading.Thread(target=getattr(c, target), args=args) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _json_cell(v):
    """A DuckDB value as the REST frontend serialises it."""
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return v


def check(records: list[dict], data_dir: str) -> list[str]:
    """Compare answers with DuckDB over the same parquet; returns the
    failures (failed statements included)."""
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "lineitem", "supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    bad = [f"op {r['op']} {r['kind']}: {r.get('error', 'bad answer')}"
           for r in records if not r["ok"]]
    done = [r for r in records if r["ok"]]

    point_keys = sorted({r["arg"] for r in done if r["kind"] == "point"})
    want_point = {}
    if point_keys:
        res = con.execute(
            f"SELECT * FROM orders WHERE o_orderkey IN ({','.join(map(str, point_keys))})"
        ).fetchall()
        want_point = {row[0]: [_json_cell(v) for v in row] for row in res}
    want_agg, want_extract = {}, {}
    for q in sorted({r["arg"] for r in done if r["kind"] == "agg"}):
        want_agg[q] = dict(con.execute(agg_sql(q)).fetchall())
    for m in sorted({r["arg"] for r in done if r["kind"] == "extract"}):
        want_extract[m] = con.execute(
            f"SELECT count(*), sum(o_orderkey) FROM ({extract_sql(m)})"
        ).fetchone()
    con.close()

    for r in done:
        if r["kind"] == "point":
            ok = r["rows"] == [want_point[r["arg"]]]
        elif r["kind"] == "agg":
            got = {name: rev for name, rev in r["rows"]}
            want = want_agg[r["arg"]]
            ok = got.keys() == want.keys() and all(
                math.isclose(got[k], want[k], rel_tol=1e-9) for k in want
            )
        elif r["kind"] == "extract":
            ok = (len(r["rows"]), sum(row[0] for row in r["rows"])) == want_extract[r["arg"]]
        else:
            ok = True
        if not ok:
            bad.append(f"op {r['op']} {r['kind']} arg {r['arg']}: answer differs")
    return bad


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    t_setup = time.perf_counter()
    here = os.path.dirname(os.path.abspath(__file__))
    env = isolated_env(run_dir)
    log = open(os.path.join(run_dir, "server.log"), "w")
    # the engine starts while the inputs are generated
    server = subprocess.Popen(
        [sys.executable, os.path.join(here, "gateway_server.py"),
         os.path.dirname(here), run_dir, "1" if trace else "0", str(CLIENTS)],
        cwd=run_dir, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=log, text=True,
    )
    try:
        data_dir = os.path.join(run_dir, "input")
        datagen.write_star(np.random.default_rng(seed), data_dir)
        opened = _read_json_line(server, SERVER_TIMEOUT_S)
        server.stdin.write("load\n")
        server.stdin.flush()
        ready = {**opened, **_read_json_line(server, SERVER_TIMEOUT_S)}
        ids = itertools.count(1)  # shared by the client threads; next() is atomic
        clients = [Client(i, ready["port"], seed, ids, trace) for i in range(CLIENTS)]
        _run_threads(clients, "warmup")
        setup_s = time.perf_counter() - t_setup

        t_start = time.perf_counter()
        _run_threads(clients, "loop", t_start + seconds)
        server.stdin.write("stop\n")
        server.stdin.flush()
        final = _read_json_line(server, SERVER_TIMEOUT_S)
        server.wait(timeout=SERVER_TIMEOUT_S)
    except BaseException:
        log.flush()
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise
    finally:
        if server.poll() is None:
            server.kill()
            server.wait()
        log.close()

    records = [r for c in clients for r in c.records]
    failures = check(records, data_dir)
    timed = [r for r in records if r["timed"]]
    wall = max(r["end"] for r in timed) - min(r["start"] for r in timed)
    lat = {k: [r["lat_s"] * 1000 for r in timed if r["kind"] == k and r["ok"]]
           for k in KINDS}
    p50 = {k: median(v) for k, v in lat.items()}
    named = {f"{k}_ms_p50": metric(p50[k], "ms") for k in KINDS}
    # a percentile is reported only with at least ten samples beyond it
    if len(lat["point"]) >= 100:
        named["point_ms_p90"] = metric(pct(lat["point"], 90), "ms")
    named["error_rate"] = metric(len(failures) / len(records), "ratio")
    detail = {
        "statements": len(timed),
        "samples": {k: len(v) for k, v in lat.items()},
        "failed_checks": failures[:10],
        "metrics": named,
    }
    return {
        "attempted": len(records),
        "failed": len(failures),
        "setup_s": setup_s,
        "ops_per_s": len(timed) / wall,
        "op_ms_geomean": geomean(list(p50.values())),
        "peak_rss_mb": final["peak_rss_mb"],
        "detail": detail,
        "engine": {k: ready[k] for k in ("open_s", "load_s", "pin_s")},
        "ops": records,
        "spans_path": os.path.join(run_dir, "server_spans.json") if trace else None,
    }


def _read_json_line(proc: subprocess.Popen, timeout_s: float) -> dict:
    """Next JSON line from the server's stdout, or raise if it exits or
    stays silent past ``timeout_s``."""
    box: list = []
    reader = threading.Thread(target=lambda: box.append(proc.stdout.readline()))
    reader.daemon = True
    reader.start()
    reader.join(timeout_s)
    if not box or not box[0]:
        raise RuntimeError("gateway server did not answer; see server.log")
    return json.loads(box[0])
