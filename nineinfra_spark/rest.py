"""REST SQL gateway (the reference's Kyuubi REST frontend role).

The platform pins ``kyuubi.frontend.protocols=REST,THRIFT_BINARY``
(``api/v1alpha1/ninecluster_metadata.go:22-27``) — THRIFT_BINARY is
served by ``gateway.py`` (HiveServer2 in-JVM); this module provides
the REST half: a thin HTTP endpoint that accepts SQL text and returns
JSON rows, the shape BI tools and job submitters hit on Kyuubi's
port 10099.

Design constraints, mirrored from the gateway tier's reality:

- The server is a daemon thread in the driver process; Spark sessions
  are thread-safe for concurrent ``sql()`` calls (each request plans
  on the shared session, like Kyuubi's USER-share engine mode).
- Result fetch is bounded — a gateway FETCHES a window of rows to the
  client by definition; the cap (default 1000, per-request override)
  keeps a careless ``SELECT * FROM fact`` from materializing 100 TB on
  the driver. Unbounded extraction is a WRITE (``INSERT INTO``/``CREATE
  TABLE AS``) through the same SQL surface, exactly as on the real
  platform. :func:`nineinfra_spark.shortcircuit.fetch` fetches a
  ``/sql`` statement's window (and
  :func:`nineinfra_spark.shortcircuit.collect_bounded` the window of an
  endpoint that builds its own DataFrame): a point statement (a
  ``Project``/``Filter`` of column-vs-literal comparisons over one
  unpinned, non-partitioned parquet table) is read on the driver with
  pyarrow and runs no Spark job; any other plan, any error on that path and any truncated
  window are ``limit(n + 1).collect()``. A repeated one-shot statement
  whose plan is deterministic and reads only local files, pinned tables
  or inline rows is answered from a process-wide result cache while its
  session conf, plan and input files (path, size, mtime) or pins are
  unchanged, with no Spark job. Cursors and explain never use the
  cache.
- A point statement the short circuit served leaves a template: the
  next one-shot or cursor statement of the same text, up to its
  literals, is looked up by ``fetch`` before ``sess.sql`` and, while
  its session conf, current database, catalog entry, temp views, cache
  state and files are unchanged, is answered on the driver with no
  parser, optimizer or Spark job. Explain never uses templates. The rules are stated in
  ``nineinfra_spark/shortcircuit.py``.

Endpoints:

- ``GET  /api/v1/ping``    → ``{"status": "ok"}`` liveness (always
  open — a load balancer probes it without credentials)
- ``GET  /api/v1/metrics`` → the fetch-path counters of
  :func:`nineinfra_spark.shortcircuit.fetch_metrics` as one JSON
  object: statements served by the short circuit (``served``) and
  from a template (``templated``), result-cache
  ``hits``/``misses``/``refused``/``stored``/``evicted``, Spark runs
  (``spark``), the cache's ``cacheEntries`` and ``cacheRows``, and the
  decoded-column cache's ``decodedHits``, ``decodedMisses`` and
  ``decodedBytes``. Counters are process-wide, shared by every
  frontend.
  Authenticated exactly like ``/sql``.
- ``POST /api/v1/sql``     → body ``{"sql": "...", "limit": 100}``;
  responds ``{"columns": [...], "rows": [[...]], "rowCount": N,
  "truncated": bool}``. Errors → HTTP 400 with ``{"error": ...}``.
  Cells are JSON scalars; a binary cell is its standard padded base64
  text (``b"\\x00\\xff"`` → ``"AP8="``), and dates, timestamps and
  decimals are their ``str()`` text, in one-shot bodies and cursor
  pages alike.
  With ``{"explain": true, "explainMode": "formatted"}`` the query is
  only PLANNED — the response carries ``{"columns", "plan",
  "scaleRisks"}`` and no data moves (modes: simple/extended/codegen/
  cost/formatted). ``scaleRisks`` is the plan doctor's verdict
  (``nineinfra_spark.doctor.scale_risks``): each entry names a
  100 TB anti-pattern in the plan — cartesian, nested-loop,
  global-window, row-python, unpruned-scan — with the offending plan
  line and a remediation hint; ``[]`` means the plan is clean.
  With ``{"cursor": true}`` the statement opens INCREMENTALLY
  (Kyuubi's ExecuteStatement → FetchResults loop): the response is
  ``{"statementId", "columns"}`` and rows stream page-by-page from
- ``POST /api/v1/statements/<id>/fetch`` → body ``{"max": 100}``;
  responds ``{"rows", "rowCount", "hasMore"}``. A statement the short
  circuit answers with at most ``MAX_FETCH_LIMIT`` rows is read at
  open and paged from the driver, with no Spark job (open cursors hold
  at most ``MAX_STATEMENTS × MAX_FETCH_LIMIT`` such rows). Any other
  handle is backed by ``toLocalIterator(prefetchPartitions=False)``,
  so the driver holds ONE partition at a time no matter how large the
  result — the unbounded-extraction path the capped one-shot fetch
  refuses; its errors surface at the first fetch. An
  exhausted or DELETEd handle returns 404 (auto-closed); handles are
  per-gateway LRU-bounded (``MAX_STATEMENTS``) and owner-scoped when
  the frontend is authenticated.
- ``DELETE /api/v1/statements/<id>`` → close early → ``{"closed"}``.
- ``POST /api/v1/ops/table-changes`` → body ``{"table": "db.t",
  "keyCols": [...], "fromVersion": 0, "limit": 100}``; responds the
  same bounded resultset shape as ``/sql`` over the CDC changelog of
  the versioned-merge archives (``operators/diff.py:table_changes``)
  — the audit loop, reachable from the SQL-frontend tier instead of
  Python-only.
- ``POST /api/v1/ops/zorder-append`` → body ``{"path": "...",
  "deltaSql": "SELECT ...", "keyCols": [...]?, "batchId": N?}``;
  merges the delta into a z-ordered layout directory
  (``operators/zorder.py:zorder_layout_append``) and responds its
  stats dict (``rows_appended`` / ``buckets_dirty`` /
  ``buckets_total``) — the OPTIMIZE maintenance loop from the same
  tier.
- ``POST /api/v1/ops/bloom-probe`` → body ``{"path": "...",
  "keys": [...], "limit": 100}``; point-lookup over a
  ``bloom_index_write`` directory (``operators/bloomindex.py``):
  the bounded ``/sql`` resultset shape plus the skipping stats
  (``filesTotal`` / ``filesHit`` / ``filesSkipped``). All ops
  endpoints authenticate exactly like ``/sql``.

Session isolation: a request carrying an ``X-Session-Id`` header runs
on a dedicated ``spark.newSession()`` keyed by that id — own temp
views and SQL conf, SHARED SparkContext, catalog tables and cached
data. That is Kyuubi's CONNECTION-share engine semantic; requests
without the header keep the USER-share semantic (the one shared
session, temp views visible to every headerless client and to the
in-JVM thrift frontend). Catalog DDL from any session goes through
the single metastore and is serialized there.

Authentication: pass ``auth`` (any ``(username, password) -> bool``,
typically :class:`nineinfra_spark.auth.UserStore` — the reference's
salted-MD5 users-table scheme, ``internal/controller/kyuubi.go:55-64``)
to require HTTP Basic credentials on ``/api/v1/sql`` (and every
endpoint but ``/ping``); missing or
invalid credentials → 401 with ``WWW-Authenticate``. With ``auth=None``
the frontend is open, matching the reference's non-JDBC auth mode
(``kyuubi.go:66-69`` omits ``kyuubi.authentication`` entirely).
"""

from __future__ import annotations

import base64
import binascii
import json
import threading
from collections import OrderedDict
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from nineinfra_spark.shortcircuit import collect_bounded, fetch, fetch_metrics

DEFAULT_FETCH_LIMIT = 1000
#: Server-side ceiling on the per-request ``limit`` override — the cap
#: exists to stop careless driver materialization, so the client must
#: not be able to raise it past this.
MAX_FETCH_LIMIT = 10_000

#: Cap on live cursor statements per gateway (same rationale as
#: MAX_SESSIONS: handles are client-created; past the cap the
#: least-recently-FETCHED statement is evicted).
MAX_STATEMENTS = 32

#: Cap on live ``X-Session-Id`` sessions per gateway. The header is
#: client-controlled, so an unbounded registry lets one client cycling
#: random ids grow driver memory without limit; past the cap the
#: least-recently-USED id is evicted (its temp views and conf are
#: dropped — a returning client gets a fresh clone, the same contract
#: as a gateway-side idle-session timeout).
MAX_SESSIONS = 64


def _fetch_limit(req: dict) -> int:
    """The request's ``limit`` (default :data:`DEFAULT_FETCH_LIMIT`),
    refused outside ``[0, MAX_FETCH_LIMIT]``."""
    limit = int(req.get("limit", DEFAULT_FETCH_LIMIT))
    if not 0 <= limit <= MAX_FETCH_LIMIT:
        raise ValueError(f"limit must be in [0, {MAX_FETCH_LIMIT}], got {limit}")
    return limit


def _resultset(df, limit: int) -> dict:
    """The bounded resultset of an endpoint that builds its own
    DataFrame."""
    rows, truncated = collect_bounded(df, limit)
    return _body(df.columns, rows, truncated)


def _body(columns: list, rows: list, truncated: bool) -> dict:
    return {
        "columns": columns,
        "rows": [list(r) for r in rows],
        "rowCount": len(rows),
        "truncated": truncated,
    }


def _json_default(v):
    # binary → standard padded base64; datetimes, Decimals → str().
    # Keeps the wire format engine-agnostic (clients parse values, not
    # pickles or Python reprs)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(v).decode("ascii")
    return str(v)


class StatementClosedError(RuntimeError):
    """Fetch attempted on a statement whose iterator was already
    closed (LRU eviction or explicit DELETE) — the handler maps this
    to 404, never to a truncated page."""


class _Statement:
    """One open cursor: a row iterator plus a one-row lookahead buffer
    (so ``hasMore`` is answerable without consuming the next page) and
    a lock (HTTP handler threads share the registry; an iterator is not
    thread-safe). The iterator walks either the list of rows the short
    circuit read on the driver (at most ``MAX_FETCH_LIMIT``) or a live
    ``toLocalIterator``."""

    def __init__(self, columns: list, it, owner: str):
        self.columns = columns
        self._it = it
        self.owner = owner  # "" on an open frontend
        self._peeked = None
        self._has_peeked = False
        self._closed = False
        self.lock = threading.Lock()

    def close(self) -> None:
        """Best-effort release of the underlying iterator. A
        ``toLocalIterator`` generator, until closed, pins the
        driver-side fetch thread/socket for the in-flight partition
        (an LRU-evicted cursor would otherwise leak it until GC). Taken
        under ``self.lock``: closing a generator another thread is
        mid-``fetch`` on would make that fetch see StopIteration and
        reply a silently-truncated ``hasMore=False`` page — eviction
        must wait for the in-flight page to finish. Leaving the
        registry does NOT stop every future fetch (a handler that
        resolved the statement BEFORE the LRU pop can still acquire
        the lock after this close — the r10 ADVICE race), so the
        ``_closed`` flag makes such a fetch raise explicitly instead
        of seeing StopIteration and replying a silently-truncated
        ``hasMore=False`` page."""
        with self.lock:
            self._closed = True
            close = getattr(self._it, "close", None)
            if close is not None:
                try:
                    close()
                except Exception:
                    pass
            # driver-side rows are freed now, not when the last handler
            # holding this statement lets go of it
            self._it, self._peeked = iter(()), None

    def fetch(self, max_rows: int) -> tuple[list, bool]:
        """Up to ``max_rows`` rows + whether more remain. Caller holds
        ``self.lock``."""
        if self._closed:
            raise StatementClosedError("statement is closed")
        out = []
        if self._has_peeked:
            out.append(self._peeked)
            self._has_peeked = False
        while len(out) < max_rows:
            try:
                out.append(next(self._it))
            except StopIteration:
                return out, False
        try:
            self._peeked = next(self._it)
            self._has_peeked = True
        except StopIteration:
            return out, False
        return out, True


class _Handler(BaseHTTPRequestHandler):
    spark: SparkSession  # injected by start_rest_gateway
    auth: Callable[[str, str], bool] | None  # None → open frontend
    # doAs impersonation ACL: {admin: "*" | set/list of allowed target
    # users} — the in-process analog of Hadoop's proxyuser allowlist
    # (the reference enables hive.server2.enable.doAs through Kyuubi,
    # kyuubi.go:55-64; the Hadoop-infrastructure half is env-blocked,
    # the AUTHORIZATION-and-isolation half is this).
    proxy_acl: dict | None
    # per-gateway session registry: X-Session-Id → newSession() clone
    # (class attrs are injected per-gateway by start_rest_gateway)
    sessions: dict[str, SparkSession]
    sessions_lock: threading.Lock
    # per-gateway open-cursor registry: statementId → _Statement
    statements: "OrderedDict[str, _Statement]"
    statements_lock: threading.Lock

    def log_message(self, *args) -> None:  # silence per-request stderr noise
        pass

    def _session(
        self, effective: str | None = None, authed: str = ""
    ) -> SparkSession:
        """The SparkSession this request runs on: the shared session,
        or (with ``X-Session-Id``) a per-id ``newSession()`` clone —
        own temp views/conf, shared context+catalog. With an
        ``effective`` (impersonated) user the clone is keyed by
        (user, session-id); on an AUTHENTICATED frontend a plain
        session id is likewise scoped to the authenticated principal
        (r11 review finding: keying by the client-supplied sid alone
        let two different authenticated users sending the same
        X-Session-Id share one clone — cross-user temp-view/conf
        exposure). One user's temp state is never visible through
        another user's sessions; doAs clones carry the identity in
        ``spark.nineinfra.effective.user`` for audit/policy reads."""
        sid = self.headers.get("X-Session-Id")
        if effective is None and not sid:
            return self.spark
        # legacy plain-string key only on the OPEN frontend; TUPLE
        # keys everywhere a principal exists — a client-controlled sid
        # can never collide with (i.e. hijack) another user's entry,
        # and the "user"/"doas" prefixes keep alice-doas-bob distinct
        # from bob's own sessions
        if effective is not None:
            key: object = ("doas", effective, sid or "")
        elif authed:
            key = ("user", authed, sid or "")
        else:
            key = sid
        with self.sessions_lock:
            sess = self.sessions.get(key)
            if sess is None:
                sess = self.spark.newSession()
                if effective is not None:
                    sess.conf.set("spark.nineinfra.effective.user", effective)
                self.sessions[key] = sess
                while len(self.sessions) > MAX_SESSIONS:
                    self.sessions.popitem(last=False)  # LRU eviction
            else:
                self.sessions.move_to_end(key)
        return sess

    def _read_body(self) -> bytes:
        """Request body per Content-Length. A NEGATIVE length must be
        rejected before it reaches ``rfile.read(-n)`` — that form
        reads until EOF, which on a keep-alive connection blocks the
        handler thread until the client goes away (r15 review pass)."""
        length = int(self.headers.get("Content-Length", "0"))
        if length < 0:
            raise ValueError(f"invalid Content-Length {length}")
        return self.rfile.read(length)

    def _reply(
        self, code: int, payload: dict, headers: dict | None = None
    ) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _reply_unauthorized(self) -> None:
        """Every 401 carries the RFC 7235 challenge — clients that
        only send credentials after a challenge (non-preemptive basic
        auth) would otherwise fail on fetch/DELETE even though
        /api/v1/sql worked (r11 review finding)."""
        self._reply(
            401,
            {"error": "unauthorized"},
            headers={"WWW-Authenticate": 'Basic realm="nineinfra"'},
        )

    def do_GET(self) -> None:  # noqa: N802 — http.server API
        if self.path == "/api/v1/ping":
            self._reply(200, {"status": "ok"})
        elif self.path == "/api/v1/metrics":
            if self._authenticate() is None:
                self._reply_unauthorized()
            else:
                self._reply(200, fetch_metrics())
        else:
            self._reply(404, {"error": f"unknown path {self.path}"})

    def _authenticate(self) -> str | None:
        """HTTP Basic check against the injected validator; returns
        the authenticated USERNAME (identity, not just a yes/no — the
        doAs check needs to know who is asking), ``""`` on an open
        frontend, ``None`` on failure. The username/password split and
        charset follow RFC 7617; any parse failure is simply 'not
        authorized' (no 500s on garbage)."""
        if self.auth is None:
            return ""
        header = self.headers.get("Authorization", "")
        if not header.startswith("Basic "):
            return None
        try:
            decoded = base64.b64decode(header[6:], validate=True).decode("utf-8")
            username, _, password = decoded.partition(":")
        except (binascii.Error, UnicodeDecodeError):
            return None
        return username if self.auth(username, password) else None

    def _resolve_proxy_user(self, authed: str) -> tuple[str | None, str | None]:
        """Kyuubi-style ``doAs``: a request may carry ``X-Proxy-User``
        to run AS another user. Allowed only when the frontend is
        authenticated AND the ACL grants ``authed`` that target
        (``"*"`` = any). Returns ``(effective_user, error)`` — the
        deny reason is explicit so a blocked impersonation is an
        auditable 403, never a silent identity fallback."""
        proxy = self.headers.get("X-Proxy-User")
        if proxy is None or proxy == authed:
            return (proxy, None)
        if self.auth is None:
            return (
                None,
                "impersonation requires an authenticated frontend",
            )
        targets = (self.proxy_acl or {}).get(authed)
        if targets == "*" or (targets is not None and proxy in targets):
            return (proxy, None)
        return (None, f"user '{authed}' may not impersonate '{proxy}'")

    def _statement_for(self, stmt_id: str, owner: str):
        """Look up an open cursor, enforcing owner scoping. Returns
        the statement or None (unknown/foreign ids are both 404 — a
        foreign statement id must be indistinguishable from a
        nonexistent one)."""
        with self.statements_lock:
            st = self.statements.get(stmt_id)
            if st is None or st.owner != owner:
                return None
            self.statements.move_to_end(stmt_id)
            return st

    def _close_statement(self, stmt_id: str) -> None:
        with self.statements_lock:
            st = self.statements.pop(stmt_id, None)
        if st is not None:
            st.close()

    def do_DELETE(self) -> None:  # noqa: N802 — http.server API
        parts = self.path.strip("/").split("/")
        if len(parts) == 4 and parts[:3] == ["api", "v1", "statements"]:
            authed = self._authenticate()
            if authed is None:
                self._reply_unauthorized()
                return
            st = self._statement_for(parts[3], authed)
            if st is None:
                self._reply(404, {"error": "unknown statement"})
                return
            self._close_statement(parts[3])
            self._reply(200, {"closed": parts[3]})
            return
        self._reply(404, {"error": f"unknown path {self.path}"})

    def _handle_fetch(self, stmt_id: str) -> None:
        authed = self._authenticate()
        if authed is None:
            self._reply_unauthorized()
            return
        try:
            req = json.loads(self._read_body() or b"{}")
            max_rows = int(req.get("max", DEFAULT_FETCH_LIMIT))
            if max_rows < 1 or max_rows > MAX_FETCH_LIMIT:
                raise ValueError(
                    f"max must be in [1, {MAX_FETCH_LIMIT}], got {max_rows}"
                )
        except (TypeError, ValueError, json.JSONDecodeError) as exc:
            self._reply(400, {"error": f"bad request: {exc}"})
            return
        st = self._statement_for(stmt_id, authed)
        if st is None:
            self._reply(404, {"error": "unknown statement"})
            return
        try:
            with st.lock:
                rows, has_more = st.fetch(max_rows)
        except StatementClosedError:
            # lost the race with eviction/DELETE: the lookup happened
            # before the LRU pop, the close before our lock acquire —
            # answer exactly what a post-eviction lookup would get
            self._reply(404, {"error": "unknown statement"})
            return
        except Exception as exc:  # mid-stream execution error
            self._close_statement(stmt_id)
            self._reply(400, {"error": str(exc)[:4000]})
            return
        if not has_more:
            self._close_statement(stmt_id)  # exhausted → auto-close
        self._reply(
            200,
            {
                "rows": [list(r) for r in rows],
                "rowCount": len(rows),
                "hasMore": has_more,
            },
        )

    def _handle_op(self, op: str) -> None:
        """Operator endpoints: the audit (table-changes) and OPTIMIZE
        (zorder-append) loops the Python API exposes, served from the
        gateway tier. Same auth/session semantics as ``/sql``; results
        are bounded fetches (table-changes) or small stats dicts
        (zorder-append)."""
        authed = self._authenticate()
        if authed is None:
            self._reply_unauthorized()
            return
        effective, deny = self._resolve_proxy_user(authed)
        if deny is not None:
            self._reply(403, {"error": deny})
            return
        try:
            req = json.loads(self._read_body() or b"{}")
            if not isinstance(req, dict):
                raise TypeError(
                    f"body must be a JSON object, got {type(req).__name__}"
                )
        except (TypeError, ValueError, json.JSONDecodeError) as exc:
            self._reply(400, {"error": f"bad request: {exc}"})
            return
        sess = self._session(effective, authed)
        try:
            if op == "table-changes":
                from nineinfra_spark.operators.diff import table_changes

                table = req["table"]
                key_cols = list(req["keyCols"])
                limit = _fetch_limit(req)
                df = table_changes(
                    sess,
                    table,
                    key_cols,
                    from_version=int(req.get("fromVersion", 0)),
                    allow_schema_evolution=bool(
                        req.get("allowSchemaEvolution", False)
                    ),
                )
                self._reply(200, _resultset(df, limit))
            elif op == "bloom-probe":
                from nineinfra_spark.operators.bloomindex import (
                    bloom_skipping_read,
                )

                keys = req["keys"]
                if not isinstance(keys, list):
                    raise TypeError("keys must be a JSON array")
                limit = _fetch_limit(req)
                out, bstats = bloom_skipping_read(sess, req["path"], keys)
                self._reply(
                    200,
                    {
                        **_resultset(out, limit),
                        "filesTotal": bstats["files_total"],
                        "filesHit": bstats["files_hit"],
                        "filesSkipped": bstats["files_skipped"],
                    },
                )
            elif op == "zorder-append":
                from nineinfra_spark.operators.zorder import (
                    zorder_layout_append,
                )

                delta = sess.sql(req["deltaSql"])
                key_cols = req.get("keyCols")
                stats = zorder_layout_append(
                    sess,
                    req["path"],
                    delta,
                    batch_id=(
                        int(req["batchId"]) if "batchId" in req else None
                    ),
                    key_cols=list(key_cols) if key_cols else None,
                )
                self._reply(200, stats)
            else:
                self._reply(404, {"error": f"unknown op {op!r}"})
        except KeyError as exc:
            self._reply(400, {"error": f"bad request: missing field {exc}"})
        except Exception as exc:
            self._reply(400, {"error": str(exc)[:4000]})

    def do_POST(self) -> None:  # noqa: N802 — http.server API
        parts = self.path.strip("/").split("/")
        if (
            len(parts) == 5
            and parts[:3] == ["api", "v1", "statements"]
            and parts[4] == "fetch"
        ):
            self._handle_fetch(parts[3])
            return
        if len(parts) == 4 and parts[:3] == ["api", "v1", "ops"]:
            self._handle_op(parts[3])
            return
        if self.path != "/api/v1/sql":
            self._reply(404, {"error": f"unknown path {self.path}"})
            return
        authed = self._authenticate()
        if authed is None:
            self._reply_unauthorized()
            return
        effective, deny = self._resolve_proxy_user(authed)
        if deny is not None:
            self._reply(403, {"error": deny})
            return
        try:
            req = json.loads(self._read_body() or b"{}")
            if not isinstance(req, dict):
                raise TypeError(f"body must be a JSON object, got {type(req).__name__}")
            sql = req["sql"]
            limit = _fetch_limit(req)
            explain = bool(req.get("explain", False))
            cursor = bool(req.get("cursor", False))
            if cursor and explain:
                raise ValueError("cursor and explain are exclusive")
            explain_mode = str(req.get("explainMode", "formatted"))
            if explain_mode not in (
                "simple", "extended", "codegen", "cost", "formatted",
            ):
                raise ValueError(f"unknown explainMode {explain_mode!r}")
        except (KeyError, TypeError, ValueError, json.JSONDecodeError) as exc:
            self._reply(400, {"error": f"bad request: {exc}"})
            return
        try:
            sess = self._session(effective, authed)
            if explain:
                df = sess.sql(sql)
                # plan-only mode: nothing executes, nothing fetches —
                # the gateway answers "what would this cost" questions
                # without touching the data (Kyuubi operation
                # EXECUTE_STATEMENT with EXPLAIN, minus the round trip).
                # scaleRisks turns plan inspection into plan VETTING:
                # the doctor's findings (cartesian / nested-loop /
                # global-window / row-python / unpruned-scan) ride
                # along so a user sees the 100 TB anti-patterns before
                # submitting, not in a post-mortem.
                from nineinfra_spark import doctor as _doctor

                qe = df._jdf.queryExecution()  # noqa: SLF001
                self._reply(
                    200,
                    {
                        "columns": df.columns,
                        "plan": qe.explainString(
                            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001, E501
                                explain_mode
                            )
                        ),
                        "scaleRisks": [
                            {"kind": f.kind, "line": f.line, "hint": f.hint}
                            for f in _doctor.scale_risks(df)
                        ],
                    },
                )
                return
            if cursor:
                # Kyuubi's ExecuteStatement→FetchResults loop: hand
                # back a handle; rows stream page-by-page from the
                # statements endpoint. A result the driver reads with
                # at most MAX_FETCH_LIMIT rows is paged from there;
                # anything else is toLocalIterator, whose
                # prefetchPartitions=False keeps driver residency to
                # ONE partition at a time — the sanctioned
                # unbounded-extraction path.
                columns, rows, _ = fetch(sess, sql, MAX_FETCH_LIMIT, cursor=True)
                self._open_cursor(columns, rows, authed)
                return
            payload = _body(*fetch(sess, sql, limit))
            if effective is not None:
                payload["effectiveUser"] = effective
            self._reply(200, payload)
        except Exception as exc:  # engine errors → structured 400, not a 500 stack
            self._reply(400, {"error": str(exc)[:4000]})

    def _open_cursor(self, columns: list, it, owner: str) -> None:
        """Register a cursor over ``it`` and reply its handle."""
        import uuid as _uuid

        stmt_id = _uuid.uuid4().hex
        st = _Statement(columns, it, owner=owner)
        evicted = []
        with self.statements_lock:
            self.statements[stmt_id] = st
            while len(self.statements) > MAX_STATEMENTS:
                evicted.append(self.statements.popitem(last=False)[1])
        for ev in evicted:  # release iterators outside the lock
            ev.close()
        self._reply(200, {"statementId": stmt_id, "columns": columns})


class RestGateway:
    """Handle for a running REST endpoint (returned by
    :func:`start_rest_gateway`; ``Engine.close`` calls :meth:`stop`)."""

    def __init__(self, server: ThreadingHTTPServer, thread: threading.Thread):
        self._server = server
        self._thread = thread

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)


def start_rest_gateway(
    spark: SparkSession,
    port: int = 0,
    auth: Callable[[str, str], bool] | None = None,
    proxy_acl: dict | None = None,
) -> RestGateway:
    """Serve the REST SQL frontend on ``port`` (0 = OS-assigned; read
    the bound port from the returned handle). Binds immediately; the
    accept loop runs on a daemon thread. ``auth``: optional
    ``(username, password) -> bool`` validator enforcing HTTP Basic on
    ``/api/v1/sql``. ``proxy_acl``: optional doAs allowlist
    ``{admin: "*" | iterable of target users}`` — with it, an
    authenticated admin may send ``X-Proxy-User`` to run a statement
    AS that user (isolated per-user session clone, identity recorded
    in ``spark.nineinfra.effective.user`` and echoed as
    ``effectiveUser``); everyone else gets an explicit 403."""
    handler = type(
        "BoundHandler",
        (_Handler,),
        {
            "spark": spark,
            # staticmethod: a plain function stored on the class would
            # otherwise be called as a method, with the handler first
            "auth": None if auth is None else staticmethod(auth),
            "proxy_acl": proxy_acl,
            "sessions": OrderedDict(),
            "sessions_lock": threading.Lock(),
            "statements": OrderedDict(),
            "statements_lock": threading.Lock(),
        },
    )
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return RestGateway(server, thread)
