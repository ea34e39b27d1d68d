"""MySQL wire-protocol SQL endpoint (the reference's Doris FE role).

The platform's OLAP tier serves SQL over the MySQL protocol — Doris FE
listens on the MySQL port with a ``root`` / empty-password default
(``internal/controller/doris.go:20-28``). The repo already covers the
serving *capability* (pinned columnar cache + thrift/REST endpoints);
this module closes the *protocol* gap: a minimal, spec-faithful server
speaking the MySQL client/server text protocol, so any MySQL-dialect
client can point at the engine session.

Implemented surface (Protocol::HandshakeV10 + the classic text
protocol — the subset every driver needs to connect and query):

- HandshakeV10 greeting / HandshakeResponse41 parse (CLIENT_PROTOCOL_41
  required, as in every modern client);
- authentication: with ``auth=None`` it mirrors the Doris default —
  any username accepted, like ``root`` with empty password
  (``doris.go:26-27``). With an ``auth`` validator (typically
  :class:`nineinfra_spark.auth.UserStore`, the reference's salted-MD5
  users table, ``kyuubi.go:55-64``) the server issues an
  AuthSwitchRequest to ``mysql_clear_password`` and verifies the
  cleartext against the store — the standard MySQL plugin for servers
  whose credential store is not SHA1-based (LDAP/PAM/RDS deployments
  do exactly this); ``mysql_native_password``'s challenge-response
  needs SHA1(password) material the salted-MD5 store deliberately
  never keeps. Failure → ERR 1045 (SQLSTATE 28000), as real servers
  emit. CLIENT NOTE (advice r8): the socket is plaintext TCP — no TLS
  — so mainstream drivers refuse to send a cleartext password unless
  explicitly told to: ``mysql --enable-cleartext-plugin``,
  Connector/J ``enabledCleartextPlugin=true`` (older:
  ``allowCleartextPasswords``), Connector/Python
  ``auth_plugin='mysql_clear_password'``, libmysqlclient
  ``MYSQL_ENABLE_CLEARTEXT_PLUGIN``. The server binds loopback-only
  by default, which is the deployment posture that makes the
  cleartext exchange acceptable — do not re-bind it to a routable
  interface without putting TLS termination in front;
- ``COM_QUERY`` → ``spark.sql`` → text resultset (column-definition
  packets, classic EOF framing, length-encoded row values — every
  value rendered as text, NULL as 0xFB, the canonical lowest common
  denominator every connector parses);
- ``COM_PING`` → OK, ``COM_QUIT`` → close, anything else → ERR.

Result fetch is bounded exactly like the REST frontend
(:func:`nineinfra_spark.shortcircuit.fetch`, a window of
:data:`nineinfra_spark.rest.DEFAULT_FETCH_LIMIT` rows) — a wire gateway
FETCHES a window; unbounded extraction is a WRITE through SQL. A point
statement over one unpinned, non-partitioned parquet table is read on
the driver with pyarrow and runs no Spark job, and leaves a template:
the next statement of the same text up to its literals is looked up
before ``spark.sql`` and answered on the driver with no parser or
optimizer run while the connection's session conf and current
database, the table's catalog entry, temp views, cache state and files
are unchanged.
A repeated statement over unchanged inputs is answered from the result
cache the REST frontend shares (same plan, same session conf, same
input files or pins), also with no Spark job. The rules are in
``nineinfra_spark/shortcircuit.py``. Any other plan, any error on those
paths and any truncated window run Spark. The server is a daemon thread
per connection on the shared session, like the other frontends.
"""

from __future__ import annotations

import socket
import struct
import threading

from pyspark.sql import SparkSession

from nineinfra_spark.rest import DEFAULT_FETCH_LIMIT
from nineinfra_spark.shortcircuit import fetch

SERVER_VERSION = "8.0.0-nineinfra-spark"

# capability flags (the subset we speak)
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000
_SERVER_CAPS = CLIENT_PROTOCOL_41 | CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH

_CHARSET_UTF8 = 33  # utf8_general_ci
_STATUS_AUTOCOMMIT = 0x0002
_TYPE_VAR_STRING = 0xFD

COM_QUIT, COM_INIT_DB, COM_QUERY, COM_PING = 0x01, 0x02, 0x03, 0x0E


def _lenenc_int(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n <= 0xFFFF:
        return b"\xfc" + struct.pack("<H", n)
    if n <= 0xFFFFFF:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(s: bytes) -> bytes:
    return _lenenc_int(len(s)) + s


class _Conn:
    """One client connection: packet framing + the command loop."""

    def __init__(
        self,
        sock: socket.socket,
        spark: SparkSession,
        conn_id: int,
        auth=None,
        conns: set | None = None,
    ):
        self._sock = sock
        # USER-share by default: every connection plans on the shared
        # session (its temp views ARE the served tables — same model
        # as headerless REST). A connection only gets its own
        # newSession() clone the moment it issues USE/COM_INIT_DB —
        # setCurrentDatabase on the shared session changed name
        # resolution for every other connection and the REST clients
        # mid-query (r11 review finding); the lazy clone isolates the
        # mutation without breaking shared-view serving for everyone
        # else.
        self._shared = spark
        self._spark = spark
        self._conn_id = conn_id
        self._auth = auth  # (username, password) -> bool, or None = open
        self._seq = 0
        self._conns = conns  # gateway's live-socket registry (for stop)

    # -- framing -----------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("client closed")
            buf += chunk
        return buf

    #: protocol max payload per frame; >= this length means
    #: "continued in the next packet"
    _MAX_FRAME = 0xFFFFFF

    def _read_packet(self) -> bytes:
        # reassemble split packets: a frame of exactly 0xFFFFFF bytes
        # continues in the next frame (r11 review finding: without the
        # splitting rule a >=16 MB payload desyncs the stream)
        payload = b""
        while True:
            header = self._recv_exact(4)
            (length,) = struct.unpack("<I", header[:3] + b"\x00")
            self._seq = header[3] + 1
            payload += self._recv_exact(length)
            if length < self._MAX_FRAME:
                return payload

    def _send_packet(self, payload: bytes) -> None:
        # split per protocol: every frame < 0xFFFFFF except
        # continuations; an exact-multiple payload ends with an empty
        # terminating frame
        off = 0
        while True:
            chunk = payload[off : off + self._MAX_FRAME]
            header = struct.pack("<I", len(chunk))[:3] + bytes(
                [self._seq & 0xFF]
            )
            self._sock.sendall(header + chunk)
            self._seq += 1
            off += len(chunk)
            if len(chunk) < self._MAX_FRAME:
                return

    # -- protocol messages -------------------------------------------------
    def _send_handshake(self) -> None:
        # 20 bytes of auth-plugin-data (nonce); content is irrelevant to
        # our accept-all auth but must be present and NUL-terminated.
        nonce = bytes(range(1, 21))
        payload = (
            b"\x0a"  # protocol version 10
            + SERVER_VERSION.encode() + b"\x00"
            + struct.pack("<I", self._conn_id)
            + nonce[:8] + b"\x00"
            + struct.pack("<H", _SERVER_CAPS & 0xFFFF)
            + bytes([_CHARSET_UTF8])
            + struct.pack("<H", _STATUS_AUTOCOMMIT)
            + struct.pack("<H", (_SERVER_CAPS >> 16) & 0xFFFF)
            + bytes([21])  # auth-plugin-data total length
            + b"\x00" * 10
            + nonce[8:] + b"\x00"
            + b"mysql_native_password\x00"
        )
        self._send_packet(payload)

    def _send_ok(self) -> None:
        self._send_packet(
            b"\x00" + _lenenc_int(0) + _lenenc_int(0)
            + struct.pack("<H", _STATUS_AUTOCOMMIT) + struct.pack("<H", 0)
        )

    def _send_eof(self, warnings: int = 0) -> None:
        self._send_packet(
            b"\xfe"
            + struct.pack("<H", warnings)
            + struct.pack("<H", _STATUS_AUTOCOMMIT)
        )

    def _send_err(
        self, message: str, code: int = 1064, sqlstate: bytes = b"42000"
    ) -> None:
        self._send_packet(
            b"\xff" + struct.pack("<H", code) + b"#" + sqlstate
            + message.encode("utf-8", "replace")[:1000]
        )

    def _send_column_def(self, name: str) -> None:
        self._send_packet(
            _lenenc_str(b"def") + _lenenc_str(b"") + _lenenc_str(b"")
            + _lenenc_str(b"") + _lenenc_str(name.encode()) + _lenenc_str(b"")
            + _lenenc_int(0x0C)
            + struct.pack("<H", _CHARSET_UTF8)
            + struct.pack("<I", 255)  # display length
            + bytes([_TYPE_VAR_STRING])
            + struct.pack("<H", 0)  # flags
            + bytes([0x1F])  # decimals: text value, max
            + b"\x00\x00"
        )

    def _clone_session(self) -> SparkSession:
        """``newSession()`` clone that still SERVES: the shared
        session's local temp views ARE the served tables (the module
        docstring's USER-share model), but ``newSession()`` starts
        with an empty temp-view registry — so the common connector
        flow (``mysql -D db``, a JDBC URL with a database) used to get
        a gateway where every served table resolved to
        TABLE_OR_VIEW_NOT_FOUND (r11 ADVICE finding). Re-register each
        local temp view on the clone through a global-temp-view bridge
        (public API only): DataFrame-created temp views store the
        ANALYZED plan, so the bridge can be dropped immediately and
        the clone's view keeps resolving. Global temp views need no
        copy — the ``global_temp`` registry is shared across sessions.
        Snapshot semantics: views (un)registered on the shared session
        AFTER the USE are deliberately not tracked — same contract as
        any session fork."""
        clone = self._shared.newSession()
        bridge = f"__nine_use_bridge_{self._conn_id}"
        for t in self._shared.catalog.listTables():
            if not t.isTemporary or list(t.namespace or []):
                continue  # not a LOCAL temp view
            name = t.name.replace("`", "``")
            self._shared.table(f"`{name}`").createOrReplaceGlobalTempView(
                bridge
            )
            clone.table(f"global_temp.{bridge}").createOrReplaceTempView(
                f"`{name}`"
            )
        self._shared.catalog.dropGlobalTempView(bridge)
        return clone

    # -- lifecycle ---------------------------------------------------------
    def _handshake(self) -> bool:
        self._send_handshake()
        self._seq = 1  # client response carries seq 1
        resp = self._read_packet()
        if len(resp) < 32:
            self._send_err("malformed HandshakeResponse")
            return False
        (caps,) = struct.unpack("<I", resp[:4])
        if not caps & CLIENT_PROTOCOL_41:
            self._send_err("CLIENT_PROTOCOL_41 required")
            return False
        # username: NUL-terminated after the fixed 32-byte prefix
        nul = resp.find(b"\x00", 32)
        username = resp[32:nul if nul != -1 else len(resp)].decode(
            "utf-8", "replace"
        )
        if self._auth is None:
            # the Doris-default root/"" model (doris.go:26-27)
            self._send_ok()
            return True
        # AuthSwitchRequest → mysql_clear_password: the salted-MD5
        # store can verify cleartext, never a SHA1 challenge-response
        self._send_packet(b"\xfe" + b"mysql_clear_password\x00" + b"\x00")
        pw_raw = self._read_packet()
        password = pw_raw.rstrip(b"\x00").decode("utf-8", "replace")
        if not self._auth(username, password):
            self._send_err(
                f"Access denied for user '{username}'",
                code=1045,
                sqlstate=b"28000",
            )
            return False
        self._send_ok()
        return True

    def _run_query(self, sql: str) -> None:
        try:
            cols, rows, truncated = fetch(self._spark, sql, DEFAULT_FETCH_LIMIT)
        except Exception as exc:  # engine error → ERR packet, connection lives
            self._send_err(str(exc)[:900])
            return
        if not cols:
            # DDL/DML/SET return no result schema: the protocol answer
            # is an OK packet — a 0-column resultset would read as a
            # truncated OK followed by two stray EOFs, desyncing every
            # later command on the connection (r11 review finding)
            self._send_ok()
            return
        self._send_packet(_lenenc_int(len(cols)))
        for c in cols:
            self._send_column_def(c)
        self._send_eof()
        for row in rows:
            payload = b""
            for v in row:
                if v is None:
                    payload += b"\xfb"
                elif isinstance(v, (bytes, bytearray)):
                    # binary columns ship their RAW bytes, as a real
                    # server does for BLOB — str() would serve the
                    # Python repr b'...' on the wire (r13 review pass)
                    payload += _lenenc_str(bytes(v))
                else:
                    payload += _lenenc_str(str(v).encode())
            self._send_packet(payload)
        # a capped resultset signals the drop in the closing EOF's
        # warning count — the only in-protocol channel a plain
        # resultset has (r11 review finding: the probe row was
        # collected and discarded with no signal at all)
        self._send_eof(warnings=1 if truncated else 0)

    def serve(self) -> None:
        try:
            if not self._handshake():
                return
            while True:
                self._seq = 0
                # _read_packet leaves _seq at last-received-frame + 1 —
                # which is 1 for a single-frame command but HIGHER for
                # a split (>=16 MB) command; the response must continue
                # that sequence, so never reset it here (r15 review
                # finding: a hard reset to 1 desynced every client
                # that sent a split COM_QUERY)
                packet = self._read_packet()
                if not packet or packet[0] == COM_QUIT:
                    return
                if packet[0] == COM_PING:
                    self._send_ok()
                elif packet[0] == COM_INIT_DB:
                    # connectors send USE <db> right after connecting;
                    # the database switch happens on THIS connection's
                    # lazy clone, never the shared session (see
                    # __init__)
                    try:
                        if self._spark is self._shared:
                            self._spark = self._clone_session()
                        self._spark.catalog.setCurrentDatabase(
                            packet[1:].decode("utf-8", "replace")
                        )
                        self._send_ok()
                    except Exception as exc:
                        self._send_err(str(exc)[:900], 1049)  # unknown database
                elif packet[0] == COM_QUERY:
                    self._run_query(packet[1:].decode("utf-8", "replace"))
                else:
                    self._send_err(f"unsupported command 0x{packet[0]:02x}", 1047)
        except (ConnectionError, OSError):
            pass  # client went away — normal teardown
        finally:
            if self._conns is not None:
                self._conns.discard(self._sock)
            self._sock.close()


class MySqlGateway:
    """Handle for a running MySQL-protocol endpoint."""

    def __init__(
        self,
        server: socket.socket,
        thread: threading.Thread,
        conns: set | None = None,
    ):
        self._server = server
        self._thread = thread
        self._conns = conns if conns is not None else set()

    @property
    def port(self) -> int:
        return self._server.getsockname()[1]

    def stop(self) -> None:
        try:
            self._server.close()
        except OSError:
            pass
        # close established connections too — a stopped gateway used
        # to leave connection threads serving queries against a
        # soon-to-be-stopped SparkContext (r11 review finding); the
        # socket close makes their next recv/send raise and the
        # thread tear down cleanly
        for sock in list(self._conns):
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                sock.close()
            except OSError:
                pass
        self._thread.join(timeout=10)


def start_mysql_gateway(
    spark: SparkSession, port: int = 0, auth=None
) -> MySqlGateway:
    """Serve the MySQL-protocol frontend on ``port`` (0 = OS-assigned).
    Accept loop on a daemon thread; one daemon thread per connection,
    planning on the shared session (USER-share, same as headerless
    REST) until the connection issues USE — from then on it runs on
    its own ``newSession()`` clone so the database switch never
    changes name resolution for anyone else.
    ``auth``: optional ``(username, password) -> bool`` validator
    (typically :class:`nineinfra_spark.auth.UserStore`) enforced via
    AuthSwitch to ``mysql_clear_password``; ``None`` = the open
    Doris-default frontend."""
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", port))
    server.listen(16)
    conn_counter = threading.Lock()
    state = {"next_id": 1}
    conns: set = set()

    def _accept_loop() -> None:
        while True:
            try:
                sock, _ = server.accept()
            except OSError:
                return  # stop() closed the listener
            with conn_counter:
                cid = state["next_id"]
                state["next_id"] += 1
            conns.add(sock)
            threading.Thread(
                target=_Conn(sock, spark, cid, auth=auth, conns=conns).serve,
                daemon=True,
            ).start()

    thread = threading.Thread(target=_accept_loop, daemon=True)
    thread.start()
    return MySqlGateway(server, thread, conns)
