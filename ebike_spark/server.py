"""MySQL wire-protocol server over the Engine — the reference's
front door (`/root/reference/src/mysql/handle.rs:157-301`,
`/root/reference/src/main.rs:87-101`), previously the one declared-out-
of-scope component (SURVEY §7). Implemented from the PUBLIC MySQL
client/server protocol: protocol-v10 handshake, classic (non-
DEPRECATE_EOF) packet framing, COM_QUERY text resultsets, and the
BINARY prepared-statement protocol (COM_STMT_PREPARE/EXECUTE/CLOSE
with NULL bitmap + typed parameters — the reference's
mysql_util.rs:41-150 surface).

Scope/divergences (documented, all testable in-container):
- Auth: by default the handshake advertises mysql_native_password and
  the server accepts any credentials — exact reference parity: the
  reference READS AND DISCARDS the auth response
  (`handle.rs:100-110`), so accept-anything is parity with its bug,
  not a gap. OPT-IN enforcement (r10, VERDICT-r9 task 6): construct
  `EbikeServer(spark, require_password="...")` and both the handshake
  and COM_CHANGE_USER validate the client's mysql_native_password
  scramble (SHA1(pwd) XOR SHA1(nonce + SHA1(SHA1(pwd)))) against the
  configured password for the seeded mysql.users root row; a mismatch
  is ERR 1045 (28000) and the connection state is untouched.
- TLS and compression are not negotiated (the capability mask simply
  omits them — same stance as the reference; rationale in README
  "Wire protocol scope"). With r11's COM_PROCESS_INFO / COM_DEBUG /
  COM_PROCESS_KILL (a real KILL: the target's socket shuts down and
  its serve loop exits) every classic command byte a stock client or
  mysqladmin sends is dispatched — r12 adds the final two:
  COM_REFRESH (flush-* acknowledged; all flushable surfaces are
  absent or per-statement invalidated) and COM_SHUTDOWN (requester
  acknowledged first — EOF classically, OK under DEPRECATE_EOF —
  then the accept loop stops and every live connection is broken,
  mysqladmin-shutdown semantics; the shutdown-race registration
  re-check keeps a connection accepted mid-shutdown from surviving
  the sweep). The capability mask is
  the only remaining scope line. KILL termination is LAZY by design
  (ADVICE-r11): shutting down the victim's socket means a victim
  blocked mid-statement finishes its in-flight Spark job and dies on
  its NEXT socket I/O — MySQL's KILL CONNECTION additionally aborts
  the running statement promptly. Prompt abort would require wiring
  per-statement Spark job groups + cancelJobGroup into the victim's
  session; documented divergence until a use case needs it. CLIENT_DEPRECATE_EOF IS negotiated: a client that sets
  it gets modern framing (no EOF after column defs; row streams end
  with the OK-with-0xFE-header terminator), one that doesn't gets
  classic EOF framing — both paths tested. CLIENT_MULTI_STATEMENTS /
  CLIENT_MULTI_RESULTS are negotiated: a ;-separated COM_QUERY batch
  returns per-statement responses chained with
  SERVER_MORE_RESULTS_EXISTS. COM_STMT_SEND_LONG_DATA accumulates
  chunked string/blob parameters for the next EXECUTE (no response
  packet), cleared by EXECUTE/RESET/CLOSE as in MySQL.
  COM_RESET_CONNECTION resets session state (user vars, prepared
  statements, session sys vars, last_insert_id) without re-auth —
  the connection-pool checkout surface; COM_STATISTICS returns the
  plain-string status packet mysqladmin reads.
- Binary resultset rows encode LONGLONG/DOUBLE natively; everything
  else (strings, timestamps, booleans-as-tiny) ships as VAR_STRING
  text, which every connector accepts for those types.
- COM_STMT_PREPARE returns REAL result metadata for the SELECT family
  (one extra Catalyst analysis pass with NULL params, no execution);
  statements with no resultset — or the rare parameterized shape
  NULL-splicing cannot analyze, e.g. LIMIT ? — advertise num_columns=0
  and ship metadata with the EXECUTE response as before.

Threading: one OS thread per connection; every connection shares one
Engine-per-connection over the same SparkSession (sessions are cheap —
the per-connection state is sys_vars/current_db, exactly the
reference's per-connection CoreExecution).
"""

from __future__ import annotations

import hashlib
import hmac
import os
import socket
import struct
import threading
import time as _time

from pyspark.sql import SparkSession

from ebike_spark.engine import Engine, EngineResult, commit
from ebike_spark.engine.errors import EbikeError

# ---------------------------------------------------------------- consts

COM_QUIT = 0x01
COM_INIT_DB = 0x02
COM_QUERY = 0x03
COM_FIELD_LIST = 0x04
COM_REFRESH = 0x07  # mysqladmin flush-*; sub-command bitmask
COM_SHUTDOWN = 0x08  # mysqladmin shutdown
COM_PING = 0x0E
COM_STATISTICS = 0x09
COM_PROCESS_INFO = 0x0A  # deprecated alias for SHOW PROCESSLIST
COM_PROCESS_KILL = 0x0C  # deprecated alias for KILL <connection id>
COM_DEBUG = 0x0D  # stderr debug dump; answered EOF/OK
COM_CHANGE_USER = 0x11
COM_STMT_PREPARE = 0x16
COM_STMT_EXECUTE = 0x17
COM_STMT_SEND_LONG_DATA = 0x18
COM_STMT_CLOSE = 0x19
COM_STMT_RESET = 0x1A

# per-(stmt, param) COM_STMT_SEND_LONG_DATA byte cap — MySQL's
# default max_allowed_packet (64 MiB); overflow is 1153 at EXECUTE
_LONG_DATA_CAP = 64 * 1024 * 1024
COM_SET_OPTION = 0x1B
COM_RESET_CONNECTION = 0x1F

CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000
CLIENT_CONNECT_WITH_DB = 0x00000008
CLIENT_MULTI_STATEMENTS = 0x00010000
CLIENT_MULTI_RESULTS = 0x00020000
CLIENT_DEPRECATE_EOF = 0x01000000
SERVER_MORE_RESULTS_EXISTS = 0x0008
SERVER_STATUS_AUTOCOMMIT = 0x0002

SERVER_CAPS = (
    CLIENT_LONG_PASSWORD
    | CLIENT_PROTOCOL_41
    | CLIENT_SECURE_CONNECTION
    | CLIENT_PLUGIN_AUTH
    | CLIENT_CONNECT_WITH_DB
    | CLIENT_MULTI_STATEMENTS
    | CLIENT_MULTI_RESULTS
    | CLIENT_DEPRECATE_EOF
)

# MySQL column type codes (public protocol constants)
T_TINY = 0x01
T_LONG = 0x03
T_DOUBLE = 0x05
T_NULL = 0x06
T_LONGLONG = 0x08
T_VAR_STRING = 0xFD

CHARSET_UTF8MB4 = 45  # utf8mb4_general_ci


def native_password_token(password: str, nonce: bytes) -> bytes:
    """The mysql_native_password scramble a client sends (public
    protocol): SHA1(pwd) XOR SHA1(nonce + SHA1(SHA1(pwd))). An empty
    password is a zero-length token."""
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode("utf-8")).digest()
    h2 = hashlib.sha1(h1).digest()
    mix = hashlib.sha1(nonce + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, mix))


def _fresh_nonce() -> bytes:
    """20 random non-NUL bytes, per connection — MySQL's auth-plugin-
    data salt excludes NUL so the legacy NUL-terminated response form
    stays parseable. A constant nonce would make the scramble a
    replayable static credential once require_password is set
    (review r10)."""
    out = bytearray()
    while len(out) < 20:
        out.extend(b for b in os.urandom(24) if b != 0)
    return bytes(out[:20])


def _lenenc_int(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n < 2**16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 2**24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(s: bytes) -> bytes:
    return _lenenc_int(len(s)) + s


def _read_lenenc_int(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return struct.unpack("<I", buf[pos + 1 : pos + 4] + b"\x00")[0], pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


def _spark_type_code(dt: str) -> int:
    dt = dt.lower()
    if dt in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return T_LONGLONG
    if dt in ("double", "float"):
        return T_DOUBLE
    if dt == "boolean":
        return T_TINY
    return T_VAR_STRING


class _Conn:
    """One client connection: packet framing + command dispatch."""

    def __init__(
        self,
        sock: socket.socket,
        spark: SparkSession,
        secure_file_priv: str | None = None,
        *,
        stats: dict,
        require_password: str | None = None,
        conn_id: int = 1,
    ):
        self.sock = sock
        # wire connection id: sent in the handshake, shown by
        # COM_PROCESS_INFO, addressable by COM_PROCESS_KILL
        self.conn_id = conn_id
        # opt-in wire auth (None = accept anything, reference parity)
        self.require_password = require_password
        # server-wide counters for COM_STATISTICS (shared across
        # connections; informational, guarded by the server's lock)
        self.stats = stats
        # newSession(): same SparkContext and shared metastore tables,
        # but ISOLATED SQL conf + current database — without it, every
        # Engine's setCurrentDatabase would race across connection
        # threads and unqualified names could resolve in another
        # connection's database mid-query.
        # secure_file_priv is fixed HERE (server start option), never
        # over the wire: Engine rejects SET on it with 1238, so a
        # client that can reach the socket cannot lift the LOAD DATA
        # fence (MySQL makes the variable read-only for this reason).
        self.engine = Engine(spark.newSession(), secure_file_priv=secure_file_priv)
        self.seq = 0
        self.client_caps = 0  # set from HandshakeResponse41
        # per-statement parameter types: connectors send the types only
        # on the FIRST COM_STMT_EXECUTE (new_params_bound_flag=1) and
        # omit them on re-execution
        self._stmt_types: dict[int, list[int]] = {}
        # COM_STMT_SEND_LONG_DATA accumulator, keyed (stmt_id, param):
        # chunks concatenate in arrival order; consumed by the next
        # EXECUTE and cleared by it / COM_STMT_RESET / COM_STMT_CLOSE.
        # Chunks for UNKNOWN statement handles are dropped on arrival
        # (EXECUTE will 1243 on that handle anyway) and total bytes per
        # (stmt, param) are capped at _LONG_DATA_CAP — MySQL bounds
        # each parameter via max_allowed_packet; an overflowed param
        # raises 1153 at EXECUTE instead of growing without bound.
        self._long_data: dict[tuple[int, int], bytearray] = {}
        self._long_overflow: set[tuple[int, int]] = set()

    # ------------------------------------------------------- packet IO

    def _recv_exact(self, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = self.sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("client closed")
            out += chunk
        return out

    def read_packet(self) -> bytes:
        # reassemble 16MB-split packets (a frame of exactly 0xFFFFFF
        # bytes is continued by the next frame — public protocol)
        out = b""
        while True:
            header = self._recv_exact(4)
            (length,) = struct.unpack("<I", header[:3] + b"\x00")
            self.seq = header[3]
            out += self._recv_exact(length)
            if length < 0xFFFFFF:
                return out

    def write_packet(self, payload: bytes) -> None:
        # split at 16MB-1: every full frame is continued; a payload
        # that is an exact multiple ends with an empty frame
        while True:
            chunk, payload = payload[:0xFFFFFF], payload[0xFFFFFF:]
            self.seq = (self.seq + 1) % 256
            self.sock.sendall(
                struct.pack("<I", len(chunk))[:3] + bytes([self.seq]) + chunk
            )
            if len(chunk) < 0xFFFFFF:
                return

    # ------------------------------------------------------- responses

    def send_ok(
        self,
        affected: int = 0,
        last_insert_id: int = 0,
        more: bool = False,
        eof_header: bool = False,
    ) -> None:
        status = SERVER_STATUS_AUTOCOMMIT | (
            SERVER_MORE_RESULTS_EXISTS if more else 0
        )
        # eof_header: the DEPRECATE_EOF resultset terminator is an OK
        # packet whose header byte is 0xFE (public protocol)
        self.write_packet(
            (b"\xfe" if eof_header else b"\x00")
            + _lenenc_int(max(affected, 0))
            + _lenenc_int(last_insert_id)
            + struct.pack("<HH", status, 0)
        )

    def send_eof(self, more: bool = False) -> None:
        status = SERVER_STATUS_AUTOCOMMIT | (
            SERVER_MORE_RESULTS_EXISTS if more else 0
        )
        self.write_packet(b"\xfe" + struct.pack("<HH", 0, status))

    @property
    def deprecate_eof(self) -> bool:
        return bool(self.client_caps & CLIENT_DEPRECATE_EOF)

    def _end_column_defs(self) -> None:
        """Separator after a resultset's column definitions: classic
        framing sends an EOF here; DEPRECATE_EOF framing sends nothing
        (rows follow the defs directly)."""
        if not self.deprecate_eof:
            self.send_eof()

    def _end_rows(self, more: bool = False) -> None:
        """Row-stream terminator: classic EOF, or the OK-with-0xFE-
        header packet under DEPRECATE_EOF."""
        if self.deprecate_eof:
            self.send_ok(more=more, eof_header=True)
        else:
            self.send_eof(more=more)

    def send_err(self, code: int, message: str, sqlstate: str = "HY000") -> None:
        self.write_packet(
            b"\xff"
            + struct.pack("<H", code)
            + b"#"
            + sqlstate.encode()[:5].ljust(5, b"0")
            + message.encode("utf-8")
        )

    def _column_def(self, name: str, type_code: int) -> bytes:
        nb = name.encode("utf-8")
        return (
            _lenenc_str(b"def")  # catalog
            + _lenenc_str(b"")  # schema
            + _lenenc_str(b"")  # table
            + _lenenc_str(b"")  # org_table
            + _lenenc_str(nb)  # name
            + _lenenc_str(nb)  # org_name
            + b"\x0c"  # fixed filler
            + struct.pack("<H", CHARSET_UTF8MB4)
            + struct.pack("<I", 1024)  # display length
            + bytes([type_code])
            + struct.pack("<H", 0)  # flags
            + b"\x00"  # decimals
            + b"\x00\x00"  # filler
        )

    # --------------------------------------------------- resultset out

    def send_text_resultset(self, result: EngineResult, more: bool = False) -> None:
        df = result.df
        fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        self.write_packet(_lenenc_int(len(fields)))
        for name, dt in fields:
            self.write_packet(self._column_def(name, _spark_type_code(dt)))
        self._end_column_defs()
        # toLocalIterator, NEVER collect: rows stream to the socket a
        # partition at a time (prefetch pipelines the next partition
        # while this one encodes), so a `SELECT *` over a huge table
        # holds at most ~2 partitions in driver memory instead of the
        # whole resultset — the server must not be the one operator in
        # the repo that materializes unbounded data on the driver.
        for row in df.toLocalIterator(prefetchPartitions=True):
            payload = b""
            for i, (name, dt) in enumerate(fields):
                v = row[i]  # positional: duplicate column names stay distinct
                if v is None:
                    payload += b"\xfb"
                elif isinstance(v, bool):
                    payload += _lenenc_str(b"1" if v else b"0")
                elif isinstance(v, (bytes, bytearray)):
                    payload += _lenenc_str(bytes(v))
                else:
                    payload += _lenenc_str(str(v).encode("utf-8"))
            self.write_packet(payload)
        self._end_rows(more=more)

    def send_binary_resultset(self, result: EngineResult) -> None:
        df = result.df
        fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        self.write_packet(_lenenc_int(len(fields)))
        for name, dt in fields:
            self.write_packet(self._column_def(name, _spark_type_code(dt)))
        self._end_column_defs()
        n = len(fields)
        # streamed exactly like the text protocol (see above): binary
        # rows encode one at a time from a partition-at-a-time iterator
        for row in df.toLocalIterator(prefetchPartitions=True):
            null_bitmap = bytearray((n + 7 + 2) // 8)
            vals = b""
            for i, (name, dt) in enumerate(fields):
                v = row[i]  # positional: duplicate column names stay distinct
                if v is None:
                    # binary-row null bitmap has a 2-bit offset
                    null_bitmap[(i + 2) // 8] |= 1 << ((i + 2) % 8)
                    continue
                code = _spark_type_code(dt)
                if code == T_LONGLONG:
                    vals += struct.pack("<q", int(v))
                elif code == T_DOUBLE:
                    vals += struct.pack("<d", float(v))
                elif code == T_TINY:
                    vals += struct.pack("<b", 1 if v else 0)
                elif isinstance(v, (bytes, bytearray)):
                    vals += _lenenc_str(bytes(v))
                else:
                    vals += _lenenc_str(str(v).encode("utf-8"))
            self.write_packet(b"\x00" + bytes(null_bitmap) + vals)
        self._end_rows()

    def send_result(
        self, result: EngineResult, binary: bool = False, more: bool = False
    ) -> None:
        if result.kind == "rows" and result.df is not None:
            if binary:
                self.send_binary_resultset(result)
            else:
                self.send_text_resultset(result, more=more)
        else:
            self.send_ok(
                affected=result.affected,
                last_insert_id=getattr(self.engine, "last_insert_id", 0),
                more=more,
            )

    # ------------------------------------------------------- handshake

    def handshake(self) -> None:
        nonce = _fresh_nonce()  # 20 bytes, per connection
        self._nonce = nonce  # COM_CHANGE_USER re-auth scrambles
        # against the handshake nonce (no auth-switch roundtrip here)
        payload = (
            b"\x0a"  # protocol version 10
            + b"8.0.26-ebike-spark\x00"
            + struct.pack("<I", self.conn_id & 0xFFFFFFFF)
            + nonce[:8]
            + b"\x00"
            + struct.pack("<H", SERVER_CAPS & 0xFFFF)
            + bytes([CHARSET_UTF8MB4])
            + struct.pack("<H", 0x0002)  # status: autocommit
            + struct.pack("<H", (SERVER_CAPS >> 16) & 0xFFFF)
            + bytes([21])  # auth plugin data length (20 + NUL)
            + b"\x00" * 10
            + nonce[8:]
            + b"\x00"
            + b"mysql_native_password\x00"
        )
        self.seq = 255  # first server packet carries sequence id 0
        self.write_packet(payload)
        resp = self.read_packet()  # HandshakeResponse41
        caps = struct.unpack_from("<I", resp, 0)[0]
        self.client_caps = caps
        # username starts at offset 32 (4 caps + 4 maxpkt + 1 charset
        # + 23 reserved); the auth response follows the user NUL, the
        # database (if CONNECT_WITH_DB) follows the auth response
        pos = 32
        end = resp.index(b"\x00", pos)
        user = resp[pos:end].decode("utf-8", "replace")
        pos = end + 1
        if caps & CLIENT_SECURE_CONNECTION:
            # 1-byte length-prefixed auth response
            alen = resp[pos]
            token = resp[pos + 1 : pos + 1 + alen]
            pos += 1 + alen
        else:
            # legacy NUL-terminated auth response. A 20-byte scramble
            # can legitimately contain 0x00, so this form cannot carry
            # one reliably — with auth ENFORCED, a non-4.1 client is
            # refused outright (ER 1251), as MySQL does for plugins
            # its protocol level cannot speak (review r10).
            if self.require_password is not None:
                self.send_err(
                    1251,
                    "Client does not support authentication protocol"
                    " requested by server; consider upgrading MySQL"
                    " client",
                    "08004",
                )
                raise ConnectionError("pre-4.1 client with auth enforced")
            end = resp.index(b"\x00", pos)
            token = resp[pos:end]
            pos = end + 1
        if not self._auth_ok(user, token, nonce):
            raise ConnectionError("access denied at connect")
        if caps & CLIENT_CONNECT_WITH_DB:
            dbend = resp.find(b"\x00", pos)
            if dbend > pos:
                db = resp[pos:dbend].decode("utf-8", "replace")
                try:
                    self.engine.execute(f"USE {db}")
                except EbikeError:
                    # real MySQL refuses the connection: ERR 1049
                    self.send_err(1049, f"Unknown database '{db}'", "42000")
                    raise ConnectionError("unknown database at connect")
        # read_packet recorded the response's sequence (1); the OK that
        # completes the handshake follows it as 2
        self.send_ok()

    def _auth_ok(self, user: str, token: bytes, nonce: bytes) -> bool:
        """Opt-in mysql_native_password check (require_password set at
        server construction; None = accept anything, reference
        parity). Validates against the seeded mysql.users root row —
        the only account both this engine and the reference seed
        (meta/initial.rs:1161). On failure sends ERR 1045 (28000)
        itself and returns False."""
        if self.require_password is None:
            return True
        expected = native_password_token(self.require_password, nonce)
        if user == "root" and hmac.compare_digest(token, expected):
            return True
        using = "YES" if token else "NO"
        self.send_err(
            1045,
            f"Access denied for user '{user}'@'localhost'"
            f" (using password: {using})",
            "28000",
        )
        return False

    def _com_query(self, sql: str) -> None:
        """COM_QUERY, honoring CLIENT_MULTI_STATEMENTS: a ;-separated
        batch runs statement by statement, each response carrying
        SERVER_MORE_RESULTS_EXISTS until the last (public protocol —
        how `mysql -e "a; b"` and connector executescript ship work).
        A client that did NOT negotiate the capability gets the MySQL
        behavior: the batch is a single malformed statement (1064/1105
        from the engine), never a silent partial execution. The first
        error aborts the remainder, as MySQL does."""
        from ebike_spark.engine.parser import split_statements

        stmts = split_statements(sql)
        batched = len(stmts) > 1 and bool(
            self.client_caps & CLIENT_MULTI_STATEMENTS
        )
        # Questions counts each statement of an accepted batch; a
        # non-negotiating client's whole packet is ONE (failing)
        # statement (MySQL parity)
        with self.stats["lock"]:
            self.stats["questions"] += len(stmts) if batched else 1
        # each statement stays running (commit.statement) until its
        # resultset is sent: the rows stream lazily from the table
        # version the statement read
        if not batched:
            # single statement (a bare trailing ';' is fine — the
            # engine strips it); or capability not negotiated
            with commit.statement():
                self.send_result(self.engine.execute(sql))
            return
        for k, stmt in enumerate(stmts):
            with commit.statement():
                result = self.engine.execute(stmt)
                self.send_result(result, more=k < len(stmts) - 1)

    def _reset_wire_session(self) -> None:
        """Connection-level session reset shared by COM_RESET_CONNECTION
        and COM_CHANGE_USER: engine session state (user vars, prepared
        statements, session sys vars, last_insert_id) plus the
        wire-side statement-type and long-data caches — ONE place, so
        the two reset commands can never drift apart."""
        self.engine.reset_session()
        self._stmt_types.clear()
        self._long_data.clear()
        self._long_overflow.clear()

    # ---------------------------------------------------- command loop

    def serve(self) -> None:
        self.handshake()
        while True:
            try:
                pkt = self.read_packet()
            except ConnectionError:
                return
            if not pkt:
                return
            cmd, body = pkt[0], pkt[1:]
            # read_packet recorded the command's sequence id (0);
            # responses continue from it (1, 2, ...)
            try:
                if cmd == COM_QUIT:
                    return
                if cmd == COM_PING:
                    self.send_ok()
                elif cmd == COM_STATISTICS:
                    # response is a PLAIN STRING packet, not OK/resultset
                    # (public protocol — mysqladmin status reads this)
                    with self.stats["lock"]:
                        q = self.stats["questions"]
                    up = int(_time.time() - self.stats["started"])
                    qps = q / up if up > 0 else float(q)
                    self.write_packet(
                        (
                            f"Uptime: {up}  Threads: {self.stats['threads']()}  "
                            f"Questions: {q}  Slow queries: 0  Opens: 0  "
                            f"Flush tables: 0  Open tables: 0  "
                            f"Queries per second avg: {qps:.3f}"
                        ).encode()
                    )
                elif cmd == COM_CHANGE_USER:
                    # re-authenticate as another user mid-connection
                    # (the pre-RESET_CONNECTION pooling surface).
                    # Credentials are checked exactly as at handshake
                    # (accept-anything unless require_password is
                    # set); session state resets and the
                    # requested database becomes current — an EMPTY
                    # database returns the connection to the fresh-
                    # connection default schema (MySQL leaves NO
                    # default database / 1046 there; this engine has
                    # no no-database state, documented divergence).
                    # Unknown database -> ERR 1049 with the session
                    # UNCHANGED (the engine keeps the old context).
                    with self.stats["lock"]:
                        self.stats["questions"] += 1
                    try:
                        uend = body.index(b"\x00")
                        cu_user = body[:uend].decode("utf-8", "replace")
                        pos = uend + 1  # past user
                        if self.client_caps & CLIENT_SECURE_CONNECTION:
                            alen = body[pos]
                            cu_token = bytes(body[pos + 1 : pos + 1 + alen])
                            pos += 1 + alen  # length-prefixed auth
                        else:
                            # legacy NUL-terminated auth response —
                            # cannot carry a binary scramble (may
                            # contain 0x00); refused when auth is
                            # enforced, exactly as at handshake
                            if self.require_password is not None:
                                self.send_err(
                                    1251,
                                    "Client does not support"
                                    " authentication protocol requested"
                                    " by server; consider upgrading"
                                    " MySQL client",
                                    "08004",
                                )
                                continue
                            aend = body.index(b"\x00", pos)
                            cu_token = bytes(body[pos:aend])
                            pos = aend + 1
                        dbend = body.index(b"\x00", pos)
                    except (ValueError, IndexError):
                        self.send_err(
                            1835, "Malformed communication packet", "HY000"
                        )
                        continue
                    # opt-in auth applies to re-auth too; failure
                    # leaves the old session fully intact (MySQL
                    # keeps the connection alive on CHANGE_USER 1045)
                    if not self._auth_ok(cu_user, cu_token, self._nonce):
                        continue
                    db = body[pos:dbend].decode("utf-8", "replace") or "default"
                    # validate by NAME (never spliced into SQL — a db
                    # name with whitespace must not truncate to its
                    # first token) BEFORE resetting anything; a name
                    # the catalog cannot even parse is equally unknown
                    try:
                        known = self.engine.catalog.database_exists(db)
                    except Exception:
                        known = False
                    if not known:
                        self.send_err(
                            1049, f"Unknown database '{db}'", "42000"
                        )
                        continue
                    self._reset_wire_session()
                    self.engine.current_db = db
                    self.send_ok()
                elif cmd == COM_RESET_CONNECTION:
                    # pooled connectors reset session state between
                    # checkouts without re-authenticating
                    self._reset_wire_session()
                    self.send_ok()
                elif cmd == COM_PROCESS_INFO:
                    # deprecated alias for SHOW PROCESSLIST (mysql
                    # client `processlist` command still sends it);
                    # _com_query counts the question
                    self._com_query("SHOW PROCESSLIST")
                elif cmd == COM_DEBUG:
                    # MySQL dumps debug info to the server's stderr and
                    # answers EOF (OK under DEPRECATE_EOF). Nothing to
                    # dump here; the acknowledgement is the contract
                    # (mysqladmin debug)
                    if self.deprecate_eof:
                        self.send_ok()
                    else:
                        self.send_eof()
                elif cmd == COM_REFRESH:
                    # mysqladmin flush-{logs,tables,hosts,status,...}:
                    # 1-byte sub-command bitmask. Every flushable
                    # surface here is already either absent (no query
                    # log, no grant tables, no host cache) or
                    # built per statement (information_schema is
                    # read from the catalog by each query), so the
                    # flush is complete by construction — the OK is
                    # the contract.
                    if len(body) < 1:
                        self.send_err(
                            1835, "Malformed communication packet", "HY000"
                        )
                        continue
                    self.send_ok()
                elif cmd == COM_SHUTDOWN:
                    # mysqladmin shutdown: optional 1-byte shutdown
                    # type (ignored — MySQL only honors WAIT_ALL_*
                    # variants with privileges we don't model). The
                    # requesting client gets its acknowledgement FIRST
                    # — EOF classically, OK under DEPRECATE_EOF, same
                    # split as COM_DEBUG (mysqladmin waits for it,
                    # then for the connection to die) — then the
                    # server callback stops the accept loop and shuts
                    # down every live connection socket — including
                    # this one — so all serve loops exit on their next
                    # read, KILL-style. A bare engine-only _Conn (no
                    # server wired) answers 1105 like any unsupported
                    # surface.
                    shutdown = self.stats.get("shutdown")
                    if shutdown is None:
                        self.send_err(
                            1105, "COM_SHUTDOWN: no server to stop", "HY000"
                        )
                        continue
                    if self.deprecate_eof:
                        self.send_ok()
                    else:
                        self.send_eof()
                    shutdown()
                    return
                elif cmd == COM_PROCESS_KILL:
                    # deprecated alias for KILL <connection id>: 4-byte
                    # LE id. Shuts down the target's socket — its serve
                    # loop exits on the dead read exactly as on client
                    # disconnect (state cleanup in its own thread).
                    # Self-kill is legal: OK goes out first, then this
                    # loop ends. Unknown id -> ERR 1094, as in MySQL.
                    if len(body) < 4:
                        self.send_err(
                            1835, "Malformed communication packet", "HY000"
                        )
                        continue
                    kill_id = struct.unpack_from("<I", body, 0)[0]
                    with self.stats["lock"]:
                        target = self.stats.get("conns", {}).get(kill_id)
                    if target is None:
                        self.send_err(
                            1094, f"Unknown thread id: {kill_id}", "HY000"
                        )
                        continue
                    self.send_ok()
                    if kill_id == self.conn_id:
                        return
                    try:
                        target.sock.shutdown(socket.SHUT_RDWR)
                    except OSError:
                        pass  # target raced to disconnect — already dead
                elif cmd == COM_INIT_DB:
                    self.engine.execute(f"USE {body.decode('utf-8')}")
                    self.send_ok()
                elif cmd == COM_QUERY:
                    self._com_query(body.decode("utf-8"))
                elif cmd == COM_FIELD_LIST:
                    # deprecated command: table name NUL [+ wildcard]
                    table = body.split(b"\x00", 1)[0].decode("utf-8")
                    res = self.engine.execute(f"SHOW COLUMNS FROM {table}")
                    for row in res.rows():
                        self.write_packet(
                            self._column_def(str(row["Field"]), T_VAR_STRING)
                        )
                    self._end_rows()
                elif cmd == COM_STMT_PREPARE:
                    sql = body.decode("utf-8")
                    stmt_id = self.engine.prepare(sql)
                    n_params = self.engine.prepared_param_count(stmt_id)
                    # real prepare-time result metadata (LIMIT-0-style
                    # analysis of the statement with NULL params — one
                    # extra ANALYSIS pass, no execution): connectors
                    # that call mysql_stmt_result_metadata / JDBC
                    # getMetaData before the first execute see the true
                    # column count and defs, matching the reference
                    # (handle.rs:221-233). None (DML/DDL or a shape
                    # NULL-splicing cannot analyze) advertises 0.
                    cols = self.engine.prepared_result_schema(stmt_id)
                    self.write_packet(
                        b"\x00"
                        + struct.pack("<I", stmt_id)
                        + struct.pack("<H", len(cols) if cols else 0)
                        + struct.pack("<H", n_params)
                        + b"\x00"
                        + struct.pack("<H", 0)
                    )
                    if n_params:
                        for _ in range(n_params):
                            self.write_packet(self._column_def("?", T_VAR_STRING))
                        self._end_column_defs()
                    if cols:
                        for name, dt in cols:
                            self.write_packet(
                                self._column_def(name, _spark_type_code(dt))
                            )
                        self._end_column_defs()
                elif cmd == COM_STMT_EXECUTE:
                    # Questions counts executed prepared statements
                    # too (MySQL excludes only PING/STATISTICS/
                    # PREPARE/CLOSE/RESET)
                    with self.stats["lock"]:
                        self.stats["questions"] += 1
                    stmt_id = struct.unpack_from("<I", body, 0)[0]
                    n_params = self.engine.prepared_param_count(stmt_id)
                    # long data is consumed by ONE execute — popped
                    # BEFORE decoding so even a failing decode (1210
                    # etc.) clears it, as MySQL does; stale chunks must
                    # never override a later execute's inline values
                    ld = {
                        k: self._long_data.pop(k)
                        for k in [x for x in self._long_data if x[0] == stmt_id]
                    }
                    over = [k for k in self._long_overflow if k[0] == stmt_id]
                    if over:
                        # a long-data param blew the per-param cap:
                        # consumed (like the chunks) and reported as
                        # MySQL's over-max_allowed_packet error
                        for k in over:
                            self._long_overflow.discard(k)
                        self.send_err(
                            1153,
                            "Got a packet bigger than"
                            " 'max_allowed_packet' bytes",
                            "08S01",
                        )
                        continue
                    params = self._decode_binary_params(
                        body, n_params, self._stmt_types, stmt_id, ld
                    )
                    with commit.statement():
                        result = self.engine.execute_prepared(stmt_id, params)
                        self.send_result(result, binary=True)
                elif cmd == COM_STMT_SEND_LONG_DATA:
                    # stmt_id 4, param_id 2, data rest — appends a
                    # chunk to the parameter; NO response packet is
                    # sent, even for an unknown stmt_id (public
                    # protocol: errors surface at EXECUTE)
                    sid = struct.unpack_from("<I", body, 0)[0]
                    pid = struct.unpack_from("<H", body, 4)[0]
                    try:
                        n_par = self.engine.prepared_param_count(sid)
                    except EbikeError:
                        # unknown handle: EXECUTE on it is 1243 anyway
                        # — drop the chunk rather than letting bogus
                        # ids grow per-connection memory until close
                        continue
                    if pid >= n_par:
                        # out-of-range param index: EXECUTE never
                        # consumes such a chunk, so accepting it would
                        # reopen the unbounded-growth hole the cap
                        # closed (up to 2^16 capped buffers per
                        # statement — review r10); drop like an
                        # unknown handle
                        continue
                    buf = self._long_data.setdefault((sid, pid), bytearray())
                    if len(buf) + len(body) - 6 > _LONG_DATA_CAP:
                        # over max_allowed_packet: stop accumulating
                        # and flag — the 1153 surfaces at EXECUTE
                        # (SEND_LONG_DATA itself never responds)
                        self._long_overflow.add((sid, pid))
                        buf.clear()
                    elif (sid, pid) not in self._long_overflow:
                        buf.extend(body[6:])
                elif cmd == COM_SET_OPTION:
                    # runtime toggle of multi-statement mode (public
                    # protocol: 2-byte option, 0=ON 1=OFF; answered
                    # with EOF). Connectors call this to harden against
                    # injection after a batch — 1047 here would drop
                    # the connection.
                    opt = struct.unpack_from("<H", body, 0)[0]
                    if opt == 0:
                        self.client_caps |= CLIENT_MULTI_STATEMENTS
                    elif opt == 1:
                        self.client_caps &= ~CLIENT_MULTI_STATEMENTS
                    else:
                        self.send_err(1047, f"Unknown COM_SET_OPTION {opt}", "08S01")
                        continue
                    # answered with EOF classically, plain OK under
                    # DEPRECATE_EOF (public protocol)
                    if self.deprecate_eof:
                        self.send_ok()
                    else:
                        self.send_eof()
                elif cmd == COM_STMT_RESET:
                    # discards accumulated long data, but the handle
                    # must exist and the bound param TYPES survive, as
                    # in MySQL: a connector may re-execute with
                    # new_params_bound=0 right after a reset
                    sid = struct.unpack_from("<I", body, 0)[0]
                    self.engine.prepared_param_count(sid)  # 1243 if unknown
                    for key in [k for k in self._long_data if k[0] == sid]:
                        del self._long_data[key]
                    self._long_overflow = {
                        k for k in self._long_overflow if k[0] != sid
                    }
                    self.send_ok()
                elif cmd == COM_STMT_CLOSE:
                    sid = struct.unpack_from("<I", body, 0)[0]
                    self.engine.close_prepared(sid)
                    self._stmt_types.pop(sid, None)
                    for key in [k for k in self._long_data if k[0] == sid]:
                        del self._long_data[key]
                    self._long_overflow = {
                        k for k in self._long_overflow if k[0] != sid
                    }
                    # COM_STMT_CLOSE sends no response (public protocol)
                else:
                    self.send_err(1047, f"Unknown command {cmd:#04x}", "08S01")
            except EbikeError as e:
                self.send_err(e.code, e.message)
            except Exception as e:  # Spark analysis/parse errors etc.
                msg = (str(e).splitlines() or ["internal error"])[0][:400]
                self.send_err(1105, msg or "internal error")

    @staticmethod
    def _decode_binary_params(
        body: bytes,
        n_params: int,
        type_cache: dict[int, list[int]],
        stmt_id: int,
        long_data: dict[tuple[int, int], bytearray] | None = None,
    ) -> list[object]:
        """COM_STMT_EXECUTE payload → Python values (public protocol:
        stmt_id 4, flags 1, iteration 4, NULL bitmap (n+7)//8,
        new_params_bound 1, types 2×n, values). Connectors send the
        types block only on the FIRST execute; re-executions set
        new_params_bound=0 and reuse the cached types. A parameter fed
        via COM_STMT_SEND_LONG_DATA carries NO value bytes in the
        execute payload — its accumulated chunks are the value."""
        if n_params == 0:
            return []
        long_data = long_data or {}
        pos = 9
        nb_len = (n_params + 7) // 8
        null_bitmap = body[pos : pos + nb_len]
        pos += nb_len
        new_bound = body[pos]
        pos += 1
        if new_bound:
            types = []
            for _ in range(n_params):
                types.append(body[pos])
                pos += 2  # type + unsigned flag
            type_cache[stmt_id] = types
        else:
            types = type_cache.get(stmt_id)
            if types is None and any(
                (stmt_id, i) not in long_data for i in range(n_params)
            ):
                # all-long-data executes never need the type block
                raise EbikeError(1210, "parameter types never bound")
        params: list[object] = []
        for i in range(n_params):
            if (stmt_id, i) in long_data:
                # long data wins over the bitmap and consumes no
                # payload bytes (the connector never serialized one)
                params.append(
                    bytes(long_data[(stmt_id, i)]).decode("utf-8", "replace")
                )
                continue
            if null_bitmap[i // 8] & (1 << (i % 8)):
                params.append(None)
                continue
            t = types[i]
            if t == T_LONGLONG:
                params.append(struct.unpack_from("<q", body, pos)[0])
                pos += 8
            elif t == T_LONG:
                params.append(struct.unpack_from("<i", body, pos)[0])
                pos += 4
            elif t == T_TINY:
                params.append(struct.unpack_from("<b", body, pos)[0])
                pos += 1
            elif t == T_DOUBLE:
                params.append(struct.unpack_from("<d", body, pos)[0])
                pos += 8
            elif t == 0x04:  # FLOAT
                params.append(struct.unpack_from("<f", body, pos)[0])
                pos += 4
            elif t == T_NULL:
                params.append(None)
            else:  # VAR_STRING / STRING / BLOB: length-encoded bytes
                ln, pos = _read_lenenc_int(body, pos)
                params.append(body[pos : pos + ln].decode("utf-8", "replace"))
                pos += ln
        return params


class EbikeServer:
    """Accept loop. `with EbikeServer(spark) as port:` starts on an
    ephemeral localhost port and stops on exit — the shape the tests
    (and any notebook demo) drive."""

    def __init__(
        self,
        spark: SparkSession,
        host: str = "127.0.0.1",
        port: int = 0,
        secure_file_priv: str | None = None,
        require_password: str | None = None,
    ):
        self.spark = spark
        self.secure_file_priv = secure_file_priv
        self.require_password = require_password
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind((host, port))
        self.sock.listen(16)
        self.port = self.sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._conn_seq = 0  # handshake thread ids, monotonic per server
        self.stats = {
            "started": _time.time(),
            "questions": 0,
            "lock": threading.Lock(),
            # live _Conn objects by connection id — COM_PROCESS_KILL's
            # target registry AND the processlist view AND the
            # COM_STATISTICS Threads count (one source of truth,
            # guarded by the same lock)
            "conns": {},
            "threads": lambda: len(self.stats["conns"]),
            # COM_SHUTDOWN's server hook: stop accepting, then break
            # every live connection (the requester has its OK by then)
            "shutdown": self._shutdown_all,
        }

    def _shutdown_all(self) -> None:
        self.stop()
        with self.stats["lock"]:
            conns = list(self.stats["conns"].values())
        for c in conns:
            try:
                c.sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass  # raced to disconnect — already dead

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.sock.settimeout(0.2)
                conn, _ = self.sock.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            t = threading.Thread(
                target=self._serve_conn, args=(conn,), daemon=True
            )
            t.start()

    def _processlist_rows(self) -> list[tuple]:
        """SHOW PROCESSLIST / COM_PROCESS_INFO rows from the live
        registry — the Ids here are the ones COM_PROCESS_KILL
        addresses. Command/State are point-in-time approximations
        (every listed connection is between commands from this
        thread's viewpoint), matching MySQL's snapshot semantics."""
        with self.stats["lock"]:
            conns = sorted(self.stats["conns"].items())
        return [
            (cid, "root", "localhost", c.engine.current_db, "Sleep", 0, "", None)
            for cid, c in conns
        ]

    def _serve_conn(self, conn: socket.socket) -> None:
        with self.stats["lock"]:
            self._conn_seq += 1
            conn_id = self._conn_seq
        try:
            handler = _Conn(
                conn,
                self.spark,
                secure_file_priv=self.secure_file_priv,
                stats=self.stats,
                require_password=self.require_password,
                conn_id=conn_id,
            )
            handler.engine.processlist_provider = self._processlist_rows
            # register only once the handler exists (greeting — which
            # publishes the id — goes out inside serve(), after this).
            # Registration re-checks the stop flag UNDER THE LOCK:
            # _shutdown_all sets the flag before snapshotting the
            # registry, so a connection accepted in the shutdown race
            # either lands in the snapshot (and is broken) or observes
            # the flag here and never serves (review r12 — without
            # this, a connection mid-__init__ during COM_SHUTDOWN
            # survived the sweep and served forever).
            with self.stats["lock"]:
                if self._stop.is_set():
                    return
                self.stats["conns"][conn_id] = handler
            handler.serve()
        except Exception:
            pass
        finally:
            with self.stats["lock"]:
                self.stats["conns"].pop(conn_id, None)
            try:
                conn.close()
            except OSError:
                pass

    def start(self) -> "EbikeServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self) -> int:
        self.start()
        return self.port

    def __exit__(self, *exc) -> None:
        self.stop()


def main() -> None:
    """`python -m ebike_spark.server [port]` — serve until interrupted."""
    import sys
    import time

    from ebike_spark.session import get_spark

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 3306
    spark = get_spark("ebike_server")
    srv = EbikeServer(spark, port=port).start()
    print(f"ebike-spark MySQL protocol server on 127.0.0.1:{srv.port}")
    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        srv.stop()


if __name__ == "__main__":
    main()
