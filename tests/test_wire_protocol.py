"""MySQL wire-protocol server end-to-end: a MINIMAL client implemented
here from the public protocol (no client library exists in this
container) drives the real TCP server — handshake v10, COM_QUERY text
resultsets, OK/ERR packets with MySQL error codes, COM_INIT_DB,
COM_PING, and the binary prepared-statement protocol
(COM_STMT_PREPARE/EXECUTE with NULL bitmap + typed params).

This closes the two components SURVEY §7 had declared out of scope
(the reference's handle.rs / mysql_util.rs surface)."""

from __future__ import annotations

import socket
import struct
import uuid

import pytest

from ebike_spark.server import EbikeServer

pytestmark = pytest.mark.slow  # real TCP server + Spark per statement


# ------------------------------------------------------- minimal client


class MiniClient:
    """Just enough of the public protocol to be a real conformance
    check: framing, handshake response, text/binary resultset decode."""

    def __init__(
        self,
        port: int,
        database: str | None = None,
        multi_statements: bool = False,
        deprecate_eof: bool = False,
        password: str | None = None,
    ):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.seq = 0
        self.multi_statements = multi_statements
        self.deprecate_eof = deprecate_eof
        self.password = password
        self._handshake(database)

    # framing ---------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = self.sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("server closed")
            out += chunk
        return out

    def read_packet(self) -> bytes:
        # reassemble 16MB-split packets (frame of 0xFFFFFF continues)
        out = b""
        while True:
            header = self._recv_exact(4)
            (length,) = struct.unpack("<I", header[:3] + b"\x00")
            self.seq = header[3]
            out += self._recv_exact(length)
            if length < 0xFFFFFF:
                return out

    def write_packet(self, payload: bytes) -> None:
        self.seq = (self.seq + 1) % 256
        self.sock.sendall(
            struct.pack("<I", len(payload))[:3] + bytes([self.seq]) + payload
        )

    def send_command(self, cmd: int, body: bytes = b"") -> None:
        self.seq = 255  # commands start a new sequence at 0
        self.write_packet(bytes([cmd]) + body)

    # handshake -------------------------------------------------------
    def _handshake(self, database: str | None) -> None:
        greeting = self.read_packet()
        assert greeting[0] == 0x0A  # protocol version 10
        ver_end = greeting.index(b"\x00", 1)
        self.server_version = greeting[1:ver_end].decode()
        # connection/thread id — COM_PROCESS_KILL's address
        self.thread_id = struct.unpack_from("<I", greeting, ver_end + 1)[0]
        # 20-byte nonce: 8 bytes after the 4-byte thread id, then 12
        # more after filler+caps+charset+status+caps_hi+len+reserved
        p = ver_end + 1 + 4
        self.nonce = greeting[p : p + 8] + greeting[p + 8 + 19 : p + 8 + 19 + 12]
        caps = 0x00000200 | 0x00008000 | 0x00080000  # 41 | secure | plugin_auth
        if database:
            caps |= 0x00000008
        if self.multi_statements:
            caps |= 0x00010000 | 0x00020000  # MULTI_STATEMENTS | MULTI_RESULTS
        if self.deprecate_eof:
            caps |= 0x01000000  # CLIENT_DEPRECATE_EOF
        resp = (
            struct.pack("<I", caps)
            + struct.pack("<I", 1 << 24)
            + bytes([45])  # utf8mb4
            + b"\x00" * 23
            + b"root\x00"
            + self._auth_blob()  # 1-byte length-prefixed auth response
            + ((database.encode() + b"\x00") if database else b"")
            + b"mysql_native_password\x00"
        )
        self.write_packet(resp)
        ok = self.read_packet()
        if ok[0] == 0xFF:
            self.handshake_error = struct.unpack_from("<H", ok, 1)[0]
            return
        self.handshake_error = None
        assert ok[0] == 0x00, f"handshake failed: {ok!r}"

    def _auth_blob(self) -> bytes:
        """The 1-byte length-prefixed mysql_native_password response
        for self.password (empty password = zero-length token)."""
        from ebike_spark.server import native_password_token

        token = native_password_token(self.password or "", self.nonce)
        return bytes([len(token)]) + token

    # value decode ----------------------------------------------------
    @staticmethod
    def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
        first = buf[pos]
        if first < 0xFB:
            return first, pos + 1
        if first == 0xFC:
            return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
        if first == 0xFD:
            return struct.unpack("<I", buf[pos + 1 : pos + 4] + b"\x00")[0], pos + 4
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9

    def _read_columns(self, n_cols: int) -> list[tuple[str, int]]:
        cols = []
        for _ in range(n_cols):
            pkt = self.read_packet()
            pos = 0
            vals = []
            for _ in range(6):  # catalog..org_name lenenc strings
                ln, pos = self._lenenc(pkt, pos)
                vals.append(pkt[pos : pos + ln])
                pos += ln
            pos += 1 + 2 + 4  # filler, charset, length
            type_code = pkt[pos]
            cols.append((vals[4].decode(), type_code))
        if not self.deprecate_eof:
            # modern framing sends NO separator after the defs
            eof = self.read_packet()
            assert eof[0] == 0xFE and len(eof) < 9
        return cols

    # command surface -------------------------------------------------
    def _read_one_result(self):
        """One COM_QUERY response → ((kind, ...), more_results_flag)."""
        first = self.read_packet()
        if first[0] == 0x00:
            affected, pos = self._lenenc(first, 1)
            _, pos = self._lenenc(first, pos)  # last_insert_id
            status = struct.unpack_from("<H", first, pos)[0]
            return ("ok", affected), bool(status & 0x0008)
        if first[0] == 0xFF:
            code = struct.unpack_from("<H", first, 1)[0]
            return ("err", code, first[9:].decode("utf-8", "replace")), False
        n_cols, _ = self._lenenc(first, 0)
        cols = self._read_columns(n_cols)
        rows = []
        while True:
            pkt = self.read_packet()
            if pkt[0] == 0xFE and self.deprecate_eof:
                # modern terminator: OK packet with 0xFE header
                _, pos = self._lenenc(pkt, 1)  # affected
                _, pos = self._lenenc(pkt, pos)  # last_insert_id
                status = struct.unpack_from("<H", pkt, pos)[0]
                return ("rows", cols, rows), bool(status & 0x0008)
            if pkt[0] == 0xFE and len(pkt) < 9:
                # classic EOF: warnings(2) then status(2)
                status = struct.unpack_from("<H", pkt, 3)[0]
                return ("rows", cols, rows), bool(status & 0x0008)
            pos, row = 0, []
            for _ in cols:
                if pkt[pos] == 0xFB:
                    row.append(None)
                    pos += 1
                else:
                    ln, pos = self._lenenc(pkt, pos)
                    row.append(pkt[pos : pos + ln].decode())
                    pos += ln
            rows.append(row)

    def query(self, sql: str):
        """COM_QUERY → ('ok', affected) | ('err', code, msg) |
        ('rows', columns, rows-as-strings)."""
        self.send_command(0x03, sql.encode())
        result, _more = self._read_one_result()
        return result

    def multi_query(self, sql: str) -> list:
        """COM_QUERY with a ;-batch (requires multi_statements=True):
        reads responses while SERVER_MORE_RESULTS_EXISTS is set."""
        self.send_command(0x03, sql.encode())
        out = []
        more = True
        while more:
            result, more = self._read_one_result()
            out.append(result)
            if result[0] == "err":
                break  # the server aborts the remainder on error
        return out

    def prepare(self, sql: str) -> tuple[int, int]:
        self.send_command(0x16, sql.encode())
        first = self.read_packet()
        assert first[0] == 0x00, f"prepare failed: {first!r}"
        stmt_id = struct.unpack_from("<I", first, 1)[0]
        n_cols = struct.unpack_from("<H", first, 5)[0]
        n_params = struct.unpack_from("<H", first, 7)[0]
        if n_params:
            for _ in range(n_params):
                self.read_packet()
            if not self.deprecate_eof:
                assert self.read_packet()[0] == 0xFE
        # prepare-time result metadata (mysql_stmt_result_metadata
        # surface) — kept on the client for tests to assert against
        self.prepare_cols = self._read_columns(n_cols) if n_cols else []
        return stmt_id, n_params

    def execute(self, stmt_id: int, params: list, long_params=frozenset()):
        """COM_STMT_EXECUTE with typed binary params; decodes a binary
        resultset or OK/ERR. Param indexes in ``long_params`` were fed
        via COM_STMT_SEND_LONG_DATA: their type ships as VAR_STRING and
        NO value bytes are serialized (public protocol)."""
        n = len(params)
        body = struct.pack("<I", stmt_id) + b"\x00" + struct.pack("<I", 1)
        if n:
            null_bitmap = bytearray((n + 7) // 8)
            types = b""
            values = b""
            for i, p in enumerate(params):
                if i in long_params:
                    types += bytes([0xFD, 0])  # VAR_STRING, no value
                elif p is None:
                    null_bitmap[i // 8] |= 1 << (i % 8)
                    types += bytes([0x06, 0])  # NULL
                elif isinstance(p, bool):
                    types += bytes([0x01, 0])
                    values += struct.pack("<b", 1 if p else 0)
                elif isinstance(p, int):
                    types += bytes([0x08, 0])  # LONGLONG
                    values += struct.pack("<q", p)
                elif isinstance(p, float):
                    types += bytes([0x05, 0])  # DOUBLE
                    values += struct.pack("<d", p)
                else:
                    b = str(p).encode()
                    types += bytes([0xFD, 0])  # VAR_STRING
                    values += bytes([len(b)]) if len(b) < 251 else b""
                    if len(b) >= 251:
                        values += b"\xfc" + struct.pack("<H", len(b))
                    values += b
            body += bytes(null_bitmap) + b"\x01" + types + values
        self.send_command(0x17, body)
        first = self.read_packet()
        if first[0] == 0x00 and len(first) < 9:
            affected, _ = self._lenenc(first, 1)
            return ("ok", affected)
        if first[0] == 0xFF:
            code = struct.unpack_from("<H", first, 1)[0]
            return ("err", code, first[9:].decode("utf-8", "replace"))
        n_cols, _ = self._lenenc(first, 0)
        cols = self._read_columns(n_cols)
        rows = []
        while True:
            pkt = self.read_packet()
            if pkt[0] == 0xFE and (len(pkt) < 9 or self.deprecate_eof):
                break
            # binary row: 0x00 header + null bitmap (2-bit offset) + values
            assert pkt[0] == 0x00
            nb_len = (len(cols) + 7 + 2) // 8
            null_bitmap = pkt[1 : 1 + nb_len]
            pos = 1 + nb_len
            row = []
            for i, (_, tcode) in enumerate(cols):
                if null_bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                    row.append(None)
                    continue
                if tcode == 0x08:
                    row.append(struct.unpack_from("<q", pkt, pos)[0])
                    pos += 8
                elif tcode == 0x05:
                    row.append(struct.unpack_from("<d", pkt, pos)[0])
                    pos += 8
                elif tcode == 0x01:
                    row.append(struct.unpack_from("<b", pkt, pos)[0])
                    pos += 1
                else:
                    ln, pos = self._lenenc(pkt, pos)
                    row.append(pkt[pos : pos + ln].decode())
                    pos += ln
            rows.append(row)
        return ("rows", cols, rows)

    def execute_rebound(self, stmt_id: int, params: list):
        """Re-execute with new_params_bound_flag=0 and NO types block —
        what every connector sends from the second execution on; the
        server must reuse the types it cached at the first execute."""
        n = len(params)
        body = struct.pack("<I", stmt_id) + b"\x00" + struct.pack("<I", 1)
        null_bitmap = bytearray((n + 7) // 8)
        values = b""
        for i, p in enumerate(params):
            if p is None:
                null_bitmap[i // 8] |= 1 << (i % 8)
            elif isinstance(p, int):
                values += struct.pack("<q", p)
            elif isinstance(p, float):
                values += struct.pack("<d", p)
            else:
                b = str(p).encode()
                values += bytes([len(b)]) + b
        body += bytes(null_bitmap) + b"\x00" + values
        self.send_command(0x17, body)
        first = self.read_packet()
        if first[0] == 0x00 and len(first) < 9:
            affected, _ = self._lenenc(first, 1)
            return ("ok", affected)
        if first[0] == 0xFF:
            return ("err", struct.unpack_from("<H", first, 1)[0])
        raise AssertionError(f"unexpected: {first!r}")

    def send_long_data(self, stmt_id: int, param_id: int, data: bytes) -> None:
        """COM_STMT_SEND_LONG_DATA: appends a chunk to a parameter; the
        server sends NO response packet (public protocol)."""
        self.send_command(
            0x18, struct.pack("<I", stmt_id) + struct.pack("<H", param_id) + data
        )

    def ping(self) -> bool:
        self.send_command(0x0E)
        return self.read_packet()[0] == 0x00

    def init_db(self, db: str) -> bool:
        self.send_command(0x02, db.encode())
        return self.read_packet()[0] == 0x00

    def close(self) -> None:
        try:
            self.send_command(0x01)  # COM_QUIT
        except OSError:
            pass
        self.sock.close()


# ------------------------------------------------------------ the tests


@pytest.fixture(scope="module")
def server(spark):
    s = EbikeServer(spark).start()
    yield s.port
    s.stop()


def test_handshake_query_dml_and_errors(server):
    c = MiniClient(server)
    assert c.server_version.startswith("8.0.26-ebike-spark")
    assert c.ping()
    db = f"wp_{uuid.uuid4().hex[:8]}"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    assert c.init_db(db)
    assert c.query(
        "CREATE TABLE t (id INT NOT NULL, name CHAR, score FLOAT, PRIMARY KEY (id))"
    )[0] == "ok"
    kind, affected = c.query("INSERT INTO t VALUES (1, 'a', 1.5), (2, NULL, 2.5)")
    assert (kind, affected) == ("ok", 2)
    kind, cols, rows = c.query("SELECT id, name, score FROM t ORDER BY id")
    assert [n for n, _ in cols] == ["id", "name", "score"]
    assert rows == [["1", "a", "1.5"], ["2", None, "2.5"]]
    # MySQL error code rides the ERR packet
    kind, code, msg = c.query("INSERT INTO t VALUES (1, 'dup', 0.0)")
    assert (kind, code) == ("err", 1062)
    assert "Duplicate entry" in msg
    # unknown table → 1146-family error from the engine
    kind, code, _ = c.query("SELECT * FROM missing_table")
    assert kind == "err" and code > 0
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_binary_prepared_statements(server):
    c = MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    c.query(f"CREATE DATABASE {db}")
    c.init_db(db)
    c.query("CREATE TABLE p (id INT NOT NULL, v FLOAT, tag CHAR, PRIMARY KEY (id))")
    stmt, n_params = c.prepare("INSERT INTO p VALUES (?, ?, ?)")
    assert n_params == 3
    assert c.prepare_cols == []  # DML: no resultset, num_columns=0
    assert c.execute(stmt, [1, 2.5, "x"]) == ("ok", 1)
    assert c.execute(stmt, [2, None, "y"]) == ("ok", 1)  # NULL bitmap
    sel, n = c.prepare("SELECT id, v, tag FROM p WHERE id >= ? ORDER BY id")
    assert n == 1
    # prepare-time result metadata (BEFORE any execute): real names
    # and type codes — the mysql_stmt_result_metadata / JDBC
    # getMetaData surface the reference also serves (handle.rs:221-233)
    assert [name for name, _ in c.prepare_cols] == ["id", "v", "tag"]
    assert [t for _, t in c.prepare_cols] == [0x08, 0x05, 0xFD]
    kind, cols, rows = c.execute(sel, [1])
    assert kind == "rows"
    assert [t for _, t in cols] == [0x08, 0x05, 0xFD]  # LONGLONG, DOUBLE, VAR_STRING
    assert rows == [[1, 2.5, "x"], [2, None, "y"]]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_two_concurrent_connections_have_isolated_sessions(server):
    a, b = MiniClient(server), MiniClient(server)
    dba = f"wp_{uuid.uuid4().hex[:8]}"
    a.query(f"CREATE DATABASE {dba}")
    a.init_db(dba)
    # a's USE must not affect b (per-connection Engine state)
    kind, cols, rows = a.query("SELECT database() AS d")
    assert rows[0][0] == dba
    kind, cols, rows = b.query("SELECT database() AS d")
    assert rows[0][0] != dba
    # session variables isolate too
    a.query("SET @x = 41")
    kind, cols, rows = a.query("SELECT @x + 1 AS v")
    assert rows[0][0] == "42"
    a.query(f"DROP DATABASE {dba}")
    a.close()
    b.close()


def test_connect_with_db_in_handshake(server, spark):
    db = f"wp_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    c = MiniClient(server, database=db)
    _, _, rows = c.query("SELECT database() AS d")
    assert rows[0][0] == db
    c.close()
    spark.sql(f"DROP DATABASE {db}")


def test_reexecute_without_types_uses_cached(server):
    """Connectors send parameter types only on the FIRST execute;
    new_params_bound_flag=0 thereafter must reuse the cached types."""
    c = MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    c.query(f"CREATE DATABASE {db}")
    c.init_db(db)
    c.query("CREATE TABLE r (id INT NOT NULL, v FLOAT, PRIMARY KEY (id))")
    stmt, _ = c.prepare("INSERT INTO r VALUES (?, ?)")
    assert c.execute(stmt, [1, 1.5]) == ("ok", 1)  # types bound here
    assert c.execute_rebound(stmt, [2, 2.5]) == ("ok", 1)  # no types block
    _, _, rows = c.query("SELECT COUNT(*) AS n FROM r")
    assert rows == [["2"]]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_duplicate_column_names_stay_distinct(server):
    c = MiniClient(server)
    kind, cols, rows = c.query("SELECT 1 AS x, 2 AS x")
    assert [n for n, _ in cols] == ["x", "x"]
    assert rows == [["1", "2"]]
    c.close()


def test_16mb_packet_splitting(server):
    """A resultset row larger than one 16MB frame must split/reassemble
    per the public protocol rather than truncating the frame length."""
    c = MiniClient(server)
    n = 17_000_000
    kind, cols, rows = c.query(f"SELECT repeat('x', {n}) AS big")
    assert kind == "rows"
    assert len(rows[0][0]) == n and set(rows[0][0]) == {"x"}
    c.close()


def test_connect_with_unknown_db_is_refused(server):
    c = MiniClient.__new__(MiniClient)
    import socket as _socket

    c.sock = _socket.create_connection(("127.0.0.1", server), timeout=30)
    c.seq = 0
    c.multi_statements = False
    c.deprecate_eof = False
    c.password = None
    c._handshake("definitely_missing_db")
    assert c.handshake_error == 1049
    c.sock.close()


def test_concurrent_sessions_do_not_race_current_db(server):
    """Two connections interleaving USE + unqualified queries from
    separate threads must each keep their own current database (each
    connection runs on an isolated spark.newSession())."""
    import threading as _threading

    dbs = []
    errors = []

    def worker(tag: str) -> None:
        try:
            c = MiniClient(server)
            db = f"wp_{tag}_{uuid.uuid4().hex[:6]}"
            dbs.append(db)
            c.query(f"CREATE DATABASE {db}")
            c.init_db(db)
            c.query("CREATE TABLE t (id INT)")
            c.query("INSERT INTO t VALUES (1)")
            for _ in range(8):
                _, _, rows = c.query("SELECT database() AS d")
                if rows[0][0] != db:
                    errors.append(f"{tag}: saw {rows[0][0]} wanted {db}")
                _, _, rows = c.query("SELECT COUNT(*) AS n FROM t")
                if rows[0][0] != "1":
                    errors.append(f"{tag}: wrong table resolved")
            c.query(f"DROP DATABASE {db}")
            c.close()
        except Exception as e:  # surface thread failures to the assert
            errors.append(f"{tag}: {e!r}")

    threads = [
        _threading.Thread(target=worker, args=(t,)) for t in ("a", "b", "c")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors


def test_mysqldump_replay_over_the_wire(server):
    """A mysqldump-style statement stream replayed over TCP: the
    client-session preamble (SET NAMES / transaction no-ops / LOCK
    TABLES), DDL, batched INSERTs, and SHOW WARNINGS polling — the
    end-to-end client-compat story in one pass, finishing with a data
    diff against the expected rows."""
    c = MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    dump = [
        "SET NAMES utf8mb4",
        "SET @@session.sql_mode = 'ONLY_FULL_GROUP_BY'",
        f"CREATE DATABASE {db}",
        f"USE {db}",
        "START TRANSACTION",
        "CREATE TABLE dump_t (id INT NOT NULL, name CHAR, score FLOAT, PRIMARY KEY (id))",
        "LOCK TABLES dump_t WRITE",
        "INSERT INTO dump_t VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5)",
        "INSERT INTO dump_t VALUES (3, 'gamma', NULL)",
        "UNLOCK TABLES",
        "COMMIT",
    ]
    for stmt in dump:
        out = c.query(stmt)
        assert out[0] in ("ok", "rows"), (stmt, out)
    kind, cols, rows = c.query("SHOW WARNINGS")
    assert kind == "rows" and rows == []
    kind, cols, rows = c.query(
        "SELECT id, name, score FROM dump_t ORDER BY id"
    )
    assert rows == [
        ["1", "alpha", "1.5"],
        ["2", "beta", "2.5"],
        ["3", "gamma", None],
    ]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_secure_file_priv_fence_fixed_at_server_start(spark, tmp_path):
    """The LOAD DATA fence is a SERVER-START option: a fenced server's
    connections reject SET secure_file_priv with 1238 in every scope
    (a runtime-settable fence would let any client that can reach the
    socket lift it and read any server-readable file — why MySQL makes
    the variable read-only), and the fence itself holds over the wire
    (1290 outside, load succeeds inside)."""
    allowed = tmp_path / "fence"
    allowed.mkdir()
    inside = allowed / "in.csv"
    inside.write_text("1,alice\n")
    outside = tmp_path / "out.csv"
    outside.write_text("2,bob\n")
    s = EbikeServer(spark, secure_file_priv=str(allowed)).start()
    try:
        c = MiniClient(s.port)
        db = f"wp_{uuid.uuid4().hex[:8]}"
        assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
        assert c.init_db(db)
        assert c.query(
            "CREATE TABLE fenced_t (id INT NOT NULL, name CHAR, PRIMARY KEY (id))"
        )[0] == "ok"
        for stmt in (
            "SET secure_file_priv = ''",
            "SET @@secure_file_priv = ''",
            "SET GLOBAL secure_file_priv = ''",
            f"SET SESSION secure_file_priv = '{tmp_path}'",
        ):
            kind, code, msg = c.query(stmt)
            assert (kind, code) == ("err", 1238), (stmt, kind, code)
            assert "read only variable" in msg
        # the variable still READS (SELECT @@secure_file_priv)
        kind, cols, rows = c.query("SELECT @@secure_file_priv AS p")
        assert kind == "rows" and rows[0][0] == str(allowed)
        kind, code, _ = c.query(
            f"LOAD DATA INFILE '{outside}' INTO TABLE fenced_t FIELDS TERMINATED BY ','"
        )
        assert (kind, code) == ("err", 1290)
        kind, affected = c.query(
            f"LOAD DATA INFILE '{inside}' INTO TABLE fenced_t FIELDS TERMINATED BY ','"
        )
        assert (kind, affected) == ("ok", 1)
        # a SECOND connection to the same server inherits the fence
        c2 = MiniClient(s.port)
        kind, code, _ = c2.query(
            f"LOAD DATA INFILE '{outside}' INTO TABLE {db}.fenced_t FIELDS TERMINATED BY ','"
        )
        assert (kind, code) == ("err", 1290)
        c2.close()
        c.query(f"DROP DATABASE {db}")
        c.close()
    finally:
        s.stop()


def test_resultset_streams_without_collect(server):
    """The resultset encoders must STREAM (toLocalIterator, a partition
    at a time) rather than collect() — a `SELECT *` over a 100 TB table
    must not materialize on the driver just because it leaves over the
    wire. Pins the source (no .collect() in either encoder) and drives
    a multi-partition resultset of 60k rows — far more than one
    partition and one wire frame's worth of row packets — through both
    the text and binary protocols."""
    import inspect

    from ebike_spark import server as server_mod

    text_src = inspect.getsource(server_mod._Conn.send_text_resultset)
    bin_src = inspect.getsource(server_mod._Conn.send_binary_resultset)
    assert ".collect()" not in text_src and ".collect()" not in bin_src
    assert "toLocalIterator" in text_src and "toLocalIterator" in bin_src

    c = MiniClient(server)
    # range() fans out across the session's default parallelism, so the
    # iterator crosses many partition boundaries mid-resultset
    kind, cols, rows = c.query(
        "SELECT id, repeat('x', 64) AS pad FROM range(60000)"
    )
    assert kind == "rows" and len(rows) == 60000
    assert sorted(int(r[0]) for r in rows) == list(range(60000))
    assert all(len(r[1]) == 64 for r in rows[:100])
    # binary protocol streams the same way
    sel, n = c.prepare("SELECT id FROM range(20000) WHERE id >= ?")
    assert n == 1
    assert [name for name, _ in c.prepare_cols] == ["id"]
    kind, cols, rows = c.execute(sel, [0])
    assert kind == "rows" and len(rows) == 20000
    assert sorted(r[0] for r in rows) == list(range(20000))
    c.close()


def test_stmt_reset(server):
    """COM_STMT_RESET: OK for a live handle, the cached param types
    survive (a connector may re-execute with new_params_bound=0 right
    after), ERR 1243 for an unknown handle."""
    c = MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    c.query(f"CREATE DATABASE {db}")
    c.init_db(db)
    c.query("CREATE TABLE rs (id INT NOT NULL, PRIMARY KEY (id))")
    stmt, n = c.prepare("INSERT INTO rs VALUES (?)")
    assert c.execute(stmt, [1]) == ("ok", 1)
    c.send_command(0x1A, struct.pack("<I", stmt))
    pkt = c.read_packet()
    assert pkt[0] == 0x00  # OK
    # types cached at the first execute still apply after the reset
    assert c.execute_rebound(stmt, [2]) == ("ok", 1)
    c.send_command(0x1A, struct.pack("<I", 999999))
    pkt = c.read_packet()
    assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1243
    kind, cols, rows = c.query("SELECT id FROM rs ORDER BY id")
    assert rows == [["1"], ["2"]]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_multi_statements(server):
    """CLIENT_MULTI_STATEMENTS: a ;-batch returns per-statement
    responses chained by SERVER_MORE_RESULTS_EXISTS (mixing OK and
    resultsets); the first error aborts the remainder; a connection
    that did NOT negotiate the capability gets one error for the whole
    batch, never a silent partial execution."""
    c = MiniClient(server, multi_statements=True)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    c.query(f"CREATE DATABASE {db}")
    c.init_db(db)
    results = c.multi_query(
        "CREATE TABLE ms (id INT NOT NULL, PRIMARY KEY (id)); "
        "INSERT INTO ms VALUES (1), (2); "
        "SELECT id FROM ms ORDER BY id; "
        "INSERT INTO ms VALUES (3)"
    )
    assert [r[0] for r in results] == ["ok", "ok", "rows", "ok"]
    assert results[1][1] == 2  # INSERT affected
    assert results[2][2] == [["1"], ["2"]]
    # literal ';' inside a string must not split the batch
    results = c.multi_query(
        "CREATE TABLE msx (id INT, v CHAR); "
        "INSERT INTO msx VALUES (1, 'a;b'); SELECT v FROM msx"
    )
    assert results[-1][2] == [["a;b"]]
    # first error aborts the remainder: table ms3 must never exist
    results = c.multi_query(
        "INSERT INTO ms VALUES (1); CREATE TABLE ms3 (id INT)"
    )
    assert results[0][0] == "err" and results[0][1] == 1062
    kind, cols, rows = c.query(
        f"SELECT COUNT(*) AS c FROM information_schema.tables "
        f"WHERE table_schema = '{db}' AND table_name = 'ms3'"
    )
    assert rows == [["0"]]
    # without the capability: whole batch is one failing statement
    c2 = MiniClient(server)
    c2.init_db(db)
    out = c2.query("SELECT 1; SELECT 2")
    assert out[0] == "err"
    c2.close()
    # COM_SET_OPTION toggles the mode at runtime (connectors use it to
    # harden against injection after a batch): OFF -> batch errors,
    # ON -> batches work again; response is EOF, never 1047
    c.send_command(0x1B, struct.pack("<H", 1))  # MULTI_STATEMENTS_OFF
    assert c.read_packet()[0] == 0xFE
    out = c.query("SELECT 1; SELECT 2")
    assert out[0] == "err"
    c.send_command(0x1B, struct.pack("<H", 0))  # MULTI_STATEMENTS_ON
    assert c.read_packet()[0] == 0xFE
    results = c.multi_query("SELECT 1 AS a; SELECT 2 AS b")
    assert [r[0] for r in results] == ["rows", "rows"]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_deprecate_eof_framing(server):
    """CLIENT_DEPRECATE_EOF negotiation: no separator packet after
    column definitions, and the row stream ends with the OK-packet
    terminator carrying the 0xFE header — across text resultsets,
    the prepared-statement metadata response, and binary resultsets.
    A classic client on the SAME server keeps EOF framing (the other
    nine tests in this file pin that), so both paths coexist."""
    c = MiniClient(server, deprecate_eof=True)
    db = "deofdb"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    assert c.init_db(db)
    # text resultset under modern framing, NULLs included
    kind, cols, rows = c.query("SELECT 1 AS a, NULL AS b")
    assert kind == "rows" and [n for n, _ in cols] == ["a", "b"]
    assert rows == [["1", None]]
    # DML + multi-row resultset
    assert c.query("CREATE TABLE de (id INT, v CHAR)")[0] == "ok"
    assert c.query("INSERT INTO de VALUES (1, 'x'), (2, 'y')")[1] == 2
    kind, cols, rows = c.query("SELECT id, v FROM de ORDER BY id")
    assert rows == [["1", "x"], ["2", "y"]]
    # prepared statements: prepare-time metadata has no def separator,
    # and the binary resultset uses the modern terminator
    sid, n_params = c.prepare("SELECT id + ? AS s FROM de ORDER BY id")
    assert n_params == 1
    assert [n for n, _ in c.prepare_cols] == ["s"]
    r = c.execute(sid, [10])
    assert r[0] == "rows" and [row[0] for row in r[2]] == [11, 12]
    # errors are unaffected by the capability
    out = c.query("SELECT * FROM nosuch_de")
    assert out[0] == "err" and out[1] == 1146
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_stmt_send_long_data(server):
    """COM_STMT_SEND_LONG_DATA: chunks accumulate per (statement,
    param) with NO response packet, the next EXECUTE consumes them in
    place of serialized value bytes, and the accumulator is cleared by
    that execute and by COM_STMT_RESET (public protocol)."""
    c = MiniClient(server)
    db = "longdb"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    assert c.init_db(db)
    assert c.query("CREATE TABLE ld (id INT, txt VARCHAR(200))")[0] == "ok"
    sid, n_params = c.prepare("INSERT INTO ld VALUES (?, ?)")
    assert n_params == 2
    # two chunks concatenate in arrival order
    c.send_long_data(sid, 1, b"hello ")
    c.send_long_data(sid, 1, b"wire world")
    r = c.execute(sid, [1, None], long_params={1})
    assert r[0] == "ok" and r[1] == 1
    kind, _, rows = c.query("SELECT txt FROM ld WHERE id = 1")
    assert rows == [["hello wire world"]]
    # the execute consumed the accumulator: a plain re-execute (types
    # re-sent, value serialized inline) sees no stale long data
    r = c.execute(sid, [2, "inline"])
    assert r[0] == "ok"
    kind, _, rows = c.query("SELECT txt FROM ld WHERE id = 2")
    assert rows == [["inline"]]
    # COM_STMT_RESET discards accumulated chunks: only data sent AFTER
    # the reset reaches the next execute
    c.send_long_data(sid, 1, b"stale-before-reset")
    c.send_command(0x1A, struct.pack("<I", sid))  # COM_STMT_RESET
    assert c.read_packet()[0] == 0x00
    c.send_long_data(sid, 1, b"fresh")
    r = c.execute(sid, [3, None], long_params={1})
    assert r[0] == "ok"
    kind, _, rows = c.query("SELECT txt FROM ld WHERE id = 3")
    assert rows == [["fresh"]]
    # a FAILING execute also consumes long data (review r9): chunk +
    # typeless rebound-execute on a fresh statement -> 1210, and the
    # retry with an inline value must not see the stale chunk
    sid2, _ = c.prepare("INSERT INTO ld VALUES (?, ?)")
    c.send_long_data(sid2, 1, b"stale-chunk")
    r = c.execute_rebound(sid2, [4, None])
    assert r[0] == "err" and r[1] == 1210
    r = c.execute(sid2, [4, "clean"])
    assert r[0] == "ok"
    kind, _, rows = c.query("SELECT txt FROM ld WHERE id = 4")
    assert rows == [["clean"]]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_opt_in_wire_auth(spark):
    """Opt-in auth (default stays accept-anything, reference parity):
    with require_password set, a wrong/missing scramble is refused
    with ERR 1045 (28000) at handshake, the right scramble connects
    and queries normally, and COM_CHANGE_USER re-auth enforces the
    same check while a failed re-auth leaves the session intact."""
    s = EbikeServer(spark, require_password="s3cret").start()
    try:
        bad = MiniClient(s.port, password="wrong")
        assert bad.handshake_error == 1045
        bad.sock.close()
        none = MiniClient(s.port)  # empty auth response
        assert none.handshake_error == 1045
        none.sock.close()
        c = MiniClient(s.port, password="s3cret")
        assert c.handshake_error is None
        assert c.query("SELECT 1 AS one")[2] == [["1"]]
        # CHANGE_USER with a bad token: 1045, session survives
        c.query("SET @keep = 7")
        from ebike_spark.server import native_password_token

        body = (
            b"root\x00" + b"\x05wrong" + b"default\x00"
            + struct.pack("<H", 45)
        )
        c.send_command(0x11, body)  # COM_CHANGE_USER
        pkt = c.read_packet()
        assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1045
        assert c.query("SELECT @keep AS k")[2] == [["7"]]
        # CHANGE_USER with the right token (scrambled against the
        # handshake nonce): session resets
        token = native_password_token("s3cret", c.nonce)
        body = (
            b"root\x00" + bytes([len(token)]) + token + b"default\x00"
            + struct.pack("<H", 45)
        )
        c.send_command(0x11, body)
        assert c.read_packet()[0] == 0x00
        assert c.query("SELECT @keep AS k")[2] == [[None]]
        c.close()
    finally:
        s.stop()


def test_auth_refuses_pre41_client(spark):
    """With auth enforced, a client that omits CLIENT_SECURE_CONNECTION
    cannot ship a binary scramble in the legacy NUL-terminated form —
    the server answers ER 1251 instead of mis-parsing a token that may
    contain 0x00. Without enforcement the same client connects fine
    (reference parity)."""
    import socket as _socket

    def _legacy_connect(port: int):
        c = MiniClient.__new__(MiniClient)
        c.sock = _socket.create_connection(("127.0.0.1", port), timeout=30)
        c.seq = 0
        c.read_packet()  # greeting
        caps = 0x00000200 | 0x00080000  # protocol 41 + plugin auth, NO secure
        resp = (
            struct.pack("<I", caps)
            + struct.pack("<I", 1 << 24)
            + bytes([45])
            + b"\x00" * 23
            + b"root\x00"
            + b"\x00"  # legacy NUL-terminated (empty) auth response
            + b"mysql_native_password\x00"
        )
        c.write_packet(resp)
        return c, c.read_packet()

    s = EbikeServer(spark, require_password="s3cret").start()
    try:
        c, pkt = _legacy_connect(s.port)
        assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1251
        c.sock.close()
    finally:
        s.stop()
    s2 = EbikeServer(spark).start()  # enforcement off: legacy client OK
    try:
        c, pkt = _legacy_connect(s2.port)
        assert pkt[0] == 0x00
        c.sock.close()
    finally:
        s2.stop()


def test_stmt_send_long_data_cap_and_unknown_id(server, monkeypatch):
    """Long-data hygiene (review r10): chunks for an UNKNOWN statement
    handle are dropped on arrival (EXECUTE on that handle is 1243
    regardless), and a parameter that exceeds the per-param byte cap
    (MySQL's max_allowed_packet bound) raises 1153 at EXECUTE — the
    overflow is consumed, so a clean retry succeeds."""
    import ebike_spark.server as srv

    monkeypatch.setattr(srv, "_LONG_DATA_CAP", 64)
    c = MiniClient(server)
    db = "longcap"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    assert c.init_db(db)
    assert c.query("CREATE TABLE lc (id INT, txt VARCHAR(200))")[0] == "ok"
    # unknown handle: no response, no storage; EXECUTE is 1243
    c.send_long_data(999999, 0, b"x" * 32)
    sid, _ = c.prepare("INSERT INTO lc VALUES (?, ?)")
    # out-of-range param index on a KNOWN handle: dropped too (EXECUTE
    # never consumes it — accepting would allow 2^16 capped buffers
    # per statement), and it must not poison the statement's real
    # params below
    c.send_long_data(sid, 40000, b"y" * 32)
    # over-cap accumulation -> 1153 at EXECUTE, consumed by it
    c.send_long_data(sid, 1, b"a" * 48)
    c.send_long_data(sid, 1, b"b" * 48)
    r = c.execute(sid, [1, None], long_params={1})
    assert r[:2] == ("err", 1153)
    # the overflow was consumed: an in-cap retry works normally
    c.send_long_data(sid, 1, b"ok-after-overflow")
    r = c.execute(sid, [2, None], long_params={1})
    assert r[0] == "ok"
    assert c.query("SELECT txt FROM lc WHERE id = 2")[2] == [
        ["ok-after-overflow"]
    ]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_reset_connection_and_statistics(server):
    """COM_RESET_CONNECTION (pooled connectors reset session state
    between checkouts without re-auth): user variables, prepared
    statements, and session system variables reset; the current
    database survives. COM_STATISTICS returns the plain-string
    status packet mysqladmin reads."""
    c = MiniClient(server)
    db = "resetdb"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    assert c.init_db(db)
    assert c.query("CREATE TABLE rc (id INT)")[0] == "ok"
    c.query("SET @u = 42")
    assert c.query("SELECT @u AS u")[2] == [["42"]]
    c.query("SET SESSION wait_timeout = 123")
    assert c.query("SELECT @@wait_timeout AS w")[2] == [["123"]]
    sid, _ = c.prepare("SELECT ? AS x")
    # COM_RESET_CONNECTION
    c.send_command(0x1F)
    assert c.read_packet()[0] == 0x00
    # user var gone, session sys var back to default, stmt handle gone
    assert c.query("SELECT @u AS u")[2] == [[None]]
    assert c.query("SELECT @@wait_timeout AS w")[2] == [["28800"]]
    r = c.execute(sid, [1])
    assert r[0] == "err" and r[1] == 1243
    # current database preserved: unqualified name still resolves
    assert c.query("SELECT COUNT(*) AS n FROM rc")[2] == [["0"]]
    # COM_STATISTICS: plain string packet (not OK/ERR/resultset)
    c.send_command(0x09)
    pkt = c.read_packet()
    text = pkt.decode()
    assert text.startswith("Uptime: ") and "Questions: " in text
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_change_user(server):
    """COM_CHANGE_USER: re-auth mid-connection (credentials accepted
    as at handshake — reference parity), session state resets, the
    requested database becomes current; an unknown database is ERR
    1049 with the old session left fully intact."""
    c = MiniClient(server)
    db = "chgdb"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    c.query("SET @keep = 7")
    assert c.query("SELECT @keep AS k")[2] == [["7"]]
    # unknown db: ERR 1049, session untouched
    body = b"other\x00" + b"\x00" + b"definitely_missing\x00" + struct.pack("<H", 45)
    c.send_command(0x11, body)
    pkt = c.read_packet()
    assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1049
    assert c.query("SELECT @keep AS k")[2] == [["7"]]
    # a db name with whitespace must not truncate to its first token
    body = b"other\x00" + b"\x00" + b"defa ult\x00" + struct.pack("<H", 45)
    c.send_command(0x11, body)
    pkt = c.read_packet()
    assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1049
    # malformed packet (no NUL terminators) -> 1835, connection lives
    c.send_command(0x11, b"justbytes")
    pkt = c.read_packet()
    assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1835
    assert c.query("SELECT @keep AS k")[2] == [["7"]]
    # valid change: OK, session reset, database switched
    body = b"other\x00" + b"\x00" + db.encode() + b"\x00" + struct.pack("<H", 45)
    c.send_command(0x11, body)
    assert c.read_packet()[0] == 0x00
    assert c.query("SELECT @keep AS k")[2] == [[None]]
    assert c.query("SELECT DATABASE() AS d")[2] == [[db]]
    # EMPTY database: fresh-connection default schema (documented
    # divergence from MySQL's no-database/1046 state)
    body = b"other\x00" + b"\x00" + b"\x00" + struct.pack("<H", 45)
    c.send_command(0x11, body)
    assert c.read_packet()[0] == 0x00
    assert c.query("SELECT DATABASE() AS d")[2] == [["default"]]
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_multi_statements_under_deprecate_eof(server):
    """The SERVER_MORE_RESULTS_EXISTS chain must survive modern
    framing: in a ;-batch, a resultset's more-flag rides in the
    OK-with-0xFE-header terminator rather than the classic EOF, and
    OK responses chain exactly as before."""
    c = MiniClient(server, multi_statements=True, deprecate_eof=True)
    db = "deofms"
    assert c.query(f"CREATE DATABASE {db}")[0] == "ok"
    assert c.init_db(db)
    results = c.multi_query(
        "CREATE TABLE dm (id INT); "
        "INSERT INTO dm VALUES (1), (2); "
        "SELECT id FROM dm ORDER BY id; "
        "SELECT COUNT(*) AS n FROM dm"
    )
    assert [r[0] for r in results] == ["ok", "ok", "rows", "rows"]
    assert results[2][2] == [["1"], ["2"]]
    assert results[3][2] == [["2"]]
    # first error aborts the remainder under modern framing too
    results = c.multi_query("SELECT 1 AS a; SELECT * FROM nosuch; SELECT 2 AS b")
    assert results[0][0] == "rows" and results[1][0] == "err"
    assert len(results) == 2
    c.query(f"DROP DATABASE {db}")
    c.close()


def test_process_info_debug_and_kill(server):
    """The last classic command bytes (r11): COM_PROCESS_INFO answers
    the SHOW PROCESSLIST resultset, COM_DEBUG acknowledges with EOF
    (OK under DEPRECATE_EOF), and COM_PROCESS_KILL really terminates
    the addressed connection — unknown id is ERR 1094, cross-kill
    closes the victim's socket while the killer lives on, and
    self-kill OKs first then ends the connection (KILL CONNECTION
    semantics)."""
    a = MiniClient(server)
    b = MiniClient(server)
    assert a.thread_id != b.thread_id  # per-connection handshake ids
    # COM_PROCESS_INFO: a real resultset shaped like SHOW PROCESSLIST,
    # and the Ids it advertises ARE the handshake ids KILL addresses
    # (the mysqladmin processlist -> kill flow)
    a.send_command(0x0A)
    result, _ = a._read_one_result()
    assert result[0] == "rows" and [c[0] for c in result[1]][0] == "Id"
    listed = {int(r[0]) for r in result[2]}
    assert {a.thread_id, b.thread_id} <= listed
    # the text-protocol twin shows the same live view
    shown = a.query("SHOW PROCESSLIST")
    assert {int(r[0]) for r in shown[2]} == listed
    # COM_DEBUG: classic EOF acknowledgement
    a.send_command(0x0D)
    assert a.read_packet()[0] == 0xFE
    # ... and plain OK under DEPRECATE_EOF framing
    d = MiniClient(server, deprecate_eof=True)
    d.send_command(0x0D)
    assert d.read_packet()[0] == 0x00
    d.close()
    # unknown thread id
    a.send_command(0x0C, struct.pack("<I", 0x7FFFFFF0))
    pkt = a.read_packet()
    assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1094
    # cross-kill: a kills b; b's connection dies, a keeps working.
    # The killer's OK is sent BEFORE the victim's socket shuts down,
    # so poll: an in-flight PING may still be answered, but within the
    # deadline the shutdown must land and reads must start failing.
    a.send_command(0x0C, struct.pack("<I", b.thread_id))
    assert a.read_packet()[0] == 0x00
    import time as _t

    dead = False
    deadline = _t.time() + 10
    while _t.time() < deadline:
        try:
            b.send_command(0x0E)  # PING on the killed connection
            assert b.read_packet()[0] == 0x00  # raced ahead of shutdown
        except (ConnectionError, OSError):
            dead = True
            break
        _t.sleep(0.05)
    assert dead, "killed connection kept answering PING"
    assert a.query("SELECT 1 AS one")[2] == [["1"]]
    # self-kill: OK goes out first, then the connection ends
    a.send_command(0x0C, struct.pack("<I", a.thread_id))
    assert a.read_packet()[0] == 0x00
    with pytest.raises((ConnectionError, OSError)):
        a.send_command(0x0E)
        a.read_packet()


def test_refresh_and_shutdown(spark):
    """COM_REFRESH (mysqladmin flush-*) acknowledges with OK (every
    flushable surface is absent or per-statement invalidated here);
    COM_SHUTDOWN (mysqladmin shutdown) OKs the requester FIRST, then
    stops the accept loop and breaks every live connection — its own
    fresh server instance, since the module fixture must outlive this
    test."""
    import socket as _socket
    import time as _t

    s = EbikeServer(spark).start()
    try:
        a = MiniClient(s.port)
        b = MiniClient(s.port)
        # REFRESH: 1-byte bitmask operand -> OK; empty operand -> 1835
        a.send_command(0x07, b"\x44")
        assert a.read_packet()[0] == 0x00
        a.send_command(0x07)
        pkt = a.read_packet()
        assert pkt[0] == 0xFF and struct.unpack_from("<H", pkt, 1)[0] == 1835
        # SHUTDOWN: a classic (non-DEPRECATE_EOF) requester gets EOF —
        # the protocol's documented COM_SHUTDOWN response (OK only
        # under CLIENT_DEPRECATE_EOF, the COM_DEBUG split)...
        a.send_command(0x08, b"\x00")
        assert a.read_packet()[0] == 0xFE
        # ...every connection dies (incl. the bystander b)...
        for victim in (a, b):
            dead = False
            deadline = _t.time() + 10
            while _t.time() < deadline:
                try:
                    victim.send_command(0x0E)
                    victim.read_packet()
                except (ConnectionError, OSError):
                    dead = True
                    break
                _t.sleep(0.05)
            assert dead, "connection survived COM_SHUTDOWN"
        # ...and the listener stops accepting within the deadline
        refused = False
        deadline = _t.time() + 10
        while _t.time() < deadline:
            try:
                probe = _socket.create_connection(("127.0.0.1", s.port), timeout=0.5)
                probe.close()
            except OSError:
                refused = True
                break
            _t.sleep(0.05)
        assert refused, "listener kept accepting after COM_SHUTDOWN"
    finally:
        s.stop()


@pytest.mark.parametrize(
    "stmt, expect",
    [
        ("INSERT INTO t VALUES (3, 30)", [["1", "10"], ["2", "20"], ["3", "30"]]),
        ("UPDATE t SET v = v + 1 WHERE id = 1", [["1", "11"], ["2", "20"]]),
        ("DELETE FROM t WHERE id = 2", [["1", "10"]]),
        ("ALTER TABLE t ADD COLUMN z INT", [["1", "10", None], ["2", "20", None]]),
    ],
    ids=["insert", "update", "delete", "add_column"],
)
def test_other_connection_reads_a_committed_change(server, stmt, expect):
    """Each connection runs on its own Spark session, which caches a
    table's file listing once it has read it. After connection A
    changes the table, B's next SELECT sees A's rows — not an error
    about A's replaced files, nor the stale listing."""
    a, b = MiniClient(server), MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    a.query(f"CREATE DATABASE {db}")
    a.init_db(db)
    b.init_db(db)
    a.query("CREATE TABLE t (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    a.query("INSERT INTO t VALUES (1, 10), (2, 20)")
    assert b.query("SELECT * FROM t ORDER BY id")[2] == [["1", "10"], ["2", "20"]]
    assert a.query(stmt)[0] == "ok"
    assert b.query("SELECT * FROM t ORDER BY id")[2] == expect
    a.query(f"DROP DATABASE {db}")
    a.close()
    b.close()


def test_concurrent_updates_lose_no_update(server):
    """Two connections each add 1 to the same row ten times at once:
    the per-table writer lock serialises the read-modify-commit, so
    all twenty increments land."""
    import threading as _threading

    setup = MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    setup.query(f"CREATE DATABASE {db}")
    setup.init_db(db)
    setup.query("CREATE TABLE t (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    setup.query("INSERT INTO t VALUES (1, 0), (2, 0)")
    results: list = []

    def bump() -> None:
        c = MiniClient(server, database=db)
        for _ in range(10):
            results.append(c.query("UPDATE t SET v = v + 1 WHERE id = 1"))
        c.close()

    threads = [_threading.Thread(target=bump) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert results == [("ok", 1)] * 20
    assert setup.query("SELECT id, v FROM t ORDER BY id")[2] == [["1", "20"], ["2", "0"]]
    setup.query(f"DROP DATABASE {db}")
    setup.close()


def test_unknown_column_and_syntax_error_codes_over_the_wire(server):
    """The engine's 1054 and 1064 reach the client as themselves, not
    as the catch-all 1105."""
    c = MiniClient(server)
    db = f"wp_{uuid.uuid4().hex[:8]}"
    c.query(f"CREATE DATABASE {db}")
    c.init_db(db)
    c.query("CREATE TABLE u (id INT NOT NULL, s CHAR, PRIMARY KEY (id))")
    kind, code, msg = c.query("SELECT nosuch FROM u")
    assert (kind, code, msg) == ("err", 1054, "Unknown column 'nosuch' in 'field list'")
    kind, code, msg = c.query("SELECT 1 +")
    assert (kind, code) == ("err", 1064) and msg.startswith("You have an error in your SQL syntax")
    c.query(f"DROP DATABASE {db}")
    c.close()
