"""Closed-loop MySQL-protocol client, run as its own process.

``python3 client.py PORT PLAN.json OUT.json`` opens ONE connection,
sends the plan's commands one after another (each only after the
previous response has been read completely), and writes one record per
command: send and receive times on the host's monotonic clock (shared
with the server process), the outcome, and a digest of the rows.

Within a command's timed interval the client only reads and frames
packets; rows are decoded and hashed after the receive time is taken,
so the client's own Python work does not compete with the server for
the CPU while the server is being timed.
"""

from __future__ import annotations

import gc
import hashlib
import json
import socket
import struct
import sys
import time

T_DOUBLE, T_LONGLONG = 0x05, 0x08


def row_digest(row) -> int:
    """64-bit digest of one typed row; summing digests mod 2**64 gives
    an order-insensitive hash of a resultset."""
    canon = repr(tuple(round(v, 6) if isinstance(v, float) else v for v in row))
    return int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "little")


def rows_hash(rows) -> str:
    return format(sum(row_digest(r) for r in rows) % (1 << 64), "016x")


def _lenenc(buf, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return buf[pos + 1] | buf[pos + 2] << 8, pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9


class Client:
    """The part of the public client protocol the benchmark uses:
    handshake, COM_QUERY, COM_STMT_PREPARE/EXECUTE and their OK, ERR
    and resultset responses."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=170)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        self.pos = 0
        self.seq = 0
        greeting = self.read_packet()
        ver_end = greeting.index(b"\x00", 1)
        caps = 0x00000200 | 0x00008000 | 0x00080000  # 4.1 | secure conn | plugin auth
        self.write_packet(
            struct.pack("<II", caps, 1 << 24)
            + bytes([45])
            + b"\x00" * 23
            + b"root\x00\x00"  # user, empty auth response
            + b"mysql_native_password\x00"
        )
        ok = self.read_packet()
        if ok[0] != 0x00:
            raise ConnectionError(f"handshake refused: {bytes(ok)!r} ({greeting[1:ver_end]!r})")

    # framing
    def _fill(self, need: int) -> None:
        while len(self.buf) - self.pos < need:
            if self.pos:
                del self.buf[: self.pos]
                self.pos = 0
            chunk = self.sock.recv(1 << 20)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self.buf += chunk

    def read_packet(self) -> bytes:
        out = b""
        while True:
            self._fill(4)
            b, p = self.buf, self.pos
            length = b[p] | b[p + 1] << 8 | b[p + 2] << 16
            self.seq = b[p + 3]
            self._fill(4 + length)
            p = self.pos
            out += bytes(self.buf[p + 4 : p + 4 + length])
            self.pos = p + 4 + length
            if length < 0xFFFFFF:
                return out

    def write_packet(self, payload: bytes) -> None:
        self.seq = (self.seq + 1) % 256
        self.sock.sendall(struct.pack("<I", len(payload))[:3] + bytes([self.seq]) + payload)

    def command(self, cmd: int, body: bytes) -> None:
        self.seq = 255  # a command starts a new sequence at 0
        self.write_packet(bytes([cmd]) + body)

    # responses
    def _columns(self, n: int) -> list[int]:
        types = []
        for _ in range(n):
            pkt = self.read_packet()
            pos = 0
            for _ in range(6):
                ln, pos = _lenenc(pkt, pos)
                pos += ln
            types.append(pkt[pos + 1 + 2 + 4])
        self.read_packet()  # EOF after the column definitions
        return types

    def _response(self, binary: bool):
        first = self.read_packet()
        if first[0] == 0x00:  # OK; a resultset starts with its column count
            affected, _ = _lenenc(first, 1)
            return {"kind": "ok", "affected": affected}
        if first[0] == 0xFF:
            code = struct.unpack_from("<H", first, 1)[0]
            return {"kind": "err", "code": code, "msg": first[9:].decode("utf-8", "replace")[:300]}
        n, _ = _lenenc(first, 0)
        types = self._columns(n)
        packets = []
        while True:
            pkt = self.read_packet()
            if pkt[0] == 0xFE and len(pkt) < 9:
                return {"kind": "rows", "types": types, "packets": packets, "binary": binary}
            packets.append(pkt)

    def query(self, sql: str):
        self.command(0x03, sql.encode())
        return self._response(binary=False)

    def prepare(self, sql: str) -> int:
        self.command(0x16, sql.encode())
        first = self.read_packet()
        if first[0] != 0x00:
            raise RuntimeError(f"prepare failed: {first[9:]!r}")
        stmt_id, n_cols, n_params = struct.unpack_from("<IHH", first, 1)
        for _ in range(n_params):
            self.read_packet()
        if n_params:
            self.read_packet()
        if n_cols:
            self._columns(n_cols)
        return stmt_id

    def execute(self, stmt_id: int):
        self.command(0x17, struct.pack("<IBI", stmt_id, 0, 1))
        return self._response(binary=True)

    def close(self) -> None:
        try:
            self.command(0x01, b"")
        except OSError:
            pass
        self.sock.close()


def _text_row(pkt: bytes, types: list[int]) -> tuple:
    pos, out = 0, []
    for t in types:
        if pkt[pos] == 0xFB:
            out.append(None)
            pos += 1
            continue
        ln, pos = _lenenc(pkt, pos)
        s = pkt[pos : pos + ln]
        pos += ln
        out.append(int(s) if t == T_LONGLONG else float(s) if t == T_DOUBLE else s.decode())
    return tuple(out)


def _binary_row(pkt: bytes, types: list[int]) -> tuple:
    nb = (len(types) + 9) // 8
    nulls = pkt[1 : 1 + nb]
    pos, out = 1 + nb, []
    for i, t in enumerate(types):
        if nulls[(i + 2) // 8] & (1 << ((i + 2) % 8)):
            out.append(None)
        elif t == T_LONGLONG:
            out.append(struct.unpack_from("<q", pkt, pos)[0])
            pos += 8
        elif t == T_DOUBLE:
            out.append(struct.unpack_from("<d", pkt, pos)[0])
            pos += 8
        else:
            ln, pos = _lenenc(pkt, pos)
            out.append(pkt[pos : pos + ln].decode())
            pos += ln
    return tuple(out)


def run_plan(port: int, plan: list[dict]) -> list[dict]:
    """Run every command of ``plan`` in order; returns one record each.

    A plan entry is ``{"op": "query", "sql": ...}``, ``{"op":
    "prepare", "sql": ..., "name": ...}`` or ``{"op": "execute",
    "name": ...}``; ``"keep_rows": true`` keeps the decoded rows in the
    record (point reads), otherwise only their count and hash. Rows are
    hashed after the command's receive time is taken."""
    client = Client(port)
    stmts: dict[str, int] = {}
    results = []
    try:
        for op in plan:
            t0 = time.perf_counter()
            if op["op"] == "prepare":
                stmts[op["name"]] = client.prepare(op["sql"])
                res = {"kind": "ok", "affected": 0}
            elif op["op"] == "execute":
                res = client.execute(stmts[op["name"]])
            else:
                res = client.query(op["sql"])
            t1 = time.perf_counter()
            packets = res.pop("packets", None)
            if packets is not None:
                decode = _binary_row if res.pop("binary") else _text_row
                types = res.pop("types")
                rows = [decode(p, types) for p in packets]
                res.update(n_rows=len(rows), hash=rows_hash(rows))
                if op.get("keep_rows"):
                    res["rows"] = [list(r) for r in rows]
            results.append({"t0": t0, "t1": t1, **res})
    finally:
        client.close()
    return results


def main(argv: list[str]) -> int:
    port, plan_path, out_path = int(argv[1]), argv[2], argv[3]
    with open(plan_path) as f:
        plan = json.load(f)
    # the client's own garbage collections over a 200k-row resultset
    # would be timed as server time
    gc.disable()
    results = run_plan(port, plan)
    with open(out_path, "w") as f:
        json.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
