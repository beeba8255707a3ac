"""Deterministic statement streams for the wire workloads, and the
client-side models that check their results.

Everything here is a pure function of the seed and the sizes: the
same arguments always give the same statements, so two runs with one
seed do identical work.
"""

from __future__ import annotations

import math
import random

DB = "pb"
OLTP_TABLE = "orders"
BULK_TABLE = "bulk"
INSERT_KEY_BASE = 10_000_000  # keys the workload inserts; loaded keys are below
BATCH = 10  # rows per INSERT ... VALUES

# The six statement classes of an interactive client, weighted equally
# (one sixth of the timed stream each) and sent in this fixed cycle: the
# batch a cycle inserts is live for its reads and deleted at its end, so
# every cycle sees the same table size and file layout.
OLTP_CYCLE = ("insert", "ping", "point", "agg", "update", "delete")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def class_counts(n_ops: int) -> dict[str, int]:
    """Statements per class for a stream of about ``n_ops``: whole
    cycles, so inserts and deletes are equal and the table ends at its
    starting size."""
    cycles = max(1, round(n_ops / len(OLTP_CYCLE)))
    return {c: cycles for c in OLTP_CYCLE}


class OltpStream:
    """Builds the statement stream and tracks which inserted batches are
    live, so point reads can hit recent inserts and deletes remove the
    oldest batch."""

    def __init__(self, seed: int, n_rows: int, n_cust: int):
        self.rng = random.Random(seed)
        self.n_rows = n_rows
        self.n_cust = n_cust
        self.next_batch = 0
        self.live: list[int] = []  # first keys of live batches, oldest first

    def statement(self, cls: str) -> dict:
        r = self.rng
        if cls == "ping":
            return {"sql": "SELECT 1", "keep_rows": True}
        if cls == "point":
            if self.live and r.random() < 0.2:
                key = r.choice(self.live) + r.randrange(BATCH)
            else:
                key = r.randrange(self.n_rows)
            return {"sql": f"SELECT * FROM {OLTP_TABLE} WHERE o_orderkey = {key}", "keep_rows": True, "key": key}
        if cls == "agg":
            c = r.randrange(self.n_cust)
            return {
                "sql": f"SELECT o_orderstatus, COUNT(*), SUM(o_totalprice) FROM {OLTP_TABLE} "
                f"WHERE o_custkey < {c} GROUP BY o_orderstatus",
                "keep_rows": True,
                "cust_below": c,
            }
        if cls == "insert":
            first = INSERT_KEY_BASE + self.next_batch * BATCH
            self.next_batch += 1
            self.live.append(first)
            rows = [
                (first + j, r.randrange(self.n_cust), r.choice(STATUSES), round(r.uniform(1000, 500000), 2), r.choice(PRIORITIES))
                for j in range(BATCH)
            ]
            values = ", ".join(f"({k}, {c}, '{s}', {p!r}, '{q}')" for k, c, s, p, q in rows)
            return {"sql": f"INSERT INTO {OLTP_TABLE} VALUES {values}", "rows": rows}
        if cls == "update":
            key = r.randrange(self.n_rows)
            return {"sql": f"UPDATE {OLTP_TABLE} SET o_totalprice = o_totalprice + 1 WHERE o_orderkey = {key}", "key": key}
        if cls == "delete":
            first = self.live.pop(0)
            return {
                "sql": f"DELETE FROM {OLTP_TABLE} WHERE o_orderkey >= {first} AND o_orderkey < {first + BATCH}",
                "first": first,
            }
        raise ValueError(cls)


def oltp_plans(seed: int, n_ops: int, n_rows: int, n_cust: int) -> tuple[list[dict], list[dict], list[dict]]:
    """(warm-up, timed, check) command lists for ``wire_oltp``.

    The warm-up runs every statement shape once; the timed stream repeats
    OLTP_CYCLE ``class_counts(n_ops)`` times, with keys and values drawn
    from the seed; the check reads the final checksum."""
    stream = OltpStream(seed, n_rows, n_cust)
    use = {"op": "query", "sql": f"USE {DB}", "cls": "use"}

    def op(cls: str) -> dict:
        return {"op": "query", "cls": cls, **stream.statement(cls)}

    warm = [use] + [op(c) for c in OLTP_CYCLE]
    cycles = class_counts(n_ops)[OLTP_CYCLE[0]]
    timed = [use] + [op(c) for _ in range(cycles) for c in OLTP_CYCLE]
    check = [
        use,
        {
            "op": "query",
            "cls": "checksum",
            "sql": f"SELECT COUNT(*), SUM(o_totalprice), SUM(o_custkey) FROM {OLTP_TABLE}",
            "keep_rows": True,
        },
    ]
    return warm, timed, check


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_oltp(base_rows: list[tuple], plan: list[dict], results: list[dict]) -> list[bool]:
    """Replays ``plan`` on a client-side model of the table and returns,
    per command, whether the server's answer matched the model.

    ``base_rows`` are the loaded rows as (key, cust, status, price,
    priority); ``plan`` and ``results`` are every command sent, in
    order (warm-up, timed and check together)."""
    model = {row[0]: list(row[1:]) for row in base_rows}
    ok = []
    for op, res in zip(plan, results):
        cls = op["cls"]
        good = res["kind"] != "err"
        if cls == "point" and good:
            want = model.get(op["key"])
            got = res.get("rows", [])
            good = (got == [[op["key"], *want]]) if want else got == []
        elif cls == "agg" and good:
            want: dict[str, list] = {}
            for cust, status, price, _ in model.values():
                if cust < op["cust_below"]:
                    acc = want.setdefault(status, [0, 0.0])
                    acc[0] += 1
                    acc[1] += price
            got = {r[0]: r[1:] for r in res.get("rows", [])}
            good = set(got) == set(want) and all(got[s][0] == want[s][0] and _close(got[s][1], want[s][1]) for s in want)
        elif cls == "insert" and good:
            for k, *rest in op["rows"]:
                model[k] = list(rest)
            good = res.get("affected") == len(op["rows"])
        elif cls == "update" and good:
            model[op["key"]][2] += 1
            good = res.get("affected") == 1
        elif cls == "delete" and good:
            for k in range(op["first"], op["first"] + BATCH):
                model.pop(k)
            good = res.get("affected") == BATCH
        elif cls == "checksum" and good:
            (n, price_sum, cust_sum), = res["rows"]
            good = (
                n == len(model)
                and _close(price_sum, sum(v[2] for v in model.values()))
                and cust_sum == sum(v[0] for v in model.values())
            )
        elif cls == "ping" and good:
            good = res.get("rows") == [[1]]
        ok.append(bool(good))
    return ok


def bulk_plans(n_streams: int, warm_rows: int) -> tuple[list[dict], list[dict]]:
    """(warm-up, timed) command lists for ``wire_bulk``: ``SELECT *``
    streamed alternately over the text and the binary protocol. The
    warm-up streams the first ``warm_rows`` rows once per protocol."""
    use = {"op": "query", "sql": f"USE {DB}", "cls": "use"}

    def streams(sql: str, name: str, n: int) -> list[dict]:
        text = {"op": "query", "sql": sql, "cls": "text"}
        binary = {"op": "execute", "name": name, "cls": "binary"}
        prepare = {"op": "prepare", "sql": sql, "name": name, "cls": "prepare"}
        return [use, prepare] + [text if i % 2 == 0 else binary for i in range(n)]

    warm = streams(f"SELECT * FROM {BULK_TABLE} WHERE id < {warm_rows}", "head", 2)
    timed = streams(f"SELECT * FROM {BULK_TABLE}", "all", n_streams)
    return warm, timed
