"""Seeded inputs of every workload: the generated tables, the statement
streams and the expected answers that do not need the program.

``prepare`` runs before the program is imported, so generating the
inputs is not part of ``setup_s``. Everything here is a pure function of
the workload, the seed, ``--seconds`` and ``--scale``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import statements

# timed work per run, sized from --seconds at fixed rates so one
# --seconds value always means the same work
OLTP_ROWS = 20_000  # orders rows loaded for wire_oltp
OLTP_STMTS_PER_S = 3.0  # timed statements per --seconds
BULK_ROWS = 200_000
BULK_WARM_ROWS = 20_000  # rows per warm-up stream
BULK_STREAMS_PER_S = 0.6  # timed 200k-row streams per --seconds
PIPELINE_SF = 0.02
PIPELINE_PASSES_PER_S = 0.35  # timed passes per --seconds; at least 3
# one query per plan and operator module; each query's figure is its
# median over the timed passes
PIPELINE_QUERIES = (
    "q03_join_agg",
    "q26_top_supplier",
    "ev_sessionize",
    "ev_attribution_linear",
    "fn_window",
    "dedup_ppjoin",
    "text_quality",
    "ann_cosine_topk",
)
REPLAY_ROWS = 5_000  # rows per extended INSERT, as mysqldump writes them
REPLAY_STATEMENTS = 2


def wire_oltp(seed: int, seconds: float, scale: float, data: str) -> dict:
    n_rows = max(200, int(OLTP_ROWS * scale))
    n_cust = max(10, n_rows // 10)
    orders = datagen.orders_table(np.random.default_rng(seed), n_rows, n_cust)
    path = os.path.join(data, "orders.parquet")
    pq.write_table(orders, path)
    base = list(zip(*(orders.column(c).to_pylist() for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))))
    warm, timed, check = statements.oltp_plans(seed, max(6, round(OLTP_STMTS_PER_S * seconds)), n_rows, n_cust)
    return {"path": path, "base": base, "warm": warm, "timed": timed, "check": check}


def _bulk_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    return pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "k": pa.array(rng.integers(0, 1_000_000, n, dtype=np.int64)),
            "v": pa.array(np.round(rng.uniform(-1000, 1000, n), 3)),
            "s": pa.array([f"item-{x:07d}" for x in rng.integers(0, 10_000_000, n)]),
        }
    )


def _duckdb_digest(path: str, where: str = "TRUE") -> tuple[int, str]:
    """Row count and order-insensitive hash of the parquet rows, read by
    DuckDB: the oracle for every streamed resultset."""
    import duckdb

    from client import rows_hash

    con = duckdb.connect()
    try:
        rows = con.execute(f"SELECT id, k, v, s FROM '{path}' WHERE {where}").fetchall()
    finally:
        con.close()
    return len(rows), rows_hash(rows)


def wire_bulk(seed: int, seconds: float, scale: float, data: str) -> dict:
    n = max(1000, int(BULK_ROWS * scale))
    warm_rows = min(n, BULK_WARM_ROWS)
    path = os.path.join(data, "bulk.parquet")
    pq.write_table(_bulk_table(seed, n), path)
    warm, timed = statements.bulk_plans(max(2, round(BULK_STREAMS_PER_S * seconds)), warm_rows)
    return {
        "path": path,
        "warm": warm,
        "timed": timed,
        "want_warm": _duckdb_digest(path, f"id < {warm_rows}"),
        "want": _duckdb_digest(path),
    }


def pipeline(seed: int, seconds: float, scale: float, data: str) -> dict:
    sf = round(PIPELINE_SF * scale, 4)
    datagen.generate(data, seed, sf)
    rng = random.Random(seed)
    orders = []
    for _ in range(max(3, round(PIPELINE_PASSES_PER_S * seconds))):
        order = list(PIPELINE_QUERIES)
        rng.shuffle(order)
        orders.append(order)
    return {"sf": sf, "queries": PIPELINE_QUERIES, "orders": orders}


def replay(seed: int, seconds: float, scale: float, data: str) -> dict:
    """mysqldump-shaped replay: CREATE TABLE, then extended INSERTs of
    REPLAY_ROWS rows each."""
    n = max(10, int(REPLAY_ROWS * scale))
    rng = random.Random(seed)
    stmts = []
    for s in range(REPLAY_STATEMENTS):
        vals = ", ".join(f"({s * n + i}, {rng.randrange(10**6)}, {round(rng.uniform(-1000, 1000), 3)!r}, 'item-{rng.randrange(10**7):07d}')" for i in range(n))
        stmts.append({"op": "query", "cls": "insert", "sql": f"INSERT INTO dump_t VALUES {vals}", "n": n})
    db = statements.DB
    head = [
        {"op": "query", "cls": "ddl", "sql": f"CREATE DATABASE IF NOT EXISTS {db}"},
        {"op": "query", "cls": "ddl", "sql": f"USE {db}"},
        {"op": "query", "cls": "ddl", "sql": "CREATE TABLE dump_t (id BIGINT NOT NULL, k BIGINT, v DOUBLE, s VARCHAR(32), PRIMARY KEY (id))"},
    ]
    check = [{"op": "query", "cls": "count", "sql": f"SELECT COUNT(*) FROM {db}.dump_t", "keep_rows": True}]
    use = {"op": "query", "cls": "use", "sql": f"USE {db}"}
    return {"head": head, "timed": [use] + stmts, "check": check}


PREPARE = {"wire_oltp": wire_oltp, "wire_bulk": wire_bulk, "pipeline": pipeline, "replay": replay}


def prepare(name: str, seed: int, seconds: float, scale: float, data: str) -> dict:
    os.makedirs(data, exist_ok=True)
    return PREPARE[name](seed, seconds, scale, data)
