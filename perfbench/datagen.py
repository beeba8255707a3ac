"""Seeded generator for the analytic fixture tables.

Writes ``{out}/{table}.parquet`` with the schemas that
``ebike_spark.sources.registry.EXPECTED_SCHEMAS`` checks, at row counts
proportional to the scale factor (sf 0.1: 150k orders, 600k lineitem,
100k events, 5k documents, 2k embeddings). The same seed and scale
always give byte-identical tables, so a benchmark run depends only on
its ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "query row stream the spark line small fast group customer part column"
    " order scan a slow agg key window table merge vector join batch sort"
    " value hash filter big data"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
P_TYPES = ["LARGE", "PROMO", "ECONOMY", "STANDARD", "MEDIUM", "SMALL"]
P_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
P_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": max(500, n(20_000)),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ms(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
            "o_orderdate": _ms(_EPOCH_1995_MS + rng.integers(0, 2404, n) * _DAY_MS),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.04:
            # near duplicate of an earlier document: one token swapped
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
        elif i >= 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def generate(out: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the fixture tables under ``out``; returns rows per table."""
    os.makedirs(out, exist_ok=True)
    size = table_sizes(sf)
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl = (size[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    ne, nd, nv = size["events"], size["documents"], size["embeddings"]
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    # every table is drawn from one stream in a fixed order
    built = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(nc)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": i32(rng.integers(0, 25, nc)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(ns)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": i32(rng.integers(0, 25, ns)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(npart)),
                "p_name": pa.array(
                    [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
                "p_type": _pick(rng, P_TYPES, npart),
                "p_size": i32(rng.integers(1, 51, npart)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
            }
        ),
        "orders": orders_table(rng, no, nc),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, no, nl)),
                "l_partkey": i64(rng.integers(0, npart, nl)),
                "l_suppkey": i64(rng.integers(0, ns, nl)),
                "l_linenumber": i32(rng.integers(1, 8, nl)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, nl), 2)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["O", "F"], nl),
                "l_shipdate": _ms(_EPOCH_1995_MS + 86_400_000 + rng.integers(0, 2498, nl) * _DAY_MS),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(range(ne)),
                "ts": pa.array(
                    np.sort(_EPOCH_2024_US + rng.integers(0, 30 * 86_400_000_000, ne)).astype("datetime64[us]"),
                    type=pa.timestamp("us"),
                ),
                "user_id": i64(rng.integers(0, max(1, ne * 3 // 200), ne)),
                "event_type": _pick(rng, EVENT_TYPES, ne),
                "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
            }
        ),
        "documents": _documents(rng, nd),
        "embeddings": pa.table(
            {
                "vec_id": i64(range(nv)),
                "embedding": pa.array(
                    list((rng.standard_normal((nv, 64)) * 0.125).astype(np.float32)),
                    type=pa.list_(pa.float32()),
                ),
                "label": i32(rng.integers(0, 10, nv)),
            }
        ),
    }
    rows = {}
    for name, tbl in built.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
