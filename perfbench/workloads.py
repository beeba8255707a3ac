"""The benchmark's workloads. Each one starts the program in this
process, drives it only through its public surface, times a fixed
amount of work and checks every result outside the timed region.

- ``wire_oltp``: one client process, one connection, closed loop, six
  statement classes in equal shares (ping, point and aggregate reads,
  small inserts, updates and deletes) against an ``orders`` table,
  keys and values drawn from the seed.
- ``pipeline``: registry queries forced with a ``noop`` write of every
  column, in a seed-chosen order per pass.
- ``wire_bulk``: the same client streams a 200k-row ``SELECT *`` over
  the text and the binary protocol. Not in BENCHMARK.json: too unsteady
  from run to run on a 4-vCPU host (see README).
- ``replay``: mysqldump-sized extended INSERTs. Not in BENCHMARK.json:
  today every such statement fails (see README).
"""

from __future__ import annotations

import json
import logging
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import statements
import stats
from inputs import PIPELINE_QUERIES

PIPELINE_WARM_PASSES = 2  # untimed noop passes over the query list

HERE = os.path.dirname(os.path.abspath(__file__))
T_PROGRAM = time.perf_counter()  # the program is imported below

from bench import host_canary  # noqa: E402
from ebike_spark.engine.engine import Engine  # noqa: E402
from ebike_spark.plans.registry import all_queries  # noqa: E402
from ebike_spark.server import EbikeServer  # noqa: E402
from ebike_spark.session import get_spark  # noqa: E402


class Run:
    """State of one benchmark run: the session, the optional tracer and
    the tallies every workload reports."""

    def __init__(self, work: str, data: str, tracer):
        self.work, self.data = work, data
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}

    def tally(self, oks, plan=None, results=None) -> None:
        """Counts checked ops; the first few failures are kept in the
        report with the command and the answer."""
        oks = list(oks)
        self.attempted += len(oks)
        self.failed += oks.count(False)
        if plan is not None:
            bad = self.detail.setdefault("failures", [])
            for ok, op, rec in zip(oks, plan, results):
                if not ok and len(bad) < 5:
                    bad.append({"op": op.get("cls"), "sql": op.get("sql", "")[:120], "got": {k: rec.get(k) for k in ("kind", "code", "msg", "affected", "rows", "n_rows") if k in rec}})

    def start(self) -> None:
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.detail["session_start_s"] = time.perf_counter() - t
        if self.tracer:
            self.tracer.install_spark(self.spark)
            self.tracer.install_engine(os.environ["EBIKE_WAREHOUSE_DIR"], statements.DB)

    def stop(self) -> None:
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:  # the JVM exits once its stdin closes
            # py4j logs a reset connection for every Java object still
            # referenced from Python once the JVM is gone
            logging.getLogger().setLevel(logging.CRITICAL)
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def end_setup(self) -> None:
        """Set-up ran from the program's import to here: session start,
        table load and untimed warm-up."""
        self.detail["setup_s"] = time.perf_counter() - T_PROGRAM

    @contextmanager
    def timed(self):
        """The timed part of a run, after ``end_setup``; the host canary
        is taken right before and after it."""
        self.detail["canary_before_s"] = host_canary(self.spark)
        if self.tracer:
            self.tracer.begin_timed()
        yield
        if self.tracer:
            self.tracer.end_timed()
        self.detail["canary_after_s"] = host_canary(self.spark)


def _client(run: Run, port: int, plan: list[dict], tag: str) -> list[dict]:
    plan_path = os.path.join(run.work, f"{tag}.plan.json")
    out_path = os.path.join(run.work, f"{tag}.out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "client.py"), str(port), plan_path, out_path],
        check=True,
        timeout=170,
    )
    with open(out_path) as f:
        return json.load(f)


def _ms(rec: dict) -> float:
    return (rec["t1"] - rec["t0"]) * 1000.0


def _serve(run: Run):
    server = EbikeServer(run.spark).start()
    if run.tracer:
        run.tracer.install_server()
    return server


def _load(run: Run, ddl: str, table: str, columns: str, parquet: str) -> None:
    """Creates ``table`` as an engine table and fills it with ``INSERT …
    SELECT`` from the generated parquet file."""
    t = time.perf_counter()
    eng = Engine(run.spark)
    for sql in (
        f"CREATE DATABASE IF NOT EXISTS {statements.DB}",
        f"USE {statements.DB}",
        ddl,
        f"INSERT INTO {table} SELECT {columns} FROM parquet.`{parquet}`",
    ):
        eng.execute(sql)
    run.detail["load_s"] = time.perf_counter() - t


def wire_oltp(run: Run, inp: dict) -> dict:
    warm, timed, check = inp["warm"], inp["timed"], inp["check"]
    run.start()
    _load(
        run,
        f"CREATE TABLE {statements.OLTP_TABLE} (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
        "o_orderstatus CHAR, o_totalprice DOUBLE, o_orderpriority CHAR, PRIMARY KEY (o_orderkey))",
        statements.OLTP_TABLE,
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority",
        inp["path"],
    )
    server = _serve(run)
    try:
        r_warm = _client(run, server.port, warm, "warm")
        run.end_setup()
        with run.timed():
            r_timed = _client(run, server.port, timed, "timed")
        r_check = _client(run, server.port, check, "check")
    finally:
        server.stop()
    plan, results = warm + timed + check, r_warm + r_timed + r_check
    run.tally(statements.check_oltp(inp["base"], plan, results), plan, results)

    ops = [(op["cls"], rec) for op, rec in zip(timed, r_timed) if op["cls"] != "use"]
    lat = {c: [_ms(r) for k, r in ops if k == c] for c in statements.OLTP_CYCLE}
    reads = lat["point"] + lat["agg"]
    writes = lat["insert"] + lat["update"] + lat["delete"]
    wall = sum(_ms(r) for _, r in ops) / 1000.0
    run.detail.update(
        ping_p50_ms=statistics.median(lat["ping"]),
        read_p50_ms=statistics.median(reads),
        write_p50_ms=statistics.median(writes),
        stmt_per_s=len(ops) / wall,
        class_p50_ms={c: statistics.median(v) for c, v in lat.items()},
        latency={"ping": stats.summary(lat["ping"]), "read": stats.summary(reads), "write": stats.summary(writes), "all": stats.summary([_ms(r) for _, r in ops])},
        statements=len(ops),
    )
    return {"p50_gmean_ms": stats.gmean_p50(lat), "ops_per_s": len(ops) / wall, "timed": r_timed[1:]}


def wire_bulk(run: Run, inp: dict) -> dict:
    warm, timed = inp["warm"], inp["timed"]
    run.start()
    _load(
        run,
        f"CREATE TABLE {statements.BULK_TABLE} (id BIGINT NOT NULL, k BIGINT, v DOUBLE, s CHAR)",
        statements.BULK_TABLE,
        "id, k, v, s",
        inp["path"],
    )
    server = _serve(run)
    try:
        r_warm = _client(run, server.port, warm, "warm")
        run.end_setup()
        with run.timed():
            r_timed = _client(run, server.port, timed, "timed")
    finally:
        server.stop()

    want_warm, want = tuple(inp["want_warm"]), tuple(inp["want"])
    oks = []
    for op, rec, expect in [(o, r, want_warm) for o, r in zip(warm, r_warm)] + [(o, r, want) for o, r in zip(timed, r_timed)]:
        if op["cls"] in ("text", "binary"):
            oks.append(rec["kind"] == "rows" and (rec["n_rows"], rec["hash"]) == expect)
        else:
            oks.append(rec["kind"] != "err")
    run.tally(oks, warm + timed, r_warm + r_timed)

    streams = [(op["cls"], rec) for op, rec in zip(timed, r_timed) if op["cls"] in ("text", "binary")]
    wall = sum(_ms(r) for _, r in streams) / 1000.0
    rows = sum(r.get("n_rows", 0) for _, r in streams)
    lat = {proto: [_ms(r) for c, r in streams if c == proto] for proto in ("text", "binary")}
    per = {}
    for proto in ("text", "binary"):
        recs = [r for c, r in streams if c == proto]
        per[proto] = sum(r.get("n_rows", 0) for r in recs) / (sum(_ms(r) for r in recs) / 1000.0)
    run.detail.update(
        stream_rows_per_s=rows / wall,
        rows_per_s_by_protocol=per,
        rows_per_s_each=[(c, r.get("n_rows", 0) / (_ms(r) / 1000.0)) for c, r in streams],
        streams=len(streams),
        rows_per_stream=want[0],
    )
    return {"p50_gmean_ms": stats.gmean_p50(lat), "ops_per_s": len(streams) / wall, "timed": r_timed[2:]}


def frame_hash(df) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a DataFrame's full output;
    floating values are compared to 9 significant digits."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    floats = (T.DoubleType, T.FloatType)
    df = df.toDF(*[f"c{i}" for i in range(len(df.columns))])  # duplicate names stay distinct
    cols = []
    for f in df.schema.fields:
        c, t = F.col(f.name), f.dataType
        if isinstance(t, floats):
            c = F.format_string("%.9g", c)
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, floats):
            c = F.transform(c, lambda x: F.format_string("%.9g", x))
        cols.append(c.alias(f.name))
    h = F.xxhash64(F.to_json(F.struct(*cols)))
    n, s = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum(F.col("h").cast("decimal(38,0)"))).first()
    return int(n), int(s or 0)


def pipeline(run: Run, inp: dict) -> dict:
    queries = list(inp["queries"])
    reg = all_queries()

    run.start()
    spark = run.spark
    tr = run.tracer

    from ebike_spark.sources.registry import TABLES, load_table

    t = time.perf_counter()
    for name in TABLES:
        load_table(spark, run.data, name).count()
    run.detail["load_s"] = time.perf_counter() - t

    def make(q: str):
        return tr.build(q, lambda: reg[q](spark, run.data)) if tr else reg[q](spark, run.data)

    def noop(q: str) -> None:
        make(q).write.format("noop").mode("overwrite").save()

    def one(q: str) -> float:
        if tr:
            return tr.noop_op(q, lambda: make(q))
        t0 = time.perf_counter()
        noop(q)
        return time.perf_counter() - t0

    # warm-up: a cold noop pass, then a second one (the first noop pass
    # after a cold start ran 20-40% slower than the next ones)
    phase = {}
    for i in range(PIPELINE_WARM_PASSES):
        t = time.perf_counter()
        for q in queries:
            noop(q)
        phase[f"warm_pass{i}_s"] = time.perf_counter() - t
    run.end_setup()
    # each query's first output hash, taken untimed and outside set-up:
    # the output every later pass must reproduce
    t = time.perf_counter()
    first = {q: frame_hash(make(q)) for q in queries}
    phase["ref_hash_s"] = time.perf_counter() - t
    times: dict[str, list[float]] = {q: [] for q in queries}
    pass_s = []
    with run.timed():
        for order in inp["orders"]:
            for q in order:
                times[q].append(one(q))
            pass_s.append(sum(times[q][-1] for q in queries))
    t = time.perf_counter()
    oks = [n > 0 and frame_hash(make(q)) == (n, h) for q, (n, h) in first.items()]
    phase["check_hash_s"] = time.perf_counter() - t
    oks += [True] * sum(len(v) for v in times.values())  # each noop write returned
    run.tally(oks, [{"cls": q} for q in queries], [{"kind": "hash"}] * len(queries))
    run.detail["phases"] = phase

    med = {q: statistics.median(v) for q, v in times.items()}
    n_ops = sum(len(v) for v in times.values())
    run.detail.update(pipeline_s=sum(med.values()), query_s=med, pass_s=pass_s, sf=inp["sf"], passes=len(pass_s), output_rows={q: first[q][0] for q in queries})
    # one op is one query's noop write; its class is the query
    return {
        "p50_gmean_ms": stats.gmean_p50({q: [x * 1000 for x in v] for q, v in times.items()}),
        "ops_per_s": n_ops / sum(pass_s),
        "timed": times,
    }


def replay(run: Run, inp: dict) -> dict:
    """mysqldump-shaped replay. Only statements the server acknowledges
    count as committed rows."""
    head, timed, check = inp["head"], inp["timed"], inp["check"]
    stmts = timed[1:]
    run.start()
    server = _serve(run)
    try:
        r_head = _client(run, server.port, head, "head")
        run.end_setup()
        with run.timed():
            r = _client(run, server.port, timed, "timed")[1:]
        r_check = _client(run, server.port, check, "check")
    finally:
        server.stop()
    acked = sum(op["n"] for op, rec in zip(stmts, r) if rec["kind"] == "ok")
    counted = r_check[0]["rows"][0][0] if r_check[0]["kind"] == "rows" else -1
    run.tally([rec["kind"] != "err" for rec in r_head] + [rec["kind"] == "ok" for rec in r] + [counted == acked], head + stmts + check, r_head + r + r_check)
    wall = sum(_ms(x) for x in r) / 1000.0
    run.detail.update(replay_rows_per_s=acked / wall, committed_rows=counted)
    return {"p50_gmean_ms": stats.gmean_p50({"insert": [_ms(x) for x in r]}), "ops_per_s": len(r) / wall, "timed": r}


WORKLOADS = {"wire_oltp": wire_oltp, "wire_bulk": wire_bulk, "pipeline": pipeline, "replay": replay}


def run(name: str, inp: dict, trace: bool, work: str, data: str, spans_path: str | None = None) -> dict:
    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer()
    r = Run(work, data, tracer)
    try:
        out = WORKLOADS[name](r, inp)
        if tracer:
            metrics, table = tracing.per_layer(tracer, r, out, PIPELINE_QUERIES)
            r.detail["layers"] = table
            print(f"per-layer table, {name} (timed ops only):\n" + tracing.format_table(table), file=sys.stderr)
            if spans_path:
                tracer.dump(spans_path)
    finally:
        if getattr(r, "spark", None) is not None:
            r.stop()
    r.detail["failed_frac"] = r.failed / max(1, r.attempted)
    r.detail["e2e"] = {"setup_s": r.detail["setup_s"], "p50_gmean_ms": out["p50_gmean_ms"], "ops_per_s": out["ops_per_s"]}
    if not tracer:
        units = {"setup_s": "s", "p50_gmean_ms": "ms", "ops_per_s": "1/s"}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in r.detail["e2e"].items()}
    return {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed, "metrics": metrics, "detail": r.detail}


def tracing_overhead(res: dict, untraced_path: str) -> dict | None:
    """Traced minus untraced end-to-end figures, when an untraced run of
    the same workload and seed left its result file."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as f:
        base = json.load(f)["detail"]["e2e"]
    return {k: res["detail"]["e2e"][k] - base[k] for k in base}
