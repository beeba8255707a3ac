"""Spans and counters for the traced run, recorded from the benchmark's
own files by wrapping the program's public functions at each layer
boundary (server, engine, catalog, DML, parser, plans, Spark).

Every span carries a name, start, end, parent span and the id of the
op it belongs to (one server command, or one pipeline query). Spans
stay in memory and are written out when the run ends. Spark's own
counters (jobs, stages, tasks, task and GC time, shuffle and spill)
are read once at the end from the driver's status REST endpoint on
localhost, grouped by a job group set per op.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
import urllib.request
from collections import Counter, defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

SPAN_NAME, SPAN_T0, SPAN_T1, SPAN_PARENT, SPAN_OP, SPAN_TAG = range(6)
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans, per-op counters and the layer hooks that record them."""

    def __init__(self):
        self.spans: list[list] = []
        self.ops: dict[int, dict] = {}
        self.op_counts: dict[int, Counter] = defaultdict(Counter)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_op = 0
        self.window = [None, None]
        self.last_df: dict[str, int] = {}
        self.sc = self.spark = self.db_dir = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current_op(self):
        return getattr(self._tls, "op", None)

    def open(self, name: str, tag=None, t0: float | None = None) -> int:
        st = self._stack()
        rec = [name, time.perf_counter() if t0 is None else t0, None, st[-1] if st else None, self.current_op(), tag]
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int, t1: float | None = None) -> None:
        self.spans[idx][SPAN_T1] = time.perf_counter() if t1 is None else t1
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def child(self, name: str, t0: float, dur: float) -> None:
        """Records a closed span of total duration ``dur`` under the
        current span (used for many short waits summed into one)."""
        idx = self.open(name, t0=t0)
        self.close(idx, t0 + dur)

    @contextmanager
    def span(self, name: str, tag=None):
        idx = self.open(name, tag)
        try:
            yield idx
        finally:
            self.close(idx)

    def count(self, key: str, n: float = 1) -> None:
        op = self.current_op()
        if op is not None:
            self.op_counts[op][key] += n

    def wrap(self, owner, attr: str, name: str, reentrant: bool = True) -> None:
        """Replaces ``owner.attr`` with a wrapper recording a span ``name``
        per call. Non-reentrant spans skip nested calls of the same name."""
        orig = getattr(owner, attr)
        tr = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            st = tr._stack()
            if not reentrant and st and tr.spans[st[-1]][SPAN_NAME] == name:
                return orig(*a, **kw)
            with tr.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)

    def wrap_everywhere(self, func, name: str, reentrant: bool = True) -> None:
        """Wraps ``func`` under every program module that bound it by name."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("ebike_spark"):
                for k, v in list(vars(mod).items()):
                    if v is func:
                        self.wrap(mod, k, name, reentrant=reentrant)

    # -- ops -----------------------------------------------------------
    def begin_op(self, tag=None) -> int:
        with self._lock:
            self._next_op += 1
            op = self._next_op
        self._tls.op = op
        self.ops[op] = {"t0": time.perf_counter(), "t1": None, "tag": tag}
        if self.sc is not None:
            self.sc.setJobGroup(f"pbop{op}", "perfbench op", False)
        return op

    def end_op(self) -> None:
        op = self.current_op()
        if op is not None:
            self.ops[op]["t1"] = time.perf_counter()
            self._tls.op = None
            if self.sc is not None:  # later jobs of this thread belong to no op
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, tag):
        op = self.begin_op(tag)
        idx = self.open("op", tag)
        try:
            yield op
        finally:
            self.close(idx)
            self.end_op()

    def begin_timed(self) -> None:
        self.window[0] = time.perf_counter()

    def end_timed(self) -> None:
        self.window[1] = time.perf_counter()

    def timed_ops(self) -> list[int]:
        lo, hi = self.window
        return [op for op, o in self.ops.items() if o["t1"] is not None and lo <= o["t0"] <= hi]

    # -- layer hooks -----------------------------------------------------
    def install_spark(self, spark) -> None:
        """Job groups per op, and Catalyst phase times of every
        resultset the server streams."""
        self.sc = spark.sparkContext
        self.spark = spark
        frame = type(spark.range(1))  # the concrete DataFrame class the server streams
        orig = frame.toLocalIterator
        tr = self

        def to_local_iterator(df, *a, **kw):
            it = orig(df, *a, **kw)
            t_start = time.perf_counter()
            waited, rows = 0.0, 0
            try:
                while True:
                    t = time.perf_counter()
                    try:
                        row = next(it)
                    except StopIteration:
                        break
                    waited += time.perf_counter() - t
                    rows += 1
                    yield row
            finally:
                tr.child("server.fetch_wait", t_start, waited)
                tr.count("rows", rows)
                tr.count("plan_ms", phase_ms(df._jdf.queryExecution()))

        frame.toLocalIterator = to_local_iterator

    def install_server(self) -> None:
        from ebike_spark import server

        tr = self
        conn = server._Conn
        orig_read = conn.read_packet
        orig_write = conn.write_packet
        orig_init = conn.__init__

        def read_packet(c):
            st = tr._stack()
            if st and tr.spans[st[-1]][SPAN_NAME] == "server.stmt":
                tr.close(st[-1])
                tr.end_op()
            pkt = orig_read(c)
            if c.seq == 0 and pkt:  # a command starts a sequence at 0
                tr.begin_op(pkt[0])
                tr.open("server.stmt", pkt[0])
            return pkt

        def write_packet(c, payload):
            tr.count("packets")
            return orig_write(c, payload)

        def init(c, sock, *a, **kw):
            orig_init(c, _CountingSocket(sock, tr), *a, **kw)

        conn.read_packet = read_packet
        conn.write_packet = write_packet
        conn.__init__ = init
        self.wrap(conn, "send_text_resultset", "server.send_resultset")
        self.wrap(conn, "send_binary_resultset", "server.send_resultset")

    def install_engine(self, warehouse: str, db: str) -> None:
        from ebike_spark.engine import dml, parser
        from ebike_spark.engine.catalog import Catalog
        from ebike_spark.engine.engine import Engine

        tr = self
        db_dir = self.db_dir = os.path.join(warehouse, f"{db}.db")
        orig_exec = Engine.execute

        def execute(eng, sql, *a, **kw):
            kind = sql.split(None, 1)[0].lower() if sql.strip() else ""
            before = count_files(db_dir) if kind == "insert" else 0
            with tr.span("engine.execute", kind):
                res = orig_exec(eng, sql, *a, **kw)
            if kind == "insert":
                tr.count("inserts")
                tr.count("files_added", count_files(db_dir) - before)
            return res

        Engine.execute = execute
        for name in dir(Catalog):
            if not name.startswith("_") and callable(getattr(Catalog, name)):
                self.wrap(Catalog, name, "engine.catalog", reentrant=False)
        for fn in ("parse_insert", "parse_update", "parse_delete", "parse_create_table"):
            self.wrap_everywhere(getattr(parser, fn), "engine.parse")
        self.wrap_everywhere(dml._values_df, "engine.values")
        self.wrap_everywhere(dml._rewrite, "engine.rewrite")
        for fn in ("_check_constraints", "recheck_keys_after_update"):
            self.wrap_everywhere(getattr(dml, fn), "engine.check", reentrant=False)

    # -- pipeline hooks --------------------------------------------------
    def build(self, q: str, make):
        with self.span("plans.build", q):
            df = make()
        self.count("plan_cache_hit", int(self.last_df.get(q) == id(df)))
        self.last_df[q] = id(df)
        return df

    def noop_op(self, q: str, make) -> float:
        """One pipeline op: build query ``q`` and write it to ``noop``;
        returns the op's wall seconds. Its Catalyst phase times are read
        after the op, from a separate Dataset of the same plan, so that
        planning is reported without being added to the op."""
        t0 = time.perf_counter()
        with self.op(q) as op:
            df = make()
            with self.span("spark.noop_write"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jss = self.spark._jsparkSession
        probe = self.sc._jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, df._jdf.queryExecution().logical())
        qe = probe.queryExecution()
        qe.executedPlan()
        self.op_counts[op]["plan_ms"] += phase_ms(qe)
        return wall

    # -- report ------------------------------------------------------------
    def spark_counters(self) -> dict[int, Counter]:
        """Per-op Spark counters from the status REST endpoint."""
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        jobs, stages = get("/jobs"), get("/stages")
        stage = {s["stageId"]: s for s in stages if s.get("status") == "COMPLETE"}
        out: dict[int, Counter] = defaultdict(Counter)
        spans: dict[int, list] = defaultdict(list)
        for j in jobs:
            g = j.get("jobGroup") or ""
            if not g.startswith("pbop"):
                continue
            op = int(g[4:])
            c = out[op]
            c["jobs"] += 1
            if j.get("submissionTime") and j.get("completionTime"):
                spans[op].append((_ms(j["submissionTime"]), _ms(j["completionTime"])))
            for sid in j.get("stageIds", []):
                s = stage.get(sid)
                if s is None:
                    continue  # skipped: its output was reused
                c["stages"] += 1
                c["tasks"] += s.get("numCompleteTasks", 0)
                c["task_ms"] += s.get("executorRunTime", 0)
                c["task_cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
                c["gc_ms"] += s.get("jvmGcTime", 0)
                c["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
                c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        for op, iv in spans.items():
            out[op]["job_wall_ms"] = _union(iv)
        return out

    def self_times(self, ops: set[int]) -> dict[str, dict]:
        """Calls, total and self milliseconds per span name over ``ops``."""
        child = defaultdict(float)
        for s in self.spans:
            if s[SPAN_T1] is not None and s[SPAN_PARENT] is not None:
                child[s[SPAN_PARENT]] += s[SPAN_T1] - s[SPAN_T0]
        table: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s[SPAN_T1] is None or s[SPAN_OP] not in ops:
                continue
            row = table.setdefault(s[SPAN_NAME], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            dur = s[SPAN_T1] - s[SPAN_T0]
            row["calls"] += 1
            row["total_ms"] += dur * 1000
            row["self_ms"] += (dur - child[i]) * 1000
        return table

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "t0", "t1", "parent", "op", "tag"], "spans": self.spans, "ops": self.ops}, f)


class _CountingSocket:
    """Socket proxy that counts ``sendall`` calls per op."""

    def __init__(self, sock, tracer: Tracer):
        self._sock, self._tr = sock, tracer

    def sendall(self, data, *a):
        self._tr.count("sendall")
        return self._sock.sendall(data, *a)

    def __getattr__(self, name):
        return getattr(self._sock, name)


def phase_ms(jqe) -> float:
    """Analysis + optimisation + physical planning time recorded in one
    QueryExecution's planning tracker."""
    phases = jqe.tracker().phases()
    total = 0.0
    for name in PHASES:
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total


def count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def _ms(stamp: str) -> float:
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(tr: Tracer, run, out: dict, queries: tuple[str, ...]) -> tuple[dict, dict]:
    """(per-layer metrics, per-span-name table) over the timed ops.

    ``out["timed"]`` holds the client's timed records (wire workloads)
    or each query's timed wall times (pipeline)."""
    jvm_rt = tr.sc._jvm.java.lang.Runtime.getRuntime()
    heap_mb = (jvm_rt.totalMemory() - jvm_rt.freeMemory()) / 2**20
    spark = tr.spark_counters()
    timed = tr.timed_ops()
    client_ms: dict[int, float] = {}
    if isinstance(out["timed"], list):  # wire: match client records to server commands
        by_start = sorted(timed, key=lambda op: tr.ops[op]["t0"])
        for rec in out["timed"]:
            for op in by_start:
                if rec["t0"] <= tr.ops[op]["t0"] <= rec["t1"]:
                    client_ms[op] = (rec["t1"] - rec["t0"]) * 1000
                    break
        ops = sorted(client_ms)
    else:
        ops = sorted(timed)
    n = max(1, len(ops))
    opset = set(ops)
    table = tr.self_times(opset)
    wall = {op: (tr.ops[op]["t1"] - tr.ops[op]["t0"]) * 1000 for op in ops}
    cnt = Counter()
    for op in ops:
        cnt.update(tr.op_counts[op])
    sp = Counter()
    for op in ops:
        sp.update(spark.get(op, Counter()))

    def total(name: str, key: str = "total_ms") -> float:
        return table.get(name, {}).get(key, 0.0)

    by_class = defaultdict(list)
    for s in tr.spans:
        if s[SPAN_NAME] == "engine.execute" and s[SPAN_OP] in opset and s[SPAN_T1] is not None:
            by_class[s[SPAN_TAG]].append((s[SPAN_T1] - s[SPAN_T0]) * 1000)
    rows = cnt["rows"]
    m = {
        "session.start_s": (run.detail["session_start_s"], "s"),
        "session.heap_used_mb": (heap_mb, "MiB"),
        "sources.load_s": (run.detail["load_s"], "s"),
        "server.stmt_ms": (mean(wall[op] for op in client_ms), "ms"),
        "server.wire_ms": (mean(client_ms[op] - wall[op] for op in client_ms), "ms"),
        "server.encode_ms": (total("server.send_resultset", "self_ms") / n, "ms"),
        "server.fetch_wait_ms": (total("server.fetch_wait") / n, "ms"),
        "server.packets_per_row": (cnt["packets"] / rows if rows else 0.0, "count"),
        "server.sendall_per_row": (cnt["sendall"] / rows if rows else 0.0, "count"),
    }
    for kind in ("select", "insert", "update", "delete"):
        m[f"engine.{kind}_ms"] = (mean(by_class.get(kind, [])), "ms")
    m.update(
        {
            "engine.parse_ms": (total("engine.parse") / n, "ms"),
            "engine.values_ms": (total("engine.values") / n, "ms"),
            "engine.rewrite_ms": (total("engine.rewrite") / n, "ms"),
            "engine.check_ms": (total("engine.check") / n, "ms"),
            "engine.catalog_calls": (table.get("engine.catalog", {}).get("calls", 0) / n, "count"),
            "engine.catalog_ms": (total("engine.catalog") / n, "ms"),
            "engine.files_per_insert": (cnt["files_added"] / cnt["inserts"] if cnt["inserts"] else 0.0, "count"),
            "engine.table_files_end": (count_files(tr.db_dir), "count"),
            "spark.jobs_per_op": (sp["jobs"] / n, "count"),
            "spark.stages_per_op": (sp["stages"] / n, "count"),
            "spark.tasks_per_op": (sp["tasks"] / n, "count"),
            "spark.plan_ms": (cnt["plan_ms"] / n, "ms"),
            "spark.task_ms": (sp["task_ms"] / n, "ms"),
            "spark.task_cpu_ms": (sp["task_cpu_ms"] / n, "ms"),
            "spark.gc_ms": (sp["gc_ms"] / n, "ms"),
            "spark.driver_gap_ms": (mean(wall[op] - spark.get(op, Counter())["job_wall_ms"] for op in ops), "ms"),
            "spark.shuffle_bytes": (sp["shuffle_bytes"] / n, "bytes"),
            "spark.spill_bytes": (sp["spill_bytes"] / n, "bytes"),
            "plans.build_ms": (total("plans.build") / n, "ms"),
            "plans.plan_cache_hit_frac": (cnt["plan_cache_hit"] / n if "plans.build" in table else 0.0, "1"),
        }
    )
    times = out["timed"] if isinstance(out["timed"], dict) else {}
    for q in queries:
        m[f"pipeline.{q}_s"] = (statistics.median(times[q]) if q in times else 0.0, "s")
    m["trace.setup_s"] = (run.detail["setup_s"], "s")
    m["trace.p50_gmean_ms"] = (out["p50_gmean_ms"], "ms")
    m["trace.ops_per_s"] = (out["ops_per_s"], "1/s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, table


def format_table(table: dict) -> str:
    lines = [f"{'span':<24}{'calls':>8}{'total_ms':>12}{'self_ms':>12}"]
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
        lines.append(f"{name:<24}{r['calls']:>8}{r['total_ms']:>12.1f}{r['self_ms']:>12.1f}")
    return "\n".join(lines)
