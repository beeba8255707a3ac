"""Self-tests of the benchmark: deterministic inputs, the percentile
helper, the correctness models, and a tiny run of every workload.

    python3 -m pytest perfbench/tests -q          # from the checkout root
    python3 -m pytest perfbench/tests -q -m "not slow"   # skip the runs
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import statements  # noqa: E402
import stats  # noqa: E402


def _digest_dir(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    datagen.generate(str(a), 7, sf=0.001)
    datagen.generate(str(b), 7, sf=0.001)
    datagen.generate(str(c), 8, sf=0.001)
    assert _digest_dir(str(a)) == _digest_dir(str(b))
    diff = {k for k, v in _digest_dir(str(a)).items() if _digest_dir(str(c))[k] != v}
    assert "orders.parquet" in diff and "documents.parquet" in diff


def test_generator_writes_the_fixture_schemas(tmp_path):
    import pyarrow.parquet as pq

    rows = datagen.generate(str(tmp_path), 1, sf=0.001)
    assert set(rows) == {"region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"}
    assert rows["orders"] == 1500 and rows["lineitem"] == 6000
    schema = pq.read_schema(tmp_path / "events.parquet")
    assert str(schema.field("ts").type) == "timestamp[us]"


def test_statement_streams_are_deterministic_per_seed():
    assert statements.oltp_plans(3, 40, 1000, 100) == statements.oltp_plans(3, 40, 1000, 100)
    assert statements.oltp_plans(3, 40, 1000, 100) != statements.oltp_plans(4, 40, 1000, 100)
    classes = [[op["cls"] for op in statements.oltp_plans(s, 40, 1000, 100)[1]] for s in (3, 4)]
    assert classes[0] == classes[1]  # one fixed class order for every seed


def test_oltp_stream_weighs_the_six_classes_equally():
    _, timed, _ = statements.oltp_plans(1, 60, 1000, 100)
    counts = {c: 0 for c in statements.OLTP_CYCLE}
    for op in timed[1:]:
        counts[op["cls"]] += 1
    assert set(counts.values()) == {10}


@pytest.mark.parametrize("seed", range(20))
def test_oltp_stream_keeps_the_table_size_and_deletes_only_inserted_rows(seed):
    warm, timed, _ = statements.oltp_plans(seed, 30, 1000, 100)
    live = 0
    for op in warm + timed:
        live += {"insert": 1, "delete": -1}.get(op["cls"], 0)
        assert live >= 0
    assert live == 0
    counts = statements.class_counts(30)
    assert sum(op["cls"] != "use" for op in timed) == sum(counts.values())


def test_tail_percentile_has_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(99) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9
    for n in range(20, 3000, 37):
        p = stats.tail_percentile(n)
        assert stats.beyond(n, p) >= 10
        higher = [q for q in stats.TAIL_LADDER if q > p]
        assert not higher or stats.beyond(n, higher[0]) < 10


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(reversed(xs), 100) == 100
    assert stats.summary(xs) == {"n": 100, "p50": 50.5, "tail_pct": 90.0, "tail": 90}


def test_gmean_p50_weighs_every_class_alike():
    lat = {"fast": [1.0, 2.0, 3.0], "slow": [100.0, 200.0, 900.0]}
    assert stats.gmean_p50(lat) == pytest.approx(20.0)
    lat2 = {"fast": [x * 1.1 for x in lat["fast"]], "slow": lat["slow"]}
    lat3 = {"fast": lat["fast"], "slow": [x * 1.1 for x in lat["slow"]]}
    assert stats.gmean_p50(lat2) == pytest.approx(stats.gmean_p50(lat3))


def _oltp_answers(base, plan):
    """The answers a correct server gives, from the same model."""
    model = {r[0]: list(r[1:]) for r in base}
    out = []
    for op in plan:
        cls = op["cls"]
        if cls == "ping":
            out.append({"kind": "rows", "rows": [[1]]})
        elif cls == "point":
            v = model.get(op["key"])
            out.append({"kind": "rows", "rows": [[op["key"], *v]] if v else []})
        elif cls == "agg":
            acc = {}
            for cust, status, price, _ in model.values():
                if cust < op["cust_below"]:
                    a = acc.setdefault(status, [status, 0, 0.0])
                    a[1] += 1
                    a[2] += price
            out.append({"kind": "rows", "rows": list(acc.values())})
        elif cls == "insert":
            for k, *rest in op["rows"]:
                model[k] = list(rest)
            out.append({"kind": "ok", "affected": len(op["rows"])})
        elif cls == "update":
            model[op["key"]][2] += 1
            out.append({"kind": "ok", "affected": 1})
        elif cls == "delete":
            for k in range(op["first"], op["first"] + statements.BATCH):
                model.pop(k)
            out.append({"kind": "ok", "affected": statements.BATCH})
        elif cls == "checksum":
            out.append({"kind": "rows", "rows": [[len(model), sum(v[2] for v in model.values()), sum(v[0] for v in model.values())]]})
        else:
            out.append({"kind": "ok", "affected": 0})
    return out


def test_oltp_model_accepts_right_and_rejects_wrong_answers():
    base = [(k, k % 100, "F", 1000.0 + k, "5-LOW") for k in range(1000)]
    warm, timed, check = statements.oltp_plans(5, 40, 1000, 100)
    plan = warm + timed + check
    good = _oltp_answers(base, plan)
    assert all(statements.check_oltp(base, plan, good))
    for cls in ("point", "agg", "insert", "checksum"):
        i = next(i for i, op in enumerate(plan) if op["cls"] == cls and good[i].get("rows", True))
        bad = copy.deepcopy(good)
        if "rows" in bad[i]:
            bad[i]["rows"][0][-1] = "wrong" if cls == "point" else bad[i]["rows"][0][-1] + 1
        else:
            bad[i]["affected"] -= 1
        assert statements.check_oltp(base, plan, bad).count(False) >= 1, cls
    err = copy.deepcopy(good)
    err[3] = {"kind": "err", "code": 1105, "msg": "x"}
    assert not statements.check_oltp(base, plan, err)[3]


def test_row_hash_is_order_insensitive_and_typed():
    from client import rows_hash

    rows = [(1, 2, 0.5, "a"), (3, 4, -1.25, "b")]
    assert rows_hash(rows) == rows_hash(list(reversed(rows)))
    assert rows_hash(rows) != rows_hash([(1, 2, 0.5, "a"), (3, 4, -1.25, "c")])
    assert rows_hash([(1,)]) != rows_hash([("1",)])


def _run(workload: str, tmp: str, *extra: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3", "--seconds", "3", *extra],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize(
    "workload,scale",
    [("wire_oltp", "0.02"), ("wire_bulk", "0.01"), ("pipeline", "0.1")],
)
def test_tiny_run_passes_its_own_checks(workload, scale, tmp_path):
    out = _run(workload, str(tmp_path), "--scale", scale, "--trace", "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {"setup_s", "p50_gmean_ms", "ops_per_s"}
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.slow
def test_tiny_traced_run_reports_every_per_layer_metric(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    out = _run("wire_oltp", str(tmp_path), "--scale", "0.02", "--trace", "1")
    assert out["correct"]
    assert set(out["metrics"]) == names
    assert out["metrics"]["spark.jobs_per_op"]["value"] > 0
    assert out["metrics"]["engine.files_per_insert"]["value"] > 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "wire_oltp", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
