"""Benchmark entry point: one workload per run.

    python3 perfbench/run.py --workload wire_oltp --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout; the program is started from the
checkout's own sources. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it holds the workload's own figures
and the host record. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

WORKLOADS = ("wire_oltp", "wire_bulk", "pipeline", "replay")
HEAP = "4g"  # a heap a 4-vCPU / 15 GiB host can commit; see README


def host_record() -> dict:
    mem = ""
    try:
        with open("/proc/meminfo") as f:
            mem = f.readline().split(":", 1)[1].strip()
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(),
        "mem_total": mem,
        "kernel": os.uname().release,
        "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", ""),
        "pin_heap": os.environ.get("SPARK_GRAFT_PIN_HEAP", "default"),
    }


def configure_env(work: str, trace: bool) -> None:
    """Deployment settings fixed from outside the program (existing
    environment variables, no new options)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", HEAP)
    os.environ["EBIKE_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temporary files of Python and the JVM stay inside the checkout too
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if trace:
        # keep every job and stage in the status store, so the per-op
        # counters read at the end of a traced run are complete
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 pyspark-shell"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (self-tests use a small one)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "ebike_spark", "server.py")) and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the root of an ebike checkout (ebike_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, bool(args.trace))
    out_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-{'trace' if args.trace else 'e2e'}"
    try:
        import inputs

        data = os.path.join(work, "data")
        t = time.perf_counter()
        inp = inputs.prepare(args.workload, args.seed, args.seconds, args.scale, data)
        inputs_s = time.perf_counter() - t
        import workloads  # after the inputs and the environment: it imports the program

        res = workloads.run(args.workload, inp, bool(args.trace), work, data, os.path.join(out_dir, tag + "-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["detail"]["inputs_s"] = inputs_s
    res["detail"]["host"] = host_record()
    if args.trace:
        res["detail"]["overhead"] = workloads.tracing_overhead(res, os.path.join(out_dir, f"{args.workload}-seed{args.seed}-e2e.json"))
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, **res["detail"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
