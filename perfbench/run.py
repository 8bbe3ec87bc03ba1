#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_suite,lakehouse_refresh,stream_gold}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout and removed at the end. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

PROC_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)



def _pin_environment() -> None:
    """Keep everything the run writes inside the checkout: Spark's local
    dirs and the Python and JVM temp files. These override the environment,
    so the parent commit and a change run with identical settings; the
    Spark sizing variables come from BENCHMARK.json's command."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={os.environ["TMPDIR"]} -XX:-UsePerfData" '
        "pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", os.environ["SPARK_GRAFT_CPUS"])
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")


def _stop_spark() -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    # workloads and metric names are those of BENCHMARK.json; each workload
    # is the module of the same name in this directory
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _pin_environment()

    # The program under test: an ImportError here (no package in this
    # directory) ends the run with a non-zero exit and no result line.
    import importlib

    module = importlib.import_module(args.workload)
    from gpu_telemetry_lakehouse_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK)
    try:
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        res = module.run(spark, args, tmp, PROC_T0)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)

    if args.trace:
        res.layer["session.get_spark_s"] = get_spark_s
        if res.tracer is not None:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            res.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
        names = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = res.layer
        unknown = set(values) - set(names)
    else:
        names = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = res.e2e
        unknown = set(names) - set(values)
    if unknown:
        sys.exit(f"{args.workload}: metrics {sorted(unknown)} not in both run and BENCHMARK.json; {res.notes}")
    out = {
        "correct": bool(res.verified and res.failed == 0),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": unit} for n, unit in names.items()
        },
    }
    for line in res.notes:
        print(line)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
