#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root. `--trace 0` prints the end-to-end metrics;
`--trace 1` is a separate, traced invocation that prints the per-layer
metrics and writes its spans to .perfbench_out/. Exits non-zero without
a result line if the engine cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
WORKLOAD_NAMES = ("search", "update")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(workdir: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python inside workdir."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, d))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData")
    # python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the cleanup below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pyspark_codesearch  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.measure import Clock, Probe, SparkLayers, Tracer, alu_probe_ms

    clock = Clock()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    workdir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    isolate(workdir)
    traced = bool(args.trace)
    tracer = Tracer(traced)
    spark = None
    try:
        from perfbench import workloads
        from pyspark_codesearch.session import get_spark

        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, layers=SparkLayers(spark, traced), clock=clock,
            workdir=workdir, seed=args.seed, seconds=args.seconds, traced=traced)
        ctx.probe = Probe(tracer, ctx.layers)
        run = workloads.Run(ctx)
        workloads.WORKLOADS[args.workload](run)
        run.index.close()
        run.oracle.close()
        metrics = run.metrics
        if traced:
            metrics["session.start_s"] = (session_s, "s")
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        run.diag.update(workload=args.workload, seed=args.seed, traced=traced,
                        session_start_s=session_s, alu_probe_ms=alu_probe_ms())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"diagnostics": run.diag}))
    print(json.dumps({
        "correct": not run.gate_failures and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
