#!/usr/bin/env python3
"""Benchmark of the CDC pipeline and the query registry.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads: ``cdc_drain``, ``cdc_tail`` and
``registry_sf0.01`` (see perfbench/README.md). Inputs are generated from
``--seed`` under ``.perfbench_work/`` and removed at the end; a traced run
(``--trace 1``) keeps its spans in ``.perfbench_work/traces/``. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or the per-layer ones when
tracing).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv: list[str]) -> argparse.Namespace:
    from perfbench.metrics import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def environment(work: str, publish_log: str) -> None:
    """Process environment for Spark, set before the JVM starts: every
    scratch path inside ``work``, workers importing this checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    os.environ["PERFBENCH_PUBLISH_LOG"] = publish_log


def stop_spark(ctx) -> None:
    """Stop the session and the JVM, and wait for every process they
    started (the JVM and the Python workers) to end."""
    from perfbench.collect import children_by_pid

    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx.spark.stop()
    kids = children_by_pid()
    tree, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), ()):
            tree.append(k)
            todo.append(k)
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def result(ctx, declared, own, values: dict) -> dict:
    """The result line. Every ``declared`` metric is printed; each of the
    workload's ``own`` metrics that was not measured counts as a failed
    check, and a declared metric the workload does not measure reads 0."""
    measured = {m[0]: float(values[m[0]]) for m in own
                if m[0] in values and math.isfinite(values[m[0]])}
    missing = [m[0] for m in own if m[0] not in measured]
    ctx.fail(len(missing), f"metrics not measured: {missing}")
    return {
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {n: {"value": measured.get(n, 0.0), "unit": u}
                    for n, u, *_ in declared},
    }


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    args = parse(argv)
    try:
        import pyspark  # noqa: F401

        import tigerbeetle_cdc_nats_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import metrics
    from perfbench.context import Context

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(work, args.workload, args.seed, args.seconds,
                  bool(args.trace))
    environment(work, ctx.publish_log)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(args.workload):
            if args.workload == "cdc_drain":
                from perfbench.cdc import run_drain as run
            elif args.workload == "cdc_tail":
                from perfbench.cdc import run_tail as run
            else:
                from perfbench.registry_pass import run_registry as run
            run(ctx)
    finally:
        stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
    if ctx.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        self_s = ctx.tracer.self_times()
        ctx.layer["trace.extra_s"] = sum(
            s["end"] - s["start"] for s in ctx.tracer.spans
            if s["name"] in ("layers", "baseline_local1"))
        ctx.tracer.dump(
            os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            workload=args.workload, seed=args.seed,
            wall_s=time.perf_counter() - t0, layer=ctx.layer,
            end_to_end=ctx.e2e, failures=ctx.failures)
        top = sorted(self_s.items(), key=lambda kv: -kv[1])[:8]
        print("perfbench: largest self times: " + ", ".join(
            f"{k}={v:.3f}s" for k, v in top), file=sys.stderr)
        declared, own = metrics.PER_LAYER, metrics.LAYERS[args.workload]
        values = ctx.layer
    else:
        declared = own = metrics.END_TO_END
        values = ctx.e2e
    print(json.dumps(result(ctx, declared, own, values)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
