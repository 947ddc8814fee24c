"""The ``registry_sf0.01`` workload: one pass over a fixed subset of the
query registry, materialized to the noop sink, on generated sf0.01-sized
tables, after the session memos are built.

A full warm pass over all 222 queries takes about 50 s on 4 cores even at
sf0.001 (mostly per-query plan build and job scheduling), which a run of
the benchmark cannot afford; the subset takes one query from each of the
13 query modules, so every module's plan-build and execution layers are
timed. The pass, about 10 s on a 4-core host, is the measured window
whatever ``--seconds`` is: timing some queries twice when time is left
made the median query time jump between runs (spread 0.28 against the
0.25 bound).

Stored indexes persist per dataset, so the registry reads one fixed
dataset (built from ``DATASET_SEED``), prepared with its indexes on the
first run in a checkout and reused after, in
``.perfbench_work/registry-cache/``; ``--seed`` picks the queries checked
against their oracle. The traced run also builds the indexes cold into a
scratch directory to report ``prebuild.index_build_s``.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import random
import shutil
import tempfile
import time

from perfbench import collect, inputs
from perfbench.context import Context
from perfbench.metrics import QUERY_MODULES

#: Queries per run checked against their DuckDB oracle, drawn by the seed.
ORACLE_SAMPLE = 4
#: Seed of the registry's one dataset.
DATASET_SEED = 0


def subset(queries: dict) -> list[str]:
    """The first query, by name, of each query module (independent of the
    seed). One per module keeps a run within the benchmark's run budget:
    a pass over two per module took 12-22 s on a 4-core host."""
    first: dict[str, str] = {}
    for name in sorted(queries):
        first.setdefault(queries[name].fn.__module__.rsplit(".", 1)[1], name)
    return [first[m] for m in QUERY_MODULES if m in first]


@contextlib.contextmanager
def _tempdir(path: str):
    """Point ``tempfile.gettempdir()``, under which ``stored_index_dir``
    keeps the stored indexes, at ``path`` for the block."""
    saved = tempfile.tempdir
    tempfile.tempdir = path
    try:
        yield
    finally:
        tempfile.tempdir = saved


def prepare(ctx: Context) -> tuple[str, str]:
    """The dataset and its stored indexes, built in a session of their own
    on first use and reused after. Returns ``(data dir, index root)``."""
    from tigerbeetle_cdc_nats_spark.sources.prebuild import ensure_indexes

    root = os.path.join(os.path.dirname(ctx.work), "registry-cache")
    data, index_root = os.path.join(root, "data"), os.path.join(root, "tmp")
    ready = os.path.join(root, "READY")
    with open(f"{root}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one builder per checkout
        if not os.path.exists(ready):
            shutil.rmtree(root, ignore_errors=True)  # an interrupted build
            os.makedirs(index_root)
            inputs.write_registry_tables(data, DATASET_SEED)
            ctx.open_session()
            with _tempdir(index_root):
                idx = ensure_indexes(ctx.spark, data)
            ctx.spark.stop()
            if any(v < 0 for k, v in idx.items() if k != "list_warm"):
                raise RuntimeError(f"stored index build failed: {idx}")
            open(ready, "w").close()
    return data, index_root


def trace_index_build(ctx: Context, data: str) -> None:
    """Cold build of every stored index, into a scratch index root."""
    from tigerbeetle_cdc_nats_spark.sources.prebuild import ensure_indexes

    scratch = ctx.path("index-build")
    os.makedirs(scratch)
    with ctx.tracer.span("prebuild.ensure_indexes"), _tempdir(scratch):
        idx = ensure_indexes(ctx.spark, data)
    built = [v for k, v in idx.items() if k != "list_warm"]
    ctx.fail(sum(v < 0 for v in built), "stored index build failed")
    ctx.layer["prebuild.index_build_s"] = sum(built)


def measure_setup(ctx: Context, data: str) -> None:
    """``setup_s``: a fresh session (``get_spark``, which launches the JVM
    unless ``prepare`` built the dataset), the stored-index open (file
    listing) and the session memos."""
    from tigerbeetle_cdc_nats_spark.sources.prebuild import (
        ensure_indexes,
        ensure_session_memos,
    )

    with ctx.tracer.span("setup"):
        t0 = time.perf_counter()
        spark = ctx.open_session()
        spark.conf.set("spark.sql.codegen.fallback", "false")
        with ctx.tracer.span("prebuild.index_open"):
            idx = ensure_indexes(spark, data)
        with ctx.tracer.span("prebuild.ensure_session_memos"):
            memos = ensure_session_memos(spark, data)
        ctx.e2e["setup_s"] = time.perf_counter() - t0
    opened = list(idx["list_warm"].values())
    ctx.fail(sum(v < 0 for v in opened + list(memos.values())),
             "stored index or session memo unavailable")
    ctx.fail(sum(v != 0 for k, v in idx.items() if k != "list_warm"),
             "stored index rebuilt during set-up")
    ctx.layer["prebuild.memo_build_s"] = sum(memos.values())
    ctx.layer["prebuild.index_open_s"] = sum(opened)


def run_registry(ctx: Context) -> None:
    with ctx.tracer.span("inputs"):
        data, index_root = prepare(ctx)
    with _tempdir(index_root):
        measure_setup(ctx, data)
        measure_pass(ctx, data)
    if ctx.trace:
        with ctx.tracer.span("layers"):
            trace_index_build(ctx, data)


def measure_pass(ctx: Context, data: str) -> None:
    """One pass over the subset, then the oracle checks."""
    from tigerbeetle_cdc_nats_spark import registry

    spark = ctx.spark
    queries = registry.all_queries()
    names = subset(queries)
    mod = {n: queries[n].fn.__module__.rsplit(".", 1)[1] for n in names}
    build: dict[str, float] = {}
    execu: dict[str, float] = {}
    jobs: dict[str, int] = {}
    sc = spark.sparkContext
    with ctx.tracer.span("registry"):
        for n in names:
            group = f"perfbench-{n}"
            sc.setJobGroup(group, n)
            with ctx.tracer.span("query", query=n, module=mod[n]):
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("build"):
                        df = queries[n].fn(spark, data)
                    t1 = time.perf_counter()
                    with ctx.tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a query error is a failure
                    ctx.fail(1, f"{n}: {type(exc).__name__}: {exc}"[:300])
                    continue
                t2 = time.perf_counter()
            build[n] = t1 - t0
            execu[n] = t2 - t1
            jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    ctx.attempted += len(names)
    total = sum(build.values()) + sum(execu.values())
    ms = [(build[n] + execu[n]) * 1e3 for n in build]
    ctx.e2e.update(throughput_per_s=len(ms) / total,
                   p50_ms=collect.median(ms), p95_ms=collect.percentile(ms, 95))
    ctx.layer["registry.queries"] = len(ms)
    ctx.layer["registry.total_s"] = total
    for m in QUERY_MODULES:
        mine = [n for n in build if mod[n] == m]
        ctx.fail(int(not mine), f"no query of {m} was timed")
        ctx.layer[f"{m}.build_s"] = sum(build[n] for n in mine)
        ctx.layer[f"{m}.exec_s"] = sum(execu[n] for n in mine)
        ctx.layer[f"{m}.jobs"] = sum(jobs[n] for n in mine)
    ctx.peak_rss()
    sc.setJobGroup("perfbench-checks", "oracle checks")
    with ctx.tracer.span("checks"):
        check_oracles(ctx, data, queries, names)


def check_oracles(ctx: Context, data: str, queries: dict,
                  names: list[str]) -> None:
    """Compare a seeded sample of the subset with the registry's DuckDB
    oracle SQL, via the test suite's order-insensitive comparison."""
    from tests.parity import compare, duck_connection

    con = duck_connection(data)
    try:
        checked = [n for n in names if queries[n].oracle]
        sample = random.Random(ctx.seed).sample(
            checked, min(ORACLE_SAMPLE, len(checked)))
        for n in sample:
            ok, msg = compare(queries[n].fn(ctx.spark, data), con,
                              queries[n].oracle)
            ctx.fail(int(not ok), f"{n} differs from its oracle: {msg}"[:300])
        ctx.attempted += len(sample)
    finally:
        con.close()
