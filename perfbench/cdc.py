"""The two streaming workloads, through the program's public entry points:
``read_cdc_stream -> transform_events -> tb_cdc_publish``.

``cdc_drain`` is a closed-loop catch-up over a pre-written backlog at the
reference geometry (``event_count_max = maxPending = 4096``, 100k-row row
groups); ``cdc_tail`` is an open loop at a fixed offered rate with a short
fixed trigger. Both time set-up, then the run, then check every committed
event against the publisher's records and a batch replay of the transform.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import time

import numpy as np
import pyarrow as pa

from perfbench import collect, inputs, publisher
from perfbench.context import Context

EVENT_COUNT_MAX = 4096
MAX_PENDING = 4096
CLUSTER_ID = "1"
#: Batches that start within this long after the warm-up batch commits are
#: not timed: they are still speeding up. On a 4-core host drain batches
#: get about a quarter faster over the first six or so, and with 4 s of
#: settling the drain's run-to-run spread was 0.3 against 0.1 with 10 s;
#: the tail's small batches settle within 4 s.
DRAIN_SETTLE_S = 10.0
TAIL_SETTLE_S = 4.0
#: Backlog copies are sized for this drain rate, far above the current one,
#: so a run never drains the whole backlog by accident.
DRAIN_SIZING_EVENTS_PER_S = 10_000
#: Offered rate of the tail: about a quarter of the drain's events/s on a
#: 4-core host, so the pipeline clearly sustains it.
TAIL_RATE_PER_S = 600.0
TAIL_TICK_S = 0.5
TAIL_TRIGGER = "200 milliseconds"
#: An event of the tail not committed this long after the generator stops
#: counts as failed.
TAIL_GRACE_S = 15.0
#: Payload digests are checked on at most this many committed events (three
#: drain batches); every tail run fits.
DIGEST_EVENTS = 3 * EVENT_COUNT_MAX
#: Trace-only standalone layer calls replay at most this many batches.
TRACE_BATCHES = 4
TRACE_DRAIN_ROWS = 20_000
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def _cfg():
    from tigerbeetle_cdc_nats_spark.config import CdcConfig

    return CdcConfig(cluster_id=CLUSTER_ID)


def start_query(ctx: Context, src: str, chk: str, start_ts: int | None,
                factory: str, trigger: str, metrics_dir: str | None = None):
    from tigerbeetle_cdc_nats_spark.sources.cdc_source import read_cdc_stream
    from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
        make_publish_datasource,
    )
    from tigerbeetle_cdc_nats_spark.streaming.pipeline import transform_events

    spark = ctx.spark
    spark.dataSource.register(make_publish_datasource())
    stream = read_cdc_stream(spark, src, start_ts=start_ts,
                             event_count_max=EVENT_COUNT_MAX)
    writer = (transform_events(stream, _cfg()).writeStream
              .format("tb_cdc_publish")
              .option("publisherFactory", f"perfbench.publisher:{factory}")
              .option("maxPending", str(MAX_PENDING))
              .option("checkpointLocation", chk)
              .trigger(processingTime=trigger))
    if metrics_dir:
        writer = writer.option("metricsDir", metrics_dir)
    return writer.start()


def progresses(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _wait(q, cond, timeout_s: float, what: str, poll_s: float = 0.1):
    """Poll ``cond`` until it is true; a failed query raises. Long waits
    poll slowly so the benchmark takes little CPU from the query."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        got = cond()
        if got:
            return got
        time.sleep(poll_s)
    raise TimeoutError(f"timed out waiting for {what}")


def setup_and_start(ctx: Context, src: str, start_ts: int | None,
                    trigger: str):
    """Start the measured query and time its set-up (``setup_s``): a fresh
    session (``get_spark``, which launches the JVM), source and sink
    registration and query start, up to the moment the first trigger is
    seen active. Returns once the first batch with data has run: it starts
    the Python workers, the state store and code generation."""
    with ctx.tracer.span("setup"):
        t0 = time.perf_counter()
        ctx.open_session()
        with ctx.tracer.span("start_query"):
            q = start_query(ctx, src, ctx.path("chk"), start_ts,
                            "recording_factory", trigger, ctx.path("metrics"))
        with ctx.tracer.span("first_trigger"):
            try:
                _wait(q, lambda: q.status["isTriggerActive"], 120,
                      "the first trigger", poll_s=0.005)
            except BaseException:
                q.stop()
                raise
        ctx.e2e["setup_s"] = time.perf_counter() - t0
    with ctx.tracer.span("await_warm_up"):
        _wait(q, lambda: collect.data_batches(progresses(q)), 120,
              "the warm-up batch")
    return q


def read_phase_metrics(ctx: Context, early: list[dict],
                       data: list[dict]) -> None:
    """Per-trigger phases and dedup state of the measured batches ``data``,
    from the progress records; every batch, the ``early`` (warm-up and
    settling) ones too, becomes a span with its phases laid out in order."""
    lay = ctx.layer
    med = collect.median
    lay["cdc_source.latest_offset_ms_p50"] = med(
        collect.phase_ms(data, "latestOffset"))
    lay["streaming.query_planning_ms_p50"] = med(
        collect.phase_ms(data, "queryPlanning"))
    lay["streaming.add_batch_ms_p50"] = med(collect.phase_ms(data, "addBatch"))
    lay["streaming.wal_commit_ms_p50"] = med(collect.phase_ms(data, "walCommit"))
    lay["streaming.commit_offsets_ms_p50"] = med(
        collect.phase_ms(data, "commitOffsets"))
    lay["streaming.trigger_ms_p50"] = med(
        collect.phase_ms(data, "triggerExecution"))
    ops = [collect.state_op(p) for p in data]
    if ops and ops[-1]:
        lay["dedup_state.rows_total"] = ops[-1].get("numRowsTotal", 0)
        lay["dedup_state.memory_bytes"] = ops[-1].get("memoryUsedBytes", 0)
        lay["dedup_state.commit_ms_p50"] = med(
            [o.get("commitTimeMs", 0) for o in ops])
        lay["dedup_state.rows_dropped"] = sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for o in ops)
    for i, p in enumerate(early + data):
        start = collect.progress_ts(p)
        dur = p["durationMs"]
        name = ("warm_up_batch" if i == 0 else
                "settle_batch" if i < len(early) else "micro_batch")
        bid = ctx.tracer.add(name, start,
                             start + dur.get("triggerExecution", 0) / 1e3,
                             batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for ph in PHASES:
            ms = dur.get(ph, 0)
            ctx.tracer.add(ph, t, t + ms / 1e3, parent=bid)
            t += ms / 1e3


def events_frame(spark, files: list[str], lo: int, hi: int):
    """The input events with ``lo < ts <= hi`` (ns), read with pyarrow
    straight from the files: a batch input independent of the source."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA

    tbl = pa.concat_tables(pq.read_table(f) for f in files)
    ns = pc.multiply(tbl.column("ts").cast(pa.int64()), 1000)
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ns)
    tbl = tbl.filter(pc.and_(pc.greater(ns, lo), pc.less_equal(ns, hi)))
    return spark.createDataFrame(tbl, schema=EVENTS_SCHEMA)


def check_published(ctx: Context, files: list[str], ts_ns: np.ndarray, ranges,
                    offsets: dict[int, int], log_dir: str,
                    metrics_dir: str) -> np.ndarray:
    """Correctness of every committed event; returns the committed mask.

    - each committed event's ``msg_id`` (``cluster/ts``) was published
      exactly once, and nothing outside the input was published (an
      uncommitted in-flight batch may have published part of its range:
      at-least-once);
    - the writer's ``metricsDir`` totals match, with no duplicates;
    - each payload digest equals that of a batch ``transform_events`` of
      the same events, over the span ``digest_span`` picks;
    - the final committed cursor is an input timestamp (a batch cut).
    """
    from pyspark.sql import functions as F

    from tigerbeetle_cdc_nats_spark.streaming.pipeline import transform_events

    committed = ~np.isnan(collect.commit_times(ts_ns, ranges))
    pub = publisher.read_log(log_dir)
    want = {f"{CLUSTER_ID}/{t}" for t in ts_ns[committed].tolist()}
    hi = ranges[-1][2] if ranges else 0
    in_flight_hi = max(offsets.values(), default=hi)
    bad_ids = 0
    for mid in want:
        if len(pub.get(mid, ())) != 1:
            bad_ids += 1
    all_ids = {f"{CLUSTER_ID}/{t}" for t in ts_ns.tolist()}
    for mid in pub.keys() - want:
        t = int(mid.split("/", 1)[1])
        if mid not in all_ids or not hi < t <= in_flight_hi:
            bad_ids += 1
    ctx.fail(bad_ids, "published msg_id set differs from the committed input")

    recs = []
    for b, *_ in ranges:
        with open(os.path.join(metrics_dir, f"batch-{b}.json"),
                  encoding="utf-8") as fh:
            recs.append(json.load(fh))
    published = sum(r["published"] for r in recs)
    dups = sum(r["duplicates"] for r in recs)
    ctx.fail(int(published != int(committed.sum()) or dups != 0),
             f"metricsDir totals {published}/{dups} != {committed.sum()}/0")
    ctx.layer["nats_sink.published"] = published
    ctx.layer["nats_sink.duplicates"] = dups
    sizes = [v[0][1] for mid, v in pub.items() if mid in want]
    if sizes:
        ctx.layer["json_codec.payload_bytes_per_event"] = float(np.mean(sizes))

    if ranges:
        lo, span_hi = digest_span(ranges, ts_ns, ctx.seed)
        replay = transform_events(
            events_frame(ctx.spark, files, lo, span_hi),
            _cfg()).select("msg_id", F.md5("payload").alias("d")).toArrow()
        expect = dict(zip(replay.column("msg_id").to_pylist(),
                          replay.column("d").to_pylist()))
        span = ts_ns[committed & (ts_ns > lo) & (ts_ns <= span_hi)]
        bad = sum(1 for mid in (f"{CLUSTER_ID}/{t}" for t in span.tolist())
                  if expect.get(mid) != pub.get(mid, [("", 0)])[0][0])
        ctx.fail(bad, "payload digests differ from a batch transform")
        ts_set = set(ts_ns.tolist())
        ctx.fail(int(hi not in ts_set), "final cursor is not an input ts")
    return committed


def digest_span(ranges, ts_ns: np.ndarray, seed: int) -> tuple[int, int]:
    """``(lo, hi]`` of the committed batches whose payload digests are
    checked: all of them when they hold at most DIGEST_EVENTS events, else
    consecutive batches from one drawn by the seed, up to DIGEST_EVENTS
    events (at least one batch). The replay transform runs about as fast
    as the pipeline, so checking every drained event would add several
    seconds to each run."""
    counts = [int(np.searchsorted(ts_ns, hi, "right")
                  - np.searchsorted(ts_ns, lo, "right"))
              for _b, lo, hi, _c in ranges]
    if sum(counts) <= DIGEST_EVENTS:
        return ranges[0][1], ranges[-1][2]
    i = j = random.Random(seed).randrange(len(ranges))
    n = counts[i]
    while j + 1 < len(ranges) and n + counts[j + 1] <= DIGEST_EVENTS:
        j += 1
        n += counts[j]
    return ranges[i][1], ranges[j][2]


def source_footer_metrics(ctx: Context, files: list[str], ranges,
                          n_committed: int) -> None:
    groups = collect.row_groups(files)
    per_batch = [collect.overlapping(groups, lo, hi)
                 for _b, lo, hi, _c in ranges]
    if per_batch and n_committed:
        ctx.layer["cdc_source.rows_read_per_event"] = sum(
            g[1] for gs in per_batch for g in gs) / n_committed
        ctx.layer["cdc_source.partitions_per_batch"] = float(
            np.mean([len(gs) for gs in per_batch]))


def trace_layers(ctx: Context, src: str, files: list[str], ranges,
                 n_committed: int) -> None:
    """Standalone spans over the committed offset ranges (traced run only):
    the stream reader's ``latestOffset``/``partitions``/``read``, a batch
    ``transform_events`` to noop, and ``drain_partition`` with the
    benchmark publisher."""
    from tigerbeetle_cdc_nats_spark.sources.cdc_source import (
        CdcEventsStreamReader,
    )
    from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
        NatsSinkConfig,
        drain_partition,
    )
    from tigerbeetle_cdc_nats_spark.streaming.pipeline import transform_events

    tr = ctx.tracer
    read_s = 0.0
    for _b, lo, hi, _c in ranges[:TRACE_BATCHES]:
        reader = CdcEventsStreamReader({
            "path": src, "startts": str(lo),
            "eventcountmax": str(EVENT_COUNT_MAX)})
        with tr.span("cdc_source.latestOffset"):
            reader.latestOffset()
        with tr.span("cdc_source.partitions"):
            parts = reader.partitions({"ts_ns": lo}, {"ts_ns": hi})
        t0 = time.perf_counter()
        with tr.span("cdc_source.read"):
            for p in parts:
                for _ in reader.read(p):
                    pass
        read_s += time.perf_counter() - t0
    ctx.layer["cdc_source.read_s"] = read_s
    lo, hi = ranges[0][1], ranges[-1][2]
    df = transform_events(events_frame(ctx.spark, files, lo, hi), _cfg())
    t0 = time.perf_counter()
    with tr.span("transform_events.batch"):
        df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    ctx.layer["transform.events_per_s"] = n_committed / dt
    rows = df.drop("event_time").limit(TRACE_DRAIN_ROWS).toArrow().to_pylist()
    pub = publisher.Publisher(None)
    t0 = time.perf_counter()
    with tr.span("nats_sink.drain_partition"):
        drain_partition(rows, pub, NatsSinkConfig(max_pending=MAX_PENDING))
    dt = time.perf_counter() - t0
    ctx.layer["nats_sink.drain_events_per_s"] = len(rows) / dt if dt else 0.0
    ctx.layer["nats_sink.ack_wait_s"] = pub.ack_wait_s


def committed_end(chk: str) -> int:
    """The cursor of the last committed batch (0 before the first)."""
    offsets, commits = collect.read_checkpoint(chk)
    return max((offsets[b] for b in commits if b in offsets), default=0)


def finish_stream(ctx: Context, q, src: str, files: list[str], chk: str,
                  start_ns: int, ts_ns: np.ndarray, t_open: float) -> tuple:
    """Stop ``q``; collect its phases, the checkpoint ranges and the
    checks. Returns ``(ranges, committed mask, measured progress records)``
    where the measured batches are those whose trigger started at or
    after ``t_open`` (epoch s)."""
    q.stop()
    data = collect.data_batches(progresses(q))
    early = [p for p in data if collect.progress_ts(p) < t_open]
    measured = data[len(early):]
    read_phase_metrics(ctx, early, measured)
    offsets, commits = collect.read_checkpoint(chk)
    ranges = collect.committed_ranges(start_ns, offsets, commits)
    with ctx.tracer.span("checks"):
        committed = check_published(ctx, files, ts_ns, ranges, offsets,
                                    ctx.publish_log, ctx.path("metrics"))
    source_footer_metrics(ctx, files, ranges, int(committed.sum()))
    return ranges, committed, measured


def run_drain(ctx: Context) -> None:
    src = ctx.path("backlog")
    copies = max(2, math.ceil((DRAIN_SETTLE_S + ctx.seconds)
                              * DRAIN_SIZING_EVENTS_PER_S
                              / inputs.EVENTS_PER_FILE))
    with ctx.tracer.span("inputs"):
        backlog = inputs.write_backlog(src, ctx.seed, copies)
    ts_ns = backlog["ts_ns"]
    last = int(ts_ns[-1])
    ctx.layer["loadgen.events"] = len(ts_ns)
    q = setup_and_start(ctx, src, None, "0 seconds")
    chk = ctx.path("chk")
    with ctx.tracer.span("drain"):
        t_open = time.time() + DRAIN_SETTLE_S
        deadline = time.monotonic() + DRAIN_SETTLE_S + ctx.seconds
        _wait(q, lambda: (time.monotonic() >= deadline
                          or committed_end(chk) >= last),
              DRAIN_SETTLE_S + ctx.seconds + 120, "the drain window")
        ranges, committed, measured = finish_stream(
            ctx, q, src, backlog["files"], chk, 0, ts_ns, t_open)
    n = int(committed.sum())
    ctx.attempted += n
    ctx.layer["loadgen.backlog_end_events"] = len(ts_ns) - n
    # the window runs from the commit just before the first measured batch
    # to the last commit
    ids = {p["batchId"] for p in measured}
    timed = [r for r in ranges if r[0] in ids]
    before = [r for r in ranges if timed and r[0] < timed[0][0]]
    if not timed or not before:
        ctx.fail(1, "no batch committed within the measured window")
        return
    events = int(sum(np.searchsorted(ts_ns, hi, "right")
                     - np.searchsorted(ts_ns, lo, "right")
                     for _b, lo, hi, _c in timed))
    trig = collect.phase_ms(measured, "triggerExecution")
    if not collect.tail_supported(len(trig), 95):
        print(f"perfbench: p95_ms rests on {len(trig)} batches, too few for "
              "a tail percentile; compare it only between runs",
              file=sys.stderr)
    ctx.layer["sample.events"] = events
    ctx.layer["sample.batches"] = len(trig)
    ctx.e2e.update(throughput_per_s=events / (timed[-1][3] - before[-1][3]),
                   p50_ms=collect.median(trig),
                   p95_ms=collect.percentile(trig, 95))
    ctx.peak_rss()
    if ctx.trace:
        with ctx.tracer.span("layers"):
            trace_layers(ctx, src, backlog["files"], ranges, n)
        with ctx.tracer.span("baseline_local1"):
            ctx.layer["baseline.local1_events_per_s"] = local1_drain(ctx, src)


def local1_drain(ctx: Context, src: str) -> float:
    """Single-threaded baseline: the same drain on ``local[1]`` for one
    batch after its warm-up batch; events per second of trigger time."""
    ctx.spark.stop()
    ctx.open_session(master="local[1]")
    q = start_query(ctx, src, ctx.path("chk-local1"), None, "plain_factory",
                    "0 seconds")
    try:
        _wait(q, lambda: len(collect.data_batches(progresses(q))) >= 2,
              120, "two local[1] batches")
    finally:
        q.stop()
    data = collect.data_batches(progresses(q))[1:]
    rows = sum(p["numInputRows"] for p in data)
    return rows / (sum(collect.phase_ms(data, "triggerExecution")) / 1e3)


def run_tail(ctx: Context) -> None:
    src = ctx.path("tail")
    now_us = int(time.time() * 1e6)
    t0_us = now_us - 2 * inputs.EVENTS_PER_FILE * inputs.BACKLOG_GAP_US
    with ctx.tracer.span("inputs"):
        hist = inputs.write_backlog(src, ctx.seed, 1, t0_us=t0_us)
        start_ns = int(hist["ts_ns"][-1])
        gen = inputs.TailGenerator(src, ctx.seed, TAIL_RATE_PER_S,
                                   TAIL_TICK_S, inputs.EVENTS_PER_FILE,
                                   start_ns // 1000)
        # one tick's worth of events for the warm-up batch
        warm = gen.tick_rows(now_us)
        inputs.atomic_write_parquet(warm, os.path.join(
            src, "tick-warmup.parquet"))
        warm_ts = warm.column("ts").cast(pa.int64()).to_numpy() * 1000
    q = setup_and_start(ctx, src, start_ns, TAIL_TRIGGER)
    chk = ctx.path("chk")
    with ctx.tracer.span("tail"):
        gen.start()
        t_open = time.time() + TAIL_SETTLE_S
        time.sleep(TAIL_SETTLE_S + ctx.seconds)
        gen.stop()
        if gen.error is not None:
            raise RuntimeError(f"tail generator failed: {gen.error!r}")
        load_ts = gen.events_ts_ns()
        ctx.layer["loadgen.backlog_end_events"] = int(
            (load_ts > committed_end(chk)).sum())
        ts_ns = np.concatenate([warm_ts, load_ts])
        try:
            _wait(q, lambda: committed_end(chk) >= ts_ns[-1], TAIL_GRACE_S,
                  "the tail to commit")
        except TimeoutError:
            pass  # uncommitted events are counted as failed below
        files = sorted(os.path.join(src, f) for f in os.listdir(src)
                       if f.endswith(".parquet") and not f.startswith("."))
        ranges, committed, _measured = finish_stream(
            ctx, q, src, files, chk, start_ns, ts_ns, t_open)
    ctx.attempted += len(ts_ns)
    ctx.fail(int((~committed).sum()),
             f"events not committed {TAIL_GRACE_S} s after the load stopped")
    ctx.layer["loadgen.events"] = len(load_ts)
    ctx.layer["loadgen.lag_ms_max"] = gen.lag_ms_max
    # timed: offered events due after the settling period (all committed
    # ones; an uncommitted one is already a failure)
    timed = committed[len(warm_ts):] & (load_ts / 1e9 >= t_open)
    if not timed.any():
        ctx.fail(1, "no offered event was committed")
        return
    done_s = collect.commit_times(load_ts, ranges)[timed]
    due_s = load_ts[timed] / 1e9
    lat_ms = (done_s - due_s) * 1e3
    ctx.e2e.update(
        throughput_per_s=int(timed.sum()) / (done_s.max() - due_s.min()),
        p50_ms=collect.median(lat_ms),
        p95_ms=collect.percentile(lat_ms, 95))
    ctx.layer["sample.events"] = int(timed.sum())
    ctx.layer["sample.batches"] = len(np.unique(done_s))
    ctx.peak_rss()
    if ctx.trace:
        with ctx.tracer.span("layers"):
            trace_layers(ctx, src, files, ranges, int(committed.sum()))
