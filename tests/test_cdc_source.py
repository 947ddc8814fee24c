"""First-class CDC streaming source (sources/cdc_source.py): exact resume
across stop/restart through REAL source offsets (the reference's
integration_test.go:41-243 resume contract), per-batch event rate limiting
(runner.go:149 Limit), timestamp-boundary cuts, and the u64-max cursor
guard (runner.go:726-736)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.sources.cdc_source import (
    CdcEventsStreamReader,
    read_cdc_stream,
)

BASE_NS = 1_700_000_000_000_000_000


def _write_events(spark, src, lo, hi, ts_step_ns=1_000_000_000):
    spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        (F.lit(BASE_NS) + F.col("id") * ts_step_ns).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("transfer").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit('{"k":1}').alias("props"),
    ).coalesce(1).write.mode("append").parquet(src)


def _drain(spark, src, sink, chk, expect_rows, limit=25, timeout_s=120):
    """Run the stream with a tight processingTime trigger until the sink
    holds ``expect_rows`` rows (the poll loop shape), then stop."""
    q = (read_cdc_stream(spark, src, event_count_max=limit)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", chk)
         .trigger(processingTime="50 milliseconds").start())
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() >= expect_rows:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(60)


def test_resume_exact_counts_no_duplicates(spark, tmp_path):
    src = str(tmp_path / "events")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    _write_events(spark, src, 0, 120)
    _drain(spark, src, sink, chk, expect_rows=120)
    got = spark.read.parquet(sink)
    assert got.count() == 120
    assert got.select("event_id").distinct().count() == 120

    # stop/restart with appended events: only the new ones flow
    _write_events(spark, src, 120, 180)
    _drain(spark, src, sink, chk, expect_rows=180)
    got = spark.read.parquet(sink)
    assert got.count() == 180  # no duplication across the restart
    assert got.select("event_id").distinct().count() == 180
    assert got.agg(F.min("ts"), F.max("ts")).first() == (
        BASE_NS, BASE_NS + 179 * 1_000_000_000)


def test_rate_limit_bounds_each_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    chk = str(tmp_path / "chk")
    _write_events(spark, src, 0, 100)
    limit = 30
    sizes = []

    def record(df, bid):
        n = df.count()
        if n:
            sizes.append(n)

    q = (read_cdc_stream(spark, src, event_count_max=limit)
         .writeStream.foreachBatch(record)
         .option("checkpointLocation", chk)
         .trigger(processingTime="50 milliseconds").start())
    deadline = time.time() + 120
    while time.time() < deadline and sum(sizes) < 100:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    assert sum(sizes) == 100
    # distinct timestamps here, so no tie spill: every micro-batch is
    # capped at the event-count limit and the backlog needs >= 4 batches
    assert max(sizes) <= limit and len(sizes) >= 4


def test_ts_boundary_cut_keeps_ties_together(spark, tmp_path):
    """Events sharing one timestamp can't straddle a cursor: the cut
    includes every tie even when that exceeds the event limit."""
    src = str(tmp_path / "events")
    # 40 events ALL at the same ts, limit 25 -> one batch of 40
    _write_events(spark, src, 0, 40, ts_step_ns=0)
    reader = CdcEventsStreamReader({"path": src, "eventcountmax": "25"})
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end["ts_ns"] == BASE_NS
    parts = reader.partitions(start, end)
    import pyarrow as pa

    n = sum(pa.Table.from_batches(list(reader.read(p))).num_rows
            for p in parts)
    assert n == 40


def test_u64_max_cursor_guard(tmp_path, spark):
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 1)
    reader = CdcEventsStreamReader({"path": src})
    with pytest.raises(RuntimeError, match="cannot advance"):
        reader._advance((1 << 63) - 1)


def test_start_ts_skips_consumed_prefix(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 50)
    cut = BASE_NS + 29 * 1_000_000_000
    reader = CdcEventsStreamReader({"path": src, "startts": str(cut)})
    end = reader.latestOffset()
    parts = reader.partitions({"ts_ns": cut}, end)
    import pyarrow as pa

    tbl = pa.Table.from_batches(
        [b for p in parts for b in reader.read(p)])
    assert tbl.num_rows == 20
    assert min(tbl.column("event_id").to_pylist()) == 30


def test_offset_floor_never_rewinds(spark, tmp_path):
    """A fresh reader that observes a committed end (restart path) must
    not report an earlier latestOffset."""
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 10)
    reader = CdcEventsStreamReader({"path": src, "eventcountmax": "100"})
    committed = {"ts_ns": BASE_NS + 9 * 1_000_000_000}
    reader.commit(committed)
    assert reader.latestOffset()["ts_ns"] >= committed["ts_ns"]

    reader2 = CdcEventsStreamReader({"path": src, "eventcountmax": "100"})
    reader2.partitions(committed, committed)  # replanned empty batch
    assert reader2.latestOffset()["ts_ns"] >= committed["ts_ns"]


def test_missing_path_option_raises():
    with pytest.raises(ValueError, match="path"):
        CdcEventsStreamReader({})


def test_batch_reader_cursor_range(spark, tmp_path):
    """spark.read.format('tb_cdc_events') — one-shot (startTs, endTs]
    scan with the same ts normalization as the streaming reader."""
    from tigerbeetle_cdc_nats_spark.sources.cdc_source import read_cdc_batch

    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 100)
    lo = BASE_NS + 9 * 1_000_000_000   # exclusive
    hi = BASE_NS + 49 * 1_000_000_000  # inclusive
    got = read_cdc_batch(spark, src, start_ts=lo, end_ts=hi)
    rows = got.select("event_id", "ts").collect()
    assert len(rows) == 40
    assert {r["event_id"] for r in rows} == set(range(10, 50))
    # full scan with no bounds
    assert read_cdc_batch(spark, src).count() == 100
    # empty range still evaluates (no plan-time error)
    assert read_cdc_batch(spark, src, start_ts=hi, end_ts=hi).count() == 0


def test_batch_reader_agrees_with_load_events(spark, tmp_path):
    """The native source's normalized ts matches the session loader's
    cursor arithmetic on the driver-shaped events table."""
    from tigerbeetle_cdc_nats_spark.session import load_events
    from tigerbeetle_cdc_nats_spark.sources.cdc_source import read_cdc_batch

    sf = "/root/testdata/sf0.001"
    ref = load_events(spark, sf).select("event_id", "ts")
    lo = ref.agg(F.min("ts")).first()[0]
    got = read_cdc_batch(spark, f"{sf}/events.parquet",
                         start_ts=lo).select("event_id", "ts")
    ref_after = ref.where(F.col("ts") > lo)
    assert got.count() == ref_after.count()
    assert got.exceptAll(ref_after).count() == 0


def test_cursor_cut_exact_across_unordered_row_groups(spark, tmp_path):
    """The early-exit advance must yield the exact limit-th-smallest cut
    even when files/row groups arrive with out-of-order ts ranges."""
    src = str(tmp_path / "events")
    # three appends with deliberately unordered ts ranges
    _write_events(spark, src, 0, 40)        # ts 0..39
    _write_events(spark, src, 100, 140)     # ts 100..139
    _write_events(spark, src, 40, 100)      # ts 40..99 (late file)
    reader = CdcEventsStreamReader({"path": src, "eventcountmax": "33"})
    all_ts = sorted(BASE_NS + i * 1_000_000_000 for i in range(140))
    cur = {"ts_ns": 0}
    seen = 0
    rounds = 0
    import pyarrow as pa

    while True:
        nxt = reader._advance(cur["ts_ns"])
        if nxt["ts_ns"] == cur["ts_ns"]:
            break
        remaining = [t for t in all_ts if t > cur["ts_ns"]]
        expect_cut = remaining[min(33, len(remaining)) - 1]
        assert nxt["ts_ns"] == expect_cut  # exact limit-th smallest
        parts = reader.partitions(cur, nxt)
        n = sum(pa.Table.from_batches(list(reader.read(p))).num_rows
                for p in parts)
        assert n == min(33, len(remaining))
        seen += n
        cur = nxt
        rounds += 1
    assert seen == 140 and rounds == 5  # ceil(140/33) batches, no loss


def test_default_event_count_max_is_reference_4096(spark, tmp_path):
    """The standalone source default MUST be the reference's
    --event-count-max default (config.go:40 = 4096): the three constants
    agree and a default-options reader cuts batches at exactly 4096."""
    from tigerbeetle_cdc_nats_spark import config as cfg
    from tigerbeetle_cdc_nats_spark.sources import cdc_source as src_mod

    assert cfg.DEFAULT_EVENT_COUNT_MAX == 4096
    assert src_mod._DEFAULT_EVENT_COUNT_MAX == cfg.DEFAULT_EVENT_COUNT_MAX

    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 5000)
    reader = CdcEventsStreamReader({"path": src})  # no eventCountMax option
    assert reader._limit == 4096
    end = reader.latestOffset()
    # cut at the 4096th-smallest new ts — the reference batch size
    assert end["ts_ns"] == BASE_NS + 4095 * 1_000_000_000


def test_stat_ns_handles_tz_aware_timestamps(spark, tmp_path):
    """Parquet ts columns written adjusted-to-UTC (Spark's default for
    TIMESTAMP) surface tz-AWARE datetime statistics; the offset math must
    not crash on them (naive-minus-aware raises TypeError)."""
    import datetime

    from tigerbeetle_cdc_nats_spark.sources.cdc_source import _stat_ns

    aware = datetime.datetime(2023, 11, 14, 22, 13, 20,
                              tzinfo=datetime.timezone.utc)
    naive = datetime.datetime(2023, 11, 14, 22, 13, 20)
    assert _stat_ns(aware) == 1_700_000_000_000_000_000
    assert _stat_ns(naive) == 1_700_000_000_000_000_000
    assert _stat_ns(1_700_000_000_000_000_000) == 1_700_000_000_000_000_000

    # end-to-end: a store whose ts is a real TIMESTAMP column (stats are
    # tz-aware datetimes) plans and reads without error
    src = str(tmp_path / "events_tz")
    spark.range(0, 50).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(BASE_NS // 1000) + F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("transfer").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit('{"k":1}').alias("props"),
    ).coalesce(1).write.mode("append").parquet(src)
    reader = CdcEventsStreamReader({"path": src, "eventcountmax": "20"})
    end = reader.latestOffset()
    assert end["ts_ns"] == BASE_NS + 19 * 1_000_000_000
    parts = reader.partitions({"ts_ns": 0}, end)
    import pyarrow as pa

    n = sum(pa.Table.from_batches(list(reader.read(p))).num_rows
            for p in parts)
    assert n == 20


def test_unsorted_backlog_warns_once(spark, tmp_path):
    """Overlapping row-group ts ranges (unsorted store) break the
    one-poll-reads-one-batch cost model; the reader must say so instead
    of silently scanning the whole backlog every poll."""
    import warnings

    src = str(tmp_path / "events_unsorted")
    _write_events(spark, src, 0, 40)    # ts 0..39
    _write_events(spark, src, 20, 60)   # ts 20..59 -> overlaps file 1
    reader = CdcEventsStreamReader({"path": src, "eventcountmax": "10"})
    with pytest.warns(RuntimeWarning, match="unsorted"):
        end = reader.latestOffset()
    # correctness is unaffected: exact limit-th-smallest cut, all rows flow
    assert end["ts_ns"] == BASE_NS + 9 * 1_000_000_000
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # warned once, not per poll
        reader._advance(end["ts_ns"])

    # a sorted store never warns
    src2 = str(tmp_path / "events_sorted")
    _write_events(spark, src2, 0, 40)
    _write_events(spark, src2, 40, 80)
    reader2 = CdcEventsStreamReader({"path": src2, "eventcountmax": "10"})
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        reader2.latestOffset()


def test_batch_top_k_prunes_per_partition_not_result(spark, tmp_path):
    """topK pushdown: a multi-row-group file must yield the same global
    ORDER BY ts LIMIT k rows with per-partition pruning on, while each
    partition ships at most k rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tigerbeetle_cdc_nats_spark.sources.cdc_source import read_cdc_batch

    n = 1000
    tbl = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        # interleave timestamps across row groups so the global top-k
        # draws from both partitions
        "ts": pa.array([1_000 + ((i * 7919) % n) * 1_000 for i in range(n)],
                       pa.int64()),
        "user_id": pa.array([i % 10 for i in range(n)], pa.int64()),
        "event_type": pa.array(["t"] * n, pa.string()),
        "value": pa.array([float(i) for i in range(n)], pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    })
    path = os.path.join(tmp_path, "events.parquet")
    pq.write_table(tbl, path, row_group_size=250)  # 4 partitions

    k = 37
    plain = read_cdc_batch(spark, path, start_ts=0)
    pruned = read_cdc_batch(spark, path, start_ts=0, top_k=k)
    want = sorted((r["ts"], r["event_id"])
                  for r in plain.orderBy("ts").limit(k).collect())
    got = sorted((r["ts"], r["event_id"])
                 for r in pruned.orderBy("ts").limit(k).collect())
    assert got == want
    # each of the 4 partitions ships at most k rows
    assert pruned.count() <= 4 * k


def test_batch_top_k_breaks_ts_ties_on_event_id(spark, tmp_path):
    """Rows tied on ``ts`` at the k-th position: the per-partition top-k
    must keep the smallest ``event_id``s, whatever their file order, so
    the consumer's ``ORDER BY ts, event_id LIMIT k`` sees exactly the
    rows a full scan would give."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tigerbeetle_cdc_nats_spark.sources.cdc_source import read_cdc_batch

    # one row group; the ts=2000 tie is stored in DESCENDING event_id
    # order, so a ts-only (stable) cut would keep event_ids 9 and 8
    ids = [10, 9, 8, 7, 1, 20]
    ts = [1_000, 2_000, 2_000, 2_000, 2_000, 3_000]
    n = len(ids)
    tbl = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.int64()),
        "user_id": pa.array([0] * n, pa.int64()),
        "event_type": pa.array(["t"] * n, pa.string()),
        "value": pa.array([0.0] * n, pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    })
    path = os.path.join(tmp_path, "events.parquet")
    pq.write_table(tbl, path)

    k = 3
    pruned = read_cdc_batch(spark, path, start_ts=0, top_k=k)
    got = [(r["ts"], r["event_id"])
           for r in pruned.orderBy("ts", "event_id").limit(k).collect()]
    assert got == [(1_000, 10), (2_000, 1), (2_000, 7)]
    assert pruned.count() == k  # one partition ships exactly k rows
