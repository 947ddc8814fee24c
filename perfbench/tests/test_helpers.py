"""Tests of the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pytest

from perfbench import collect, inputs, metrics, publisher
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


def test_percentile_interpolates_between_ranks():
    vals = list(range(1, 11))  # 1..10
    assert collect.percentile(vals, 50) == 5.5
    assert collect.percentile(vals, 0) == 1
    assert collect.percentile(vals, 100) == 10
    assert collect.percentile(list(range(101)), 95) == 95
    assert collect.percentile(reversed(vals), 90) == pytest.approx(9.1)
    assert math.isnan(collect.percentile([], 50))


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert collect.tail_supported(200, 95)
    assert not collect.tail_supported(199, 95)
    assert collect.tail_supported(100, 90)
    assert not collect.tail_supported(10, 50)


def _log(d, name, text, mtime=None):
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_latency_join_on_synthetic_checkpoint(tmp_path):
    chk = str(tmp_path)
    meta = '{"batchWatermarkMs":0,"batchTimestampMs":0}'
    for b, end in enumerate((30, 60, 90)):
        _log(os.path.join(chk, "offsets"), str(b),
             f'v1\n{meta}\n{{"ts_ns": {end}}}\n')
    _log(os.path.join(chk, "offsets"), ".0.crc", "x")  # ignored
    _log(os.path.join(chk, "commits"), "0", "v1\n{}", mtime=1000.5)
    _log(os.path.join(chk, "commits"), "1", "v1\n{}", mtime=1002.25)
    offsets, commits = collect.read_checkpoint(chk)
    assert offsets == {0: 30, 1: 60, 2: 90}
    assert commits == {0: 1000.5, 1: 1002.25}
    ranges = collect.committed_ranges(10, offsets, commits)
    assert [(b, lo, hi) for b, lo, hi, _ in ranges] == [(0, 10, 30),
                                                        (1, 30, 60)]
    ts = np.array([10, 11, 30, 31, 60, 61, 90])
    got = collect.commit_times(ts, ranges)
    # ts=10 is the start cursor (exclusive); 61 and 90 are in batch 2,
    # which has no commit yet
    assert np.isnan(got[0]) and np.isnan(got[5]) and np.isnan(got[6])
    assert list(got[1:5]) == [1000.5, 1000.5, 1002.25, 1002.25]


def test_row_group_overlap_counts_rows_read(tmp_path):
    files = inputs.write_backlog(str(tmp_path), seed=1, copies=2)["files"]
    groups = collect.row_groups(files)
    assert [g[1] for g in groups] == [inputs.EVENTS_PER_FILE] * 2
    (_, _, lo0, hi0), (_, _, lo1, _) = groups
    assert hi0 < lo1  # each copy starts past the previous maximum
    assert len(collect.overlapping(groups, lo0, hi0)) == 1
    assert len(collect.overlapping(groups, hi0 - 1, lo1)) == 2
    assert collect.overlapping(groups, 0, lo0 - 1) == []


def test_digest_span_caps_the_checked_events_at_whole_batches():
    from perfbench.cdc import DIGEST_EVENTS, digest_span

    ts = np.arange(1, 10 * DIGEST_EVENTS + 1, dtype=np.int64)
    step = DIGEST_EVENTS // 3
    ranges = [(b, b * step, (b + 1) * step, 0.0) for b in range(30)]
    lo, hi = digest_span(ranges, ts, seed=5)
    assert hi - lo == 3 * step and lo % step == 0
    assert digest_span(ranges, ts, seed=5) == (lo, hi)
    assert digest_span(ranges[:2], ts, seed=5) == (0, 2 * step)
    assert digest_span(ranges[-1:], ts, seed=5) == (29 * step, 30 * step)


def test_backlog_and_registry_tables_are_deterministic(tmp_path):
    a = inputs.write_backlog(str(tmp_path / "a"), seed=7, copies=1)
    b = inputs.write_backlog(str(tmp_path / "b"), seed=7, copies=1)
    c = inputs.write_backlog(str(tmp_path / "c"), seed=8, copies=1)
    import pyarrow.parquet as pq

    ta, tb, tc = (pq.read_table(x["files"][0]) for x in (a, b, c))
    assert ta.equals(tb) and not ta.equals(tc)
    ts = a["ts_ns"]
    assert (np.diff(ts) > 0).all()
    assert not [f for f in os.listdir(tmp_path / "a") if f.startswith(".")]
    r1, r2 = inputs.registry_tables(3), inputs.registry_tables(3)
    assert all(r1[k].equals(r2[k]) for k in r1)


def test_tail_generator_is_deterministic_per_seed(tmp_path):
    def ticks(seed):
        g = inputs.TailGenerator(str(tmp_path), seed, 400.0, 0.5, 0, 0)
        rows = [g.tick_rows(1_000_000 + k * 500_000) for k in range(6)]
        return [None if r is None else r.to_pylist() for r in rows]

    assert ticks(5) == ticks(5)
    assert ticks(5) != ticks(6)


def test_tail_generator_keeps_ts_increasing_when_late(tmp_path):
    g = inputs.TailGenerator(str(tmp_path), 1, 400.0, 0.5, 0, floor_us=100)
    first = g.tick_rows(50)  # due before the floor: pushed past it
    second = g.tick_rows(50)  # same due time again: still after the first
    ts = np.concatenate([t.column("ts").cast("int64").to_numpy()
                         for t in (first, second)])
    assert (np.diff(ts) > 0).all() and ts[0] > 100


def test_tail_generator_writes_atomically_and_stops(tmp_path):
    import pyarrow.parquet as pq

    g = inputs.TailGenerator(str(tmp_path), 2, 2000.0, 0.05, 0, 0)
    g.start()
    time.sleep(0.4)
    g.stop()
    assert not g.is_alive() and g.error is None
    names = os.listdir(tmp_path)
    assert names and all(n.startswith("tick-") for n in names)
    assert g.ticks >= 4 and g.lag_ms_max >= 0
    assert len(g.events_ts_ns()) == sum(
        pq.read_metadata(tmp_path / n).num_rows for n in names)


def test_publisher_ack_resolves_after_round_trip():
    pub = publisher.Publisher(None, rtt_s=0.02)
    t0 = time.perf_counter()
    ack = pub("s", "1/1", {}, b"x")
    assert ack.result(1.0) == {"duplicate": False}
    assert time.perf_counter() - t0 >= 0.02
    assert pub.ack_wait_s > 0
    assert pub("s", "1/1", {}, b"x").result(1.0) == {"duplicate": True}
    with pytest.raises(TimeoutError):
        pub("s", "1/2", {}, b"x").result(0.0)


def test_publisher_records_digests_once_all_acked(tmp_path):
    import hashlib

    pub = publisher.Publisher(str(tmp_path), rtt_s=0.0)
    acks = [pub("s", f"1/{i}", {}, f"payload-{i}".encode())
            for i in range(3)]
    assert os.listdir(tmp_path) == []  # nothing flushed before the acks
    for a in acks:
        a.result(1.0)
    log = publisher.read_log(str(tmp_path))
    assert log == {f"1/{i}": [(hashlib.md5(f"payload-{i}".encode())
                               .hexdigest(), len(f"payload-{i}"))]
                   for i in range(3)}


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True)
    root = tr.add("root", 0.0, 10.0)
    tr.add("a", 1.0, 3.0, parent=root)
    tr.add("a", 2.0, 5.0, parent=root)  # overlaps the first child
    tr.add("b", 9.0, 12.0, parent=root)  # clipped to the parent's end
    self_s = tr.self_times()
    assert self_s["root"] == pytest.approx(10 - 4 - 1)
    assert self_s["a"] == pytest.approx(5.0)
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == [] and off.self_times() == {}


def test_benchmark_json_matches_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == [
        m[:3] for m in metrics.PER_LAYER]
    assert bench["paths"] == ["perfbench"]


def test_unmeasured_layer_of_the_workload_fails_the_run(tmp_path):
    from perfbench.context import Context
    from perfbench.run import result

    ctx = Context(str(tmp_path / "w"), "cdc_tail", 1, 1, True)
    own = metrics.LAYERS["cdc_tail"]
    values = {m[0]: 1.0 for m in own}
    ok = result(ctx, metrics.PER_LAYER, own, values)
    assert ok["correct"] and ok["failed"] == 0
    assert set(ok["metrics"]) == {m[0] for m in metrics.PER_LAYER}
    assert ok["metrics"]["prebuild.memo_build_s"]["value"] == 0.0
    del values["dedup_state.commit_ms_p50"]
    values["loadgen.lag_ms_max"] = math.nan
    bad = result(ctx, metrics.PER_LAYER, own, values)
    assert not bad["correct"] and bad["failed"] == 2
