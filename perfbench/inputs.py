"""Seeded input builders for the benchmark workloads.

Everything the program reads is generated here from ``--seed``: the same
seed gives byte-identical tables (the tail generator's timestamps are its
wall-clock due times, so only they differ between runs). Every file is
written under a dot-prefixed temporary name and renamed into place, so the
CDC source, which skips dot-files, never lists a half-written file.

Column shapes follow the repository testdata (TESTDATA.md): a ``ts``-sorted
``events`` table with one row group per file, and the small TPC-H-like star
schema plus ``documents`` and ``embeddings`` that the query registry reads.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per events file and per row group, as in the sf0.1 testdata table.
EVENTS_PER_FILE = 100_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
#: First timestamp of a generated backlog: 2024-01-01T00:00:00Z in µs.
BACKLOG_T0_US = 1_704_067_200_000_000
#: Mean gap between backlog events: 100k events over ~30 days, as in sf0.1.
BACKLOG_GAP_US = 25_920_000


def atomic_write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` as ONE row group, then rename into ``path``."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def events_table(rng: np.random.Generator, ts_us: np.ndarray,
                 first_event_id: int, n_users: int = 1500) -> pa.Table:
    """``events`` rows for the given (strictly increasing) µs timestamps."""
    n = len(ts_us)
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), 560.0)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_event_id, first_event_id + n,
                                       dtype=np.int64)),
        "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), n)].tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
    })


def backlog_ts(rng: np.random.Generator, n: int, t0_us: int) -> np.ndarray:
    """``n`` strictly increasing µs timestamps starting after ``t0_us``."""
    gaps = rng.integers(1, 2 * BACKLOG_GAP_US, n)
    return t0_us + np.cumsum(gaps)


def write_backlog(out_dir: str, seed: int, copies: int,
                  t0_us: int = BACKLOG_T0_US) -> dict:
    """``copies`` events files of EVENTS_PER_FILE rows each; every file's
    ``ts`` starts past the previous file's maximum. Returns
    ``{"files": [...], "ts_ns": the sorted int64 ns timestamps}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    files, all_ts = [], []
    last = t0_us
    for c in range(copies):
        ts = backlog_ts(rng, EVENTS_PER_FILE, last)
        last = int(ts[-1])
        path = os.path.join(out_dir, f"events-{c:04d}.parquet")
        atomic_write_parquet(events_table(rng, ts, c * EVENTS_PER_FILE), path)
        files.append(path)
        all_ts.append(ts * 1000)
    return {"files": files, "ts_ns": np.concatenate(all_ts)}


class TailGenerator(threading.Thread):
    """Open-loop load: one parquet file per tick on a schedule fixed at
    start. Events per tick are Poisson(``rate * tick_s``) from the seed;
    each event's ``ts`` is its tick's wall-clock DUE time (kept strictly
    increasing), so a late tick shows up as latency, and the generator
    records how late it ran (``lag_ms_max``)."""

    def __init__(self, out_dir: str, seed: int, rate_per_s: float,
                 tick_s: float, first_event_id: int, floor_us: int):
        super().__init__(name="perfbench-tail-generator", daemon=True)
        self.out_dir = out_dir
        self.rate = rate_per_s
        self.tick_s = tick_s
        self.rng = np.random.default_rng([seed, 2])
        self.next_id = first_event_id
        self.last_us = floor_us
        self.ts_us: list[np.ndarray] = []
        self.lag_ms_max = 0.0
        self.ticks = 0
        self._stop_evt = threading.Event()
        self.error: BaseException | None = None

    def tick_rows(self, due_us: int) -> pa.Table | None:
        """Rows of the next tick (None when Poisson drew zero events)."""
        n = int(self.rng.poisson(self.rate * self.tick_s))
        if n == 0:
            return None
        base = max(due_us, self.last_us + 1)
        ts = base + np.arange(n, dtype=np.int64)
        self.last_us = int(ts[-1])
        tbl = events_table(self.rng, ts, self.next_id)
        self.next_id += n
        return tbl

    def run(self) -> None:
        try:
            t0_wall = time.time()
            t0_mono = time.monotonic()
            k = 0
            while not self._stop_evt.is_set():
                due_mono = t0_mono + k * self.tick_s
                delay = due_mono - time.monotonic()
                if delay > 0 and self._stop_evt.wait(delay):
                    break
                tbl = self.tick_rows(int((t0_wall + k * self.tick_s) * 1e6))
                if tbl is not None:
                    atomic_write_parquet(tbl, os.path.join(
                        self.out_dir, f"tick-{k:06d}.parquet"))
                    self.ts_us.append(
                        tbl.column("ts").cast(pa.int64()).to_numpy())
                lag_ms = (time.monotonic() - due_mono) * 1e3
                self.lag_ms_max = max(self.lag_ms_max, lag_ms)
                self.ticks += 1
                k += 1
        except BaseException as exc:  # reported by the workload as a failure
            self.error = exc

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=30)

    def events_ts_ns(self) -> np.ndarray:
        if not self.ts_us:
            return np.zeros(0, dtype=np.int64)
        return np.concatenate(self.ts_us) * 1000


# -- registry tables -------------------------------------------------------

_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_ADJ = "small red large blue green old new bright".split()
_NOUN = "ring widget bolt gear panel valve spring frame".split()
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_DAY_US = 86_400_000_000
_T1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def _pick(rng, values, n) -> list:
    return np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)].tolist()


def registry_tables(seed: int, customers: int = 1500, suppliers: int = 100,
                    parts: int = 2000, orders: int = 15000,
                    lineitems: int = 60000, events: int = 10000,
                    documents: int = 500, embeddings: int = 500,
                    dim: int = 64) -> dict[str, pa.Table]:
    """The ten tables the registry queries read, at the sf0.01 row counts
    of TESTDATA.md by default."""
    rng = np.random.default_rng([seed, 3])
    t: dict[str, pa.Table] = {}
    i32 = pa.int32()
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   customers), 2)),
        "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, customers))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   suppliers), 2))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            _pick(rng, _ADJ, parts), _pick(rng, _NOUN, parts))]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, parts)]),
        "p_type": pa.array(_pick(rng, _PTYPES, parts)),
        "p_size": pa.array(rng.integers(1, 51, parts), i32),
        "p_retailprice": pa.array(np.round(
            900.0 + rng.integers(0, 1000, parts) / 10.0, 2))})
    odate = _T1995_US + rng.integers(0, 2400, orders) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, orders,
                                           dtype=np.int64)),
        "o_orderstatus": pa.array(_pick(rng, ("F", "O", "P"), orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000,
                                                      orders), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, orders))})
    lo = np.sort(rng.integers(0, orders, lineitems))
    linenumber = np.ones(lineitems, dtype=np.int32)
    for i in range(1, lineitems):
        if lo[i] == lo[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, lineitems), 2)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, parts, lineitems,
                                           dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, lineitems,
                                           dtype=np.int64)),
        "l_linenumber": pa.array(linenumber, i32),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, lineitems) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lineitems) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), lineitems)),
        "l_linestatus": pa.array(_pick(rng, ("F", "O"), lineitems)),
        "l_shipdate": pa.array(odate[lo] + rng.integers(1, 96, lineitems)
                               * _DAY_US, pa.timestamp("us"))})
    ev_ts = backlog_ts(rng, events, BACKLOG_T0_US - BACKLOG_GAP_US)
    t["events"] = events_table(rng, ev_ts, 0, n_users=customers // 10)
    texts = []
    for i in range(documents):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = _pick(rng, _WORDS, int(rng.integers(10, 90)))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(documents, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_pick(rng, _LANGS, documents)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20,
                                                            documents)]),
        "n_chars": pa.array(np.array([len(x) for x in texts],
                                     dtype=np.int64))})
    label = rng.integers(0, 10, embeddings)
    centers = rng.normal(0, 1, (10, dim))
    vec = centers[label] + rng.normal(0, 0.6, (embeddings, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    return t


def write_registry_tables(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in registry_tables(seed).items():
        atomic_write_parquet(tbl, os.path.join(out_dir, f"{name}.parquet"))
