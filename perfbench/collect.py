"""Out-of-program collectors: everything here reads what the program already
leaves behind (streaming progress records, the checkpoint ``offsets/`` and
``commits/`` logs, parquet footers, ``/proc``), so no program code changes.
"""

from __future__ import annotations

import datetime
import json
import math
import os

import numpy as np


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) with linear interpolation between
    the two nearest ranks (numpy's default). NaN for no samples."""
    vals = sorted(float(v) for v in values)
    if not vals:
        return math.nan
    pos = (len(vals) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """True when ``n`` samples leave at least ``beyond`` of them above the
    ``q``-th percentile: the sample-count rule for reporting a tail."""
    return n * (100.0 - q) / 100.0 >= beyond


def median(values) -> float:
    return percentile(values, 50)


# -- streaming progress ----------------------------------------------------

def progress_ts(progress: dict) -> float:
    """A progress record's trigger start (its ``timestamp``) as epoch s."""
    raw = progress["timestamp"].replace("Z", "+00:00")
    return datetime.datetime.fromisoformat(raw).timestamp()


def data_batches(progresses: list[dict]) -> list[dict]:
    """Progress records of batches that read at least one row."""
    return [p for p in progresses if p.get("numInputRows", 0) > 0]


def phase_ms(progresses: list[dict], phase: str) -> list[float]:
    return [float(p["durationMs"].get(phase, 0)) for p in progresses]


def state_op(progress: dict) -> dict:
    ops = progress.get("stateOperators") or []
    return ops[0] if ops else {}


# -- checkpoint logs -------------------------------------------------------

def _log_entries(d: str) -> dict[int, str]:
    if not os.path.isdir(d):
        return {}
    return {int(f): os.path.join(d, f) for f in os.listdir(d) if f.isdigit()}


def read_checkpoint(chk_dir: str) -> tuple[dict[int, int], dict[int, float]]:
    """``({batch: end cursor ns}, {batch: commit mtime as epoch s})`` from
    the checkpoint's ``offsets/`` and ``commits/`` logs. An offsets entry
    is ``v1``, the batch metadata, then one offset line per source; the
    CDC source's offset is ``{"ts_ns": X}``."""
    offsets = {}
    for b, path in _log_entries(os.path.join(chk_dir, "offsets")).items():
        with open(path, encoding="utf-8") as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        offsets[b] = int(json.loads(lines[-1])["ts_ns"])
    commits = {b: os.stat(p).st_mtime_ns / 1e9 for b, p in
               _log_entries(os.path.join(chk_dir, "commits")).items()}
    return offsets, commits


def committed_ranges(start_ns: int, offsets: dict[int, int],
                     commits: dict[int, float]) -> list[tuple[int, int, int, float]]:
    """``[(batch, lo_excl, hi_incl, commit_s)]`` for committed batches in
    order; a batch's range starts at the previous batch's end cursor."""
    out = []
    lo = start_ns
    for b in sorted(offsets):
        hi = offsets[b]
        if b in commits:
            out.append((b, lo, hi, commits[b]))
        lo = hi
    return out


def commit_times(ts_ns: np.ndarray, ranges) -> np.ndarray:
    """Per event: the commit time (epoch s) of the committed batch whose
    offset range contains its ``ts``; NaN when no committed batch does."""
    out = np.full(len(ts_ns), np.nan)
    for _b, lo, hi, commit_s in ranges:
        i = np.searchsorted(ts_ns, lo, side="right")
        j = np.searchsorted(ts_ns, hi, side="right")
        out[i:j] = commit_s
    return out


# -- parquet footers -------------------------------------------------------

def row_groups(files: list[str]) -> list[tuple[str, int, int, int]]:
    """``[(file, rows, min ts ns, max ts ns)]`` per row group, from footers."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index("ts")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            lo, hi = (_ns(st.min), _ns(st.max))
            out.append((f, md.row_group(rg).num_rows, lo, hi))
    return out


def _ns(v) -> int:
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return (v - epoch) // datetime.timedelta(microseconds=1) * 1000
    return int(v)


def overlapping(groups, lo: int, hi: int) -> list[tuple[str, int, int, int]]:
    """Row groups a batch over ``(lo, hi]`` must read (the same overlap
    test as the CDC source's ``partitions``)."""
    return [g for g in groups if g[3] > lo and g[2] <= hi]


# -- memory ----------------------------------------------------------------

def children_by_pid() -> dict[int, list[int]]:
    """``{pid: [child pids]}`` for every process in ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of ``VmHWM`` over ``root_pid`` and all its descendants (this
    process, the JVM and the Python workers), in MiB."""
    kids = children_by_pid()
    todo = [root_pid or os.getpid()]
    total_kb = 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(kids.get(pid, ()))
    return total_kb / 1024.0

