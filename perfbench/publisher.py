"""Benchmark publisher for the ``tb_cdc_publish`` writer.

Passed as ``publisherFactory="perfbench.publisher:recording_factory"``. Each
publish returns a future whose ack is due one modelled broker round trip
(``RTT_S``) after the publish; ``result()`` sleeps until then, so acks cost
no thread and the writer's bounded in-flight window (``maxPending``) does
the overlapping, as in the reference's async publish loop.

The recording factory appends ``msg_id<TAB>md5(payload)<TAB>len`` for every
message to a per-task file under ``$PERFBENCH_PUBLISH_LOG`` once all of the
task's acks are in, so the benchmark can check exactly-once publication and
payload bytes after the run.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

#: Modelled JetStream publish round trip (same-region broker).
RTT_S = 0.002
LOG_ENV = "PERFBENCH_PUBLISH_LOG"


class Ack:
    """A publish future: the ack resolves ``RTT_S`` after the publish."""

    __slots__ = ("due", "duplicate", "owner")

    def __init__(self, due: float, duplicate: bool, owner: "Publisher"):
        self.due = due
        self.duplicate = duplicate
        self.owner = owner

    def result(self, timeout: float | None = None) -> dict:
        wait = self.due - time.perf_counter()
        if timeout is not None and wait > timeout:
            raise TimeoutError(f"ack not due within {timeout} s")
        if wait > 0:
            time.sleep(wait)
            self.owner.ack_wait_s += wait
        self.owner.acked()
        return {"duplicate": self.duplicate}


class Publisher:
    """PublishFn with the modelled ack; records each message when
    ``log_dir`` is set."""

    def __init__(self, log_dir: str | None = None, rtt_s: float = RTT_S):
        self.rtt_s = rtt_s
        self.log_dir = log_dir
        self.records: list[str] = []
        self.seen: set[str] = set()
        self.published = 0
        self.unacked = 0
        self.ack_wait_s = 0.0

    def __call__(self, subject: str, msg_id: str, headers: dict,
                 payload: bytes) -> Ack:
        dup = msg_id in self.seen
        self.seen.add(msg_id)
        if self.log_dir is not None:
            self.records.append(
                f"{msg_id}\t{hashlib.md5(payload).hexdigest()}\t{len(payload)}\n")
        self.published += 1
        self.unacked += 1
        return Ack(time.perf_counter() + self.rtt_s, dup, self)

    def acked(self) -> None:
        self.unacked -= 1
        if self.unacked == 0 and self.records:
            self.flush()

    def flush(self) -> None:
        path = os.path.join(self.log_dir, f"pub-{uuid.uuid4().hex}.tsv")
        tmp = os.path.join(self.log_dir, f".{os.path.basename(path)}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.writelines(self.records)
        os.replace(tmp, path)
        self.records = []


def recording_factory() -> Publisher:
    """Factory resolved on the executor: records to ``$PERFBENCH_PUBLISH_LOG``
    (no recording when it is unset)."""
    return Publisher(os.environ.get(LOG_ENV) or None)


def plain_factory() -> Publisher:
    """Same ack model, no records: for the traced run's ``local[1]``
    baseline, whose publishes must not mix into the measured run's log."""
    return Publisher(None)


def read_log(log_dir: str) -> dict[str, list[tuple[str, int]]]:
    """``msg_id -> [(md5, payload_len), ...]`` over every flushed record."""
    out: dict[str, list[tuple[str, int]]] = {}
    for name in sorted(os.listdir(log_dir)):
        if not name.startswith("pub-"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                msg_id, digest, n = line.rstrip("\n").split("\t")
                out.setdefault(msg_id, []).append((digest, int(n)))
    return out
