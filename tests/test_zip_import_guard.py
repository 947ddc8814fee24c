"""The package's zipimporter guard (``tigerbeetle_cdc_nats_spark.
_install_zip_import_guard``): ``importlib.invalidate_caches()`` must not
re-read an unchanged zip archive, must re-read one rewritten on disk, must
never wrap twice, and must be live in every kind of Spark Python worker on
the CDC path. Counts, not timings, are asserted."""

from __future__ import annotations

import importlib
import json
import os
import sys
import zipfile
import zipimport

import pytest

import tigerbeetle_cdc_nats_spark as pkg


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding module ``zguard_a``, first on ``sys.path``,
    and a list that records every archive ``_read_directory`` parses."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zguard_a.py", "VALUE = 'a'\n")
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("zguard_a", "zguard_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded",
                   False)
    assert importlib.import_module("zguard_a").VALUE == "a"
    reads.clear()  # the importer's own first read
    importlib.invalidate_caches()  # may read once: no stamp recorded yet
    assert reads.count(archive) <= 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zguard_a")
    importlib.invalidate_caches()
    size_before = os.path.getsize(archive)
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zguard_a.py", "VALUE = 'a'\n")
        zf.writestr("zguard_b.py", "VALUE = 'b'\n")
    assert os.path.getsize(archive) != size_before
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zguard_b").VALUE == "b"
    reads.clear()
    importlib.invalidate_caches()  # new stamp recorded: no further reads
    assert reads.count(archive) == 0


def test_same_size_rewrite_with_new_mtime_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zguard_a")
    importlib.invalidate_caches()
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_stat_failure_falls_back_to_original(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zguard_a")
    importlib.invalidate_caches()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()  # original method: tries, clears, no raise
    assert reads.count(archive) == 1
    assert sys.path_importer_cache[archive]._files == {}


def test_reload_does_not_wrap_twice():
    guard = zipimport.zipimporter.invalidate_caches
    importlib.reload(pkg)
    importlib.reload(pkg)
    assert zipimport.zipimporter.invalidate_caches is guard
    assert not getattr(guard.__wrapped__, "_stat_guarded", False)


def _worker_report(kind: str) -> dict:
    """Run inside a Spark Python worker: is the guard installed, and how
    many archives did a SECOND ``invalidate_caches()`` re-read?"""
    import importlib as il
    import os as _os
    import sys as _sys
    import zipimport as zi

    reads = []
    real_read = zi._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    zi._read_directory = counting_read
    try:
        il.invalidate_caches()
        first = len(reads)
        il.invalidate_caches()
        second = len(reads) - first
    finally:
        zi._read_directory = real_read
    return {
        "kind": kind,
        "pid": _os.getpid(),
        "guarded": bool(getattr(zi.zipimporter.invalidate_caches,
                                "_stat_guarded", False)),
        "zip_importers": sum(isinstance(f, zi.zipimporter)
                             for f in _sys.path_importer_cache.values()),
        "second_reads": second,
    }


@pytest.fixture
def ship_by_value():
    """Pickle this module's functions by value: Spark workers cannot
    import the test modules."""
    from pyspark import cloudpickle

    mod = sys.modules[__name__]
    cloudpickle.register_pickle_by_value(mod)
    yield
    cloudpickle.unregister_pickle_by_value(mod)


def test_guard_installed_in_python_worker(spark, ship_by_value):
    import pyarrow as pa

    report = _worker_report

    def fn(batches):
        import tigerbeetle_cdc_nats_spark  # noqa: F401  installs the guard

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"r": json.dumps(report("task"))}])

    rows = (spark.range(1000).repartition(1)
            .mapInArrow(fn, "r string").collect())
    assert len(rows) == 1
    rec = json.loads(rows[0]["r"])
    assert rec["zip_importers"] >= 1  # pyspark.zip is on the worker path
    assert rec["guarded"]
    assert rec["second_reads"] == 0


def _probe_datasources(report):
    """The CDC source and the tb_cdc_publish sink with one hook per Python
    worker kind. The subclasses are pickled by value; their bases come
    from the package, so each worker imports it exactly as the product
    path does."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamWriter

    from tigerbeetle_cdc_nats_spark.sources.cdc_source import (
        CdcEventsDataSource,
        CdcEventsStreamReader,
    )
    from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
        NatsPublishWriter,
    )

    def record(out_dir, kind):
        rec = report(kind)
        path = os.path.join(out_dir, f"{kind}-{rec['pid']}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(rec, fh)

    class ProbeReader(CdcEventsStreamReader):
        def __init__(self, options):
            super().__init__(options)
            self._probe_dir = options["probedir"]

        def read(self, partition):
            record(self._probe_dir, "reader_task")
            return super().read(partition)

    class ProbeSource(CdcEventsDataSource):
        @classmethod
        def name(cls):
            return "tb_cdc_events_guard_probe"

        def streamReader(self, schema):
            return ProbeReader(self.options)

    class ProbeWriter(NatsPublishWriter, DataSourceStreamWriter):
        def __init__(self, options):
            super().__init__(options)
            self._probe_dir = options["probedir"]

        def write(self, iterator):
            record(self._probe_dir, "writer_task")
            return super().write(iterator)

        def commit(self, messages, batchId):
            record(self._probe_dir, "commit_runner")
            super().commit(messages, batchId)

    class ProbeSink(DataSource):
        @classmethod
        def name(cls):
            return "tb_cdc_publish_guard_probe"

        def streamWriter(self, schema, overwrite):
            record(self.options["probedir"], "write_planner")
            return ProbeWriter(self.options)

    return ProbeSource, ProbeSink


def test_guard_installed_in_every_cdc_worker_kind(spark, tmp_path,
                                                  ship_by_value):
    """reader task, write planner, writer task and commit runner: each
    Python worker on the CDC micro-batch path has the guard, and its
    second invalidate re-reads no archive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tigerbeetle_cdc_nats_spark.config import CdcConfig
    from tigerbeetle_cdc_nats_spark.streaming.pipeline import (
        transform_events,
    )

    src = tmp_path / "events"
    src.mkdir()
    probe = tmp_path / "probe"
    probe.mkdir()
    n = 50
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_000 + i * 1_000_000_000
                        for i in range(n)], pa.int64()),
        "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
        "event_type": pa.array(["transfer"] * n, pa.string()),
        "value": pa.array([float(i) for i in range(n)], pa.float64()),
        "props": pa.array(['{"k":1}'] * n, pa.string()),
    }), str(src / "part-0.parquet"))

    source, sink = _probe_datasources(_worker_report)
    spark.dataSource.register(source)
    spark.dataSource.register(sink)
    stream = (spark.readStream.format("tb_cdc_events_guard_probe")
              .option("path", str(src)).option("eventCountMax", "4096")
              .option("probeDir", str(probe)).load())
    q = (transform_events(stream, CdcConfig()).writeStream
         .format("tb_cdc_publish_guard_probe")
         .option("publisherFactory",
                 "tigerbeetle_cdc_nats_spark.sources.nats_sink:"
                 "fake_publisher_factory")
         .option("probeDir", str(probe))
         .option("metricsDir", str(tmp_path / "metrics"))
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    assert q.exception() is None

    recs = [json.loads(p.read_text()) for p in probe.iterdir()]
    kinds = {r["kind"] for r in recs}
    assert kinds == {"reader_task", "write_planner", "writer_task",
                     "commit_runner"}
    for r in recs:
        assert r["zip_importers"] >= 1, r
        assert r["guarded"], r
        assert r["second_reads"] == 0, r
    published = sum(json.loads(p.read_text())["published"]
                    for p in (tmp_path / "metrics").iterdir())
    assert published == n
