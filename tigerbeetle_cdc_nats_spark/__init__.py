"""tigerbeetle_cdc_nats_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of the ``stumct/tigerbeetle-cdc-nats``
CDC pipeline (reference: /root/reference, read-only), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession construction + testdata table loading
- ``schemas``    : fixed StructTypes (CDC event envelope, testdata tables, state)
- ``config``     : typed pipeline config mirroring the reference flag surface
- ``functions/`` : scalar Column->Column operators (portable numbers, enum
                   dispatch, subject routing, JSON codec)
- ``operators/`` : relational/batch operators (scan, joins, aggregates,
                   windows, dedup, text analysis, similarity)
- ``streaming/`` : Structured Streaming pipeline (source -> transform ->
                   foreachBatch sink with cursor checkpointing)
"""

__version__ = "0.1.0"


def _install_zip_import_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since it was last read.

    Every Spark Python worker task starts with
    ``worker_util.setup_spark_files``, which calls
    ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
    ``zipimporter`` on ``sys.path`` (14-16 of them over the 3.5 MB
    pyspark.zip) re-parse its archive's central directory: 150-220 ms per
    task on a 4-core host, four tasks per CDC micro-batch (CPython
    gh-103200; later versions re-read lazily). Workers import this
    package before they unpickle anything from it, so each reused worker
    pays the re-read once per archive change instead of once per task.
    An archive that changed on disk is still re-read, and a failed
    ``stat`` falls back to the original method. Installing twice (a
    reload) wraps only once.
    """
    import functools
    import os
    import zipimport

    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return
    # archive path -> (stamp, directory dict read at that stamp)
    read_at: dict = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        original(self)
        # stamp taken before the read: a rewrite racing it re-reads next time
        read_at[self.archive] = (stamp, self._files)

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches


_install_zip_import_guard()
