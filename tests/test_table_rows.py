"""table_rows: the footer row count must equal df.count() (it feeds
adaptive LSH geometry in place of a plan-build-time Spark job)."""

from __future__ import annotations

import os

from tigerbeetle_cdc_nats_spark.operators.similarity import table_rows


def test_footer_count_matches_spark_count(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"vec_id": list(range(137))}),
                   os.path.join(tmp_path, "embeddings.parquet"))
    assert table_rows(str(tmp_path)) == 137
    got = spark.read.parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")).count()
    assert got == 137


def test_footer_count_directory_dataset(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tmp_path, "embeddings.parquet")
    os.makedirs(d)
    pq.write_table(pa.table({"v": [1, 2, 3]}), os.path.join(d, "a.parquet"))
    pq.write_table(pa.table({"v": [4, 5]}), os.path.join(d, "b.parquet"))
    assert table_rows(str(tmp_path)) == 5


def test_footer_count_nested_directory_dataset(spark, tmp_path):
    """A partitioned directory table keeps its part files one level down:
    the footer count walks into it, skips Spark's ``_``/``.`` staging
    entries like Spark does, and equals Spark's own count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tmp_path, "embeddings.parquet")
    for sub in ("p=1", "p=2", "_temporary", ".staging"):
        os.makedirs(os.path.join(d, sub))
    pq.write_table(pa.table({"v": [1, 2, 3]}),
                   os.path.join(d, "p=1", "a.parquet"))
    pq.write_table(pa.table({"v": [4, 5]}),
                   os.path.join(d, "p=2", "b.parquet"))
    pq.write_table(pa.table({"v": [6]}),
                   os.path.join(d, "p=2", "c.parquet"))
    # never counted: uncommitted / hidden entries
    for junk in (os.path.join(d, "_temporary", "x.parquet"),
                 os.path.join(d, ".staging", "y.parquet"),
                 os.path.join(d, "p=2", ".z.parquet")):
        pq.write_table(pa.table({"v": [7, 8, 9, 10]}), junk)
    assert table_rows(str(tmp_path)) == 6
    assert spark.read.parquet(d).count() == 6


def test_footer_count_missing_file_returns_none(tmp_path):
    assert table_rows(str(tmp_path)) is None


def test_footer_count_reprobes_on_rewrite(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(tmp_path, "embeddings.parquet")
    pq.write_table(pa.table({"v": [1]}), p)
    assert table_rows(str(tmp_path)) == 1
    pq.write_table(pa.table({"v": [1, 2]}), p)
    os.utime(p, ns=(1, 1))  # force a distinct mtime either way
    assert table_rows(str(tmp_path)) == 2
