"""Filesystem-portability tests for the parquet merge/compaction sinks.

The sinks' contract (mirroring the reference's keyed upsert,
``pricenow_etl.py:98-112``) is that a successful call means the REAL
table was updated. Before round 8 the existence probes and the
crash-safe swap went through ``os.path``/``shutil``, which are
silently wrong on any non-local URI: ``os.path.isdir("s3a://...")``
is False, so the merge would treat the table as empty and
``shutil.move`` would land the output under a mangled local path
while the job reported success.

These tests run every sink against a scheme-qualified ``file:`` URI —
the one non-plain-path scheme available without extra connector jars.
``os.path.isdir("file:/tmp/x")`` is False just like on an object
store, so a sink that passes here is routing ALL layout decisions
through the Hadoop FileSystem API rather than the driver's local
``os.path`` view.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pricenow_to_leukerbadb_spark.fs import (
    fs_delete,
    fs_exists,
    fs_read_text,
    fs_write_text,
    parquet_file_count_fs,
    try_read_parquet,
)
from etl_pricenow_to_leukerbadb_spark.sinks.layout import compact_parquet
from etl_pricenow_to_leukerbadb_spark.sinks.upsert import (
    merge_upsert_parquet,
    merge_upsert_partitioned,
    replace_dir,
)


def _uri(tmp_path, name: str) -> str:
    # "file:/abs/path" — scheme-qualified, so os.path.isdir() on the
    # raw string is False (the failure mode object-store URIs hit)
    p = str(tmp_path / name)
    assert not os.path.isdir(f"file:{p}")
    return f"file:{p}"


def test_merge_upsert_parquet_on_file_uri(spark, tmp_path):
    target = _uri(tmp_path, "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert_parquet(spark, df1, target, keys=["k"])
    # second batch updates k=2 and inserts k=3; k=1 must SURVIVE —
    # the old os.path probe would see "no table" and overwrite it away
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    merge_upsert_parquet(spark, df2, target, keys=["k"])
    got = {
        (r["k"], r["v"]) for r in spark.read.parquet(target).collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # and nothing leaked to a mangled driver-local "./file:" path
    assert not os.path.exists("file:")
    # staging cleaned up
    assert not fs_exists(spark, f"{tmp_path}/.merge/t")


def test_merge_upsert_partitioned_on_file_uri(spark, tmp_path):
    target = _uri(tmp_path, "pt")
    df1 = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)], "k int, day string, v int"
    )
    merge_upsert_partitioned(
        spark, df1, target, keys=["k"], partition_cols=["day"]
    )
    df2 = spark.createDataFrame([(2, "d1", 99)], "k int, day string, v int")
    merge_upsert_partitioned(
        spark, df2, target, keys=["k"], partition_cols=["day"]
    )
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, 10), (2, 99), (3, 30)}


def test_replace_dir_on_file_uri_keeps_crash_safety(spark, tmp_path):
    target = _uri(tmp_path, "live")
    spark.range(3).write.parquet(target)
    new = _uri(tmp_path, "incoming")
    spark.range(5).write.parquet(new)
    replace_dir(spark, new, target)
    assert spark.read.parquet(target).count() == 5
    assert not fs_exists(spark, new)
    assert not fs_exists(spark, _uri(tmp_path, ".live.bak"))


def test_compact_parquet_on_file_uri(spark, tmp_path):
    target = _uri(tmp_path, "frag")
    spark.range(1000).repartition(16).write.parquet(target)
    assert parquet_file_count_fs(spark, target) >= 16
    n = compact_parquet(spark, target, target_files=2)
    assert n <= 2
    assert spark.read.parquet(target).count() == 1000


def test_incremental_agg_marker_io_on_file_uri(spark, tmp_path):
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        incremental_agg_apply_batch,
    )

    target = _uri(tmp_path, "view")
    batch = spark.createDataFrame(
        [("2024-01-01 00:00:00", "click", 1.5)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert incremental_agg_apply_batch(batch, target, epoch_id=0) is True
    first = spark.read.parquet(target).collect()
    # replaying the SAME epoch must be a metadata no-op — the marker is
    # read through the target's filesystem, so a scheme-qualified URI
    # cannot silently double-count
    assert incremental_agg_apply_batch(batch, target, epoch_id=0) is False
    assert spark.read.parquet(target).collect() == first
    # a NEW epoch folds in
    assert incremental_agg_apply_batch(batch, target, epoch_id=1) is True
    row = spark.read.parquet(target).collect()[0]
    assert row["n"] == 2


def test_fs_text_marker_roundtrip_on_file_uri(spark, tmp_path):
    marker = _uri(tmp_path, "m.txt")
    assert fs_read_text(spark, marker) is None
    fs_write_text(spark, marker, "42")
    assert fs_read_text(spark, marker) == "42"
    fs_write_text(spark, marker, "43")  # overwrite
    assert fs_read_text(spark, marker) == "43"
    fs_delete(spark, marker)
    assert fs_read_text(spark, marker) is None


def test_try_read_parquet_answers_against_path_scheme(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import DataFrameReader

    reads = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **options):
        reads.append(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    # an absent path is answered by the filesystem alone: no read, so
    # no failed analysis and no FileStreamSink warning behind the None
    assert try_read_parquet(spark, _uri(tmp_path, "absent")) is None
    assert reads == []
    t = _uri(tmp_path, "present")
    spark.range(4).write.parquet(t)
    df = try_read_parquet(spark, t)
    assert df is not None and df.count() == 4
    # an existing directory without readable parquet still reads as None
    os.makedirs(tmp_path / "empty")
    assert try_read_parquet(spark, _uri(tmp_path, "empty")) is None
