"""Partition-scoped store maintenance (storage._rewrite_partitions):
compact_store and merge_upsert rewrite only the partitions they touch,
a crash at any rename is healed by the next call, a whole-store swap
leftover is never taken for a per-partition one, and a write outside the
named partitions leaves the store untouched."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from zx_spark import storage
from zx_spark.storage import compact_store, merge_upsert


def _files(path):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).select("k", "part", "v").collect()))


def _store(spark, path, parts=("a", "b", "c"), n=60, appends=3):
    """``appends`` appends of ``n`` rows per partition, 2 files each."""
    for i in range(appends):
        spark.createDataFrame(
            [(i * 1000 + j, p, float(j)) for p in parts for j in range(n)],
            "k long, part string, v double",
        ).repartition(2).write.mode("append").partitionBy("part").parquet(path)


def _crash_on(monkeypatch, n):
    """Make the ``n``-th directory rename of a partition rewrite fail."""
    calls = []
    real = storage._move

    def move(src, dst):
        calls.append(src)
        if len(calls) == n:
            raise OSError("simulated crash")
        real(src, dst)

    monkeypatch.setattr(storage, "_move", move)


@pytest.mark.parametrize("crash_at", [2, 3], ids=["between_renames", "after_renames"])
def test_crashed_rewrite_heals(spark, tmp_path, monkeypatch, crash_at):
    # rename 1 moves part=a out, 2 moves the new part=a in, 3 moves part=b out
    path = str(tmp_path / "store")
    _store(spark, path)
    before = _rows(spark, path)
    _crash_on(monkeypatch, crash_at)
    with pytest.raises(OSError, match="simulated crash"):
        compact_store(spark, path)
    monkeypatch.undo()
    assert os.path.isdir(path + "__rewrite_old")

    report = compact_store(spark, path)
    assert _rows(spark, path) == before
    assert report["rows"] == len(before) and report["files_after"] == 3
    assert not os.path.exists(path + "__rewrite_old")
    assert not os.path.exists(path + "__rewrite_tmp")


def test_whole_store_leftover_is_not_a_partition_one(spark, tmp_path):
    """A stale ``__compact_old`` next to a live store is dropped whole: a
    partition it holds that the store lacks is not restored."""
    path = str(tmp_path / "store")
    _store(spark, path, appends=1)
    shutil.copytree(path, path + "__compact_old")
    shutil.rmtree(os.path.join(path, "part=c"))
    before = _rows(spark, path)

    compact_store(spark, path)
    assert not os.path.exists(path + "__compact_old")
    assert not os.path.exists(os.path.join(path, "part=c"))
    assert _rows(spark, path) == before


def test_one_file_partitions_untouched_and_rerun_is_jobless(spark, tmp_path):
    path = str(tmp_path / "store")
    _store(spark, path, parts=("a", "b"))
    shutil.rmtree(os.path.join(path, "part=b"))
    spark.createDataFrame([(9, "b", 9.0)], "k long, part string, v double").coalesce(
        1
    ).write.mode("append").partitionBy("part").parquet(path)
    before = _rows(spark, path)
    b_files = _files(os.path.join(path, "part=b"))

    report = compact_store(spark, path)
    assert report["files_before"] == 7 and report["files_after"] == 2
    assert _files(os.path.join(path, "part=b")) == b_files
    assert len(_files(os.path.join(path, "part=a"))) == 1
    assert _rows(spark, path) == before

    sc = spark.sparkContext
    sc.setJobGroup("compact_rerun", "second compaction")
    try:
        again = compact_store(spark, path)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("compact_rerun") == []
    assert (again["files_before"], again["files_after"], again["rows"]) == (2, 2, report["rows"])


def test_hot_partition_fans_out(spark, tmp_path):
    """A partition whose rows need several target-sized files keeps
    several (the per-partition salt modulus); a cold one gets one."""
    path = str(tmp_path / "store")
    _store(spark, path, parts=("hot",), n=3000, appends=4)
    _store(spark, path, parts=("cold",), n=10, appends=2)
    before = _rows(spark, path)
    hot_bytes = sum(os.path.getsize(f) for f in _files(os.path.join(path, "part=hot")))

    compact_store(spark, path, target_file_mb=hot_bytes / 3 / 2**20)
    assert len(_files(os.path.join(path, "part=hot"))) >= 2
    assert len(_files(os.path.join(path, "part=cold"))) == 1
    assert _rows(spark, path) == before


def test_write_outside_named_partitions_raises(spark, tmp_path):
    path = str(tmp_path / "store")
    _store(spark, path, appends=1)
    files = _files(path)
    frame = spark.createDataFrame([(1, "z", 1.0)], "k long, part string, v double")
    with pytest.raises(RuntimeError, match="part=z"):
        storage._rewrite_partitions(path, frame, ["part"], {"part=a"})
    assert _files(path) == files
    assert not os.path.exists(path + "__rewrite_tmp")
    assert not os.path.exists(path + "__rewrite_old")


def test_merge_into_pyarrow_store_with_string_event_date(spark, tmp_path):
    """The benchmark's base layout: pyarrow hive-partitioned on a string
    ``event_date``, read back as a date; a merge touching one day
    replaces that day's directory only."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    path = str(tmp_path / "store")
    pads.write_dataset(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "value": [1.0, 2.0, 3.0],
            "event_date": ["2024-01-01", "2024-01-01", "2024-01-02"],
        }),
        path,
        format="parquet",
        partitioning=pads.partitioning(pa.schema([("event_date", pa.string())]), flavor="hive"),
    )
    day2 = _files(os.path.join(path, "event_date=2024-01-02"))
    upd = spark.createDataFrame(
        [(2, 20.0, False), (1, None, True), (4, 4.0, False)],
        "event_id long, value double, is_delete boolean",
    ).withColumn("event_date", F.to_date(F.lit("2024-01-01")))

    res = merge_upsert(spark, path, upd, ["event_id"], delete_col="is_delete")
    assert res == {"rows_upserted": 2, "rows_deleted": 1, "partitions_rewritten": 1}
    got = {
        r["event_id"]: (r["value"], str(r["event_date"]))
        for r in spark.read.parquet(path).collect()
    }
    assert got == {2: (20.0, "2024-01-01"), 3: (3.0, "2024-01-02"), 4: (4.0, "2024-01-01")}
    assert sorted(os.listdir(path)) == ["event_date=2024-01-01", "event_date=2024-01-02"]
    assert _files(os.path.join(path, "event_date=2024-01-02")) == day2


def test_merge_empties_nested_partition(spark, tmp_path):
    """Deleting every row of a nested leaf removes it; the store keeps
    both partition levels."""
    path = str(tmp_path / "nested")
    spark.createDataFrame(
        [(1, "d1", "x", 1.0), (2, "d2", "y", 2.0)], "k long, day string, kind string, v double"
    ).write.partitionBy("day", "kind").parquet(path)
    upd = spark.createDataFrame(
        [(1, "d1", "x", None, True)], "k long, day string, kind string, v double, del boolean"
    )
    merge_upsert(spark, path, upd, ["k"], delete_col="del")
    assert not os.path.exists(os.path.join(path, "day=d1", "kind=x"))
    assert storage._partition_order(storage._kept_store(spark, path), path) == ["day", "kind"]
    assert [tuple(r) for r in spark.read.parquet(path).select("k", "v").collect()] == [(2, 2.0)]


def test_merge_names_escaped_and_null_partitions(spark, tmp_path):
    """Touched partitions are named as Spark names their directories:
    escaped characters and the NULL partition rewrite in place."""
    path = str(tmp_path / "esc")
    schema = "k long, part string, v double"
    spark.createDataFrame(
        [(1, "a/b", 1.0), (2, "x:y=z", 2.0), (3, None, 3.0), (4, "plain", 4.0)], schema
    ).write.partitionBy("part").parquet(path)
    dirs = sorted(d for d in os.listdir(path) if "=" in d)
    upd = spark.createDataFrame([(1, "a/b", 10.0), (2, "x:y=z", 20.0), (3, None, 30.0)], schema)

    res = merge_upsert(spark, path, upd, ["k"])
    assert res["partitions_rewritten"] == 3
    assert sorted(d for d in os.listdir(path) if "=" in d) == dirs
    assert _rows(spark, path) == sorted(
        [(1, "a/b", 10.0), (2, "x:y=z", 20.0), (3, None, 30.0), (4, "plain", 4.0)],
        key=lambda r: r[0],
    )
