"""compact_store: fragmented append stores collapse to few well-sized
files, the partition layout (and so partition pruning) survives, and the
data is bit-identical."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from zx_spark.storage import compact_store, read_table, write_events

SF_DIR = "/root/testdata/sf0.001"


def _files(path):
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


@pytest.fixture(scope="module")
def events(spark):
    # unpersist on teardown: a cached plan for this exact read would be
    # substituted (InMemoryRelation) into other tests' plan assertions.
    df = read_table(spark, SF_DIR, "events").cache()
    yield df
    df.unpersist()


def test_compact_partitioned_store(spark, events, tmp_path):
    path = str(tmp_path / "store")
    # Simulate micro-batch accretion: 3 appends × 8-way parallelism
    # → ~24 part files per day directory.
    for _ in range(3):
        write_events(events.repartition(8), path)
    n_before = len(_files(path))
    before = [tuple(r) for r in spark.read.parquet(path).collect()]

    report = compact_store(spark, path, target_file_mb=128)
    assert report["files_before"] == n_before
    assert report["files_after"] < n_before / 5
    assert report["rows"] == len(before)

    # Partition layout preserved: still one event_date=... dir per day,
    # exactly one right-sized file in each (small store, big target).
    days = {d.split("=")[1] for d in glob.glob(f"{path}/event_date=*")}
    assert days and report["files_after"] == len(days)
    after_df = spark.read.parquet(path)
    assert sorted(map(tuple, after_df.collect())) == sorted(before)
    # ...and partition pruning still works on the compacted store.
    one_day = sorted(days)[0]
    plan = (
        after_df.filter(F.col("event_date") == one_day)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(event_date" in plan


def test_compact_unpartitioned_store(spark, events, tmp_path):
    path = str(tmp_path / "flat")
    events.drop("props").repartition(40).write.parquet(path)
    before = [tuple(r) for r in spark.read.parquet(path).collect()]
    report = compact_store(spark, path, target_file_mb=256)
    assert report["files_before"] == 40
    assert report["files_after"] == 1  # 1000 rows ≪ 256 MB
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == sorted(before)


def test_compact_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="no parquet files"):
        compact_store(spark, str(tmp_path / "missing"))
    with pytest.raises(ValueError, match="positive"):
        compact_store(spark, str(tmp_path / "missing"), target_file_mb=0)


def test_compact_nested_partition_layout(spark, events, tmp_path):
    """Multi-level partition layouts (day=…/type=…) survive compaction —
    discovery walks to the leaf instead of reading one directory level."""
    path = str(tmp_path / "nested")
    df = events.drop("props").withColumn("event_date", F.to_date("ts"))
    for _ in range(2):
        df.repartition(6).write.mode("append").partitionBy(
            "event_date", "event_type"
        ).parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    leaf_dirs_before = sorted(glob.glob(f"{path}/event_date=*/event_type=*"))
    assert leaf_dirs_before  # sanity: the second level exists

    compact_store(spark, path, target_file_mb=128)

    assert sorted(glob.glob(f"{path}/event_date=*/event_type=*")) == leaf_dirs_before
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # Pruning works on BOTH levels of the compacted store.
    plan = (
        spark.read.parquet(path)
        .filter(F.col("event_type") == "click")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_compact_recovers_from_interrupted_swap(spark, events, tmp_path):
    """A dead prior compaction (stale __compact_old, with or without the
    store itself) heals on the next call instead of failing the rename."""
    import os
    import shutil

    path = str(tmp_path / "store")
    events.drop("props").repartition(4).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    # Crash point A: died during final cleanup — old is leftover garbage.
    shutil.copytree(path, path + "__compact_old")
    report = compact_store(spark, path, target_file_mb=256)
    assert report["files_after"] == 1
    assert not os.path.exists(path + "__compact_old")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    # Crash point B: died between the renames — old IS the store.
    os.rename(path, path + "__compact_old")
    report = compact_store(spark, path, target_file_mb=256)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def _sparse_store(spark, path):
    """Full-schema rows on 2024-01-02, then one late sparse row (no
    ``tag``) on 2024-01-01: a plain read takes the schema of one file."""
    full = spark.createDataFrame(
        [(1, 1704160800, 1.0, "a"), (2, 1704164400, 2.0, "b")],
        "event_id long, ts_s long, value double, tag string",
    )
    late = spark.createDataFrame([(3, 1704074400, 3.0)], "event_id long, ts_s long, value double")
    for df in (full, late):
        write_events(df.withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s"), path)


def test_compaction_keeps_sparse_columns(spark, tmp_path):
    from zx_spark.api import ZX

    path = str(tmp_path / "sparse")
    _sparse_store(spark, path)
    compact_store(spark, path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "tag" in merged.columns
    got = ZX(spark, events_path=path, id_col="event_id").sql(
        "select count(value) group by tag"
    )
    assert sorted(got) == ['{"tag": "__nil"}', '{"tag": "a"}', '{"tag": "b"}']
