"""merge_upsert (storage.py): upsert/insert/delete semantics, touched-
partition-only rewrites (untouched partition files byte-identical),
unpartitioned swap path, validation."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from zx_spark.storage import merge_upsert


def _files(path):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def _rows(spark, path):
    return {
        (r["k"], r["part"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }


@pytest.fixture()
def store(spark, tmp_path):
    p = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, part string, v double",
    ).write.partitionBy("part").parquet(p)
    return p


def test_upsert_partitioned(spark, store):
    before_c = _files(os.path.join(store, "part=c"))
    updates = spark.createDataFrame(
        [(2, "a", 21.0), (5, "b", 50.0)], "k long, part string, v double"
    )
    res = merge_upsert(spark, store, updates, ["k"])
    assert res == {"rows_upserted": 2, "rows_deleted": 0, "partitions_rewritten": 2}
    assert _rows(spark, store) == {
        (1, "a"): 10.0, (2, "a"): 21.0, (3, "b"): 30.0, (4, "c"): 40.0,
        (5, "b"): 50.0,
    }
    # untouched partition c: same files, untouched mtimes
    assert _files(os.path.join(store, "part=c")) == before_c


def test_delete_rows_and_empty_partition_cleanup(spark, store):
    updates = spark.createDataFrame(
        [(4, "c", None, True), (1, "a", 11.0, False)],
        "k long, part string, v double, is_delete boolean",
    )
    res = merge_upsert(spark, store, updates, ["k"], delete_col="is_delete")
    assert res["rows_deleted"] == 1 and res["rows_upserted"] == 1
    assert _rows(spark, store) == {
        (1, "a"): 11.0, (2, "a"): 20.0, (3, "b"): 30.0,
    }
    # partition c lost its only row: directory must be gone
    assert not os.path.exists(os.path.join(store, "part=c"))


def test_unpartitioned_full_rewrite(spark, tmp_path):
    p = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, part string, v double"
    ).write.parquet(p)
    updates = spark.createDataFrame([(2, "b", 22.0)], "k long, part string, v double")
    res = merge_upsert(spark, p, updates, ["k"], partition_cols=[])
    assert res["partitions_rewritten"] == -1
    assert _rows(spark, p) == {(1, "a"): 10.0, (2, "b"): 22.0}
    # no swap debris
    assert not os.path.exists(p + "__compact_tmp")
    assert not os.path.exists(p + "__compact_old")


def test_composite_keys(spark, tmp_path):
    p = str(tmp_path / "comp")
    spark.createDataFrame(
        [(1, 1, "a", 10.0), (1, 2, "a", 20.0)],
        "k1 long, k2 long, part string, v double",
    ).write.partitionBy("part").parquet(p)
    updates = spark.createDataFrame(
        [(1, 2, "a", 99.0)], "k1 long, k2 long, part string, v double"
    )
    merge_upsert(spark, p, updates, ["k1", "k2"])
    got = {
        (r["k1"], r["k2"]): r["v"] for r in spark.read.parquet(p).collect()
    }
    assert got == {(1, 1): 10.0, (1, 2): 99.0}


def test_validation(spark, store):
    bad = spark.createDataFrame([(1, "a")], "k long, part string")
    with pytest.raises(ValueError, match="missing store columns"):
        merge_upsert(spark, store, bad, ["k"])
    good = spark.createDataFrame([(1, "a", 1.0)], "k long, part string, v double")
    with pytest.raises(ValueError, match="key_cols"):
        merge_upsert(spark, store, good, [])


def test_merge_keeps_sparse_columns(spark, tmp_path):
    from tests.test_compaction import _sparse_store

    path = str(tmp_path / "sparse")
    _sparse_store(spark, path)
    upd = spark.createDataFrame(
        [(3, 1704074400, 30.0, "c")],
        "event_id long, ts_s long, value double, tag string",
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    upd = upd.withColumn("event_date", F.to_date("ts"))
    merge_upsert(spark, path, upd, ["event_id"])
    rows = {
        r["event_id"]: (r["value"], r["tag"])
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert rows == {1: (1.0, "a"), 2: (2.0, "b"), 3: (30.0, "c")}
