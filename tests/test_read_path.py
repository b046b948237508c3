"""The ZX.sql read path on day-partitioned stores: ``event_date``
partition pruning (``compiler.day_range``) and the kept store schema
(``storage.read_store``). Every answer is compared with the same query
over a plain ``mergeSchema`` read of the same files (an ``events_df=``
facade, which never prunes)."""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from zx_spark.api import ZX
from zx_spark.storage import day_partition, read_store, write_events

DAY = 1704153600  # 2024-01-02T00:00:00Z
# both sides of both bounds of the day, plus rows days away
EDGE_TS = [DAY - 1, DAY, DAY + 86399, DAY + 86400, DAY - 5 * 86400, DAY + 5 * 86400, DAY + 43200]
QUERIES = [
    f"select count(value), sum(value) where $T_START >= {DAY} and $T_END <= {DAY + 86399} granularity 1h",
    f"select count(value) where $T_START >= {DAY - 1} and $T_END <= {DAY + 86400} group by tag granularity 1d",
    f"select sum(value) where $T_START >= {DAY + 86399} group by tag",
    f"select count(value) where $T_END <= {DAY} granularity 1d",
]


@contextmanager
def session_tz(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _rows(spark, ts_list, first_id=1, tag=True):
    cols = "id long, ts_s long, value double" + (", tag string" if tag else "")
    rows = [
        (first_id + i, t, float(i + 1)) + ((f"t{i % 2}",) if tag else ())
        for i, t in enumerate(ts_list)
    ]
    df = spark.createDataFrame(rows, cols)
    return df.withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")


def _plain(spark, path):
    return ZX(spark, events_df=spark.read.option("mergeSchema", "true").parquet(path))


def _assert_same_answers(spark, path, queries=QUERIES):
    zx, ref = ZX(spark, events_path=path), _plain(spark, path)
    for q in queries:
        assert zx.sql(q) == ref.sql(q), q


def _partition_filters(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_edge_rows_and_pruned_plan(spark, tmp_path):
    path = str(tmp_path / "store")
    write_events(_rows(spark, EDGE_TS), path)
    _assert_same_answers(spark, path)
    zx = ZX(spark, events_path=path)
    assert day_partition(path) == "event_date"
    # the day and its two neighbours: the bounds widened by one UTC day
    filters = _partition_filters(zx.df(QUERIES[0]))
    assert "event_date" in filters and "2024-01-01" in filters and "2024-01-03" in filters


def test_stores_written_and_read_under_other_time_zones(spark, tmp_path):
    # written at UTC+14 / UTC-10 (event_date shifts a day), read in UTC
    for i, tz in enumerate(["Pacific/Kiritimati", "Pacific/Honolulu"]):
        path = str(tmp_path / f"w{i}")
        with session_tz(spark, tz):
            write_events(_rows(spark, EDGE_TS), path)
        _assert_same_answers(spark, path)
    # written in UTC, read at UTC-10 and UTC+14
    path = str(tmp_path / "utc")
    write_events(_rows(spark, EDGE_TS), path)
    for tz in ["Pacific/Honolulu", "Pacific/Kiritimati"]:
        with session_tz(spark, tz):
            _assert_same_answers(spark, path)


def test_stores_without_day_partition_are_not_pruned(spark, tmp_path):
    path = str(tmp_path / "flat")
    write_events(_rows(spark, EDGE_TS), path, partition_by_day=False)
    _assert_same_answers(spark, path)
    assert day_partition(path) is None
    # an events_df= frame compiles as before: no partition filter
    ev = _rows(spark, EDGE_TS).withColumn("event_date", F.to_date("ts"))
    zx = ZX(spark, events_df=ev)
    assert zx.sql(QUERIES[0]) == ZX(spark, events_df=ev.drop("event_date")).sql(QUERIES[0])


def test_sparse_files_and_an_added_column(spark, tmp_path):
    path = str(tmp_path / "sparse")
    write_events(_rows(spark, EDGE_TS[:4]), path)
    # a late sparse file without `tag`, on another day
    write_events(_rows(spark, [DAY - 86400 + 60], first_id=50, tag=False), path)
    _assert_same_answers(spark, path)
    assert "tag" in read_store(spark, path).columns
    # an append that adds a column: the next read sees it
    write_events(_rows(spark, [DAY + 120], first_id=60).withColumn("extra", F.lit("x")), path)
    assert read_store(spark, path).schema == _merged_schema(spark, path)
    q = f"select count(value) where extra = 'x' and $T_START >= {DAY}"
    got = ZX(spark, events_path=path).sql(q)
    assert [v["$$count(value)"]["data"] for v in got.values()] == [[1.0]]
    _assert_same_answers(spark, path, [q])


def _merged_schema(spark, path):
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def test_vanished_files_rerun_the_merge(spark, tmp_path):
    path = str(tmp_path / "vanish")
    write_events(_rows(spark, EDGE_TS[:2]), path)
    write_events(
        _rows(spark, [DAY + 300], first_id=40).withColumn("note", F.lit("n")), path
    )
    assert "note" in read_store(spark, path).columns
    # drop every file that carries `note`
    import pyarrow.parquet as pq

    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        if "note" in pq.read_schema(f).names:
            os.remove(f)
    assert read_store(spark, path).schema == _merged_schema(spark, path)
    _assert_same_answers(spark, path, QUERIES[:1])


def test_day_range_widens_by_one_utc_day():
    from zx_spark.compiler import day_range
    from zx_spark.model import Query

    assert day_range(Query(), "event_date") is None
    expr = str(day_range(Query(t_start=DAY, t_end=DAY + 86399), "event_date"))
    assert "2024-01-01" in expr and "2024-01-03" in expr
    # a bound beyond any date keeps only the other side
    assert "2024-01-03" in str(day_range(Query(t_start=-1e300, t_end=DAY + 1), "d"))
