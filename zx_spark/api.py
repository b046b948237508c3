"""The user-facing facade — command-level parity with the reference.

The reference exposes four commands (module registration in the reference
source): ``ZX.SQL <query>`` (read), ``ZX.I`` (debug insert), ``ZX.T``
(in-server golden tests), plus internal ``init``/``flushall``. A reference
user switching to this engine uses the same verbs::

    zx = ZX(spark, events_path="/data/events")   # or events_df=...
    zx.sql("select sum(foo) where $T_START > 0 group by y")  # → zx JSON dict
    zx.i(foo="100", x="7")                                   # ZX.I analog
    zx.flushall()                                            # reset store
    zx.t()                                                   # golden self-check

``sql`` returns the reference's JSON result shape for zx-dialect
aggregate queries ({group_key: {"$$agg(col)": {data, window_starts,
window_ends}}}), a list of row dicts for raw projections / passthrough SQL
— collected, so meant for interactive use; the DataFrame-level API
(``zx_spark.sqlshim.zx_sql``) is the composable path.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession

from zx_spark.compiler import day_range
from zx_spark.model import Aggregate, Query
from zx_spark.sqlshim import Passthrough, ZxCompat, parse_zx_sql, zx_sql
from zx_spark.storage import day_partition, read_store, truncate_events, write_events


class ZX:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str | None = None,
        events_df: DataFrame | None = None,
        compat: ZxCompat = ZxCompat(),
        granularity_s: float = 300.0,
        id_col: str = "id",
        ts_col: str = "ts",
        rate_col: str | None = "sample_rate",
    ):
        if events_path is None and events_df is None:
            raise ValueError("need events_path (mutable store) or events_df (read-only)")
        self.spark = spark
        self.events_path = events_path
        self._events_df = events_df
        self.compat = compat
        self.granularity_s = granularity_s
        self._cols = dict(id_col=id_col, ts_col=ts_col, rate_col=rate_col)

    # -- read path (ZX.SQL) -------------------------------------------------

    def events(self) -> DataFrame:
        if self.events_path is not None:
            # merged schema: sparse inserts append files whose footers carry
            # only their own columns; without merging, columns present only
            # in other files would silently vanish from the store view.
            return read_store(self.spark, self.events_path)
        return self._events_df

    def df(self, text: str) -> DataFrame:
        """The composable form: query → DataFrame (lazy)."""
        return self._compile(
            parse_zx_sql(text, granularity_s=self.granularity_s, compat=self.compat)
        )

    def _compile(self, parsed: Query | Passthrough) -> DataFrame:
        """A parsed query → DataFrame. On a store partitioned by day the
        scan reads only the days the query's time range can touch."""
        df = None
        if isinstance(parsed, Query):
            df = self.events()
            day = day_partition(self.events_path) if self.events_path else None
            days = day_range(parsed, day) if day else None
            if days is not None:
                df = df.filter(days)
        return zx_sql(self.spark, parsed, df=df, **self._cols)

    def sql(self, text: str):
        """The ``ZX.SQL`` analog: query → collected result.

        zx-dialect aggregate query → the reference JSON dict shape;
        anything else (raw projection, passthrough, ORDER BY path) → list
        of row dicts."""
        parsed = parse_zx_sql(text, granularity_s=self.granularity_s, compat=self.compat)
        out = self._compile(parsed)
        if (
            isinstance(parsed, Query)
            and parsed.group_mode is None  # multidim frames have no window_start
            and not parsed.order_by
            and any(s.aggregate is not Aggregate.RAW for s in parsed.selects)
        ):
            from zx_spark.result import shape_result

            return shape_result(out, parsed)
        return [r.asDict(recursive=True) for r in out.collect()]

    # -- write path (ZX.I / insert) -----------------------------------------

    def i(self, ts: float | None = None, **columns) -> None:
        """``ZX.I`` analog: insert one sparse row (columns as kwargs).
        Requires a path-backed store. The reference assigns ``Utc::now()``
        when no ts is given — same default here.

        Cost: the new id is ``max(id) + 1`` over the whole store, a Spark
        job that scans every row's id on every insert, so an insert grows
        with the store where the reference's ``ZADD`` does not. Bulk
        loads belong in ``write_events``."""
        if self.events_path is None:
            raise ValueError("insert needs events_path (read-only DataFrame store)")
        if ts is None:
            ts = _dt.datetime.now(tz=_dt.timezone.utc).timestamp()
        row = {"ts": _dt.datetime.fromtimestamp(ts, tz=_dt.timezone.utc), **columns}
        df = self.spark.createDataFrame([row])
        from pyspark.sql import functions as F

        from pyspark.errors import AnalysisException

        existing_ids = 0
        try:
            store = read_store(self.spark, self.events_path)
            existing_ids = (
                store.selectExpr(f"max(`{self._cols['id_col']}`) m").collect()[0]["m"] or 0
            )
            # Align the insert row to the store schema: null-fill columns
            # this sparse row doesn't set AND cast columns present in
            # both — an int literal inserted into a STRING column would
            # otherwise write an int64 parquet file that breaks every
            # subsequent mergeSchema read of the store.
            for field in store.schema.fields:
                if field.name not in df.columns:
                    df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
                elif dict(df.dtypes)[field.name] != field.dataType.simpleString():
                    df = df.withColumn(field.name, F.col(field.name).cast(field.dataType))
        except AnalysisException as e:
            # Only the empty/new-store case (missing path / unreadable-as-
            # table) may fall through to id 1. Any other failure must
            # propagate: swallowing a transient read error here would
            # silently reset the id counter and write an unaligned row
            # (ADVICE r3).
            if "PATH_NOT_FOUND" not in str(e) and "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
        df = df.withColumn(self._cols["id_col"], F.lit(int(existing_ids) + 1).cast("long"))
        write_events(df, self.events_path, partition_by_day=False)

    # -- maintenance (init / flushall / ZX.T) -------------------------------

    def flushall(self, schema=None) -> None:
        """S4 flush: truncate the store (schema-preserving)."""
        if self.events_path is None:
            raise ValueError("flushall needs events_path")
        truncate_events(self.spark, self.events_path, schema=schema)

    init = flushall  # the reference's init also resets the store counters

    def t(self) -> str:
        """``ZX.T`` analog: run the flagship golden check against the
        reference fixture in-process; returns "OK" or raises."""
        import json

        from zx_spark.compiler import compile_query
        from zx_spark.model import Select
        from zx_spark.result import shape_result
        from zx_spark.storage import zx_fixture

        q = Query(
            selects=[Select("foo", Aggregate.SUM)],
            group_by=["y"],
            granularity_s=15,
            window_mode="faithful",
        )
        got = shape_result(compile_query(zx_fixture(self.spark), q), q)
        expect = {
            json.dumps({"y": "1"}): {"$$sum(foo)": {"data": [100.0], "window_starts": [0], "window_ends": [0]}},
            json.dumps({"y": "9"}): {"$$sum(foo)": {"data": [1400.0], "window_starts": [3], "window_ends": [9]}},
            json.dumps({"y": "__nil"}): {"$$sum(foo)": {"data": [4000.0], "window_starts": [1], "window_ends": [8]}},
        }
        if got != expect:
            raise AssertionError(f"golden mismatch: {got}")
        return "OK"
