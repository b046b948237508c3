"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001. ``queries()`` registers
one callable per implemented operator from SURVEY.md §2 plus the
LLM-data-pipeline surface; ``oracle_sql()`` gives the DuckDB-equivalent SQL
for every SQL-expressible query (the driver compares row-count + schema +
order-insensitive value hash at sf0.01). All 50 queries are
hash-verified — the hashing-based pipelines (MinHash, SimHash,
fingerprints, RP-LSH, multimodal decode, sampling/mixing) deliberately
use md5-derived / literal-embedded constructions so DuckDB reproduces
them value-for-value, and the iterative quantizer fits (Lloyd IVF, PQ
codebooks) round every communicated center to 6 dp so numpy twins
re-derive them bit-identically for literal embedding in the oracle.

Float discipline: every order-dependent float aggregate is rounded (3-6 dp)
on BOTH sides; window timestamps are floored to whole-second BIGINTs so no
result column depends on float summation order or timestamp representation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zx_spark.compiler import compile_query, run_sorted
from zx_spark.model import NIL, Aggregate, Cmp, Condition, Query, Select
from zx_spark.operators.filters import apply_conditions
from zx_spark.storage import read_table, register_views

# ---------------------------------------------------------------- helpers

T0 = 1704412800  # 2024-01-05 00:00:00 UTC
T1 = 1705017600  # 2024-01-12 00:00:00 UTC


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


def _with_ts_normalized(df: DataFrame) -> DataFrame:
    """Raw-parquet `ts` → session-zoned TIMESTAMP, whatever the store
    flavor: bigint nanos (nanosAsLong), naive micros (TIMESTAMP_NTZ), or
    already a TimestampType. Streaming sources bypass read_table, so they
    need the same normalization applied post-load."""
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _events_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + a genuinely sparse column (NULL for 'view' rows) so the
    __nil/EXISTS semantics are exercised at driver scale."""
    return _events(spark, sf_dir).withColumn("tag", F.expr("nullif(event_type, 'view')"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


def _floor_windows(df: DataFrame) -> DataFrame:
    """window_start/window_end → whole-second BIGINT (exact integers on
    both engines; sub-second fidelity is covered by the golden tests)."""
    cols = []
    for c in df.columns:
        if c in ("window_start", "window_end"):
            cols.append(F.floor(F.col(c)).cast("long").alias(c))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def _round(df: DataFrame, spec: dict[str, int]) -> DataFrame:
    cols = [
        F.round(F.col(c), spec[c]).alias(c) if c in spec else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def _id_set_agg(df: DataFrame) -> DataFrame:
    """The filter-test result shape: count + id-range + value checksum
    pins the exact surviving id set (reference filter_test asserts id
    sets, src/test.rs:23-84)."""
    # 1dp: the checksum only pins the id set; finer rounding of an
    # order-dependent float sum is boundary-flake risk (the class that bit
    # tpch_q3 in round 1), not extra discrimination.
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.round(F.sum("value"), 1).alias("sum_value"),
    )


_FILTER_ORACLE = (
    "SELECT count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id, "
    "round(sum(value), 1) AS sum_value FROM events WHERE {pred}"
)

# Multi-arm form: one driver row checks several comparators (keeps all 12
# F1 comparators oracle-verified inside the driver's 50-query cap).
def _filter_arms_oracle(*preds: str) -> str:
    return " UNION ALL ".join(
        f"SELECT '{chr(ord('a') + i)}' AS arm, count(*) AS n, "
        "min(event_id) AS min_id, max(event_id) AS max_id, "
        f"round(sum(value), 1) AS sum_value FROM events WHERE {p}"
        for i, p in enumerate(preds)
    )




def _filter_query(cond: Condition, tagged: bool = False):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _events_tagged(spark, sf_dir) if tagged else _events(spark, sf_dir)
        return _id_set_agg(apply_conditions(df, [cond]))

    return run


def _filter_multi_query(*conds: Condition, tagged: bool = False):
    """N comparators in one driver row: arm 'a'..'d' per condition, each an
    id-set aggregate — keeps all 12 F1 comparators oracle-verified inside
    the driver's 50-query cap."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _events_tagged(spark, sf_dir) if tagged else _events(spark, sf_dir)
        arms = [
            _id_set_agg(apply_conditions(df, [cond])).select(
                F.lit(chr(ord("a") + i)).alias("arm"), "*"
            )
            for i, cond in enumerate(conds)
        ]
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        return out

    return run


def _filter_pair_query(cond_a: Condition, cond_b: Condition, tagged: bool = False):
    return _filter_multi_query(cond_a, cond_b, tagged=tagged)


def q_f1_exists_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arms a/b: the EXISTS / NOT_EXISTS comparator pair (F1).

    arms c/d (r6): bloom_semi_join / bloom_anti_join (operators/
    bloom.py) of the events corpus against the error-event user set —
    the literal-bitmap prefilter prunes map-side and only bloom-passing
    rows reach the exact verify join, so any false positive the verify
    failed to weed out (or any false negative, which Bloom filters
    cannot produce) would change the id-set checksum against the plain
    IN / NOT IN oracle. Geometry pinned (m=8192, k=5) so the arm also
    skips the sizing jobs."""
    from zx_spark.operators.bloom import bloom_anti_join, bloom_semi_join

    pair = _filter_pair_query(
        Condition("tag", Cmp.EXISTS), Condition("tag", Cmp.NOT_EXISTS), tagged=True
    )(spark, sf_dir)
    ev = _events(spark, sf_dir)
    err_users = ev.filter(F.col("event_type") == "error").select("user_id")
    semi = _id_set_agg(
        bloom_semi_join(ev, err_users, "user_id", m_bits=8192, k=5)
    ).select(F.lit("c").alias("arm"), "*")
    anti = _id_set_agg(
        bloom_anti_join(ev, err_users, "user_id", m_bits=8192, k=5)
    ).select(F.lit("d").alias("arm"), "*")
    return pair.unionByName(semi).unionByName(anti)


# ------------------------------------------------------- core zx queries


def q_s1_time_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(t_start=T0, t_end=T1)
    from zx_spark.compiler import scan_filter

    return _id_set_agg(scan_filter(_events(spark, sf_dir), q, "ts"))


def q_g1_group_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The original G1 group arm alone — the r2-pinned bench shape,
    kept callable so `g1_group_nil` timings stay comparable across
    rounds while the driver row carries the grown arm set."""
    q = Query(
        selects=[Select("value", Aggregate.SUM), Select("value", Aggregate.COUNT)],
        group_by=["tag"],
    )
    out = compile_query(_events_tagged(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return _round(_floor_windows(out), {"sum__value": 3})


def q_g1_group_nil_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 hash group-by + ``__nil`` (reference src/lib.rs:754-770), plus
    the profiling subsystem as extra arms (r6 — registry capped at 50,
    so operators/profile.py lands as tagged rows in this events row):

    - group rows — the original G1 arm, values unchanged since r1;
    - ``profile:<col>`` — per-column n_rows/n_nonnull/exact-distinct
      (one partial-agg pass, profile_table);
    - ``profile:<col>:range`` — numeric min/max;
    - ``profile:event_type:str_range:<min>:<max>`` — string extremes
      pinned in the key itself (engine-neutral: lexicographic ASCII);
    - ``corr:<a>:<b>`` — one-pass Pearson (column_correlations) vs
      DuckDB ``corr()``;
    - ``expect:<col>:<rule>`` — check_expectations gate rows: passed
      bit in window_start, actual in sum__value, BOTH re-derived by the
      oracle from raw parquet (no echo).

    All arms share the row's (g_tag, window_start, window_end,
    sum__value, count__value) shape; the 'profile:'/'corr:'/'expect:'
    key prefixes cannot collide with event-type group tags."""
    group = q_g1_group_core(spark, sf_dir)

    from zx_spark.operators.profile import (
        check_expectations,
        column_correlations,
        profile_table,
    )

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    zero = F.lit(0).cast("long")
    dnull = F.lit(None).cast("double")
    # ONE exact-distinct profile pass: the collected rows feed the
    # counts/range arms (re-lifted as a tiny local frame) AND the
    # expectation gate via check_expectations(profile=...) — without
    # the reuse the Expand-heavy exact-distinct scan would run twice.
    # (r14 note: merging the corr accumulators into this agg was
    # measured SLOWER — every accumulator rides the 5× distinct-Expand
    # — so the corr arm stays a separate plain agg pass.)
    prof_rows = profile_table(ev, exact_distinct=True).collect()
    prof = spark.createDataFrame(
        prof_rows,
        "column: string, n_rows: long, n_nonnull: long, n_distinct: long, "
        "min_value: string, max_value: string",
    )
    counts = prof.select(
        F.concat(F.lit("profile:"), F.col("column")).alias("g_tag"),
        F.col("n_rows").alias("window_start"),
        F.col("n_nonnull").alias("window_end"),
        F.col("n_distinct").cast("double").alias("sum__value"),
        dnull.alias("count__value"),
    )
    rng = prof.filter(F.col("column").isin("event_id", "user_id", "value")).select(
        F.concat(F.lit("profile:"), F.col("column"), F.lit(":range")).alias("g_tag"),
        zero.alias("window_start"),
        zero.alias("window_end"),
        F.round(F.col("min_value").cast("double"), 6).alias("sum__value"),
        F.round(F.col("max_value").cast("double"), 6).alias("count__value"),
    )
    srng = prof.filter(F.col("column") == "event_type").select(
        F.concat_ws(
            ":", F.lit("profile"), F.col("column"), F.lit("str_range"),
            F.col("min_value"), F.col("max_value"),
        ).alias("g_tag"),
        zero.alias("window_start"),
        zero.alias("window_end"),
        dnull.alias("sum__value"),
        dnull.alias("count__value"),
    )
    corr = column_correlations(ev, ["event_id", "user_id", "value"]).select(
        F.concat(F.lit("corr:"), F.col("col_a"), F.lit(":"), F.col("col_b")).alias(
            "g_tag"
        ),
        zero.alias("window_start"),
        zero.alias("window_end"),
        F.col("corr").alias("sum__value"),
        F.col("n").cast("double").alias("count__value"),
    )
    exp = check_expectations(ev, EXPECT_RULES, profile=prof_rows).select(
        F.concat(F.lit("expect:"), F.col("column"), F.lit(":"), F.col("rule")).alias(
            "g_tag"
        ),
        F.col("passed").cast("long").alias("window_start"),
        zero.alias("window_end"),
        F.round(F.col("actual"), 6).alias("sum__value"),
        dnull.alias("count__value"),
    )
    return (
        group.unionByName(counts)
        .unionByName(rng)
        .unionByName(srng)
        .unionByName(corr)
        .unionByName(exp)
    )


def q_g1_group_nil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The g1_group_nil driver row (v3, r7): the v2 arm set plus the
    ``topv:`` arm — profile_top_values (operators/profile.py:93-133),
    the last in-test-only profiling verb. Per-column top-5 most
    frequent values over event_type and user_id (value skipped: its
    float→string formatting is engine-specific), encoded as
    ``topv:<column>:<value>`` with rank in window_start and the count
    in sum__value. One explode + partial-agg count + bounded per-column
    top-k window — the shuffle carries (column, value) pairs, never
    rows, so the shape holds at corpus scale."""
    from zx_spark.operators.profile import profile_top_values

    v2 = q_g1_group_nil_v2(spark, sf_dir)
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    zero = F.lit(0).cast("long")
    dnull = F.lit(None).cast("double")
    topv = profile_top_values(ev, ["event_type", "user_id"], k=5).select(
        F.concat_ws(":", F.lit("topv"), F.col("column"), F.col("value")).alias(
            "g_tag"
        ),
        F.col("rank").cast("long").alias("window_start"),
        zero.alias("window_end"),
        F.col("n").cast("double").alias("sum__value"),
        dnull.alias("count__value"),
    )
    return v2.unionByName(topv)


# Expectation rules for the g1 expect arm, shared by Spark and the
# oracle's re-derivation (both sides compute passed/actual from raw
# data — no outcome is assumed).
EXPECT_RULES = {
    "event_id": {"not_null": True, "unique": True},
    "value": {"null_frac_max": 0.5, "min_at_least": 0.0, "max_at_most": 1e6},
    "event_type": {"distinct_at_least": 3, "distinct_at_most": 64},
}


def q_w1_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        selects=[Select("value", Aggregate.SUM), Select("value", Aggregate.COUNT)],
        group_by=["event_type"],
        granularity_s=3600,
    )
    out = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return _round(_floor_windows(out), {"sum__value": 3})


def q_w1_aligned_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The w1_aligned_windows driver row (v2, r7): the tumbling arm
    plus the ``hop:`` arm — with_hopping_windows (operators/
    windows.py:172-222), width 2h / slide 1h, so every event fans into
    exactly two overlapping windows. Row key encodes the hop start
    (``hop:<event_type>:<start>``); window_start/window_end are the
    min/max event epochs INSIDE the hop window, the same convention as
    the tumbling arm. NULL-ts events belong to no hop window and are
    dropped (explode of a NULL sequence emits no rows) — the oracle's
    hop arm filters ``ts IS NOT NULL`` to pin the same semantics. The fan-out is a narrow map-side explode
    (width/slide = 2 rows per event) and partial aggregation still
    combines before the shuffle — state ∝ groups × 2, the standard
    hopping-aggregation cost at any scale."""
    from zx_spark.operators.windows import with_hopping_windows

    out = q_w1_aligned(spark, sf_dir)
    ev = _events(spark, sf_dir)
    eps = F.col("ts").cast("double")
    hop = with_hopping_windows(ev, "ts", 7200.0, 3600.0)
    hop_rows = hop.groupBy(
        F.concat(
            F.lit("hop:"),
            F.coalesce(F.col("event_type"), F.lit("__nil")),
            F.lit(":"),
            F.col("hop_start").cast("long").cast("string"),
        ).alias("g_event_type")
    ).agg(
        F.floor(F.min(eps)).cast("long").alias("window_start"),
        F.floor(F.max(eps)).cast("long").alias("window_end"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 3).alias(
            "sum__value"
        ),
        F.count("value").cast("double").alias("count__value"),
    )
    return out.unionByName(hop_rows)


def q_w_gapfill_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled sparse series (zx_spark/operators/gapfill.py): hourly
    SUM over a rare slice (value > 200 keeps ~2% of events, so most
    (group, hour) buckets are EMPTY), then every bucket in each group's
    span is emitted with zero / locf / linear fills, plus the derived/
    anomaly/EWMA series verbs. Beyond-reference in the reference's own
    domain — its windows only emit buckets that contain events
    (src/lib.rs:693-718). This is the batch portion (and the bench
    shape — streaming drains are source staging, not engine time); the
    driver row `w_gapfill` adds the drained streaming-twin arm."""
    from zx_spark.operators.gapfill import gapfill

    q = Query(
        selects=[Select("value", Aggregate.SUM)],
        conditions=[Condition("value", Cmp.GT, 200.0)],
        group_by=["event_type"],
        granularity_s=3600,
    )
    agg = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    # Round the observed sums BEFORE filling so locf/linear copy/derive
    # from the same values the oracle rounds.
    s = F.round(F.col("sum__value"), 3)
    agg = agg.select(
        "g_event_type",
        (F.floor(F.col("window_start") / 3600) * 3600).cast("double").alias("bucket"),
        s.alias("sum_zero"), s.alias("sum_locf"), s.alias("sum_lin"),
    )
    filled = gapfill(
        agg, "bucket", 3600.0, ["g_event_type"],
        {"sum_zero": "zero", "sum_locf": "locf", "sum_lin": "linear"},
    )
    # floor-truncate (not round): interpolating 2-decimal sums at simple
    # fractions lands EXACTLY on x.xxxxxx5 boundaries, where Spark
    # (HALF_UP) and DuckDB (half-even) round apart; floor on the
    # identical double is deterministic in both engines.
    out = filled.withColumn("sum_lin", F.floor(F.col("sum_lin") * 1e6) / 1e6)
    # derived-series verbs (operators/series.py) over the filled series:
    # d_zero = raw delta of the zero-filled sum (NULL at each group's
    # first bucket); rate_locf = PromQL-style counter rate of the locf
    # series — it DECREASES whenever a lower sum follows, so the
    # counter-reset branch is exercised and hash-verified. Differences/
    # divisions of identical pre-rounded doubles need no extra rounding.
    from zx_spark.operators.series import counter_rate, series_delta

    out = series_delta(out, "sum_zero", "bucket", ["g_event_type"], out_col="d_zero")
    out = counter_rate(
        out, "sum_locf", "bucket", ["g_event_type"], out_col="rate_locf"
    )
    # anomaly verbs (operators/series.py) over the zero-filled series:
    # z6 = trailing-6-bucket z-score (window EXCLUDES the current row,
    # NULL while <2 trailing samples or flat window); anom = |z| > 2.5
    # with >= 3 trailing samples. The z-score divides by a windowed
    # stddev whose internal accumulation order differs between engines
    # (~ulp), so it is ROUNDED to 4 dp on both sides; the boolean uses
    # the raw z with threshold 2.5, far from every observed |z| at
    # sf0.01/sf0.1 (nearest gap > 0.002, checked when the arm landed;
    # 6 / 203 buckets flag, so the TRUE branch is exercised).
    from zx_spark.operators.series import flag_anomalies, rolling_zscore

    out = rolling_zscore(out, "sum_zero", "bucket", ["g_event_type"], n=6, out_col="z6")
    out = flag_anomalies(
        out, "sum_zero", "bucket", ["g_event_type"],
        n=6, threshold=2.5, min_periods=3, out_col="anom",
    )
    # EWMA smoothing arm (series.ewma): alpha = 0.5 makes every weight
    # an exact power of two, and both engines fold newest-first in the
    # same order — the 6dp round is belt-and-braces, the doubles match
    # exactly.
    from zx_spark.operators.series import ewma

    out = ewma(
        out, "sum_zero", "bucket", ["g_event_type"],
        alpha=0.5, n=6, out_col="ewma_zero",
    )
    return out.withColumn("z6", F.round(F.col("z6"), 4)).withColumn(
        "ewma_zero", F.round(F.col("ewma_zero"), 6)
    )


def q_w_gapfill_batch_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch v2 (r7): the r5 batch shape plus the last two in-test-only
    series verbs as columns — rq6 = trailing-6-bucket rolling MEDIAN
    (series.rolling_quantile) and rz6 = trailing-6 robust z-score
    ((x − med) / (1.4826·MAD), series.robust_zscore, frame EXCLUDING
    the current row). Both run over the zero-filled sum quantized to a
    1/64 grid (the a_weighted_suite discipline): dyadic inputs make
    every median interpolation EXACT in doubles, so Spark percentile
    and DuckDB quantile_cont agree bit-for-bit whatever interpolation
    association each engine uses, and the rz6 quotient is one IEEE
    division of identical operands — no rounding step, no boundary
    hazard."""
    from zx_spark.operators.series import robust_zscore, rolling_quantile

    out = q_w_gapfill_batch(spark, sf_dir)
    out = out.withColumn("__rqv", F.round(F.col("sum_zero") * 64, 0) / 64)
    out = rolling_quantile(
        out, "__rqv", "bucket", ["g_event_type"], q=0.5, n=6, out_col="rq6"
    )
    out = robust_zscore(
        out, "__rqv", "bucket", ["g_event_type"], n=6, out_col="rz6"
    )
    return out.drop("__rqv")


def q_w_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The w_gapfill driver row: batch arms (q_w_gapfill_batch_v2) + the
    drained streaming gap-fill twin as `stream:` rows + (r7 s2) CUSUM
    change-point columns over the 4dp-rounded z6 series
    (series.cusum_flags, Page 1954: textbook k=0.25σ, h=3σ on the
    standardized series). Both engines walk the recurrence in the SAME
    per-group bucket order over the SAME already-hash-verified z6
    doubles — the Spark in-row fold and the oracle's recursive CTE
    produce identical doubles, so 6dp rounding and the > h booleans
    carry no boundary risk."""
    from zx_spark.operators.series import cusum_flags

    out = q_w_gapfill_batch_v2(spark, sf_dir)
    out = cusum_flags(
        out, "z6", "bucket", ["g_event_type"], target=0.0, k=0.25, h=3.0
    )
    out = (
        out.withColumn("cus_hi", F.round(F.col("z6_cusum_hi"), 6))
        .withColumn("cus_lo", F.round(F.col("z6_cusum_lo"), 6))
        .withColumnRenamed("z6_cusum_flag", "cus_flag")
        .drop("z6_cusum_hi", "z6_cusum_lo")
    )

    # ------- stream arm (r6): the streaming gap-fill twin, DRAINED -------
    # streaming/gapfill.py emits each bucket exactly once when the
    # event-time watermark closes it, silent buckets as fills. Drain
    # recipe (deterministic): a sentinel event at
    # (global_max_bucket + 1)*3600 + delay with watermark delay =
    # 87600 hours — the delay keeps every data event inside the
    # watermark whatever the file order, and the sentinel's final
    # watermark lands exactly on (global_max_bucket + 1)*3600, so ALL
    # real buckets close and every group flatlines out to the global
    # max bucket with trailing fills (the EventTimeTimeout path). One
    # locf-fill drain yields both fills: zero = 0 where is_filled.
    # Oracle: dense spine per group from its first bucket to the
    # GLOBAL max bucket, zero + locf — the batch operator's
    # already-verified SQL with a global hi.
    import glob
    import os
    import tempfile

    from zx_spark.streaming.gapfill import streaming_gapfill

    D_H = 87600  # watermark delay, hours (10 years, whole buckets)
    src_df = (
        _events(spark, sf_dir)
        .filter(F.col("value") > 200)
        .select("event_type", "ts", "value")
    )
    hi = src_df.agg(
        F.max(F.floor(F.col("ts").cast("double") / 3600).cast("long"))
    ).collect()[0][0]
    sentinel_ts = float((int(hi) + 1) * 3600 + D_H * 3600)
    tmp = tempfile.mkdtemp(prefix="zx_gapfill_stream_")
    src, cp = f"{tmp}/src", f"{tmp}/cp"
    src_df.repartition(4).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [("__wmdrv", sentinel_ts, 999.0)], "event_type: string, epoch: double, value: double"
    ).select("event_type", F.to_timestamp("epoch").alias("ts"), "value").coalesce(
        1
    ).write.mode("append").parquet(src)
    # pin the sentinel file (newest mtime) to sort LAST in the file
    # source, so no data batch ever runs after the watermark jump
    newest = max(glob.glob(f"{src}/*.parquet"), key=os.path.getmtime)
    os.utime(newest, (4102444800, 4102444800))
    stream_in = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    gf = streaming_gapfill(
        stream_in, "value", "ts", ["event_type"],
        granularity_s=3600.0, fill="locf", watermark=f"{D_H} hours",
    )
    qname = f"w_gapfill_stream_{os.path.basename(tmp)}"
    (
        gf.writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", cp)
        .trigger(availableNow=True).start().awaitTermination(180)
    )
    dnull = F.lit(None).cast("double")
    stream = (
        spark.table(qname)
        .filter(F.col("g_event_type") != "__wmdrv")
        .select(
            F.concat(F.lit("stream:"), F.col("g_event_type")).alias("g_event_type"),
            F.col("bucket"),
            F.round(
                F.when(F.col("is_filled"), F.lit(0.0)).otherwise(F.col("sum_value")), 3
            ).alias("sum_zero"),
            F.round(F.col("sum_value"), 3).alias("sum_locf"),
            dnull.alias("sum_lin"),
            dnull.alias("d_zero"),
            dnull.alias("rate_locf"),
            dnull.alias("z6"),
            F.lit(None).cast("boolean").alias("anom"),
            dnull.alias("ewma_zero"),
            dnull.alias("rq6"),
            dnull.alias("rz6"),
            dnull.alias("cus_hi"),
            dnull.alias("cus_lo"),
            F.lit(None).cast("boolean").alias("cus_flag"),
        )
    )

    # ------ sanom arm (r6): the streaming ANOMALY twin, DRAINED ------
    # streaming/anomaly.py scores each watermark-finalized bucket sum
    # against the key's trailing finalized buckets — gapfill-LESS, so
    # the oracle twin is the same rolling z over the SPARSE agg rows.
    # Same staged source + sentinel: its final watermark closes every
    # real bucket; silent keys flush via EventTimeTimeout. Same z
    # params as the batch columns (n=6, |z| > 2.5, min_periods=3).
    from zx_spark.streaming.anomaly import streaming_anomaly_flags

    an_in = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    an = streaming_anomaly_flags(
        an_in, group_by=["event_type"], bucket_s=3600.0, n=6, threshold=2.5,
        min_periods=3, ts_col="ts", value_col="value",
        watermark=f"{D_H} hours",
    )
    an_name = f"w_gapfill_sanom_{os.path.basename(tmp)}"
    (
        an.writeStream.format("memory").queryName(an_name)
        .outputMode("append").option("checkpointLocation", f"{tmp}/cp_anom")
        .trigger(availableNow=True).start().awaitTermination(180)
    )
    sanom = (
        spark.table(an_name)
        .filter(F.col("g_event_type") != "__wmdrv")
        .select(
            F.concat(F.lit("sanom:"), F.col("g_event_type")).alias("g_event_type"),
            F.col("bucket"),
            F.round(F.col("sum__value"), 3).alias("sum_zero"),
            dnull.alias("sum_locf"),
            dnull.alias("sum_lin"),
            dnull.alias("d_zero"),
            dnull.alias("rate_locf"),
            F.round(F.col("zscore"), 4).alias("z6"),
            F.col("is_anomaly").alias("anom"),
            dnull.alias("ewma_zero"),
            dnull.alias("rq6"),
            dnull.alias("rz6"),
            dnull.alias("cus_hi"),
            dnull.alias("cus_lo"),
            F.lit(None).cast("boolean").alias("cus_flag"),
        )
    )
    return out.unionByName(stream).unionByName(sanom)


def _agg_query(sel: Select | list[Select], rounds: dict[str, int]):
    sels = sel if isinstance(sel, list) else [sel]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        q = Query(selects=sels, group_by=["event_type"])
        out = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
        return _round(_floor_windows(out), rounds)

    return run


# SURVEY §2.5 sample-rate weighting (the reference's defining observability
# semantics, src/lib.rs:560-657): the driver events table has no
# sample_rate column, so synthesize a deterministic one — rates
# {1.0, 1.5, 2.0, 2.5} exercise both the float-rate path (SUM/COUNT) and
# MEAN's integer-truncated rate (floor → {1, 1, 2, 2}).
_RATE_SQL = "((1 + (event_id % 4) * 0.5)::double)"  # ::double — DuckDB decimal literal otherwise


def _weighted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).withColumn(
        "sample_rate",
        F.lit(1.0) + F.pmod(F.col("event_id"), F.lit(4)).cast("double") * F.lit(0.5),
    )


# Funnel steps for the a_weighted_suite funnel arm — event_type values
# present in the driver events table, ordered as a user journey.
FUNNEL_STEPS = ["view", "click", "purchase"]


def q_a_weighted_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4/A6 §2.5 sample-rate weighting — all three weighted aggregates
    in ONE grouped pass (merged from three registry rows to stay under the
    driver's 50-query cap while keeping each aggregate hash-verified).

    r6 arms (registry capped at 50, so the event-sequence analytics land
    here, in the events row they belong to):

    - ``funnel:<step>`` — funnel_counts over view→click→purchase
      (operators/funnel.py k-slot JVM fold, ONE user-key shuffle): stage
      in window_start, users-reaching-stage in count__value, conversion
      vs stage 1 in sum__value. The DuckDB oracle re-derives the greedy
      funnel as sequential filtered mins — an INDEPENDENT formulation of
      the same semantics, not an echo.
    - ``retention`` rows — retention_cohorts daily grid: cohort start
      seconds in window_start, offset in window_end, active users in
      count__value, retained fraction in sum__value.
    - ``cooc:<a>+<b>`` rows (r6 s3) — within-user event-type
      co-occurrence support counts (operators/basket.py), oracle =
      the distinct-distinct equi-join the operator's bounded in-row
      pair transform replaces (cap included).
    - ``scooc:<a>+<b>`` rows (r6 s3) — the DRAINED streaming twin
      (streaming/basket.py): single-file staging → one micro-batch →
      the per-group emitted-once pair set aggregated per pair must
      equal the same support counts."""
    q = Query(
        selects=[
            Select("value", Aggregate.SUM),
            Select("value", Aggregate.COUNT),
            Select("value", Aggregate.MEAN),
        ],
        group_by=["event_type"],
    )
    # Determinism contract (r6 s3): values are quantized to 1/64ths
    # BEFORE the weighted aggregation. The rates are exact binary
    # doubles ({1, 1.5, 2, 2.5}), so every value·rate term becomes
    # m/128 with integer m and the float SUM is exact regardless of
    # partial-agg order — the sf0.001 sweep caught one group's
    # unquantized sum landing on the 2dp rounding boundary
    # (17934.295) with engines on either side. compile_query's
    # weighted path is still exercised unchanged.
    out = compile_query(
        _weighted_events(spark, sf_dir).withColumn(
            "value", F.round(F.col("value") * 64) / 64
        ),
        q,
        id_col="event_id",
        rate_col="sample_rate",
    )
    wagg = _round(
        _floor_windows(out), {"sum__value": 2, "count__value": 2, "mean__value": 6}
    )

    from zx_spark.operators.funnel import funnel_counts, retention_cohorts

    ev = _events(spark, sf_dir)
    dnull = F.lit(None).cast("double")
    # NULL user_ids form a pseudo-user group in funnel_steps (groupBy
    # keeps null keys); the oracle's USING-join formulation drops them —
    # exclude them explicitly so both sides count real users
    fun = funnel_counts(ev.filter(F.col("user_id").isNotNull()), FUNNEL_STEPS).select(
        F.concat(F.lit("funnel:"), F.col("step")).alias("g_event_type"),
        F.col("stage").cast("long").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        F.col("conversion").alias("sum__value"),
        F.col("n_users").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    ret = retention_cohorts(ev, bucket_s=86400.0).select(
        F.lit("retention").alias("g_event_type"),
        F.col("cohort_start").cast("long").alias("window_start"),
        F.col("offset").cast("long").alias("window_end"),
        F.col("retained_frac").alias("sum__value"),
        F.col("n_active").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )

    # ------- sfunnel arm (r6): the STREAMING funnel twin, DRAINED -------
    # streaming/funnel.py emits a user's row whenever their furthest
    # stage advances; a single-file staging makes the availableNow drain
    # one micro-batch, so each participating user emits exactly their
    # final stage (max() kept as a safety net). Stage reach aggregated
    # from the drain must equal the batch funnel — the SAME sequential-
    # filtered-mins oracle rows, re-tagged 'sfunnel:'.
    import os
    import shutil as _sh
    import tempfile
    import uuid

    from zx_spark.streaming import run_available_now

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _drain(build, prefix, filter_users=False):
        """Shared single-file-staging availableNow drain for the three
        streaming-twin arms; temp dirs are removed even when the drain
        raises."""
        stage = tempfile.mkdtemp(prefix=f"zx_{prefix}_")
        ckpt = tempfile.mkdtemp(prefix="zx_ckpt_")
        name = f"zx_{prefix}_{uuid.uuid4().hex[:8]}"
        try:
            os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
            st = _with_ts_normalized(
                spark.readStream.format("parquet").schema(raw_schema).load(stage)
            )
            if filter_users:
                st = st.filter(F.col("user_id").isNotNull())
            run_available_now(build(st), name, ckpt, output_mode="append")
        finally:
            for d in (ckpt, stage):
                _sh.rmtree(d, ignore_errors=True)
        return spark.table(name)

    from zx_spark.streaming.funnel import streaming_funnel

    per_user = _drain(
        lambda st: streaming_funnel(st, FUNNEL_STEPS, watermark=None),
        "sfunnel", filter_users=True,
    ).groupBy("user_id").agg(
        F.max("steps_completed").alias("__mx")
    )
    counts = (
        per_user.select(
            F.explode(F.sequence(F.lit(1), F.col("__mx"))).alias("__stage")
        )
        .groupBy("__stage")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    n1 = counts.filter(F.col("__stage") == 1).select(F.col("__n").alias("__n1"))
    step_names = F.array(*[F.lit(s) for s in FUNNEL_STEPS])
    sfun = counts.crossJoin(F.broadcast(n1)).select(
        F.concat(
            F.lit("sfunnel:"), F.element_at(step_names, F.col("__stage").cast("int"))
        ).alias("g_event_type"),
        F.col("__stage").cast("long").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        F.round(F.col("__n") / F.col("__n1"), 6).alias("sum__value"),
        F.col("__n").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )

    # ------- sretention arm (r6): the streaming retention twin, DRAINED --
    # streaming/retention.py emits each (user, activity-bucket) once;
    # the aggregated grid from the drain must equal the batch cohort
    # grid — the same first-seen × later-activity oracle, re-tagged.
    from pyspark.sql import Window as _W

    from zx_spark.streaming.retention import streaming_retention_pairs

    grid = (
        _drain(
            lambda st: streaming_retention_pairs(
                st, bucket_s=86400.0, watermark=None, max_tracked_buckets=4096
            ),
            "sret",
        )
        .groupBy("cohort_bucket", "offset")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w0 = _W.partitionBy("cohort_bucket")
    sret = grid.select(
        F.lit("sretention").alias("g_event_type"),
        (F.col("cohort_bucket") * 86400).cast("long").alias("window_start"),
        F.col("offset").cast("long").alias("window_end"),
        F.round(
            F.col("__n")
            / F.max(F.when(F.col("offset") == 0, F.col("__n"))).over(w0),
            6,
        ).alias("sum__value"),
        F.col("__n").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # ------- conv arm (r6): repeat conversions, the LAST carve-out -----
    # conversion_counts' reset-on-completion k-slot fold is greedy
    # earliest-completion, which reduces to sequential filtered mins per
    # journey with strict inequalities and each journey's chain starting
    # strictly after the previous completion — expressible as a DuckDB
    # RECURSIVE CTE (nested correlated mins per step, recursion advances
    # one completed journey per level). Per-user rows pin the exact
    # conversion count AND the last completion time.
    from zx_spark.operators.funnel import conversion_counts

    conv = conversion_counts(
        ev.filter(F.col("user_id").isNotNull()), FUNNEL_STEPS
    ).select(
        F.lit("conv").alias("g_event_type"),
        F.col("user_id").cast("long").alias("window_start"),
        F.col("n_conversions").cast("long").alias("window_end"),
        F.round(F.col("last_conversion_ts"), 6).alias("sum__value"),
        F.col("n_conversions").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )

    # ------- sconv arm (r6): the STREAMING conversion twin, DRAINED ----
    # streaming/funnel.py streaming_conversion_counts emits a user's row
    # whenever the count advances; single-file staging → one micro-batch
    # → each converting user emits exactly their final (n, last_ts)
    # (max() as a safety net). Must equal the batch fold — the same
    # recursive-CTE oracle rows, re-tagged. This was the LAST
    # in-test-only streaming twin.
    from zx_spark.streaming.funnel import streaming_conversion_counts

    sconv = (
        _drain(
            lambda st: streaming_conversion_counts(st, FUNNEL_STEPS, watermark=None),
            "sconv", filter_users=True,
        )
        .groupBy("user_id")
        .agg(
            F.max("n_conversions").alias("__n"),
            F.max("last_conversion_ts").alias("__last"),
        )
        .select(
            F.lit("sconv").alias("g_event_type"),
            F.col("user_id").cast("long").alias("window_start"),
            F.col("__n").cast("long").alias("window_end"),
            F.round(F.col("__last"), 6).alias("sum__value"),
            F.col("__n").cast("double").alias("count__value"),
            dnull.alias("mean__value"),
        )
    )
    # ------- path arm (r6): common event paths (operators/paths.py) ----
    # top-15 length-3 step sequences across users — the "what do people
    # actually do" counterpart to the prescribed funnel; the oracle
    # re-derives the per-user ordered sequences, trigram explode and
    # deterministic top-k in SQL.
    from zx_spark.operators.paths import common_paths

    path = common_paths(ev, n=3, k=15, id_col="event_id").select(
        F.concat(F.lit("path:"), F.col("path")).alias("g_event_type"),
        F.col("n_occurrences").cast("long").alias("window_start"),
        F.col("n_users").cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("n_occurrences").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # ------- cooc arm (r6 s3): within-user event-type co-occurrence ----
    # (operators/basket.py — distinct → per-group lexicographic cap →
    # in-row pair transform → one pair agg; no self-join). The oracle
    # re-derives it as the distinct-distinct equi-join it replaces.
    from zx_spark.operators.basket import cooccurrence_pairs

    cooc = cooccurrence_pairs(
        ev, "user_id", "event_type", min_count=2, max_items_per_group=64
    ).select(
        F.concat(
            F.lit("cooc:"), F.col("item_a"), F.lit("+"), F.col("item_b")
        ).alias("g_event_type"),
        F.col("n_groups").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("n_groups").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # ------- scooc arm (r6 s3): the STREAMING co-occurrence twin, ------
    # DRAINED. Single-file staging → one micro-batch, so the arrival-
    # order cap cannot bind (5 event types « 64) and the emitted pair
    # set aggregated per pair must equal the batch support counts — the
    # SAME qpairs oracle rows, re-tagged 'scooc:'.
    from zx_spark.streaming.basket import streaming_cooccurrence

    scooc = (
        _drain(
            lambda st: streaming_cooccurrence(
                st, "user_id", "event_type", max_items_per_group=64
            ),
            "scooc",
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(
            F.concat(
                F.lit("scooc:"), F.col("item_a"), F.lit("+"), F.col("item_b")
            ).alias("g_event_type"),
            F.col("__n").alias("window_start"),
            F.lit(0).cast("long").alias("window_end"),
            dnull.alias("sum__value"),
            F.col("__n").cast("double").alias("count__value"),
            dnull.alias("mean__value"),
        )
    )
    # ------- ab arms (r7 s2): experiment statistics (operators/abtest) --
    # 'ab:welch' — Welch's t on the 1/64-QUANTIZED value, click vs view:
    # dyadic grid ⇒ Σx and Σx² are exact floats under any partial-agg
    # order (Σm² < 2^53 at every test scale), and since the oracle
    # mirrors the formula chain association-for-association (including
    # the A&S erf Horner chain and the un-simplified 1−(1−poly·exp)),
    # t/p/diff are IDENTICAL doubles on both engines — 6dp rounding has
    # zero boundary risk. 'ab:conv' — pooled two-proportion z on the
    # conversion event value > 500, same discipline.
    from zx_spark.operators.abtest import two_proportion_z_test, welch_t_test

    qev = ev.filter(F.col("value").isNotNull()).select(
        "event_type", (F.round(F.col("value") * 64) / 64).alias("__v")
    )
    ab_w = welch_t_test(qev, "event_type", "__v", "click", "view").select(
        F.lit("ab:welch").alias("g_event_type"),
        F.col("n_a").cast("long").alias("window_start"),
        F.col("n_b").cast("long").alias("window_end"),
        F.round("t", 6).alias("sum__value"),
        F.round("p", 6).alias("count__value"),
        F.round("diff", 6).alias("mean__value"),
    )
    ab_z = two_proportion_z_test(
        qev.withColumn("__y", (F.col("__v") > 500.0).cast("double")),
        "event_type", "__y", "click", "view",
    ).select(
        F.lit("ab:conv").alias("g_event_type"),
        F.col("n_a").cast("long").alias("window_start"),
        F.col("n_b").cast("long").alias("window_end"),
        F.round("z", 6).alias("sum__value"),
        F.round("p", 6).alias("count__value"),
        F.round("diff", 6).alias("mean__value"),
    )
    # ------- attr arms (r7 s2): conversion attribution (operators/
    # attribution.py) — last-touch counts per channel and the linear
    # model's INTEGER (channel, k) grid (credit = Σ n/k is derived on
    # the tiny frame downstream, so no order-sensitive float ever sums
    # in the big pass). touches view/click → conversion purchase, 2h
    # lookback. Oracle: a correlated ORDER BY (ts, id) DESC LIMIT 1
    # re-derivation for last-touch; a windowed join + per-conversion
    # count for linear.
    from zx_spark.operators.attribution import attribution_report

    at_last = attribution_report(
        ev, ["view", "click"], "purchase", window_s=7200.0, model="last_touch"
    ).select(
        F.concat(F.lit("attr:last:"), F.col("channel")).alias("g_event_type"),
        F.col("conversions").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("conversions").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # attr:first arm (r8): first-touch — the windowed-array head (the
    # globally earliest touch may fall OUTSIDE the lookback while a
    # later one qualifies, so this is NOT a running min; attribution.py
    # reads the RANGE-bounded collected array). Oracle: the same
    # correlated lookup with ORDER BY (ts, id) ASC — the
    # earliest-qualifying touch.
    at_first = attribution_report(
        ev, ["view", "click"], "purchase", window_s=7200.0, model="first_touch"
    ).select(
        F.concat(F.lit("attr:first:"), F.col("channel")).alias("g_event_type"),
        F.col("conversions").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("conversions").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # attr:lag — time-to-convert per channel (conversion_lag_stats):
    # INTEGER-µs lags make the mean's sum order-exact and the exact
    # median's midpoint interpolation engine-identical, so mean/p50 are
    # emitted raw (no rounding step). Oracle = the same correlated
    # last-touch lookup returning the touch ts, avg as sum/count, and
    # quantile_cont on the bigint lags.
    from zx_spark.operators.attribution import conversion_lag_stats

    at_lag = conversion_lag_stats(
        ev, ["view", "click"], "purchase", window_s=7200.0, model="last_touch"
    ).select(
        F.concat(F.lit("attr:lag:"), F.col("channel")).alias("g_event_type"),
        F.col("conversions").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        F.col("mean_lag_us").alias("sum__value"),
        F.col("p50_lag_us").alias("count__value"),
        dnull.alias("mean__value"),
    )
    at_lin = attribution_report(
        ev, ["view", "click"], "purchase", window_s=7200.0, model="linear"
    ).select(
        F.concat(
            F.lit("attr:lin:"), F.col("channel"), F.lit(":"), F.col("k")
        ).alias("g_event_type"),
        F.col("touches").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("touches").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # attr:pos / attr:dk arms (r8): the position-based (U-shaped) role
    # grid and the time-decay half-life bucket grid — both INTEGER
    # phases (the 40/40/20 and 2^-k weights are applied downstream on
    # the tiny frames, same discipline as attr:lin). Oracle: the same
    # windowed join, row_number per conversion for the role, integer //
    # for the bucket.
    from zx_spark.operators.attribution import decay_report, position_report

    at_pos = position_report(
        ev, ["view", "click"], "purchase", window_s=7200.0
    ).select(
        F.concat(
            F.lit("attr:pos:"), F.col("channel"), F.lit(":"),
            F.col("role"), F.lit(":"), F.col("k"),
        ).alias("g_event_type"),
        F.col("touches").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("touches").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    at_dk = decay_report(
        ev, ["view", "click"], "purchase", window_s=7200.0, half_life_s=1800.0
    ).select(
        F.concat(
            F.lit("attr:dk:"), F.col("channel"), F.lit(":"), F.col("decay_k")
        ).alias("g_event_type"),
        F.col("touches").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("touches").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    # sattr arm (r8): the STREAMING attribution twin DRAINED — the
    # touch/conversion slice staged as two time-ordered files (pinned
    # mtimes, maxFilesPerTrigger=1 → two epochs), folded through
    # streaming/attribution.py's stateful buffer. Under cross-batch
    # event-time order the drained rows equal the batch operator
    # row-for-row, so per-channel counts hit the SAME correlated
    # last-touch oracle (atlr), sattr-prefixed — the drain is verified
    # value-for-value against an independent SQL derivation.
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from zx_spark.streaming.attribution import streaming_attribution

    slice_df = ev.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isin(["view", "click", "purchase"])
    ).select(
        "event_id", F.col("ts").cast("double").alias("ts"),
        "user_id", "event_type",
    )
    smid = slice_df.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m")
    ).collect()[0]["m"]
    sdir = _tf.mkdtemp(prefix="zx_attr_src_")
    sck = _tf.mkdtemp(prefix="zx_attr_ck_")
    try:
        # a degenerate split (>=50% of rows at the min ts) leaves the
        # first half empty — a zero-row part file is fine: the shared
        # pin helper sorts empty files first and the drain just sees
        # an empty first epoch
        slice_df.filter(F.col("ts") < smid).coalesce(1).write.mode(
            "append"
        ).parquet(sdir)
        slice_df.filter(F.col("ts") >= smid).coalesce(1).write.mode(
            "append"
        ).parquet(sdir)
        # pin mtimes in event-time order so the two epochs trigger the
        # oldest half first (cross-batch order => exact batch parity);
        # ONE shared definition with the test suite
        from zx_spark.util import pin_file_mtimes_by_min_value

        pin_file_mtimes_by_min_value(sdir, "ts")
        sstream = (
            spark.readStream.format("parquet")
            .schema(slice_df.schema)
            .option("maxFilesPerTrigger", 1)
            .load(sdir)
        )
        sout = streaming_attribution(
            sstream, ["view", "click"], "purchase", window_s=7200.0,
            model="last_touch", watermark=None,
        )
        sq = (
            sout.writeStream.format("memory").queryName("zx_sattr_drain")
            .outputMode("append")
            .option("checkpointLocation", sck)
            .trigger(availableNow=True)
            .start()
        )
        if not sq.awaitTermination(180):
            sq.stop()  # don't leave a live query holding the dirs
            raise RuntimeError(
                "sattr arm: availableNow drain did not finish in 180s"
            )
        sattr_counts = (
            spark.table("zx_sattr_drain")
            .groupBy("channel")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # eager — staging/checkpoint can go
        )
    finally:
        for d in (sdir, sck):
            _sh.rmtree(d, ignore_errors=True)
    at_s = spark.createDataFrame(
        [(r["channel"], int(r["n"])) for r in sattr_counts], "ch string, n long"
    ).select(
        F.concat(F.lit("sattr:last:"), F.col("ch")).alias("g_event_type"),
        F.col("n").alias("window_start"),
        F.lit(0).cast("long").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("n").cast("double").alias("count__value"),
        dnull.alias("mean__value"),
    )
    return (
        wagg.unionByName(fun)
        .unionByName(ret)
        .unionByName(sfun)
        .unionByName(sret)
        .unionByName(conv)
        .unionByName(sconv)
        .unionByName(path)
        .unionByName(cooc)
        .unionByName(scooc)
        .unionByName(ab_w)
        .unionByName(ab_z)
        .unionByName(at_last)
        .unionByName(at_first)
        .unionByName(at_lag)
        .unionByName(at_lin)
        .unionByName(at_pos)
        .unionByName(at_dk)
        .unionByName(at_s)
    )


def q_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable rollup) path: 5-minute mergeable
    partials, coarsened to hourly, finalized — must equal the DIRECT
    hourly windowed aggregate, which is exactly what the DuckDB oracle
    computes. Verifies build→coarsen→finalize end-to-end (zx_spark/
    operators/rollup.py; beyond-reference — the reference recomputes every
    query from raw storage, src/lib.rs:191-218)."""
    from zx_spark.operators.rollup import (
        QUANTILE_BINS,
        build_rollup,
        coarsen_rollup,
        rollup_answer,
    )

    ev = _events(spark, sf_dir).withColumn(
        "g_event_type", F.coalesce(F.col("event_type").cast("string"), F.lit(NIL))
    )
    r5m = build_rollup(
        ev, ["value"], ["g_event_type"], granularity_s=300, rate_col=None,
        distinct_sketch=False, quantile_bins=QUANTILE_BINS,
    )
    hourly = coarsen_rollup(r5m, 300, 3600, group_cols=["g_event_type"])
    sel = [
        Select("value", Aggregate.SUM),
        Select("value", Aggregate.COUNT),
        Select("value", Aggregate.MIN),
        Select("value", Aggregate.MAX),
        Select("value", Aggregate.MEAN),
        Select("value", Aggregate.P50_APPROX),
    ]
    out = rollup_answer(hourly, sel, group_cols=["g_event_type"], empty_sentinels=False)
    return _round(
        _floor_windows(out),
        {"sum__value": 3, "mean__value": 6, "p50_approx__value": 6},
    )


def q_rollup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate subsystem as one three-arm driver row,
    every arm independently answering the SAME hourly query the DuckDB
    oracle computes directly from raw events:

    - ``batch``  — build 5m partials → coarsen to hourly → finalize
      (q_rollup_hourly, hash-verified since r4; kept in BENCH_COMPAT so
      headline timings stay comparable).
    - ``routed`` — materialized-view routing end-to-end:
      ``run_with_rollup`` takes the logical Query, decides via
      rollup_route_reason that the rollup answers it exactly, and
      answers WITHOUT touching the raw events (scan-shape asserted in
      tests/test_rollup_routing.py).
    - ``stream`` — streaming maintenance: drain the events through
      ``rollup_sink`` (availableNow, 4 micro-batches via
      maxFilesPerTrigger) into an epoch-keyed store, merge epochs on
      read, coarsen, finalize — pins that a stream-maintained store
      answers identically to a one-shot batch build."""
    import tempfile

    from zx_spark.model import Query
    from zx_spark.operators.rollup import (
        QUANTILE_BINS,
        build_rollup,
        coarsen_rollup,
        read_merged_rollup,
        rollup_answer,
        rollup_sink,
        run_with_rollup,
    )

    sel = [
        Select("value", Aggregate.SUM),
        Select("value", Aggregate.COUNT),
        Select("value", Aggregate.MIN),
        Select("value", Aggregate.MAX),
        Select("value", Aggregate.MEAN),
        Select("value", Aggregate.P50_APPROX),
        # r5 s4: generalized quantile from the SAME stored histogram
        # partials — one rollup serves every q
        Select("value", Aggregate.QUANTILE_APPROX, params=(0.9,)),
    ]

    def shape(df: DataFrame, arm: str) -> DataFrame:
        out = _floor_windows(df).withColumn(
            "sum__value", F.round("sum__value", 3)
        ).withColumn(
            # mean derived from the ALREADY-3dp-ROUNDED sum and the exact
            # count: one IEEE division on identical inputs in both
            # engines. The directly-merged mean is an order-dependent
            # float sum — the sf0.1 spot-check caught a 1-ulp 6dp
            # rounding-boundary flake in it (44.569063 vs ...62).
            "mean__value",
            F.when(
                F.col("count__value") > 0,
                F.round(F.col("sum__value") / F.col("count__value"), 6),
            ),
        )
        out = _round(out, {"p50_approx__value": 6, "p90_approx__value": 6})
        return out.select(F.lit(arm).alias("arm"), *out.columns)

    ev = _events(spark, sf_dir).withColumn(
        "g_event_type", F.coalesce(F.col("event_type").cast("string"), F.lit(NIL))
    )
    r5m = build_rollup(
        ev, ["value"], ["g_event_type"], granularity_s=300, rate_col=None,
        distinct_sketch=False, quantile_bins=QUANTILE_BINS,
    )
    hourly = coarsen_rollup(r5m, 300, 3600, group_cols=["g_event_type"])
    batch = shape(
        rollup_answer(hourly, sel, group_cols=["g_event_type"], empty_sentinels=False),
        "batch",
    )

    q = Query(selects=sel, group_by=["event_type"], granularity_s=3600.0)
    routed = shape(
        run_with_rollup(
            ev, q, r5m, 300.0, ["g_event_type"],
            id_col="event_id", rate_col=None, empty_sentinels=False,
        ),
        "routed",
    )

    tmp = tempfile.mkdtemp(prefix="zx_rollup_suite_")
    src, store, cp = f"{tmp}/src", f"{tmp}/store", f"{tmp}/cp"
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream_in = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rollup_sink(
        stream_in, store, value_cols=["value"], group_cols=["g_event_type"],
        granularity_s=300, rate_col=None, distinct_sketch=False,
        quantile_bins=QUANTILE_BINS, checkpoint_dir=cp, available_now=True,
    ).awaitTermination()
    merged = read_merged_rollup(spark, store, group_cols=["g_event_type"])
    stream = shape(
        rollup_answer(
            coarsen_rollup(merged, 300, 3600, group_cols=["g_event_type"]),
            sel, group_cols=["g_event_type"], empty_sentinels=False,
        ),
        "stream",
    )
    return batch.unionByName(routed).unionByName(stream)


def q_a8_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 RAW through the real aggregate (sorted collect_list), then
    exploded to scalar rows — the driver's canonicalizer can't hash
    array-typed columns, and the exploded multiset pins the same
    semantics."""
    q = Query(
        selects=[Select("value", Aggregate.RAW)],
        conditions=[Condition("value", Cmp.GT, 300.0)],
        group_by=["event_type"],
    )
    out = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return _floor_windows(out).select(
        "g_event_type",
        "window_start",
        "window_end",
        F.explode("raw__value").alias("value"),
    )


HEAT_LO, HEAT_HI, HEAT_BINS = 0.0, 500.0, 10


def q_a9_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 HEATMAP through the real histogram aggregate, posexploded to one
    (group, bin_no, count) row per bin — scalar columns for the driver's
    canonicalizer; zero bins stay present."""
    q = Query(
        selects=[Select("value", Aggregate.HEATMAP, params=(HEAT_LO, HEAT_HI, HEAT_BINS))],
        group_by=["event_type"],
    )
    out = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return (
        _floor_windows(out)
        .select(
            "g_event_type",
            "window_start",
            "window_end",
            F.posexplode("heatmap__value").alias("bin_no", "heat_count"),
        )
        .withColumn("bin_no", F.col("bin_no").cast("long"))
    )


def q_w1_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (lag/cumsum, JVM-side) — 10-minute gap
    splits per event_type."""
    q = Query(
        selects=[Select("value", Aggregate.SUM), Select("value", Aggregate.COUNT)],
        group_by=["event_type"],
        granularity_s=600,
        window_mode="session",
    )
    out = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return _round(_floor_windows(out), {"sum__value": 3})


def q_w1_faithful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact data-aligned windows (sequential recurrence).
    Oracle: the same recurrence as a DuckDB recursive CTE (see
    oracle_sql), so the driver now hash-verifies the semantics the golden
    tests pin at fixture scale."""
    q = Query(
        selects=[Select("value", Aggregate.SUM)],
        group_by=["event_type"],
        granularity_s=600,
        window_mode="faithful",
    )
    out = compile_query(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return _round(_floor_windows(out), {"sum__value": 3})


def _bench_o1_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r2-pinned o1 shape (wired ORDER BY over the grouped mean) —
    also the `top` arm of the grown row."""
    q = Query(
        selects=[Select("value", Aggregate.MEAN)],
        group_by=["event_type"],
        order_by=[("$$mean(value)", False)],
    )
    out = run_sorted(_events(spark, sf_dir), q, id_col="event_id", rate_col=None)
    return _round(out, {"mean__value": 6})


def q_o1_top_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top arm: the original wired-ORDER-BY grouped mean (O1).

    cube arm (r6): multidim_agg (operators/olap.py) — the all-grouping-
    sets CUBE over (event_type, value-band) computed in ONE Expand pass
    instead of 2^d scans; house COUNT/SUM semantics per grouping set,
    grouping_id bit order pinned against DuckDB's GROUPING() (first dim
    = MSB). The value band floor(value/100) exercises a derived dim and
    a genuine '__nil' key (NULL value) alongside rolled-up NULLs."""
    from zx_spark.operators.olap import multidim_agg

    top = _bench_o1_v1(spark, sf_dir).select(
        F.lit("top").alias("part_kind"),
        F.col("g_event_type"),
        F.lit(None).cast("string").alias("g_vband"),
        F.lit(None).cast("long").alias("grouping_id"),
        F.col("mean__value"),
        F.lit(None).cast("double").alias("count__value"),
        F.lit(None).cast("double").alias("sum__value"),
    )
    ev = _events(spark, sf_dir).withColumn(
        "vband", F.floor(F.col("value") / F.lit(100.0))
    )
    cube = multidim_agg(
        ev,
        ["event_type", "vband"],
        [Select("value", Aggregate.COUNT), Select("value", Aggregate.SUM)],
        rate_col=None,
        empty_sentinels=False,
    ).select(
        F.lit("cube").alias("part_kind"),
        F.col("g_event_type"),
        F.col("g_vband"),
        F.col("grouping_id").cast("long").alias("grouping_id"),
        F.lit(None).cast("double").alias("mean__value"),
        F.col("count__value"),
        F.round(F.col("sum__value"), 3).alias("sum__value"),
    )
    return top.unionByName(cube)


def q_q2_sql_zx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zx_spark.sqlshim import zx_sql

    out = zx_sql(
        spark,
        "select count(value), sum(value) where value > 50 group by event_type granularity 86400",
        df=_events(spark, sf_dir),
        id_col="event_id",
        rate_col=None,
    )
    return _round(_floor_windows(out), {"sum__value": 3})


def q_q2_sql_raw_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zx_spark.sqlshim import zx_sql

    return zx_sql(
        spark,
        "select event_id, event_type, value where value > 480",
        df=_events(spark, sf_dir),
        id_col="event_id",
        rate_col=None,
    )


# ------------------------------------------- Spark-SQL passthrough (joins+)
# One SQL string per query, valid in BOTH Spark SQL and DuckDB — the oracle
# is the identical text.

PASSTHROUGH_SQL = {
    "sql_tpch_q1_pricing": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 3) AS sum_qty, "
        "round(sum(l_extendedprice), 1) AS sum_base, "
        "round(sum(l_extendedprice * (1 - l_discount)), 1) AS sum_disc_price, "
        "round(avg(l_quantity), 6) AS avg_qty, count(*) AS n "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    "sql_tpch_q3_segment_revenue": (
        "SELECT o_orderpriority, round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue, "
        "count(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00' "
        "GROUP BY o_orderpriority"
    ),
    # Written in the NATURAL dim-first order on purpose (r12): with
    # register_views backing every view with an ANALYZEd catalog table
    # and spark.sql.cbo.(joinReorder.)enabled, CostBasedJoinReorder
    # compiles this text to the reduced-side-first physical plan — the
    # engine owns the join order now, not the FROM clause. History: r11
    # measured the stats-LESS dim-first form chaining broadcasts onto a
    # ONE-partition streamed side with a 768 MiB orders build (8.3x
    # growth for 100x data, SCALE.md r11) and hand-rewrote the text
    # fact-first; r12 moved that lesson into the engine (SCALE.md r12:
    # dim-first 18.2 s -> 4.0 s at sf10, == the fact-first rewrite's
    # 4.1 s, identical values; plan-asserted in tests/test_cbo.py).
    # DuckDB reorders joins from stats either way, so the oracle is
    # indifferent to the form.
    "sql_tpch_q5_region_revenue": (
        "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "JOIN customer ON c_nationkey = n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey "
        "WHERE r_name = 'ASIA' "
        "GROUP BY n_name"
    ),
    "sql_tpch_q6_forecast": (
        "SELECT round(sum(l_extendedprice * l_discount), 1) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
    ),
    "sql_setop_intersect": (
        "SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000 "
        "INTERSECT "
        "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 30000"
    ),
    "sql_window_first_order": (
        "SELECT o_custkey, o_orderkey AS first_order FROM ("
        "SELECT o_custkey, o_orderkey, row_number() OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn FROM orders"
        ") t WHERE rn = 1"
    ),
    "sql_join_agg_broadcast": (
        "SELECT n_name, round(sum(c_acctbal), 3) AS total_bal, count(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
    ),
}


def _passthrough(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


# ------------------------------------------------------ LLM-pipeline queries

ANN_QUERY_VEC = [1.0] + [0.0] * 63  # fixed basis query — deterministic across sf


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two arms (merged r5 — registry capped at 50):

    - ``exact``: exact_dedup_groups content-hash groups (key =
      content_hash, keep_id pins the kept set, dup_count the group
      size);
    - ``diff``: diff_snapshots (operators/diffs.py) between documents
      and an in-query second version — ids % 97 dropped (removed),
      % 89 rewritten (changed), % 101 re-added under key+1000000
      (added) — one row per differing key, so the oracle pins exact
      membership per status, not just counts."""
    from zx_spark.operators.dedup import exact_dedup_groups
    from zx_spark.operators.diffs import diff_snapshots

    docs = _docs(spark, sf_dir)
    exact = exact_dedup_groups(docs, "text", "doc_id").select(
        F.lit("exact").alias("part_kind"),
        F.col("content_hash").alias("key"),
        "keep_id",
        "dup_count",
    )
    old = docs.select("doc_id", "text")
    base = old.filter((F.col("doc_id") % 97) != 0).withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 89) == 0, F.concat(F.lit("edited:"), F.col("text"))
        ).otherwise(F.col("text")),
    )
    added = old.filter((F.col("doc_id") % 101) == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("added doc "), (F.col("doc_id") + 1000000).cast("string")
        ).alias("text"),
    )
    v2 = base.unionByName(added)
    diff = diff_snapshots(old, v2, "doc_id").select(
        F.lit("diff").alias("part_kind"),
        F.col("diff_status").alias("key"),
        F.col("doc_id").alias("keep_id"),
        F.lit(1).cast("long").alias("dup_count"),
    )

    # ------- psi arm (r6): distribution drift between the versions ----
    # operators/datadrift.py PSI of the SAME two snapshots the diff arm
    # compares: text length (numeric, base-quantile bins) and the first
    # whitespace token (categorical, base top-5 + __other). The edits
    # ('edited:' prefixes, removals, synthetic adds) shift both
    # distributions; psi lands as 1e-6 fixed point in keep_id, n_cur in
    # dup_count. The oracle re-derives edges, categories, bin counts and
    # the eps-floored fold from raw parquet.
    from zx_spark.operators.datadrift import (
        categorical_psi,
        numeric_psi,
        quantile_edges,
        top_categories,
    )

    b_len = old.select(F.length("text").cast("double").alias("tlen"))
    c_len = v2.select(F.length("text").cast("double").alias("tlen"))
    # explicit whitespace class: Java's \s includes \x0B, RE2's does not
    # — pin the same characters in both engines
    _ws = "[ \\t\\n\\r\\f]+"
    b_tok = old.select(F.split(F.col("text"), _ws).getItem(0).alias("tok1"))
    c_tok = v2.select(F.split(F.col("text"), _ws).getItem(0).alias("tok1"))
    # r15 (§2.6 overlap-independent-jobs, the drift_report pattern): the
    # two base-side MODEL jobs the psi arm pays eagerly at build time —
    # quantile edges and top categories — are independent scans of the
    # same snapshot; submitting both before blocking overlaps their
    # scheduling tails (the values passed to *_psi are exactly what each
    # would have computed itself, so psi rows are value-identical).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as _pool:
        _f_edges = _pool.submit(quantile_edges, b_len, "tlen", 10)
        _f_cats = _pool.submit(top_categories, b_tok, "tok1", 5)
        _edges, _cats = _f_edges.result(), _f_cats.result()
    psi_rows = (
        numeric_psi(b_len, c_len, "tlen", bins=10, edges=_edges)
        .unionByName(
            categorical_psi(b_tok, c_tok, "tok1", top_k=5, categories=_cats)
        )
        .select(
            F.lit("psi").alias("part_kind"),
            F.concat(F.col("column"), F.lit(":"), F.col("kind")).alias("key"),
            F.round(F.col("psi") * 1e6).cast("long").alias("keep_id"),
            F.col("n_cur").cast("long").alias("dup_count"),
        )
    )
    return exact.unionByName(diff).unionByName(psi_rows)


# Mix-arm rates for sampling_suite, shared by Spark and the oracle:
# upsample / downsample / unity over three driver sources.
MIX_RATES = {"src0": 2.3, "src1": 0.4, "src2": 1.0}


def _sampling_suite_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three deterministic-sampling operators in one driver row
    (registry is capped at 50; dedup_exact_kept was folded into
    dedup_exact_groups, whose keep_id column already pins the kept set):

    - ``split`` arm: hash_sample(rate=0.25) then train_test_split
      [0.8/0.1/0.1] composed the way a real pipeline runs them (sample →
      split, both map-side filters, no join), aggregated per split id.
    - ``strat`` arm: stratified_sample n=10 per source (binding: every
      source has 25 docs at sf0.01), aggregated per source.
    - ``mix`` arm: mix_by_rates data mixing over three sources — an
      epoch-style upsample (2.3: every doc twice + a 0.3 hash-sampled
      third copy), a downsample (0.4) and a keep-all (1.0), all other
      sources dropped (default_rate=0) — aggregated per
      (source, copy_no) so the oracle pins WHICH docs got WHICH copy
      counts.
    - ``budget`` arm: token_budget per source — the per-source token
      totals a mixing plan budgets against (functions/text.py). In this
      arm the ``id_sum`` column carries n_tokens (the row's checksum
      quantity), not a doc-id sum.

    The md5 bucket (sampling._bucket) makes every keep/drop decision
    reproducible in the DuckDB oracle value-for-value; id_sum checksums
    WHICH rows survived, not just how many."""
    from zx_spark.operators.sampling import (
        hash_sample,
        mix_by_rates,
        stratified_sample,
        train_test_split,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    split_agg = (
        train_test_split(
            hash_sample(ids, 0.25, "doc_id", seed=13), [0.8, 0.1, 0.1], "doc_id", seed=7
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("split").alias("part_kind"),
            F.col("split").cast("string").alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    strat_agg = (
        stratified_sample(
            _docs(spark, sf_dir).select("doc_id", "source"), ["source"], 10, "doc_id", seed=3
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("strat").alias("part_kind"),
            F.col("source").alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    mix_agg = (
        mix_by_rates(
            _docs(spark, sf_dir).select("doc_id", "source"),
            "source",
            MIX_RATES,
            "doc_id",
            seed=11,
            copy_col="copy_no",
        )
        .groupBy("source", "copy_no")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("mix").alias("part_kind"),
            F.concat_ws(":", F.col("source"), F.col("copy_no")).alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    from zx_spark.functions.text import token_budget

    budget_agg = token_budget(
        _docs(spark, sf_dir).select("source", "text"), group_col="source"
    ).select(
        F.lit("budget").alias("part_kind"),
        F.col("source").alias("part_key"),
        F.col("n_docs"),
        F.col("n_tokens").alias("id_sum"),
    )
    # wsamp arm: weighted_sample_n — 120 docs (24% of the sf0.01 corpus)
    # sampled WITHOUT replacement proportional to n_chars
    # (Efraimidis-Spirakis priority ln(u)/w over the md5 bucket),
    # aggregated per source; id_sum pins WHICH docs won.
    from zx_spark.operators.sampling import weighted_sample_n

    wsamp_agg = (
        weighted_sample_n(
            _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
            120, "n_chars", "doc_id", seed=17,
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("wsamp").alias("part_kind"),
            F.col("source").alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    # ------- pack arm (r6): sequence packing (operators/packing.py) ----
    # GPT-style concat packing of documents (len = n_chars, global order
    # = doc_id, 512-token windows): per-pack membership counts + id_sum
    # pin every document's pack assignment; the '__splits' row pins
    # exactly which documents cross a boundary. The oracle re-derives
    # the global running sum with a window cumsum.
    from zx_spark.operators.packing import pack_concat

    packed = pack_concat(
        _docs(spark, sf_dir).select("doc_id", F.col("n_chars").alias("n_tok")),
        "n_tok", "doc_id", "doc_id", target_len=512, n_parts=8,
    )
    pack_agg = (
        packed.groupBy("first_pack")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("pack").alias("part_kind"),
            F.col("first_pack").cast("string").alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    split_rows = (
        packed.filter(F.col("n_splits") > 0)
        .agg(F.count("*").alias("n_docs"), F.coalesce(F.sum("doc_id"), F.lit(0)).alias("id_sum"))
        .select(
            F.lit("pack").alias("part_kind"),
            F.lit("__splits").alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    return (
        split_agg.unionByName(strat_agg)
        .unionByName(mix_agg)
        .unionByName(budget_agg)
        .unionByName(wsamp_agg)
        .unionByName(pack_agg)
        .unionByName(split_rows)
    )


def q_sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v2 suite plus the r8 ``lss`` arm: leakage_safe_split
    (operators/sampling.py) — train/val split [0.8/0.2] keyed on the
    near-dup COMPONENT label (MinHash pairs at threshold 0.5 →
    dup_components min-label closure) so no duplicate chain straddles
    the boundary; singleton documents hash their own id, identical to
    the plain splitter. The oracle re-derives the full MinHash pipeline
    + a recursive transitive closure, then applies the same md5 bucket
    to coalesce(component, doc_id). id_sum pins WHICH docs landed on
    each side."""
    from zx_spark.operators.dedup import near_dup_pairs
    from zx_spark.operators.sampling import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = near_dup_pairs(docs, "text", "doc_id", threshold=0.5)
    lss_agg = (
        leakage_safe_split(
            docs.select("doc_id"), [0.8, 0.2], id_col="doc_id",
            pairs=pairs, seed=7,
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("lss").alias("part_kind"),
            F.col("split").cast("string").alias("part_key"),
            "n_docs",
            "id_sum",
        )
    )
    return _sampling_suite_v2(spark, sf_dir).unionByName(lss_agg)


def _bench_minhash_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r2-pinned shape: MinHash-LSH pairs only (the registry row
    grew the components arm in r6 — versioned-pin policy)."""
    from zx_spark.operators.dedup import near_dup_pairs

    return near_dup_pairs(_docs(spark, sf_dir), "text", "doc_id", threshold=0.5)


def _dedup_minhash_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, plus (r6) the connected-components
    arm: dup_components' min-label propagation over the pair graph,
    emitted as ``(doc_id, component, -1.0)`` tag rows. The oracle
    re-derives the components from ITS OWN pair set with a recursive
    transitive-closure CTE (min reachable id) — so the iterative Spark
    loop is hash-verified against a closed-form derivation, closing the
    former non-SQL carve-out."""
    from zx_spark.operators.dedup import dup_components, near_dup_pairs

    # localCheckpoint: dup_components' label-propagation rounds (and the
    # final union branch) would otherwise re-execute the full signing +
    # band-join pipeline from raw documents 4-6× — the suite's most
    # CPU-bound stage, and this is a benched row
    pairs = near_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold=0.5
    ).localCheckpoint()
    comp = dup_components(pairs).select(
        F.col("doc_id").alias("id_a"),
        F.col("component").alias("id_b"),
        F.lit(-1.0).alias("jaccard"),
    )
    return pairs.unionByName(comp)


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v2 arms plus the r8 ``inc`` arm: incremental_near_dups
    (dedup.py) — the production ingest shape, where the corpus splits
    into a signed HISTORY store (doc_id % 2 == 0) and a NEW batch
    (doc_id % 2 == 1); the batch bands against the stored signatures
    (new×old and new×new, never old×old) and survivors carry the
    signature-ESTIMATED Jaccard (fraction of agreeing minhashes — k/32,
    dyadic-exact, so cross-engine doubles are identical). Encoded into
    the row schema as (id_a=new_id, id_b=matched_id, jaccard=est+2.0
    for in-batch pairs / est+4.0 for vs-history matches — est ∈ [0,1],
    so the offsets are unambiguous tags and exact in binary. The
    oracle re-derives both halves' signatures from the SAME sig CTE
    and replays the band join + estimator.

    Signing — the CPU-dominant stage — runs ONCE: the persisted
    ``signature_table`` frame feeds BOTH the pairs/components arms
    (``near_dup_pairs(signatures=...)``) and the incremental split
    (r8 review: the first cut signed the corpus twice in one benched
    row). Same values; ``_dedup_minhash_v2`` stays the frozen v2 pin
    shape with its own signing."""
    from zx_spark.operators.dedup import (
        dup_components,
        incremental_near_dups,
        near_dup_pairs,
        signature_table,
    )

    docs = _docs(spark, sf_dir)
    # persist (not localCheckpoint): bench.py clearCache()s between
    # timed queries, which reclaims this cache — a localCheckpoint's
    # RDD blocks would survive clearCache and squat on executor memory
    # for the rest of a bench run
    sigs = signature_table(
        docs, "text", "doc_id", num_hashes=32, shingle_n=3
    ).persist()
    pairs = near_dup_pairs(
        docs, "text", "doc_id", threshold=0.5, signatures=sigs
    ).localCheckpoint()
    comp = dup_components(pairs).select(
        F.col("doc_id").alias("id_a"),
        F.col("component").alias("id_b"),
        F.lit(-1.0).alias("jaccard"),
    )
    old = sigs.filter(F.col("doc_id") % 2 == 0)
    new = sigs.filter(F.col("doc_id") % 2 == 1)
    inc = incremental_near_dups(
        new, old, id_col="doc_id", num_hashes=32, bands=8, threshold=0.5
    ).select(
        F.col("new_id").alias("id_a"),
        F.col("matched_id").alias("id_b"),
        (
            F.col("est_jaccard")
            + F.when(F.col("is_historical"), F.lit(4.0)).otherwise(F.lit(2.0))
        ).alias("jaccard"),
    )
    return pairs.unionByName(comp).unionByName(inc)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zx_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_docs(spark, sf_dir), "text", "doc_id", max_hamming=3)


def q_jaccard_wordset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs, candidate-limited to (source,
    length-bucket, minhash-band) equality — the SQL-expressible cousin of
    the MinHash path. The log2 length bucket keeps only similarly-sized
    docs together (a ≥2× size gap can't reach Jaccard 0.6 anyway), and the
    single md5-derived minhash band (min token hash, agreement probability
    = the Jaccard itself, ≥0.6 for qualifying pairs, 1.0 for exact dups)
    collapses the former within-bucket quadratic to near-linear: at 100 TB
    a bucket is no longer "all ~1k-token docs from one crawl source" but
    only those sharing a rarest-hash token. Both keys are deterministic
    candidate-generation tradeoffs, IDENTICAL in the DuckDB oracle — a
    qualifying pair can be missed (bucket edge, band disagreement), never
    wrongly emitted. The recall-exact path is dedup_minhash_pairs.

    fuzzy arm (r6): edit_distance_join (PassJoin pigeonhole blocking,
    operators/joins.py) between the DISTINCT part-name dictionary
    (id = min partkey per name; the driver's part table repeats few
    names, so raw rows would only multiply identical pairs) and a
    deterministically corrupted copy (one char deleted at an md5-derived
    position, id offset +1_000_000). The blocking is EXACT-recall, so
    the oracle is the brute-force levenshtein nested loop — rows tagged
    as jaccard = -100.0 - distance (disjoint from the real [0,1] range)."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    from zx_spark.operators.dedup import _simhash_token_hash

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        toks.alias("tokset"),
    ).withColumn(
        "len_bucket",
        F.floor(F.log2(F.greatest(F.size("tokset"), F.lit(2)).cast("double"))).cast("long"),
    ).withColumn(
        "band",
        # same 60-bit md5 token hash as SimHash/fingerprints — ONE house
        # implementation, one DuckDB twin. Explicit lambda: F.transform
        # would otherwise feed the element INDEX into the helper's
        # optional second (hash-method) parameter.
        F.array_min(F.transform(F.col("tokset"), lambda t: _simhash_token_hash(t))),
    )
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tokset"), F.col("b.tokset"))).cast("double")
    union = F.size(F.array_union(F.col("a.tokset"), F.col("b.tokset"))).cast("double")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.source") == F.col("b.source"),
                F.col("a.len_bucket") == F.col("b.len_bucket"),
                F.col("a.band") == F.col("b.band"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.6)
    )

    from zx_spark.operators.joins import edit_distance_join

    # Entity-resolution shape: match the DISTINCT name dictionary (the
    # driver's part table repeats few names thousands of times — joining
    # raw rows would just multiply identical string pairs quadratically).
    names = (
        read_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").cast("long").alias("nid"))
    )
    # Deterministic single-char deletion at an md5-derived position —
    # same 60-bit hex-prefix hash family as the band key above.
    pos = (
        F.conv(F.substring(F.md5(F.col("nid").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % F.length("p_name")
    ).cast("int")
    corrupted = names.select(
        (F.col("nid") + 1000000).alias("cid"),
        F.concat(
            F.substring(F.col("p_name"), F.lit(1), pos),
            F.substring(F.col("p_name"), pos + 2, F.length("p_name")),
        ).alias("cname"),
    )
    fuzzy = edit_distance_join(
        names, corrupted, "p_name", "cname", "nid", "cid", max_dist=1
    ).select(
        F.col("nid").alias("id_a"),
        F.col("cid").cast("long").alias("id_b"),
        (F.lit(-100.0) - F.col("distance")).alias("jaccard"),
    )
    return pairs.unionByName(fuzzy)


def q_ann_cosine_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zx_spark.operators.similarity import cosine

    sim = cosine(F.col("embedding").cast("array<double>"),
                 F.array(*[F.lit(v) for v in ANN_QUERY_VEC]))
    return (
        _emb(spark, sf_dir)
        .select("vec_id", F.round(sim, 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.25)
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zx_spark.operators.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), ANN_QUERY_VEC, k=10)


def q_ann_cosine_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k + threshold scan + int8-quantized top-k +
    PCA-reduced top-k as one four-arm driver row (identical column
    shapes; merged to free
    registry slots under the 50-query cap). The pure top-k callable stays
    in BENCH_COMPAT so headline timings remain comparable with the pinned
    baseline.

    The ``int8`` arm drives quantize_embeddings (similarity.py) end to
    end: per-vector symmetric quantization ``round(v / (max|v|/127))`` to
    tinyint, then exact top-k over the QUANTIZED arrays — the 4-8×
    scan-byte reduction path for a 100 TB vector store. The encode is
    pure SQL (the oracle reproduces it), and because the squared int
    sums are exact in doubles there is no fp-order hazard at all.

    The ``pca`` arm drives the PCA reduction (operators/reduce.py) end
    to end: fit on the corpus via EXACT integer moments (order-free —
    no rounding discipline needed at all), project corpus AND query to
    out_dim=16, top-k in the reduced space. The oracle re-derives the
    identical model with pca_fit_numpy from raw parquet and replays the
    bigint projection + cosine in SQL."""
    from zx_spark.operators.reduce import pca_fit, pca_topk
    from zx_spark.operators.similarity import cosine_topk, quantize_embeddings

    topk = q_ann_topk(spark, sf_dir).select(
        F.lit("topk").alias("arm"), "vec_id", "cosine"
    )
    thr = q_ann_cosine_threshold(spark, sf_dir).select(
        F.lit("threshold").alias("arm"), "vec_id", "cosine"
    )
    emb = _emb(spark, sf_dir)
    q8 = quantize_embeddings(emb).select(
        "vec_id", F.col("q_embedding").alias("embedding")
    )
    int8 = cosine_topk(q8, ANN_QUERY_VEC, k=10).select(
        F.lit("int8").alias("arm"), "vec_id", "cosine"
    )
    model = pca_fit(emb, out_dim=16, dim=64)
    pca = pca_topk(emb, model, ANN_QUERY_VEC, k=10).select(
        F.lit("pca").alias("arm"), "vec_id", "cosine"
    )
    return topk.unionByName(thr).unionByName(int8).unionByName(pca)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ ANN suite as one multi-arm driver row (ivf / pq_adc /
    ivfpq / ivfb_q* / pqb_q* / sivf / ivf2 / ivfh / dist / dsb_q* /
    dsl_q*), all over
    deterministic engine-reproducible quantizers (every communicated
    center rounded to 6 dp, so numpy twins re-derive them bit-identically
    from the raw parquet and the DuckDB oracle embeds them as literals):

    - ``ivf``    — Lloyd IVF coarse quantizer, nprobe cell pruning, exact
      in-cell cosine top-k (hash-verified since r4).
    - ``pq_adc`` — product quantization: per-subspace argmin codes
      (pq_encode, pure Catalyst) scored by ADC table lookups (pq_topk);
      the oracle recomputes codes + the same left-associated table sum.
    - ``ivfpq``  — the production composition (ivfpq_topk): probe nprobe
      cells, ADC-shortlist 50 within them, exact-cosine re-rank pruned to
      the probed cells.

    The Spark-ML-KMeans variant (ivf_build) remains the library
    alternative, pinned by tests."""
    from zx_spark.operators.similarity import (
        ivf_build_lloyd,
        ivf_topk,
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = _emb(spark, sf_dir)
    assigned, centers = ivf_build_lloyd(emb, n_cells=8, iters=5, dim=64)
    ivf = ivf_topk(assigned, centers, ANN_QUERY_VEC, k=10, nprobe=4).select(
        F.lit("ivf").alias("arm"), "vec_id", F.col("cosine").alias("score")
    )
    books = pq_train(emb, m=8, k=16, iters=3, dim=64)
    codes = pq_encode(assigned, books, keep_cols=["ivf_cell"])
    adc = pq_topk(codes, books, ANN_QUERY_VEC, k_results=10).select(
        F.lit("pq_adc").alias("arm"), "vec_id", F.col("adc_score").alias("score")
    )
    ivfpq = ivfpq_topk(
        codes,
        assigned,
        centers,
        books,
        ANN_QUERY_VEC,
        k_results=10,
        nprobe=4,
        shortlist=50,
        vectors_cell_col="ivf_cell",
    ).select(F.lit("ivfpq").alias("arm"), "vec_id", F.col("cosine").alias("score"))
    # batch-serving arms (r5 session 3): ivf_topk_batch answers BOTH
    # basis queries in one union-pruned scan; per-query rows must equal
    # the single-query path — the oracle reruns each query's probe set
    # (same driver-side probe_cells over the twin-derived centers)
    from zx_spark.operators.similarity import ivf_topk_batch

    e2 = [0.0, 1.0] + [0.0] * 62
    batch = ivf_topk_batch(
        assigned, centers, [ANN_QUERY_VEC, e2], k=10, nprobe=4
    ).select(
        F.concat(F.lit("ivfb_q"), F.col("query_no").cast("string")).alias("arm"),
        "vec_id",
        F.col("cosine").alias("score"),
    )
    # pqb arms (r7): batch ADC serving — all Q query tables ride ONE
    # Arrow pass over the m-byte codes; per-query rows must equal the
    # single-query pq_topk (the oracle replays each query's literal
    # table with the same left-associated subspace sum)
    from zx_spark.operators.similarity import pq_topk_batch

    pqb = pq_topk_batch(
        codes, books, [ANN_QUERY_VEC, e2], k_results=10
    ).select(
        F.concat(F.lit("pqb_q"), F.col("query_no").cast("string")).alias("arm"),
        "vec_id",
        F.col("adc_score").alias("score"),
    )
    # sivf arm (r7): the streaming vector-index sink, DRAINED — the last
    # streaming subsystem without a driver arm. Two staged files →
    # maxFilesPerTrigger=1 gives two epochs through vector_index_sink's
    # foreachBatch (epoch-keyed overwrite = replay idempotency); serving
    # ivf_topk from read_vector_index's deduped store must reproduce the
    # batch ivf arm ROW FOR ROW (same literal centers, same probe set,
    # same 6-dp cosine) — which is exactly what the oracle re-derives.
    import tempfile

    from zx_spark.streaming.vectors import read_vector_index, vector_index_sink

    tmp = tempfile.mkdtemp(prefix="zx_vec_stream_")
    src, store, cp = f"{tmp}/src", f"{tmp}/store", f"{tmp}/cp"
    half = emb.select("vec_id", "embedding")
    half.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    half.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_in = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    lit_centers = [[float(x) for x in c] for c in centers]
    if not vector_index_sink(
        stream_in, store, lit_centers, checkpoint_dir=cp, available_now=True
    ).awaitTermination(180):
        # a partial drain would serve an incomplete store and produce a
        # confusing hash mismatch (and rmtree below would pull staging
        # out from under a live stream) — fail loudly instead
        raise RuntimeError("sivf arm: availableNow drain did not finish in 180s")
    # materialize the tiny top-k (k=10 rows) EAGERLY so the staging /
    # store / checkpoint dirs can be removed before returning the lazy
    # union (same hygiene as the scms arm)
    sivf_schema = "arm string, vec_id long, score double"
    sivf_rows = ivf_topk(
        read_vector_index(spark, store), centers, ANN_QUERY_VEC, k=10, nprobe=4
    ).select(
        F.lit("sivf").alias("arm"), "vec_id", F.col("cosine").alias("score")
    ).collect()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    sivf = spark.createDataFrame(sivf_rows, sivf_schema)
    # ivf2 arm (r9): serving THROUGH the two-level quantizer. The super
    # level derives from the same Lloyd centers (ivf2_from_centers —
    # deterministic numpy tail, so the oracle re-derives it from the
    # twin centers); assignment runs ivf2_assign at p_super = n_super
    # (≡ the flat argmin, so the oracle's assignment CTE holds exactly);
    # serving probes with a PARTIAL p_super=2 through the hierarchical
    # (super, cell) annotation — the genuinely two-level probe list the
    # oracle re-selects with probe_cells_2level and embeds as literals.
    from zx_spark.operators.similarity import (
        ivf2_assign,
        ivf2_from_centers,
        with_super_col,
    )

    sup, kids = ivf2_from_centers(centers, n_super=3)
    store2 = with_super_col(
        ivf2_assign(emb, centers, sup, kids, p_super=len(sup)),
        kids,
        len(centers),
    )
    ivf2 = ivf_topk(
        store2,
        centers,
        ANN_QUERY_VEC,
        k=10,
        nprobe=4,
        supers=sup,
        children=kids,
        p_super=2,
        super_col="ivf_super",
    ).select(
        F.lit("ivf2").alias("arm"), "vec_id", F.col("cosine").alias("score")
    )
    # ivfh arm (r10): the HIERARCHICAL sampled fit served end-to-end —
    # ivf2_fit_sampled(fit="hier") with sample_n ≥ corpus collects the
    # whole frame in (md5(id), id) order and fits supers-then-children
    # (never a sample×n_cells matrix; similarity.py ivf2_fit_hier). The
    # oracle replays ivf2_fit_hier on the SAME md5-ordered rows from
    # the raw parquet (input order matters to the per-cell float means,
    # so the twin sorts identically). Assignment at p_super = n_super ≡
    # the flat argmin over the hier centers (CTE `ah`); serving probes
    # PARTIAL p_super=2 through the (super, cell) store annotation.
    from zx_spark.operators.similarity import ivf2_fit_sampled

    hcent, hsup, hkids, _hsid = ivf2_fit_sampled(
        emb, sample_n=1 << 20, n_cells=8, fit="hier", rebalance=False
    )
    hstore = with_super_col(
        ivf2_assign(emb, hcent, hsup, hkids, p_super=len(hsup)),
        hkids,
        len(hcent),
    )
    ivfh = ivf_topk(
        hstore,
        hcent,
        ANN_QUERY_VEC,
        k=10,
        nprobe=4,
        supers=hsup,
        children=hkids,
        p_super=2,
        super_col="ivf_super",
    ).select(
        F.lit("ivfh").alias("arm"), "vec_id", F.col("cosine").alias("score")
    )
    # dist arm (r11): the DISTRIBUTED fit rung served end-to-end —
    # ivf2_fit_dist fits supers driver-side on the md5 sample, children
    # in parallel on executors over the FULL corpus (one persisted
    # assignment scan), exact n_cells via full-count apportionment,
    # ascending-id block fit order. The oracle replays the whole recipe
    # with ivf2_fit_dist_numpy (test-pinned ≡ the Spark fit) on the
    # same parquet. Assignment at p_super = n_super ≡ the flat argmin
    # (CTE `ad`); serving probes PARTIAL p_super=2 through the
    # (super, cell) store annotation, like the ivfh arm.
    from zx_spark.operators.similarity import ivf2_fit_dist

    dcent, dsup, dkids = ivf2_fit_dist(
        emb, n_cells=8, super_sample_n=1 << 20, engine="catalyst"
    )
    dstore = with_super_col(
        ivf2_assign(emb, dcent, dsup, dkids, p_super=len(dsup)),
        dkids,
        len(dcent),
    )
    dist = ivf_topk(
        dstore,
        dcent,
        ANN_QUERY_VEC,
        k=10,
        nprobe=4,
        supers=dsup,
        children=dkids,
        p_super=2,
        super_col="ivf_super",
    ).select(
        F.lit("dist").alias("arm"), "vec_id", F.col("cosine").alias("score")
    )
    # dsb arms (r13): DIRECT-PATH store serving — the (super, cell)
    # store written by write_ivf_store, served by ivf_topk_batch_store
    # (reads ONLY the probed cells' directories; SCALE.md r13) with the
    # PARTIAL p_super=2 two-level probe. Values must equal the in-memory
    # batch path over the same model/queries — which is exactly what the
    # oracle re-derives (flat-argmin assignment CTE + literal two-level
    # probe lists per query). Collected eagerly so the tmp store can be
    # removed before returning the lazy union (the sivf-arm hygiene).
    from zx_spark.operators.similarity import ivf_topk_batch_store, write_ivf_store

    tmp2 = tempfile.mkdtemp(prefix="zx_ivf_store_")
    write_ivf_store(store2, f"{tmp2}/store", super_col="ivf_super")
    dsb_rows = ivf_topk_batch_store(
        spark,
        f"{tmp2}/store",
        centers,
        [ANN_QUERY_VEC, e2],
        k=10,
        nprobe=4,
        supers=sup,
        children=kids,
        p_super=2,
    ).select(
        F.concat(F.lit("dsb_q"), F.col("query_no").cast("string")).alias("arm"),
        "vec_id",
        F.col("cosine").alias("score"),
    ).collect()
    shutil.rmtree(tmp2, ignore_errors=True)
    dsb = spark.createDataFrame(dsb_rows, sivf_schema)
    # dsl arms (r14): the store INGEST LIFECYCLE served — the same
    # (super, cell) store built as seed write + ivf_store_append of the
    # held-out rows (incremental manifest, epoch-marked) +
    # ivf_store_compact back to one file per cell, then served through
    # the identical direct path. The store CONTENT equals the dsb arm's,
    # so the oracle twin is the same flat-argmin assignment + literal
    # probe lists with the dsl arm tags — hash equality proves the
    # append/compact round-trip changed nothing a probe can see.
    from zx_spark.operators.similarity import ivf_store_append, ivf_store_compact

    tmp3 = tempfile.mkdtemp(prefix="zx_ivf_life_")
    write_ivf_store(
        store2.filter(F.col("vec_id") % 7 != 0),
        f"{tmp3}/store",
        super_col="ivf_super",
        centers=centers,
    )
    ivf_store_append(
        store2.filter(F.col("vec_id") % 7 == 0),
        f"{tmp3}/store",
        super_col="ivf_super",
        centers=centers,
        epoch_id=0,
    )
    ivf_store_compact(spark, f"{tmp3}/store", max_files_per_cell=1)
    dsl_rows = ivf_topk_batch_store(
        spark,
        f"{tmp3}/store",
        centers,
        [ANN_QUERY_VEC, e2],
        k=10,
        nprobe=4,
        supers=sup,
        children=kids,
        p_super=2,
    ).select(
        F.concat(F.lit("dsl_q"), F.col("query_no").cast("string")).alias("arm"),
        "vec_id",
        F.col("cosine").alias("score"),
    ).collect()
    shutil.rmtree(tmp3, ignore_errors=True)
    dsl = spark.createDataFrame(dsl_rows, sivf_schema)
    return (
        ivf.unionByName(adc).unionByName(ivfpq).unionByName(batch)
        .unionByName(pqb).unionByName(sivf).unionByName(ivf2)
        .unionByName(ivfh).unionByName(dist).unionByName(dsb)
        .unionByName(dsl)
    )


def q_emb_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup suite, self-seeded: the driver's random-ish
    embeddings contain no cosine-0.9 pairs, so union each vector with a
    deterministically perturbed copy (vec_id + 1_000_000). Four arms:

    - ``rp_lsh``   — RP-LSH bucket join + exact-cosine verify finds the
      planted near-pairs (cosine ≈ 0.998); recall asserted in
      tests/test_llm_pipeline.py.
    - ``sem_pair`` — SemDeDup-style within-cluster pairs (semdedup.py):
      deterministic Lloyd cells bound the self-join; the oracle re-derives
      the 6-dp-rounded centers with the numpy twin and embeds them as
      literals (the same construction ann_ivf_topk hash-verifies).
    - ``sem_drop`` — the SemDeDup drop set (each pair's loser: higher
      (centroid_cos, id)); id_b/score are NULL on this arm.
    - ``sctm`` (r9) — semantic_contamination of the corpus against a
      64-twin quantized eval set (jvm engine; numpy ≡ jvm test-pinned).
    """
    from zx_spark.operators.semdedup import (
        semantic_dedup_fit,
        semantic_dropped_ids,
        semantic_pairs,
    )
    from zx_spark.operators.similarity import rp_lsh_near_pairs

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.lit(0.01) * (F.pmod(i, F.lit(5)).cast("double") - F.lit(2.0)) / F.lit(2.0),
        ).alias("embedding"),
    )
    allv = emb.unionByName(planted)
    lsh = rp_lsh_near_pairs(allv, dim=64, threshold=0.9).select(
        F.lit("rp_lsh").alias("arm"), "id_a", "id_b", F.col("cosine").alias("score")
    )
    annotated, centers = semantic_dedup_fit(allv, n_cells=8, iters=5, dim=64)
    sp = semantic_pairs(annotated, threshold=0.95)
    sem = sp.select(
        F.lit("sem_pair").alias("arm"), "id_a", "id_b", F.col("cosine").alias("score")
    )
    drop = semantic_dropped_ids(sp).select(
        F.lit("sem_drop").alias("arm"),
        F.col("vec_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("score"),
    )
    # knn arm (r5 session 3): the k-NN GRAPH over the same Lloyd cells —
    # per-row JVM probe list (2 nearest cells), cell equi-join, top-2
    # neighbors per vector; the oracle replays the probe sort (same
    # no-|v|² distance expression), join and window over the twin-derived
    # literal centers.
    from zx_spark.operators.similarity import knn_pairs

    knn_raw = knn_pairs(annotated, centers, k=2, nprobe=2)
    knn = knn_raw.select(
        F.lit("knn").alias("arm"),
        F.col("vec_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.col("cosine").alias("score"),
    )
    # pr arm (r7): PageRank centrality over the SAME k-NN digraph
    # (operators/graph.py) — 5 damped power iterations, two shuffles
    # each; every vector is a query so the graph has no dangling nodes
    # and the operator's one-time anti-join check skips the dangling
    # machinery. The oracle re-runs the identical iteration as five
    # unrolled MATERIALIZED CTE steps over the kn edge list (same
    # base + d*sum(r/od) association, so values agree to fp noise,
    # rounded 6dp on both sides).
    from zx_spark.operators.graph import pagerank

    pr = pagerank(
        knn_raw.select(
            F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
        ),
        iters=5,
    ).select(
        F.lit("pr").alias("arm"),
        F.col("node").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.round("rank", 6).alias("score"),
    )
    # tri arm (r7 s2): per-node triangle counts over the SAME k-NN
    # graph treated undirected (operators/graph.py triangle_counts —
    # degree-ordered wedge closure, all hash equi-joins). Counts are
    # exact integers, so the score column is hash-safe with no
    # rounding concerns; the oracle re-counts with a canonical 3-way
    # self-join. Only nodes in ≥1 triangle are emitted (score > 0) to
    # keep the arm row count ∝ clique structure, not corpus size.
    from zx_spark.operators.graph import triangle_counts

    tri = (
        triangle_counts(
            knn_raw.select(
                F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
            )
        )
        .filter(F.col("triangles") > 0)
        .select(
            F.lit("tri").alias("arm"),
            F.col("node").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.col("triangles").cast("double").alias("score"),
        )
    )
    # sctm arm (r9): semantic contamination — the last in-test-only
    # analytic operator gets its driver-oracle arm. Eval set = the
    # first 64 planted twins QUANTIZED to the 1/64 grid, so the
    # benchmark normalization the operator does in numpy (pairwise
    # sums) is bit-reproducible in DuckDB (every square is m²/4096 and
    # the 64-term sum is exact in ANY order — the a_weighted 1/64ths
    # discipline); the corpus stays the untouched originals, whose
    # normalization runs in-engine on BOTH sides (sequential-fold
    # parity, the same contract the rp_lsh cosines rely on).
    # method="jvm" is the ANSI-reproducible engine; numpy ≡ jvm is
    # test-pinned, so the production Arrow path is covered
    # transitively. Each contaminated row's nearest bench id is its
    # own twin (quantized planted cosine ≈ 0.997 vs ~0 random).
    from zx_spark.operators.decontaminate import semantic_contamination

    bench = planted.filter(F.col("vec_id") < 1_000_064).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x * F.lit(64.0)) / F.lit(64.0)
        ).alias("embedding"),
    )
    sctm = semantic_contamination(
        emb, bench, threshold=0.9, method="jvm"
    ).select(
        F.lit("sctm").alias("arm"),
        F.col("vec_id").alias("id_a"),
        F.col("nearest_bench_id").alias("id_b"),
        F.col("max_cosine").alias("score"),
    )
    return (
        lsh.unionByName(sem).unionByName(drop).unionByName(knn)
        .unionByName(pr).unionByName(tri).unionByName(sctm)
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text statistics + document chunking, one row per doc.
    The chunk columns pin chunk_documents (functions/text.py) value-for-
    value: n_chunks, total chunk tokens, and a 60-bit-md5 checksum over
    every chunk's TEXT — the oracle re-derives the same windows (64
    tokens, 16 overlap) in SQL, so boundaries, overlap and remainder
    handling are all hash-verified, not just counted."""
    from zx_spark.functions.text import bpe_ish_token_count, chunk_documents

    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    # hashed_embedding checksum: Σ round(x·1e6) over the 32-dim hashed
    # text vector — counts are exact ints and the one normalization
    # division is the same IEEE op in both engines, so the HALF_UP micro
    # checksum pins bucketing, sign hash and L2 normalization exactly.
    # DataFrame form = projection boundaries (the inline Column form
    # re-derives the hash array per count fold; measured ~5×).
    from zx_spark.functions.text import with_hashed_embedding

    hsum = F.aggregate(
        F.transform(
            F.col("hashed_emb"), lambda x: F.round(x * 1_000_000).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # normalization arm: the corpus is ASCII, so decomposed sequences,
    # a control char and whitespace runs are PLANTED on doc_id % 31
    # ("Cafe"+U+0301 composes to é, "NAIVE"+U+0308 to Ë, BEL is
    # stripped, tab + double space squash) — normalize_text ∘
    # nfc_normalized is then md5-pinned, verifying compose + lower +
    # control-strip + squash ordering against DuckDB's nfc_normalize.
    from zx_spark.functions.text import nfc_normalized, normalize_text

    planted_norm = F.when(
        (F.col("doc_id") % 31) == 0,
        F.concat(
            F.lit("Cafe\u0301 \u0007 NAIVE\u0308\tX  "),
            F.col("text"),
        ),
    ).otherwise(F.col("text"))
    # dsir arm (r6 s3): DSIR importance weight (functions/dsir.py) with
    # the model trained IN the query — target = the corpus's own
    # lang='en' slice, raw = everything; the oracle re-trains from raw
    # parquet via the Python twin (_dsir_score_sql), no echo.
    from zx_spark.functions.dsir import dsir_log_weight, dsir_train

    # target_filter (r14 opt): one hashing pass + one shuffle trains
    # both distributions — identical counts to the two-frame form
    dsir_model = dsir_train(
        _docs(spark, sf_dir),
        target_filter=F.col("lang") == "en",
        n_buckets=256,
        alpha=0.1,
    )
    stats = with_hashed_embedding(_docs(spark, sf_dir), dim=32).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        hsum.alias("hemb_checksum"),
        F.md5(normalize_text(nfc_normalized(planted_norm))).alias("norm_md5"),
        dsir_log_weight(F.col("text"), dsir_model).alias("dsir_logw"),
    )
    ch = chunk_documents(
        _docs(spark, sf_dir).select("doc_id", "text"),
        chunk_tokens=64,
        overlap_tokens=16,
    )
    chk = F.conv(F.substring(F.md5(F.col("chunk_text")), 1, 15), 16, 10).cast("long")
    agg = ch.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").alias("chunk_tokens"),
        F.sum(chk).alias("chunk_md5_sum"),
    )
    # line-level boilerplate scrub (decontaminate.scrub_repeated_lines)
    # over DETERMINISTICALLY PLANTED boilerplate lines — the synthetic
    # corpus is single-line with no repeated lines, which would make the
    # arm vacuous (same planted-construction trick as text_pii_redact):
    # doc_id % 3 picks a shared footer / footer+newsletter / unique tail
    # line, built identically in the DuckDB oracle. The REWRITTEN text is
    # pinned by md5, so the hot-line statistics, the drop rule,
    # order/whitespace preservation and the rejoin are all hash-verified.
    from zx_spark.operators.decontaminate import scrub_repeated_lines

    d = F.col("doc_id")
    footer = "(c) example corp all rights reserved"
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(d % 3 == 0, F.lit(footer))
            .when(d % 3 == 1, F.lit("subscribe to our newsletter\n" + footer))
            .otherwise(F.concat(F.lit("unique line "), d.cast("string"))),
        ).alias("text"),
    )
    scr = scrub_repeated_lines(planted, min_docs=2).select(
        "doc_id", F.md5("scrubbed").alias("scrub_md5"), "n_lines_dropped"
    )
    # merge hints: all three sides are doc-keyed (∝ corpus) but the agg
    # outputs can estimate under the broadcast threshold (SCALE.md r12
    # class); sort-merge spills and reuses one doc_id sort order
    return stats.join(agg.hint("merge"), "doc_id").join(
        scr.hint("merge"), "doc_id"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals + two trained corpus gates, all scored
    in one projection:

    - ``nb_en_logodds`` — the NB classifier (functions/classify.py),
      trained IN the query on the corpus's own lang labels (one
      distributed count agg, exact integer micro-log-odds).
    - ``lm_avg_logprob`` — the hashed bigram LM perplexity signal
      (functions/lm.py, CCNet-style), trained IN the query on the corpus
      itself (one distributed bigram-count agg, exact integer
      micro-log-probs).

    Both models are re-derived by pure-Python twins from the raw parquet
    on the oracle side, so training AND scoring are hash-verified end to
    end."""
    from zx_spark.functions.classify import nb_score, nb_train
    from zx_spark.functions.lm import lm_score, lm_train
    from zx_spark.functions.text import repetition_signals, text_quality

    docs = _docs(spark, sf_dir)
    # the two trainings are independent single-job aggregations — run
    # them as concurrent Spark jobs (local[32] has idle slots; on a
    # cluster the scheduler interleaves stages the same way)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        nb_f = pool.submit(
            nb_train, docs.withColumn("label", F.col("lang") == "en"),
            "text", "label",
        )
        lm_f = pool.submit(lm_train, docs, n_buckets=1024, alpha=0.1)
        model, lm = nb_f.result(), lm_f.result()
    q = text_quality(F.col("text"))
    r = repetition_signals(F.col("text"))
    # r14 opt: spread the scoring scan — the NB/LM literal-array folds
    # are the CPU-dominant stage and the source is one partition
    # otherwise (values identical; no-op on wide inputs)
    from zx_spark.util import spread as _spread3

    return _spread3(docs).select(
        "doc_id",
        q["stopword_ratio"].alias("stopword_ratio"),
        q["upper_ratio"].alias("upper_ratio"),
        q["quality_score"].alias("quality_score"),
        r["dup_line_fraction"].alias("dup_line_fraction"),
        r["dup_token_fraction"].alias("dup_token_fraction"),
        nb_score(F.col("text"), model).alias("nb_en_logodds"),
        lm_score(F.col("text"), lm).alias("lm_avg_logprob"),
    )


def q_text_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID histogram, plus (r6) the classifier-evaluation arm
    (operators/evaluate.py): the en-stopword micro score (round(1e6 ·
    en-stopword-fraction), integer — tie-grouping is engine-exact)
    scored against the ground-truth ``lang == 'en'`` label. Emits
    tie-aware Mann-Whitney AUC (grouped-by-score rank window — the
    distinct-score frame, never the corpus, is sorted) and the
    confusion/precision/recall/F1 at threshold 50000 (5% stopwords),
    as ``eval:*`` rows with metrics in 1e-6 fixed point. The oracle
    re-derives score, ranks and confusion from raw parquet."""
    from zx_spark.functions.text import language_id
    from zx_spark.operators.evaluate import confusion_at, roc_auc

    docs = _docs(spark, sf_dir)
    base = (
        docs.select(language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    sw = F.array(*[F.lit(w) for w in
                   ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]])
    score = F.round(
        F.lit(1e6) * F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        / F.greatest(F.size(toks), F.lit(1))
    ).cast("long")
    # null text would give size(null) = -1 on the Spark side but NULL in
    # SQL — exclude it explicitly so both engines score the same rows
    scored = docs.filter(F.col("text").isNotNull()).select(
        score.alias("__s"), (F.col("lang") == "en").alias("__y")
    )
    auc_rows = roc_auc(scored, "__s", "__y").select(
        F.explode(
            F.create_map(
                F.lit("eval:auc_micro"), F.round(F.col("auc") * 1e6).cast("long"),
                F.lit("eval:n_pos"), F.col("n_pos").cast("long"),
                F.lit("eval:n_neg"), F.col("n_neg").cast("long"),
            )
        ).alias("lang_pred", "n")
    )
    cm_rows = confusion_at(scored, "__s", "__y", [50000.0]).select(
        F.explode(
            F.create_map(
                F.lit("eval:tp"), F.col("tp").cast("long"),
                F.lit("eval:fp"), F.col("fp").cast("long"),
                F.lit("eval:fn"), F.col("fn").cast("long"),
                F.lit("eval:tn"), F.col("tn").cast("long"),
                F.lit("eval:prec_micro"), F.round(F.col("precision") * 1e6).cast("long"),
                F.lit("eval:rec_micro"), F.round(F.col("recall") * 1e6).cast("long"),
                F.lit("eval:f1_micro"), F.round(F.col("f1") * 1e6).cast("long"),
            )
        ).alias("lang_pred", "n")
    )
    # cms arm (r7 s2): count-min sketch frequency estimates for every
    # distinct lang (operators/cms.py — ONE map-side-combined agg pass
    # builds the 3×64 counter model, estimation is scan-speed literal
    # lookups). The salted md5-60-bit buckets make the WHOLE sketch
    # SQL-reproducible: the oracle rebuilds counters and least-of-
    # lookups estimates value-for-value, so the arm hash-verifies the
    # sketch itself, not just its error bound.
    from zx_spark.operators.cms import cms_build, cms_estimate_col

    cms_model = cms_build(docs, "lang", width=64, depth=3)
    cms_rows = (
        docs.filter(F.col("lang").isNotNull())
        .select("lang")
        .distinct()
        .select(
            F.concat(F.lit("cms:"), F.col("lang")).alias("lang_pred"),
            cms_estimate_col(F.col("lang"), cms_model).cast("long").alias("n"),
        )
    )
    # scms arm (r7 s2): the STREAMING twin drained — the corpus split
    # into two disjoint halves, each micro-batch sketched independently
    # (streaming/sketch.cms_sink, epoch-overwrite idempotent) and the
    # live model read back as the counter-wise epoch merge. Disjoint
    # union ⇒ merged model == the batch sketch EXACTLY, so the oracle
    # is the same sketch rebuild with the scms prefix — the drain is
    # verified value-for-value, not bound-checked.
    import tempfile as _tf

    from zx_spark.streaming.sketch import cms_sink, read_cms_model

    sdir = _tf.mkdtemp(prefix="zx_cms_src_")
    store = _tf.mkdtemp(prefix="zx_cms_store_")
    ckpt = _tf.mkdtemp(prefix="zx_cms_ckpt_")
    half = docs.select("doc_id", "lang")
    # coalesce(pmod, 0): a NULL doc_id must land in exactly one half —
    # plain `% 2` is NULL for it, silently dropping the row from BOTH
    # staged halves while the oracle counts it (latent today: driver
    # doc_ids are non-NULL)
    split = F.coalesce(F.pmod(F.col("doc_id"), F.lit(2)), F.lit(0))
    half.filter(split == 0).repartition(1).write.parquet(sdir, mode="append")
    half.filter(split == 1).repartition(1).write.parquet(sdir, mode="append")
    stream = (
        spark.readStream.format("parquet")
        .schema(half.schema)
        .option("maxFilesPerTrigger", 1)
        .load(sdir)
    )
    if not cms_sink(
        stream, "lang", store, width=64, depth=3,
        checkpoint_dir=ckpt, available_now=True,
    ).awaitTermination(180):
        # a partial drain would silently undercount the merged model
        # (and rmtree below would pull staging out from under a live
        # stream) — fail loudly instead
        raise RuntimeError("scms arm: availableNow drain did not finish in 180s")
    scms_model = read_cms_model(spark, store)  # eager — staging can go
    import shutil as _sh

    for d in (sdir, store, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    scms_rows = (
        docs.filter(F.col("lang").isNotNull())
        .select("lang")
        .distinct()
        .select(
            F.concat(F.lit("scms:"), F.col("lang")).alias("lang_pred"),
            cms_estimate_col(F.col("lang"), scms_model).cast("long").alias("n"),
        )
    )
    # hh arm (r8): streaming-CMS → heavy hitters END TO END — the
    # drained stream's merged sketch SCREENS (scan-speed literal
    # lookups, no shuffle) and the exact pass counts only the surviving
    # sliver (operators/cms.heavy_hitters). The screen never
    # underestimates, so the output is EXACTLY the values with true
    # count >= min_count regardless of sketch collisions — which is why
    # the oracle is a plain exact GROUP BY/HAVING: the arm verifies the
    # two-phase plan's exactness guarantee, while the scms rows above
    # verify the sketch itself counter-for-counter. min_count scales
    # with the corpus (docs//10 + 1) so some langs pass and some fail
    # at every testdata scale.
    from zx_spark.operators.cms import heavy_hitters

    hh_min = int(docs.count()) // 10 + 1
    hh_rows = heavy_hitters(
        docs, "lang", min_count=hh_min, model=scms_model
    ).select(
        F.concat(F.lit("hh:"), F.col("value")).alias("lang_pred"),
        F.col("n").cast("long").alias("n"),
    )
    return (
        base.unionByName(auc_rows).unionByName(cm_rows)
        .unionByName(cms_rows).unionByName(scms_rows).unionByName(hh_rows)
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint counts, plus (r6) the duplicated-span
    exposure columns: per-doc count/tokens/fraction of maximal ≥8-token
    runs that occur more than once corpus-wide (operators/spans.py —
    Lee-et-al-2021 substring dedup at shingle granularity; skew-safe
    groupBy+join on the shingle hash, gaps-and-islands merge per doc).
    The oracle re-derives the spans from raw parquet with the same
    md5-60-bit shingle hash."""
    from zx_spark.functions.text import fingerprint_from_tokens, tokenize
    from zx_spark.operators.spans import duplicated_span_stats

    docs = _docs(spark, sf_dir)
    fps = docs.select(
        "doc_id", tokenize(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.size(fingerprint_from_tokens(F.col("__toks"))).alias("n_fingerprints"),
    )
    stats = duplicated_span_stats(docs, "text", "doc_id", n=8).select(
        "doc_id",
        F.col("dup_spans").cast("long").alias("dup_spans"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.col("dup_fraction").cast("double").alias("dup_fraction"),
    )
    # merge hint: both sides are doc-keyed (∝ corpus); the span-stats agg
    # output can estimate under the broadcast threshold (SCALE.md r12)
    return fps.join(stats.hint("merge"), "doc_id")


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with DETERMINISTICALLY PLANTED PII (the
    synthetic corpus contains none naturally, which would make the row
    vacuous — same planted-construction trick as emb_near_pairs_lsh):
    doc_id % 7 picks which PII type is appended, built identically in the
    DuckDB oracle, so per-type counts AND the md5 of the redacted text
    verify the full sequential regex pipeline value-for-value."""
    from zx_spark.functions.pii import PII_TYPES, with_pii_scrubbed

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.concat(F.lit(" contact user"), d, F.lit("@example.com")))
            .when(d % 7 == 1, F.concat(F.lit(" from 10."), d % 256, F.lit(".0.1 logged")))
            .when(d % 7 == 2, F.lit(" ssn 123-45-6789 on file"))
            .when(d % 7 == 3, F.lit(" card 4111-1111-1111-1111 charged"))
            .when(d % 7 == 4, F.concat(F.lit(" call +1415555"), F.lpad(d % 10000, 4, "0")))
            .otherwise(F.lit("")),
        ),
    )
    out = with_pii_scrubbed(planted)
    return out.select(
        "doc_id",
        *[F.col(f"pii_n_{t}").alias(f"n_{t}") for t in PII_TYPES],
        F.col("pii_n_total").alias("n_pii"),
        F.md5(F.col("pii_redacted")).alias("redacted_md5"),
    )


def _decontaminate_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram hygiene, two arms sharing the shingle construction:

    - ``bench``  — benchmark decontamination with a REALISTIC leak: the
      'benchmark' is 40-word excerpts of every doc_id % 10 == 3 document
      (an eval set drawn from the same crawl), probed against the FULL
      corpus — each excerpted document flags on its own excerpt, and
      near-duplicates of it flag too. Broadcast probe + one per-doc
      aggregation (decontaminate.py).
    - ``boiler`` — corpus-INTERNAL repeated n-grams (boilerplate): 5-gram
      shingles appearing in ≥2 distinct documents, flagged per document
      via the r7 complement plan (boilerplate_fractions).

    r7 restructure (SCALE.md "decontaminate stage profile"): the corpus
    is shingle-hashed ONCE into a persisted shingle_hash_frame shared by
    both arms — the stage profile showed the n-gram string construction
    (not md5) dominates the pass, so the win is hashing once, not a
    faster hash. Same values, same oracle."""
    from zx_spark.operators.decontaminate import (
        boilerplate_fractions,
        decontaminate,
        shingle_hash_frame,
    )

    docs = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    bench = docs.filter(F.col("doc_id") % 10 == 3).select(
        F.array_join(F.slice(toks, 1, 40), " ").alias("text")
    )
    hf = shingle_hash_frame(docs, "text", "doc_id", n=5).persist()
    dec = decontaminate(
        docs, bench, text_col="text", id_col="doc_id", n=5, hashed=hf
    ).select(
        F.lit("bench").alias("arm"),
        "doc_id",
        "n_overlap",
        "n_ngrams",
        F.col("contamination").alias("ratio"),
    )
    boiler = boilerplate_fractions(
        docs, text_col="text", id_col="doc_id", n=5, min_docs=2, hashed=hf
    ).select(F.lit("boiler").alias("arm"), "doc_id", "n_overlap", "n_ngrams", "ratio")
    return dec.unionByName(boiler)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 arms plus the r8 ``ovl`` arm: source_overlap_matrix
    (decontaminate.py) — pairwise distinct-5-gram overlap between
    corpus SOURCES (the data-mixing audit). Column reuse to fit the
    row schema: arm = ``ovl:<source_a>:<source_b>``, doc_id carries
    n_a, n_overlap = n_shared, n_ngrams carries n_b, ratio = the
    vocabulary Jaccard. The oracle re-derives the per-source distinct
    hash vocabularies from raw parquet with the same md5-60-bit
    shingle hash."""
    from zx_spark.operators.decontaminate import source_overlap_matrix

    ovl = source_overlap_matrix(
        _docs(spark, sf_dir), "source", "text", "doc_id", n=5
    ).select(
        F.concat(
            F.lit("ovl:"), F.col("source_a"), F.lit(":"), F.col("source_b")
        ).alias("arm"),
        F.col("n_a").cast("long").alias("doc_id"),
        F.col("n_shared").cast("long").alias("n_overlap"),
        F.col("n_b").cast("long").alias("n_ngrams"),
        F.col("jaccard").alias("ratio"),
    )
    return _decontaminate_v1(spark, sf_dir).unionByName(ovl)


def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path, two arms sharing one DuckDB oracle (the
    batch aligned-window aggregate over the events table):

    - ``direct``: stream the events parquet through the watermarked
      windowed aggregation with an availableNow drain — complete-mode
      output equals the batch result.
    - ``dedup``: every event is delivered TWICE (the parquet staged under
      two names — an at-least-once source) and the stream runs
      ``streaming_exact_dedup`` (content-hash
      dropDuplicatesWithinWatermark) CHAINED before the same aggregation.
      Matching the single-delivery oracle proves the ingestion dedup
      actually dropped every duplicate — sums would double otherwise."""
    import os
    import shutil as _shutil
    import tempfile
    import uuid

    from zx_spark.streaming import run_available_now, streaming_windowed_agg
    from zx_spark.streaming.dedup import streaming_exact_dedup

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    q = Query(
        selects=[Select("value", Aggregate.SUM), Select("value", Aggregate.COUNT)],
        group_by=["event_type"],
        granularity_s=86400,
    )

    def drain(result) -> DataFrame:
        name = f"zx_stream_{uuid.uuid4().hex[:8]}"
        ckpt = tempfile.mkdtemp(prefix="zx_ckpt_")
        run_available_now(result, name, ckpt)
        _shutil.rmtree(ckpt, ignore_errors=True)
        return spark.table(name)

    # direct arm — the file streaming source requires a directory; stage
    # the single parquet file behind a symlink in a temp dir.
    stage1 = tempfile.mkdtemp(prefix="zx_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage1}/events.parquet")
    stream = _with_ts_normalized(
        spark.readStream.format("parquet").schema(raw_schema).load(stage1)
    )
    direct = drain(streaming_windowed_agg(stream, q, rate_col=None))

    # dedup arm — double delivery, content-hash dedup chained before the
    # agg (watermark set ONCE by the dedup; the agg inherits it)
    stage2 = tempfile.mkdtemp(prefix="zx_stream_dup_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage2}/a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage2}/b.parquet")
    doubled = _with_ts_normalized(
        spark.readStream.format("parquet").schema(raw_schema).load(stage2)
    )
    content = F.concat_ws("|", F.col("event_id"), F.col("value"), F.col("props"))
    dd = streaming_exact_dedup(
        doubled.withColumn("__content", content), "__content", watermark="30 days"
    ).drop("__content", "content_hash")
    deduped = drain(streaming_windowed_agg(dd, q, rate_col=None, watermark=None))

    # topk arm (r6): the streaming heavy-hitters twin (streaming/topk.py
    # Space-Saving), DRAINED. The value domain is the coarse bucket
    # floor(value/100) (≤ ~a dozen distinct per group), so m=256 makes
    # the sketch EXACT and the single-file staging yields exactly one
    # micro-batch → one emission per group: the drain equals the batch
    # top-5 bucket counts per event type, which is what the oracle
    # computes. Rank ties break on the bucket STRING both sides.
    from zx_spark.streaming.topk import streaming_top_values

    stage3 = tempfile.mkdtemp(prefix="zx_stream_topk_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage3}/events.parquet")
    tk_src = (
        _with_ts_normalized(
            spark.readStream.format("parquet").schema(raw_schema).load(stage3)
        )
        .filter(F.col("value").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit(NIL)).alias("etype"),
            F.floor(F.col("value") / 100).cast("string").alias("bucket"),
        )
    )
    tk_name = f"zx_stream_{uuid.uuid4().hex[:8]}"
    tk_ckpt = tempfile.mkdtemp(prefix="zx_ckpt_")
    run_available_now(
        streaming_top_values(tk_src, "etype", "bucket", k=5, m=256),
        tk_name, tk_ckpt, output_mode="append",
    )
    _shutil.rmtree(tk_ckpt, ignore_errors=True)
    topk = spark.table(tk_name)
    dnull = F.lit(None).cast("double")
    tk = topk.select(
        F.lit("topk").alias("arm"),
        F.concat_ws(":", F.col("etype"), F.col("value")).alias("g_event_type"),
        F.col("rank").cast("double").alias("window_start"),
        F.col("overcount").cast("double").alias("window_end"),
        dnull.alias("sum__value"),
        F.col("count").cast("double").alias("count__value"),
    )

    for d in (stage1, stage2, stage3):
        _shutil.rmtree(d, ignore_errors=True)
    out = direct.select(F.lit("direct").alias("arm"), *direct.columns).unionByName(
        deduped.select(F.lit("dedup").alias("arm"), *deduped.columns)
    )
    return _round(out, {"sum__value": 3}).unionByName(tk)


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState) with
    BATCH PARITY: stream the events parquet, then a synthetic far-future
    tail event per event_type (one extra file, later mtime → later
    micro-batch) breaks the gap for every open session, so ALL real
    sessions emit as closed. The tail's own sessions never close and
    append mode never emits them — the result equals the batch lag/cumsum
    session SQL (the w1_session_windows oracle) exactly."""
    import os
    import tempfile as _tf
    import uuid

    from zx_spark.streaming import run_available_now, streaming_session_agg

    from pyspark.sql import types as T

    stage = _tf.mkdtemp(prefix="zx_sess_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = batch.schema
    # Driver testdata `ts` flavor varies by generation: bigint nanos
    # (nanosAsLong), naive micros (TIMESTAMP_NTZ), or TimestampType.
    # The tail literal must match the RAW schema; the stream itself is
    # normalized post-load by _with_ts_normalized.
    ts_is_long = isinstance(raw_schema["ts"].dataType, T.LongType)
    # One tail row per event_type (incl. NULL → the __nil group), 1e6 s
    # past the global max — far beyond any 600 s gap.
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    if ts_is_long:
        tail_ts_col = F.lit(max_ts + 10**15).cast("long")  # raw nanos
    else:
        import datetime as _dt

        tail_ts_col = F.lit(max_ts + _dt.timedelta(seconds=10**6)).cast(
            raw_schema["ts"].dataType
        )
    tail_cols = []
    for f in raw_schema.fields:
        if f.name == "event_type":
            tail_cols.append(F.col("event_type"))
        elif f.name == "ts":
            tail_cols.append(tail_ts_col.alias("ts"))
        else:
            tail_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    tmp_tail = _tf.mkdtemp(prefix="zx_sess_tail_")
    batch.select("event_type").distinct().select(*tail_cols).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp_tail)
    import glob as _glob
    import shutil as _shutil

    tail_file = f"{stage}/tail.parquet"
    _shutil.copy(_glob.glob(f"{tmp_tail}/part-*.parquet")[0], tail_file)
    # Pin the micro-batch ORDER explicitly: the tail must be a LATER
    # batch than the events file, or (with equal mtimes, e.g. freshly
    # regenerated testdata) the tail could run first, advance the
    # watermark to tail_ts, and drop every real event as late.
    ev_mtime = os.stat(f"{sf_dir}/events.parquet").st_mtime
    os.utime(tail_file, (ev_mtime + 10, ev_mtime + 10))

    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )
    stream = _with_ts_normalized(stream)
    result = streaming_session_agg(
        stream, group_by=["event_type"], gap_s=600.0, ts_col="ts",
        value_col="value", watermark="0 seconds",
    )
    name = f"zx_sess_{uuid.uuid4().hex[:8]}"
    ckpt = _tf.mkdtemp(prefix="zx_sess_ckpt_")
    run_available_now(result, name, ckpt, output_mode="append")
    # The memory sink holds the rows; the staged source, tail temp, and
    # checkpoint are dead once the drain stops — don't leak them per
    # driver round.
    for d in (stage, tmp_tail, ckpt):
        _shutil.rmtree(d, ignore_errors=True)
    out = spark.table(name)
    sess = out.select(
        "g_event_type",
        F.floor("window_start").cast("long").alias("window_start"),
        F.floor("window_end").cast("long").alias("window_end"),
        F.round("sum__value", 3).alias("sum__value"),
        "count__value",
    )

    # ------- drift arm (r6): the streaming drift monitor, DRAINED ------
    # streaming/drift.py profiles each micro-batch against a pinned
    # baseline. Two staged files with pinned mtimes make the epochs
    # deterministic: epoch 0 = the clean documents (no flags), epoch 1 =
    # a deterministically corrupted copy (lang nulled for doc_id%5!=0 →
    # null explosion; source → one constant → cardinality collapse; val
    # = n_chars+100000 → range escape; doc_id untouched → control row).
    # Only ENGINE-EXACT report fields are emitted (flag booleans as a
    # bitmask, null_frac, n_rows) — n_distinct is the HLL estimate, and
    # the planted margins are orders of magnitude away from every
    # threshold, so the oracle's exact-distinct re-derivation of the
    # flags matches deterministically.
    from zx_spark.streaming.drift import baseline_profile, drift_monitor_sink

    DRIFT_COLS = ["doc_id", "lang", "source", "val"]
    clean = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", F.col("n_chars").cast("double").alias("val")
    )
    bad = clean.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.col("lang")).alias("lang"),
        F.lit("srcX").alias("source"),
        (F.col("val") + 100000.0).alias("val"),
    )
    droot = _tf.mkdtemp(prefix="zx_drift_")
    src_d, rep_d, ck_d = f"{droot}/src", f"{droot}/reports", f"{droot}/ck"
    os.makedirs(src_d)
    for i, (nm, frame) in enumerate((("a_clean", clean), ("b_bad", bad))):
        tmp_w = f"{droot}/w_{nm}"
        frame.coalesce(1).write.parquet(tmp_w)
        part = _glob.glob(f"{tmp_w}/part-*.parquet")[0]
        dst = f"{src_d}/{nm}.parquet"
        _shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    dstream = (
        spark.readStream.format("parquet")
        .schema(clean.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src_d)
    )
    dq = drift_monitor_sink(
        dstream, rep_d, baseline_profile(clean, DRIFT_COLS), cols=DRIFT_COLS,
        checkpoint_dir=ck_d, available_now=True,
    )
    if not dq.awaitTermination(180):
        # a partial read + rmtree under a live query would produce a
        # confusing row-count FAIL and an orphaned crashing stream —
        # fail loudly instead
        dq.stop()
        raise TimeoutError("drift arm: availableNow drain exceeded 180s")
    reports = spark.read.parquet(rep_d)
    bit = (
        F.col("null_drift").cast("long")
        + F.col("distinct_drift").cast("long") * 2
        + F.col("range_drift").cast("long") * 4
        + F.col("missing_column").cast("long") * 8
        + F.col("new_column").cast("long") * 16
    )
    drift = reports.select(
        F.concat(
            F.lit("drift:"), F.col("epoch").cast("string"), F.lit(":"),
            F.col("column"),
        ).alias("g_event_type"),
        bit.alias("window_start"),
        F.col("n_rows").cast("long").alias("window_end"),
        F.round("null_frac", 6).alias("sum__value"),
        F.col("any_drift").cast("double").alias("count__value"),
    )
    drift_rows = drift.collect()
    _shutil.rmtree(droot, ignore_errors=True)
    return sess.unionByName(
        spark.createDataFrame(drift_rows, drift.schema)
    )


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (zx_spark/streaming/joins.py) with BATCH
    PARITY: the events table streams as both sides (right side re-staged
    with a derived value), inner-joined on user_id within [ts, ts+600 s].
    Inner mode emits exactly the matched pairs, so the availableNow drain
    equals the batch BETWEEN self-join the DuckDB oracle computes. Two
    files per side force cross-micro-batch matches through the join's
    watermarked state buffer."""
    import shutil as _shutil
    import tempfile as _tf
    import uuid

    from zx_spark.streaming.joins import streaming_interval_join

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value")
    )
    stage = _tf.mkdtemp(prefix="zx_sjoin_")
    lp, rp, cp = f"{stage}/l", f"{stage}/r", f"{stage}/cp"
    ev.repartition(2).write.parquet(lp)
    ev.select(
        "user_id", "ts", F.round(F.col("value") * 2, 6).alias("mark_value")
    ).repartition(2).write.parquet(rp)
    sl = (
        spark.readStream.schema("event_id bigint, user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1).parquet(lp)
    )
    sr = (
        spark.readStream.schema("user_id bigint, ts timestamp, mark_value double")
        .option("maxFilesPerTrigger", 1).parquet(rp)
    )
    out = streaming_interval_join(
        sl, sr, on=["user_id"], before_s=0, after_s=600, watermark="1 minute"
    )
    name = f"zx_sjoin_{uuid.uuid4().hex[:8]}"
    (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", cp).trigger(availableNow=True)
        .start().awaitTermination()
    )
    _shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.round(F.col("ts").cast("double"), 6).alias("l_ts"),
        "value",
        F.round(F.col("r_ts").cast("double"), 6).alias("r_ts"),
        F.col("r_mark_value").alias("mark_value"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode features posexploded to (doc_id, feature_no, feature_value)
    scalar rows — the driver canonicalizer can't hash array columns."""
    from zx_spark.operators.multimodal import attach_media, decode_image

    media = attach_media(
        _docs(spark, sf_dir).withColumn("payload", F.encode(F.col("text"), "utf-8")),
        "payload",
    )
    return (
        decode_image(media, decoder="fake", n_features=8)
        .select("doc_id", F.posexplode("features").alias("feature_no", "feature_value"))
        .withColumn("feature_no", F.col("feature_no").cast("long"))
    )


def q_multimodal_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize byte-contract + frame-sampling count in one driver row
    (merged so the registry fits the driver's 50-query cap; both operators
    still run end-to-end)."""
    from zx_spark.operators.multimodal import attach_media, resize_image, sample_frames

    media = attach_media(
        _docs(spark, sf_dir).withColumn("payload", F.encode(F.col("text"), "utf-8")),
        "payload",
    )
    resized = resize_image(media, 16, 16, decoder="fake").select(
        "doc_id", F.length("media").alias("n_bytes")
    )
    frames = (
        sample_frames(media, every_n_bytes=64, frame_bytes=16)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    # probe arm (r5 s4): REAL header parsing hash-verified end-to-end —
    # a minimal PNG (signature + IHDR) is BUILT in-query with planted
    # per-doc dimensions, probe_media (operators/multimodal.py) parses
    # the bytes back in its Arrow pass, and the oracle recomputes the
    # planted dims arithmetically; any parsing defect breaks the hash.
    from zx_spark.operators.multimodal import probe_media

    d = F.col("doc_id")
    w = (d % 1000 + 1).cast("int")
    h = ((d * 7) % 1000 + 1).cast("int")
    png_hex = F.concat(
        F.lit("89504e470d0a1a0a0000000d49484452"),  # sig + IHDR len/type
        F.lpad(F.lower(F.hex(w)), 8, "0"),
        F.lpad(F.lower(F.hex(h)), 8, "0"),
        F.lit("08020000"),
    )
    probed = probe_media(
        _docs(spark, sf_dir).select("doc_id", F.unhex(png_hex).alias("media")),
        "media",
    ).select(
        "doc_id",
        F.col("probe.format").alias("probe_fmt"),
        F.col("probe.width").alias("png_w"),
        F.col("probe.height").alias("png_h"),
        F.col("probe.valid").alias("probe_valid"),
    )
    # merge hints: the frame-count agg is doc-keyed (∝ corpus) and the
    # second join would otherwise broadcast the whole first join's
    # output (estimate-small, data-sized — SCALE.md r12 class)
    return resized.join(frames.hint("merge"), "doc_id").join(
        probed.hint("merge"), "doc_id"
    )


# BM25 arm queries for the text_tfidf row — fixed strings so the DuckDB
# oracle's VALUES term table matches _query_terms(q) exactly.
BM25_QUERIES = {"q0": "fast hash join", "q1": "slow scan"}


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-terms per doc, plus (r6) a ``bm25:`` arm: top-8 BM25
    keyword-search hits per query (operators/search.py — broadcast
    term-set filter at the scan, window doc-frequency over candidate
    postings only, per-query top-k; the corpus never shuffles). Arm rows
    are tagged ``token = 'bm25:<query_id>:r<rank>'`` so the rank is
    hash-verified too; the oracle re-derives BM25 from the raw parquet
    with the Lucene idf form ``ln(1+(N-df+.5)/(df+.5))``.

    bpe arm (r6 s3): the FIRST-8 BPE merges learned from the corpus
    (functions/bpe.py bpe_train — distributed word counts, driver-side
    merge loop), emitted as ``doc_id = -rank, token =
    'bpe:<rank>:<left>+<right>'``. The oracle re-learns the merges
    INDEPENDENTLY with an unrolled 8-step CTE chain (_bpe_oracle_cte):
    per step, weighted adjacent-pair counts → argmax with the exact
    (count desc, pair lexicographic) tie-break → greedy left-to-right
    merge application via gaps-and-islands parity. This closes the last
    'iterative ⇒ not SQL-expressible' carve-out: merge learning IS
    SQL-expressible for any FIXED number of merges — only the unbounded
    num_merges=200 production setting stays driver-side."""
    from zx_spark.functions.bpe import bpe_train
    from zx_spark.functions.text import tf_idf_top_terms
    from zx_spark.operators.search import bm25_search

    docs = _docs(spark, sf_dir)
    tfidf = tf_idf_top_terms(docs, "text", "doc_id", k=5)
    bm25 = bm25_search(docs, BM25_QUERIES, "text", "doc_id", k=8).select(
        "doc_id",
        F.concat(
            F.lit("bm25:"), F.col("query_id"), F.lit(":r"), F.col("rank")
        ).alias("token"),
        F.col("bm25").alias("tfidf"),
    )
    merges = bpe_train(docs, "text", num_merges=BPE_ORACLE_MERGES)
    bpe = spark.createDataFrame(
        [
            (-(i + 1), f"bpe:{i + 1}:{a}+{b}", float(i + 1))
            for i, (a, b) in enumerate(merges)
        ],
        "doc_id long, token string, tfidf double",
    )
    return tfidf.unionByName(bm25).unionByName(bpe)


def _events_keyed_secs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, etype, sec) with null event types folded to __nil and
    whole-second timestamps — the integer time axis both engines agree on."""
    return _events(spark, sf_dir).select(
        "event_id",
        F.coalesce("event_type", F.lit("__nil")).alias("etype"),
        F.floor(F.col("ts").cast("double")).cast("long").alias("sec"),
    )


def q_asof_join_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/joins.py asof_join): every event is
    enriched with the most recent 'mark' at-or-before it in its type —
    the trades↔quotes shape. Marks are a deterministic downsample of the
    events table (every 20th id, deduped per (type, sec)) so DuckDB's
    native ASOF JOIN reproduces it exactly."""
    from zx_spark.operators.joins import asof_join

    left = _events_keyed_secs(spark, sf_dir)
    marks = (
        _events(spark, sf_dir)
        .filter(F.col("event_id") % 20 == 0)
        .groupBy(
            F.coalesce("event_type", F.lit("__nil")).alias("etype"),
            F.floor(F.col("ts").cast("double")).cast("long").alias("sec"),
        )
        .agg(F.max("value").cast("double").alias("mark_value"))
    )
    return asof_join(
        left, marks, on=["etype"], left_ts="sec", right_ts="sec",
        right_cols=["mark_value"], how="left",
    )


def q_range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval-containment join (operators/joins.py range_join):
    each high-value event opens a [t, t+3600] incident window; count the
    events of the same type inside each window. The equi-join-on-bins plan
    replaces the O(n·m) nested-loop Spark would otherwise pick."""
    from zx_spark.operators.joins import range_join

    left = _events_keyed_secs(spark, sf_dir)
    incidents = (
        _events(spark, sf_dir)
        .filter(F.col("value") > 300)
        .select(
            F.coalesce("event_type", F.lit("__nil")).alias("etype"),
            F.floor(F.col("ts").cast("double")).cast("long").alias("inc_start"),
        )
        .distinct()
        .withColumn("inc_end", F.col("inc_start") + 3600)
        # merge hint (travels into range_join's equi-join): the incident
        # set is a distinct agg over events — data-sized, estimate-small
        # (SCALE.md r12 class); sort-merge spills instead of broadcasting
        .hint("merge")
    )
    return (
        range_join(
            left, incidents, point_col="sec", start_col="inc_start",
            end_col="inc_end", on=["etype"], bin_width=3600,
        )
        .groupBy("etype", "inc_start")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# -------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: zx-SQL windowed grouped aggregate on sf0.001 events
    (SURVEY §7 M1 shape, through the full shim → compiler → Catalyst path)."""
    from zx_spark.sqlshim import zx_sql

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    return zx_sql(
        spark,
        "select sum(value), count(value), mean(value) group by event_type granularity 86400",
        df=ev,
        id_col="event_id",
        rate_col=None,
    )


# The driver checks at most 50 registered queries — the registry is kept at
# EXACTLY 50 (43 here + 7 PASSTHROUGH_SQL) so every entry gets a
# CORRECTNESS row. F1 comparators are paired (op + negation per row) to fit.
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # S1 scan + F1 comparators (12 comparators in 6 paired rows)
        "s1_time_scan": q_s1_time_scan,
        # 10 of the 12 comparators in ONE multi-arm row (arms a..j);
        # EXISTS/NOT_EXISTS stay separate (they need the tagged frame).
        # Merged from three rows in r4 to free registry slots for the
        # PII-scrub and decontamination pipelines under the 50-cap.
        "f1_comparators": _filter_multi_query(
            Condition("event_type", Cmp.EQ, "click"),
            Condition("event_type", Cmp.NE, "click"),
            Condition("value", Cmp.GT, 90.0),
            Condition("value", Cmp.LT, 10.0),
            Condition("value", Cmp.GTE, 90.0),
            Condition("value", Cmp.LTE, 10.0),
            Condition("event_type", Cmp.STARTS_WITH, "c"),
            Condition("event_type", Cmp.NOT_STARTS_WITH, "c"),
            Condition("props", Cmp.CONTAINS, '"k": 7'),
            Condition("props", Cmp.NOT_CONTAINS, '"k": 7'),
        ),
        "f1_exists_pair": q_f1_exists_pair,
        # G1 / W1 / O1 / Q2
        "g1_group_nil": q_g1_group_nil,
        "w1_aligned_windows": q_w1_aligned_v2,
        "w1_session_windows": q_w1_session,
        "w1_faithful_windows": q_w1_faithful,
        "w_gapfill": q_w_gapfill,
        "o1_top_groups": q_o1_top_groups,
        "q2_sql_zx_dialect": q_q2_sql_zx,
        "q2_sql_raw_projection": q_q2_sql_raw_projection,
        # A1-A9 + §2.5 sample-rate-weighted forms
        "a1_sum": _agg_query(Select("value", Aggregate.SUM), {"sum__value": 3}),
        # A2+A3 merged into one grouped pass (both sentinel-bearing
        # aggregates stay hash-verified; frees a slot under the 50-cap
        # for w_gapfill).
        "a2_a3_minmax": _agg_query(
            [Select("value", Aggregate.MAX), Select("value", Aggregate.MIN)], {}
        ),
        "a4_count": _agg_query(Select("value", Aggregate.COUNT), {}),
        "a5_count_distinct": _agg_query(Select("user_id", Aggregate.COUNT_DISTINCT), {}),
        "a6_mean": _agg_query(Select("value", Aggregate.MEAN), {"mean__value": 6}),
        "a7_p50": _agg_query(Select("value", Aggregate.P50), {"p50__value": 6}),
        "a8_raw": q_a8_raw,
        "a9_heatmap": q_a9_heatmap,
        "a_weighted_suite": q_a_weighted_suite,
        # Beyond-reference scale operators (rollup + stream-stream join)
        "rollup_suite": q_rollup_suite,
        "streaming_interval_join": q_streaming_interval_join,
        # LLM pipeline
        "dedup_exact_groups": q_dedup_exact_groups,
        "sampling_suite": q_sampling_suite,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "jaccard_wordset_pairs": q_jaccard_wordset_pairs,
        "ann_cosine_suite": q_ann_cosine_suite,
        "ann_ivf_topk": q_ann_ivf_topk,
        "emb_near_pairs_lsh": q_emb_near_pairs_lsh,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "text_lang_counts": q_text_lang_counts,
        "text_tfidf": q_text_tfidf,
        "doc_fingerprints": q_doc_fingerprints,
        "text_pii_redact": q_text_pii_redact,
        "decontaminate_ngrams": q_decontaminate,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_shapes": q_multimodal_shapes,
        "streaming_windowed_agg": q_streaming_windowed,
        "streaming_sessions": q_streaming_sessions,
        # Joins Spark lacks natively, scale-first formulations
        "asof_join_marks": q_asof_join_marks,
        "range_join_incidents": q_range_join_incidents,
    }
    for name, sql in PASSTHROUGH_SQL.items():
        qs[name] = _passthrough(sql)
    assert len(qs) <= 50, f"driver checks only 50 queries; registry has {len(qs)}"
    return qs


# Stable single-comparator callables for bench.py (timings comparable with
# the round-2 pinned baseline, which timed f1_contains alone).
def _bench_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: 3-step funnel + conversion report over events
    (operators/funnel.py; single user-key shuffle JVM fold)."""
    from zx_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


def _bench_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: snapshot diff of documents vs an in-query second
    version (operators/diffs.py; fingerprint-narrow full-outer join)."""
    from zx_spark.operators.diffs import diff_snapshots

    old = _docs(spark, sf_dir).select("doc_id", "text")
    new = old.filter((F.col("doc_id") % 97) != 0).withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 89) == 0, F.concat(F.lit("x"), F.col("text"))
        ).otherwise(F.col("text")),
    )
    return diff_snapshots(old, new, "doc_id")


def _bench_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: one-pass all-column profile of events
    (operators/profile.py; HLL distinct, no Expand)."""
    from zx_spark.operators.profile import profile_table

    return profile_table(_events(spark, sf_dir))


def _bench_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: incremental near-dup of half the corpus against the
    other half's signature table (operators/dedup.py; signing CPU +
    band join)."""
    from zx_spark.operators.dedup import incremental_near_dups, signature_table

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = signature_table(docs.filter("doc_id % 2 = 0"), "text", "doc_id")
    new = signature_table(docs.filter("doc_id % 2 = 1"), "text", "doc_id")
    return incremental_near_dups(new, old, threshold=0.5)


def _bench_text_quality_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only v1 shape of text_quality: the heuristic columns
    WITHOUT the in-query NB/LM training the row gained in r5 — keeps
    the name's timings comparable with the r2 pin (BASELINE.md pin
    table); the grown row is timed as text_quality_v2."""
    from zx_spark.functions.text import repetition_signals, text_quality

    q = text_quality(F.col("text"))
    r = repetition_signals(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        q["stopword_ratio"].alias("stopword_ratio"),
        q["upper_ratio"].alias("upper_ratio"),
        q["quality_score"].alias("quality_score"),
        r["dup_line_fraction"].alias("dup_line_fraction"),
        r["dup_token_fraction"].alias("dup_token_fraction"),
    )


def _bench_sampling_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only v1 shape of sampling_suite: split + strat arms only
    (the r4-pinned content, before the r5 mix/budget/wsamp arms)."""
    from zx_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
        train_test_split,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    split_agg = (
        train_test_split(
            hash_sample(ids, 0.25, "doc_id", seed=13), [0.8, 0.1, 0.1], "doc_id", seed=7
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
    )
    strat_agg = (
        stratified_sample(
            _docs(spark, sf_dir).select("doc_id", "source"), ["source"], 10, "doc_id", seed=3
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
    )
    return split_agg.select(
        F.col("split").cast("string").alias("part_key"), "n_docs", "id_sum"
    ).unionByName(
        strat_agg.select(F.col("source").alias("part_key"), "n_docs", "id_sum")
    )


def _bench_dedup_exact_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only v1 shape of dedup_exact_groups: the exact-dedup arm
    only (the r4-pinned content, before the r5 snapshot-diff arm)."""
    from zx_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_docs(spark, sf_dir), "text", "doc_id")


def _bench_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: daily retention cohort grid over events
    (operators/funnel.py; two user-keyed aggs, one shuffle reused)."""
    from zx_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir), bucket_s=86400.0)


def _bench_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: exact tie-aware AUC of the heuristic quality score
    against lang=='en' over documents (operators/evaluate.py — one
    per-score agg + a bounded distinct-score rank window)."""
    from zx_spark.functions.text import text_quality
    from zx_spark.operators.evaluate import roc_auc

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        F.round(text_quality(F.col("text"))["quality_score"] * 1e4)
        .cast("long").alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return roc_auc(scored, "s", "y")


def _bench_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: per-doc duplicated-span exposure over documents
    (operators/spans.py — shingle-hash agg + join + islands merge)."""
    from zx_spark.operators.spans import duplicated_span_stats

    return duplicated_span_stats(_docs(spark, sf_dir), "text", "doc_id", n=8)


def _bench_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: PSI drift report (numeric n_chars + categorical lang)
    between documents and a hash-halved subset of itself
    (operators/datadrift.py — edges model + one conditional-sum pass per
    side per column)."""
    from zx_spark.operators.datadrift import drift_report

    docs = _docs(spark, sf_dir)
    half = docs.filter(F.conv(F.substring(F.md5(F.col("text")), 1, 4), 16, 10) % 2 == 0)
    return drift_report(
        docs, half, numeric_cols=["n_chars"], categorical_cols=["lang"]
    )


def _bench_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: top-20 length-3 event paths over events
    (operators/paths.py — one user shuffle + one path agg)."""
    from zx_spark.operators.paths import common_paths

    return common_paths(_events(spark, sf_dir), n=3, k=20, id_col="event_id")


def _bench_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r6 s3): exact-recall edit-distance dedup over the
    48-char document-text prefix dictionary (operators/joins.py
    PassJoin blocking — segment equi-join, pair distinct, id
    join-backs)."""
    from zx_spark.operators.joins import edit_distance_dedup_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 48).alias("prefix")
    )
    return edit_distance_dedup_pairs(docs, "prefix", "doc_id", max_dist=1)


def _bench_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r6 s3): within-user event-type co-occurrence
    (operators/basket.py — distinct, cap window, in-row pair transform,
    one pair agg)."""
    from zx_spark.operators.basket import cooccurrence_pairs

    return cooccurrence_pairs(_events(spark, sf_dir), "user_id", "event_type")


def _bench_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r6 s3): DSIR train (both corpora, 4096 buckets) +
    score the corpus (functions/dsir.py — two bucket aggs + a
    scan-speed literal-array fold)."""
    from zx_spark.functions.dsir import dsir_log_weight, dsir_train
    from zx_spark.util import spread as _spread2

    docs = _docs(spark, sf_dir)
    # r14 opt: one-pass train (target = filter of raw → both bucket
    # distributions ride one hashing pass) and a spread scoring scan
    # (the md5 feature fold is CPU-bound; a small parquet source is one
    # partition otherwise). Identical model and scores.
    model = dsir_train(docs, target_filter=F.col("lang") == "en", n_buckets=4096)
    return _spread2(docs).select(
        "doc_id", dsir_log_weight(F.col("text"), model).alias("logw")
    )


def _bench_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r7): cross-source n-gram overlap matrix
    (operators/decontaminate.py source_overlap_matrix — one hashing
    pass, per-source vocabulary dedup agg, hash-keyed self-join bounded
    by C(sources, 2) per shingle). Python-twin parity in
    tests/test_pii_decontaminate.py."""
    from zx_spark.operators.decontaminate import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir))


def _bench_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r7): PageRank (operators/graph.py) over the
    symmetrized user↔event_type co-engagement graph — one distinct to
    build the edge list, then 5 damped power iterations. Symmetric ⇒
    no dangling nodes ⇒ the LAZY iteration path: the whole run is one
    job plus two scalar setup jobs, with the persisted edge frame
    reused across iterations (iters=1 vs iters=5 measured within
    noise at sf0.1 — the row times graph-build + scan, as it should;
    iteration cost only matters at real edge counts). The
    driver-verified twin is the `pr` arm of emb_near_pairs_lsh."""
    from zx_spark.operators.graph import pagerank

    ev = _events(spark, sf_dir)
    b = ev.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.col("user_id").cast("string").alias("u"),
        F.concat(F.lit("et:"), F.col("event_type")).alias("t"),
    ).distinct()
    edges = b.select(F.col("u").alias("src"), F.col("t").alias("dst")).unionByName(
        b.select(F.col("t").alias("src"), F.col("u").alias("dst"))
    )
    return pagerank(edges, iters=5)


BENCH_COMPAT: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "f1_contains": _filter_query(Condition("props", Cmp.CONTAINS, '"k": 7')),
    # Kept for baseline continuity after the registry merge into
    # ann_cosine_suite (bench HEADLINE still times the pure top-k).
    "ann_topk": q_ann_topk,
    # Pure batch continuous-aggregate path — the driver row became the
    # three-arm q_rollup_suite (batch/routed/stream) in r5; the bench
    # keeps timing the engine path, not streaming source staging.
    "rollup_hourly_agg": q_rollup_hourly,
    # r5 s4 operators measured by the bench (no registry slot — the 50
    # rows are full; each is in-test-verified instead). First
    # measurement pins their baselines.
    "op_funnel_counts": _bench_funnel,
    "op_snapshot_diff": _bench_diff,
    "op_profile_events": _bench_profile,
    "op_incremental_dedup": _bench_incr_dedup,
    "op_retention_cohorts": _bench_retention,
    # r6 (first measurement pins them): exact tie-aware AUC of the
    # quality score against the lang label (operators/evaluate.py) and
    # per-doc duplicated-span exposure (operators/spans.py).
    "op_eval_auc": _bench_eval_auc,
    "op_dup_spans": _bench_dup_spans,
    "op_psi_drift": _bench_psi_drift,
    "op_common_paths": _bench_paths,
    # r6 s3 first-measurement pins
    "op_fuzzy_dedup": _bench_fuzzy_dedup,
    "op_cooccurrence": _bench_cooc,
    "op_dsir_score": _bench_dsir,
    # r7 first-measurement pins
    "op_source_overlap": _bench_source_overlap,
    "op_pagerank": _bench_pagerank,
    # ---- versioned pins (r6, VERDICT r5 What's-wrong #2): when a
    # driver row gains arms, its NAME keeps timing the originally
    # pinned shape and the grown row pins a fresh _v2 baseline —
    # measured drift then always means regression, never added work.
    # BASELINE.md "Per-query pin table" records the lineage.
    "g1_group_nil": q_g1_group_core,        # r2 shape (group arm only)
    "g1_group_nil_v2": q_g1_group_nil_v2,   # r6 shape (+ profile/corr/expect)
    "g1_group_nil_v3": q_g1_group_nil,      # r7 shape (+ topv arm)
    "w_gapfill": q_w_gapfill_batch,         # r5 shape (batch arms; the
    #   stream-drain arm is source staging, excluded from bench like the
    #   other streaming rows — the driver correctness row still runs it)
    "w_gapfill_v2": q_w_gapfill_batch_v2,   # r7 batch shape (+ rq6/rz6)
    "w1_aligned_windows": q_w1_aligned,     # r2 shape (tumbling arm only)
    "w1_aligned_windows_v2": q_w1_aligned_v2,  # r7 shape (+ hop arm)
    "text_quality": _bench_text_quality_v1,  # r2 shape (heuristics only)
    "text_quality_v2": q_text_quality,       # + in-query NB + LM gates
    "sampling_suite": _bench_sampling_v1,    # r4 shape (split + strat)
    "sampling_suite_v2": _sampling_suite_v2,  # r6 shape (+ mix/budget/wsamp/pack)
    "sampling_suite_v3": q_sampling_suite,   # r8 shape (+ leakage-safe-split arm)
    "dedup_exact_groups": _bench_dedup_exact_v1,  # r4 shape (exact arm)
    "dedup_exact_groups_v2": q_dedup_exact_groups,  # + snapshot-diff arm
    "dedup_minhash_pairs": _bench_minhash_v1,       # r2 shape (pairs only)
    "dedup_minhash_pairs_v2": _dedup_minhash_v2,    # r6 shape (+ components arm)
    "dedup_minhash_pairs_v3": q_dedup_minhash_pairs,  # r8 shape (+ incremental arm)
    "decontaminate_ngrams": _decontaminate_v1,  # r4→r7 shape (bench + boiler arms)
    "decontaminate_ngrams_v2": q_decontaminate,  # r8 shape (+ source-overlap arm)
    "o1_top_groups": _bench_o1_v1,            # r2 shape (top arm only)
    "o1_top_groups_v2": q_o1_top_groups,      # + multidim cube arm
}


_WINDOW_COLS = (
    "floor(min(epoch(ts)))::bigint AS window_start, "
    "floor(max(epoch(ts)))::bigint AS window_end"
)

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"

# text_tfidf bpe arm: merges re-learned by the oracle for this many
# unrolled steps — the Spark side trains with the same num_merges.
BPE_ORACLE_MERGES = 8


def _bpe_oracle_cte(k: int, max_vocab: int = 50_000) -> str:
    """Independent SQL re-derivation of ``bpe_train`` for a FIXED number
    of merges — one CTE block per merge step, so 'iterative' does not
    mean 'not SQL-expressible' (same spirit as the recursive-CTE
    closures for repeat conversions and connected components; here the
    bound is static, so plain unrolling suffices and no recursion is
    needed).

    Per step s over state v{s-1} = (word, cnt, syms LIST):
    - e: explode adjacent positions; p: weighted pair counts;
    - b: the argmax pair with bpe_train's exact ordering
      (count desc, then lexicographically smallest pair) and the
      min_frequency=2 floor — an empty b makes every later step a
      no-op, matching the trainer's early stop;
    - m/k: greedy LEFT-TO-RIGHT application — overlapping matches (runs
      of 'aaa' under merge (a,a)) resolve by keeping even offsets
      within each gaps-and-islands run, exactly the trainer's i += 2;
    - f/v: rebuild syms, dropping positions consumed by a kept merge.

    MATERIALIZED is load-bearing: e{s} and f{s} both read v{s-1}, so
    inlined CTEs would re-expand the whole chain 2^k times.

    The ``max_vocab`` cap mirrors word_counts()'s TakeOrdered truncation
    (count desc, word asc — deterministic): without it the two sides
    would train on different word tables once a corpus exceeds the cap
    (driver corpora are far below it, but the oracle must reproduce the
    trainer's contract, not the current data's)."""
    parts = [
        "wc AS MATERIALIZED (SELECT w AS word, count(*) AS cnt FROM ("
        f"SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w "
        f"ORDER BY cnt DESC, word LIMIT {max_vocab}), "
        "v0 AS MATERIALIZED (SELECT word, cnt, "
        "list_append(list_transform(range(1, length(word)+1), i -> word[i]), "
        "'</w>') AS syms FROM wc)"
    ]
    for s in range(1, k + 1):
        v = s - 1
        parts.append(
            f", e{s} AS MATERIALIZED (SELECT word, cnt, syms, "
            f"unnest(range(1, len(syms))) AS i FROM v{v}), "
            f"p{s} AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS n "
            f"FROM e{s} GROUP BY 1, 2), "
            f"b{s} AS MATERIALIZED (SELECT a, b FROM p{s} WHERE n >= 2 "
            "ORDER BY n DESC, a, b LIMIT 1), "
            f"m{s} AS (SELECT word, i FROM e{s}, b{s} "
            f"WHERE syms[i] = b{s}.a AND syms[i+1] = b{s}.b), "
            f"k{s} AS MATERIALIZED (SELECT word, i FROM ("
            "SELECT word, i, min(i) OVER (PARTITION BY word, isl) AS i0 "
            "FROM (SELECT word, i, i - row_number() OVER "
            f"(PARTITION BY word ORDER BY i) AS isl FROM m{s})) "
            "WHERE (i - i0) % 2 = 0), "
            f"f{s} AS (SELECT word, cnt, syms, "
            f"unnest(range(1, len(syms)+1)) AS i FROM v{v}), "
            f"v{s} AS MATERIALIZED (SELECT f.word, f.cnt, "
            "list(CASE WHEN km.i IS NOT NULL THEN f.syms[f.i] || f.syms[f.i+1] "
            "ELSE f.syms[f.i] END ORDER BY f.i) AS syms "
            f"FROM f{s} f "
            f"LEFT JOIN k{s} km ON km.word = f.word AND km.i = f.i "
            f"LEFT JOIN k{s} kp ON kp.word = f.word AND kp.i = f.i - 1 "
            "WHERE kp.i IS NULL GROUP BY f.word, f.cnt)"
        )
    sel = " UNION ALL ".join(
        f"SELECT {s} AS rank, a, b FROM b{s}" for s in range(1, k + 1)
    )
    return "WITH " + "".join(parts) + " " + sel


_EN_STOP = "['the','a','and','of','to','in','is','that','it','for']"
_DE_STOP = "['der','die','das','und','ist','nicht','ein','mit','für','auf']"
_FR_STOP = "['le','la','les','et','est','un','une','pour','dans','que']"
_ES_STOP = "['el','la','los','y','es','un','una','para','en','que']"


def _lang_scores() -> str:
    return (
        f"len(list_filter({_TOKS}, t -> list_contains({_EN_STOP}, t))) AS s_en, "
        f"len(list_filter({_TOKS}, t -> list_contains({_DE_STOP}, t))) AS s_de, "
        f"len(list_filter({_TOKS}, t -> list_contains({_FR_STOP}, t))) AS s_fr, "
        f"len(list_filter({_TOKS}, t -> list_contains({_ES_STOP}, t))) AS s_es"
    )


def _pii_oracle() -> str:
    """Full DuckDB twin of q_text_pii_redact: identical planted PII per
    doc_id % 7 arm, then the SAME sequential count-and-replace pass built
    from zx_spark.functions.pii.PII_PATTERNS (single source of truth for
    the regexes on both engines), md5 of the final redacted text."""
    from zx_spark.functions.pii import PII_PATTERNS

    plant = (
        "SELECT doc_id, text || CASE "
        "WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com' "
        "WHEN doc_id % 7 = 1 THEN ' from 10.' || (doc_id % 256) || '.0.1 logged' "
        "WHEN doc_id % 7 = 2 THEN ' ssn 123-45-6789 on file' "
        "WHEN doc_id % 7 = 3 THEN ' card 4111-1111-1111-1111 charged' "
        "WHEN doc_id % 7 = 4 THEN ' call +1415555' || lpad((doc_id % 10000)::VARCHAR, 4, '0') "
        "ELSE '' END AS text FROM documents"
    )
    cur = "coalesce(text, '')"
    cnts = []
    for typ, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        cnts.append(f"len(regexp_extract_all({cur}, '{p}')) AS n_{typ}")
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    total = " + ".join(f"n_{typ}" for typ, _, _ in PII_PATTERNS)
    return (
        f"WITH p AS ({plant}), "
        f"s AS (SELECT doc_id, {', '.join(cnts)}, md5({cur}) AS redacted_md5 FROM p) "
        f"SELECT doc_id, {', '.join('n_' + t for t, _, _ in PII_PATTERNS)}, "
        f"({total}) AS n_pii, redacted_md5 FROM s"
    )


def _nb_score_sql(n_buckets: int = 256) -> str:
    """SQL expression for the NB classifier score column — the weights
    come from nb_train_python (functions/classify.py) re-deriving the
    model from the raw parquet INDEPENDENTLY of Spark: exact integer
    (bucket, label) counts → micro-log-odds literals. Scoring is an
    order-free bigint sum (exact on both engines) divided once."""
    import os

    import pyarrow.parquet as pq

    from zx_spark.functions.classify import MICRO, nb_train_python

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text", "lang"])
    except OSError:
        return "NULL::DOUBLE"
    model = nb_train_python(
        list(zip(t["text"].to_pylist(), (l == "en" for l in t["lang"].to_pylist()))),
        n_buckets=n_buckets,
    )
    wlit = "[" + ", ".join(str(int(x)) for x in model["weights_micro"]) + "]"
    return (
        f"round((coalesce(list_aggregate(list_transform({_TOKS}, "
        f"t -> ({wlit})[((('0x'||substr(md5(t),1,15))::bigint % {n_buckets}) + 1)::int]), "
        f"'sum'), 0) + {int(model['prior_micro'])})::double / {float(MICRO)!r}, 6)"
    )


def _dsir_score_sql(n_buckets: int = 256, alpha: float = 0.1) -> str:
    """SQL expression for the DSIR log importance weight column — the
    micro-log-ratio array comes from dsir_train_python (functions/
    dsir.py) re-deriving the model from the raw parquet INDEPENDENTLY
    of Spark (target = lang='en' docs, raw = all docs): exact integer
    feature-bucket counts → one micro-log-ratio literal. Scoring
    replays the unigram+bigram feature walk and the order-free bigint
    sum, divided once — exact on both engines. Expects a ``toks``
    column (the shared ``_TOKS`` tokenization) in scope."""
    import os

    import pyarrow.parquet as pq

    from zx_spark.functions.dsir import MICRO, dsir_train_python

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text", "lang"])
    except OSError:
        return "NULL::DOUBLE"
    texts = t["text"].to_pylist()
    langs = t["lang"].to_pylist()
    model = dsir_train_python(
        texts,
        [x for x, lg in zip(texts, langs) if lg == "en"],
        n_buckets=n_buckets,
        alpha=alpha,
    )
    lr = "[" + ", ".join(str(int(x)) for x in model["logratio_micro"]) + "]"
    feats = (
        "list_concat(toks, CASE WHEN len(toks) > 1 THEN "
        "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
        "ELSE []::varchar[] END)"
    )
    return (
        f"CASE WHEN len(toks) > 0 THEN round(list_aggregate(list_transform({feats}, "
        f"f -> ({lr})[((('0x'||substr(md5(f),1,15))::bigint % {n_buckets}) + 1)::int]), "
        f"'sum')::double / {float(MICRO)!r}, 6) END"
    )


def _lm_score_sql(n_buckets: int = 1024, alpha: float = 0.1) -> str:
    """SQL expression for the bigram-LM average log-prob column — the
    two micro-log arrays come from lm_train_python (functions/lm.py)
    re-deriving the model from the raw parquet INDEPENDENTLY of Spark:
    exact integer bigram/context bucket counts → micro-log literals.
    Scoring replays the BOS convention and the order-free bigint sum,
    divided once — exact on both engines. Expects a ``toks`` column
    (the shared ``_TOKS`` tokenization) in scope."""
    import os

    import pyarrow.parquet as pq

    from zx_spark.functions.lm import MICRO, lm_train_python

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    except OSError:
        return "NULL::DOUBLE"
    model = lm_train_python(t["text"].to_pylist(), n_buckets=n_buckets, alpha=alpha)
    lb = "[" + ", ".join(str(int(x)) for x in model["logbi_micro"]) + "]"
    lc = "[" + ", ".join(str(int(x)) for x in model["logctx_micro"]) + "]"
    b = lambda s: f"((('0x'||substr(md5({s}),1,15))::bigint % {n_buckets}) + 1)::int"  # noqa: E731
    prev = "(CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END)"
    pair = prev + " || ' ' || toks[i]"
    return (
        "CASE WHEN len(toks) > 0 THEN "
        "round(list_aggregate(list_transform(generate_series(1, len(toks)), "
        f"i -> ({lb})[{b(pair)}] "
        f"- ({lc})[{b(prev)}]), 'sum')::double "
        f"/ ({float(MICRO)!r} * len(toks)), 6) END"
    )


def _pca_cte_sql(out_dim: int = 16, dim: int = 64) -> str:
    """CTE block for the ann_cosine_suite ``pca`` arm — the model comes
    from pca_fit_numpy (operators/reduce.py) re-deriving PCA from the raw
    parquet INDEPENDENTLY of Spark: micro-quantized vectors → EXACT
    integer moments (order-free, so bit-identical to the distributed fit
    by construction) → one eigh → micro-integer components/offsets
    embedded as literals. Projection replays the bigint dot − offset,
    one double division; cosine replays the sequential fold + 1e-12
    guard of similarity.cosine."""
    import os

    import pyarrow.parquet as pq

    from zx_spark.operators.reduce import pca_fit_numpy, pca_project_py

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    except OSError:
        return ", pc AS (SELECT vec_id, NULL::DOUBLE AS cosine FROM embeddings)"
    model = pca_fit_numpy(t["embedding"].to_pylist(), out_dim=out_dim)
    qp = pca_project_py(ANN_QUERY_VEC, model)
    # Explicit scalar arithmetic, not list-literal indexing: a nested
    # literal inside a lambda is re-constructed per element in DuckDB
    # (measured 137s vs <1s on 500 rows). Integer dot sums are exact so
    # + order is free; the double cosine folds replicate Spark's
    # left-associated aggregate(zip_with) starting from 0.0.
    pv_exprs = []
    for comp, off in zip(model["components_micro"], model["offsets_micro2"]):
        dot = " + ".join(
            f"qv[{i + 1}]*{int(c)}" for i, c in enumerate(comp) if int(c) != 0
        ) or "0"
        pv_exprs.append(f"(({dot}) - {int(off)})::double / 1000000000000.0")
    pv = "[" + ", ".join(pv_exprs) + "]"
    num = "0.0 + " + " + ".join(
        f"pv[{k + 1}]*{float(x)!r}" for k, x in enumerate(qp)
    )
    pnorm = "sqrt(0.0 + " + " + ".join(
        f"pv[{k + 1}]*pv[{k + 1}]" for k in range(out_dim)
    ) + ")"
    qnorm = "sqrt(0.0 + " + " + ".join(
        f"{float(x)!r}*{float(x)!r}" for x in qp
    ) + ")"
    return (
        ", pq0 AS (SELECT vec_id, list_transform(embedding, "
        "x -> round(x::double * 1000000)::bigint) AS qv FROM embeddings), "
        f"pp AS (SELECT vec_id, {pv} AS pv FROM pq0), "
        f"pc AS (SELECT vec_id, round(({num}) "
        f"/ greatest({pnorm} * {qnorm}, 1e-12), 6) AS cosine FROM pp)"
    )


def _decontaminate_oracle(n: int = 5, excerpt_words: int = 40, min_docs: int = 2) -> str:
    """DuckDB twin of q_decontaminate, both arms over ONE shingle scan:
    ``bench`` = first-``excerpt_words`` token runs of doc_id % 10 == 3
    documents, distinct md5-60-bit ``n``-gram hashes probed against every
    document's distinct hash set; ``boiler`` = hashes whose document
    frequency ≥ ``min_docs`` probed the same way."""
    shingle = (
        "CASE WHEN len(w) > 0 THEN "
        f"list_transform(generate_series(0, greatest(len(w)-{n}, 0)), "
        f"i -> array_to_string(w[i+1:i+{n}], ' ')) ELSE [''] END"
    )
    h = "s -> ('0x'||substr(md5(s),1,15))::bigint"
    return (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents), "
        f"bt AS (SELECT w[1:{excerpt_words}] AS w FROM toks WHERE doc_id % 10 = 3), "
        f"bsh AS (SELECT {shingle} AS sh FROM bt), "
        f"bh AS (SELECT DISTINCT unnest(list_transform(sh, {h})) AS h FROM bsh), "
        f"dsh AS (SELECT doc_id, {shingle} AS sh FROM toks), "
        f"dh AS (SELECT doc_id, list_distinct(list_transform(sh, {h})) AS hs FROM dsh), "
        "dx AS (SELECT doc_id, len(hs) AS n_ngrams, unnest(hs) AS h FROM dh), "
        "hits AS (SELECT doc_id, count(*) AS n_overlap, any_value(n_ngrams) AS n_ngrams "
        "FROM dx JOIN bh USING (h) GROUP BY doc_id), "
        f"boilh AS (SELECT h FROM (SELECT h, count(*) AS n_docs FROM dx GROUP BY h) "
        f"WHERE n_docs >= {min_docs}), "
        "bhits AS (SELECT doc_id, count(*) AS n_overlap, any_value(n_ngrams) AS n_ngrams "
        "FROM dx JOIN boilh USING (h) GROUP BY doc_id), "
        # r8 ovl arm: per-source distinct-hash vocabularies from the
        # same shingle scan (source carried through), pairwise shared
        # counts, vocabulary Jaccard. Column reuse mirrors the Spark
        # side: doc_id carries n_a, n_ngrams carries n_b.
        f"ssh AS (SELECT source, {shingle} AS sh FROM "
        f"(SELECT source, {_TOKS} AS w FROM documents WHERE source IS NOT NULL)), "
        f"sx AS (SELECT DISTINCT source, unnest(list_transform(sh, {h})) AS h FROM ssh), "
        "sz AS (SELECT source, count(*) AS n FROM sx GROUP BY source), "
        "shp AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared "
        "FROM sx a JOIN sx b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) "
        "SELECT 'bench' AS arm, doc_id, n_overlap, n_ngrams, "
        "round(n_overlap::double / n_ngrams, 6) AS ratio FROM hits "
        "UNION ALL SELECT 'boiler' AS arm, doc_id, n_overlap, n_ngrams, "
        "round(n_overlap::double / n_ngrams, 6) AS ratio FROM bhits "
        "UNION ALL SELECT 'ovl:' || sa || ':' || sb AS arm, za.n AS doc_id, "
        "n_shared AS n_overlap, zb.n AS n_ngrams, "
        "round(n_shared::double / (za.n + zb.n - n_shared), 6) AS ratio "
        "FROM shp JOIN sz za ON za.source = sa JOIN sz zb ON zb.source = sb"
    )


def _minhash_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    """The FULL MinHash-LSH pipeline in DuckDB SQL — possible because the
    Spark side deliberately uses an md5-derived base hash + affine family
    (dedup.py base_hash/minhash_from_shingles): shingle → signature → band
    string keys → candidate self-join → exact-Jaccard verify, with the
    affine coefficients interpolated from the same constants."""
    from zx_spark.operators.dedup import _MERSENNE, _MINHASH_A, _MINHASH_B

    rpb = num_hashes // bands
    sig_elems = ", ".join(
        f"coalesce(list_min(list_transform(hs, x -> ({a}*x + {b}) % {_MERSENNE})), "
        "9223372036854775807)"
        for a, b in zip(_MINHASH_A[:num_hashes], _MINHASH_B[:num_hashes])
    )
    return (
        f"WITH RECURSIVE w AS (SELECT doc_id, {_TOKS} AS w FROM documents), "
        "sh AS (SELECT doc_id, CASE WHEN len(w) > 0 THEN "
        "list_transform(generate_series(0, greatest(len(w)-3, 0)), "
        "i -> array_to_string(w[i+1:i+3], ' ')) ELSE [''] END AS sh FROM w), "
        "h AS (SELECT doc_id, sh, list_transform(sh, s -> "
        f"('0x'||substr(md5(s),1,8))::bigint % {_MERSENNE}) AS hs FROM sh), "
        f"sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM h), "
        f"bands AS (SELECT doc_id, b.band_no, array_to_string("
        f"sig[b.band_no*{rpb}+1 : b.band_no*{rpb}+{rpb}], ',') AS bk "
        f"FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS band_no) b), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b "
        "FROM bands a JOIN bands b2 ON a.band_no = b2.band_no AND a.bk = b2.bk "
        "AND a.doc_id < b2.doc_id), "
        "sets AS (SELECT doc_id, list_distinct(sh) AS ds FROM sh), "
        "j AS (SELECT id_a, id_b, "
        "round(len(list_intersect(sa.ds, sb.ds))::double / "
        "greatest(len(list_distinct(sa.ds || sb.ds)), 1), 6) AS jaccard "
        "FROM cand JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b), "
        # components arm (r6): recursive transitive closure over the
        # SAME verified pair set — label = min reachable id; the
        # UNION (set) member dedups rows so cycles terminate
        f"qp AS (SELECT id_a, id_b FROM j WHERE jaccard >= {threshold}), "
        "ed AS (SELECT id_a AS s, id_b AS d FROM qp "
        "UNION ALL SELECT id_b, id_a FROM qp), "
        "rch(node, reach) AS ("
        "  SELECT s, s FROM ed "
        "  UNION "
        "  SELECT rch.node, ed.d FROM rch JOIN ed ON ed.s = rch.reach), "
        # inc arm (r8): incremental_near_dups twin — the corpus split
        # into history (even ids) and batch (odd ids); band join from
        # the SAME bands CTE (new×old and new×new, never old×old), the
        # signature-estimated Jaccard = fraction of agreeing minhash
        # components (k/32, dyadic-exact on both engines), and the
        # +2/+4 arm-tag offsets mirroring the Spark encoding
        # SELECT DISTINCT over UNION ALL, not a bare UNION: DuckDB
        # 1.0.0 does not dedup a UNION inside this RECURSIVE WITH list
        # (observed: multi-band candidates came through 8x), so the
        # dedup is explicit
        "icand AS (SELECT DISTINCT * FROM ("
        "  SELECT a.doc_id AS new_id, b2.doc_id AS matched_id, TRUE AS hist "
        "  FROM bands a JOIN bands b2 ON a.band_no = b2.band_no AND a.bk = b2.bk "
        "  WHERE a.doc_id % 2 = 1 AND b2.doc_id % 2 = 0 "
        "  UNION ALL "
        "  SELECT a.doc_id, b2.doc_id, FALSE "
        "  FROM bands a JOIN bands b2 ON a.band_no = b2.band_no AND a.bk = b2.bk "
        "  WHERE a.doc_id % 2 = 1 AND b2.doc_id % 2 = 1 AND a.doc_id < b2.doc_id) icu), "
        f"iest AS (SELECT new_id, matched_id, hist, "
        f"round(list_sum(list_transform(generate_series(1, {num_hashes}), "
        "i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::double "
        f"/ {num_hashes}, 6) AS est "
        "FROM icand JOIN sig sa ON sa.doc_id = new_id "
        "JOIN sig sb ON sb.doc_id = matched_id) "
        f"SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold} "
        "UNION ALL "
        "SELECT node AS id_a, min(reach) AS id_b, -1.0 AS jaccard "
        "FROM rch GROUP BY node "
        "UNION ALL "
        "SELECT new_id AS id_a, matched_id AS id_b, "
        "est + CASE WHEN hist THEN 4.0 ELSE 2.0 END AS jaccard "
        f"FROM iest WHERE est >= {threshold}"
    )


def _simhash_oracle(max_hamming: int = 3) -> str:
    """The FULL SimHash pipeline in DuckDB SQL — possible because the
    Spark side uses a 60-bit md5-derived token hash (dedup.py
    _simhash_token_hash): per-bit ±1 counts → signature → 4×15-bit
    pigeonhole chunk join → bit_count(xor) Hamming verify."""
    from zx_spark.operators.dedup import _CHUNK_BITS, _SIMHASH_BITS, _SIMHASH_CHUNKS

    mask = (1 << _CHUNK_BITS) - 1
    return (
        f"WITH w AS (SELECT doc_id, {_TOKS} AS w FROM documents), "
        "h AS (SELECT doc_id, list_transform(w, t -> "
        "('0x'||substr(md5(t),1,15))::bigint) AS hs FROM w), "
        f"cnt AS (SELECT doc_id, list_transform(generate_series(0, {_SIMHASH_BITS - 1}), b -> "
        "coalesce(list_sum(list_transform(hs, x -> "
        "CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0)) AS acc FROM h), "
        f"sig AS (SELECT doc_id, list_sum(list_transform(generate_series(0, {_SIMHASH_BITS - 1}), b -> "
        "CASE WHEN acc[b+1] > 0 THEN (1::bigint << b) ELSE 0::bigint END))::bigint AS sh FROM cnt), "
        f"chunks AS (SELECT doc_id, sh, c.chunk_no, (sh >> (c.chunk_no * {_CHUNK_BITS})) & {mask} AS cv "
        f"FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {_SIMHASH_CHUNKS - 1})) AS chunk_no) c), "
        "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "bit_count(xor(a.sh, b.sh)) AS hamming "
        "FROM chunks a JOIN chunks b ON a.chunk_no = b.chunk_no AND a.cv = b.cv "
        "AND a.doc_id < b.doc_id) "
        f"SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}"
    )


def _rp_lsh_oracle(
    n_planes: int = 12,
    n_tables: int = 3,
    dim: int = 64,
    threshold: float = 0.9,
    n_cells: int = 8,
    iters: int = 5,
    sem_threshold: float = 0.95,
) -> str:
    """The FULL embedding near-dup suite in DuckDB SQL:

    - ``rp_lsh`` arm — possible because the hyperplanes are seeded numpy
      constants embedded as literals on BOTH engines (similarity.py
      _hyperplanes): plant perturbed copies, sign-bit buckets per table,
      bucket equi-join, exact cosine verify. Float note: bucket bits and
      cosines are computed from identical double literals; a sign/rounding
      flip would need |dot| within ~1e-15 of zero (hyperplane dots are
      O(1)) — negligible.
    - ``sem_pair``/``sem_drop`` arms — SemDeDup over the same planted
      union: ivf_centers_numpy re-derives the 6-dp-rounded Lloyd centers
      from the raw parquet + a pure-Python twin of the perturbation
      (pinned Spark≡numpy by tests/test_semdedup.py), so cluster
      assignment, centroid cosine (literal per-center norms), the
      within-cell pair join, and the pair-loser drop rule are all plain
      SQL over literal centers."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from zx_spark.operators.similarity import _hyperplanes, ivf_centers_numpy

    def plane_lit(p) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bucket_cols = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=1000 + t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lit(planes[i])}) > 0 "
            f"THEN {1 << i}::bigint ELSE 0::bigint END)"
            for i in range(n_planes)
        )
        bucket_cols.append(f"({bits}) AS b{t}")
    case_arms = " ".join(
        f"WHEN {t} THEN b{t}" for t in range(n_tables - 1)
    )

    # SemDeDup centers: numpy twin over (base + python-perturbed) union —
    # bit-identical to Spark's ivf_build_lloyd on the planted union.
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
    except OSError:
        return (
            "SELECT NULL::VARCHAR AS arm, NULL::BIGINT AS id_a, "
            "NULL::BIGINT AS id_b, NULL::DOUBLE AS score WHERE false"
        )
    ids = t["vec_id"].to_numpy()
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    pert = np.array(
        [
            [v + (0.01 * ((i % 5) - 2.0)) / 2.0 for i, v in enumerate(row)]
            for row in X.tolist()
        ]
    )
    centers = ivf_centers_numpy(
        np.concatenate([ids, ids + 1_000_000]), np.vstack([X, pert]), n_cells, iters
    )

    def lst(c) -> str:
        return "[" + ", ".join(repr(float(x)) for x in c) + "]"

    dists = ", ".join(
        f"(list_dot_product(v, v) - 2*list_dot_product(v, {lst(c)}) "
        f"+ {float(sum(x * x for x in c))!r})"
        for c in centers
    )
    knn_dists = ", ".join(
        f"({float(sum(x * x for x in c))!r} - 2*list_dot_product(v, {lst(c)}))"
        for c in centers
    )
    # per-cell centroid cosine: literal center + literal norm (np.sqrt of
    # the python left-assoc sum — the identical doubles semdedup.py embeds)
    ccos_arms = " ".join(
        f"WHEN {j} THEN round(list_dot_product(v, {lst(c)}) / "
        f"greatest(sqrt(list_dot_product(v, v)) * "
        f"{float(np.sqrt(sum(x * x for x in c)))!r}, 1e-12), 6)"
        for j, c in enumerate(centers)
    )
    pair_cos = (
        "round(list_dot_product(a.v, b.v) / "
        "greatest(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), "
        "1e-12), 6)"
    )
    return (
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "planted AS (SELECT vec_id + 1000000 AS vec_id, "
        "list_transform(generate_series(1, len(v)), i -> "
        "v[i] + (0.01 * (((i-1) % 5)::double - 2.0)) / 2.0) AS v FROM base), "
        "allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted), "
        f"bk AS (SELECT vec_id, v, {', '.join(bucket_cols)} FROM allv), "
        f"ex AS (SELECT vec_id, v, t.table_no, CASE t.table_no {case_arms} "
        f"ELSE b{n_tables - 1} END AS bucket FROM bk CROSS JOIN "
        f"(SELECT unnest(generate_series(0, {n_tables - 1})) AS table_no) t), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_dot_product(a.v, b.v) / "
        "greatest(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), "
        "1e-12), 6) AS cosine "
        "FROM ex a JOIN ex b ON a.table_no = b.table_no AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id), "
        f"dl AS (SELECT vec_id, v, [{dists}] AS dists FROM allv), "
        "asg AS (SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell "
        "FROM dl), "
        # knn probe list: the SAME |c|^2 - 2 v.c expression knn_pairs
        # sorts (no |v|^2 term — adding a constant could flip fp-close
        # orderings), struct-sorted by (distance, cell), first nprobe=2
        f"dk AS (SELECT vec_id, v, [{knn_dists}] AS d2 FROM allv), "
        "qx AS (SELECT vec_id AS qid, v AS qv, unnest(list_transform(list_sort("
        "list_transform(generate_series(1, " f"{n_cells}" "), "
        "j -> {'d': d2[j], 'c': j - 1})), s -> s.c)[1:2]) AS pc FROM dk), "
        f"cc AS (SELECT vec_id, v, cell, CASE cell {ccos_arms} END AS ccos FROM asg), "
        "sp AS (SELECT * FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"{pair_cos} AS score, a.ccos AS ccos_a, b.ccos AS ccos_b "
        "FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id) "
        f"WHERE score >= {sem_threshold}), "
        "dropped AS (SELECT DISTINCT CASE WHEN (ccos_a < ccos_b) OR "
        "(ccos_a = ccos_b AND id_a < id_b) THEN id_b ELSE id_a END AS id_a FROM sp) "
        ", kn0 AS (SELECT qx.qid, cc.vec_id AS nid, "
        "round(list_dot_product(qx.qv, cc.v) / "
        "greatest(sqrt(list_dot_product(qx.qv, qx.qv)) * "
        "sqrt(list_dot_product(cc.v, cc.v)), 1e-12), 6) AS score "
        "FROM qx JOIN cc ON cc.cell = qx.pc AND cc.vec_id != qx.qid), "
        "kn AS (SELECT qid, nid, score FROM (SELECT qid, nid, score, "
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn "
        "FROM kn0) WHERE rn <= 2) "
        # sctm CTEs (r9): the benchmark normalization divides by
        # (norm + 1e-12) — the operator's numpy formula, exact
        # cross-engine because the 1/64-grid squares sum exactly in any
        # order; the corpus normalization divides by greatest(norm,
        # 1e-12) — the operator's jvm formula, in-engine on both sides
        # (the rp_lsh sequential-fold parity contract)
        ", scb AS (SELECT vec_id AS bid, "
        "list_transform(v, x -> round(x * 64) / 64) AS bq "
        "FROM planted WHERE vec_id < 1000064), "
        "scbn AS (SELECT bid, list_transform(bq, x -> x / "
        "(sqrt(list_dot_product(bq, bq)) + 1e-12)) AS bn FROM scb), "
        "sccn AS (SELECT vec_id, list_transform(v, x -> x / "
        "greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn FROM base), "
        "scs AS MATERIALIZED (SELECT c.vec_id AS id_a, b.bid, "
        "round(list_dot_product(c.vn, b.bn), 6) AS s "
        "FROM sccn c CROSS JOIN scbn b), "
        "scm AS (SELECT id_a, max(s) AS best FROM scs GROUP BY id_a) "
        # pr arm: 5 unrolled damped power iterations over the kn edge
        # list. Every vector is a qid (out-degree 2, no dangling), so
        # each step is exactly base + 0.85*coalesce(sum(r/od), 0) — the
        # association the Spark operator uses. MATERIALIZED stops the
        # chain re-inlining (round-6 BPE lesson).
        ", prn AS (SELECT qid AS node FROM kn UNION SELECT nid FROM kn), "
        "pnn AS (SELECT count(*)::double AS n FROM prn), "
        "pod AS (SELECT qid, count(*)::double AS od FROM kn GROUP BY qid), "
        "pr0 AS MATERIALIZED (SELECT node, 1.0/(SELECT n FROM pnn) AS r FROM prn), "
        + " ".join(
            f"pr{t + 1} AS MATERIALIZED (SELECT n.node, "
            "(1.0-0.85)/(SELECT n FROM pnn) + 0.85*coalesce(s.m, 0.0) AS r "
            "FROM prn n LEFT JOIN (SELECT kn.nid AS node, "
            f"sum(p.r/pod.od) AS m FROM kn JOIN pr{t} p ON p.node = kn.qid "
            "JOIN pod ON pod.qid = kn.qid GROUP BY kn.nid) s USING (node)),"
            for t in range(5)
        ).rstrip(",")
        + " "
        f"SELECT 'rp_lsh' AS arm, id_a, id_b, cosine AS score FROM cand "
        f"WHERE cosine >= {threshold} "
        "UNION ALL SELECT 'sem_pair' AS arm, id_a, id_b, score FROM sp "
        "UNION ALL SELECT 'sem_drop' AS arm, id_a, NULL::BIGINT AS id_b, "
        "NULL::DOUBLE AS score FROM dropped "
        "UNION ALL SELECT 'knn' AS arm, qid AS id_a, nid AS id_b, score FROM kn "
        "UNION ALL SELECT 'pr' AS arm, node AS id_a, NULL::BIGINT AS id_b, "
        "round(r, 6) AS score FROM pr5 "
        # tri arm: symmetrize kn to the canonical (min, max) undirected
        # edge list, enumerate each triangle once as an ordered triple
        # (a < b < c via the ascending join conditions), credit all
        # three corners; only triangle members are emitted (Spark side
        # filters triangles > 0)
        "UNION ALL SELECT 'tri' AS arm, node AS id_a, NULL::BIGINT AS id_b, "
        "cnt::DOUBLE AS score FROM ("
        "  WITH tund AS (SELECT DISTINCT least(qid, nid) a, greatest(qid, nid) b FROM kn), "
        "  ttri AS (SELECT e1.a x, e1.b y, e2.b z FROM tund e1 "
        "    JOIN tund e2 ON e2.a = e1.a AND e2.b > e1.b "
        "    JOIN tund e3 ON e3.a = e1.b AND e3.b = e2.b) "
        "  SELECT node, count(*) cnt FROM (SELECT unnest([x, y, z]) node FROM ttri) "
        "  GROUP BY node)"
        # sctm arm (r9): semantic contamination vs the quantized
        # 64-twin eval set (CTEs scs/scm above). min(bid) over the
        # argmax set == the operator's first-index tie rule because
        # bench collect order is bid-ascending and max-score ties are
        # measure-zero on this construction.
        " UNION ALL SELECT 'sctm' AS arm, s.id_a, min(s.bid) AS id_b, "
        "m.best AS score FROM scs s "
        "JOIN scm m ON s.id_a = m.id_a AND s.s = m.best "
        "WHERE m.best >= 0.9 GROUP BY s.id_a, m.best"
    )


def _sampling_oracle() -> str:
    """The FULL sampling suite in DuckDB SQL — possible because
    sampling._bucket's md5 mode is ANSI-reproducible:
    ``('0x'||substr(md5(key||':seed'),1,15))::bigint % 1000000``. The
    split bounds come from the same ``split_bounds`` helper the Spark
    operator uses, so the integer cutoffs are IDENTICAL constants.

    The r8 ``lss`` arm re-derives the ENTIRE leakage-safe split: the
    MinHash-LSH pair set (same chain as _minhash_oracle, l-prefixed
    CTE names), a recursive transitive closure for the component
    labels, then the same md5 bucket applied to
    coalesce(component, doc_id)."""
    from zx_spark.operators.dedup import _MERSENNE, _MINHASH_A, _MINHASH_B
    from zx_spark.operators.sampling import _BUCKETS, split_bounds

    def bucket(seed: int) -> str:
        # coalesce mirrors sampling._bucket's NULL-key sentinel
        return (
            f"('0x'||substr(md5(coalesce(doc_id::VARCHAR, '__null__') || ':{seed}'),1,15))"
            f"::bigint % {_BUCKETS}"
        )

    b = split_bounds([0.8, 0.1, 0.1])
    rate_cut = int(0.25 * _BUCKETS)
    # lss arm constants: MinHash signature elements (num_hashes=32,
    # bands=8 — near_dup_pairs defaults) and the [0.8, 0.2] bounds
    lb = split_bounds([0.8, 0.2])
    lsig_elems = ", ".join(
        f"coalesce(list_min(list_transform(hs, x -> ({a}*x + {b_}) % {_MERSENNE})), "
        "9223372036854775807)"
        for a, b_ in zip(_MINHASH_A[:32], _MINHASH_B[:32])
    )
    lkey_bucket = (
        "('0x'||substr(md5(coalesce(lk.key::VARCHAR, '__null__') || ':7'),1,15))"
        f"::bigint % {_BUCKETS}"
    )
    lss_ctes = (
        f"lw AS (SELECT doc_id, {_TOKS} AS w FROM documents), "
        "lsh AS (SELECT doc_id, CASE WHEN len(w) > 0 THEN "
        "list_transform(generate_series(0, greatest(len(w)-3, 0)), "
        "i -> array_to_string(w[i+1:i+3], ' ')) ELSE [''] END AS sh FROM lw), "
        "lh AS (SELECT doc_id, sh, list_transform(sh, s -> "
        f"('0x'||substr(md5(s),1,8))::bigint % {_MERSENNE}) AS hs FROM lsh), "
        f"lsig AS (SELECT doc_id, [{lsig_elems}] AS sig FROM lh), "
        "lbands AS (SELECT doc_id, lb.band_no, array_to_string("
        "sig[lb.band_no*4+1 : lb.band_no*4+4], ',') AS bk "
        "FROM lsig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band_no) lb), "
        "lcand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b "
        "FROM lbands a JOIN lbands b2 ON a.band_no = b2.band_no AND a.bk = b2.bk "
        "AND a.doc_id < b2.doc_id), "
        "lsets AS (SELECT doc_id, list_distinct(sh) AS ds FROM lsh), "
        "lqp AS (SELECT id_a, id_b FROM ("
        "SELECT id_a, id_b, round(len(list_intersect(sa.ds, sb.ds))::double / "
        "greatest(len(list_distinct(sa.ds || sb.ds)), 1), 6) AS j "
        "FROM lcand JOIN lsets sa ON sa.doc_id = id_a "
        "JOIN lsets sb ON sb.doc_id = id_b) WHERE j >= 0.5), "
        "led AS (SELECT id_a AS s, id_b AS d FROM lqp "
        "UNION ALL SELECT id_b, id_a FROM lqp), "
        "lrch(node, reach) AS (SELECT s, s FROM led "
        "UNION SELECT lrch.node, led.d FROM lrch JOIN led ON led.s = lrch.reach), "
        "lcomp AS (SELECT node, min(reach) AS comp FROM lrch GROUP BY node), "
        "lk AS (SELECT d.doc_id, coalesce(lcomp.comp, d.doc_id) AS key "
        "FROM documents d LEFT JOIN lcomp ON lcomp.node = d.doc_id), "
        f"lsp AS (SELECT doc_id, CASE WHEN {lkey_bucket} < {lb[0]} THEN 0 "
        "ELSE 1 END AS split FROM lk), "
        "lss_agg AS (SELECT 'lss' AS part_kind, split::VARCHAR AS part_key, "
        "count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum FROM lsp GROUP BY split)"
    )
    import math

    whens = []
    for g, rate in MIX_RATES.items():
        base = int(math.floor(rate))
        cut = int((float(rate) - float(math.floor(rate))) * _BUCKETS)
        frac = f" + CASE WHEN {bucket(11)} < {cut} THEN 1 ELSE 0 END" if cut else ""
        whens.append(f"WHEN source = '{g}' THEN {base}{frac}")
    mix_case = " ".join(whens)
    return (
        # split arm: hash_sample(0.25, seed 13) → train_test_split(seed 7)
        f"WITH RECURSIVE {lss_ctes}, "
        f"samp AS (SELECT doc_id FROM documents WHERE {bucket(13)} < {rate_cut}), "
        f"sp AS (SELECT doc_id, CASE WHEN {bucket(7)} < {b[0]} THEN 0 "
        f"WHEN {bucket(7)} < {b[1]} THEN 1 ELSE 2 END AS split FROM samp), "
        "split_agg AS (SELECT 'split' AS part_kind, split::VARCHAR AS part_key, "
        "count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum FROM sp GROUP BY split), "
        # strat arm: stratified_sample(n=10 per source, seed 3) — hash
        # order with doc_id tiebreak, same as the Spark window
        f"r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source "
        f"ORDER BY {bucket(3)}, doc_id) AS rn FROM documents), "
        "strat_agg AS (SELECT 'strat' AS part_kind, source AS part_key, "
        "count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum FROM r WHERE rn <= 10 "
        "GROUP BY source), "
        # mix arm: mix_by_rates(MIX_RATES, seed 11) — n_copies =
        # floor(rate) + [bucket < frac-cutoff], copies numbered by a
        # lateral generate_series. Cutoffs are precomputed with the SAME
        # IEEE double ops as the Spark expression ((rate − floor)·1e6
        # truncated), since DuckDB's double→bigint cast ROUNDS.
        f"mx AS (SELECT doc_id, source, CASE {mix_case} ELSE 0 END AS n_copies "
        "FROM documents), "
        "mixed AS (SELECT doc_id, source, "
        "unnest(range(1, n_copies + 1)) AS copy_no FROM mx), "
        "mix_agg AS (SELECT 'mix' AS part_kind, "
        "source || ':' || copy_no::VARCHAR AS part_key, "
        "count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum FROM mixed "
        "GROUP BY 1, 2), "
        # budget arm: token_budget per source (id_sum carries n_tokens)
        "budget_agg AS (SELECT 'budget' AS part_kind, source AS part_key, "
        "count(*) AS n_docs, "
        "sum(len(regexp_extract_all(coalesce(text, ''), "
        "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')))::BIGINT AS id_sum "
        "FROM documents GROUP BY source), "
        # wsamp arm: weighted_sample_n(120, w=n_chars, seed 17) —
        # Efraimidis-Spirakis priority ln((bucket+0.5)/1e6)/w, top 120
        # by (priority DESC, doc_id)
        f"wp AS (SELECT doc_id, source, "
        f"ln(({bucket(17)} + 0.5) / {float(_BUCKETS)}) / n_chars AS pri "
        "FROM documents WHERE n_chars > 0), "
        "wtop AS (SELECT doc_id, source FROM wp "
        "ORDER BY pri DESC, doc_id LIMIT 120), "
        "wsamp_agg AS (SELECT 'wsamp' AS part_kind, source AS part_key, "
        "count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum FROM wtop "
        "GROUP BY source), "
        # pack arm (r6, operators/packing.py twin): concat packing of
        # n_chars ordered by doc_id into 512-token windows — the global
        # running sum as a window cumsum; '__splits' pins the
        # boundary-crossing documents (integer // division = floor,
        # matching Spark's nonneg truncating cast)
        "pk AS (SELECT doc_id, n_chars, "
        "coalesce(sum(n_chars) OVER (ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ts "
        "FROM documents), "
        "pack_agg AS (SELECT 'pack' AS part_kind, "
        "(ts // 512)::VARCHAR AS part_key, count(*) AS n_docs, "
        "sum(doc_id)::BIGINT AS id_sum FROM pk GROUP BY ts // 512), "
        "pack_splits AS (SELECT 'pack' AS part_kind, "
        "'__splits' AS part_key, count(*) AS n_docs, "
        "coalesce(sum(doc_id), 0)::BIGINT AS id_sum FROM pk "
        "WHERE ts // 512 <> (ts + n_chars - 1) // 512) "
        "SELECT * FROM split_agg UNION ALL SELECT * FROM strat_agg "
        "UNION ALL SELECT * FROM mix_agg UNION ALL SELECT * FROM budget_agg "
        "UNION ALL SELECT * FROM wsamp_agg UNION ALL SELECT * FROM pack_agg "
        "UNION ALL SELECT * FROM pack_splits "
        "UNION ALL SELECT * FROM lss_agg"
    )


def _ivf_pq_oracle(
    n_cells: int = 8,
    iters: int = 5,
    nprobe: int = 4,
    k: int = 10,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_iters: int = 3,
    shortlist: int = 50,
) -> str:
    """The FULL IVF + PQ ANN suite in DuckDB SQL — possible because both
    quantizers round every communicated center to 6 decimals, so
    ``ivf_centers_numpy`` / ``pq_codebooks_numpy`` re-derive bit-identical
    centers/codebooks from the raw parquet without Spark. Those are
    embedded as double literals:

    - assignment / PQ encoding = argmin of the |v|² − 2v·c + |c|²
      expansion (list_position → first-index ties, same as Spark's
      array_position);
    - ADC scoring = the same driver-side m×k dot-product table (9-dp
      rounded literals) summed LEFT-ASSOCIATED in subspace order —
      bit-identical fp to ``pq_topk``'s sequential fold;
    - ivfpq = probed-cell ADC shortlist (ordered by 6-dp-rounded score,
      vec_id — Spark shortlists on the rounded score too) then exact
      cosine re-rank.

    The parquet path defaults to the driver's fixed sf0.01 correctness
    scale; ``SPARK_GRAFT_ORACLE_SF_DIR`` overrides it so
    tools/check_correctness.py stays usable at other sf dirs."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from zx_spark.operators.similarity import (
        ivf2_from_centers,
        ivf_centers_numpy,
        pq_codebooks_numpy,
        probe_cells,
        probe_cells_2level,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
    except OSError:
        # Missing testdata must fail ONLY this query's comparison, not
        # blow up the whole oracle_sql() dict.
        return (
            "SELECT NULL::VARCHAR AS arm, NULL::BIGINT AS vec_id, "
            "NULL::DOUBLE AS score WHERE false"
        )
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    centers = ivf_centers_numpy(t["vec_id"].to_numpy(), X, n_cells, iters)
    cells = probe_cells(centers, ANN_QUERY_VEC, nprobe)
    # ivf2 arm (r9): same super derivation + partial two-level probe
    # selection as the Spark side, entirely on the twin centers
    sup, kids = ivf2_from_centers(centers, n_super=3)
    cells2 = probe_cells_2level(
        centers, sup, kids, ANN_QUERY_VEC, nprobe, p_super=2
    )
    # ivfh arm (r10): replay the sampled-HIER fit. The Spark side
    # collects the md5-FIRST sample_n=2^20 rows in (md5(str(id)), id)
    # order before fitting, and the per-cell Lloyd means sum in INPUT
    # order — so the twin must apply the SAME cap and order (_md5_take
    # is the library's one sample-order primitive; fitting on all rows
    # would diverge the moment an override sf dir exceeds 2^20
    # embeddings — r10 review finding).
    from zx_spark.operators.similarity import _md5_take, ivf2_fit_hier

    ids_arr = t["vec_id"].to_numpy()
    horder = _md5_take(ids_arr, min(1 << 20, len(ids_arr)))
    hcent, hsup, hkids = ivf2_fit_hier(
        ids_arr[horder], X[horder], n_cells=n_cells
    )
    hcells = probe_cells_2level(
        hcent, hsup, hkids, ANN_QUERY_VEC, nprobe, p_super=2
    )
    # dist arm (r11): replay the DISTRIBUTED fit with its library twin
    # (ivf2_fit_dist_numpy — test-pinned ≡ ivf2_fit_dist exactly: md5
    # super sample, exact owner argmin, full-count apportionment,
    # ascending-id block fit order), then the same partial two-level
    # probe selection as the Spark serving path.
    from zx_spark.operators.similarity import ivf2_fit_dist_numpy

    dcent, dsup, dkids = ivf2_fit_dist_numpy(
        ids_arr, X, n_cells=n_cells, super_sample_n=1 << 20
    )
    dcells = probe_cells_2level(
        dcent, dsup, dkids, ANN_QUERY_VEC, nprobe, p_super=2
    )
    e2 = [0.0, 1.0] + [0.0] * 62
    cells_q1 = probe_cells(centers, e2, nprobe)
    # dsb arms (r13): the direct-path store serve probes through the SAME
    # partial two-level selection as the ivf2 arm — per query
    cells2_q1 = probe_cells_2level(centers, sup, kids, e2, nprobe, p_super=2)
    books = pq_codebooks_numpy(X, pq_m, pq_k, pq_iters)
    dim = X.shape[1]
    sub = dim // pq_m

    def lst(c) -> str:
        return "[" + ", ".join(repr(float(x)) for x in c) + "]"

    dists = ", ".join(
        f"(list_dot_product(v, v) - 2*list_dot_product(v, {lst(c)}) "
        f"+ {float(sum(x * x for x in c))!r})"
        for c in centers
    )
    # per-subspace PQ codes: |c|² − 2·sv·c argmin over literal centers
    # (the constant |sv|² term is dropped, same as _pq_codes_expr)
    code_exprs = []
    for s in range(pq_m):
        sv = f"v[{s * sub + 1}:{(s + 1) * sub}]"
        dl = ", ".join(
            f"({float(sum(x * x for x in c))!r} - 2*list_dot_product({sv}, {lst(c)}))"
            for c in books[s]
        )
        code_exprs.append(f"list_position([{dl}], list_min([{dl}])) - 1 AS c{s}")
    # ADC table: m×k query-subvector · center dots, 9-dp rounded — the
    # identical literals pq_topk embeds
    table = []
    for s in range(pq_m):
        q_sub = ANN_QUERY_VEC[s * sub : (s + 1) * sub]
        for j in range(pq_k):
            table.append(
                round(sum(float(a) * float(b) for a, b in zip(q_sub, books[s][j])), 9)
            )
    # second query's ADC table for the pqb batch arms (r7)
    e2_vec = [0.0, 1.0] + [0.0] * 62
    table1 = []
    for s in range(pq_m):
        q_sub = e2_vec[s * sub : (s + 1) * sub]
        for j in range(pq_k):
            table1.append(
                round(sum(float(a) * float(b) for a, b in zip(q_sub, books[s][j])), 9)
            )
    adc_sum = "0.0" + "".join(
        f" + t[{s * pq_k} + c{s} + 1]" for s in range(pq_m)
    )
    in_cells = ", ".join(str(c) for c in cells)
    cos = "round(v[1] / greatest(sqrt(list_dot_product(v, v)), 1e-12), 6)"
    return (
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"d AS (SELECT vec_id, v, [{dists}] AS dl FROM base), "
        "a AS (SELECT vec_id, v, list_position(dl, list_min(dl)) - 1 AS cell FROM d), "
        f"codes AS (SELECT vec_id, v, cell, {', '.join(code_exprs)} FROM a), "
        f"tbl AS (SELECT {lst(table)} AS t), "
        f"adc AS (SELECT vec_id, cell, round({adc_sum}, 6) AS score FROM codes, tbl), "
        f"ivf_arm AS (SELECT 'ivf' AS arm, vec_id, {cos} AS score "
        f"FROM a WHERE cell IN ({in_cells}) ORDER BY score DESC, vec_id LIMIT {k}), "
        "pq_arm AS (SELECT 'pq_adc' AS arm, vec_id, score FROM adc "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        f"short AS (SELECT vec_id FROM adc WHERE cell IN ({in_cells}) "
        f"ORDER BY score DESC, vec_id LIMIT {shortlist}), "
        f"ivfpq_arm AS (SELECT 'ivfpq' AS arm, a.vec_id, {cos} AS score "
        f"FROM a JOIN short USING (vec_id) WHERE cell IN ({in_cells}) "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # batch arms: per-query probe sets from the SAME probe_cells over
        # the twin centers; scoring identical to the single-query arm
        f"b0 AS (SELECT 'ivfb_q0' AS arm, vec_id, {cos} AS score "
        f"FROM a WHERE cell IN ({in_cells}) ORDER BY score DESC, vec_id LIMIT {k}), "
        "b1 AS (SELECT 'ivfb_q1' AS arm, vec_id, "
        "round(v[2] / greatest(sqrt(list_dot_product(v, v)), 1e-12), 6) AS score "
        f"FROM a WHERE cell IN ({', '.join(str(c) for c in cells_q1)}) "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # pqb batch-ADC arms (r7): query 0 reuses the adc scores; query 1
        # replays the same left-associated sum over ITS literal table
        f"tbl1 AS (SELECT {lst(table1)} AS t), "
        f"adc1 AS (SELECT vec_id, round({adc_sum}, 6) AS score FROM codes, tbl1), "
        "pb0 AS (SELECT 'pqb_q0' AS arm, vec_id, score FROM adc "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        "pb1 AS (SELECT 'pqb_q1' AS arm, vec_id, score FROM adc1 "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # sivf (r7): the drained streaming store holds exactly the corpus
        # assigned by the same literal centers — serving from it must
        # equal the batch ivf arm, so the twin IS that derivation re-tagged
        f"sivf_arm AS (SELECT 'sivf' AS arm, vec_id, {cos} AS score "
        f"FROM a WHERE cell IN ({in_cells}) ORDER BY score DESC, vec_id LIMIT {k}), "
        # ivf2 (r9): assignment at p_super=n_super equals the flat argmin
        # (CTE `a`); the partial (p_super=2) two-level probe selection is
        # re-derived driver-side (probe_cells_2level over the twin
        # centers' super level) and embedded as literal cell ids
        f"ivf2_arm AS (SELECT 'ivf2' AS arm, vec_id, {cos} AS score "
        # degenerate stores can probe zero cells (both selected supers
        # childless) — `IN ()` is a syntax error, so emit FALSE
        f"FROM a WHERE {'cell IN (' + ', '.join(str(c) for c in cells2) + ')' if cells2 else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # ivfh (r10): flat-argmin assignment over the HIER-fit centers
        # (Spark assigns at p_super = n_super, ≡ the flat argmin) +
        # the partial two-level probe replayed as literal cell ids
        f"dh AS (SELECT vec_id, v, [{', '.join(f'(list_dot_product(v, v) - 2*list_dot_product(v, {lst(c)}) + {float(sum(x * x for x in c))!r})' for c in hcent)}] AS dl FROM base), "
        "ah AS (SELECT vec_id, v, list_position(dl, list_min(dl)) - 1 AS cell FROM dh), "
        f"ivfh_arm AS (SELECT 'ivfh' AS arm, vec_id, {cos} AS score "
        f"FROM ah WHERE {'cell IN (' + ', '.join(str(c) for c in hcells) + ')' if hcells else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # dist (r11): flat-argmin assignment over the DIST-fit centers
        # (Spark assigns at p_super = n_super, ≡ the flat argmin) +
        # the partial two-level probe replayed as literal cell ids
        f"dd AS (SELECT vec_id, v, [{', '.join(f'(list_dot_product(v, v) - 2*list_dot_product(v, {lst(c)}) + {float(sum(x * x for x in c))!r})' for c in dcent)}] AS dl FROM base), "
        "ad AS (SELECT vec_id, v, list_position(dl, list_min(dl)) - 1 AS cell FROM dd), "
        f"dist_arm AS (SELECT 'dist' AS arm, vec_id, {cos} AS score "
        f"FROM ad WHERE {'cell IN (' + ', '.join(str(c) for c in dcells) + ')' if dcells else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # dsb (r13): direct-path store serving — the written (super, cell)
        # directories ARE the probe's cell filter, so the twin is the same
        # flat-argmin assignment + per-query literal two-level probe list
        f"dsb0 AS (SELECT 'dsb_q0' AS arm, vec_id, {cos} AS score "
        f"FROM a WHERE {'cell IN (' + ', '.join(str(c) for c in cells2) + ')' if cells2 else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        "dsb1 AS (SELECT 'dsb_q1' AS arm, vec_id, "
        "round(v[2] / greatest(sqrt(list_dot_product(v, v)), 1e-12), 6) AS score "
        f"FROM a WHERE {'cell IN (' + ', '.join(str(c) for c in cells2_q1) + ')' if cells2_q1 else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        # dsl (r14): seed-write + append + compact rebuilds the SAME
        # store content, so the lifecycle twin is the dsb twin under the
        # dsl arm tags — hash equality pins that ingest changed nothing
        f"dsl0 AS (SELECT 'dsl_q0' AS arm, vec_id, {cos} AS score "
        f"FROM a WHERE {'cell IN (' + ', '.join(str(c) for c in cells2) + ')' if cells2 else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}), "
        "dsl1 AS (SELECT 'dsl_q1' AS arm, vec_id, "
        "round(v[2] / greatest(sqrt(list_dot_product(v, v)), 1e-12), 6) AS score "
        f"FROM a WHERE {'cell IN (' + ', '.join(str(c) for c in cells2_q1) + ')' if cells2_q1 else 'false'} "
        f"ORDER BY score DESC, vec_id LIMIT {k}) "
        "SELECT * FROM ivf_arm UNION ALL SELECT * FROM pq_arm "
        "UNION ALL SELECT * FROM ivfpq_arm "
        "UNION ALL SELECT * FROM b0 UNION ALL SELECT * FROM b1 "
        "UNION ALL SELECT * FROM pb0 UNION ALL SELECT * FROM pb1 "
        "UNION ALL SELECT * FROM sivf_arm UNION ALL SELECT * FROM ivf2_arm "
        "UNION ALL SELECT * FROM ivfh_arm UNION ALL SELECT * FROM dist_arm "
        "UNION ALL SELECT * FROM dsb0 UNION ALL SELECT * FROM dsb1 "
        "UNION ALL SELECT * FROM dsl0 UNION ALL SELECT * FROM dsl1"
    )


def _weighted_funnel_oracle() -> str:
    """a_weighted_suite: the A1/A4/A6 weighted arm (MEAN truncates the
    rate to an integer, reference src/lib.rs:643-646) plus the funnel
    and retention arms. The funnel oracle is an INDEPENDENT greedy
    formulation — sequential filtered mins (earliest step-1, earliest
    later step-2, ...) — equivalent to the operator's k-slot fold by
    the greedy-exchange argument; the retention oracle is the plain
    first-seen × later-activity grid."""
    # vq: the 1/64ths quantization matching the Spark side — with the
    # {1, 1.5, 2, 2.5} rates every term is m/128, so the float sums are
    # exact and order-free in both engines (see q_a_weighted_suite).
    vq = "(round(value * 64) / 64)"
    wagg = (
        "SELECT coalesce(event_type, '__nil') AS g_event_type, "
        f"{_WINDOW_COLS}, "
        f"round(sum(coalesce({vq}, 0) * {_RATE_SQL}), 2) AS sum__value, "
        f"round(sum(CASE WHEN value IS NOT NULL THEN {_RATE_SQL} ELSE 0 END), 2) "
        "AS count__value, "
        f"round(sum(CASE WHEN value IS NOT NULL THEN {vq} * floor({_RATE_SQL}) END) "
        f"/ sum(CASE WHEN value IS NOT NULL THEN floor({_RATE_SQL}) END), 6) "
        "AS mean__value "
        "FROM events GROUP BY coalesce(event_type, '__nil')"
    )
    steps = ["view", "click", "purchase"]  # == FUNNEL_STEPS
    funnel_ctes = (
        "fev AS (SELECT user_id, epoch(ts) AS fts, event_type FROM events "
        "        WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
        f"fa AS (SELECT user_id, min(fts) AS t1 FROM fev "
        f"       WHERE event_type = '{steps[0]}' GROUP BY user_id), "
        f"fb AS (SELECT e.user_id, min(e.fts) AS t2 FROM fev e JOIN fa USING (user_id) "
        f"       WHERE e.event_type = '{steps[1]}' AND e.fts > fa.t1 GROUP BY e.user_id), "
        f"fc AS (SELECT e.user_id, min(e.fts) AS t3 FROM fev e JOIN fb USING (user_id) "
        f"       WHERE e.event_type = '{steps[2]}' AND e.fts > fb.t2 GROUP BY e.user_id), "
        "fn AS (SELECT (SELECT count(*) FROM fa) AS n1, "
        "              (SELECT count(*) FROM fb) AS n2, "
        "              (SELECT count(*) FROM fc) AS n3)"
    )
    funnel_rows = " UNION ALL ".join(
        f"SELECT '{tag}:{step}', {i + 1}::bigint, 0::bigint, "
        f"round(n{i + 1}::double / n1, 6), n{i + 1}::double, NULL::double "
        f"FROM fn WHERE n{i + 1} > 0"
        # 'sfunnel:' (r6): the drained streaming-funnel twin must match
        # the SAME sequential-filtered-mins derivation row for row
        for tag in ("funnel", "sfunnel")
        for i, step in enumerate(steps)
    )
    retention_ctes = (
        "rev AS (SELECT user_id, floor(epoch(ts) / 86400) AS b FROM events "
        "        WHERE user_id IS NOT NULL), "
        "rfirst AS (SELECT user_id, min(b) AS cohort FROM rev GROUP BY user_id), "
        "ract AS (SELECT DISTINCT r.user_id, r.b, f.cohort "
        "         FROM rev r JOIN rfirst f USING (user_id)), "
        "rgrid AS (SELECT cohort, (b - cohort)::int AS off, count(*) AS n "
        "          FROM ract GROUP BY 1, 2)"
    )
    # 'sretention' (r6): the drained streaming-retention twin must match
    # the same first-seen × later-activity grid row for row
    retention_rows = (
        "SELECT t.tag, (cohort * 86400)::bigint, off::bigint, "
        "round(n::double / (max(CASE WHEN off = 0 THEN n END) "
        "  OVER (PARTITION BY cohort)), 6), "
        "n::double, NULL::double FROM rgrid "
        "CROSS JOIN (VALUES ('retention'), ('sretention')) AS t(tag)"
    )
    # conv arm (r6): the reset-on-completion fold as a RECURSIVE CTE —
    # each recursion level completes one more journey via nested
    # correlated step-mins strictly after the previous completion.
    # NOTE: check_correctness/the driver prepend WITH for shared CTEs;
    # DuckDB accepts RECURSIVE on a member CTE list via `WITH RECURSIVE`
    # only at the head, so the whole query is wrapped with RECURSIVE.
    conv_ctes = (
        f"cev AS (SELECT user_id, epoch(ts) AS cts, event_type FROM events "
        f"        WHERE user_id IS NOT NULL AND ts IS NOT NULL "
        f"        AND event_type IN ('{steps[0]}', '{steps[1]}', '{steps[2]}')), "
        "cj(cuser, cn, cend) AS ("
        "  SELECT DISTINCT user_id, 0::BIGINT, '-infinity'::DOUBLE FROM cev "
        "  UNION ALL "
        "  SELECT cuser, cn + 1, t3 FROM ("
        "    SELECT cj.cuser, cj.cn, "
        f"      (SELECT min(p.cts) FROM cev p WHERE p.user_id = cj.cuser "
        f"         AND p.event_type = '{steps[2]}' AND p.cts > ("
        f"           SELECT min(c.cts) FROM cev c WHERE c.user_id = cj.cuser "
        f"             AND c.event_type = '{steps[1]}' AND c.cts > ("
        f"               SELECT min(v.cts) FROM cev v WHERE v.user_id = cj.cuser "
        f"                 AND v.event_type = '{steps[0]}' AND v.cts > cj.cend))) AS t3 "
        "    FROM cj) WHERE t3 IS NOT NULL)"
    )
    # 'sconv' (r6): the drained streaming conversion twin must match the
    # same recursive derivation row for row
    conv_rows = (
        "SELECT t.tag, cuser::bigint, max(cn)::bigint, "
        "round(max(cend), 6), max(cn)::double, NULL::double "
        "FROM cj CROSS JOIN (VALUES ('conv'), ('sconv')) AS t(tag) "
        "GROUP BY t.tag, cuser HAVING max(cn) > 0"
    )
    # path arm (r6): per-user ordered step sequences → trigram explode →
    # deterministic top-15 (count desc, path asc)
    path_ctes = (
        "pe AS (SELECT user_id, event_type, epoch(ts) AS pt, event_id "
        "       FROM events WHERE user_id IS NOT NULL "
        "       AND event_type IS NOT NULL AND ts IS NOT NULL), "
        "pseq AS (SELECT user_id, "
        "  list(event_type ORDER BY pt, event_id, event_type) AS steps "
        "  FROM pe GROUP BY user_id), "
        "pgr AS (SELECT user_id, array_to_string(steps[i:i+2], '>') AS pth "
        "  FROM pseq, unnest(generate_series(1, greatest(len(steps) - 2, 0))) "
        "  AS u(i)), "
        "ptop AS (SELECT pth, count(*) AS po, count(DISTINCT user_id) AS pu "
        "  FROM pgr GROUP BY pth ORDER BY po DESC, pth ASC LIMIT 15)"
    )
    path_rows = (
        "SELECT 'path:' || pth, po::bigint, pu::bigint, "
        "NULL::double, po::double, NULL::double FROM ptop"
    )
    # cooc arm (r6 s3): within-user event-type co-occurrence. The oracle
    # re-derives it as the distinct-distinct equi-join the operator
    # replaces, INCLUDING the per-group lexicographic-first-64 cap (a
    # no-op at driver cardinalities, reproduced anyway for fidelity).
    cooc_ctes = (
        "qdi AS (SELECT DISTINCT user_id AS qg, event_type AS qi FROM events "
        "        WHERE user_id IS NOT NULL AND event_type IS NOT NULL), "
        "qcap AS (SELECT qg, qi FROM (SELECT qg, qi, row_number() OVER "
        "        (PARTITION BY qg ORDER BY qi) AS qrn FROM qdi) WHERE qrn <= 64), "
        "qpairs AS (SELECT a.qi AS qa, b.qi AS qb, count(*) AS qn "
        "  FROM qcap a JOIN qcap b ON a.qg = b.qg AND a.qi < b.qi "
        "  GROUP BY 1, 2 HAVING count(*) >= 2)"
    )
    # 'scooc:' (r6 s3): the drained streaming-co-occurrence twin must
    # match the SAME support counts row for row
    cooc_rows = " UNION ALL ".join(
        f"SELECT '{tag}:' || qa || '+' || qb, qn::bigint, 0::bigint, "
        "NULL::double, qn::double, NULL::double FROM qpairs"
        for tag in ("cooc", "scooc")
    )
    # 'ab:' arms (r7 s2): Welch t (quantized value, click vs view) and
    # the pooled two-proportion z (conversion = value > 500). The
    # formula chain below mirrors operators/abtest.py ASSOCIATION FOR
    # ASSOCIATION — including the A&S erf Horner chain and the
    # un-simplified 1−(1−poly·exp) — so with the dyadic-exact sums the
    # doubles are identical on both engines, not merely close.
    _erfp = (
        "round(1.0 - (1.0 - (((((1.061405429*u + -1.453152027)*u + 1.421413741)*u "
        "+ -0.284496736)*u + 0.254829592)*u) * exp(-(ax*ax))), 6)"
    )
    ab_ctes = (
        f"abq AS (SELECT event_type, {vq} AS v FROM events WHERE value IS NOT NULL), "
        "aba AS (SELECT count(*)::double n, sum(v) s, sum(v*v) ss FROM abq WHERE event_type = 'click'), "
        "abb AS (SELECT count(*)::double n, sum(v) s, sum(v*v) ss FROM abq WHERE event_type = 'view'), "
        "abst AS (SELECT aba.n AS na, abb.n AS nb, aba.s/aba.n AS ma, abb.s/abb.n AS mb, "
        "  ((aba.ss - aba.s*aba.s/aba.n)/(aba.n-1))/aba.n AS van, "
        "  ((abb.ss - abb.s*abb.s/abb.n)/(abb.n-1))/abb.n AS vbn FROM aba, abb), "
        "abt AS (SELECT na, nb, ma, mb, (ma - mb) / sqrt(van + vbn) AS t FROM abst), "
        "abe AS (SELECT *, abs(t)/sqrt(2.0) AS ax FROM abt), "
        "abu AS (SELECT *, 1.0/(1.0 + 0.3275911*ax) AS u FROM abe), "
        "zca AS (SELECT count(*)::double n, sum((v > 500.0)::int)::double k FROM abq WHERE event_type = 'click'), "
        "zcb AS (SELECT count(*)::double n, sum((v > 500.0)::int)::double k FROM abq WHERE event_type = 'view'), "
        "zst AS (SELECT zca.n AS na, zcb.n AS nb, zca.k/zca.n AS pa, zcb.k/zcb.n AS pb, "
        "  (zca.k + zcb.k)/(zca.n + zcb.n) AS pool FROM zca, zcb), "
        "zt AS (SELECT na, nb, pa, pb, (pa - pb) / "
        "  sqrt(pool*(1.0 - pool)*(1.0/na + 1.0/nb)) AS t FROM zst), "
        "ze AS (SELECT *, abs(t)/sqrt(2.0) AS ax FROM zt), "
        "zu AS (SELECT *, 1.0/(1.0 + 0.3275911*ax) AS u FROM ze)"
    )
    # 'attr:' arms (r7 s2, µs-unified r8): EVERY window predicate,
    # tuple order, and lag runs on epoch_us bigints — the exact twin of
    # the Spark side's unix_micros __tm domain (the r8 review caught
    # the oracle still comparing double-second lags, which can disagree
    # with the µs longs at an exact window-boundary lag). last-touch =
    # a correlated latest-preceding-touch lookup; linear = the windowed
    # join with a per-conversion qualifying-touch count — integer rows.
    attr_ctes = (
        "atev AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS i, "
        "  event_type AS ty FROM events "
        "  WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
        "atl AS (SELECT c.i, c.t AS ct, (SELECT t2.ty FROM atev t2 WHERE t2.u = c.u "
        "  AND t2.ty IN ('view', 'click') AND (t2.t, t2.i) < (c.t, c.i) "
        "  AND c.t - t2.t <= 7200000000 ORDER BY t2.t DESC, t2.i DESC LIMIT 1) AS ch, "
        "  (SELECT t2.t FROM atev t2 WHERE t2.u = c.u "
        "  AND t2.ty IN ('view', 'click') AND (t2.t, t2.i) < (c.t, c.i) "
        "  AND c.t - t2.t <= 7200000000 ORDER BY t2.t DESC, t2.i DESC LIMIT 1) AS tt "
        "  FROM atev c WHERE c.ty = 'purchase'), "
        "atlr AS (SELECT ch, count(*) AS n FROM atl WHERE ch IS NOT NULL GROUP BY ch), "
        # first-touch (r8): the EARLIEST qualifying touch — same
        # correlated window/strictly-before predicate, ASC order
        "atf AS (SELECT c.i, (SELECT t2.ty FROM atev t2 WHERE t2.u = c.u "
        "  AND t2.ty IN ('view', 'click') AND (t2.t, t2.i) < (c.t, c.i) "
        "  AND c.t - t2.t <= 7200000000 ORDER BY t2.t ASC, t2.i ASC LIMIT 1) AS ch "
        "  FROM atev c WHERE c.ty = 'purchase'), "
        "atfr AS (SELECT ch, count(*) AS n FROM atf WHERE ch IS NOT NULL GROUP BY ch), "
        # lag stats: integer-µs lags — sums exact, median interpolation
        # engine-identical (same discipline as the Spark side)
        "atlg AS (SELECT ch, count(*) AS n, "
        "  sum(ct - tt)::double / count(*) AS mu, "
        "  quantile_cont(ct - tt, 0.5) AS p50 "
        "  FROM atl WHERE ch IS NOT NULL GROUP BY ch), "
        "atj AS (SELECT c.i, c.t AS ct, t2.ty AS ch, t2.t AS tt, t2.i AS ti "
        "  FROM atev c JOIN atev t2 ON t2.u = c.u "
        "  AND t2.ty IN ('view', 'click') AND (t2.t, t2.i) < (c.t, c.i) "
        "  AND c.t - t2.t <= 7200000000 WHERE c.ty = 'purchase'), "
        "atk AS (SELECT i, count(*) AS k FROM atj GROUP BY i), "
        "atlin AS (SELECT ch, k, count(*) AS n FROM atj JOIN atk USING (i) "
        "  GROUP BY ch, k), "
        # CAVEAT shared by atpos/atdk (and atlin): atj is the UNCAPPED
        # windowed join, while the Spark side inherits the linear
        # model's max_touches cap (newest 1000 kept) — a conversion
        # with >1000 in-window touches would diverge. The fixture max
        # in-window fan-in is far below 1000 (asserted nowhere cheap;
        # documented here per ADVICE r8); widen max_touches or cap the
        # CTE if a future fixture breaches it.
        # position grid (r8): the touch's 0-based slot in the
        # conversion's (µs, id)-ordered qualifying list
        "atpj AS (SELECT ch, k, row_number() OVER "
        "  (PARTITION BY i ORDER BY tt, ti) - 1 AS pos "
        "  FROM atj JOIN atk USING (i)), "
        "atpos AS (SELECT ch, CASE WHEN pos = 0 THEN 'first' "
        "  WHEN pos = k - 1 THEN 'last' ELSE 'middle' END AS role, k, "
        "  count(*) AS n FROM atpj GROUP BY 1, 2, 3), "
        # decay grid (r8): whole half-lives of age at conversion,
        # µs bigints + integer // (30 min half-life)
        "atdk AS (SELECT ch, (ct - tt) // 1800000000 AS dk, count(*) AS n "
        "  FROM atj GROUP BY 1, 2)"
    )
    attr_rows = (
        "SELECT 'attr:last:' || ch, n::bigint, 0::bigint, NULL::double, "
        "n::double, NULL::double FROM atlr "
        "UNION ALL SELECT 'attr:first:' || ch, n::bigint, 0::bigint, NULL::double, "
        "n::double, NULL::double FROM atfr "
        "UNION ALL SELECT 'attr:lag:' || ch, n::bigint, 0::bigint, "
        "mu, p50::double, NULL::double FROM atlg "
        "UNION ALL SELECT 'attr:lin:' || ch || ':' || k, n::bigint, 0::bigint, "
        "NULL::double, n::double, NULL::double FROM atlin "
        "UNION ALL SELECT 'attr:pos:' || ch || ':' || role || ':' || k, "
        "n::bigint, 0::bigint, NULL::double, n::double, NULL::double FROM atpos "
        "UNION ALL SELECT 'attr:dk:' || ch || ':' || dk, n::bigint, 0::bigint, "
        "NULL::double, n::double, NULL::double FROM atdk "
        # sattr (r8): the drained streaming twin must reproduce the
        # SAME correlated last-touch counts — prefix-tagged
        "UNION ALL SELECT 'sattr:last:' || ch, n::bigint, 0::bigint, "
        "NULL::double, n::double, NULL::double FROM atlr"
    )
    ab_rows = (
        "SELECT 'ab:welch', na::bigint, nb::bigint, round(t, 6), "
        f"{_erfp}, round(ma - mb, 6) FROM abu "
        "UNION ALL SELECT 'ab:conv', na::bigint, nb::bigint, round(t, 6), "
        f"{_erfp}, round(pa - pb, 6) FROM zu"
    )
    return (
        f"WITH RECURSIVE {funnel_ctes}, {retention_ctes}, {conv_ctes}, "
        f"{path_ctes}, {cooc_ctes}, {ab_ctes}, {attr_ctes} "
        f"{wagg} UNION ALL {funnel_rows} UNION ALL {retention_rows} "
        f"UNION ALL {conv_rows} UNION ALL {path_rows} UNION ALL {cooc_rows} "
        f"UNION ALL {ab_rows} UNION ALL {attr_rows}"
    )


def _g1_profile_oracle() -> str:
    """g1_group_nil: the original G1 group arm plus the profiling
    subsystem arms (operators/profile.py), every value re-derived from
    raw parquet — exact distincts, Pearson corr, and the expectation
    gate's passed/actual recomputed by SQL, not echoed."""
    parts = [
        # original G1 arm, unchanged since round 1
        "SELECT coalesce(nullif(event_type, 'view'), '__nil') AS g_tag, "
        f"{_WINDOW_COLS}, "
        "round(sum(coalesce(value, 0)), 3) AS sum__value, "
        "CAST(count(value) AS DOUBLE) AS count__value "
        "FROM events GROUP BY coalesce(nullif(event_type, 'view'), '__nil')"
    ]
    for c in ("event_id", "user_id", "event_type", "value"):
        parts.append(
            f"SELECT 'profile:{c}', count(*)::bigint, count({c})::bigint, "
            f"count(DISTINCT {c})::double, NULL::double FROM events"
        )
    for c in ("event_id", "user_id", "value"):
        parts.append(
            f"SELECT 'profile:{c}:range', 0::bigint, 0::bigint, "
            f"round(min({c})::double, 6), round(max({c})::double, 6) FROM events"
        )
    parts.append(
        "SELECT 'profile:event_type:str_range:' || min(event_type) || ':' || "
        "max(event_type), 0::bigint, 0::bigint, NULL::double, NULL::double "
        "FROM events"
    )
    for a, b in (("event_id", "user_id"), ("event_id", "value"), ("user_id", "value")):
        parts.append(
            f"SELECT 'corr:{a}:{b}', 0::bigint, 0::bigint, "
            f"round(corr({a}, {b}), 6), "
            f"count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 END)::double "
            "FROM events"
        )
    # expectation gate rows (EXPECT_RULES): passed bit in window_start,
    # actual in sum__value — the null_frac division is ::double/int like
    # the operator's pure-Python 1 - nn/n
    expect = {
        "event_id:not_null": (
            "CASE WHEN count(event_id) = count(*) THEN 1 ELSE 0 END",
            "round(1 - count(event_id)::double / count(*), 6)",
        ),
        "event_id:unique": (
            "CASE WHEN count(DISTINCT event_id) = count(event_id) THEN 1 ELSE 0 END",
            "round(count(DISTINCT event_id)::double, 6)",
        ),
        "value:null_frac_max": (
            "CASE WHEN 1 - count(value)::double / count(*) <= 0.5 THEN 1 ELSE 0 END",
            "round(1 - count(value)::double / count(*), 6)",
        ),
        "value:min_at_least": (
            "CASE WHEN min(value) >= 0.0 THEN 1 ELSE 0 END",
            "round(min(value), 6)",
        ),
        "value:max_at_most": (
            "CASE WHEN max(value) <= 1e6 THEN 1 ELSE 0 END",
            "round(max(value), 6)",
        ),
        "event_type:distinct_at_least": (
            "CASE WHEN count(DISTINCT event_type) >= 3 THEN 1 ELSE 0 END",
            "round(count(DISTINCT event_type)::double, 6)",
        ),
        "event_type:distinct_at_most": (
            "CASE WHEN count(DISTINCT event_type) <= 64 THEN 1 ELSE 0 END",
            "round(count(DISTINCT event_type)::double, 6)",
        ),
    }
    for key, (passed, actual) in expect.items():
        parts.append(
            f"SELECT 'expect:{key}', ({passed})::bigint, 0::bigint, "
            f"{actual}, NULL::double FROM events"
        )
    # topv arm (r7): per-column top-5 most frequent values, ties broken
    # on the stringified value — profile_top_values re-derived with a
    # windowed row_number over the grouped counts
    for c in ("event_type", "user_id"):
        parts.append(
            f"SELECT 'topv:{c}:' || value, rank::bigint, 0::bigint, "
            "n::double, NULL::double FROM ("
            f"  SELECT {c}::varchar AS value, count(*)::bigint AS n, "
            f"    row_number() OVER (ORDER BY count(*) DESC, {c}::varchar) AS rank "
            f"  FROM events WHERE {c} IS NOT NULL GROUP BY {c}"
            ") WHERE rank <= 5"
        )
    return " UNION ALL ".join(parts)


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {
        "s1_time_scan": _FILTER_ORACLE.format(
            pred=f"epoch(ts) >= {T0} AND epoch(ts) <= {T1}"
        ),
        "f1_comparators": _filter_arms_oracle(
            "event_type = 'click'",
            "event_type != 'click'",
            "value > 90.0",
            "value < 10.0",
            "value >= 90.0",
            "value <= 10.0",
            "starts_with(event_type, 'c')",
            "event_type IS NOT NULL AND NOT starts_with(event_type, 'c')",
            "contains(props, '\"k\": 7')",
            "props IS NOT NULL AND NOT contains(props, '\"k\": 7')",
        ),
        "f1_exists_pair": _filter_arms_oracle(
            "nullif(event_type, 'view') IS NOT NULL",
            "nullif(event_type, 'view') IS NULL",
            # c/d: the bloom semi/anti arms are exact, so plain IN /
            # NOT-IN (NULL-safe: anti keeps NULL-keyed rows, matching
            # left_anti) re-derives them with no bloom machinery
            "user_id IN (SELECT user_id FROM events WHERE event_type = 'error')",
            "user_id IS NULL OR user_id NOT IN (SELECT user_id FROM events "
            "WHERE event_type = 'error' AND user_id IS NOT NULL)",
        ),
        "g1_group_nil": _g1_profile_oracle(),
        "w1_aligned_windows": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, "
            "round(sum(coalesce(value, 0)), 3) AS sum__value, "
            "CAST(count(value) AS DOUBLE) AS count__value "
            "FROM events GROUP BY coalesce(event_type, '__nil'), floor(epoch(ts) / 3600) "
            # hop arm (r7): width 2h / slide 1h — every event belongs to
            # exactly two windows, starts floor(ts/1h)·1h and that minus
            # 1h; the two-window spine is a cross join against k∈{0,1}.
            # ts IS NOT NULL matches the Spark arm exactly: a NULL-ts
            # event belongs to no hop window (explode of a NULL sequence
            # emits nothing), so the oracle must drop it too instead of
            # keeping a NULL-keyed group.
            "UNION ALL "
            "SELECT 'hop:' || coalesce(event_type, '__nil') || ':' || "
            "  ((floor(epoch(ts) / 3600)::bigint - k.k) * 3600)::varchar "
            "  AS g_event_type, "
            f"{_WINDOW_COLS}, "
            "round(sum(coalesce(value, 0)), 3) AS sum__value, "
            "CAST(count(value) AS DOUBLE) AS count__value "
            "FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k "
            "WHERE ts IS NOT NULL "
            "GROUP BY 1"
        ),
        "w1_session_windows": (
            "WITH g AS (SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER "
            "(PARTITION BY event_type ORDER BY ts, event_id) > 600 THEN 1 ELSE 0 END AS brk "
            "FROM events), "
            "s AS (SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS wno FROM g) "
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "floor(min(epoch(ts)))::bigint AS window_start, "
            "floor(max(epoch(ts)))::bigint AS window_end, "
            "round(sum(coalesce(value, 0)), 3) AS sum__value, "
            "CAST(count(value) AS DOUBLE) AS count__value "
            "FROM s GROUP BY coalesce(event_type, '__nil'), wno"
        ),
        "o1_top_groups": (
            # top arm: the original grouped mean; cube arm: DuckDB's own
            # GROUP BY CUBE re-derives every grouping set with
            # GROUPING() supplying the bit-identical grouping_id
            "WITH vb AS ("
            "  SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "    coalesce(CAST(CAST(floor(value / 100.0) AS BIGINT) AS VARCHAR), '__nil') AS g_vband, "
            "    value FROM events"
            ") "
            "SELECT 'top' AS part_kind, coalesce(event_type, '__nil') AS g_event_type, "
            "  NULL::VARCHAR AS g_vband, NULL::BIGINT AS grouping_id, "
            "  round(avg(value), 6) AS mean__value, "
            "  NULL::DOUBLE AS count__value, NULL::DOUBLE AS sum__value "
            "FROM events GROUP BY coalesce(event_type, '__nil') "
            "UNION ALL "
            "SELECT 'cube', g_event_type, g_vband, "
            "  GROUPING(g_event_type, g_vband)::BIGINT, NULL::DOUBLE, "
            "  count(value)::DOUBLE, "
            "  round(coalesce(sum(coalesce(value, 0)), 0), 3) "
            "FROM vb GROUP BY CUBE(g_event_type, g_vband)"
        ),
        "q2_sql_zx_dialect": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, "
            "CAST(count(value) AS DOUBLE) AS count__value, "
            "round(sum(coalesce(value, 0)), 3) AS sum__value "
            "FROM events WHERE value > 50 "
            "GROUP BY coalesce(event_type, '__nil'), floor(epoch(ts) / 86400)"
        ),
        "q2_sql_raw_projection": (
            "SELECT event_id, event_type, value FROM events WHERE value > 480"
        ),
        "a1_sum": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, round(sum(coalesce(value, 0)), 3) AS sum__value "
            "FROM events GROUP BY coalesce(event_type, '__nil')"
        ),
        "w_gapfill": (
            # Dense bucket spine per group (generate_series == Spark's
            # explode(sequence)), left-joined aggregate, three fills:
            # zero, locf (IGNORE NULLS running last), linear
            # (nearest-neighbor interpolation, NULL outside the observed
            # range). Sums rounded BEFORE filling on both engines.
            # RECURSIVE: the r7 s2 cusum twin walks the z6 series
            # step-by-step below.
            "WITH RECURSIVE agg AS ("
            "  SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "    floor(epoch(ts) / 3600)::bigint AS n, "
            "    round(sum(coalesce(value, 0)), 3) AS v "
            "  FROM events WHERE value > 200 GROUP BY 1, 2"
            "), span AS ("
            "  SELECT g_event_type, min(n) AS lo, max(n) AS hi "
            "  FROM agg GROUP BY g_event_type"
            "), spine AS ("
            "  SELECT g_event_type, unnest(generate_series(lo, hi)) AS n "
            "  FROM span"
            "), j AS ("
            "  SELECT s.g_event_type, s.n, a.v "
            "  FROM spine s LEFT JOIN agg a USING (g_event_type, n)"
            "), f AS ("
            "  SELECT g_event_type, n, v, "
            "    last_value(v IGNORE NULLS) OVER behind AS prev_v, "
            "    last_value(CASE WHEN v IS NOT NULL THEN n END IGNORE NULLS) "
            "      OVER behind AS prev_n, "
            "    first_value(v IGNORE NULLS) OVER ahead AS next_v, "
            "    first_value(CASE WHEN v IS NOT NULL THEN n END IGNORE NULLS) "
            "      OVER ahead AS next_n "
            "  FROM j WINDOW "
            "    behind AS (PARTITION BY g_event_type ORDER BY n "
            "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
            "    ahead AS (PARTITION BY g_event_type ORDER BY n "
            "      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
            "), g AS ("
            "SELECT g_event_type, (n * 3600)::double AS bucket, "
            "  coalesce(v, 0.0) AS sum_zero, prev_v AS sum_locf, "
            "  floor(CASE WHEN v IS NOT NULL THEN v "
            "    WHEN prev_n IS NOT NULL AND next_n IS NOT NULL THEN "
            "      prev_v + (next_v - prev_v) * ((n - prev_n) "
            "        / (next_n - prev_n)) END * 1e6) / 1e6 AS sum_lin "
            "FROM f), "
            # derived-series twin: raw delta of sum_zero; counter rate of
            # sum_locf with the reset branch (NULL lag -> NULL; decrease
            # -> count from current value)
            "ser AS ("
            "SELECT g_event_type, bucket, sum_zero, sum_locf, sum_lin, "
            "  sum_zero - lag(sum_zero) OVER w AS d_zero, "
            "  CASE WHEN lag(sum_locf) OVER w IS NULL "
            "       OR bucket <= lag(bucket) OVER w THEN NULL "
            "       ELSE (CASE WHEN sum_locf >= lag(sum_locf) OVER w "
            "             THEN sum_locf - lag(sum_locf) OVER w "
            "             ELSE sum_locf END) / (bucket - lag(bucket) OVER w) "
            "  END AS rate_locf, "
            # anomaly twin: trailing-6 z-score over a frame EXCLUDING the
            # current row (rounded 4dp — stddev accumulation order differs
            # ~ulp between engines), |z| > 2.5 flag with >= 3 samples
            "  round(CASE WHEN stddev_samp(sum_zero) OVER w6 > 0 THEN "
            "    (sum_zero - avg(sum_zero) OVER w6) "
            "      / stddev_samp(sum_zero) OVER w6 END, 4) AS z6, "
            "  coalesce(abs(CASE WHEN stddev_samp(sum_zero) OVER w6 > 0 THEN "
            "    (sum_zero - avg(sum_zero) OVER w6) "
            "      / stddev_samp(sum_zero) OVER w6 END) > 2.5 "
            "    AND count(sum_zero) OVER w6 >= 3, false) AS anom, "
            # EWMA twin: newest-first power-of-two weights over the
            # trailing-6 frame INCLUDING the current row
            "  round(list_sum(list_transform(list_reverse(list(sum_zero) OVER w6c), "
            "      (x, i) -> x * power(0.5, i - 1))) / "
            "    list_sum(list_transform(list_reverse(list(sum_zero) OVER w6c), "
            "      (x, i) -> power(0.5, i - 1))), 6) AS ewma_zero, "
            # rq6/rz6 twins (r7): rolling median + robust z over the
            # 1/64-quantized zero-filled sum — dyadic inputs make every
            # quantile_cont interpolation EXACT, so no rounding step is
            # needed and Spark percentile agrees bit-for-bit
            "  round(sum_zero * 64) / 64 AS qv, "
            "  quantile_cont(round(sum_zero * 64) / 64, 0.5) OVER w6c AS rq6, "
            "  quantile_cont(round(sum_zero * 64) / 64, 0.5) OVER w6 AS med6 "
            "FROM g WINDOW w AS (PARTITION BY g_event_type ORDER BY bucket), "
            "  w6 AS (PARTITION BY g_event_type ORDER BY bucket "
            "    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING), "
            "  w6c AS (PARTITION BY g_event_type ORDER BY bucket "
            "    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)"
            "), serd AS (SELECT *, qv - med6 AS dev6 FROM ser"
            "), serm AS (SELECT *, quantile_cont(abs(dev6), 0.5) OVER ("
            "  PARTITION BY g_event_type ORDER BY bucket "
            "  ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS mad6 FROM serd"
            "), fin AS ("
            "SELECT g_event_type, bucket, sum_zero, sum_locf, sum_lin, "
            "  d_zero, rate_locf, z6, anom, ewma_zero, rq6, "
            "  CASE WHEN mad6 > 0 THEN (qv - med6) / (1.4826 * mad6) END AS rz6, "
            "  row_number() OVER (PARTITION BY g_event_type ORDER BY bucket) AS rn "
            "FROM serm"
            # cusum twin (r7 s2): the SAME recurrence the Spark fold
            # runs — sp' = greatest(0, sp + (z6 - 0.0) - 0.25),
            # sm' = greatest(0, sm - (z6 - 0.0) - 0.25), NULL z6 holds —
            # walked per group in bucket order over the identical
            # 4dp-rounded z6 doubles, so the doubles match exactly
            "), cus AS ("
            "  SELECT g_event_type, rn, "
            "    CASE WHEN z6 IS NOT NULL THEN greatest(0.0, (z6 - 0.0) - 0.25) "
            "      ELSE 0.0 END AS sp, "
            "    CASE WHEN z6 IS NOT NULL THEN greatest(0.0, -(z6 - 0.0) - 0.25) "
            "      ELSE 0.0 END AS sm "
            "  FROM fin WHERE rn = 1 "
            "  UNION ALL "
            "  SELECT f.g_event_type, f.rn, "
            "    CASE WHEN f.z6 IS NOT NULL THEN "
            "      greatest(0.0, c.sp + (f.z6 - 0.0) - 0.25) ELSE c.sp END, "
            "    CASE WHEN f.z6 IS NOT NULL THEN "
            "      greatest(0.0, c.sm - (f.z6 - 0.0) - 0.25) ELSE c.sm END "
            "  FROM cus c JOIN fin f ON f.g_event_type = c.g_event_type "
            "    AND f.rn = c.rn + 1"
            ") "
            "SELECT fin.g_event_type, bucket, sum_zero, sum_locf, sum_lin, "
            "  d_zero, rate_locf, z6, anom, ewma_zero, rq6, rz6, "
            "  round(cus.sp, 6) AS cus_hi, round(cus.sm, 6) AS cus_lo, "
            "  (cus.sp > 3.0 OR cus.sm > 3.0) AS cus_flag "
            "FROM fin JOIN cus USING (g_event_type, rn) "
            # stream arm (r6): the drained streaming gap-fill — same agg,
            # but every group's spine extends to the GLOBAL max bucket
            # (trailing fills from the event-time timeouts), zero + locf
            "UNION ALL "
            "SELECT 'stream:' || sl.g_event_type AS g_event_type, "
            "  (sl.n * 3600)::double AS bucket, "
            "  coalesce(sl.v, 0.0) AS sum_zero, sl.locf AS sum_locf, "
            "  NULL::double AS sum_lin, NULL::double AS d_zero, "
            "  NULL::double AS rate_locf, NULL::double AS z6, "
            "  NULL::boolean AS anom, NULL::double AS ewma_zero, "
            "  NULL::double AS rq6, NULL::double AS rz6, "
            "  NULL::double AS cus_hi, NULL::double AS cus_lo, "
            "  NULL::boolean AS cus_flag "
            "FROM ("
            "  SELECT sj.g_event_type, sj.n, sj.v, "
            "    last_value(sj.v IGNORE NULLS) OVER (PARTITION BY sj.g_event_type "
            "      ORDER BY sj.n ROWS UNBOUNDED PRECEDING) AS locf "
            "  FROM ("
            "    SELECT s.g_event_type, s.n, a.v "
            "    FROM (SELECT g_event_type, "
            "            unnest(generate_series(lo, (SELECT max(hi) FROM span))) AS n "
            "          FROM span) s "
            "    LEFT JOIN agg a USING (g_event_type, n)"
            "  ) sj"
            ") sl "
            # sanom arm (r6): the drained streaming anomaly twin —
            # gapfill-LESS, so the rolling z runs over the SPARSE agg
            # rows (same n=6 / |z|>2.5 / min_periods=3 as the batch
            # columns, same 4dp rounding)
            "UNION ALL "
            "SELECT 'sanom:' || z.g_event_type AS g_event_type, "
            "  (z.n * 3600)::double AS bucket, z.v AS sum_zero, "
            "  NULL::double AS sum_locf, NULL::double AS sum_lin, "
            "  NULL::double AS d_zero, NULL::double AS rate_locf, "
            "  round(z.zr, 4) AS z6, "
            "  coalesce(abs(z.zr) > 2.5 AND z.cnt >= 3, false) AS anom, "
            "  NULL::double AS ewma_zero, "
            "  NULL::double AS rq6, NULL::double AS rz6, "
            "  NULL::double AS cus_hi, NULL::double AS cus_lo, "
            "  NULL::boolean AS cus_flag "
            "FROM ("
            "  SELECT g_event_type, n, v, "
            "    CASE WHEN stddev_samp(v) OVER wz > 0 THEN "
            "      (v - avg(v) OVER wz) / stddev_samp(v) OVER wz END AS zr, "
            "    count(v) OVER wz AS cnt "
            "  FROM agg WINDOW wz AS (PARTITION BY g_event_type ORDER BY n "
            "    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)"
            ") z"
        ),
        "a2_a3_minmax": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, max(value) AS max__value, "
            "min(value) AS min__value "
            "FROM events GROUP BY coalesce(event_type, '__nil')"
        ),
        "a4_count": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, CAST(count(value) AS DOUBLE) AS count__value "
            "FROM events GROUP BY coalesce(event_type, '__nil')"
        ),
        "a5_count_distinct": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, "
            "CAST(count(DISTINCT user_id) + (CASE WHEN count(*) > count(user_id) THEN 1 ELSE 0 END) AS DOUBLE) "
            "AS count_distinct__user_id "
            "FROM events GROUP BY coalesce(event_type, '__nil')"
        ),
        "a6_mean": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, round(avg(value), 6) AS mean__value "
            "FROM events GROUP BY coalesce(event_type, '__nil')"
        ),
        "a7_p50": (
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"{_WINDOW_COLS}, round(quantile_cont(value, 0.5), 6) AS p50__value "
            "FROM events GROUP BY coalesce(event_type, '__nil')"
        ),
        "a8_raw": (
            # Exploded RAW multiset: every surviving value, one scalar row,
            # carrying its group's first/last-event window bounds.
            "WITH f AS (SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "epoch(ts) AS e, value FROM events WHERE value > 300.0), "
            "w AS (SELECT g_event_type, floor(min(e))::bigint AS window_start, "
            "floor(max(e))::bigint AS window_end FROM f GROUP BY g_event_type) "
            "SELECT f.g_event_type, w.window_start, w.window_end, f.value "
            "FROM f JOIN w ON f.g_event_type = w.g_event_type"
        ),
        "a9_heatmap": (
            # One (group, bin_no, count) row per bin — zero bins included.
            "WITH w AS (SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "floor(min(epoch(ts)))::bigint AS window_start, "
            "floor(max(epoch(ts)))::bigint AS window_end "
            "FROM events GROUP BY coalesce(event_type, '__nil')), "
            "c AS (SELECT coalesce(event_type, '__nil') AS g_event_type, "
            f"least(greatest(floor((value - {HEAT_LO}) / {(HEAT_HI - HEAT_LO) / HEAT_BINS}), 0), {HEAT_BINS - 1})::bigint AS bin_no, "
            "count(*)::double AS heat_count FROM events WHERE value IS NOT NULL "
            "GROUP BY 1, 2), "
            f"b AS (SELECT unnest(generate_series(0, {HEAT_BINS - 1}))::bigint AS bin_no) "
            "SELECT w.g_event_type, w.window_start, w.window_end, b.bin_no, "
            "coalesce(c.heat_count, 0)::double AS heat_count "
            "FROM w CROSS JOIN b "
            "LEFT JOIN c ON c.g_event_type = w.g_event_type AND c.bin_no = b.bin_no"
        ),
        "a_weighted_suite": _weighted_funnel_oracle(),
        "rollup_suite": (
            # The oracle computes the DIRECT hourly windowed aggregate; the
            # Spark side answers it from 5-minute rollup partials coarsened
            # to hourly — equality proves the continuous-aggregate path
            # end-to-end (mergeable partials, no avg-of-avgs). p50_approx
            # is the histogram-partial estimate, reproduced here from raw
            # events with the same 32-bin domain + within-bin
            # interpolation (rollup.py QUANTILE_BINS / _hist_quantile_est) —
            # coarsening invariance makes it identical, not just close.
            "WITH direct AS ("
            "  SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "    floor(epoch(ts) / 3600) AS b, "
            f"   {_WINDOW_COLS}, "
            "    round(sum(coalesce(value, 0)), 3) AS sum__value, "
            "    sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)::double "
            "      AS count__value, "
            "    min(value) AS min__value, "
            "    max(value) AS max__value, "
            # mean from the rounded sum / exact count — the same single
            # IEEE division the Spark side performs (see shape())
            "    CASE WHEN sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) > 0 "
            "    THEN round(round(sum(coalesce(value, 0)), 3) "
            "      / sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END), 6) "
            "    END AS mean__value "
            "  FROM events GROUP BY 1, 2"
            "), binned AS ("
            "  SELECT coalesce(event_type, '__nil') AS g, "
            "    floor(epoch(ts) / 3600) AS b, "
            "    least(greatest(floor(value / 31.25), 0), 31)::int AS bin "
            "  FROM events WHERE value IS NOT NULL"
            "), counts AS ("
            "  SELECT g, b, bin, count(*)::double AS c "
            "  FROM binned GROUP BY g, b, bin"
            "), cum AS ("
            "  SELECT g, b, bin, c, "
            "    sum(c) OVER (PARTITION BY g, b ORDER BY bin) AS cum, "
            "    sum(c) OVER (PARTITION BY g, b) AS total "
            "  FROM counts"
            "), p50 AS ("
            "  SELECT g, b, "
            "    0.0 + 31.25 * (bin + (total * 0.5 - (cum - c)) / c) AS est "
            "  FROM cum WHERE cum >= total * 0.5 AND c > 0 "
            "  QUALIFY row_number() OVER (PARTITION BY g, b ORDER BY bin) = 1"
            "), p90 AS ("
            "  SELECT g, b, "
            "    0.0 + 31.25 * (bin + (total * 0.9 - (cum - c)) / c) AS est "
            "  FROM cum WHERE cum >= total * 0.9 AND c > 0 "
            "  QUALIFY row_number() OVER (PARTITION BY g, b ORDER BY bin) = 1"
            ") "
            # three arms (batch / routed / stream) must all equal the one
            # direct answer — the Spark side computes each independently
            "SELECT a.arm, d.g_event_type, d.window_start, d.window_end, "
            "  d.sum__value, d.count__value, d.min__value, d.max__value, "
            "  d.mean__value, round(p.est, 6) AS p50_approx__value, "
            "  round(p9.est, 6) AS p90_approx__value "
            "FROM direct d LEFT JOIN p50 p "
            "  ON d.g_event_type = p.g AND d.b = p.b "
            "LEFT JOIN p90 p9 ON d.g_event_type = p9.g AND d.b = p9.b "
            "CROSS JOIN (VALUES ('batch'), ('routed'), ('stream')) AS a(arm)"
        ),
        "streaming_interval_join": (
            # Batch twin of the watermarked stream-stream interval join:
            # every (event, mark) pair on the same user within [ts, ts+600s].
            "SELECT l.event_id AS event_id, l.user_id AS user_id, "
            "round(epoch(l.ts), 6) AS l_ts, round(l.value, 6) AS value, "
            "round(epoch(r.ts), 6) AS r_ts, "
            "round(round(r.value, 6) * 2, 6) AS mark_value "
            "FROM events l JOIN events r ON l.user_id = r.user_id "
            "AND epoch(r.ts) >= epoch(l.ts) "
            "AND epoch(r.ts) <= epoch(l.ts) + 600"
        ),
        "w1_faithful_windows": (
            # The reference's sequential data-aligned recurrence as a
            # recursive CTE that steps one WINDOW at a time (not one row):
            # each iteration finds the current window's breaking row via a
            # LATERAL min-rn probe — the breaking row is DROPPED but seeds
            # the next window's start (windows.py:135-163 semantics).
            # ~4× fewer recursion steps than the row-walk form; verified
            # row-identical to it at sf0.01. Consecutive breaking rows
            # yield start_rn > end_rn → the empty window joins no rows and
            # vanishes, matching the Spark side.
            "WITH RECURSIVE ordered AS MATERIALIZED ("
            "SELECT coalesce(event_type, '__nil') AS g, epoch(ts) AS e, "
            "coalesce(value, 0) AS v, "
            "row_number() OVER (PARTITION BY coalesce(event_type, '__nil') "
            "ORDER BY event_id) AS rn FROM events), "
            "win AS ("
            "SELECT g, 0 AS wno, e AS win_start, 1 AS start_rn "
            "FROM ordered WHERE rn = 1 "
            "UNION ALL "
            "SELECT w.g, w.wno + 1, b.e, b.rn + 1 "
            "FROM win w JOIN LATERAL ("
            "SELECT o.e, o.rn FROM ordered o "
            "WHERE o.g = w.g AND o.rn >= w.start_rn AND o.e - w.win_start > 600.0 "
            "ORDER BY o.rn LIMIT 1) b ON true), "
            "bounds AS ("
            "SELECT g, wno, win_start, start_rn, "
            "coalesce(lead(start_rn) OVER (PARTITION BY g ORDER BY wno) - 2, "
            "9223372036854775807) AS end_rn FROM win) "
            "SELECT b.g AS g_event_type, "
            "floor(b.win_start)::bigint AS window_start, "
            "floor(arg_max(o.e, o.rn))::bigint AS window_end, "
            "round(sum(o.v), 3) AS sum__value "
            "FROM bounds b JOIN ordered o ON o.g = b.g "
            "AND o.rn BETWEEN b.start_rn AND b.end_rn "
            "GROUP BY b.g, b.wno, b.win_start"
        ),
        "dedup_exact_groups": (
            # exact arm: content-hash groups; diff arm: full-outer diff
            # vs an in-query second version (%97 removed, %89 changed,
            # %101 re-added) — hash equality on one text column reduces
            # to text equality, so the oracle compares text directly
            "SELECT 'exact' AS part_kind, md5(text) AS key, "
            "min(doc_id) AS keep_id, count(*) AS dup_count "
            "FROM documents GROUP BY md5(text) "
            "UNION ALL "
            "SELECT 'diff' AS part_kind, "
            "CASE WHEN ot IS NULL THEN 'added' WHEN nt IS NULL THEN 'removed' "
            "ELSE 'changed' END AS key, doc_id AS keep_id, 1::BIGINT AS dup_count "
            "FROM ("
            "  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, "
            "    o.text AS ot, n.text AS nt "
            "  FROM documents o FULL OUTER JOIN ("
            "    SELECT doc_id, CASE WHEN doc_id % 89 = 0 "
            "      THEN 'edited:' || text ELSE text END AS text "
            "    FROM documents WHERE doc_id % 97 <> 0 "
            "    UNION ALL "
            "    SELECT doc_id + 1000000, 'added doc ' || (doc_id + 1000000) "
            "    FROM documents WHERE doc_id % 101 = 0"
            "  ) n ON o.doc_id = n.doc_id"
            ") WHERE ot IS NULL OR nt IS NULL OR ot <> nt "
            # psi arm (r6, operators/datadrift.py twin): PSI of text
            # length (base-quantile bins, strict-lower/inclusive-upper)
            # and first token (base top-5 + __other) between the same
            # two versions; eps-floored fold, 1e-6 fixed point.
            "UNION ALL SELECT part_kind, key, keep_id, dup_count FROM ("
            "WITH v2 AS ("
            "  SELECT doc_id, CASE WHEN doc_id % 89 = 0 "
            "    THEN 'edited:' || text ELSE text END AS text "
            "  FROM documents WHERE doc_id % 97 <> 0 "
            "  UNION ALL "
            "  SELECT doc_id + 1000000, 'added doc ' || (doc_id + 1000000) "
            "  FROM documents WHERE doc_id % 101 = 0"
            "), bl AS (SELECT length(text)::double AS v FROM documents "
            "  WHERE text IS NOT NULL), "
            "cl AS (SELECT length(text)::double AS v FROM v2 "
            "  WHERE text IS NOT NULL), "
            "ed AS (SELECT list_transform("
            "  quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), "
            "  x -> round(x, 6)) AS e FROM bl), "
            "bb AS (SELECT len(list_filter((SELECT e FROM ed), x -> v > x)) "
            "  AS bin, count(*)::double AS c FROM bl GROUP BY 1), "
            "cb AS (SELECT len(list_filter((SELECT e FROM ed), x -> v > x)) "
            "  AS bin, count(*)::double AS c FROM cl GROUP BY 1), "
            "nn AS (SELECT (SELECT count(*)::double FROM bl) AS nb, "
            "  (SELECT count(*)::double FROM cl) AS nc), "
            "jn AS (SELECT b.bin, coalesce(bb.c, 0) AS bc, "
            "  coalesce(cb.c, 0) AS cc "
            "  FROM (SELECT unnest(generate_series(0, 9)) AS bin) b "
            "  LEFT JOIN bb USING (bin) LEFT JOIN cb USING (bin)), "
            "pn AS (SELECT round(sum("
            "  (greatest(cc / nc, 1e-6) - greatest(bc / nb, 1e-6)) * "
            "  ln(greatest(cc / nc, 1e-6) / greatest(bc / nb, 1e-6))), 6) "
            "  AS psi, any_value(nc) AS n_cur FROM jn CROSS JOIN nn), "
            "bt AS (SELECT string_split_regex(text, '[ \\t\\n\\r\\f]+')[1] AS v "
            "  FROM documents WHERE text IS NOT NULL), "
            "ct AS (SELECT string_split_regex(text, '[ \\t\\n\\r\\f]+')[1] AS v "
            "  FROM v2 WHERE text IS NOT NULL), "
            "cats AS (SELECT list(v ORDER BY c DESC, v ASC) AS cl FROM ("
            "  SELECT v, count(*) AS c FROM bt WHERE v IS NOT NULL "
            "  GROUP BY v ORDER BY c DESC, v ASC LIMIT 5)), "
            "btc AS (SELECT coalesce(nullif(list_position("
            "  (SELECT cl FROM cats), v), 0), 6) AS bin, "
            "  count(*)::double AS c FROM bt WHERE v IS NOT NULL GROUP BY 1), "
            "ctc AS (SELECT coalesce(nullif(list_position("
            "  (SELECT cl FROM cats), v), 0), 6) AS bin, "
            "  count(*)::double AS c FROM ct WHERE v IS NOT NULL GROUP BY 1), "
            "tnn AS (SELECT (SELECT sum(c) FROM btc) AS nb, "
            "  (SELECT sum(c) FROM ctc) AS nc), "
            "tjn AS (SELECT b.bin, coalesce(btc.c, 0) AS bc, "
            "  coalesce(ctc.c, 0) AS cc "
            "  FROM (SELECT unnest(generate_series(1, 6)) AS bin) b "
            "  LEFT JOIN btc USING (bin) LEFT JOIN ctc USING (bin)), "
            "pt AS (SELECT round(sum("
            "  (greatest(cc / nc, 1e-6) - greatest(bc / nb, 1e-6)) * "
            "  ln(greatest(cc / nc, 1e-6) / greatest(bc / nb, 1e-6))), 6) "
            "  AS psi, any_value(nc) AS n_cur FROM tjn CROSS JOIN tnn) "
            "SELECT 'psi' AS part_kind, 'tlen:numeric' AS key, "
            "round(psi * 1e6)::bigint AS keep_id, n_cur::bigint AS dup_count "
            "FROM pn "
            "UNION ALL SELECT 'psi', 'tok1:categorical', "
            "round(psi * 1e6)::bigint, n_cur::bigint FROM pt)"
        ),
        "sampling_suite": _sampling_oracle(),
        "dedup_minhash_pairs": _minhash_oracle(),
        "dedup_simhash_pairs": _simhash_oracle(),
        "jaccard_wordset_pairs": (
            "WITH d AS (SELECT doc_id, source, "
            f"list_distinct({_TOKS}) AS tokset, "
            f"floor(log2(greatest(len(list_distinct({_TOKS})), 2)::double))::bigint AS len_bucket, "
            f"list_min(list_transform(list_distinct({_TOKS}), "
            "t -> ('0x'||substr(md5(t),1,15))::bigint)) AS band "
            "FROM documents) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(len(list_intersect(a.tokset, b.tokset))::double / "
            "len(list_distinct(list_cat(a.tokset, b.tokset)))::double, 6) AS jaccard "
            "FROM d a JOIN d b ON a.source = b.source "
            "AND a.len_bucket = b.len_bucket AND a.band = b.band "
            "AND a.doc_id < b.doc_id "
            "WHERE round(len(list_intersect(a.tokset, b.tokset))::double / "
            "len(list_distinct(list_cat(a.tokset, b.tokset)))::double, 6) >= 0.6 "
            # fuzzy arm: brute-force levenshtein nested loop — the Spark
            # side's PassJoin blocking is exact-recall, so the results
            # must agree row-for-row (length band |Δ|<=1 is a necessary
            # condition for distance<=1, pure pruning).
            "UNION ALL "
            "SELECT n.nid AS id_a, c.cid AS id_b, "
            "-100.0 - levenshtein(n.p_name, c.cname) AS jaccard "
            "FROM (SELECT p_name, min(p_partkey) AS nid FROM part GROUP BY p_name) n "
            "JOIN ("
            "SELECT nid + 1000000 AS cid, "
            "substr(p_name, 1, pos) || substr(p_name, pos + 2) AS cname "
            "FROM (SELECT nid, p_name, "
            "(('0x'||substr(md5(nid::varchar),1,15))::bigint "
            "% length(p_name))::int AS pos "
            "FROM (SELECT p_name, min(p_partkey) AS nid FROM part GROUP BY p_name))) c "
            "ON abs(length(n.p_name) - length(c.cname)) <= 1 "
            "AND levenshtein(n.p_name, c.cname) <= 1"
        ),
        "emb_near_pairs_lsh": _rp_lsh_oracle(),
        "text_pii_redact": _pii_oracle(),
        "decontaminate_ngrams": _decontaminate_oracle(),
        "ann_cosine_suite": (
            # int8 arm: the quantize_embeddings construction —
            # scale = max|v|/127, q = round(v/scale); integer squared sums
            # are exact in doubles, so the cosine needs no fp-order care
            "WITH c AS (SELECT vec_id, round(embedding[1]::double / "
            "sqrt(list_aggregate(list_transform(embedding, x -> x::double * x::double), 'sum')), 6) AS cosine "
            "FROM embeddings), "
            "q8 AS (SELECT vec_id, list_transform(embedding, x -> round(x::double / "
            "(greatest(list_max(list_transform(embedding, y -> abs(y::double))), 1e-12) "
            "/ 127.0))) AS qe FROM embeddings), "
            "i8 AS (SELECT vec_id, round(qe[1] / "
            "greatest(sqrt(list_aggregate(list_transform(qe, x -> x * x), 'sum')), 1e-12), 6) "
            "AS cosine FROM q8)"
            + _pca_cte_sql()
            + " SELECT 'topk' AS arm, vec_id, cosine FROM "
            "(SELECT * FROM c ORDER BY cosine DESC, vec_id LIMIT 10) "
            "UNION ALL "
            "SELECT 'threshold' AS arm, vec_id, cosine FROM c WHERE cosine >= 0.25 "
            "UNION ALL "
            "SELECT 'int8' AS arm, vec_id, cosine FROM "
            "(SELECT * FROM i8 ORDER BY cosine DESC, vec_id LIMIT 10) "
            "UNION ALL "
            "SELECT 'pca' AS arm, vec_id, cosine FROM "
            "(SELECT * FROM pc ORDER BY cosine DESC, vec_id LIMIT 10)"
        ),
        "ann_ivf_topk": _ivf_pq_oracle(),
        "streaming_sessions": (
            # Batch parity: the availableNow drain + far-future tail per
            # key closes every REAL session, so the streaming append
            # output equals the batch lag/cumsum session SQL (the
            # w1_session_windows oracle verbatim).
            "WITH g AS (SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER "
            "(PARTITION BY event_type ORDER BY ts, event_id) > 600 THEN 1 ELSE 0 END AS brk "
            "FROM events), "
            "s AS (SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS wno FROM g) "
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "floor(min(epoch(ts)))::bigint AS window_start, "
            "floor(max(epoch(ts)))::bigint AS window_end, "
            "round(sum(coalesce(value, 0)), 3) AS sum__value, "
            "CAST(count(value) AS DOUBLE) AS count__value "
            "FROM s GROUP BY coalesce(event_type, '__nil'), wno "
            # drift arm (r6, streaming/drift.py twin): per-(epoch, column)
            # flag bitmask (null=1, distinct=2, range=4, missing=8,
            # new=16) in window_start, n_rows in window_end, null_frac in
            # sum__value, any_drift in count__value. Epoch 0 = clean
            # documents vs their own baseline (no flags, structurally);
            # epoch 1 = the planted corruption, flags re-derived from raw
            # parquet with EXACT distincts — margins vs the HLL side are
            # orders of magnitude (see the Spark arm comment).
            "UNION ALL SELECT g_event_type, window_start, window_end, "
            "sum__value, count__value FROM ("
            "WITH dn AS (SELECT count(*)::double AS nr FROM documents), "
            "l0 AS (SELECT count(lang)::double AS nn, "
            "count(DISTINCT lang)::double AS d FROM documents), "
            "l1 AS (SELECT count(CASE WHEN doc_id % 5 = 0 THEN lang END)::double AS nn, "
            "count(DISTINCT CASE WHEN doc_id % 5 = 0 THEN lang END)::double AS d "
            "FROM documents), "
            "s0 AS (SELECT count(source)::double AS nn, "
            "count(DISTINCT source)::double AS d FROM documents), "
            "v0 AS (SELECT count(n_chars)::double AS nn, "
            "count(DISTINCT n_chars)::double AS d, min(n_chars)::double AS mn, "
            "max(n_chars)::double AS mx FROM documents), "
            "fl AS (SELECT "
            "  (abs((1 - l1.nn / dn.nr) - (1 - l0.nn / dn.nr)) > 0.1) AS lang_null, "
            "  (l1.d < least(l0.d, l1.nn) * 0.5 OR "
            "   (l0.d < 0.5 * l0.nn AND l1.d > l0.d * 1.5)) AS lang_dist, "
            "  (1 < least(s0.d, dn.nr) * 0.5 OR "
            "   (s0.d < 0.5 * s0.nn AND 1 > s0.d * 1.5)) AS src_dist, "
            "  (v0.d < least(v0.d, v0.nn) * 0.5 OR "
            "   (v0.d < 0.5 * v0.nn AND v0.d > v0.d * 1.5)) AS val_dist, "
            "  ((v0.mn + 100000 < v0.mn) OR (v0.mx + 100000 > v0.mx)) AS val_range, "
            "  round(1 - l0.nn / dn.nr, 6) AS lang_nf0, "
            "  round(1 - l1.nn / dn.nr, 6) AS lang_nf1, "
            "  dn.nr::bigint AS nrb "
            "FROM dn, l0, l1, s0, v0) "
            "SELECT 'drift:0:doc_id' AS g_event_type, 0::bigint AS window_start, "
            "nrb AS window_end, 0.0 AS sum__value, 0.0 AS count__value FROM fl "
            "UNION ALL SELECT 'drift:0:lang', 0, nrb, lang_nf0, 0.0 FROM fl "
            "UNION ALL SELECT 'drift:0:source', 0, nrb, 0.0, 0.0 FROM fl "
            "UNION ALL SELECT 'drift:0:val', 0, nrb, 0.0, 0.0 FROM fl "
            "UNION ALL SELECT 'drift:1:doc_id', 0, nrb, 0.0, 0.0 FROM fl "
            "UNION ALL SELECT 'drift:1:lang', "
            "lang_null::int + lang_dist::int * 2, nrb, lang_nf1, "
            "(lang_null OR lang_dist)::int::double FROM fl "
            "UNION ALL SELECT 'drift:1:source', src_dist::int * 2, nrb, 0.0, "
            "src_dist::int::double FROM fl "
            "UNION ALL SELECT 'drift:1:val', "
            "val_dist::int * 2 + val_range::int * 4, nrb, 0.0, "
            "(val_dist OR val_range)::int::double FROM fl)"
        ),
        "text_stats": (
            # chunk windows re-derived in SQL exactly as chunk_documents
            # builds them: stride 48 = 64 − 16, n_chunks =
            # ceil(max(n_toks − overlap, 1) / stride) with n_toks >= 1,
            # remainder window short, empty doc -> one empty chunk
            "WITH t AS (SELECT doc_id, text, "
            f"list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), "
            "tk -> tk != '') AS toks FROM documents), "
            "c AS (SELECT doc_id, toks, "
            "ceil(greatest(greatest(len(toks), 1) - 16, 1) / 48.0)::bigint "
            "AS nck FROM t), "
            "u AS (SELECT doc_id, toks, "
            "unnest(range(0, (nck - 1) * 48 + 1, 48)) AS s FROM c), "
            "ch AS (SELECT doc_id, "
            # coalesce: an all-whitespace doc has toks = [], and DuckDB
            # array_to_string([]) is NULL where the operator emits ''
            "coalesce(array_to_string(toks[s + 1 : s + 64], ' '), '') AS chunk_text, "
            "greatest(least(len(toks) - s, 64), 0) AS n_tok FROM u), "
            "agg AS (SELECT doc_id, count(*) AS n_chunks, "
            "sum(n_tok)::bigint AS chunk_tokens, "
            "sum(('0x' || substr(md5(chunk_text), 1, 15))::bigint)::bigint "
            "AS chunk_md5_sum FROM ch GROUP BY doc_id), "
            # line scrub twin over the SAME planted boilerplate: per-doc
            # DISTINCT trimmed non-empty lines → group on the md5-60-bit
            # hash (same key Spark groups on) → hot set as ONE sorted
            # array → map-side filter + rejoin
            "pl AS (SELECT doc_id, text || chr(10) || CASE "
            "WHEN doc_id % 3 = 0 THEN '(c) example corp all rights reserved' "
            "WHEN doc_id % 3 = 1 THEN 'subscribe to our newsletter' || chr(10) "
            "|| '(c) example corp all rights reserved' "
            "ELSE 'unique line ' || doc_id END AS text FROM documents), "
            "dl AS (SELECT unnest(list_distinct(list_filter(list_transform("
            "string_split(text, chr(10)), l -> trim(l)), x -> x != ''))) AS tl "
            "FROM pl), "
            "hot AS (SELECT h FROM (SELECT ('0x'||substr(md5(tl),1,15))::bigint AS h "
            "FROM dl) GROUP BY h HAVING count(*) >= 2), "
            "hb AS (SELECT coalesce(list_sort(list(h)), []) AS hl FROM hot), "
            "scl AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pl), "
            "sck AS (SELECT doc_id, ls, list_filter(ls, l -> trim(l) = '' OR "
            "NOT list_contains(hl, ('0x'||substr(md5(trim(l)),1,15))::bigint)) AS kept "
            "FROM scl, hb), "
            # coalesce: DuckDB array_to_string([]) is NULL, but the
            # operator rejoins an all-dropped doc to '' (concat_ws) —
            # only reachable when a doc's every line is hot (duplicate
            # full-text lines; exists at sf0.1, not sf0.01)
            "sc AS (SELECT doc_id, "
            "md5(coalesce(array_to_string(kept, chr(10)), '')) AS scrub_md5, "
            "len(ls) - len(kept) AS n_lines_dropped FROM sck) "
            # hashed_embedding twin: token hashes materialized once, 32
            # signed bucket folds, L2 normalize, HALF_UP micro checksum
            ", he AS (SELECT doc_id, list_transform(toks, "
            "t -> ('0x'||substr(md5(t),1,15))::bigint) AS hs "
            f"FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)), "
            "hc AS (SELECT doc_id, CASE WHEN hs IS NULL THEN NULL ELSE "
            "list_transform(range(0, 32), i -> "
            "coalesce(list_aggregate(list_transform(hs, x -> CASE WHEN x % 32 = i "
            "THEN (CASE WHEN x % 64 < 32 THEN 1 ELSE -1 END) ELSE 0 END), "
            "'sum'), 0)::double) END AS cnts FROM he), "
            "hn AS (SELECT doc_id, sqrt(list_aggregate(list_transform(cnts, "
            "x -> x * x), 'sum')) AS n2, cnts FROM hc), "
            "hx AS (SELECT doc_id, list_aggregate(list_transform(cnts, "
            "x -> round(x / greatest(n2, 1e-12) * 1000000)::bigint), 'sum')::bigint "
            "AS hemb_checksum FROM hn) "
            "SELECT d.doc_id, length(d.text) AS n_chars, "
            f"len({_TOKS}) AS n_tokens, "
            "len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) "
            "AS n_bpe_tokens, hx.hemb_checksum, "
            # normalization twin over the same planted prefix: NFC
            # compose, lower, strip control (except \t\n\r), squash+trim
            "md5(trim(regexp_replace(regexp_replace(lower(nfc_normalize("
            "CASE WHEN d.doc_id % 31 = 0 THEN "
            "'Cafe' || chr(769) || ' ' || chr(7) || ' NAIVE' || chr(776) "
            "|| chr(9) || 'X  ' || d.text ELSE d.text END)), "
            "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), "
            "'\\s+', ' ', 'g'))) AS norm_md5, "
            "a.n_chunks, a.chunk_tokens, a.chunk_md5_sum, "
            "sc.scrub_md5, sc.n_lines_dropped, ds.dsir_logw "
            "FROM documents d JOIN agg a USING (doc_id) JOIN sc USING (doc_id) "
            "JOIN hx USING (doc_id) JOIN "
            # dsir twin: model re-trained from raw parquet by the Python
            # twin (_dsir_score_sql), scored over the shared toks CTE
            f"(SELECT doc_id, {_dsir_score_sql()} AS dsir_logw FROM t) ds "
            "USING (doc_id)"
        ),
        "text_quality": (
            "WITH q AS (SELECT doc_id, length(text) AS n_chars, "
            f"len({_TOKS}) AS n_tokens, "
            "length(regexp_replace(text, '[^.,;:!?''\"()\\[\\]{}]', '', 'g')) AS n_punct, "
            "length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper, "
            f"len(list_filter({_TOKS}, t -> list_contains({_EN_STOP}, t))) AS n_stop, "
            f"len(list_distinct({_TOKS})) AS n_distinct_tokens, "
            "list_filter(list_transform(string_split_regex(text, '\\n'), l -> trim(l)), "
            "l -> l != '') AS lines, "
            f"{_nb_score_sql()} AS nb_en_logodds, "
            f"{_lm_score_sql()} AS lm_avg_logprob "
            f"FROM (SELECT *, {_TOKS} AS toks FROM documents)) "
            "SELECT doc_id, "
            "round(n_stop::double / greatest(n_tokens, 1), 4) AS stopword_ratio, "
            "round(n_upper::double / greatest(n_chars, 1), 4) AS upper_ratio, "
            "round((least(n_tokens::double / 50.0, 1.0) "
            " + (1.0 - least(n_punct::double / greatest(n_chars, 1) * 4.0, 1.0)) "
            " + least(n_stop::double / greatest(n_tokens, 1) * 4.0, 1.0)) / 3.0, 4) AS quality_score, "
            "round(CASE WHEN len(lines) > 0 THEN "
            "1.0 - len(list_distinct(lines))::double / len(lines) ELSE 0.0 END, 4) "
            "AS dup_line_fraction, "
            "round(CASE WHEN n_tokens > 0 THEN "
            "1.0 - n_distinct_tokens::double / n_tokens ELSE 0.0 END, 4) "
            "AS dup_token_fraction, "
            "nb_en_logodds, lm_avg_logprob "
            "FROM q"
        ),
        "text_lang_counts": (
            f"WITH s AS (SELECT {_lang_scores()} FROM documents), "
            "p AS (SELECT CASE "
            "WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr' "
            "WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es' "
            "WHEN s_en >= s_de AND s_en > 0 THEN 'en' "
            "WHEN s_de > 0 THEN 'de' ELSE 'und' END AS lang_pred FROM s) "
            "SELECT lang_pred, count(*) AS n FROM p GROUP BY lang_pred "
            # r6 eval arm: en-stopword micro score vs lang=='en' —
            # tie-aware Mann-Whitney AUC over per-score groups + the
            # threshold-50000 confusion, metrics in 1e-6 fixed point.
            "UNION ALL SELECT lang_pred, n FROM ("
            f"WITH sc AS (SELECT round(1e6 * len(list_filter({_TOKS}, "
            f"t -> list_contains({_EN_STOP}, t))) / "
            f"greatest(len({_TOKS}), 1))::bigint AS s, "
            "(lang = 'en') AS y FROM documents "
            "WHERE lang IS NOT NULL AND text IS NOT NULL), "
            "per AS (SELECT s, count(*) AS c, sum(y::int) AS p FROM sc GROUP BY s), "
            "rk AS (SELECT *, coalesce(sum(c) OVER (ORDER BY s "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM per), "
            "auc AS (SELECT round((sum(p * (below + (c + 1) / 2.0)) - "
            "sum(p) * (sum(p) + 1) / 2.0) / (sum(p) * sum(c - p)), 6) AS a, "
            "sum(p)::bigint AS np, sum(c - p)::bigint AS nn FROM rk), "
            "cm AS (SELECT sum((s >= 50000 AND y)::int)::bigint AS tp, "
            "sum((s >= 50000 AND NOT y)::int)::bigint AS fp, "
            "sum((s < 50000 AND y)::int)::bigint AS fn, "
            "sum((s < 50000 AND NOT y)::int)::bigint AS tn FROM sc) "
            "SELECT 'eval:auc_micro' AS lang_pred, round(a * 1e6)::bigint AS n FROM auc "
            "UNION ALL SELECT 'eval:n_pos', np FROM auc "
            "UNION ALL SELECT 'eval:n_neg', nn FROM auc "
            "UNION ALL SELECT 'eval:tp', tp FROM cm "
            "UNION ALL SELECT 'eval:fp', fp FROM cm "
            "UNION ALL SELECT 'eval:fn', fn FROM cm "
            "UNION ALL SELECT 'eval:tn', tn FROM cm "
            "UNION ALL SELECT 'eval:prec_micro', CASE WHEN tp + fp > 0 THEN "
            "round(round(tp / (tp + fp), 6) * 1e6)::bigint END FROM cm "
            "UNION ALL SELECT 'eval:rec_micro', CASE WHEN tp + fn > 0 THEN "
            "round(round(tp / (tp + fn), 6) * 1e6)::bigint END FROM cm "
            # f1 composes the UNROUNDED precision/recall (matching
            # confusion_at, which rounds only on output), then 6dp + 1e6
            "UNION ALL SELECT 'eval:f1_micro', CASE WHEN tp + fp > 0 AND "
            "tp + fn > 0 AND tp / (tp + fp) + tp / (tp + fn) > 0 THEN "
            "round(round(2 * (tp / (tp + fp)) * (tp / (tp + fn)) / "
            "(tp / (tp + fp) + tp / (tp + fn)), 6) * 1e6)::bigint END FROM cm) "
            # r7 s2 cms arm: rebuild the 3×64 count-min sketch from raw
            # parquet (same cms{i}: salted md5-60-bit buckets) and emit
            # least-of-lookups per distinct lang — value-for-value the
            # Spark model's estimates
            "UNION ALL SELECT 'cms:' || v AS lang_pred, est AS n FROM ("
            "WITH cb AS (SELECT lang AS v, "
            + ", ".join(
                f"('0x'||substr(md5('cms{i}:'||lang),1,15))::bigint % 64 AS b{i}"
                for i in range(3)
            )
            + " FROM documents WHERE lang IS NOT NULL), "
            "dv AS (SELECT DISTINCT v, b0, b1, b2 FROM cb) "
            "SELECT v, least(t0.c0, t1.c1, t2.c2) AS est FROM dv "
            + " ".join(
                f"JOIN (SELECT b{i}, count(*) AS c{i} FROM cb GROUP BY b{i}) t{i} "
                f"USING (b{i})"
                for i in range(3)
            )
            + ") "
            # scms arm: the drained streaming twin sketches two DISJOINT
            # halves and merges counter-wise — merged ≡ the batch sketch
            # exactly, so the oracle is the identical rebuild, scms-
            # prefixed
            "UNION ALL SELECT 'scms:' || v AS lang_pred, est AS n FROM ("
            "WITH cb AS (SELECT lang AS v, "
            + ", ".join(
                f"('0x'||substr(md5('cms{i}:'||lang),1,15))::bigint % 64 AS b{i}"
                for i in range(3)
            )
            + " FROM documents WHERE lang IS NOT NULL), "
            "dv AS (SELECT DISTINCT v, b0, b1, b2 FROM cb) "
            "SELECT v, least(t0.c0, t1.c1, t2.c2) AS est FROM dv "
            + " ".join(
                f"JOIN (SELECT b{i}, count(*) AS c{i} FROM cb GROUP BY b{i}) t{i} "
                f"USING (b{i})"
                for i in range(3)
            )
            + ") "
            # r8 hh arm: the CMS screen never underestimates, so the
            # two-phase heavy-hitter plan is EXACT — the oracle is the
            # plain exact aggregate at the same corpus-scaled threshold
            "UNION ALL SELECT 'hh:' || lang AS lang_pred, count(*) AS n "
            "FROM documents WHERE lang IS NOT NULL GROUP BY lang "
            "HAVING count(*) >= (SELECT count(*) FROM documents) // 10 + 1"
        ),
        "doc_fingerprints": (
            # Same md5-derived 60-bit shingle hash as the Spark side
            # (functions/text.py document_fingerprint): 5-word shingles,
            # keep hashes ≡ 0 (mod 8), count them.
            f"WITH w AS (SELECT doc_id, {_TOKS} AS w FROM documents), "
            "sh AS (SELECT doc_id, CASE WHEN len(w) > 0 THEN "
            "list_transform(generate_series(0, greatest(len(w)-5, 0)), "
            "i -> array_to_string(w[i+1:i+5], ' ')) ELSE [''] END AS sh FROM w), "
            "fps AS (SELECT doc_id, len(list_filter(list_transform(sh, s -> "
            "('0x'||substr(md5(s),1,15))::bigint), h -> h % 8 = 0)) AS n_fingerprints "
            "FROM sh), "
            # r6 duplicated-span arm (operators/spans.py twin): 8-token
            # shingles, same md5 60-bit hash, gaps-and-islands merge,
            # zero-filled per-doc exposure stats.
            "sp8 AS (SELECT doc_id, i - 1 AS pos, "
            "('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::bigint AS h "
            "FROM w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)), "
            "dup AS (SELECT doc_id, pos FROM sp8 WHERE h IN "
            "(SELECT h FROM sp8 GROUP BY h HAVING count(*) >= 2)), "
            "brk AS (SELECT doc_id, pos, CASE WHEN pos > "
            "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8 "
            "THEN 1 ELSE 0 END AS b FROM dup), "
            "isl AS (SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id "
            "ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM brk), "
            "spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e, "
            "count(*) AS c FROM isl GROUP BY doc_id, island), "
            "sstats AS (SELECT doc_id, count(*)::bigint AS dup_spans, "
            "sum(e - s + 1)::bigint AS dup_tokens FROM spans GROUP BY doc_id) "
            "SELECT fps.doc_id, n_fingerprints, "
            "coalesce(dup_spans, 0)::bigint AS dup_spans, "
            "coalesce(dup_tokens, 0)::bigint AS dup_tokens, "
            "CASE WHEN len(w) > 0 THEN round(coalesce(dup_tokens, 0) / len(w), 6) "
            "ELSE 0.0 END AS dup_fraction "
            "FROM fps JOIN w USING (doc_id) LEFT JOIN sstats USING (doc_id)"
        ),
        "text_tfidf": (
            "WITH ex AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS token "
            f"FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)), "
            "tf AS (SELECT doc_id, token, any_value(n_toks) AS n_toks, "
            "count(*) AS cnt FROM ex GROUP BY doc_id, token), "
            "dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token), "
            "n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), "
            "sc AS (SELECT doc_id, tf.token, "
            "round((cnt::double / n_toks) * ln(n_docs::double / dfc), 6) AS tfidf "
            "FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY tfidf DESC, token) AS rn FROM sc) "
            "SELECT doc_id, token, tfidf FROM r WHERE rn <= 5 "
            # r6 bm25 arm: independent BM25 re-derivation (Lucene idf,
            # k1=1.2 b=0.75 folded to the 2.2/0.25/0.75 literals), rank
            # encoded in the token tag so ordering is hash-checked.
            "UNION ALL "
            "SELECT doc_id, 'bm25:' || query_id || ':r' || rank AS token, "
            "bm25 AS tfidf FROM ("
            "WITH q(query_id, token) AS (VALUES "
            "('q0','fast'),('q0','hash'),('q0','join'),"
            "('q1','slow'),('q1','scan')), "
            f"btoks AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "bstats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl "
            "FROM btoks), "
            "bex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token "
            "FROM btoks), "
            "btf AS (SELECT doc_id, token, any_value(dl) AS dl, "
            "count(*) AS tf FROM bex "
            "WHERE token IN (SELECT DISTINCT token FROM q) "
            "GROUP BY doc_id, token), "
            "bdf AS (SELECT token, count(*) AS dfc FROM btf GROUP BY token), "
            "bsc AS (SELECT q.query_id, btf.doc_id, round(sum("
            "ln(1 + (n_docs - dfc + 0.5) / (dfc + 0.5)) * tf * 2.2 / "
            "(tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25 "
            "FROM btf JOIN bdf USING (token) JOIN q USING (token) "
            "CROSS JOIN bstats GROUP BY q.query_id, btf.doc_id), "
            "br AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY bm25 DESC, doc_id ASC) AS rank FROM bsc) "
            "SELECT query_id, doc_id, bm25, rank FROM br WHERE rank <= 8) "
            # r6 s3 bpe arm: the oracle RE-LEARNS the first 8 BPE merges
            # from raw parquet via the unrolled CTE chain — fully
            # independent of the Spark trainer's driver loop.
            "UNION ALL "
            "SELECT (-rank)::bigint AS doc_id, "
            "'bpe:' || rank || ':' || a || '+' || b AS token, "
            "rank::double AS tfidf FROM ("
            + _bpe_oracle_cte(BPE_ORACLE_MERGES)
            + ")"
        ),
        "multimodal_decode": (
            # The fake decoder is deliberately md5-derived (multimodal.py
            # _fake_decode) so DuckDB can reproduce the mapInPandas output
            # value-for-value: feature i of a doc is
            # md5(utf8(text) + ':' + i) first-8-hex-digits mod 10000 / 1e4.
            "SELECT doc_id, feature_no, "
            "(('0x' || substr(md5(text || ':' || feature_no), 1, 8))::bigint "
            " % 10000) / 10000.0 AS feature_value "
            "FROM documents CROSS JOIN "
            "(SELECT unnest(generate_series(0, 7)) AS feature_no)"
        ),
        "multimodal_shapes": (
            # Resize contract (every doc → exactly width*height bytes) +
            # frame-sampling count + the PNG probe arm: the oracle
            # recomputes the PLANTED dimensions arithmetically — the
            # Spark side must parse them back out of the bytes it built
            "SELECT doc_id, 256::int AS n_bytes, "
            "greatest(floor(octet_length(encode(text)) / 64)::int, 1)::bigint AS n_frames, "
            "'png' AS probe_fmt, "
            "(doc_id % 1000 + 1)::int AS png_w, "
            "((doc_id * 7) % 1000 + 1)::int AS png_h, "
            "true AS probe_valid "
            "FROM documents"
        ),
        "asof_join_marks": (
            # DuckDB's native ASOF JOIN is the oracle for the Spark-side
            # union+window formulation (operators/joins.py asof_join).
            "WITH l AS (SELECT event_id, coalesce(event_type, '__nil') AS etype, "
            "floor(epoch(ts))::bigint AS sec FROM events), "
            "m AS (SELECT coalesce(event_type, '__nil') AS etype, "
            "floor(epoch(ts))::bigint AS sec, max(value)::double AS mark_value "
            "FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2) "
            "SELECT l.event_id, l.etype, l.sec, m.mark_value "
            "FROM l ASOF LEFT JOIN m ON l.etype = m.etype AND l.sec >= m.sec"
        ),
        "range_join_incidents": (
            # Plain inequality join is the oracle for the bucketed
            # equi-join-on-bins formulation (operators/joins.py range_join).
            "WITH l AS (SELECT coalesce(event_type, '__nil') AS etype, "
            "floor(epoch(ts))::bigint AS sec FROM events), "
            "i AS (SELECT DISTINCT coalesce(event_type, '__nil') AS etype, "
            "floor(epoch(ts))::bigint AS inc_start FROM events WHERE value > 300) "
            "SELECT i.etype, i.inc_start, count(*) AS n_events "
            "FROM i JOIN l ON l.etype = i.etype "
            "AND l.sec BETWEEN i.inc_start AND i.inc_start + 3600 "
            "GROUP BY 1, 2"
        ),
        "streaming_windowed_agg": (
            # both arms (direct; double-delivered + ingestion-dedup) must
            # equal the SINGLE-delivery batch aggregate
            "WITH d AS (SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "(floor(epoch(ts) / 86400) * 86400)::double AS window_start, "
            "((floor(epoch(ts) / 86400) + 1) * 86400)::double AS window_end, "
            "round(sum(coalesce(value, 0)), 3) AS sum__value, "
            "CAST(count(value) AS DOUBLE) AS count__value "
            "FROM events GROUP BY coalesce(event_type, '__nil'), floor(epoch(ts) / 86400)) "
            "SELECT a.arm, d.* FROM d "
            "CROSS JOIN (VALUES ('direct'), ('dedup')) AS a(arm) "
            # r6 topk arm: the drained Space-Saving heavy-hitters twin is
            # EXACT here (m=256 ≥ distinct buckets), so it must equal the
            # batch top-5 value-bucket counts per event type; rank in
            # window_start, overcount (0 — no evictions) in window_end,
            # ties on the bucket STRING (both engines sort varchar).
            "UNION ALL "
            "SELECT 'topk' AS arm, g_event_type || ':' || bucket AS g_event_type, "
            "rnk::double AS window_start, 0.0 AS window_end, "
            "NULL::double AS sum__value, cnt::double AS count__value FROM ("
            "SELECT g_event_type, bucket, cnt, row_number() OVER ("
            "PARTITION BY g_event_type ORDER BY cnt DESC, bucket) AS rnk FROM ("
            "SELECT coalesce(event_type, '__nil') AS g_event_type, "
            "floor(value / 100)::bigint::varchar AS bucket, count(*) AS cnt "
            "FROM events WHERE value IS NOT NULL GROUP BY 1, 2)) "
            "WHERE rnk <= 5"
        ),
    }
    o.update(PASSTHROUGH_SQL)
    return o
