"""Time-window segmentation (W1) — the reference's one genuinely
non-standard operator (SURVEY §2.6; reference src/lib.rs:665-732).

Two modes:

- ``aligned`` (default, the scale path): epoch-aligned tumbling windows via
  ``F.window(ts, granularity)``. Pure Catalyst — partial aggregation,
  whole-stage codegen, no Python. Reported ``window_start``/``window_end``
  are the first/last *event* timestamps inside the bucket, matching the
  reference's result convention (src/lib.rs:702-708: first/last actual event
  ts, not bucket boundaries).

- ``faithful``: reference-exact *data-aligned* windows. Per group, rows are
  ordered by row id (insert order, NOT ts — src/lib.rs:544); the first row
  opens a window at its ts; a row joins while ``ts - window_start_ts <=
  granularity`` (inclusive, src/lib.rs:696-700); the breaking row is
  DROPPED but its ts seeds the next window's start (src/lib.rs:711-713).
  Window starts depend on the previous window's breaking row, so the
  recurrence is inherently sequential per group — implemented as an
  ``applyInPandas`` segmenter that only ASSIGNS window numbers (aggregation
  stays JVM-side afterwards). Scale note: this shuffles each group to one
  task; fine for compat/oracle use, not the default at 100 TB — use
  ``aligned`` there.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WINDOW_NO = "__window_no"
# Below this row count the auto session-window path stays on the classic
# one-window-per-group plan: a single-task sort of <1M rows is subsecond,
# while the parallel decomposition's summary join measured ~2x pure
# overhead at 100k rows (SCALE.md r11). Explicit n_slices overrides.
SESSION_PARALLEL_MIN_ROWS = 1 << 20
# Bytes-per-row divisor for the job-free plan-statistics row estimate
# (parquet testdata measures ~19-21 B/row; 16 deliberately OVERestimates
# rows so a borderline frame runs the exact bounds scan rather than
# silently staying on the serial classic plan).
ESTIMATED_ROW_BYTES = 16
# Auto stays classic when the group-key cardinality alone already gives
# this many× the shuffle parallelism — the per-group window then spreads
# across the cluster without the slice machinery, and a groups×slices
# summary would only add rows (ADVICE r11: high-cardinality keys could
# push the summary toward driver/broadcast limits for zero benefit).
SESSION_GROUPS_PARALLEL_FACTOR = 4
# Summary frames estimated past this many rows lose the broadcast hint
# (plain join; AQE picks the strategy) — a groups×slices summary is
# normally tiny, but nothing in the API bounds it.
SESSION_SUMMARY_BROADCAST_MAX = 1 << 21
# The job-free gate trusts a SIZE-based row estimate (no catalog
# rowCount) only this many× below the threshold: RLE/dictionary parquet
# can compress under ESTIMATED_ROW_BYTES per row, so a borderline
# size-estimate falls through to the exact bounds scan instead of
# silently pinning a >1M-row frame to the serial classic plan
# (ADVICE r12). Catalog rowCounts (ANALYZE) are exact and gate directly.
SESSION_SIZE_ESTIMATE_MARGIN = 10
# High-cardinality groups stay classic only while the LARGEST group fits
# within this many fair task shares (n / parallelism): cardinality alone
# cannot see skew, and a corpus of thousands of tiny groups plus one
# dominant group would otherwise serialize the dominant timeline onto
# one task — the exact pathology the slice decomposition exists to fix
# (ADVICE r12). Costs one count-per-group aggregate, only on frames
# already past the row threshold with cardinality ≥ the parallel factor.
SESSION_SKEW_FAIR_SHARE = 2
# Faithful-mode per-window report timestamps (reference src/lib.rs:702-712:
# window_start = ts of the first row in id order — after a break, the DROPPED
# breaking row's ts; window_end = ts of the last *kept* row in id order).
WINDOW_START_TS = "__window_start_ts"
WINDOW_END_TS = "__window_end_ts"


def _plan_row_stats(df: DataFrame) -> tuple[int | None, bool]:
    """(row estimate, trusted) from the optimized plan's statistics —
    catalog rowCount when CBO/ANALYZE provided it (trusted: exact per
    store version), else sizeInBytes (parquet file bytes) over a
    deliberately-small bytes-per-row (untrusted: compression can beat
    the divisor). Plan-only: optimizes the plan but launches NO job.
    (None, False) when statistics are unreachable."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get())), True
        size = int(str(stats.sizeInBytes()))
        if size >= 1 << 62:
            # spark.sql.defaultSizeInBytes sentinel (RDD-backed plans
            # report Long.MaxValue) — size genuinely unknown
            return None, False
        return size // ESTIMATED_ROW_BYTES, False
    except Exception:
        return None, False


def _plan_row_estimate(df: DataFrame) -> int | None:
    return _plan_row_stats(df)[0]


def _exact_parquet_rows(df: DataFrame) -> int | None:
    """EXACT row count from parquet FOOTERS — job-free — when the
    optimized plan is pure projections over ONE local parquet relation
    (the bench/API shape: ``spark.read.parquet`` + ts normalization /
    key columns; no Filter/Join/Aggregate between scan and caller, so
    footer rows == frame rows). This is how a frame that was never
    ANALYZEd still gates exactly (VERDICT r13 item 4): the catalog
    rowCount path stays primary; this recovers the same number from the
    files when no catalog table exists. None for anything else —
    non-parquet, remote schemes, cardinality-changing plans — and the
    caller falls back to the exact bounds scan. Only consulted when the
    size-derived estimate could NOT short-circuit, so its footer listing
    replaces a full data scan, never adds to a cheap path."""
    from urllib.parse import unquote, urlparse

    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while node.getClass().getSimpleName() == "Project":
            node = node.children().apply(0)
        if node.getClass().getSimpleName() != "LogicalRelation":
            return None
        fmt = node.relation().fileFormat().toString().lower()
        if "parquet" not in fmt:
            return None
        rp = node.relation().location().rootPaths()
        roots = [rp.apply(i).toString() for i in range(rp.size())]
        local = []
        for r in roots:
            if r.startswith("file:"):
                local.append(unquote(urlparse(r).path))
            elif r.startswith("/"):
                local.append(r)
            else:
                return None  # object store: don't list remotely here
        import pyarrow.dataset as pads

        return sum(
            pads.dataset(p, format="parquet").count_rows() for p in local
        )
    except Exception:
        return None


def _fresh_names(taken, *bases: str) -> list[str]:
    """Temp-column names guaranteed absent from ``taken`` (suffix-counter
    uniquified) — an input frame that already carries a helper name must
    not have it silently overwritten and dropped (ADVICE r11)."""
    taken = set(taken)
    out = []
    for base in bases:
        name, i = base, 0
        while name in taken:
            i += 1
            name = f"{base}_{i}"
        taken.add(name)
        out.append(name)
    return out


def aligned_window_no(ts_col: str, granularity_s: float) -> Column:
    """Epoch-aligned tumbling window id (bucket start, unix seconds),
    named ``WINDOW_NO`` — one expression, usable in ``groupBy``."""
    ms = int(round(granularity_s * 1000))
    if ms <= 0:
        raise ValueError(f"granularity must be positive, got {granularity_s}s")
    return F.expr(
        f"cast(window(`{ts_col}`, '{ms} milliseconds').start as double) AS {WINDOW_NO}"
    )


def with_aligned_windows(df: DataFrame, ts_col: str, granularity_s: float) -> DataFrame:
    """``df`` plus its ``aligned_window_no`` column."""
    return df.withColumn(WINDOW_NO, aligned_window_no(ts_col, granularity_s))


def with_session_windows(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    ts_col: str,
    granularity_s: float,
    n_slices: int | None = None,
) -> DataFrame:
    """Gap-based session window numbers — the scale-safe JVM sibling of
    faithful mode (SURVEY §2.6's lag/gap/cumsum technique).

    A new window starts when the gap to the previous row (ts order, id
    tiebreak) exceeds the granularity. This differs from the reference's
    recurrence (which measures from the window START, drops the breaking
    row, and walks in id order) but captures the same "data-aligned
    burst" intent with no Python and everything spillable/codegen'd.

    Parallel decomposition (r11): a window partitioned only by the
    group key serializes each group onto ONE task — with a handful of
    group values (event_type has 5) the whole corpus sorts on 5 threads
    at any cluster size (measured 10.8x growth for 100x data, SCALE.md
    r10 — the only non-hash-bound outlier). The break flag needs just
    the PREVIOUS row's ts, and the window number is a running sum of
    breaks — a classic parallel prefix: slice each group's timeline
    into ``n_slices`` time ranges, compute lag/cumsum per (group,
    slice) in parallel, then stitch with a tiny per-slice summary (last
    ts feeds the next slice's first gap; break totals prefix-sum into
    per-slice offsets). One extra column-pruned min/max scan + one
    broadcast join of the groups x slices summary buys parallelism
    ~ n_slices x groups instead of = groups. Results are IDENTICAL to
    the single-window form (integer break sums, same (ts, id) order —
    slicing on ts preserves it; pinned by tests).

    ``n_slices``: None = 4x ``spark.sql.shuffle.partitions``, but only
    past ``SESSION_PARALLEL_MIN_ROWS`` rows AND while the group-key
    cardinality already saturating the cluster
    (``SESSION_GROUPS_PARALLEL_FACTOR``× the shuffle parallelism) is
    not hiding a DOMINANT group: high cardinality parallelizes the
    classic plan only for balanced keys, so that branch additionally
    checks the largest group's count against a fair task share
    (``SESSION_SKEW_FAIR_SHARE``) and keeps slicing when one group's
    timeline would serialize (ADVICE r12). The row threshold is first
    read job-free from plan statistics (catalog rowCount gates
    directly; a size-derived estimate only ``SESSION_SIZE_ESTIMATE_
    MARGIN``× below the threshold). A borderline size-only estimate
    next tries an EXACT parquet-footer count (metadata-only, job-free —
    the bench/API plain-read shape gates exactly without an ANALYZE,
    r14); only frames still above the threshold pay the exact bounds
    scan — ONE per-group pass yielding ts bounds, total rows, exact
    group cardinality AND the largest group's count, so the skew branch
    re-reads nothing (ADVICE r13). An explicit
    ``n_slices`` > 1 skips the thresholds but still runs the bounds
    scan eagerly at call time. <= 1 forces the classic
    single-window-per-group plan (no extra jobs — for tiny frames or
    plan-shape tests). Degenerate timelines (no rows, all-null ts,
    single instant) fall back to classic.
    """
    from pyspark.sql import Window as W

    g = float(granularity_s)
    ts = F.col(ts_col).cast("double")
    auto = n_slices is None
    if n_slices is None:
        try:
            n_slices = 4 * int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            n_slices = 128
    try:
        parallelism = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        parallelism = 32
    if auto and n_slices > 1:
        # Job-free gate: a frame whose plan-statistics estimate is below
        # the threshold keeps the classic lazy plan — no bounds scan.
        # Size-derived estimates (no catalog rowCount) only short-circuit
        # a full margin below the threshold; the borderline band first
        # tries an EXACT footer count (metadata-only, r14) and only then
        # pays the exact bounds scan — never trusting a divisor that
        # highly compressed parquet can beat (ADVICE r12).
        est, trusted = _plan_row_stats(df)
        cutoff = SESSION_PARALLEL_MIN_ROWS if trusted else (
            SESSION_PARALLEL_MIN_ROWS // SESSION_SIZE_ESTIMATE_MARGIN
        )
        if est is not None and est < cutoff:
            n_slices = 1
        elif not trusted:
            exact = _exact_parquet_rows(df)
            if exact is not None and exact < SESSION_PARALLEL_MIN_ROWS:
                n_slices = 1
    n_groups = None
    if n_slices > 1:
        # ONE pass decides everything the thresholds need (ADVICE r13:
        # the skew check used to re-execute the full lineage as a second
        # aggregate): per-group count + ts bounds, then a tiny final agg
        # over |groups| rows — global bounds, total rows, EXACT group
        # cardinality, and the largest group's count.
        gb = df.groupBy(*group_cols) if group_cols else df.groupBy()
        bounds = (
            gb.agg(
                F.count(F.lit(1)).alias("__gn"),
                F.min(ts).alias("__glo"),
                F.max(ts).alias("__ghi"),
            )
            .agg(
                F.min("__glo").alias("lo"),
                F.max("__ghi").alias("hi"),
                F.coalesce(F.sum("__gn"), F.lit(0)).alias("n"),
                F.count(F.lit(1)).alias("n_groups"),
                F.max("__gn").alias("max_group"),
            )
            .collect()[0]
        )
        lo, hi, n_groups = bounds["lo"], bounds["hi"], bounds["n_groups"]
        if lo is None or hi is None or hi <= lo:
            n_slices = 1
        elif auto and bounds["n"] < SESSION_PARALLEL_MIN_ROWS:
            n_slices = 1
        elif auto and n_groups >= SESSION_GROUPS_PARALLEL_FACTOR * parallelism:
            # The classic per-group window spreads across >=4x the
            # shuffle parallelism — but cardinality alone cannot see
            # SKEW (ADVICE r12): one dominant group among thousands of
            # tiny ones would serialize its whole timeline onto one
            # task. The per-group counts from the SAME scan decide:
            # classic only while the largest group fits in a few fair
            # task shares; a dominant group keeps the slice
            # decomposition (whose summary join is broadcast-capped).
            fair = max(1, int(bounds["n"]) // max(parallelism, 1))
            max_group = bounds["max_group"]
            if max_group is None or max_group <= SESSION_SKEW_FAIR_SHARE * fair:
                n_slices = 1
    if n_slices <= 1:
        base = W.partitionBy(*(group_cols or [F.lit(1)])).orderBy(
            F.col(ts_col), F.col(id_col)
        )
        brk = F.when(ts - F.lag(ts).over(base) > g, 1).otherwise(0)
        return df.withColumn(
            WINDOW_NO,
            F.sum(brk).over(base.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    width = (hi - lo) / float(n_slices)
    # slice is a pure function of ts, so ts order (ties included) is
    # preserved across slices; null-ts rows get the sentinel first
    # slice, matching NULLS FIRST in the classic order
    slice_id = F.when(
        ts.isNull(), F.lit(-1).cast("long")
    ).otherwise(
        F.least(F.floor((ts - F.lit(lo)) / F.lit(width)), F.lit(n_slices - 1))
    )
    # all helper names uniquified against the input's columns — a frame
    # already carrying e.g. "__slice" must keep it intact (ADVICE r11)
    c_slice, c_lag, c_prev, c_off, const_group, c_first, c_last, c_int, c_tot = (
        _fresh_names(
            list(df.columns) + [WINDOW_NO],
            "__slice", "__lag_ts", "__prev_last", "__offset",
            "__sess_group", "__first_ts", "__last_ts", "__internal", "__total",
        )
    )
    keys = list(group_cols)
    work = df
    if not keys:
        work = work.withColumn(const_group, F.lit(1))
        keys = [const_group]
    work = work.withColumn(c_slice, slice_id)
    wloc = W.partitionBy(*keys, c_slice).orderBy(F.col(ts_col), F.col(id_col))
    work = work.withColumn(c_lag, F.lag(ts).over(wloc))
    # per-(group, slice) summary: first/last event ts + breaks whose
    # predecessor is inside the slice; the slice-entry break is decided
    # one level up where the previous non-empty slice's last ts is known
    ibrk = F.when(ts - F.col(c_lag) > g, 1).otherwise(0)
    summary = work.groupBy(*keys, c_slice).agg(
        F.min(ts).alias(c_first),
        F.max(ts).alias(c_last),
        F.sum(ibrk).alias(c_int),
    )
    wsum = W.partitionBy(*keys).orderBy(c_slice)
    summary = summary.withColumn(
        c_prev, F.lag(c_last).over(wsum)
    ).withColumn(
        c_tot,
        F.col(c_int)
        + F.when(F.col(c_first) - F.col(c_prev) > g, 1).otherwise(0),
    )
    summary = summary.select(
        *keys,
        c_slice,
        c_prev,
        F.coalesce(
            F.sum(c_tot).over(wsum.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias(c_off),
    )
    # eqNullSafe, not `on=`: a NULL group value must match its own
    # summary row (the classic window PARTITIONS nulls together; a
    # plain equi-join would silently drop those rows)
    s_names = _fresh_names(
        list(work.columns) + [c_prev, c_off],
        *[f"__s_{k}" for k in keys], "__s_slice",
    )
    s_keys, s_slice = s_names[:-1], s_names[-1]
    summary = summary.withColumnsRenamed(
        dict(zip(keys, s_keys)) | {c_slice: s_slice}
    )
    cond = F.col(c_slice).eqNullSafe(F.col(s_slice))
    for k, sk in zip(keys, s_keys):
        cond = cond & F.col(k).eqNullSafe(F.col(sk))
    # summary holds one row per non-empty (group, slice) pair — tiny for
    # the corpora the auto gate admits, but an explicit n_slices with a
    # wide key could grow it past broadcast comfort: hint only when the
    # estimate is bounded, else let AQE pick the join strategy
    if n_groups is None or n_groups * n_slices <= SESSION_SUMMARY_BROADCAST_MAX:
        summary = F.broadcast(summary)
    joined = work.join(summary, cond).drop(s_slice, *s_keys)
    brk = F.when(
        ts - F.coalesce(F.col(c_lag), F.col(c_prev)) > g, 1
    ).otherwise(0)
    out = joined.withColumn(
        WINDOW_NO,
        F.col(c_off)
        + F.sum(brk).over(wloc.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    drop = [c_slice, c_lag, c_prev, c_off]
    if const_group in out.columns:
        drop.append(const_group)
    return out.drop(*drop)


def with_faithful_windows(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    ts_col: str,
    granularity_s: float,
) -> DataFrame:
    """Reference-exact data-aligned window numbers; drops breaking rows.

    ``group_cols`` are the (already-materialized, __nil-coalesced) group key
    columns. Output = input columns + ``__window_no`` (long) +
    ``__window_start_ts``/``__window_end_ts`` (double unix seconds), with
    breaking rows removed — downstream groupBy(group_cols + [__window_no])
    then aggregates natively (JVM-side).

    Per-window report timestamps follow the reference exactly
    (src/lib.rs:702-712): ``window_start`` is the ts of the window's FIRST
    row in id order — after a break, that is the *dropped* breaking row's ts
    which seeds the next window — and ``window_end`` is the ts of the last
    *kept* row in id order (not the max ts).

    Documented divergence: on consecutive breaking rows the reference emits
    an empty-window result (sum=0, max=f64::MIN, stale window_end); here a
    window with zero kept rows produces no output row — empty windows vanish.

    Scale note: the recurrence (each window's start depends on the previous
    window's breaking row) is inherently sequential per group, so each
    group's TIMELINE goes to one Python task — but only the slim
    ``(group_cols, id, ts)`` projection crosses the Python boundary; the
    window assignments join back to the full rows by id (inner join also
    drops the breaking rows, which the segmenter omits). Wide rows never
    serialize through Arrow. Still the compat/oracle mode; the scale paths
    are ``aligned``/``session`` (pure Catalyst).
    """
    ts_unix, const_group = _fresh_names(df.columns, "__ts_unix", "__seg_group")
    slim = df.select(*group_cols, id_col, F.col(ts_col).cast("double").alias(ts_unix))
    work = slim
    if not group_cols:
        # applyInPandas needs named grouping columns; a global (ungrouped)
        # segmentation groups on a materialized constant.
        work = work.withColumn(const_group, F.lit(1))
    # StructType.add would mutate work.schema in place — build a fresh one.
    out_schema = T.StructType(
        list(work.schema.fields)
        + [
            T.StructField(WINDOW_NO, T.LongType()),
            T.StructField(WINDOW_START_TS, T.DoubleType()),
            T.StructField(WINDOW_END_TS, T.DoubleType()),
        ]
    )
    g = float(granularity_s)

    def segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ts = pdf[ts_unix].to_numpy()
        n = len(ts)
        window_no = [0] * n
        keep = [True] * n
        w = 0
        start = ts[0] if n else 0.0
        starts: dict[int, float] = {0: start}
        ends: dict[int, float] = {}
        for i in range(n):
            if ts[i] - start <= g:
                window_no[i] = w
                ends[w] = ts[i]  # last kept row in id order wins
            else:
                # Breaking row: dropped, but its ts seeds the next window
                # (reference src/lib.rs:711-713 — window_start_idx = i + 1).
                keep[i] = False
                start = ts[i]
                w += 1
                starts[w] = start
        pdf[WINDOW_NO] = pd.Series(window_no, dtype="int64")
        pdf[WINDOW_START_TS] = pd.Series(
            [starts[wn] for wn in window_no], dtype="float64"
        )
        pdf[WINDOW_END_TS] = pd.Series(
            [ends.get(wn, float("nan")) for wn in window_no], dtype="float64"
        )
        return pdf[pd.Series(keep)]

    seg = work.groupBy(*(group_cols or [const_group])).applyInPandas(
        segment, schema=out_schema
    )
    assignments = seg.select(id_col, WINDOW_NO, WINDOW_START_TS, WINDOW_END_TS)
    return df.join(assignments, on=id_col, how="inner")


def with_hopping_windows(
    df: DataFrame,
    ts_col: str,
    width_s: float,
    slide_s: float,
    window_col: str = "hop_start",
) -> DataFrame:
    """Hopping (sliding) windows beyond the reference's tumbling-only
    surface: each row is replicated into every epoch-aligned window of
    ``width_s`` seconds that covers it, windows starting every
    ``slide_s`` (slide <= width; slide == width degenerates to
    ``with_aligned_windows``). The added column is the covering
    window's start (unix seconds, double) — group by it + your keys
    for overlapping aggregates (rate-over-last-hour-every-5-min).

    Spark shape: a row fans out into exactly ``width/slide`` rows via
    ``explode(sequence(...))`` — a narrow map-side generate identical
    in cost to Spark's own ``F.window(ts, w, s)`` expansion (this
    column-level form composes with the engine's compiled queries and
    is pinned row-for-row against ``F.window`` in tests). Partial
    aggregation still applies after the fan-out; state at 100 TB is
    ∝ groups × (width/slide), same as any hopping aggregation."""
    if width_s <= 0 or slide_s <= 0:
        raise ValueError(f"width_s and slide_s must be > 0, got {width_s}, {slide_s}")
    if slide_s > width_s:
        raise ValueError(
            f"slide_s {slide_s} > width_s {width_s} would DROP events "
            "falling between windows — use sampling instead of gapped windows"
        )
    w_ms = int(round(width_s * 1000))
    s_ms = int(round(slide_s * 1000))
    if w_ms % s_ms != 0:
        raise ValueError(
            f"width_s must be a multiple of slide_s (got {width_s}, {slide_s}) "
            "for epoch-aligned hops"
        )
    t_ms = (F.col(f"`{ts_col}`").cast("double") * 1000).cast("long")
    # last window start <= ts is floor(ts/s)*s; the first covering start
    # is that minus (width/slide - 1) hops (clipped windows at negative
    # starts are kept — F.window does the same for the epoch origin)
    last = F.floor(t_ms / s_ms) * s_ms
    n_hops = w_ms // s_ms
    starts = F.sequence(
        last - (n_hops - 1) * s_ms, last, F.lit(s_ms)
    )
    covering = F.filter(starts, lambda st: (t_ms >= st) & (t_ms < st + w_ms))
    # generators cannot nest inside expressions — scale to seconds in
    # the array, then explode stands alone
    return df.withColumn(
        window_col, F.explode(F.transform(covering, lambda st: st / 1000.0))
    )
