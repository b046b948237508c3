"""Query → DataFrame compiler — the engine core.

Lowers the logical ``Query`` (zx_spark.model) to a declarative DataFrame plan
and lets Catalyst do physical planning. The reference executes the same
pipeline imperatively in ``run_unsorted`` (src/lib.rs:191-218):

    scan(time range) → filter* → project → group → window → aggregate

Here each stage is the obvious Catalyst construct, so the reference's four
hand-coded optimizations (SURVEY §4: time pruning, predicate pushdown, column
pruning, late materialization) come from the optimizer:

- time range   → ``ts`` bounds on a native timestamp column → Parquet
  row-group min/max stat pruning. The ``ts`` bound alone never becomes a
  partition filter; a store partitioned by day gets ``day_range``'s
  ``event_date`` bounds too (the facade adds them, ``api.ZX``)
- conditions   → pushed-down predicates, one ``filter`` with the time range
- projection   → ColumnPruning prunes the Parquet ReadSchema
- group/window → hash aggregate with map-side partial aggregation; group
  keys and aligned windows are ``groupBy`` expressions

The builders fetch the input schema once per query and build plain-SQL
expressions as ``F.expr`` strings: each ``Column``-API call costs several
py4j round trips, a parsed string one.
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zx_spark.model import NIL, Query
from zx_spark.operators.aggregates import agg_expr, is_numeric_result
from zx_spark.operators.filters import condition_to_column
from zx_spark.operators.windows import (
    WINDOW_END_TS,
    WINDOW_NO,
    WINDOW_START_TS,
    aligned_window_no,
    with_faithful_windows,
    with_session_windows,
)
from zx_spark.util import sql_double

GROUP_PREFIX = "g_"
WINDOW_START = "window_start"
WINDOW_END = "window_end"


def group_alias(col: str) -> str:
    return GROUP_PREFIX + col.replace(".", "_")


def column_types(df: DataFrame) -> dict[str, T.DataType]:
    """Column name → type: the one schema fetch a query build makes."""
    return {f.name: f.dataType for f in df.schema.fields}


def scan_filter(
    df: DataFrame, q: Query, ts_col: str, types: dict[str, T.DataType] | None = None
) -> DataFrame:
    """Time-range scan S1 (reference get_ids_in_range, src/lib.rs:305-331:
    inclusive [t_start, t_end] on the event timestamp) and the F1
    conditions as ONE filter. ``types`` (``column_types(df)``) saves the
    schema fetch when the caller already holds it."""
    bounds = [
        f"`{ts_col}` {op} timestamp_seconds({sql_double(t)})"
        for t, op in ((q.t_start, ">="), (q.t_end, "<="))
        if t is not None
    ]
    preds = [F.expr(" AND ".join(bounds))] if bounds else []
    if q.conditions:
        types = column_types(df) if types is None else types
        preds += [condition_to_column(c, types.get(c.column)) for c in q.conditions]
    return df.filter(reduce(lambda a, b: a & b, preds)) if preds else df


def day_range(q: Query, day_col: str) -> Column | None:
    """Partition bounds for ``q``'s time range on a store partitioned by
    day (``storage.write_events`` writes ``day_col = to_date(ts)`` in the
    session time zone of the write). Each bound is the UTC date of the
    ``ts`` bound widened by one day, so a store written under any time
    zone loses no row; ``scan_filter``'s ``ts`` bounds keep the answer
    exact. None when ``q`` has no time bound a date can hold."""
    bounds = []
    for t, op, widen in ((q.t_start, ">=", -1), (q.t_end, "<=", 1)):
        if t is None:
            continue
        try:
            day = _dt.datetime.fromtimestamp(t, tz=_dt.timezone.utc).date()
            day += _dt.timedelta(days=widen)
        except (OverflowError, ValueError, OSError):  # beyond any date
            continue
        bounds.append(f"`{day_col}` {op} DATE'{day.isoformat()}'")
    return F.expr(" AND ".join(bounds)) if bounds else None


def _key_expr(col: str) -> Column:
    """Group-by key as a string, missing value → the literal "__nil"
    (reference src/lib.rs:547-551), named ``group_alias(col)``. Group keys
    are strings, as in the reference's SparseData model."""
    return F.expr(f"coalesce(cast(`{col}` as string), '{NIL}') AS `{group_alias(col)}`")


def compile_query(
    df: DataFrame,
    q: Query,
    id_col: str = "id",
    ts_col: str = "ts",
    rate_col: str | None = "sample_rate",
    empty_sentinels: bool = True,
    sort: bool = False,
) -> DataFrame:
    """Compile a windowed grouped-aggregate query (run_unsorted equivalent,
    reference src/lib.rs:191-218).

    Output columns: one ``g_<col>`` string per group-by key, then
    ``window_start``/``window_end`` (unix seconds of first/last event in the
    window, reference src/lib.rs:702-708), then one column per select aliased
    ``<agg>__<col>``.
    """
    types = column_types(df)
    if rate_col is not None and rate_col not in types:
        rate_col = None
    df = scan_filter(df, q, ts_col, types)
    keys = [group_alias(c) for c in q.group_by]

    grouping: list = [_key_expr(c) for c in q.group_by]
    faithful = False
    if q.granularity_s is not None:
        if q.window_mode == "aligned":
            grouping.append(aligned_window_no(ts_col, q.granularity_s))
        elif q.window_mode in ("faithful", "session"):
            # the segmenters order rows within each group: keys as columns
            df = df.withColumns({k: e for k, e in zip(keys, grouping)})
            faithful = q.window_mode == "faithful"
            segment = with_faithful_windows if faithful else with_session_windows
            df = segment(df, keys, id_col, ts_col, q.granularity_s)
            grouping = keys + [WINDOW_NO]
        else:
            # A typo'd mode must not silently fall back to different
            # window semantics.
            raise ValueError(
                f"unknown window_mode {q.window_mode!r} "
                "(expected 'aligned', 'session', or 'faithful')"
            )

    if faithful:
        # Reference-exact report timestamps (src/lib.rs:702-712): first-row-
        # in-id-order ts (a dropped breaking row's ts after a break) and
        # last-kept-row-in-id-order ts, emitted by the segmenter.
        start_expr = F.first(F.col(WINDOW_START_TS)).alias(WINDOW_START)
        end_expr = F.first(F.col(WINDOW_END_TS)).alias(WINDOW_END)
    else:
        start_expr = F.expr(f"min(cast(`{ts_col}` as double)) AS {WINDOW_START}")
        end_expr = F.expr(f"max(cast(`{ts_col}` as double)) AS {WINDOW_END}")
    aggs = [start_expr, end_expr] + [
        agg_expr(s, rate_col=rate_col, empty_sentinels=empty_sentinels) for s in q.selects
    ]

    out = df.groupBy(*grouping).agg(*aggs) if grouping else df.agg(*aggs)
    if q.granularity_s is not None:
        out = out.drop(WINDOW_NO)
    out = apply_having(out, q)
    if sort:
        # Opt-in: a global range sort of the result is an extra exchange —
        # wasted at 100 TB when the consumer is order-insensitive (the
        # reference returns an unordered HashMap, src/lib.rs:191-194).
        out = out.orderBy(*keys, WINDOW_START)
    return out


def run_query(
    df: DataFrame,
    q: Query,
    **kwargs,
) -> DataFrame:
    """Alias of compile_query — evaluation is lazy; callers collect."""
    return compile_query(df, q, **kwargs)


_HAVING_OPS = {"=", "!=", "<", "<=", ">", ">="}


def apply_having(out: DataFrame, q: Query) -> DataFrame:
    """Post-aggregation predicates (beyond-reference HAVING): each
    (alias, op, value) triple filters the aggregate's OUTPUT column — a
    plain Catalyst filter after the agg, nothing re-shuffles. Aliases
    resolve against the query's selects (the shim already validated the
    spelling and numeric-ness); an unknown alias fails loudly — a
    silently dropped HAVING is a wrong answer."""
    if not q.having:
        return out
    aliases = {s.alias for s in q.selects}
    preds = []
    for alias, op, val in q.having:
        if alias not in aliases:
            raise ValueError(
                f"HAVING references {alias!r}, which is not in the SELECT list"
            )
        if op not in _HAVING_OPS:
            raise ValueError(f"unknown HAVING operator {op!r}")
        preds.append(f"`{alias}` {op} {sql_double(val)}")
    return out.filter(" AND ".join(preds))


def run_sorted(
    df: DataFrame,
    q: Query,
    id_col: str = "id",
    ts_col: str = "ts",
    rate_col: str | None = "sample_rate",
) -> DataFrame:
    """Aggregate-then-sort / top-groups (O1; reference run_sorted +
    sort_group, src/lib.rs:222-246, 735-784).

    Each group aggregates to ONE value per select (no windows,
    src/lib.rs:744); non-numeric (list-valued) aggregates are dropped from
    ordering (src/lib.rs:746); groups are multi-key sorted asc/desc. The
    reference parses ORDER BY but never wires it to SQL (src/lib.rs:840) —
    here it works, and generalizes to Spark's orderBy at any scale.
    """
    types = column_types(df)
    if rate_col is not None and rate_col not in types:
        rate_col = None
    work = scan_filter(df, q, ts_col, types)
    keys = [_key_expr(c) for c in q.group_by]

    numeric = [s for s in q.selects if is_numeric_result(s)]
    aggs = [agg_expr(s, rate_col=rate_col) for s in numeric]
    out = work.groupBy(*keys).agg(*aggs) if keys else work.agg(*aggs)
    out = apply_having(out, q)

    by_key = {s.key: s.alias for s in numeric}
    # Bare group-by columns are valid ORDER BY keys too — after the agg
    # they only exist under their g_<col> alias.
    for c in q.group_by:
        by_key.setdefault(c, group_alias(c))
    order = []
    used = set()
    for key, asc in q.order_by:
        alias = by_key.get(key, key)
        used.add(alias)
        col = F.col(f"`{alias}`")
        order.append(col.asc() if asc else col.desc())
    if order:
        # group keys close the order to a TOTAL one — without them a
        # LIMIT cut at a tie would return an arbitrary subset
        for c in q.group_by:
            if group_alias(c) not in used:
                order.append(F.col(f"`{group_alias(c)}`").asc())
        out = out.orderBy(*order)
    return out

