"""Aggregate expressions A1-A9 with exact zx semantics (SURVEY §2.1, §2.5).

Reference: ``aggregate_window`` src/lib.rs:558-663. Every aggregate here is a
single Catalyst expression usable inside ``groupBy().agg(...)`` — JVM-side,
whole-stage-codegen'd, with map-side partial aggregation. No UDAFs needed.

Sample-rate semantics (reference src/lib.rs §2.5): a row with
``sample_rate = r`` stands for r original events (head-based sampling
compensation). SUM/COUNT/MEAN are weighted; MAX/MIN/COUNT_DISTINCT are
rate-invariant. Missing rate defaults to 1 (src/lib.rs:565, 615, 645).

Null conventions reproduced exactly:
- SUM: missing value contributes 0 (src/lib.rs:566-572)
- COUNT: counts only rows where the column is present (src/lib.rs:613-617)
- COUNT_DISTINCT: exact distinct +1 if any row lacks the column — NULL counts
  as one distinct value (src/lib.rs:624-636)
- MEAN: over present values only, weighted by integer-truncated rate
  (src/lib.rs:643-651)
- MAX/MIN on an all-missing window: f64::MIN / f64::MAX sentinels
  (src/lib.rs:578, 594) — behind ``empty_sentinels`` (default True for
  reference fidelity; pass False for SQL-friendly NULLs)

P50/RAW/HEATMAP are ``unimplemented!()`` in the reference (src/lib.rs:659-661);
implemented for real here (SURVEY §7 M2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from zx_spark.model import Aggregate, Select
from zx_spark.util import sql_double

F64_MIN = -1.7976931348623157e308
F64_MAX = 1.7976931348623157e308

# Default HEATMAP domain, used when Select.params doesn't override it.
HEATMAP_LO = 0.0
HEATMAP_HI = 1000.0
HEATMAP_BINS = 10


def _rate(rate_col: str | None) -> Column:
    return F.expr(_rate_sql(rate_col))


def _rate_sql(rate_col: str | None) -> str:
    if rate_col is None:
        return "1.0D"
    return f"coalesce(cast(`{rate_col}` as double), 1.0D)"


def agg_expr(
    sel: Select,
    rate_col: str | None = "sample_rate",
    empty_sentinels: bool = True,
) -> Column:
    """Build the aggregate Column for one Select; aliased to ``sel.alias``.

    Built as ONE SQL expression: a query build then pays one py4j call per
    aggregate, where the Column API pays several per function (each also
    records its Python call site in the JVM)."""
    return F.expr(f"{_agg_sql(sel, rate_col, empty_sentinels)} AS `{sel.alias}`")


def _agg_sql(sel: Select, rate_col: str | None, empty_sentinels: bool) -> str:
    col = f"`{sel.column}`"
    x = f"cast({col} as double)"
    r = _rate_sql(rate_col)
    a = sel.aggregate

    if a is Aggregate.SUM:
        return f"coalesce(sum(coalesce({x}, 0.0D) * {r}), 0.0D)"
    if a is Aggregate.MAX:
        e = f"max({x})"
        return f"coalesce({e}, {sql_double(F64_MIN)})" if empty_sentinels else e
    if a is Aggregate.MIN:
        e = f"min({x})"
        return f"coalesce({e}, {sql_double(F64_MAX)})" if empty_sentinels else e
    if a is Aggregate.COUNT:
        return f"coalesce(sum(CASE WHEN {col} IS NOT NULL THEN {r} ELSE 0.0D END), 0.0D)"
    null_as_one = f"max(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)"
    if a is Aggregate.COUNT_DISTINCT:
        return f"cast(count(DISTINCT {col}) + {null_as_one} as double)"
    if a is Aggregate.COUNT_DISTINCT_APPROX:
        # HLL++ sketch (rsd from params, default 5%): mergeable partial
        # aggregate, no exact-distinct shuffle — the 100 TB variant. Keeps
        # the reference's NULL-counts-as-one-distinct rule.
        rsd = float(sel.params[0]) if sel.params else 0.05
        return f"cast(approx_count_distinct({col}, {sql_double(rsd)}) + {null_as_one} as double)"
    if a is Aggregate.MEAN:
        # Reference parses the rate as isize for mean (src/lib.rs:643-646):
        # integer-truncate before weighting.
        ri = f"cast(floor({r}) as double)"
        num = f"sum(CASE WHEN {x} IS NOT NULL THEN {x} * {ri} END)"
        den = f"sum(CASE WHEN {x} IS NOT NULL THEN {ri} END)"
        return f"{num} / {den}"
    if a is Aggregate.P50:
        return f"percentile({x}, 0.5)"
    if a is Aggregate.P50_APPROX:
        # Mergeable sketch — the 100 TB path (exact percentile buffers
        # every value per group; the sketch is bounded-memory).
        return _approx_quantile_sql(x, 0.5)
    if a is Aggregate.QUANTILE_APPROX:
        if not sel.params or not 0.0 < float(sel.params[0]) < 1.0:
            raise ValueError(
                f"QUANTILE_APPROX needs params=(q, ...) with 0 < q < 1, "
                f"got {sel.params!r}"
            )
        if float(sel.params[0]) == 0.5:
            # q=0.5 would alias to 'p50_approx__<col>', colliding with
            # P50_APPROX on the same column — reject rather than emit
            # silent duplicate column names
            raise ValueError(
                "QUANTILE_APPROX with q=0.5 duplicates P50_APPROX's "
                "alias — use Aggregate.P50_APPROX instead"
            )
        return _approx_quantile_sql(x, float(sel.params[0]))
    if a is Aggregate.RAW:
        return f"sort_array(collect_list({x}))"
    if a is Aggregate.HEATMAP:
        lo, hi, bins = sel.params or (HEATMAP_LO, HEATMAP_HI, HEATMAP_BINS)
        if not (hi > lo and bins > 0):
            raise ValueError(f"bad heatmap domain ({lo}, {hi}, {bins})")
        return _histogram_sql(x, float(lo), float(hi), int(bins))
    raise ValueError(f"unknown aggregate {a}")


def _histogram_sql(x: str, lo: float, hi: float, bins: int) -> str:
    """Deterministic equi-width histogram of ``x`` as an array of counts.

    One sum per bin — each is a plain partial-aggregatable expression, so
    this scales (unlike collect_list-then-bucket). Values outside [lo, hi)
    clamp into the edge bins. The reference's HEATMAP never ran
    (src/lib.rs:661); its intended output type was ``AggregateResult::List``
    (src/lib.rs:41), which this matches.
    """
    width = (hi - lo) / bins
    bucket = f"least(greatest(floor(({x} - {sql_double(lo)}) / {sql_double(width)}), 0), {bins - 1})"
    counts = ", ".join(
        f"cast(coalesce(sum(CASE WHEN {x} IS NOT NULL AND {bucket} = {i} "
        "THEN 1 ELSE 0 END), 0) as double)"
        for i in range(bins)
    )
    return f"array({counts})"


def is_numeric_result(sel: Select) -> bool:
    """run_sorted keeps only Number-valued aggregates (src/lib.rs:746)."""
    return sel.aggregate not in (Aggregate.RAW, Aggregate.HEATMAP)


def _approx_quantile_sql(x: str, q: float) -> str:
    """Mergeable quantile sketch (percentile_approx) — the scale variant
    of exact P50 for 100 TB inputs."""
    return f"percentile_approx({x}, array({q}), 10000)[0]"
