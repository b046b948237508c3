"""Multi-dimensional OLAP aggregation: CUBE / ROLLUP / GROUPING SETS.

The reference engine answers exactly ONE grouping per query
(src/lib.rs:547-556 materializes a single group-key tuple per row); a
dashboard that wants totals at every dimension combination — per
(lang, source), per lang, per source, and grand total — must issue 2^d
queries and pay 2^d scans. Spark computes every grouping set in ONE
pass: the physical ``Expand`` node replicates each row once per
grouping set BEFORE a single hash aggregate, so the source is scanned
once, partial (map-side) aggregation still applies, and the shuffle
carries one combined key space instead of 2^d separate jobs. At 100 TB
that is the difference between one scan and eight.

Conventions match the engine's single-grouping path (compiler.py
``_group_keys``): every dimension is stringified and genuine NULL keys
become the ``__nil`` literal BEFORE expansion, so in the output a NULL
dimension value means exactly "rolled up in this grouping set" — never
a missing key — without consulting ``grouping_id``. ``grouping_id`` is
still emitted (first dim = most significant bit, the SQL-standard
order DuckDB's ``GROUPING()`` shares) for callers that route on the
set identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zx_spark.compiler import _key_expr, group_alias
from zx_spark.model import Select
from zx_spark.operators.aggregates import agg_expr

GROUPING_ID = "grouping_id"


def multidim_agg(
    df: DataFrame,
    dims: list[str],
    selects: list[Select],
    mode: str | list[list[str]] = "cube",
    rate_col: str | None = None,
    empty_sentinels: bool = False,
) -> DataFrame:
    """All-grouping-sets aggregate in one scan.

    ``mode``:
      - ``"cube"`` — all 2^d dimension subsets (``df.cube``);
      - ``"rollup"`` — the d+1 hierarchical prefixes (``df.rollup``),
        the right shape for drill-down hierarchies like
        region → nation → city;
      - an explicit list of grouping sets (subsets of ``dims``, ``[]``
        for the grand total) — only those sets are expanded, so a
        16-dim table can still answer 3 curated rollups without a
        65536-way Expand.

    Output: one ``g_<dim>`` string column per dim (NULL = rolled up,
    ``__nil`` = genuine missing key), ``grouping_id`` (long; bit i set
    ⟺ dims[i] rolled up, dims[0] most significant), then one column
    per Select aliased ``<agg>__<col>`` exactly as the single-grouping
    compiler emits them.

    Scale shape: ONE Expand (input amplification = number of grouping
    sets — bounded by the caller, never by the data) feeding ONE
    partially-aggregated shuffle; no joins, no Python. A cube over
    dims of cardinality c1..cd adds at most Π(ci+1) result rows —
    aggregate-sized, not data-sized. Every aggregate the engine's
    Select model supports participates, including the mergeable
    sketches (COUNT_DISTINCT_APPROX, P50_APPROX), which is what makes
    the single pass safe at 100 TB: partials stay bounded per grouping
    set. Rolled-up COUNT_DISTINCT is computed from the raw rows of the
    coarser set (correct), not merged from finer exact distincts
    (impossible) — that is precisely what Expand buys over re-running
    per-set queries."""
    if not dims:
        raise ValueError("multidim_agg needs at least one dimension")
    if not selects:
        raise ValueError("multidim_agg needs at least one Select")
    # keys and aggregates as SQL strings: one py4j call each, where the
    # Column API pays several per function (compiler._key_expr, agg_expr)
    keys = [group_alias(c) for c in dims]
    df = df.withColumns(dict(zip(keys, [_key_expr(c) for c in dims])))

    if mode == "cube":
        grouped = df.cube(*keys)
    elif mode == "rollup":
        grouped = df.rollup(*keys)
    elif isinstance(mode, list):
        name_to_key = dict(zip(dims, keys))
        sets = []
        for s in mode:
            bad = [c for c in s if c not in name_to_key]
            if bad:
                raise ValueError(
                    f"grouping set {s!r} names non-dimension columns {bad!r}"
                )
            sets.append([name_to_key[c] for c in s])
        grouped = df.groupingSets(sets, *keys)
    else:
        raise ValueError(
            f"mode must be 'cube', 'rollup', or a list of grouping sets, "
            f"got {mode!r}"
        )

    aggs = [F.expr(f"grouping_id() AS {GROUPING_ID}")] + [
        agg_expr(s, rate_col=rate_col, empty_sentinels=empty_sentinels)
        for s in selects
    ]
    out = grouped.agg(*aggs)
    # column order: dims, grouping_id, then selects in caller order
    return out.select(*keys, GROUPING_ID, *[s.alias for s in selects])
