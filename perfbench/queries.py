"""zx-dialect query templates and their DuckDB oracle.

Each template draws seeded parameters (a time range inside a given
window, filter values, granularity, limits) and yields the query text
sent through ``ZX.sql`` plus the DuckDB SQL that computes the same answer
over the same parquet store. ``normalize_zx`` / ``normalize_duck`` bring
both answers to one comparable form.
"""

from __future__ import annotations

import json
import math

import numpy as np

NIL = "__nil"

# aggregate spelling -> (result key, DuckDB expression)
_AGG = {
    "count(value)": ("$$count(value)", "count(value)::DOUBLE"),
    "sum(value)": ("$$sum(value)", "coalesce(sum(coalesce(value, 0)), 0)::DOUBLE"),
    "mean(value)": ("$$mean(value)", "avg(value)"),
    "p50(value)": ("$$p50(value)", "quantile_cont(value, 0.5)"),
    "count_distinct(user_id)": (
        "$$count_distinct(user_id)",
        "(count(DISTINCT user_id) + max(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END))::DOUBLE",
    ),
    "heatmap(value)": (
        "$$heatmap(value)",
        "list_value("
        + ", ".join(
            "sum(CASE WHEN value IS NOT NULL AND "
            f"least(greatest(floor(value / 100.0), 0), 9) = {i} THEN 1 ELSE 0 END)::DOUBLE"
            for i in range(10)
        )
        + ")",
    ),
}
_GRANULARITY = {"2h": 7200, "3h": 10800}  # result sizes (so shaping cost) stay close


def _key(col: str) -> str:
    return f"coalesce(CAST({col} AS VARCHAR), '{NIL}')"


class Query:
    """One templated query: text, oracle SQL and result shape."""

    def __init__(self, template, text, aggs, where, group=(), gran=None,
                 having=None, order=None, rollup=None):
        self.template, self.text = template, text
        self.aggs, self.where, self.group = aggs, where, list(group)
        self.gran, self.having, self.order, self.rollup = gran, having, order, rollup

    def duck_sql(self, source: str) -> str:
        aggs = ", ".join(f"{_AGG[a][1]} AS a{i}" for i, a in enumerate(self.aggs))
        having = f"HAVING {_AGG[self.having[0]][1]} {self.having[1]} {self.having[2]}" if self.having else ""
        if self.rollup is not None:
            mode, dims = self.rollup
            keys = ", ".join(f"{_key(d)} AS k{i}" for i, d in enumerate(dims))
            ks = ", ".join(f"k{i}" for i in range(len(dims)))
            return (
                f"SELECT {ks}, grouping_id({ks}) AS gid, {aggs} FROM "
                f"(SELECT {keys}, * FROM {source} WHERE {self.where}) "
                f"GROUP BY {mode.upper()}({ks}) {having}"
            )
        keys = ", ".join(f"{_key(g)} AS k{i}" for i, g in enumerate(self.group))
        gby = [_key(g) for g in self.group]
        if self.order is not None:
            agg, desc, limit = self.order
            order = f"{_AGG[agg][1]} {'DESC' if desc else 'ASC'}, " + ", ".join(gby)
            return (
                f"SELECT {keys}, {aggs} FROM {source} WHERE {self.where} "
                f"GROUP BY {', '.join(gby)} {having} ORDER BY {order} LIMIT {limit}"
            )
        gby.append(f"epoch_us(ts) // {self.gran * 10**6}")
        sel = (keys + ", ") if keys else ""
        return (
            f"SELECT {sel}min(epoch_us(ts)) / 1e6 AS ws, max(epoch_us(ts)) / 1e6 AS we, "
            f"{aggs} FROM {source} WHERE {self.where} GROUP BY {', '.join(gby)} {having}"
        )

    # -- comparable forms --------------------------------------------------

    def normalize_duck(self, rows: list[tuple]) -> list:
        ng = len(self.rollup[1]) if self.rollup else len(self.group)
        if self.rollup is not None:
            return sorted(
                (tuple("" if v is None else v for v in r[:ng]) + tuple(r[ng:]) for r in rows),
                key=_sort_key,
            )
        if self.order is not None:
            return [tuple(r) for r in rows]
        out = []
        for r in rows:
            gk = json.dumps(dict(zip(self.group, r[:ng])), sort_keys=True)
            ws, we, vals = r[ng], r[ng + 1], r[ng + 2 :]
            for a, v in zip(self.aggs, vals):
                out.append((gk, _AGG[a][0], ws, we, v))
        return sorted(out, key=_sort_key)

    def normalize_zx(self, res) -> list:
        if self.rollup is not None:
            dims = self.rollup[1]
            return sorted(
                (
                    tuple("" if r[f"g_{d}"] is None else r[f"g_{d}"] for d in dims)
                    + (r["grouping_id"],)
                    + tuple(r[_alias(a)] for a in self.aggs)
                    for r in res
                ),
                key=_sort_key,
            )
        if self.order is not None:
            return [
                tuple(r[f"g_{g}"] for g in self.group) + tuple(r[_alias(a)] for a in self.aggs)
                for r in res
            ]
        out = []
        for gk, by_key in res.items():
            for key, s in by_key.items():
                for ws, we, v in zip(s["window_starts"], s["window_ends"], s["data"]):
                    out.append((gk, key, ws, we, v))
        return sorted(out, key=_sort_key)


def _alias(agg: str) -> str:
    fn, col = agg[:-1].split("(")
    return f"{fn}__{col}"


def _sort_key(row):
    return tuple((0, v) if isinstance(v, str) else (1, str(v)) for v in row)


def same(a, b) -> bool:
    """Structural equality with float tolerance (order-dependent float sums
    differ in the last bits between engines)."""
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


# -- templates ----------------------------------------------------------------


def _range(rng: np.random.Generator, lo: int, hi: int) -> tuple[str, str]:
    """``$T_START``/``$T_END`` from a whole hour in the first two hours of
    the window [lo, hi] (unix seconds) to its end."""
    a = lo + int(rng.integers(0, 3)) * 3600
    text = f"$T_START >= {a} and $T_END <= {hi}"
    duck = f"epoch_us(ts) >= {a * 10**6} AND epoch_us(ts) <= {hi * 10**6}"
    return text, duck


def _range_count(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    return Query("range_count", f"select count(value) where {t} granularity 1h",
                 ["count(value)"], d, gran=3600)


def _like(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    k = int(rng.integers(1, 10))
    return Query(
        "like_filter",
        f"select count(value), sum(value) where props like '\"k\": {k}' and {t} "
        "group by event_type granularity 1d",
        ["count(value)", "sum(value)"], f"contains(props, '\"k\": {k}') AND {d}",
        ["event_type"], gran=86400,
    )


def _sparse_group(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    return Query("sparse_group", f"select sum(value), count(value) where {t} group by tag granularity 1d",
                 ["sum(value)", "count(value)"], d, ["tag"], gran=86400)


def _mean_p50(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    g = list(_GRANULARITY)[int(rng.integers(0, len(_GRANULARITY)))]
    et = ["signup", "purchase", "view", "click", "error"][int(rng.integers(0, 5))]
    return Query(
        "mean_p50",
        f"select mean(value), p50(value) where event_type = '{et}' and {t} "
        f"group by event_type granularity {g}",
        ["mean(value)", "p50(value)"], f"event_type = '{et}' AND {d}", ["event_type"],
        gran=_GRANULARITY[g],
    )


def _count_distinct(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    return Query("count_distinct",
                 f"select count_distinct(user_id) where {t} group by event_type granularity 1d",
                 ["count_distinct(user_id)"], d, ["event_type"], gran=86400)


def _heatmap(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    return Query("heatmap", f"select heatmap(value) where {t} group by event_type granularity 1d",
                 ["heatmap(value)"], d, ["event_type"], gran=86400)


def _top_users(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    n = int(rng.integers(5, 21))
    return Query(
        "order_limit",
        f"select sum(value), count(value) where {t} group by user_id "
        f"order by sum(value) desc limit {n}",
        ["sum(value)", "count(value)"], d, ["user_id"], order=("sum(value)", True, n),
    )


def _rollup(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    mode = ["rollup", "cube"][int(rng.integers(0, 2))]
    return Query(
        "rollup_cube",
        f"select sum(value), count(value) where {t} group by {mode}(event_type, tag)",
        ["sum(value)", "count(value)"], d, rollup=(mode, ["event_type", "tag"]),
    )


def _having(rng, lo, hi):
    t, d = _range(rng, lo, hi)
    n = int(rng.integers(100, 600))
    return Query(
        "having",
        f"select count(value), sum(value) where {t} group by event_type "
        f"having count(value) > {n} granularity 1h",
        ["count(value)", "sum(value)"], d, ["event_type"], gran=3600,
        having=("count(value)", ">", n),
    )


TEMPLATES = [
    _range_count, _like, _sparse_group, _mean_p50, _count_distinct,
    _heatmap, _top_users, _rollup, _having,
]


def duck_source(path: str) -> str:
    return (
        f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
        "union_by_name = true)"
    )
