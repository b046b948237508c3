"""zx SQL → Query translation. See package docstring for dialect rules.

The parser is a deliberate hand-rolled clause splitter (~the same size as
the reference's sqlparser-walking expr.rs:106-230): the zx grammar has no
nesting — select items are ``ident`` or ``fn(ident)``, conditions are
``ident op literal`` joined by AND (OR panics in the reference,
src/expr.rs:99) — so regexes over lowercased text are exact, not a
heuristic.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from zx_spark.compiler import compile_query, run_sorted, scan_filter
from zx_spark.model import Aggregate, Cmp, Condition, Query, Select

# Function-name table (reference src/expr.rs:129-139).
_FUNCS = {
    "count": Aggregate.COUNT,
    "sum": Aggregate.SUM,
    "max": Aggregate.MAX,
    "min": Aggregate.MIN,
    "count_distinct": Aggregate.COUNT_DISTINCT,
    "mean": Aggregate.MEAN,
    "p50": Aggregate.P50,
    "heatmap": Aggregate.HEATMAP,
}

_IDENT = r"[a-z_][\w.]*"
_ITEM_RE = re.compile(rf"^(?:(?P<fn>\w+)\(\s*(?P<arg>{_IDENT})\s*\)|(?P<bare>{_IDENT}))$")
_COND_RE = re.compile(
    rf"^(?P<col>\$?{_IDENT})\s*(?P<op>>=|<=|!=|<>|=|>|<|not\s+like|like)\s*"
    r"(?P<val>'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|[\w.$-]+)$"
)
_CLAUSES = re.compile(
    r"\bwhere\b|\bgroup\s+by\b|\bhaving\b|\border\s+by\b|\bgranularity\b"
    r"|\blimit\b|\bfrom\b"
)

_OPS = {
    ">": Cmp.GT,
    "<": Cmp.LT,
    ">=": Cmp.GTE,
    "<=": Cmp.LTE,
    "=": Cmp.EQ,
}


@dataclass(frozen=True)
class ZxCompat:
    """Reference-bug compatibility flags (all divergences documented in the
    package docstring)."""

    neq_is_eq_bug: bool = False  # src/expr.rs:66-74
    like_is_contains: bool = True  # src/expr.rs:81-89
    faithful_windows: bool = False  # SURVEY §2.6 data-aligned mode


@dataclass(frozen=True)
class Passthrough:
    """Marker: not zx dialect — run verbatim through spark.sql()."""

    sql: str


class ZxSqlError(ValueError):
    pass


def parse_zx_sql(
    text: str,
    granularity_s: float | None = 300.0,
    compat: ZxCompat = ZxCompat(),
) -> Query | Passthrough:
    """Parse one zx-dialect query; FROM-queries return ``Passthrough``.

    ``granularity_s`` is the default window width (reference hardcodes
    300 s, src/expr.rs:224-227); a ``GRANULARITY <seconds>`` clause
    overrides it.
    """
    original = text.strip().rstrip(";")
    low = re.sub(r"\s+", " ", original.lower()).strip()  # src/lib.rs:818-820
    if not low.startswith("select"):
        raise ZxSqlError("query must start with SELECT (src/lib.rs:821-823)")
    # Clause keywords must be detected OUTSIDE string literals — a quoted
    # value like `... like 'from x'` is not a FROM clause. The mask keeps
    # offsets (same-length replacement) so spans slice the real text.
    masked = _mask_quoted(low)
    if re.search(r"\bfrom\b", masked):
        return Passthrough(sql=original)

    clauses = _split_clauses(low, _mask_parens(masked))
    q = Query(granularity_s=granularity_s)
    if compat.faithful_windows:
        q.window_mode = "faithful"

    q.selects = [_parse_item(s) for s in _split_commas(clauses["select"])]

    for cond_text in _split_and(clauses.get("where", "")):
        _apply_condition(q, cond_text, compat)

    if "group by" in clauses:
        _parse_group_by(q, clauses["group by"])

    # beyond-reference HAVING: numeric predicates on aggregate keys,
    # AND-composed; applied post-aggregation by compiler.apply_having.
    # The predicate is parsed through the SELECT grammar so every
    # SELECT-able spelling (incl. pNN quantiles, whose $$key is shared
    # but whose alias is unique) resolves, and non-numeric aggregates
    # (heatmap, bare columns) are rejected here with a clean error
    # instead of a downstream AnalysisException.
    for hv in _split_and(clauses.get("having", "")):
        hm = re.match(
            rf"^(?P<item>\w+\(\s*{_IDENT}\s*\))\s*"
            r"(?P<op><=|>=|!=|=|<|>)\s*(?P<num>-?\d+(?:\.\d+)?)$",
            hv,
        )
        if not hm:
            raise ZxSqlError(
                f"bad HAVING predicate: {hv!r} (need agg(col) <op> number)"
            )
        target = _parse_item(hm.group("item"))
        from zx_spark.operators.aggregates import is_numeric_result

        if not is_numeric_result(target):
            raise ZxSqlError(
                f"HAVING needs a numeric aggregate, got {hm.group('item')!r}"
            )
        if not any(s.alias == target.alias for s in q.selects):
            raise ZxSqlError(
                f"HAVING references {hm.group('item')!r}, not in SELECT"
            )
        q.having.append((target.alias, hm.group("op"), float(hm.group("num"))))

    for ob in _split_commas(clauses.get("order by", "")):
        m = re.match(rf"^(?P<key>\w+\(\s*{_IDENT}\s*\)|{_IDENT})(?:\s+(?P<dir>asc|desc))?$", ob)
        if not m:
            raise ZxSqlError(f"bad ORDER BY item: {ob!r}")
        key = m.group("key")
        fm = re.match(rf"^(\w+)\(\s*({_IDENT})\s*\)$", key)
        if fm:
            # Order keys are aggregate keys like "$$mean(foo)" (src/test.rs:475).
            key = f"$${fm.group(1)}({fm.group(2)})"
        q.order_by.append((key, m.group("dir") != "desc"))

    if "granularity" in clauses:
        q.granularity_s = _parse_duration(clauses["granularity"].strip())
        q.granularity_explicit = True

    if "limit" in clauses:
        lim = clauses["limit"].strip()
        if not re.fullmatch(r"\d+", lim) or int(lim) < 1:
            raise ZxSqlError(f"bad LIMIT: {lim!r} (need a positive integer)")
        if not q.order_by:
            # an un-ordered cut returns an arbitrary subset — refuse
            # rather than silently hand back nondeterministic rows
            raise ZxSqlError("LIMIT requires ORDER BY in the zx dialect")
        q.limit = int(lim)
    return q


_DURATION_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def _parse_duration(text: str) -> float:
    """``15``, ``15s``, ``500ms``, ``5m``, ``1h``, ``2d`` → seconds."""
    m = re.match(r"^(\d+(?:\.\d+)?)\s*(ms|s|m|h|d)?$", text)
    if not m:
        raise ZxSqlError(f"bad GRANULARITY: {text!r}")
    return float(m.group(1)) * _DURATION_UNITS.get(m.group(2) or "s", 1.0)


def zx_sql(
    spark: SparkSession,
    text: str | Query | Passthrough,
    df: DataFrame | None = None,
    granularity_s: float | None = 300.0,
    compat: ZxCompat = ZxCompat(),
    **compile_kwargs,
) -> DataFrame:
    """Execute a query: zx dialect against ``df`` (the one event store), or
    any FROM-query verbatim through ``spark.sql`` (full Spark SQL surface).
    ``text`` may already be parsed (``parse_zx_sql``'s result); then
    ``granularity_s`` and ``compat`` are not read."""
    q = (
        text
        if isinstance(text, (Query, Passthrough))
        else parse_zx_sql(text, granularity_s=granularity_s, compat=compat)
    )
    if isinstance(q, Passthrough):
        return spark.sql(q.sql)
    if df is None:
        raise ZxSqlError("zx-dialect query needs the event DataFrame (df=...)")
    if q.group_mode is not None:
        # CUBE / ROLLUP / GROUPING SETS → the one-Expand multidim plan.
        # Same scan/filter path as compiled queries; time windows and
        # ORDER BY don't compose with grouping sets in the dialect.
        from zx_spark.compiler import column_types
        from zx_spark.model import Aggregate as _Agg
        from zx_spark.operators.olap import multidim_agg

        if q.order_by:
            raise ZxSqlError("ORDER BY is not supported with CUBE/ROLLUP")
        if q.granularity_explicit:
            # Silently returning un-windowed totals when the user asked
            # for hourly windows would be a wrong-answer trap; fail like
            # the ORDER BY case does.
            raise ZxSqlError("GRANULARITY is not supported with CUBE/ROLLUP")
        if any(s.aggregate is _Agg.RAW for s in q.selects):
            raise ZxSqlError("bare columns are not valid with CUBE/ROLLUP")
        types = column_types(df)
        work = scan_filter(df, q, compile_kwargs.get("ts_col", "ts"), types)
        rate_col = compile_kwargs.get("rate_col", "sample_rate")
        if rate_col is not None and rate_col not in types:
            # same guard compile_query/run_sorted apply (compiler.py)
            rate_col = None
        from zx_spark.compiler import apply_having

        return apply_having(
            multidim_agg(
                work,
                q.group_by,
                q.selects,
                mode=q.group_mode,
                rate_col=rate_col,
            ),
            q,
        )
    if q.order_by:
        # ORDER BY routes to aggregate-then-sort (O1) — wired for real,
        # unlike the reference (src/lib.rs:840 ignores it). LIMIT (also
        # beyond-reference) cuts after the deterministic total sort;
        # Catalyst turns it into TakeOrdered — no full sort at scale.
        out = run_sorted(df, q, **compile_kwargs)
        return out.limit(q.limit) if q.limit is not None else out
    if all(s.aggregate is Aggregate.RAW for s in q.selects) and not q.group_by:
        # Plain projection: scan → filter → select, fully distributed (the
        # reference's Raw arm is unimplemented!(), src/lib.rs:660).
        # same scan path as compiled queries
        work = scan_filter(df, q, compile_kwargs.get("ts_col", "ts"))
        return work.select(*[f"`{s.column}`" for s in q.selects])
    return compile_query(df, q, **compile_kwargs)


# Doubled quotes ('' / "") are SQL escapes INSIDE a literal, not a
# close-then-open — without the (?:[^']|'')* form, 'it''s from x' masks as
# two literals with "s from x" exposed, mis-detecting the FROM keyword.
_QUOTED = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"")


def _mask_quoted(s: str) -> str:
    """Blank the inside of string literals (length-preserving) so clause
    scans never match keywords inside quoted values."""
    return _QUOTED.sub(lambda m: m.group(0)[0] + " " * (len(m.group(0)) - 2) + m.group(0)[0], s)


def _mask_parens(s: str) -> str:
    """Blank everything inside parentheses (length-preserving) for the
    CLAUSE scan only: clause keywords never legitimately start inside
    ``(...)``, so a column named ``limit``/``having``/``where`` used as
    ``sum(limit)`` must not split the SELECT clause (keywords remain
    reserved at top level, standard SQL behavior)."""
    out = []
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
            out.append(ch)
        elif ch == ")":
            depth = max(0, depth - 1)
            out.append(ch)
        else:
            out.append(" " if depth > 0 else ch)
    return "".join(out)


def _split_clauses(low: str, masked: str | None = None) -> dict[str, str]:
    masked = masked if masked is not None else _mask_quoted(low)
    bounds = [(m.start(), m.end(), re.sub(r"\s+", " ", m.group(0))) for m in _CLAUSES.finditer(masked)]
    clauses: dict[str, str] = {}
    spans = [(0, len("select"), "select")] + bounds + [(len(low), len(low), "")]
    for (_, end, kw), (nxt_start, _, _) in zip(spans, spans[1:]):
        if kw:
            if kw in clauses:
                raise ZxSqlError(f"duplicate {kw.upper()} clause")
            clauses[kw] = low[end:nxt_start].strip()
    if not clauses.get("select"):
        raise ZxSqlError("empty SELECT list")
    return clauses


def _split_commas(s: str) -> list[str]:
    return [p.strip() for p in s.split(",") if p.strip()] if s else []


def _split_and(s: str) -> list[str]:
    return [p.strip() for p in re.split(r"\band\b", s) if p.strip()] if s else []


def _parse_item(item: str) -> Select:
    m = _ITEM_RE.match(item)
    if not m:
        raise ZxSqlError(f"unsupported SELECT item: {item!r} (src/expr.rs:159,162)")
    if m.group("bare"):
        # Bare identifier → Raw (src/expr.rs:120-125).
        return Select(m.group("bare"), Aggregate.RAW)
    fn, arg = m.group("fn"), m.group("arg")
    if fn in _FUNCS:
        return Select(arg, _FUNCS[fn])
    # dialect extension beyond the reference fn table: pNN percentiles
    # (p90, p99, ...) -> the mergeable QUANTILE_APPROX aggregate; pNN
    # answers route through rollups (operators/rollup.py) like P50_APPROX
    pm = re.fullmatch(r"p(\d{1,2})", fn)
    if pm and fn != "p50" and int(pm.group(1)) > 0:
        return Select(
            arg, Aggregate.QUANTILE_APPROX, params=(int(pm.group(1)) / 100.0,)
        )
    raise ZxSqlError(f"unknown function {fn!r} (src/expr.rs:129-139)")


def _require_ident(s: str) -> str:
    if not re.match(rf"^{_IDENT}$", s):
        raise ZxSqlError(f"bad identifier: {s!r}")
    return s


def _parse_group_by(q: Query, gb: str) -> None:
    """Plain dim list, or the multidim spellings — ``CUBE(a, b)``,
    ``ROLLUP(a, b)``, ``GROUPING SETS((a, b), (a), ())`` — which route
    compilation through multidim_agg's one-Expand plan (dialect
    extension; the reference groups by a single tuple only,
    src/lib.rs:547-556)."""
    # \s* before the paren: `CUBE (a, b)` is as valid as `CUBE(a, b)`
    # (GROUPING SETS below already allowed it)
    m = re.match(
        rf"^(cube|rollup)\s*\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)$", gb
    )
    if m:
        q.group_mode = m.group(1)
        q.group_by = [_require_ident(c) for c in _split_commas(m.group(2))]
        return
    m = re.match(r"^grouping\s+sets\s*\(\s*(.*?)\s*\)$", gb)
    if m:
        body = m.group(1)
        sets_txt = re.findall(r"\(([^()]*)\)", body)
        # reject stray tokens between/around the parenthesized sets
        leftover = re.sub(r"\(([^()]*)\)", "", body).replace(",", "").strip()
        if not sets_txt or leftover:
            raise ZxSqlError(f"bad GROUPING SETS clause: {gb!r}")
        sets = [[_require_ident(c) for c in _split_commas(s)] for s in sets_txt]
        dims: list[str] = []
        for s in sets:
            for c in s:
                if c not in dims:
                    dims.append(c)
        if not dims:
            raise ZxSqlError(
                "GROUPING SETS needs at least one non-empty set "
                "(the grand total alone is a plain ungrouped aggregate)"
            )
        q.group_mode = sets
        q.group_by = dims
        return
    q.group_by = [_require_ident(c) for c in _split_commas(gb)]


def _apply_condition(q: Query, text: str, compat: ZxCompat) -> None:
    m = _COND_RE.match(text)
    if not m:
        raise ZxSqlError(f"unsupported condition: {text!r} (src/expr.rs:99)")
    col, op, val = m.group("col"), re.sub(r"\s+", " ", m.group("op")), m.group("val")
    if val[:1] in "'\"" and val[:1] == val[-1:]:
        quote, val = val[0], val[1:-1]
        val = val.replace(quote * 2, quote)  # SQL doubled-quote escape
    # $T_START/$T_END extraction into the scan range (src/expr.rs:171-185).
    if col == "$t_start":
        q.t_start = float(val)
        return
    if col == "$t_end":
        q.t_end = float(val)
        return
    if op in _OPS:
        cmp = _OPS[op]
    elif op in ("!=", "<>"):
        cmp = Cmp.EQ if compat.neq_is_eq_bug else Cmp.NE
    elif op in ("like", "not like"):
        neg = op == "not like"
        if compat.like_is_contains:
            # Reference semantics: LIKE is plain substring (src/expr.rs:81-89).
            cmp = Cmp.NOT_CONTAINS if neg else Cmp.CONTAINS
        else:
            # Real-pattern mode: common shapes map to the reference's
            # comparators (substring/prefix/equality — all wildcard-free
            # inside); anything else is a true pattern → Spark-native LIKE.
            def _plain(s: str) -> bool:
                return "%" not in s and "_" not in s

            inner = val[1:-1]
            if len(val) >= 2 and val[0] == val[-1] == "%" and _plain(inner):
                cmp, val = (Cmp.NOT_CONTAINS if neg else Cmp.CONTAINS), inner
            elif val.endswith("%") and _plain(val[:-1]):
                cmp, val = (Cmp.NOT_STARTS_WITH if neg else Cmp.STARTS_WITH), val[:-1]
            elif _plain(val):
                cmp = Cmp.NE if neg else Cmp.EQ
            else:
                cmp = Cmp.NOT_LIKE if neg else Cmp.LIKE
    else:  # pragma: no cover
        raise ZxSqlError(f"unknown operator {op!r}")
    value: str | float = val
    if cmp in (Cmp.GT, Cmp.LT, Cmp.GTE, Cmp.LTE):
        value = float(val)
    q.conditions.append(Condition(col, cmp, value))
