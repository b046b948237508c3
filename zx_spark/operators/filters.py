"""Filter comparators (F1) — all 12 from the reference, as Column predicates.

Reference: ``Cmp`` enum src/lib.rs:162-176, evaluation src/lib.rs:411-500,
SQL mapping src/expr.rs:20-100. There, each condition is a per-column
semi-join of an id set against one column-server's values; here each becomes
a plain Catalyst predicate, so predicate pushdown + Parquet min/max stats do
the reference's "shrink the id set before materializing columns"
(src/lib.rs:197-200) for free, vectorized, at any scale.

Null semantics (SURVEY §2.3): a row missing the filtered column fails every
comparator except NOT_EXISTS — which is exactly Spark's NULL-rejecting filter
behavior, so no special handling is needed beyond isNull()/isNotNull().

Type semantics: the reference range-compares by integer-parsing strings
(src/lib.rs:443-465) and string-compares for eq/ne. On typed columns we
compare natively; on string columns range comparators cast to double (a
deliberate widening of the reference's isize parse — documented divergence,
floats don't panic here).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zx_spark.model import Cmp, Condition

_NUMERIC_CMPS = {Cmp.GT, Cmp.LT, Cmp.GTE, Cmp.LTE}


def _numeric(col: Column, dtype) -> Column:
    if isinstance(dtype, (T.StringType,)):
        return col.cast("double")
    return col


def condition_to_column(cond: Condition, dtype: T.DataType | None) -> Column:
    """Lower one Condition to a boolean Column; ``dtype`` is the type of
    ``cond.column`` in the filtered frame (None when it has no such
    column)."""
    col = F.col(f"`{cond.column}`")
    v = cond.value
    if cond.cmp in _NUMERIC_CMPS:
        c = _numeric(col, dtype)
        lit = F.lit(float(v)) if isinstance(v, str) else F.lit(v)
        if cond.cmp is Cmp.GT:
            return c > lit
        if cond.cmp is Cmp.LT:
            return c < lit
        if cond.cmp is Cmp.GTE:
            return c >= lit
        return c <= lit
    if cond.cmp is Cmp.EQ:
        return _eq_operand(col, dtype, v)
    if cond.cmp is Cmp.NE:
        # The reference's SQL layer mis-maps != to Eq (src/expr.rs:66-74,
        # reference bug); correct NE exists in its internal API
        # (src/lib.rs:437-441). We implement correct NE; the compat flag
        # lives in the SQL shim, not here.
        return ~_eq_operand(col, dtype, v)
    if cond.cmp is Cmp.EXISTS:
        return col.isNotNull()
    if cond.cmp is Cmp.NOT_EXISTS:
        return col.isNull()
    s = col.cast("string")
    if cond.cmp is Cmp.STARTS_WITH:
        return s.startswith(str(v))
    if cond.cmp is Cmp.NOT_STARTS_WITH:
        return s.isNotNull() & ~s.startswith(str(v))
    if cond.cmp is Cmp.CONTAINS:
        # Reference LIKE is plain substring, no %/_ patterns (src/expr.rs:81-89).
        return s.contains(str(v))
    if cond.cmp is Cmp.NOT_CONTAINS:
        return s.isNotNull() & ~s.contains(str(v))
    if cond.cmp is Cmp.LIKE:
        # Real %/_ patterns (beyond-reference; Spark-native, codegen'd).
        return s.like(str(v))
    if cond.cmp is Cmp.NOT_LIKE:
        return s.isNotNull() & ~s.like(str(v))
    raise ValueError(f"unknown comparator {cond.cmp}")


def _eq_operand(col: Column, dtype, v) -> Column:
    """Equality: string-compare on string columns (reference src/lib.rs:432-441),
    native compare on typed columns."""
    if isinstance(dtype, T.StringType):
        return col == F.lit(str(v))
    return col == F.lit(v)


def apply_conditions(df: DataFrame, conds: list[Condition]) -> DataFrame:
    """AND all conditions (reference: successive set intersections,
    src/lib.rs:197-200) in one filter, which Catalyst pushes down to the
    scan."""
    if not conds:
        return df
    types = {f.name: f.dataType for f in df.schema.fields}
    preds = [condition_to_column(c, types.get(c.column)) for c in conds]
    return df.filter(reduce(lambda a, b: a & b, preds))
