"""Small helpers shared across operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism — lets CPU-heavy
    per-row stages (signature hashing, embedding dot products, Arrow
    UDFs) use every core even when the source is one small parquet file.
    Guarded by the SOURCE FILE COUNT (``inputFiles()``, no RDD lineage
    materialization): an input already wider than the cluster is left
    alone — an explicit ``repartition(n)`` there would COLLAPSE its
    partitions down to n and lose parallelism, which AQE cannot undo (it
    only merges, never splits)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)


def sql_double(v: float) -> str:
    """``v`` as Spark SQL text of a DOUBLE that parses back to the same
    bits: ``repr`` (the shortest round-trip form) with a ``D`` suffix;
    non-finite values through a string cast."""
    import math

    v = float(v)
    return f"{v!r}D" if math.isfinite(v) else f"cast('{v!r}' as double)"


def lit_array(vals):
    """Array literal in ONE driver-side parse.

    ``F.lit(<python list>)`` builds the literal element-by-element over
    py4j (~0.5 ms per element — measured 2.1 s for a 4096-long model
    array, r14), and model-scoring expressions rebuild their literals on
    EVERY query construction, so big F.lit lists tax each bench/driver
    invocation before a single task runs. One ``F.expr`` string parse is
    ~6 ms at any size and yields a value- AND type-identical Literal:
    ints in int32 range print bare (INT, exactly what per-element
    ``F.lit`` produces — an ``L`` suffix here silently widened
    ``element_at`` index lambdas to BIGINT and broke analysis), wider
    ints get ``L``; floats print via ``repr`` (shortest round-trip
    form, which Java's correctly-rounded ``parseDouble`` maps back to
    the same bits) with a ``D`` suffix. Nested lists become nested ``array(...)``
    calls. Anything else — empty/None/non-finite/strings — falls back to
    plain ``F.lit``, so callers can use this unconditionally."""
    import math

    from pyspark.sql import functions as F

    def render(v):
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return f"{v}L" if not -2147483648 <= v <= 2147483647 else str(v)
        if isinstance(v, float):
            if not math.isfinite(v):
                return None
            return f"{v!r}D"
        if isinstance(v, list):
            parts = [render(x) for x in v]
            if any(p is None for p in parts) or not parts:
                return None
            return "array(" + ",".join(parts) + ")"
        return None

    rendered = render(list(vals))
    if rendered is None:
        return F.lit(list(vals))
    return F.expr(rendered)


def pin_file_mtimes_by_min_value(path: str, column: str) -> None:
    """Order a parquet file-source directory's streaming trigger
    sequence by the MIN of ``column`` per file: Spark's file source
    triggers by modification time, and part-file names don't reflect
    append order, so maxFilesPerTrigger pipelines that need
    deterministic event-time epochs pin mtimes from the data itself.
    One definition shared by the driver-arm staging and the test
    suite (tests/conftest.pin_file_mtimes_by_event_time delegates
    here) — the two copies used to drift-risk the cross-batch-order
    parity the drained arms depend on. Files with no rows (or an
    all-NULL column) sort FIRST, deterministically."""
    import os

    import pyarrow.parquet as pq

    def min_val(f):
        col = pq.read_table(os.path.join(path, f), columns=[column]).column(column)
        vals = [v for v in col.to_pylist() if v is not None]
        # (0, min) for non-empty, (−1, name) for empty → empty first
        return (0, min(vals)) if vals else (-1, f)

    files = sorted(
        (f for f in os.listdir(path) if f.endswith(".parquet")), key=min_val
    )
    for i, f in enumerate(files):
        os.utime(os.path.join(path, f), (1_700_000_000 + i, 1_700_000_000 + i))
