"""Similarity search over embedding columns (``array<float>``).

The tiers, all deterministic:

- ``cosine_topk``        — brute-force exact top-k (the correctness
                           baseline; one scan + one small top-k reduce);
                           ``cosine_topk_batch`` amortizes one scan over
                           Q queries (Arrow + numpy matmul).
- ``rp_lsh_*``           — random-hyperplane LSH: sign-bit bucket keys from
                           seeded hyperplanes; near-dup pairs come from a
                           bucket equi-join (never all-pairs).
- ``ivf_build/ivf_topk`` — IVF coarse index (Spark ML KMeans, or the
                           engine-reproducible ``ivf_build_lloyd``):
                           search only the ``nprobe`` nearest cells —
                           cell-partitioned storage turns the probe into
                           Parquet partition pruning.
- ``quantize_embeddings``— int8 storage (4-8× scan bytes, cosine is
                           scale-invariant).
- ``pq_*`` / ``ivfpq_topk`` — product quantization: m-byte codes (32× at
                           d=64), ADC literal-table scoring, shortlist +
                           exact re-rank; composed with IVF cells for
                           the standard billion-vector layout.

Dot products/norms use ``F.zip_with`` + ``F.aggregate`` — JVM-side, no
Python in the scan.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zx_spark.util import lit_array


from zx_spark.util import spread as _spread  # one shared guard + docstring


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-12))


# r9 negative result (measured, SCALE.md): an UNROLLED codegen'd
# cosine (explicit `0.0 + a[0]*b[0] + ...` chains with the fold's
# exact association — bit-identical by test) ran 2× SLOWER than the
# zip_with+aggregate fold on a 2M-pair microbench (2.6s vs 1.29s).
# The r8 "HOFs are interpreted" lesson applies to the big literal-
# model probe expressions (transform over n_cells slices), NOT to a
# single pair fold (~10ns/element). Removed rather than kept dead.


# Catalyst higher-order functions evaluate INTERPRETED (~8µs per
# dot-product element, measured — SCALE.md r8), so literal-model probe
# selection and join-side cosine folds get a vectorized Arrow twin. At
# driver/oracle scales the deterministic left-fold Catalyst path stays
# the default; past this many cells (n_cells ∝ N under the constant
# cell-size rule, so this is really a corpus-size threshold — ≈128
# cells ~ 32k vectors at target_cell=256) "auto" flips to Arrow: the
# 5× sf10 gap a first-time user would otherwise pay (VERDICT r8).
ARROW_AUTO_CELLS = 128


def _resolve_engine(engine: str, n_cells: int) -> str:
    """Resolve ``"auto"`` to catalyst/arrow by the cell-count threshold;
    validate explicit choices."""
    if engine == "auto":
        return "arrow" if n_cells >= ARROW_AUTO_CELLS else "catalyst"
    if engine not in ("catalyst", "arrow"):
        raise ValueError(f"unknown engine: {engine!r}")
    return engine


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to one query vector.

    One distributed projection + Spark's TakeOrdered (per-partition top-k,
    then a k-sized merge on the driver) — no full sort, no shuffle of the
    data itself."""
    # one array-literal NODE per vector (not d F.lit nodes) — identical
    # values, ~d× smaller expression trees for Catalyst to analyze
    q = lit_array([float(v) for v in query_vec])
    sim = cosine(F.col(vec_col).cast("array<double>"), q)
    return (
        _spread(df).select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q = round(v / scale)``
    with ``scale = max|v| / 127``. A tinyint array is 1 byte/element vs 4
    (float32) or 8 (double) — a 4-8× scan-byte reduction on a 100 TB
    vector store. Cosine is SCALE-INVARIANT, so similarity search runs
    directly on the int8 arrays (``cosine(qa, qb) == cosine(a, b)`` up to
    quantization error ~0.5%); ``scale_col`` is kept for exact
    reconstruction / re-ranking. All JVM expressions, no Python."""
    v = F.col(vec_col).cast("array<double>")
    scale = (
        F.greatest(F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12))
        / F.lit(127.0)
    )
    df = df.withColumn(scale_col, scale)
    q = F.transform(v, lambda x: F.round(x / F.col(scale_col)).cast("tinyint"))
    return df.withColumn(out_col, q)


def cosine_topk_batch(
    df: DataFrame,
    query_vecs: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k for a BATCH of queries in ONE scan — the ANN serving shape:
    per partition, an Arrow-batched numpy matmul scores every vector
    against all Q queries and keeps a local top-k per query; only those
    ``partitions × Q × k`` candidates shuffle to the final per-query
    top-k window. Python here is the sanctioned fast path — one BLAS
    matmul per Arrow batch beats per-element JVM folds for wide Q, and
    the scan is still a single pass regardless of Q.

    Returns (query_no, vec_id, cosine) rows, k per query, ordered by
    (cosine desc, id) with cosine rounded to 6dp — identical to running
    ``cosine_topk`` once per query."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    if not query_vecs:
        raise ValueError("cosine_topk_batch needs at least one query vector")
    dims = {len(q) for q in query_vecs}
    if len(dims) != 1:
        raise ValueError(f"query vectors must share one dimension, got {sorted(dims)}")
    Q = np.asarray(query_vecs, dtype=np.float64)
    qn = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12)
    n_q = len(query_vecs)
    out_schema = T.StructType(
        [
            T.StructField("query_no", T.IntegerType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def local_topk(batches):
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            norms = np.linalg.norm(X, axis=1)
            sims = (X @ qn.T) / np.maximum(norms, 1e-12)[:, None]
            sims = np.round(sims, 6)
            for qno in range(n_q):
                s = sims[:, qno]
                # top-k by (sim desc, id asc); lexsort keys: last is primary
                order = np.lexsort((ids, -s))[:k]
                best.append(
                    pd.DataFrame(
                        {"query_no": qno, id_col: ids[order], "cosine": s[order]}
                    )
                )
        if best:
            # one re-reduce per partition so only Q*k rows leave it
            allb = pd.concat(best, ignore_index=True)
            allb = allb.sort_values(
                ["query_no", "cosine", id_col], ascending=[True, False, True]
            )
            yield allb.groupby("query_no", group_keys=False).head(k)

    cand = _spread(df.select(id_col, vec_col)).mapInPandas(local_topk, out_schema)
    w = Window.partitionBy("query_no").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def rp_lsh_bucket(vec: Column, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane sign-bit bucket id (SimHash for vectors): bit i =
    sign(v · h_i) with seeded hyperplanes embedded as literal arrays."""
    planes = _hyperplanes(dim, n_planes, seed)
    v = vec.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        h = lit_array([float(x) for x in plane])
        bit = F.when(_dot(v, h) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def rp_lsh_near_pairs(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 3,
) -> DataFrame:
    """Embedding near-duplicate pairs: candidates from ``n_tables``
    independent LSH bucket equi-joins (union), verified with exact cosine ≥
    threshold. All joins are equality joins on (table, bucket)."""
    buckets = _spread(df).select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(
            F.array(
                *[
                    rp_lsh_bucket(F.col(vec_col), dim, n_planes, seed=1000 + t)
                    for t in range(n_tables)
                ]
            )
        ).alias("table_no", "bucket"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    # Distinct the ID pairs FIRST, score once per pair after: a pair
    # sharing buckets in all n_tables tables would otherwise pay the
    # O(dim) cosine fold n_tables times and carry the double into the
    # dedup key. Same shape as the MinHash path (candidates → verify).
    cands = (
        a.join(
            b,
            on=[
                F.col("a.table_no") == F.col("b.table_no"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("__va")
    )
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("__vb")
    )
    scored = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def ivf_build(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
):
    """Fit an IVF coarse quantizer (Spark ML KMeans) and assign every vector
    to its cell. Returns (assigned_df with ``ivf_cell``, centers ndarray).

    At 100 TB the assigned table is written partitioned by ``ivf_cell`` so
    a probe reads only nprobe/n_cells of the data (partition pruning)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feat = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="__features", predictionCol="ivf_cell").fit(feat)
    assigned = model.transform(feat).drop("__features")
    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centers


def probe_cells(centers: np.ndarray, query_vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` cell ids whose centroids are nearest the query by
    cosine — driver-side on the tiny (k, dim) centers array. Factored out
    so the DuckDB oracle can select the identical cells from the identical
    (rounded-literal) centers."""
    q = np.asarray(query_vec, dtype=float)
    sims = centers @ q / (np.linalg.norm(centers, axis=1) * np.linalg.norm(q) + 1e-12)
    return [int(c) for c in np.argsort(-sims)[:nprobe]]


def probe_cells_2level(
    centers,
    super_centers,
    children,
    query_vec: list[float],
    nprobe: int,
    p_super: int | None = None,
) -> list[int]:
    """Two-level probe selection for SERVING — the driver-side companion
    of ``knn_pairs_2level``'s probe stage: score the ``n_super`` supers
    by cosine, keep ``p_super``, then score only their children and keep
    the ``nprobe`` nearest. Cost ``n_super + p_super·avg-child`` dots
    per query instead of ``n_cells`` — with ``n_cells ∝ N`` (the
    constant-cell-size rule) the flat ``probe_cells`` scan is Θ(N) per
    query while this stays ~Θ(√N); at a 10^9-vector store's 65k cells
    that is the difference between serving and re-scanning the center
    matrix per request. Cosine at both levels — the same metric as the
    final scoring and as ``probe_cells`` (the ivfpq_topk L2-vs-cosine
    lesson). With ``p_super == n_super`` every cell is scored with the
    identical formula, so the selection equals ``probe_cells`` exactly
    up to argsort tie order (measure-zero on real-valued data;
    test-pinned). Ties break to the LOWEST id (stable argsort over
    id-ascending candidates)."""
    ns = len(super_centers)
    if p_super is None:
        p_super = min(4, ns)
    if not 1 <= p_super <= ns:
        raise ValueError(f"p_super must be in 1..{ns}, got {p_super}")
    q = np.asarray(query_vec, dtype=float)
    qn = np.linalg.norm(q)
    S = np.asarray(super_centers, dtype=float)
    ssims = S @ q / (np.linalg.norm(S, axis=1) * qn + 1e-12)
    sel = np.argsort(-ssims, kind="stable")[:p_super]
    kids = sorted(int(c) for s in sel for c in children[s])
    if not kids:
        return []
    C = np.asarray(centers, dtype=float)[kids]
    csims = C @ q / (np.linalg.norm(C, axis=1) * qn + 1e-12)
    order = np.argsort(-csims, kind="stable")[:nprobe]
    return [kids[i] for i in order]


def super_of_cells(children, n_cells: int) -> list[int]:
    """Invert the two-level ``children`` lists into a cell→super lookup
    (list indexed by cell id). Raises if any cell is unassigned or
    doubly assigned — a malformed hierarchy would silently mis-prune."""
    owner = [-1] * n_cells
    for s, kids in enumerate(children):
        for c in kids:
            if not 0 <= c < n_cells:
                raise ValueError(f"child cell {c} out of range 0..{n_cells - 1}")
            if owner[c] != -1:
                raise ValueError(f"cell {c} owned by supers {owner[c]} and {s}")
            owner[c] = s
    missing = [c for c, s in enumerate(owner) if s == -1]
    if missing:
        raise ValueError(f"cells with no super: {missing[:8]}")
    return owner


def with_super_col(
    df: DataFrame,
    children,
    n_cells: int,
    cell_col: str = "ivf_cell",
    super_col: str = "ivf_super",
) -> DataFrame:
    """Annotate an IVF-assigned frame with its cell's SUPER id — a pure
    literal-array lookup (no shuffle, no Python) so the store can be
    written partitioned by ``(super, cell)``: the hierarchical layout
    keeps directory listing at 10^5-10^6 cells tractable (the catalog
    prunes the ~√n_cells top level first) and lets a probe's super
    filter compose with the cell filter. NULL cells (gated bad
    embeddings) get NULL supers."""
    owner = super_of_cells(children, n_cells)
    return df.withColumn(
        super_col, F.get(F.lit(owner), F.col(cell_col)).cast("int")
    )


def _serving_probe(
    centers, query_vec, nprobe, supers, children, p_super
) -> list[int]:
    """Shared probe selection for the serving paths: flat ``probe_cells``
    when no hierarchy is supplied, ``probe_cells_2level`` when it is —
    so every ``ivf*_topk`` entry point escapes the Θ(n_cells)-per-query
    flat center scan the moment the caller passes the two-level model."""
    if supers is None:
        if children is not None:
            raise ValueError("children given without supers — pass both")
        return probe_cells(np.asarray(centers), query_vec, nprobe)
    if children is None:
        # fail fast here, not as a TypeError deep in the child lookup
        raise ValueError("supers given without children — pass both")
    return probe_cells_2level(
        centers, supers, children, query_vec, nprobe, p_super
    )


def _check_super_col(super_col, supers) -> None:
    """Fail fast when ``super_col`` names a (super, cell)-partitioned
    store but no hierarchy is supplied: silently skipping the top-level
    prune would hand the caller an un-pruned full directory listing with
    no error — inconsistent with ``_serving_probe``'s fail-fast pairing
    discipline (r9 advisor finding)."""
    if super_col is not None and supers is None:
        raise ValueError(
            "super_col given without supers/children — the (super, cell) "
            "store prune needs the two-level hierarchy; pass both or drop "
            "super_col"
        )


def _super_prune(df: DataFrame, cells, children, centers, super_col):
    """Add the probed cells' SUPER filter on a (super, cell)-partitioned
    store — redundant with the cell filter for correctness, but it lets
    the catalog prune the top directory level before touching the
    ~n_cells leaf listing."""
    owner = super_of_cells(children, len(np.asarray(centers)))
    probed_supers = sorted({owner[c] for c in cells})
    return df.filter(F.col(super_col).isin(probed_supers))


def ivf_topk(
    assigned: DataFrame,
    centers: np.ndarray,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
    supers=None,
    children=None,
    p_super: int | None = None,
    super_col: str | None = None,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """ANN top-k: score only the ``nprobe`` cells whose centroids are
    nearest the query (computed driver-side on the tiny centers array),
    then exact cosine within them.

    Pass ``supers``/``children`` (an ``ivf2_fit_numpy`` hierarchy) to
    select the probe through the two-level quantizer — ~Θ(√n_cells)
    per query instead of the flat Θ(n_cells) center scan (the serving
    twin of ``knn_pairs_2level``; identical selection at ``p_super ==
    n_super``). With ``super_col`` on a ``(super, cell)``-partitioned
    store the probed supers prune the top directory level too.

    Tuning ``nprobe``/``p_super``: measure THIS corpus's recall surface
    with ``measure_recall_grid(..., metric="cosine")`` (this function
    probes and scores by cosine) and feed it to ``suggest_probe(grid=)``
    — don't guess from the static defaults."""
    _check_super_col(super_col, supers)
    cells = _serving_probe(centers, query_vec, nprobe, supers, children, p_super)
    qcol = lit_array([float(v) for v in query_vec])
    sim = cosine(F.col(vec_col).cast("array<double>"), qcol)
    if super_col is not None and supers is not None:
        assigned = _super_prune(assigned, cells, children, centers, super_col)
    return (
        assigned.filter(F.col(cell_col).isin(cells))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_batch(
    assigned: DataFrame,
    centers: np.ndarray,
    query_vecs: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
    supers=None,
    children=None,
    p_super: int | None = None,
    super_col: str | None = None,
    where: Column | None = None,
    engine: str = "catalyst",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF serving for a BATCH of queries in ONE scan: each query keeps
    its own driver-side probe list; the store is read once, pruned to
    the UNION of all probed cells, and every row is scored only for the
    queries that probed its cell (a null-gated per-query struct array,
    exploded to candidates). Returns (query_no, vec_id, cosine), k rows
    per query — identical values to ``ivf_topk`` per query (same JVM
    cosine, same 6-dp rounding; pinned in tests).

    Tradeoff vs per-query ``ivf_topk``: one scan + ONE shuffle of the
    candidate rows (the per-query top-k window) instead of Q pruned
    scans each ending in a TakeOrdered. Batch wins once Q × scan setup
    dominates — the online-serving shape; for one or two ad-hoc queries
    the per-query TakeOrdered path shuffles nothing and wins.

    ``supers``/``children``/``p_super``/``super_col`` behave as in
    ``ivf_topk`` — Q probe selections through the two-level hierarchy
    cost Q·~√n_cells dots instead of Q·n_cells, which is where the flat
    scan actually hurts (the batch path exists for high-Q serving).

    ``where``: optional metadata predicate (a Column over the store's
    columns) applied BEFORE scoring — the filtered-vector-search shape
    ("nearest docs where lang='en' and ts > …"). Post-filter semantics:
    the probe list is unchanged, so each query still scores only its
    probed cells and returns the top-k of the rows PASSING the filter
    there (a heavily selective filter wants a larger nprobe — recall is
    over the filtered corpus slice inside the probe). The predicate sits
    directly on the scan, so Parquet pushdown/row-group skipping applies
    before any cosine is computed.

    ``engine``: ``"catalyst"`` (default) scores with the deterministic
    JVM fold + half-up 6-dp rounding — the oracle-grade path.
    ``"arrow"`` scores each Arrow batch with ONE BLAS matmul against all
    Q queries and prunes to a per-(batch, query) top-k before the final
    window — the ``cosine_topk_batch`` pattern; the Catalyst per-query
    struct array evaluates INTERPRETED at ~Q·d multiplies per row
    (measured: it, not the scan, dominated pruned-store serving at
    5×10⁷ — SCALE.md r13). Same last-ulp/6-dp-midpoint caveat as every
    arrow engine in this module (np.round half-even vs F.round
    half-up); the driver row keeps catalyst.

    Measured rule (5×10⁷ store, warm repeated 64-query batches, SCALE.md
    r14): ``arrow`` sustains ~3-3.6× catalyst's throughput at every
    nprobe (27 vs 7.6 qps at nprobe=8) — default to ``arrow`` for
    serving; pick ``catalyst`` only when cross-engine 6-dp midpoint
    reproducibility (oracle comparisons) outweighs 3× throughput."""
    if not query_vecs:
        raise ValueError("ivf_topk_batch needs at least one query vector")
    if engine not in ("catalyst", "arrow"):
        raise ValueError(f"engine must be 'catalyst' or 'arrow', got {engine!r}")
    _check_super_col(super_col, supers)
    from pyspark.sql import Window

    per_q = [
        (
            qno,
            _serving_probe(centers, q, nprobe, supers, children, p_super),
            [float(x) for x in q],
        )
        for qno, q in enumerate(query_vecs)
    ]
    all_cells = sorted({c for _, cells, _ in per_q for c in cells})
    if super_col is not None and supers is not None:
        assigned = _super_prune(assigned, all_cells, children, centers, super_col)
    if where is not None:
        assigned = assigned.filter(where)
    if engine == "arrow":
        return _ivf_topk_batch_arrow(
            assigned, per_q, all_cells, vec_col, id_col, k, cell_col=cell_col
        )
    v = F.col(vec_col).cast("array<double>")
    scored = F.array(
        *[
            F.struct(
                F.lit(qno).alias("query_no"),
                F.when(
                    F.col(cell_col).isin(cells),
                    F.round(cosine(v, F.lit(q)), 6),
                ).alias("cosine"),
            )
            for qno, cells, q in per_q
        ]
    )
    cand = (
        _spread(assigned)
        .filter(F.col(cell_col).isin(all_cells))
        .select(F.col(id_col), F.explode(scored).alias("__s"))
        .select(id_col, "__s.query_no", "__s.cosine")
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("query_no").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .select("query_no", id_col, "cosine")
    )


def _ivf_topk_batch_arrow(
    assigned: DataFrame,
    per_q: list,
    all_cells: list[int],
    vec_col: str,
    id_col: str,
    k: int,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Arrow engine for ``ivf_topk_batch``: one BLAS matmul per batch
    against all Q queries, per-row probe gating via a (cell → queries)
    map over the UNION probe set (≤ Q·nprobe entries — tiny closure),
    per-(batch, query) top-k pruning so only ``batches × Q × k`` rows
    shuffle to the final window. Rounding/tie conventions follow
    ``cosine_topk_batch`` (np.round to 6 dp BEFORE the prune; ties break
    on ascending id, so batch-pruned ties can never beat kept ones)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    Q = np.asarray([q for _, _, q in per_q], dtype=np.float64)
    qn = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12)
    dim = Q.shape[1]
    probe_sets = {qno: np.asarray(cells) for qno, cells, _ in per_q}
    out_schema = T.StructType(
        [
            T.StructField("query_no", T.IntegerType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def local_topk(batches):
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = pdf[vec_col]
            valid = np.array(
                [e is not None and len(e) == dim for e in emb], dtype=bool
            )
            if not valid.any():
                continue
            X = np.array(emb[valid].to_list(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()[valid]
            cells = pdf[cell_col].to_numpy()[valid]
            norms = np.linalg.norm(X, axis=1)
            sims = (X @ qn.T) / np.maximum(norms, 1e-12)[:, None]
            sims = np.round(sims, 6)
            for qno, cset in probe_sets.items():
                m = np.isin(cells, cset)
                if not m.any():
                    continue
                s, i = sims[m, qno], ids[m]
                order = np.lexsort((i, -s))[:k]
                best.append(
                    pd.DataFrame(
                        {"query_no": qno, id_col: i[order], "cosine": s[order]}
                    )
                )
        if best:
            allb = pd.concat(best, ignore_index=True)
            allb = allb.sort_values(
                ["query_no", "cosine", id_col], ascending=[True, False, True]
            )
            yield allb.groupby("query_no", group_keys=False).head(k)

    cand = (
        _spread(assigned)
        .filter(F.col(cell_col).isin(all_cells))
        .select(id_col, cell_col, vec_col)
        .mapInPandas(local_topk, out_schema)
    )
    w = Window.partitionBy("query_no").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .select("query_no", id_col, "cosine")
    )


# --------------------------------------------------------------------------
# Deterministic IVF (Lloyd's algorithm over DataFrame ops)
#
# Spark ML KMeans (``ivf_build``) is seeded but its k-means|| init and
# distributed reduction order are not reproducible outside Spark, so a
# DuckDB oracle can't re-derive its centers. This variant IS reproducible:
# every communicated value (the centers) is rounded to 6 decimals, init is
# an md5-hash-ordered pick, and each Lloyd step is assignment (argmin over
# literal centers, first-index ties) + per-cell mean — all exactly
# re-runnable in numpy from the same parquet. Cross-engine FP noise
# (~1e-15) only matters within 1e-6 of a rounding boundary or at exact
# distance ties — negligible on real-valued data.
#
# Scale shape: init is TakeOrdered(k); each iteration is one scan with a
# map-side partial agg (k*dim running sums), collecting k rows; assignment
# is a codegen'd expression over broadcast literal centers — no shuffle of
# the vectors themselves beyond the groupBy's k-row exchange.
# --------------------------------------------------------------------------


def ivf_init_centers(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int
) -> list[list[float]]:
    """Deterministic pseudo-random seed centers: the ``n_cells`` vectors
    whose ids sort first by md5(id-as-string) — an unbiased, engine-
    independent pick (TakeOrdered(k), no full sort materialized)."""
    rows = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(n_cells)
        .collect()
    )
    return [[round(float(x), 6) for x in r["__v"]] for r in rows]


def ivf_assign(
    df: DataFrame, centers: list[list[float]], vec_col: str, cell_col: str = "ivf_cell"
) -> DataFrame:
    """Assign each vector to its nearest center (argmin squared distance,
    first index on ties) — a pure codegen'd expression over broadcast
    literal centers; no shuffle, no Python.

    The centers travel as ONE flattened array literal and the k scores
    come from a ``transform`` loop over slices — expression-tree size
    O(1) in k·d (vs k explicit distance expressions, whose Catalyst
    analysis/codegen dominated the fit at k·d ≈ 512). The per-element fp
    ops are identical (same zip_with/aggregate fold per center), so
    assignments — and therefore the numpy-twin/oracle contract — are
    unchanged (pinned by tests)."""
    k = len(centers)
    dim = len(centers[0])
    flat = lit_array([float(x) for c in centers for x in c])
    c2 = lit_array([float(sum(x * x for x in c)) for c in centers])
    v = F.col(vec_col).cast("array<double>")
    # |v|^2 - 2 v.c_j + |c_j|^2 per center j (the oracle's expansion)
    dists = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: _dot(v, v)
        - 2.0 * _dot(v, F.slice(flat, j * dim + 1, dim))
        + F.element_at(c2, j + 1),
    )
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.withColumn(cell_col, cell)


def suggest_n_cells(n_vectors: int, floor: int = 8, cap: int = 65536) -> int:
    """The standard IVF sizing rule, made first-class: ``n_cells ≈
    √N``, clamped to ``[floor, cap]``.

    Why √N: per-query probe work is ``n_cells`` (scoring every cell
    center) plus ``nprobe · N / n_cells`` (scanning the probed cells);
    the sum is minimized when the two terms balance at ``n_cells ∝
    √N``. Fixing n_cells while N grows makes the cell size — and every
    cell-bounded pair join (``knn_pairs``, ``semantic_pairs``) —
    grow linearly, which is exactly the quadratic blowup SCALE.md
    measured at the 10× store (7.3× for 10× at fixed cells; back on
    trend with cells re-sized by this rule). Re-fit with this value
    whenever the corpus grows ~4× or more."""
    if n_vectors < 1:
        raise ValueError(f"n_vectors must be >= 1, got {n_vectors}")
    import math

    return max(floor, min(cap, int(round(math.sqrt(n_vectors)))))


# --------------------------------------------- two-level IVF (r8 scale path)
#
# Single-level IVF with the √N sizing rule follows the N^1.5
# candidate-volume law (SCALE.md round-8 adjudication: sf1→sf10
# measured 26.8× for 10×): cell size grows ∝ √N, so every probed cell
# drags √N candidates. The way out is CONSTANT cell size — n_cells ∝ N
# — which single-level IVF cannot afford because every query scores
# every center (n_cells dots per row → N per row → N² total). The
# two-level coarse quantizer fixes the scoring: cluster the CENTERS
# into ~√n_cells super-cells, score the supers first (√n_cells dots),
# then only the chosen supers' children (p_super · √n_cells more).
# Per-query probe cost √n_cells-ish, candidates nprobe·(N/n_cells) =
# constant → the end-to-end build is ~linear in N (measured — SCALE.md
# round-8 table). This is the IMI/FAISS-style hierarchy re-expressed
# as pure Catalyst literals; selection is approximate in the standard
# IVF sense (a vector near a super boundary may miss its true nearest
# cell), EXACT when p_super == n_super (pinned in tests against the
# single-level operators).


def ivf2_fit_numpy(
    ids: np.ndarray,
    X: np.ndarray,
    n_cells: int | None = None,
    n_super: int | None = None,
    iters: int = 5,
    super_iters: int = 5,
    target_cell: int = 256,
):
    """Driver-side two-level fit (same deterministic Lloyd as
    ``ivf_centers_numpy`` at both levels — at real scale fit on a
    hash-sample; the model is centers only, data never leaves Spark):
    returns ``(centers, super_centers, children)`` with ``children[s]``
    the ASCENDING child-cell ids of super ``s`` (possibly empty).
    Defaults: ``n_cells = max(8, N // target_cell)`` — the constant
    cell-size rule this hierarchy exists for — and ``n_super =
    round(√n_cells)``."""
    X = np.asarray(X, dtype=np.float64)
    n = len(ids)
    if n_cells is None:
        n_cells = max(8, n // int(target_cell))
    if n_super is None:
        n_super = _suggest_n_super(n_cells)
    centers = ivf_centers_numpy(ids, X, n_cells, iters)
    super_centers, children = ivf2_from_centers(centers, n_super, super_iters)
    return centers, super_centers, children


# Measured r9 recall grid (tools/ann_recall.py, 20k×64d, target_cell=
# 128, p_super=4 row; full grid + protocol in SCALE.md): top-4 recall
# by nprobe on a clustered corpus (64 gaussian clusters, the realistic
# embedding shape) and a structureless random-gaussian corpus (the
# adversarial case — recall is intrinsically weak for ANY IVF there).
_RECALL_BY_NPROBE = {
    True: [(1, 0.746), (2, 0.929), (4, 0.994), (8, 1.0)],
    False: [(1, 0.096), (2, 0.152), (4, 0.230), (8, 0.337), (16, 0.470)],
}


def suggest_probe(
    n_super: int,
    target_recall: float = 0.95,
    clustered: bool = True,
    n_cells: int | None = None,
    grid: list[tuple[int, float]] | None = None,
) -> tuple[int, int]:
    """(nprobe, p_super) defaults from a MEASURED recall-vs-cost grid
    (the ``suggest_n_cells`` discipline: sizing rules come from data,
    not vibes). ``p_super`` stays at min(4, n_super) — the grid shows
    recall saturates in p_super by 2-4 on clustered corpora and by 8
    on random ones, while cost keeps rising. ``nprobe`` is the
    smallest grid point whose measured recall meets ``target_recall``;
    if none does (structureless corpora above ~0.47) the largest
    measured point is returned — past that, brute-force
    ``cosine_topk`` or the RP-LSH family is the honest tool, and the
    docstring says so rather than extrapolating.

    ``grid`` — pass the model's OWN measured (nprobe, recall) surface
    (``ivf2_fit_sampled(..., recall_grid=True)`` /
    ``measure_recall_grid``; any order — sorted by nprobe here) and the answer comes
    from THIS corpus at THIS dim/cell size instead of the static table
    below, which was measured once at 20k×64d/target_cell=128 and
    carries no authority for other shapes (r9 review). Match the
    grid's ``metric`` to the consumer: ``measure_recall_grid``'s
    default squared-L2 grid answers for the knn/assignment paths and
    — on L2-normalized embeddings — for cosine serving too; pass a
    ``metric="cosine"`` grid when tuning ``ivf_topk``-style serving
    over unnormalized vectors (r10 verdict #3). ``n_cells``
    clamps the returned nprobe — the static table can suggest more
    probes than a small model has cells, which ``ivf_topk``/
    ``knn_pairs_2level`` reject with 'nprobe must be in 1..n_cells'
    (r9 advisor finding)."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    g = list(grid) if grid is not None else _RECALL_BY_NPROBE[bool(clustered)]
    if not g:
        raise ValueError("grid must hold at least one (nprobe, recall) point")
    # the scan below assumes ascending nprobe ("smallest point meeting
    # target"); an unsorted caller grid would silently return an
    # oversized or suboptimal nprobe, so impose the order here instead
    # of trusting a docstring contract (r10 advisor finding)
    g = sorted(g, key=lambda p: int(p[0]))
    p_super = min(4, max(1, int(n_super)))
    chosen = g[-1][0]
    for nprobe, recall in g:
        if recall >= target_recall:
            chosen = nprobe
            break
    if n_cells is not None:
        chosen = max(1, min(int(chosen), int(n_cells)))
    return int(chosen), p_super


def ivf2_fit_sampled(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 65536,
    target_cell: int = 256,
    rebalance: bool = True,
    iters: int = 5,
    super_iters: int = 5,
    n_total: int | None = None,
    n_cells: int | None = None,
    fit: str = "auto",
    recall_grid: bool = False,
):
    """The "fit on a hash-sample" discipline made first-class: every
    two-level fit docstring says the model is centers only and the fit
    runs driver-side on a sample at real scale — this does it.
    Deterministic md5-ordered sampling (the ``ivf_init_centers`` pick,
    a TakeOrdered(sample_n) — no full sort, engine-reproducible so
    twins/oracles can replay it), one ``count()`` for the corpus size
    ONLY when ``n_cells`` must be derived (callers that pass
    ``n_cells`` — or ``n_total`` — get zero corpus scans; r10
    job-group-pinned), then ``ivf2_fit_numpy`` sized for the FULL
    corpus: ``n_cells = max(8, n_total // target_cell)`` — the
    constant-cell-size rule must use the real N, not the sample size,
    or cells would be sample_n/N times too few. ``rebalance=True`` additionally iterates
    ``ivf2_rebalance`` on the sample with the PRO-RATED per-cell bound
    (sample cells hold ≈ sample_n/n_total of their full-corpus mass),
    closing the size-skew join tax the sample can already see.
    Returns ``(centers, super_centers, children, sample_ids)``.

    Memory honesty (r9 review): under the constant-cell-size rule the
    MODEL itself is linear in N — ``n_cells = N/target_cell`` centers
    — and a meaningful Lloyd fit needs ``sample_n ≥ n_cells`` (raised
    if not; in practice use several points per cell). So driver
    memory is ∝ ``max(sample_n, n_cells)·dim`` doubles: at 10^9
    vectors / target_cell=256 / 64d that is a ~2-8 GB driver model —
    large but BOUNDED and ~64-256× smaller than collecting the 512 GB
    corpus, which is what this call replaces. Scale ``sample_n`` with
    the corpus (the error message computes the floor). ``id_col``
    must be integer-typed — the numpy twin's md5 seeding hashes
    ``str(int(id))``, and a string id would both crash it and diverge
    from the Spark-side sample order. ``n_cells`` overrides the
    target_cell derivation exactly (no max(8, ·) floor) — callers with
    a cell-count contract (semantic_dedup_fit) pass it so the sampled
    fit matches the lloyd path's granularity instead of a
    floor-division round-trip of it.

    ``fit`` — ``"flat"`` is the pre-r10 ``ivf2_fit_numpy`` path: ONE
    Lloyd over all n_cells, whose per-iteration (sample_n × n_cells)
    distance matrix is quadratic in N under the constant-cell-size
    rule (at 10⁹ vectors / target_cell 256 it would be ~100 TB — the
    r9 verdict's one remaining scale-killer). ``"hier"`` is
    ``ivf2_fit_hier``: supers first, then per-super child fits —
    Θ(sample_n·√n_cells·dim) work, one ≤256 MB matrix at a time, so
    n_cells ≥ 10⁵ fits from multi-million-row samples in bounded
    driver memory (measured in SCALE.md r10). ``"auto"`` (default)
    picks hier once sample_n·n_cells exceeds ``FIT_BLOCK_ENTRIES`` —
    every oracle/test-scale model stays on the flat path byte-for-byte,
    the first 10⁷-vector user lands on the one that finishes. The fit
    method is part of the model's replay recipe: twins must use the
    same one (both are deterministic; they produce different — equally
    valid — centers). Rebalance follows the fit: flat models use
    ``ivf2_rebalance`` (exact argmin + super refit), hier models use
    ``ivf2_rebalance_hier`` (two-level counting, supers fixed).

    ``recall_grid=True`` additionally measures THIS model's
    recall-vs-nprobe surface on the sample already in memory
    (``measure_recall_grid``) and returns it as a FIFTH element —
    feed it to ``suggest_probe(grid=...)`` for per-model probe
    defaults instead of the static 20k×64d table."""
    if sample_n < 8:
        raise ValueError(f"sample_n must be >= 8, got {sample_n}")
    id_field = [f for f in df.schema.fields if f.name == id_col]
    if not id_field:
        # name the missing column HERE instead of letting the select
        # below surface it as an opaque AnalysisException (r9 advisor)
        raise ValueError(
            f"id_col {id_col!r} not in schema — have {df.columns}"
        )
    if id_field[0].dataType.simpleString() not in (
        "bigint", "int", "smallint", "tinyint"
    ):
        raise ValueError(
            f"id_col {id_col!r} must be integer-typed for the numpy-twin "
            f"md5 seeding, got {id_field[0].dataType.simpleString()}"
        )
    sel = df.select(
        F.col(f"`{id_col}`").alias("__id"),
        F.col(f"`{vec_col}`").cast("array<double>").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    if n_cells is None:
        # the corpus count exists ONLY to derive n_cells — when the
        # caller supplies n_cells, running it anyway is a wasted full
        # scan per fit (r9 advisor; the r10 review caught the first
        # fix leaving this count behind)
        if n_total is None:
            n_total = sel.count()
        n_cells = max(8, int(n_total) // int(target_cell))
    elif n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    rows = _md5_sample_rows(sel, int(sample_n), n_total)
    if n_cells > len(rows):
        raise ValueError(
            f"corpus implies {n_cells} cells but the sample holds only "
            f"{len(rows)} vectors — raise sample_n (need >= n_total/"
            f"target_cell) or fit the tiny corpus with ivf2_fit_numpy"
        )
    ids = np.array([r["__id"] for r in rows])
    X = np.array([list(map(float, r["__v"])) for r in rows])
    if fit == "auto":
        fit = "hier" if len(rows) * int(n_cells) > FIT_BLOCK_ENTRIES else "flat"
    # the sample sees ≈ sample_n/n_total of each cell's mass — the
    # rebalance split bound must be pro-rated or no sample cell ever
    # breaches
    sample_cell = max(1, int(np.ceil(len(rows) / n_cells)))
    if fit == "hier":
        centers, supers, children = ivf2_fit_hier(
            ids, X, n_cells=n_cells, iters=iters, super_iters=super_iters
        )
        if rebalance:
            centers, supers, children = ivf2_rebalance_hier(
                ids, X, centers, supers, children,
                target_cell=sample_cell, iters=iters,
            )
    elif fit == "flat":
        centers, supers, children = ivf2_fit_numpy(
            ids, X, n_cells=n_cells, iters=iters, super_iters=super_iters
        )
        if rebalance:
            centers, supers, children = ivf2_rebalance(
                ids,
                X,
                centers,
                target_cell=sample_cell,
                iters=iters,
                super_iters=super_iters,
            )
    else:
        raise ValueError(f"fit must be 'flat', 'hier' or 'auto', got {fit!r}")
    if recall_grid:
        grid = measure_recall_grid(ids, X, centers, supers, children)
        return centers, supers, children, ids, grid
    return centers, supers, children, ids


# One float64 distance matrix the hierarchical fit is willing to
# materialize at a time: 2^25 entries = 256 MB. Every stage of
# ivf2_fit_hier / ivf2_rebalance_hier / assign_2level_numpy chunks or
# md5-subsamples to stay under it, which is what makes the fit's
# DRIVER memory bounded regardless of sample_n·n_cells — the flat
# ivf_centers_numpy fit materializes the full (sample_n × n_cells)
# matrix and is the one remaining Θ(N²)-class step the r9 verdict
# named (n_cells ∝ N under the constant-cell-size rule makes it
# quadratic in N once sample_n ≥ n_cells binds).
FIT_BLOCK_ENTRIES = 1 << 25


# Above this sample size the md5-sample collect routes through the
# narrow two-pass (threshold filter + ids-only TakeOrdered + semi-join
# fetch): a plain orderBy().limit(n).collect() is a TakeOrdered that
# ships EVERY task's local top-n of the full row payload — Θ(partitions
# × n × row_bytes) of driver results, which crossed Spark's
# spark.driver.maxResultSize (1 GiB default) at a 262k-row × 64d sample
# on a 38-partition store (measured, SCALE.md r11). At or below the
# threshold (= the fits' default sample size) the classic single-job
# path runs unchanged — oracle job counts and twin replay untouched.
SAMPLE_NARROW_ROWS = 65536


def _md5_sample_rows(sel: DataFrame, n: int, n_total: int | None = None):
    """First ``n`` rows of ``sel`` (columns ``__id``, ``__v``) by
    (md5(id), id) — the package's one deterministic sample order —
    returned as Rows IN THAT ORDER (the fits' per-cell float sums are
    input-order-sensitive, so twins replay the exact sequence).

    Past ``SAMPLE_NARROW_ROWS`` the selection runs as the narrow
    two-pass described at the constant: md5 hex is uniform, so keeping
    ``md5 < t`` with ``t`` sized for ~1.5·n survivors bounds the
    ids-only TakeOrdered at ~1.5·n narrow rows regardless of partition
    count, and the full payload is fetched once by a broadcast
    semi-join on the chosen ids (n rows — the irreducible driver-side
    need of a driver-side fit). Same rows, same order as the classic
    path (the threshold only discards rows that cannot be in the top
    n; an undershoot — astronomically unlikely at these margins —
    falls back to the classic exact path). ``n_total`` sizes the
    threshold; when absent, one narrow count() derives it — supply it
    to keep the big-sample path scan-free."""
    h = F.md5(F.col("__id").cast("string"))
    classic = sel.orderBy(h, F.col("__id")).limit(int(n))
    if n <= SAMPLE_NARROW_ROWS:
        return classic.collect()
    if n_total is None:
        n_total = sel.count()
    cut = int(min(1.0, 1.5 * n / max(1, int(n_total))) * (16**8))
    filtered = sel
    if cut < 16**8:
        t = format(cut, "08x")
        filtered = sel.filter(F.substring(h, 1, 8) < F.lit(t))
    narrow = (
        filtered.select(h.alias("__h"), "__id")
        .orderBy("__h", "__id")
        .limit(int(n))
        .collect()
    )
    if len(narrow) < n and cut < 16**8:
        # undershoot (fewer than n rows under the threshold, or a
        # smaller corpus than n_total claimed): correctness first
        return classic.collect()
    order = {int(r["__id"]): i for i, r in enumerate(narrow)}
    ids_df = sel.sparkSession.createDataFrame(
        [(int(r["__id"]),) for r in narrow], "__id long"
    )
    rows = sel.join(F.broadcast(ids_df), "__id").collect()
    if len(order) != len(narrow) or len(rows) != len(narrow):
        # Duplicate __id values violate the narrow path's unique-id
        # precondition (the order dict collapses and the semi-join fans
        # out) — correctness first: classic exact path (ADVICE r11).
        return classic.collect()
    rows.sort(key=lambda r: order[int(r["__id"])])
    return rows


def _md5_take(ids: np.ndarray, n: int) -> np.ndarray:
    """Row positions of the first ``n`` ids by (md5(id), id) — the
    package's one deterministic sample order (``ivf_init_centers`` /
    ``ivf2_fit_sampled``), applied one level down so every subsample
    inside the hierarchical fit replays identically in a twin."""
    import hashlib

    order = sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(str(int(ids[i])).encode()).hexdigest(),
            int(ids[i]),
        ),
    )
    return np.asarray(order[: int(n)], dtype=np.int64)


def _md5_rank_of(ids: np.ndarray) -> np.ndarray:
    """Rank of every row position under the global (md5(id), id) order
    — the ONE construction behind the fit/rebalance lazy subsample
    caches (shared so a future tie-break or dtype change cannot
    silently diverge the fit's subsample order from the rebalance's
    and break twin replay)."""
    order = _md5_take(ids, len(ids))
    rank = np.empty(len(ids), dtype=np.int64)
    rank[order] = np.arange(len(ids))
    return rank


def _apportion(counts: np.ndarray, total: int) -> np.ndarray:
    """Deterministic largest-remainder apportionment of ``total`` child
    cells across supers, proportional to member ``counts``, with the two
    feasibility caps a Lloyd hierarchy needs: every non-empty super gets
    ≥ 1 child (its members must land somewhere) and no super gets more
    children than members (Lloyd can't seed k centers from < k points).
    Ties break to the lowest super id both ways (argmax/argmin return
    the first maximal index), so twins replay the allocation."""
    counts = np.asarray(counts, dtype=np.int64)
    n = int(counts.sum())
    active = counts > 0
    n_active = int(active.sum())
    if n == 0 or n_active == 0:
        return np.zeros(len(counts), dtype=np.int64)
    total = max(int(total), n_active)
    total = min(total, n)
    quota = counts * (float(total) / n)
    k = np.zeros(len(counts), dtype=np.int64)
    k[active] = np.maximum(1, np.floor(quota[active]).astype(np.int64))
    k = np.minimum(k, counts)
    while int(k.sum()) < total:
        room = active & (k < counts)
        rem = np.where(room, quota - k, -np.inf)
        k[int(rem.argmax())] += 1
    while int(k.sum()) > total:
        shrink = k > 1
        rem = np.where(shrink, quota - k, np.inf)
        k[int(rem.argmin())] -= 1
    return k


def ivf2_fit_hier(
    ids: np.ndarray,
    X: np.ndarray,
    n_cells: int | None = None,
    n_super: int | None = None,
    iters: int = 5,
    super_iters: int = 5,
    target_cell: int = 256,
):
    """Hierarchical two-level fit — supers FIRST, then each super's
    children fit ONLY on its own members (the r9 verdict's top item:
    the flat ``ivf2_fit_numpy`` path runs one Lloyd over ALL n_cells,
    materializing a (sample_n × n_cells) distance matrix per iteration
    — quadratic in N under the constant-cell-size rule n_cells ∝ N,
    and the last Θ(N²)-class step in the ANN family. This fit never
    builds it):

    1. Lloyd the ``n_super ≈ √n_cells`` supers on an md5-subsample
       capped so the matrix stays ≤ ``FIT_BLOCK_ENTRIES``;
    2. assign every sample row to its nearest super — an exact argmin,
       CHUNKED over rows (chunk × n_super per block);
    3. apportion ``n_cells`` children across supers proportional to
       member counts (largest remainder, deterministic ties), then
       Lloyd each super's children on its members only — per-block
       matrices are members_s × k_s, md5-subsampled under the same cap.

    Total work Θ(sample_n · √n_cells · dim) instead of the flat path's
    Θ(sample_n · n_cells · dim); peak extra memory one
    ``FIT_BLOCK_ENTRIES`` matrix instead of sample_n × n_cells. Every
    stage is the package's deterministic Lloyd (md5-ordered init /
    subsample, expansion argmin with first-index ties, 6-dp rounded
    centers), so a numpy twin replays the model from the same sample.

    Returns ``(centers, super_centers, children)`` with ``children[s]``
    the CONTIGUOUS ascending ids of super ``s``'s children — parentage
    is by construction (each child was fit inside its super), not the
    nearest-super re-derivation ``ivf2_from_centers`` performs, so no
    n_cells-sized re-clustering happens anywhere. The center count is
    exactly ``n_cells`` whenever every super has enough members
    (apportionment caps k_s ≤ members_s, so degenerate corpora may get
    fewer)."""
    X = np.asarray(X, dtype=np.float64)
    ids = np.asarray(ids)
    n = len(ids)
    if n == 0:
        raise ValueError("ivf2_fit_hier needs at least one vector")
    if n_cells is None:
        n_cells = max(8, n // int(target_cell))
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    n_cells = min(int(n_cells), n)
    if n_super is None:
        n_super = _suggest_n_super(n_cells)
    n_super = max(1, min(int(n_super), n_cells))
    # ONE global (md5(id), id) rank per fit, computed lazily and reused
    # by every subsample — the restriction of the global order to any
    # subset IS that subset's md5 order, and re-hashing all ids per
    # oversized block was measured Python-bound at the 10⁷ sample
    # (r10 review). Lazy so small fits that never subsample hash
    # nothing and keep their exact pre-r10 arithmetic (input order
    # feeds the Lloyd means).
    rank_arr: np.ndarray | None = None

    def _md5_rank() -> np.ndarray:
        nonlocal rank_arr
        if rank_arr is None:
            rank_arr = _md5_rank_of(ids)
        return rank_arr

    # 1. super fit on a capped md5-subsample (sample × n_super matrix)
    super_fit_n = min(n, max(n_super, FIT_BLOCK_ENTRIES // max(n_super, 1)))
    if super_fit_n < n:
        take = np.argsort(_md5_rank(), kind="stable")[:super_fit_n]
        S = ivf_centers_numpy(ids[take], X[take], n_super, super_iters)
    else:
        S = ivf_centers_numpy(ids, X, n_super, super_iters)
    # 2. exact nearest-super per row, chunked
    owner = _nearest_center_chunked(X, S)
    counts = np.bincount(owner, minlength=len(S))
    # 3. per-super child fits
    k = _apportion(counts, n_cells)
    blocks: list[np.ndarray] = []
    children: list[list[int]] = []
    off = 0
    for s in range(len(S)):
        if k[s] == 0:
            children.append([])
            continue
        members = np.flatnonzero(owner == s)
        if len(members) * int(k[s]) > FIT_BLOCK_ENTRIES:
            cap = max(int(k[s]), FIT_BLOCK_ENTRIES // int(k[s]))
            r = _md5_rank()[members]
            members = members[np.argsort(r, kind="stable")[:cap]]
        sub = np.asarray(
            ivf_centers_numpy(ids[members], X[members], int(k[s]), iters)
        )
        blocks.append(sub)
        children.append(list(range(off, off + len(sub))))
        off += len(sub)
    return np.vstack(blocks), np.asarray(S, dtype=np.float64), children


def _nearest_center_chunked(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact nearest-center argmin (expansion formula, first-index
    ties — the package contract) chunked over rows so the distance
    matrix never exceeds ``FIT_BLOCK_ENTRIES``. Chunking is exactly
    deterministic: each row's argmin is independent."""
    C = np.asarray(C, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    out = np.empty(len(X), dtype=np.int64)
    rows_per = max(1, FIT_BLOCK_ENTRIES // max(len(C), 1))
    for s in range(0, len(X), rows_per):
        d = c2[None, :] - 2.0 * (X[s : s + rows_per] @ C.T)
        out[s : s + rows_per] = d.argmin(axis=1)
    return out


def assign_2level_numpy(
    X: np.ndarray,
    centers,
    supers,
    children,
    p_super: int | None = None,
) -> np.ndarray:
    """Numpy twin of ``ivf2_assign`` (identical selection math to
    ``_two_level_probe_udf`` at take=1), chunked over rows under the
    ``FIT_BLOCK_ENTRIES`` budget: each row scores the supers, keeps
    ``p_super``, then argmins over ONLY their children. Rows whose
    selected supers are all childless get ``-1`` (the operator's UDF
    emits NULL for the same rows). Shared by ``ivf2_rebalance_hier``
    and ``measure_recall_grid`` — and by tools/ann_recall.py, so the
    measured grid is the operator's own selection arithmetic."""
    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(centers, dtype=np.float64)
    S = np.asarray(supers, dtype=np.float64)
    ns = len(S)
    if p_super is None:
        p_super = min(4, ns)
    if not 1 <= p_super <= ns:
        raise ValueError(f"p_super must be in 1..{ns}, got {p_super}")
    c2 = (C * C).sum(axis=1)
    s2 = (S * S).sum(axis=1)
    kids_arr = [np.asarray(ch, dtype=np.int64) for ch in children]
    out = np.full(len(X), -1, dtype=np.int64)
    rows_per = max(1, FIT_BLOCK_ENTRIES // max(ns, 1))
    for start in range(0, len(X), rows_per):
        Xc = X[start : start + rows_per]
        ds = s2[None, :] - 2.0 * (Xc @ S.T)
        sel = np.sort(
            np.argsort(ds, axis=1, kind="stable")[:, :p_super], axis=1
        )
        uniq, inv = np.unique(sel, axis=0, return_inverse=True)
        for g in range(len(uniq)):
            rows = np.flatnonzero(inv == g)
            kid_lists = [kids_arr[s] for s in uniq[g] if len(kids_arr[s])]
            if not kid_lists:
                continue
            kids = np.sort(np.concatenate(kid_lists))
            # sub-chunk the GROUP matrix too: the outer chunk bounds
            # only the super-score matrix, and under super skew
            # len(kids) can approach n_cells — rows × kids would then
            # reproduce the very blowup this family removes (r10
            # review finding). Gather the kid centers ONCE per group,
            # not per sub-chunk (the slice can be ~50 MB at 10⁵ cells).
            Ck, k2 = C[kids].T, c2[kids]
            sub = max(1, FIT_BLOCK_ENTRIES // max(len(kids), 1))
            for s0 in range(0, len(rows), sub):
                rr = rows[s0 : s0 + sub]
                dd = k2[None, :] - 2.0 * (Xc[rr] @ Ck)
                out[start + rr] = kids[dd.argmin(axis=1)]
    return out


def probe_2level_numpy(
    X: np.ndarray,
    centers,
    supers,
    children,
    p_super: int,
    nprobe: int,
    metric: str = "l2",
) -> list[np.ndarray]:
    """Numpy twin of the two-level probe selection. ``metric="l2"``
    (default) is the BUILD-side rule (``_two_level_sorted_cells`` /
    ``_two_level_probe_udf`` sliced to ``nprobe``): per query, the
    candidate cells of the ``p_super`` nearest supers sorted by
    (squared distance, cell id) — the knn/assignment machinery.
    ``metric="cosine"`` is the SERVING rule: each query routed through
    ``probe_cells_2level`` itself (per-query, so the selection is
    bit-identical to what ``ivf_topk``/``ivf_topk_batch`` probe).

    The two rankings coincide exactly for L2-NORMALIZED embeddings
    (then ‖q−c‖² = 2−2·cos is monotone in cosine) and can pick
    DIFFERENT cells otherwise — the r10 verdict's metric-gap note;
    ``measure_recall_grid`` exposes the same switch so serving callers
    with unnormalized vectors can measure the surface they will
    actually probe. Rows whose selected supers are all childless get
    an empty probe list. The l2 path is chunked under
    ``FIT_BLOCK_ENTRIES`` at both levels like ``assign_2level_numpy``
    (r10 review — it is a public function and tools/ann_recall.py
    feeds it arbitrary query sets)."""
    if metric == "cosine":
        return [
            np.asarray(
                probe_cells_2level(
                    centers, supers, children, [float(t) for t in q],
                    nprobe, p_super,
                ),
                dtype=np.int64,
            )
            for q in np.asarray(X, dtype=np.float64)
        ]
    if metric != "l2":
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(centers, dtype=np.float64)
    S = np.asarray(supers, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    s2 = (S * S).sum(axis=1)
    kids_arr = [np.asarray(ch, dtype=np.int64) for ch in children]
    probes: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * len(X)
    rows_per = max(1, FIT_BLOCK_ENTRIES // max(len(S), 1))
    for start in range(0, len(X), rows_per):
        Xc = X[start : start + rows_per]
        ds = s2[None, :] - 2.0 * (Xc @ S.T)
        sel = np.sort(
            np.argsort(ds, axis=1, kind="stable")[:, :p_super], axis=1
        )
        uniq, inv = np.unique(sel, axis=0, return_inverse=True)
        for g in range(len(uniq)):
            rows = np.flatnonzero(inv == g)
            kid_lists = [kids_arr[s] for s in uniq[g] if len(kids_arr[s])]
            if not kid_lists:
                continue
            kids = np.sort(np.concatenate(kid_lists))
            Ck, k2 = C[kids].T, c2[kids]
            sub = max(1, FIT_BLOCK_ENTRIES // max(len(kids), 1))
            for s0 in range(0, len(rows), sub):
                rr = rows[s0 : s0 + sub]
                dd = k2[None, :] - 2.0 * (Xc[rr] @ Ck)
                order = np.argsort(dd, axis=1, kind="stable")[:, :nprobe]
                for j, r in enumerate(rr):
                    probes[start + r] = kids[order[j]]
    return probes


def ivf2_rebalance_hier(
    ids: np.ndarray,
    X: np.ndarray,
    centers,
    supers,
    children,
    target_cell: int = 256,
    max_ratio: float = 2.0,
    iters: int = 5,
    max_rounds: int = 4,
    p_super: int | None = None,
):
    """``ivf2_rebalance`` for a hierarchy whose parentage is KNOWN
    (an ``ivf2_fit_hier`` / ``ivf2_fit_dist`` model): a split cell's
    sub-centers were fit on its own members, so they stay under the
    same super — the super level is FIXED and only the children lists
    grow. That removes the flat rebalance's two scale problems at
    once: no full (sample_n × n_cells) assignment matrix (counting
    uses the chunked two-level ``assign_2level_numpy`` — the same rule
    the store assigns by, which is also the more faithful skew signal:
    it counts the rows a probe would actually drag) and no
    n_cells-sized super re-clustering afterward. Same contract
    otherwise: iterate until no cell exceeds ``max_ratio ·
    target_cell``, stop early on no progress (Voronoi-unsplittable
    identical-vector mass), drop exact-duplicate split centers (first
    occurrence wins), deterministic throughout. Oversized split blocks
    md5-subsample their members under ``FIT_BLOCK_ENTRIES`` like the
    fit. Returns ``(centers, super_centers, children)``."""
    X = np.asarray(X, dtype=np.float64)
    ids = np.asarray(ids)
    C = np.asarray(centers, dtype=np.float64)
    S = np.asarray(supers, dtype=np.float64)
    kids = [list(map(int, ch)) for ch in children]
    if target_cell < 1:
        raise ValueError(f"target_cell must be >= 1, got {target_cell}")
    if max_ratio < 1.0:
        raise ValueError(f"max_ratio must be >= 1, got {max_ratio}")
    # one lazy global md5 rank shared by every split-cap across every
    # round (same reuse as ivf2_fit_hier — r10 review)
    rank_arr: np.ndarray | None = None

    def _md5_rank() -> np.ndarray:
        nonlocal rank_arr
        if rank_arr is None:
            rank_arr = _md5_rank_of(ids)
        return rank_arr

    prev_max = None
    for _ in range(max_rounds):
        assign = assign_2level_numpy(X, C, S, kids, p_super)
        counts = np.bincount(
            assign[assign >= 0], minlength=len(C)
        )
        cur_max = int(counts.max()) if len(counts) else 0
        if cur_max <= max_ratio * target_cell:
            break
        if prev_max is not None and cur_max >= prev_max:
            break
        prev_max = cur_max
        new_blocks: list[np.ndarray] = []
        new_kids: list[list[int]] = []
        off = 0
        for s in range(len(S)):
            out_ids: list[int] = []
            for c in kids[s]:
                if counts[c] <= max_ratio * target_cell:
                    new_blocks.append(C[c : c + 1])
                    out_ids.append(off)
                    off += 1
                    continue
                members = np.flatnonzero(assign == c)
                k_c = int(np.ceil(len(members) / target_cell))
                if len(members) * k_c > FIT_BLOCK_ENTRIES:
                    cap = max(k_c, FIT_BLOCK_ENTRIES // k_c)
                    r = _md5_rank()[members]
                    members = members[np.argsort(r, kind="stable")[:cap]]
                sub = np.asarray(
                    ivf_centers_numpy(ids[members], X[members], k_c, iters)
                )
                _, fi = np.unique(sub, axis=0, return_index=True)
                sub = sub[np.sort(fi)]
                new_blocks.append(sub)
                out_ids.extend(range(off, off + len(sub)))
                off += len(sub)
            new_kids.append(out_ids)
        C = np.vstack(new_blocks)
        kids = new_kids
    return C, S, kids


def measure_recall_grid(
    ids: np.ndarray,
    X: np.ndarray,
    centers,
    supers,
    children,
    k: int = 4,
    p_super: int | None = None,
    nprobes: tuple[int, ...] = (1, 2, 4, 8, 16),
    max_queries: int = 2048,
    metric: str = "l2",
) -> list[tuple[int, float]]:
    """Measure THIS model's top-``k`` recall-vs-nprobe surface on THIS
    sample — the tools/ann_recall.py protocol folded into the library
    (r9 verdict item 4: the static ``_RECALL_BY_NPROBE`` table was
    measured once at 20k×64d and answers for every corpus with
    unearned authority). Ground truth is exact cosine top-k within the
    sample (md5-ordered first ``max_queries`` rows as queries — the
    package's deterministic subsample); candidates come through the
    model's own two-level assignment + probe arithmetic
    (``assign_2level_numpy`` / ``probe_2level_numpy`` — test-pinned
    identical to the operators). Returns ascending
    ``[(nprobe, recall)]`` with nprobes clamped to n_cells and recall
    rounded to 3 dp, ready for ``suggest_probe(grid=...)``.

    ``metric`` — which probe selection the grid measures:
    ``"l2"`` (default) is the BUILD/knn rule (squared-L2, what
    ``knn_pairs_2level``/``ivf2_assign`` probe with); ``"cosine"`` is
    the SERVING rule (``probe_cells_2level``, what ``ivf_topk``/
    ``ivfpq_topk`` probe with). The two coincide exactly for
    L2-NORMALIZED embeddings — the package's ``hashed_embedding``
    emits unit vectors, so the default answers for both paths there —
    but diverge on unnormalized corpora (r10 verdict): feed
    ``metric="cosine"`` grids to ``suggest_probe`` when tuning
    serving over vectors of varying norm. Ground-truth recall is
    cosine top-k either way (both paths SCORE by cosine)."""
    X = np.asarray(X, dtype=np.float64)
    ids = np.asarray(ids)
    n = len(X)
    if n < 2:
        raise ValueError("measure_recall_grid needs at least two vectors")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if metric not in ("l2", "cosine"):
        # before the O(queries·n) ground-truth pass, not after it
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    C = np.asarray(centers, dtype=np.float64)
    ns = len(np.asarray(supers))
    if p_super is None:
        p_super = min(4, ns)
    k = min(int(k), n - 1)
    nps = sorted({max(1, min(int(p), len(C))) for p in nprobes})
    cells = assign_2level_numpy(X, C, supers, children, p_super)
    cell_rows: dict[int, np.ndarray] = {}
    for c in np.unique(cells[cells >= 0]):
        cell_rows[int(c)] = np.flatnonzero(cells == c)
    qpos = _md5_take(ids, min(int(max_queries), n))
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.maximum(norms, 1e-12)
    # exact top-k per query over the whole sample, chunked
    truth: list[set] = []
    rows_per = max(1, FIT_BLOCK_ENTRIES // n)
    for s in range(0, len(qpos), rows_per):
        qp = qpos[s : s + rows_per]
        sims = Xn[qp] @ Xn.T
        for j, q in enumerate(qp):
            sims[j, q] = -2.0
        top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        truth.extend(set(map(int, t)) for t in top)
    probes = probe_2level_numpy(
        X[qpos], C, supers, children, p_super, max(nps), metric=metric
    )
    out: list[tuple[int, float]] = []
    for nprobe in nps:
        hits = 0
        for qi, q in enumerate(qpos):
            plist = probes[qi][:nprobe]
            cand_lists = [
                cell_rows[int(c)] for c in plist if int(c) in cell_rows
            ]
            if not cand_lists:
                continue
            cand = np.concatenate(cand_lists)
            cand = cand[cand != q]
            if len(cand) == 0:
                continue
            sims = Xn[cand] @ Xn[q]
            top = cand[np.argsort(-sims, kind="stable")[:k]]
            hits += len(set(map(int, top)) & truth[qi])
        out.append((int(nprobe), round(hits / (k * len(qpos)), 3)))
    return out


# Row cap per applyInPandas child-fit block in ivf2_fit_dist: the
# whole group materializes in one executor's pandas frame, so a skewed
# super must be md5-capped BEFORE the shuffle. 2^21 rows × 64 doubles
# ≈ 1 GB per block.
FIT_MAX_GROUP_ROWS = 1 << 21


def ivf_assign_arrow(
    df: DataFrame, centers, vec_col: str, cell_col: str = "ivf_cell"
) -> DataFrame:
    """Single-level assignment through the BLAS probe UDF — the arrow
    twin of ``ivf_assign`` for center counts where Catalyst's
    interpreted HOF fold dominates (the SCALE.md r8 lesson). A flat
    argmin is the two-level probe with every center its own super and
    p_super=1: score the "supers" (= the centers) once, take the
    nearest, whose single child is itself. Ties and NULL/ragged gating
    are identical to the two-level paths (stable argsort → lowest id ≡
    ``array_position(min)``'s first index; bad rows → NULL)."""
    C = [[float(x) for x in c] for c in np.asarray(centers)]
    probe = _two_level_probe_udf(
        C, C, [[i] for i in range(len(C))], p_super=1, take=1
    )
    v = F.col(f"`{vec_col}`").cast("array<double>")
    return df.withColumn(cell_col, F.get(probe(v), 0).cast("int"))


def ivf2_fit_dist(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_cell: int = 256,
    n_super: int | None = None,
    super_sample_n: int = 65536,
    iters: int = 5,
    super_iters: int = 5,
    n_total: int | None = None,
    engine: str = "auto",
    max_group_rows: int = FIT_MAX_GROUP_ROWS,
    n_cells: int | None = None,
    rebalance: bool = False,
):
    """DISTRIBUTED two-level fit — the fit-side twin of the serving
    hierarchy, for corpora where even the fit SAMPLE outgrows the
    driver (``ivf2_fit_hier`` bounds the matrices but still holds
    sample_n·dim doubles and runs one core): supers fit driver-side on
    an md5 hash-sample (tiny — n_super·~√N centers need only
    ``super_sample_n`` rows), then every super's children fit IN
    PARALLEL on executors, one ``applyInPandas`` block per super over
    the FULL corpus — so children see all N vectors, not a sample, and
    the per-block work (members_s × k_s Lloyd, ``ivf_centers_numpy``)
    is embarrassingly parallel across ~√n_cells blocks. One agg and
    ONE shuffle on the super key (the member-cap window reuses the
    same hash partitioning, and is skipped entirely when no super
    exceeds ``max_group_rows``); the corpus ``count()`` runs only when
    neither ``n_cells`` nor ``n_super``/``n_total`` pins the super
    sizing — the r10 count-skip discipline.

    ONE full-corpus assignment scan (r10 verdict item 1): the
    assignment frame is DISK_ONLY-persisted before the per-super count
    job, so the child-fit job reads the persisted blocks instead of
    recomputing the parquet scan + assignment from lineage — at the
    ≳10⁸-row regime this rung exists for, that scan IS the dominant
    distributed cost, and it also pins the rows the two jobs see
    (no live-table race between count and fit). Unpersisted before
    returning.

    Allocation: ``k_s = ceil(full_count_s / target_cell)`` from the
    super's FULL corpus count — the constant-cell-size rule applied
    per super — so total cells ≈ N/target_cell without a global
    apportionment step. Callers with an exact cell-count contract
    (``semantic_dedup_fit(method='dist')``) pass ``n_cells`` instead:
    the children are then ``_apportion``ed across supers proportional
    to their full-corpus counts (largest remainder, deterministic
    ties, ≤ count per super), exactly ``n_cells`` total whenever every
    super has enough members. A super whose members exceed
    ``max_group_rows`` fits its children on the md5-first cap of them
    (counts still full-corpus; same one-level-down sampling discipline
    as the hier fit; a super so skewed that k_s > the cap degrades to
    one center per sampled member — exact-dedup such corpora first).

    Deterministic end-to-end: md5 sample order, the test-pinned
    ``ivf_assign`` ≡ numpy argmin contract for the super assignment,
    per-block md5-seeded Lloyd over members sorted ASCENDING BY ID
    (selection is by md5, fit order is by id — the per-cell float
    means sum in input order, and shuffle fetch order is
    nondeterministic on a real cluster, so the block must impose its
    own order or repeated fits could differ at the 6th dp; r10
    advisor), and a (super, pos) sort at collect — a numpy twin
    replays the model from the same parquet (test-pinned). ``engine``
    picks the super-assignment path (``"auto"``: arrow BLAS at
    n_super ≥ ARROW_AUTO_CELLS via ``ivf_assign_arrow``, Catalyst
    below).

    ``rebalance=True`` additionally iterates ``ivf2_rebalance_hier``
    on the driver-side SUPER SAMPLE with the pro-rated per-cell bound
    (the ``ivf2_fit_sampled`` composition, closing the within-super
    cell skew the per-super ``k_s`` allocation cannot see — SCALE.md
    r10 named this follow-up). The sample must then resolve the skew
    signal: ``super_sample_n ≥`` the fitted cell count is enforced
    (below that, per-cell sample counts are sub-1 and every split
    would be noise). Rebalancing ADDS cells, so it is incompatible
    with an exact-``n_cells`` contract — callers that need exactly
    ``n_cells`` centers (``semantic_dedup_fit``) keep it off. Returns
    ``(centers, super_centers, children)`` with ``children[s]``
    contiguous ascending, like ``ivf2_fit_hier``."""
    import math

    id_field = [f for f in df.schema.fields if f.name == id_col]
    if not id_field:
        raise ValueError(f"id_col {id_col!r} not in schema — have {df.columns}")
    if id_field[0].dataType.simpleString() not in (
        "bigint", "int", "smallint", "tinyint"
    ):
        raise ValueError(
            f"id_col {id_col!r} must be integer-typed for the numpy-twin "
            f"md5 seeding, got {id_field[0].dataType.simpleString()}"
        )
    if super_sample_n < 1:
        raise ValueError(f"super_sample_n must be >= 1, got {super_sample_n}")
    if n_cells is not None and n_cells < 1:
        # validate BEFORE any distributed work, like the sibling fits
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    sel = df.select(
        F.col(f"`{id_col}`").alias("__id"),
        F.col(f"`{vec_col}`").cast("array<double>").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    if n_super is None:
        if n_cells is not None:
            # derive the super level from the SUPPLIED cell count — the
            # same rule as ivf2_fit_hier; sizing it from n_total would
            # both violate the exact-n_cells contract past toy scale
            # (apportion floors at one child per non-empty super) and
            # force the corpus count this path otherwise skips (r10
            # third review)
            n_super = _suggest_n_super(int(n_cells))
        else:
            if n_total is None:
                n_total = sel.count()
            n_super = _suggest_n_super(max(8, int(n_total) // int(target_cell)))
    if n_cells is not None:
        n_super = min(int(n_super), int(n_cells))
    if n_total is not None:
        if n_total == 0:
            raise ValueError("ivf2_fit_dist needs at least one vector")
        n_super = min(int(n_super), int(n_total))
    n_super = max(1, int(n_super))
    srows = _md5_sample_rows(sel, int(super_sample_n), n_total)
    if not srows:
        raise ValueError("ivf2_fit_dist needs at least one vector")
    dim = len(srows[0]["__v"])
    sids = np.array([r["__id"] for r in srows])
    sX = np.array([list(map(float, r["__v"])) for r in srows])
    if n_super > len(srows):
        raise ValueError(
            f"{n_super} supers need >= {n_super} sample rows, got "
            f"{len(srows)} — raise super_sample_n"
        )
    S = ivf_centers_numpy(sids, sX, n_super, super_iters)
    SC = [[float(x) for x in s] for s in S]
    # full-corpus super assignment (ragged rows gated out like the fits)
    body = sel.filter(F.size("__v") == dim)
    eng = _resolve_engine(engine, len(SC))
    if eng == "arrow":
        asg = ivf_assign_arrow(body, SC, "__v", "__super")
    else:
        asg = ivf_assign(body, SC, "__v", "__super")
    # ONE corpus scan: the count job below and the child-fit job both
    # consume asg — without a persist the second action recomputes the
    # whole scan + assignment from lineage (r10 verdict item 1).
    # DISK_ONLY: at the ≥10⁸-row regime the frame is N·dim doubles and
    # must not compete with executor memory; it is written and read
    # exactly once each.
    from pyspark import StorageLevel

    persisted = asg.persist(StorageLevel.DISK_ONLY)
    asg = persisted
    counts = {
        int(r["__super"]): int(r["count"])
        for r in asg.groupBy("__super").count().collect()
    }
    if n_cells is not None:
        cvec = np.zeros(len(SC), dtype=np.int64)
        for s_id, c_n in counts.items():
            cvec[s_id] = c_n
        alloc = _apportion(cvec, int(n_cells))
        k_map = {s_id: int(alloc[s_id]) for s_id in counts}
    else:
        k_map = {
            s: int(math.ceil(c / int(target_cell))) for s, c in counts.items()
        }
    if counts and max(counts.values()) > int(max_group_rows):
        from pyspark.sql import Window

        w = Window.partitionBy("__super").orderBy(
            F.md5(F.col("__id").cast("string")), F.col("__id")
        )
        asg = (
            asg.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(max_group_rows))
            .drop("__rn")
        )
    import pandas as pd

    block_entries = FIT_BLOCK_ENTRIES
    fit_iters = int(iters)

    def _fit_block(key, pdf):
        s = int(key[0])
        bids = pdf["__id"].to_numpy()
        bX = np.asarray([list(map(float, v)) for v in pdf["__v"]], dtype=np.float64)
        k_s = min(k_map[s], len(bids))
        if len(bids) * k_s > block_entries:
            take = _md5_take(bids, max(k_s, block_entries // k_s))
            bids, bX = bids[take], bX[take]
            k_s = min(k_s, len(bids))
        # selection (above) is by md5; FIT ORDER is ascending id — the
        # per-cell means sum in input order and shuffle fetch order is
        # nondeterministic on a real cluster (r10 advisor finding)
        order = np.argsort(bids, kind="stable")
        bids, bX = bids[order], bX[order]
        C = ivf_centers_numpy(bids, bX, k_s, fit_iters)
        return pd.DataFrame(
            {
                "__super": [s] * len(C),
                "__pos": list(range(len(C))),
                "__c": [[float(x) for x in c] for c in C],
            }
        )

    if rebalance:
        # the sample must RESOLVE per-cell skew: below one sample row
        # per fitted cell, every split decision would be noise (see
        # docstring). Checked before the fit job runs.
        expect_cells = int(sum(k_map.values()))
        if len(srows) < expect_cells:
            raise ValueError(
                f"rebalance=True needs super_sample_n >= the fitted "
                f"cell count ({expect_cells}), got {len(srows)} sample "
                f"rows — raise super_sample_n or rebalance separately"
            )
    try:
        fitted = (
            asg.groupBy("__super")
            .applyInPandas(_fit_block, "__super int, __pos int, __c array<double>")
            .collect()
        )
    finally:
        persisted.unpersist()
    if not fitted:
        # defensive: the first sample row always passes the dim gate
        # and the persist pins the rows both jobs see, so this fires
        # only when every row was gated ragged/empty. Fail with the
        # cause instead of returning a shape-(0,) center matrix that
        # breaks serving later.
        raise ValueError(
            f"no vectors of dim {dim} survived the fit gates — the "
            f"embeddings are ragged/empty"
        )
    fitted.sort(key=lambda r: (r["__super"], r["__pos"]))
    blocks = [[float(x) for x in r["__c"]] for r in fitted]
    children: list[list[int]] = [[] for _ in range(len(SC))]
    for i, r in enumerate(fitted):
        children[int(r["__super"])].append(i)
    centers = np.asarray(blocks, dtype=np.float64)
    supers_out = np.asarray(S, dtype=np.float64)
    if rebalance:
        # the ivf2_fit_sampled composition, on the super sample already
        # in memory: pro-rated bound (a cell holding its fair share of
        # the corpus holds ≈ sample/n_cells sample rows)
        sample_cell = max(1, int(np.ceil(len(srows) / max(1, len(centers)))))
        centers, supers_out, children = ivf2_rebalance_hier(
            sids, sX, centers, supers_out, children,
            target_cell=sample_cell, iters=fit_iters,
        )
    return centers, supers_out, children


def ivf2_fit_dist_numpy(
    ids: np.ndarray,
    X: np.ndarray,
    target_cell: int = 256,
    n_super: int | None = None,
    super_sample_n: int = 65536,
    iters: int = 5,
    super_iters: int = 5,
    max_group_rows: int = FIT_MAX_GROUP_ROWS,
    n_cells: int | None = None,
    rebalance: bool = False,
):
    """Driver-side numpy twin of ``ivf2_fit_dist`` — the same recipe
    decision for decision (md5-first super sample, super Lloyd, exact
    owner argmin, full-count child allocation with optional exact
    ``n_cells`` apportionment, md5 member cap, per-block
    ``FIT_BLOCK_ENTRIES`` subsample, ascending-id fit order, optional
    sample-side hier rebalance) so tests pin Spark ≡ numpy and the
    DuckDB oracle re-derives the model from the raw parquet without a
    SparkSession (the ``ivf_centers_numpy`` / ``ivf2_fit_hier``
    discipline). Assumes uniform-dim rows (the Spark side's ragged-row
    gate is a data-quality filter the oracle corpora never trip)."""
    import math

    ids = np.asarray(ids)
    X = np.asarray(X, dtype=np.float64)
    if len(ids) == 0:
        raise ValueError("ivf2_fit_dist_numpy needs at least one vector")
    if n_super is None:
        if n_cells is not None:
            n_super = _suggest_n_super(int(n_cells))
        else:
            n_super = _suggest_n_super(max(8, len(ids) // int(target_cell)))
    if n_cells is not None:
        n_super = min(int(n_super), int(n_cells))
    n_super = max(1, min(int(n_super), len(ids)))
    take = _md5_take(ids, min(int(super_sample_n), len(ids)))
    if n_super > len(take):
        raise ValueError(
            f"{n_super} supers need >= {n_super} sample rows, got "
            f"{len(take)} — raise super_sample_n"
        )
    S = ivf_centers_numpy(ids[take], X[take], n_super, super_iters)
    owner = _nearest_center_chunked(X, S)
    counts = np.bincount(owner, minlength=len(S))
    if n_cells is not None:
        alloc = _apportion(counts, int(n_cells))
    else:
        alloc = np.array(
            [int(math.ceil(c / int(target_cell))) if c else 0 for c in counts],
            dtype=np.int64,
        )
    blocks: list[np.ndarray] = []
    children: list[list[int]] = [[] for _ in range(len(S))]
    off = 0
    for s in range(len(S)):
        m = np.flatnonzero(owner == s)
        if len(m) == 0 or alloc[s] == 0:
            continue
        k_s = min(int(alloc[s]), len(m))
        if len(m) > int(max_group_rows):
            m = m[_md5_take(ids[m], int(max_group_rows))]
            k_s = min(k_s, len(m))
        if len(m) * k_s > FIT_BLOCK_ENTRIES:
            m = m[_md5_take(ids[m], max(k_s, FIT_BLOCK_ENTRIES // k_s))]
            k_s = min(k_s, len(m))
        # selection by md5 above; FIT ORDER ascending by id (the
        # _fit_block rule)
        m = m[np.argsort(ids[m], kind="stable")]
        sub = np.asarray(ivf_centers_numpy(ids[m], X[m], k_s, iters))
        blocks.append(sub)
        children[s] = list(range(off, off + len(sub)))
        off += len(sub)
    if not blocks:
        raise ValueError("no vectors survived the fit gates")
    centers = np.vstack(blocks)
    supers_out = np.asarray(S, dtype=np.float64)
    if rebalance:
        if len(take) < len(centers):
            raise ValueError(
                f"rebalance=True needs super_sample_n >= the fitted "
                f"cell count ({len(centers)}), got {len(take)} sample rows"
            )
        sample_cell = max(1, int(np.ceil(len(take) / max(1, len(centers)))))
        centers, supers_out, children = ivf2_rebalance_hier(
            ids[take], X[take], centers, supers_out, children,
            target_cell=sample_cell, iters=iters,
        )
    return centers, supers_out, children


def _suggest_n_super(n_cells: int) -> int:
    """The one super-level sizing rule — ~√n_cells, floor 2 — shared by
    ``ivf2_fit_numpy`` and ``ivf2_rebalance`` so a rebalanced model and
    a fresh fit of the same center count get the same super shape."""
    return max(2, int(round(float(n_cells) ** 0.5)))


def ivf2_rebalance(
    ids: np.ndarray,
    X: np.ndarray,
    centers,
    target_cell: int = 256,
    max_ratio: float = 2.0,
    iters: int = 5,
    n_super: int | None = None,
    super_iters: int = 5,
    max_rounds: int = 4,
):
    """Split oversized cells so candidate volume returns to design —
    the r9-named residual: Lloyd cells on a real corpus grow uneven
    (measured at sf10: 1162 candidates/query vs the designed
    nprobe·128 = 512, a 2.3× join-volume tax ALL probes of a hot cell
    pay). For every cell holding more than ``max_ratio · target_cell``
    of the fit sample, re-run the same deterministic Lloyd
    (``ivf_centers_numpy`` — md5-ordered init, 6-dp rounded centers)
    WITHIN the cell, splitting it into ``ceil(count/target_cell)``
    subcells; REPEAT until no cell breaches the bound (the per-cell
    Lloyd split is Voronoi, not size-balanced, and the global
    reassignment after a split can re-concentrate members — a single
    pass measured max cell 300 > 2·128 at sf10). The loop stops EARLY
    when a round makes no progress (max cell size not strictly
    decreasing): a cell of > bound IDENTICAL vectors is
    Voronoi-unsplittable — every sub-center seeds on the same point
    and first-index ties send all members to one — so iterating would
    only append duplicate empty centers while burning full distance
    matrices. ``max_rounds`` additionally caps slow-converging
    corpora. Either way the bound is BEST-EFFORT on such inputs
    (duplicate-heavy data should be exact-deduped first — dedup.py —
    which is the pipeline order anyway); then refit the super level
    over the final center
    matrix (center IDENTITY changes, so children must be re-derived —
    reusing the old supers would silently mis-route probes). Returns
    ``(centers, super_centers, children)`` — the same deterministic,
    oracle-re-derivable contract as ``ivf2_fit_numpy``, so twins can
    replay the split from the same sample. Like the fit, runs
    driver-side on the (hash-sampled at real scale) fit sample; the
    model is still just centers."""
    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(centers, dtype=np.float64)
    if target_cell < 1:
        raise ValueError(f"target_cell must be >= 1, got {target_cell}")
    if max_ratio < 1.0:
        raise ValueError(f"max_ratio must be >= 1, got {max_ratio}")
    prev_max = None
    for _ in range(max_rounds):
        # the same |v|²-less expansion argmin as ivf_assign/the oracle
        d = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        assign = d.argmin(axis=1)
        counts = np.bincount(assign, minlength=len(C))
        cur_max = int(counts.max())
        if cur_max <= max_ratio * target_cell:
            break
        if prev_max is not None and cur_max >= prev_max:
            # no progress: Voronoi-unsplittable mass (identical or
            # near-identical vectors) — stop rather than append
            # duplicate empty centers every round
            break
        prev_max = cur_max
        new_centers: list[np.ndarray] = []
        for c in range(len(C)):
            if counts[c] <= max_ratio * target_cell:
                new_centers.append(C[c : c + 1])
                continue
            members = np.flatnonzero(assign == c)
            k_c = int(np.ceil(len(members) / target_cell))
            sub = ivf_centers_numpy(ids[members], X[members], k_c, iters)
            new_centers.append(np.asarray(sub))
        C = np.vstack(new_centers)
    # drop EXACT-duplicate centers (keep the first occurrence, stable
    # order): a no-progress split of identical vectors leaves clone
    # centers that would sit at identical distance to every query and
    # waste probe slots on empty cells — removing later duplicates is
    # provably free (first-index argmin ties already picked the first)
    _, first_idx = np.unique(C, axis=0, return_index=True)
    C = C[np.sort(first_idx)]
    if n_super is None:
        n_super = _suggest_n_super(len(C))
    supers, children = ivf2_from_centers(C, n_super, super_iters)
    return C, supers, children


def ivf2_from_centers(centers, n_super: int, super_iters: int = 5):
    """Derive the SUPER level from an existing center matrix — the tail
    of ``ivf2_fit_numpy``, factored so a single-level model (e.g. an
    ``ivf_build_lloyd`` fit, or the oracle's numpy-twin centers) can be
    upgraded to two-level without refitting the base quantizer. Returns
    ``(super_centers, children)`` with ``children[s]`` ascending."""
    centers = np.asarray(centers, dtype=np.float64)
    n_cells = len(centers)
    super_centers = ivf_centers_numpy(
        np.arange(n_cells), centers, min(n_super, n_cells), super_iters
    )
    # nearest super per center: the same |c|²−2s·c expansion argmin,
    # ties to the first (lowest) super id
    d = (
        (super_centers * super_centers).sum(axis=1)[None, :]
        - 2.0 * centers @ super_centers.T
    )
    owner = d.argmin(axis=1)
    children = [
        [int(c) for c in np.flatnonzero(owner == s)]
        for s in range(len(super_centers))
    ]
    return super_centers, children


def _two_level_sorted_cells(
    v, centers, super_centers, children, p_super: int
):
    """Column: candidate cell ids sorted by (squared distance, id) —
    children of the ``p_super`` nearest super-cells only. Pure
    Catalyst over four literals (flattened centers/supers, their
    norms, the children map); per-row cost n_super + p_super·avg-child
    dots instead of n_cells."""
    ns, dim = len(super_centers), len(super_centers[0])
    sflat = lit_array([float(x) for s in super_centers for x in s])
    s2 = lit_array([float(sum(x * x for x in s)) for s in super_centers])
    cflat = lit_array([float(x) for c in centers for x in c])
    c2 = lit_array([float(sum(x * x for x in c)) for c in centers])
    kids_lit = lit_array([[int(c) for c in ch] for ch in children])
    sscore = F.transform(
        F.sequence(F.lit(0), F.lit(ns - 1)),
        lambda j: F.struct(
            (
                F.element_at(s2, j + 1)
                - 2.0 * _dot(v, F.slice(sflat, j * dim + 1, dim))
            ).alias("d"),
            j.alias("c"),
        ),
    )
    ssel = F.slice(
        F.transform(F.array_sort(sscore), lambda s: s["c"]), 1, p_super
    )
    kids = F.flatten(F.transform(ssel, lambda s: F.element_at(kids_lit, s + 1)))
    cscore = F.transform(
        kids,
        lambda j: F.struct(
            (
                F.element_at(c2, j + 1)
                - 2.0 * _dot(v, F.slice(cflat, j * dim + 1, dim))
            ).alias("d"),
            j.alias("c"),
        ),
    )
    return F.transform(F.array_sort(cscore), lambda s: s["c"])


def _two_level_probe_udf(
    centers, supers, children, p_super: int, take: int
):
    """Vectorized (Arrow/numpy) twin of ``_two_level_sorted_cells``:
    a pandas UDF returning each row's ``take`` nearest candidate cells.
    Why it exists: Catalyst higher-order functions (transform/zip_with/
    aggregate) evaluate INTERPRETED — measured ~8µs per dot-product
    element at sf10, i.e. ~1.5ms/row for a 196-center probe, which made
    the probe stage dominate the whole two-level build (SCALE.md r8).
    The same selection as BLAS matrix products runs ~100× faster; rows
    sharing a super-selection (the common case — locality) batch their
    child scoring into one matmul. Ties break by (distance, cell id)
    like the Catalyst version; absolute doubles differ in the last ulp
    (BLAS vs left-fold order), the standard Arrow-path trade."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(np.asarray(centers, dtype=np.float64))
    S = np.ascontiguousarray(np.asarray(supers, dtype=np.float64))
    c2 = (C * C).sum(axis=1)
    s2 = (S * S).sum(axis=1)
    kids_arr = [np.asarray(ch, dtype=np.int64) for ch in children]

    dim = C.shape[1]

    # annotations set as REAL objects after the def: this module has
    # `from __future__ import annotations`, which turns inline hints
    # into strings pandas_udf's eval-type inference cannot resolve
    def probe(col):
        rows_in = col.tolist()
        # NULL / wrong-length embeddings get an EMPTY probe list (the
        # Catalyst engine gates the same rows to NULL — see the
        # ivf2_assign/knn_pairs_2level F.when guards) instead of
        # letting np.asarray blow up the task on a ragged batch
        valid = [
            i for i, x in enumerate(rows_in)
            if x is not None and len(x) == dim
        ]
        out = [[] for _ in rows_in]
        if not valid:
            return pd.Series(out)
        V = np.asarray([rows_in[i] for i in valid], dtype=np.float64)
        ds = s2[None, :] - 2.0 * (V @ S.T)
        # p_super nearest supers; ties by super id (argsort is stable
        # over the id-ordered axis)
        sel = np.sort(np.argsort(ds, axis=1, kind="stable")[:, :p_super], axis=1)
        uniq, inv = np.unique(sel, axis=0, return_inverse=True)
        for g in range(len(uniq)):
            rows = np.flatnonzero(inv == g)
            kids = np.concatenate([kids_arr[s] for s in uniq[g]])
            if len(kids) == 0:
                continue
            # ascending kid order makes a STABLE argsort of the
            # distances alone equal the (distance, cell id) order —
            # and take=1 a plain vectorized argmin (first min = lowest
            # id), no per-row lexsort
            kids = np.sort(kids)
            dd = c2[kids][None, :] - 2.0 * (V[rows] @ C[kids].T)
            if take == 1:
                best = dd.argmin(axis=1)
                for i, r in enumerate(rows):
                    out[valid[r]] = [int(kids[best[i]])]
            else:
                for i, r in enumerate(rows):
                    order = np.argsort(dd[i], kind="stable")
                    out[valid[r]] = [int(kids[j]) for j in order[:take]]
        return pd.Series(out)

    probe.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(T.ArrayType(T.IntegerType()))(probe)


def ivf2_assign(
    df: DataFrame,
    centers,
    super_centers,
    children,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    p_super: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Two-stage assignment: nearest super-cells first, then the argmin
    over their children only — the build-side cost drops from
    N·n_cells to N·(n_super + p_super·avg-child) dots, which is what
    makes n_cells ∝ N affordable. ``p_super`` defaults to
    ``min(4, n_super)`` so the all-defaults flow works at any corpus
    size. Approximate in the standard IVF sense (boundary vectors may
    assign to a near-optimal cell); with ``p_super ==
    len(super_centers)`` it equals ``ivf_assign`` up to floating-point
    near-ties (the scores omit the per-row |v|² constant that
    ``ivf_assign`` adds — a tie would need two cells within one ulp of
    |v|², measure-zero on real-valued data; test-pinned on random
    embeddings).

    ``engine``: ``"catalyst"`` is the pure literal-expression
    path — no Python, deterministic left-fold doubles (the
    oracle-grade choice); ``"arrow"`` routes the selection through the
    vectorized pandas UDF — ~100× faster at large n_cells because
    Catalyst higher-order functions evaluate interpreted (measured,
    SCALE.md r8); last-ulp double differences at exact ties. The
    default ``"auto"`` picks arrow at ``n_cells >= ARROW_AUTO_CELLS``
    (catalyst below — every oracle-scale corpus), so the first-time
    sf10 user gets the fast path without knowing the lore."""
    ns = len(super_centers)
    if p_super is None:
        p_super = min(4, ns)
    if not 1 <= p_super <= ns:
        raise ValueError(f"p_super must be in 1..{ns}, got {p_super}")
    engine = _resolve_engine(engine, len(np.asarray(centers)))
    v = F.col(f"`{vec_col}`").cast("array<double>")
    C = [[float(x) for x in c] for c in np.asarray(centers)]
    S = [[float(x) for x in s] for s in np.asarray(super_centers)]
    dim = len(C[0]) if C else 0
    if engine == "arrow":
        probe = _two_level_probe_udf(C, S, children, p_super, take=1)
        # F.get, not element_at: a NULL/ragged embedding probes to an
        # EMPTY list, and ANSI element_at raises on out-of-bounds where
        # get null-propagates (matching the Catalyst path's nulls)
        return df.withColumn(cell_col, F.get(probe(v), 0).cast("int"))
    # explicit NULL/dim gate: without it a NULL or wrong-length
    # embedding yields NULL distances but the struct sort still emits
    # REAL cell ids, silently assigning bad rows to cell 0 — diverging
    # from both the arrow path (empty probe → NULL) and single-level
    # ivf_assign (NULL). F.get, not element_at: ANSI element_at raises
    # on an empty candidate list (a super owning zero children).
    cells = _two_level_sorted_cells(v, C, S, children, p_super)
    cell = F.when(
        v.isNotNull() & (F.size(v) == F.lit(dim)), F.get(cells, 0)
    ).cast("int")
    return df.withColumn(cell_col, cell)


def knn_pairs_2level(
    assigned: DataFrame,
    centers,
    super_centers,
    children,
    k: int = 10,
    nprobe: int = 8,
    p_super: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    engine: str = "auto",
    score_engine: str = "auto",
    shortlist: int | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """k-NN graph with two-level probe selection — the constant-cell
    companion of ``knn_pairs``: each query scores n_super supers +
    p_super supers' children instead of every cell, then explodes its
    ``nprobe`` nearest candidate cells into the same bounded equi-join
    (one hash shuffle ∝ cell size × nprobe — with n_cells ∝ N the
    join volume is LINEAR in N) and a per-query top-k window. With
    ``p_super == len(super_centers)`` the probe list equals the
    single-level ``knn_pairs`` order (test-pinned, modulo the |v|²
    near-tie caveat on ``ivf2_assign``); smaller ``p_super`` trades
    recall for the √n_cells scoring cut; the default is
    ``min(4, n_super)``. ``engine="arrow"`` vectorizes the probe
    selection (see ``ivf2_assign``); ``score_engine="arrow"`` scores
    the join's candidate pairs with the BLAS UDF instead of the
    interpreted zip_with fold — the measured sf10 residual. Both
    default to ``"auto"`` (arrow at ``n_cells >= ARROW_AUTO_CELLS``,
    catalyst below — every oracle-scale corpus), so the sf10
    first-timer lands on the fast path and oracle-grade runs keep
    deterministic left-fold doubles."""
    ns = len(super_centers)
    if p_super is None:
        p_super = min(4, ns)
    if not 1 <= p_super <= ns:
        raise ValueError(f"p_super must be in 1..{ns}, got {p_super}")
    n_cells = len(np.asarray(centers))
    engine = _resolve_engine(engine, n_cells)
    if score_engine not in ("int8", "pq"):
        # int8/pq are explicit-only: they change the result contract
        # (shortlist-truncated approximate), so "auto" never picks them
        score_engine = _resolve_engine(score_engine, n_cells)
    C = [[float(x) for x in c] for c in np.asarray(centers)]
    S = [[float(x) for x in s] for s in np.asarray(super_centers)]
    if not 1 <= nprobe <= len(C):
        raise ValueError(f"nprobe must be in 1..{len(C)}, got {nprobe}")
    v = F.col(f"`{vec_col}`").cast("array<double>")
    if engine == "arrow":
        pu = _two_level_probe_udf(C, S, children, p_super, take=nprobe)
        probes = pu(v)
    else:
        # same NULL/dim gate as ivf2_assign: ungated, a NULL/ragged
        # query embedding would probe real cells (NULL distances sort
        # as real ids) and emit bogus edges; gated, the NULL probe list
        # explodes to nothing — matching the arrow path's empty list
        dim = len(C[0]) if C else 0
        probes = F.when(
            v.isNotNull() & (F.size(v) == F.lit(dim)),
            F.slice(
                _two_level_sorted_cells(v, C, S, children, p_super), 1, nprobe
            ),
        )
    return _knn_join_topk(
        assigned, probes, k, vec_col, id_col, cell_col, score_engine,
        shortlist, codebooks,
    )


def ivf_build_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    iters: int = 5,
    dim: int | None = None,
):
    """Fit an IVF coarse quantizer with ``iters`` Lloyd steps, fully
    deterministic and engine-reproducible (see module comment above).
    Returns ``(assigned_df with cell_col, centers ndarray)`` like
    ``ivf_build``. Empty cells keep their previous center."""
    if dim is None:
        dim = len(df.select(F.col(vec_col)).first()[0])
    centers = ivf_init_centers(df, vec_col, id_col, n_cells)
    n_cells = len(centers)  # fewer vectors than requested cells
    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        assigned = ivf_assign(df, centers, vec_col)
        means = (
            assigned.groupBy("ivf_cell")
            .agg(*[F.avg(v[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        new = {
            int(r["ivf_cell"]): [round(float(r[f"m{i}"]), 6) for i in range(dim)]
            for r in means
        }
        centers = [new.get(c, centers[c]) for c in range(n_cells)]
    return ivf_assign(df, centers, vec_col), np.array(centers)


IVF_MANIFEST = "_zx_ivf_manifest.json"


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through Hadoop's FileSystem API — works on
    every scheme the session can read (file:, s3a:, gs:, abfs:, hdfs:),
    unlike ``open()``. The leading underscore in the manifest name keeps
    Spark's parquet reader from treating it as data."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def _centers_sha(centers) -> str:
    """16-hex fingerprint of the leaf centers (float64 bytes). Recorded
    in the manifest so append/serve can fail fast when handed a store
    built under a DIFFERENT quantizer — the silent failure mode is
    vectors routed to cells the probe never visits (recall quietly
    collapses, no error). Leaf centers only: the two-level
    supers/children derive from them in every fit path here."""
    import hashlib

    a = np.ascontiguousarray(np.asarray(centers, dtype=np.float64))
    return hashlib.sha256(a.tobytes()).hexdigest()[:16]


def _write_manifest_obj(spark, base: str, man: dict) -> None:
    """Serialize + write the manifest, then refresh the parsed-manifest
    memo under the NEW modification time — two writes inside one mtime
    granule (fast test suites, same-ms rewrites) must not leave a stale
    parse keyed to an unchanged mtime."""
    import json as _json

    fpath = f"{base}/{IVF_MANIFEST}"
    _fs_write_text(spark, fpath, _json.dumps(man))
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(fpath)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        mtime = int(fs.getFileStatus(hpath).getModificationTime())
        _MANIFEST_CACHE[fpath] = (mtime, man)
    except Exception:
        _MANIFEST_CACHE.pop(fpath, None)


def write_ivf_manifest(
    spark,
    path: str,
    cell_col: str = "ivf_cell",
    super_col: str | None = None,
    centers=None,
) -> dict:
    """Write the store's serving manifest (``_zx_ivf_manifest.json``):
    one entry per non-empty cell — its super (when hierarchical), row
    count, and parquet file count — derived from ONE read-back
    aggregation over the partition columns + file names (the scan
    materializes no data columns). ``ivf_topk_batch_store`` resolves
    probed directories from this instead of per-directory existence
    checks, so the direct path works on object stores (where LIST is
    metered and ``os.path.exists`` is meaningless) and the full-tree
    listing cost is paid ONCE at write time, by the writer that already
    owns the tree — not by the first serving batch (the measured 149 s
    first-listing at 2×10⁵ cells, SCALE.md r13).

    Per-cell file counts (manifest v2) drive ``ivf_store_compact``: the
    append path (``ivf_store_append``) accretes ≥1 file per touched
    cell per micro-batch, and the manifest is what lets compaction pick
    its victims WITHOUT listing a 10⁵-10⁶-directory tree. ``centers``
    (optional) records a fingerprint of the coarse quantizer so later
    appends/serves can reject a mismatched model instead of silently
    mis-routing vectors.

    Standalone entry point so pre-manifest (or v1) stores can be
    upgraded in place; returns the manifest dict."""

    cols = [cell_col] if super_col is None else [super_col, cell_col]
    rows = (
        spark.read.parquet(path)
        # project the (nondeterministic) file name BEFORE the aggregate —
        # Spark only allows it in a Project
        .select(*cols, F.input_file_name().alias("__f"))
        .groupBy(*cols)
        .agg(
            F.count(F.lit(1)).alias("__rows"),
            F.countDistinct("__f").alias("__files"),
        )
        .collect()
    )
    cells = {
        str(int(r[cell_col])): {
            "super": int(r[super_col]) if super_col is not None else None,
            "rows": int(r["__rows"]),
            "files": int(r["__files"]),
        }
        for r in rows
        if r[cell_col] is not None
    }
    man = {
        "version": 2,
        "cell_col": cell_col,
        "super_col": super_col,
        "n_cells": len(cells),
        "cells": cells,
    }
    if centers is not None:
        man["centers_sha"] = _centers_sha(centers)
    _write_manifest_obj(spark, path.rstrip("/"), man)
    return man


# parsed-manifest memo keyed by (path, file modification time): a
# 2×10⁵-cell manifest is ~10 MB of JSON — re-parsing it per serving
# batch would tax every batch ~4% for a file that changes only when the
# store is rewritten (the mtime key invalidates on rewrite).
_MANIFEST_CACHE: dict[str, tuple[int, dict]] = {}


def read_ivf_manifest(spark, path: str) -> dict | None:
    """The store's serving manifest, or None for a pre-manifest store
    (callers fall back to local-filesystem directory checks). Parsed
    once per (path, modification time) — repeated serving batches hit
    the memo."""
    import json as _json

    fpath = f"{path.rstrip('/')}/{IVF_MANIFEST}"
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(fpath)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        mtime = int(fs.getFileStatus(hpath).getModificationTime())
        hit = _MANIFEST_CACHE.get(fpath)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        stream = fs.open(hpath)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    except Exception:
        return None
    man = _json.loads(text) if text else None
    if man is not None:
        _MANIFEST_CACHE[fpath] = (mtime, man)
    return man


def write_ivf_store(
    assigned: DataFrame,
    path: str,
    cell_col: str = "ivf_cell",
    super_col: str | None = None,
    manifest: bool = True,
    centers=None,
) -> None:
    """Persist an IVF-assigned vector table partitioned by cell — the
    layout that turns ``ivf_topk``'s ``nprobe`` cell filter into Parquet
    PARTITION PRUNING: a probe reads only nprobe/n_cells of the 100 TB
    store (plan-asserted in tests/test_llm_pipeline.py).

    With ``super_col`` (annotate via ``with_super_col``) the layout is
    hierarchical — ``super=<s>/cell=<c>/`` — so at n_cells ∝ N scale
    (10^5-10^6 leaf dirs) the catalog lists ~√n_cells top-level
    directories and only the probed supers' children; the probe's cell
    filter still prunes exactly as before.

    ``manifest`` (default) also writes ``_zx_ivf_manifest.json`` (see
    ``write_ivf_manifest``) so the direct serving path resolves probed
    directories without touching the filesystem — required for object
    stores, and it moves the one full-tree listing to write time.
    Pass ``centers`` to record the quantizer fingerprint in it —
    ``ivf_store_append`` / ``ivf_topk_batch_store`` then reject a
    mismatched model instead of silently mis-routing."""
    cols = [cell_col] if super_col is None else [super_col, cell_col]
    assigned.write.mode("overwrite").partitionBy(*cols).parquet(path)
    if manifest:
        write_ivf_manifest(
            assigned.sparkSession, path, cell_col=cell_col,
            super_col=super_col, centers=centers,
        )


def read_ivf_store(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _cell_dir(base: str, cell_col: str, super_col, c, sup) -> str:
    if super_col is not None:
        return f"{base}/{super_col}={sup}/{cell_col}={c}"
    return f"{base}/{cell_col}={c}"


def _recount_cells(spark, base: str, cols, cell_col: str, dirs) -> dict:
    """Ground-truth (rows, files) per cell for exactly the given cell
    directories — the O(touched-cells) read-back that keeps manifest
    maintenance incremental. basePath preserves the partition columns."""
    got = (
        spark.read.option("basePath", base)
        .parquet(*dirs)
        .select(*cols, F.input_file_name().alias("__f"))
        .groupBy(*cols)
        .agg(
            F.count(F.lit(1)).alias("__rows"),
            F.countDistinct("__f").alias("__files"),
        )
        .collect()
    )
    return {
        int(r[cell_col]): {
            "super": int(r[cols[0]]) if len(cols) == 2 else None,
            "rows": int(r["__rows"]),
            "files": int(r["__files"]),
        }
        for r in got
        if r[cell_col] is not None
    }


def ivf_store_append(
    assigned: DataFrame,
    path: str,
    cell_col: str = "ivf_cell",
    super_col: str | None = None,
    centers=None,
    coalesce_batch: bool = True,
    epoch_id: int | None = None,
) -> dict:
    """Append newly-assigned vectors to a live ``write_ivf_store``
    layout — the serving store's ingest path, so a store fitted once
    keeps absorbing data without the full refit + rewrite
    (``ivf_assign`` new vectors with the STORE'S centers, annotate
    supers via ``with_super_col`` for hierarchical layouts, then call
    this).

    Scale shape — **everything is O(the appended batch)**: the parquet
    append touches only the cells the new vectors land in, and the
    manifest update is derived from ONE aggregate over the batch itself
    — rows per cell, plus files per cell as the count of distinct Spark
    partitions holding that cell (the partitioned writer emits exactly
    one file per (task, cell value) pair). Nothing re-reads the store:
    a uniformly-distributed batch touches nearly EVERY cell of an
    n_cells ∝ N store, so any per-touched-directory disk pass would
    degenerate into a full-store scan per append. The batch frame must
    be deterministic across the two actions (count, then write) — same
    contract as ``storage.merge_upsert``'s pre-write counts; checkpoint
    nondeterministic lineages first. New cells (a cell whose first
    vectors arrive late) are folded in; a cell arriving under a
    different super than the manifest records fails fast — that is two
    directories claiming one cell, i.e. an assignment run under a
    different hierarchy.

    ``coalesce_batch`` (default) pre-shuffles the batch on the layout's
    top partition column (super when hierarchical, else cell) — a
    partition value then lands in exactly one task, so every touched
    cell gains exactly ONE file per append instead of one per upstream
    partition holding it (measured 4.6 files/cell/batch without it:
    file accretion is the lifecycle's dominant tax, and one O(batch)
    shuffle per micro-batch is the cheapest place to pay it down). The
    same key choice as ``write_ivf_store``'s build-path shuffle.

    ``epoch_id`` makes replayed appends idempotent for MONOTONIC batch
    ids (Structured Streaming's ``foreachBatch`` batchId, the
    ``ivf_store_sink`` path): an id at or below the manifest's
    ``ingest_epoch`` high-water mark is skipped (``{"skipped": True}``),
    an id above it appends and advances the mark. O(1) state — no
    per-epoch ledger to grow over a stream's lifetime — but it REQUIRES
    one monotonic writer (the single-writer contract this store already
    carries).

    Crash contract: the manifest is written AFTER a successful append
    and is the direct serving path's source of truth — a crash between
    the two leaves the new files invisible to ``ivf_topk_batch_store``
    for NEW cells, but files landing in already-manifested cell
    directories ARE served (directory reads), so a crash-replayed epoch
    in that window can duplicate rows until healed. Heal by re-running
    ``write_ivf_manifest`` (one full-tree recount) plus an id-level
    dedup if exactness matters — the same at-least-once edge every
    non-transactional ``foreachBatch`` sink carries.

    ``centers`` (or a manifest fingerprint from ``write_ivf_store``)
    guards the silent killer: appending vectors assigned under a
    DIFFERENT quantizer routes them to cells the probe never visits —
    recall collapses with no error. When both fingerprints exist and
    differ, this raises.

    Concurrency contract matches the other maintenance ops
    (``compact_store`` / ``merge_upsert``): one writer at a time; a
    transactional table format is the 100 TB answer for concurrent
    writers. Returns ``{rows_appended, cells_touched, cells_new}``."""
    spark = assigned.sparkSession
    base = path.rstrip("/")
    cols = [cell_col] if super_col is None else [super_col, cell_col]
    missing = [c for c in cols if c not in assigned.columns]
    if missing:
        raise ValueError(
            f"assigned frame is missing layout columns {missing} — "
            "run ivf_assign (and with_super_col for hierarchical stores) "
            "with the store's own model first"
        )
    man = read_ivf_manifest(spark, base)
    if man is not None:
        if man.get("cell_col") != cell_col or man.get("super_col") != super_col:
            raise ValueError(
                f"store manifest records layout ({man.get('cell_col')!r}, "
                f"{man.get('super_col')!r}) but caller passed ({cell_col!r}, "
                f"{super_col!r}) — mismatched layout"
            )
        if centers is not None and man.get("centers_sha") is not None:
            got = _centers_sha(centers)
            if got != man["centers_sha"]:
                raise ValueError(
                    f"quantizer mismatch: store manifest records centers "
                    f"{man['centers_sha']} but caller's centers hash to "
                    f"{got} — appending would route vectors to cells the "
                    "probe never visits"
                )
        if (
            epoch_id is not None
            and man.get("ingest_epoch") is not None
            and epoch_id <= man["ingest_epoch"]
        ):
            return {
                "rows_appended": 0, "cells_touched": 0, "cells_new": 0,
                "skipped": True, "epoch_id": epoch_id,
            }
    if coalesce_batch:
        key = super_col if super_col is not None else cell_col
        assigned = assigned.repartition(
            max(1, spark.sparkContext.defaultParallelism), key
        )
    # one aggregate over the batch: per-cell row counts + the number of
    # Spark partitions holding each cell == the number of files the
    # partitioned writer will emit for it (one per (task, cell value));
    # nondeterministic spark_partition_id must be projected before the
    # aggregate, same rule as input_file_name
    touched = [
        r
        for r in (
            assigned.select(*cols, F.spark_partition_id().alias("__p"))
            .groupBy(*cols)
            .agg(
                F.count(F.lit(1)).alias("__rows"),
                F.countDistinct("__p").alias("__files"),
            )
            .collect()
        )
        if r[cell_col] is not None
    ]
    if not touched:
        return {"rows_appended": 0, "cells_touched": 0, "cells_new": 0}
    new_cells = 0
    if man is not None:
        entries = man["cells"]
        for r in touched:
            e = entries.get(str(int(r[cell_col])))
            if e is None:
                new_cells += 1
            elif super_col is not None and e["super"] != int(r[super_col]):
                raise ValueError(
                    f"cell {int(r[cell_col])} arrives under super "
                    f"{int(r[super_col])} but the store has it under "
                    f"{e['super']} — assignment ran under a different "
                    "hierarchy"
                )
    assigned.write.mode("append").partitionBy(*cols).parquet(base)
    rows_appended = sum(int(r["__rows"]) for r in touched)
    from ..storage import invalidate_stats
    if man is None:
        # pre-manifest store: upgrade in place (one full-tree pass —
        # the price the initial writer skipped, paid once here)
        man = write_ivf_manifest(spark, base, cell_col=cell_col,
                                 super_col=super_col, centers=centers)
        if epoch_id is not None:
            man["ingest_epoch"] = int(epoch_id)
            _write_manifest_obj(spark, base, man)
        invalidate_stats(spark, base)
        return {
            "rows_appended": rows_appended,
            "cells_touched": len(touched),
            "cells_new": new_cells,
        }
    for r in touched:
        key = str(int(r[cell_col]))
        e = man["cells"].get(key)
        if e is None:
            e = man["cells"][key] = {
                "super": int(r[super_col]) if super_col is not None else None,
                "rows": 0,
                "files": 0,
            }
        e["rows"] += int(r["__rows"])
        # v1-manifest cells have no file count; leave them uncounted —
        # ivf_store_compact upgrades such manifests before thresholding
        if "files" in e:
            e["files"] += int(r["__files"])
    man["n_cells"] = len(man["cells"])
    if epoch_id is not None:
        man["ingest_epoch"] = int(epoch_id)
    _write_manifest_obj(spark, base, man)
    invalidate_stats(spark, base)
    return {
        "rows_appended": rows_appended,
        "cells_touched": len(touched),
        "cells_new": new_cells,
    }


def ivf_store_compact(
    spark,
    path: str,
    max_files_per_cell: int = 1,
    cell_col: str = "ivf_cell",
    super_col: str | None = None,
) -> dict:
    """Compact the cells of a ``write_ivf_store`` layout whose file
    count exceeds ``max_files_per_cell`` back to one file each —
    the maintenance half of ``ivf_store_append``: every appended
    micro-batch adds ≥1 parquet file per touched cell, and a serving
    probe's cost becomes file-open overhead instead of I/O once hot
    cells hold hundreds of KB-sized files (same disease
    ``storage.compact_store`` treats, but a full-store rewrite is the
    WRONG tool here — a 100 TB store must pay only for the cells its
    ingest actually touched).

    Scale shape — **manifest-driven and touched-cell-only**: victims
    come from the manifest's per-cell file counts (no tree listing),
    the read addresses only their directories (``basePath``), one
    shuffle hash-partitions rows by cell (each cell's rows land in one
    task → exactly one output file; cell size is bounded by the
    quantizer's target-cell design, so no task funnels more than a few
    hundred rows), and the write uses dynamic partition overwrite —
    only the rewritten ``cell=`` directories are replaced, each
    atomically at commit. Rows per rewritten cell are re-counted from
    disk and checked against the manifest before it is updated.

    v1 manifests (no file counts) and pre-manifest stores are upgraded
    in place first (one full-tree aggregation). Same single-writer
    contract as the other maintenance ops. Returns
    ``{cells_rewritten, files_before, files_after, rows}``."""
    base = path.rstrip("/")
    man = read_ivf_manifest(spark, base)
    if man is None or any(
        "files" not in e for e in man.get("cells", {}).values()
    ):
        if man is not None:
            cell_col, super_col = man["cell_col"], man.get("super_col")
        man = write_ivf_manifest(
            spark, base, cell_col=cell_col, super_col=super_col
        )
    else:
        cell_col, super_col = man["cell_col"], man.get("super_col")
    cols = [cell_col] if super_col is None else [super_col, cell_col]
    hot = {
        int(c): e
        for c, e in man["cells"].items()
        if e["files"] > max_files_per_cell
    }
    if not hot:
        return {"cells_rewritten": 0, "files_before": 0, "files_after": 0,
                "rows": 0}
    dirs = [
        _cell_dir(base, cell_col, super_col, c, e["super"])
        for c, e in hot.items()
    ]
    n_tasks = min(
        len(hot), max(1, spark.sparkContext.defaultParallelism * 2)
    )
    (
        spark.read.option("basePath", base)
        .parquet(*dirs)
        # the exchange materializes the source into shuffle files, so
        # the write stage never re-reads directories it is replacing
        # (same read-own-path discipline as storage.merge_upsert)
        .repartition(n_tasks, *[F.col(c) for c in cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(base)
    )
    fresh = _recount_cells(spark, base, cols, cell_col, dirs)
    bad = {
        c: (hot[c]["rows"], fresh.get(c, {}).get("rows"))
        for c in hot
        if fresh.get(c, {}).get("rows") != hot[c]["rows"]
    }
    if bad:
        some = dict(list(bad.items())[:4])
        raise RuntimeError(
            f"compaction row-count mismatch on {len(bad)} cell(s) "
            f"(cell: (before, after)) {some} — store left as written, "
            "manifest NOT updated; investigate before serving"
        )
    for c, e in fresh.items():
        man["cells"][str(c)] = e
    _write_manifest_obj(spark, base, man)
    from ..storage import invalidate_stats
    invalidate_stats(spark, base)
    return {
        "cells_rewritten": len(hot),
        "files_before": sum(e["files"] for e in hot.values()),
        "files_after": sum(e["files"] for e in fresh.values()),
        "rows": sum(e["rows"] for e in fresh.values()),
    }


def ivf_store_health(
    man: dict,
    target_cell: int | None = None,
    split_factor: float = 2.0,
    max_files_per_cell: int = 4,
) -> dict:
    """Diagnose a serving store from its MANIFEST alone — zero scans,
    zero listings: ingest (``ivf_store_append`` / ``ivf_store_sink``)
    shifts the data distribution under a FROZEN quantizer, cells grow
    unevenly, and a probe's expected read is SIZE-BIASED (a query lands
    in a cell with probability ∝ its size, so the expected probed-cell
    size is Σ size²/N — the r9 measurement that made ``ivf2_rebalance``
    halve sf10 serving). The manifest already holds every cell's rows
    and file count, so the whole diagnosis is a driver-side fold over
    ~n_cells dict entries.

    Returns rows/cells/file aggregates plus:
    - ``size_bias``: Σ size²/(N·mean) — expected probed-cell size as a
      multiple of the balanced case (1.0 = balanced; the read
      amplification a rebalance would reclaim),
    - ``hot_cells``: cells above ``split_factor``×target (target =
      ``target_cell`` or the store's own mean) — ``ivf2_rebalance``
      victims at next refit,
    - ``fragmented_cells``: cells above ``max_files_per_cell`` —
      ``ivf_store_compact`` victims now,
    - ``recommend_compact`` / ``recommend_rebalance`` booleans (the
      second also trips when size_bias > split_factor).

    Pair with ``read_ivf_manifest``. Never raises: v1 manifest entries
    lack ``files``, so the fragmentation fields degrade to None
    (upgrade via ``write_ivf_manifest`` to get them)."""
    cells = man.get("cells", {})
    if not cells:
        return {"rows": 0, "n_cells": 0, "size_bias": 1.0, "hot_cells": [],
                "fragmented_cells": None, "recommend_compact": False,
                "recommend_rebalance": False}
    sizes = {c: e["rows"] for c, e in cells.items()}
    n = sum(sizes.values())
    mean = n / len(sizes)
    target = float(target_cell) if target_cell else mean
    size_bias = sum(s * s for s in sizes.values()) / (n * mean) if n else 1.0
    hot = sorted(
        (c for c, s in sizes.items() if s > split_factor * target),
        key=lambda c: -sizes[c],
    )
    has_files = all("files" in e for e in cells.values())
    frag = (
        sorted(
            (c for c, e in cells.items() if e["files"] > max_files_per_cell),
            key=lambda c: -cells[c]["files"],
        )
        if has_files
        else None
    )
    return {
        "rows": n,
        "n_cells": len(sizes),
        "mean_cell_rows": round(mean, 1),
        "max_cell_rows": max(sizes.values()),
        "size_bias": round(size_bias, 3),
        "hot_cells": hot,
        "files": sum(e["files"] for e in cells.values()) if has_files else None,
        "max_files_per_cell": (
            max(e["files"] for e in cells.values()) if has_files else None
        ),
        "fragmented_cells": frag,
        "recommend_compact": bool(frag),
        "recommend_rebalance": bool(hot) or size_bias > split_factor,
    }


def _read_probed_cells(
    spark,
    base: str,
    all_cells,
    centers,
    cell_col: str = "ivf_cell",
    super_col: str = "ivf_super",
    supers=None,
    children=None,
) -> DataFrame:
    """Shared direct-path resolution for the store serving entry points
    (``ivf_topk_batch_store`` / ``ivfpq_topk_store``): turn a probed
    cell set into a DataFrame over EXACTLY those cells' directories.
    Resolution comes from the store manifest when present (object-store
    safe, O(probed cells) planning, quantizer fingerprint checked),
    else falls back to POSIX directory checks; raises when no probed
    directory exists. ``basePath`` keeps the partition columns."""
    import os

    man = read_ivf_manifest(spark, base)
    if man is not None:
        if man.get("cell_col") != cell_col:
            raise ValueError(
                f"store manifest records cell_col={man.get('cell_col')!r} "
                f"but caller passed {cell_col!r} — mismatched layout"
            )
        if man.get("centers_sha") is not None:
            got_sha = _centers_sha(centers)
            if got_sha != man["centers_sha"]:
                raise ValueError(
                    f"quantizer mismatch: store manifest records centers "
                    f"{man['centers_sha']} but the serving centers hash to "
                    f"{got_sha} — probes would visit the wrong cells "
                    "(recall silently collapses); serve with the store's "
                    "own model"
                )
        msuper = man.get("super_col")
        entries = man.get("cells", {})
        dirs = []
        for c in all_cells:
            e = entries.get(str(c))
            if e is None:
                continue  # empty cell: the writer emitted no directory
            if msuper is not None:
                dirs.append(f"{base}/{msuper}={e['super']}/{cell_col}={c}")
            else:
                dirs.append(f"{base}/{cell_col}={c}")
    elif supers is not None:
        owner = super_of_cells(children, len(np.asarray(centers)))
        dirs = [
            f"{base}/{super_col}={owner[c]}/{cell_col}={c}" for c in all_cells
        ]
        dirs = [d for d in dirs if os.path.exists(d)]
    else:
        dirs = [f"{base}/{cell_col}={c}" for c in all_cells]
        dirs = [d for d in dirs if os.path.exists(d)]
    if not dirs:
        raise ValueError(
            f"none of the {len(all_cells)} probed cell directories exist "
            f"under {base!r} — wrong store layout (write with "
            "write_ivf_store) or a model fitted on different data"
        )
    return spark.read.option("basePath", base).parquet(*dirs)


def ivf_topk_batch_store(
    spark,
    path: str,
    centers,
    query_vecs: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
    supers=None,
    children=None,
    p_super: int | None = None,
    cell_col: str = "ivf_cell",
    super_col: str = "ivf_super",
    where: Column | None = None,
    engine: str = "catalyst",
) -> DataFrame:
    """``ivf_topk_batch`` straight off a ``write_ivf_store`` layout,
    addressing ONLY the probed cells' directories. ``where`` filters the
    probed rows before scoring (``ivf_topk_batch`` semantics) — ON TOP
    of the directory pruning, so a metadata-filtered vector query reads
    the probed sliver and Parquet-skips within it.

    Why this exists (SCALE.md r13): reading the whole store and letting
    the cell filter partition-prune is CORRECT, but the DataFrame's file
    index still lists the full partition tree — measured 149 s for the
    first listing of a 2×10⁵-cell store on a plain filesystem, plus a
    ~30 s fixed pruning pass per batch. Building the read from the
    probed ``super=<s>/cell=<c>`` paths (``basePath`` keeps the
    partition columns) makes planning O(probed cells) — the
    metastore-free way to keep per-batch cost ∝ the probe, not the
    catalog. Values identical to ``ivf_topk_batch`` over the full store
    (the directories ARE the cell filter; test-pinned).

    Probed directories are resolved from the store's manifest
    (``_zx_ivf_manifest.json``, written by ``write_ivf_store``) when one
    exists — no filesystem probing at all, so the direct path works on
    any scheme the session can read (object stores included) and empty
    probed cells are skipped by lookup. Pre-manifest stores fall back to
    local ``os.path.exists`` checks per probed directory (POSIX-only;
    upgrade in place with ``write_ivf_manifest``). Raises if NO probed
    cell exists in either resolution. ``engine``: see ``ivf_topk_batch``
    — measured at 5×10⁷, ``arrow`` serves ~3× catalyst's throughput."""
    if not query_vecs:
        raise ValueError("ivf_topk_batch_store needs at least one query vector")
    all_cells = sorted(
        {
            c
            for q in query_vecs
            for c in _serving_probe(centers, q, nprobe, supers, children, p_super)
        }
    )
    base = path.rstrip("/")
    pruned = _read_probed_cells(
        spark, base, all_cells, centers,
        cell_col=cell_col, super_col=super_col,
        supers=supers, children=children,
    )
    # the probed-cell filter inside ivf_topk_batch is now redundant with
    # the directory list but harmless (partition-column filter); the
    # hierarchy still routes each query's own probe selection
    return ivf_topk_batch(
        pruned,
        centers,
        query_vecs,
        vec_col=vec_col,
        id_col=id_col,
        k=k,
        nprobe=nprobe,
        supers=supers,
        children=children,
        p_super=p_super,
        where=where,
        engine=engine,
        cell_col=cell_col,
    )


def ivfpq_topk_store(
    spark,
    path: str,
    centers,
    codebooks: list,
    query: list[float],
    k_results: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    super_col: str = "ivf_super",
    supers=None,
    children=None,
    p_super: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """``ivfpq_topk`` straight off a ``write_ivf_store`` layout holding
    the PQ CODES (``pq_encode(assigned, books, keep_cols=[...])``,
    partitioned like any IVF store) — the memory-bound serving rung on
    the direct path: ONE pruned read of the probed cells' directories
    (manifest-resolved, O(probed cells) planning — see
    ``ivf_topk_batch_store``) feeds both the ADC scoring pass and, when
    the store also kept the raw vectors, the exact-cosine re-rank of
    the shortlist; the re-rank's candidate lookup is already pruned to
    the probed cells by construction.

    A codes-only store (written with ``keep_vectors=False`` semantics —
    no ``vec_col`` column) serves pure-ADC: the returned frame is the
    ADC top-``k_results`` (``score`` = the negated asymmetric distance
    surrogate from ``pq_topk``), the 4·d/m× smaller store trading the
    re-rank's exactness for memory — same contract as ``pq_topk``.

    Store both codes and vectors when the layout budget allows: the
    store is then one tree serving every rung (``ivf_topk_batch_store``
    for full-precision, this for compressed + re-rank).

    ``residual=True`` for stores encoded from ``with_residuals`` output
    — the default recommendation for every PQ store (see
    ``ivfpq_topk``; measured 3× shortlist recall on clustered data,
    SCALE.md r14)."""
    cells = [
        int(c)
        for c in _serving_probe(centers, query, nprobe, supers, children, p_super)
    ]
    pruned = _read_probed_cells(
        spark, path.rstrip("/"), sorted(set(cells)), centers,
        cell_col=cell_col, super_col=super_col,
        supers=supers, children=children,
    )
    if vec_col not in pruned.columns:
        return pq_topk(
            pruned, codebooks, query, k_results, id_col, codes_col,
            cell_col=cell_col if residual else None,
            residual_centers=centers if residual else None,
            cells=cells if residual else None,
        )
    return ivfpq_topk(
        pruned,
        pruned,
        centers,
        codebooks,
        query,
        k_results=k_results,
        nprobe=nprobe,
        shortlist=shortlist,
        id_col=id_col,
        codes_col=codes_col,
        cell_col=cell_col,
        vectors_cell_col=cell_col,
        supers=supers,
        children=children,
        p_super=p_super,
        residual=residual,
    )


def ivf_centers_numpy(
    ids: np.ndarray, X: np.ndarray, n_cells: int, iters: int = 5
) -> np.ndarray:
    """Driver-side twin of ``ivf_build_lloyd`` — same init, same argmin
    (expansion formula, first-index ties), same per-cell mean, same
    6-decimal rounding of every communicated center. Used by tests to pin
    Spark ≡ numpy and by the DuckDB oracle to re-derive the centers from
    the raw parquet without a SparkSession."""
    import hashlib

    def _r6(vec) -> np.ndarray:
        # Python round(), not np.round: the Spark side rounds collected
        # doubles with round(float(x), 6), and numpy's scale-round-unscale
        # can disagree with Python's correctly-rounded dtoa at boundaries.
        return np.array([round(float(t), 6) for t in vec])

    X = np.asarray(X, dtype=np.float64)
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(int(ids[i])).encode()).hexdigest(), int(ids[i])),
    )
    centers = np.stack([_r6(X[i]) for i in order[:n_cells]])
    for _ in range(iters):
        d = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ centers.T)
            + (centers * centers).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        new = centers.copy()
        for c in range(n_cells):
            mask = assign == c
            if mask.any():
                new[c] = _r6(X[mask].mean(axis=0))
        centers = new
    return centers


# ------------------------------------------------------ product quantization
#
# The billion-vector compression path: split each d-dim vector into m
# subvectors, learn k centers per subspace (independent Lloyd runs, all in
# ONE aggregation per iteration via posexplode), store each vector as m
# tinyint codes (d×4 bytes → m bytes: 32× at d=64, m=8). Search uses
# asymmetric distance computation (ADC): the query builds an m×k table of
# per-subspace dot products ON THE DRIVER (tiny), embeds it as a literal
# array, and every stored vector's score is m table lookups — a pure
# codegen'd expression, no Python, no decompression, no shuffle before
# the final top-k merge. Reference has no vector surface (SURVEY §2.2);
# this extends the ANN family (brute-force / RP-LSH / IVF) with the
# memory-bound scale path; compose with IVF cell pruning for both.


def _pq_sub(v: Column, s: int, sub: int) -> Column:
    return F.slice(v, s * sub + 1, sub)


def pq_codebooks_numpy(
    X: "np.ndarray", m: int, k: int, iters: int = 5
) -> list[list[list[float]]]:
    """Driver-side twin of ``pq_train`` — same seeding (distinct
    subvectors in canonical lexicographic array order, cycled to k), same
    argmin (|c|² − 2·v·c expansion, first-index ties), same per-(subspace,
    code) mean, same 6-decimal Python ``round`` of every communicated
    center. Used by tests to pin Spark ≡ numpy and by the DuckDB oracle to
    re-derive the codebooks from the raw parquet without a SparkSession
    (the same discipline as ``ivf_centers_numpy``)."""

    def _r6(vec) -> list[float]:
        return [round(float(t), 6) for t in vec]

    X = np.asarray(X, dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    codebooks: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        seeds = [_r6(row) for row in np.unique(Xs, axis=0)[:k]]
        codebooks.append([seeds[j % len(seeds)] for j in range(k)])
    for _ in range(iters):
        new = [[codebooks[s][j] for j in range(k)] for s in range(m)]
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            C = np.asarray(codebooks[s], dtype=np.float64)
            scores = (C**2).sum(axis=1)[None, :] - 2.0 * (Xs @ C.T)
            codes = scores.argmin(axis=1)  # first index on ties
            for j in range(k):
                mask = codes == j
                if mask.any():
                    new[s][j] = _r6(Xs[mask].mean(axis=0))
        codebooks = new
    return codebooks


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Learn PQ codebooks: ``codebooks[s][j]`` = center ``j`` of subspace
    ``s``. Deterministic (init = subvectors of the k smallest ids,
    centers rounded to 6 dp per step, empty codes keep their center) —
    the same engine-reproducible Lloyd discipline as ``ivf_build_lloyd``.
    Each iteration is ONE distributed pass: assign all m codes per row
    (literal-center argmin), posexplode to (subspace, code), one grouped
    avg. Driver holds only the m×k×(d/m) codebook floats."""
    if dim is None:
        dim = len(df.select(F.col(vec_col)).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if not 1 <= k <= 128:
        # Codes are stored as SIGNED tinyint (JVM cast + np.int8): codes
        # 128..255 would wrap negative and silently index the wrong ADC
        # table entry in pq_topk, so 128 (max code 127) is the hard cap.
        raise ValueError(f"k must fit a signed tinyint code (1..128), got {k}")
    sub = dim // m
    v = F.col(vec_col).cast("array<double>")
    # Seed each subspace with k DISTINCT subvectors (canonical array
    # order). Seeding from the k smallest ids is degenerate: rows that
    # share leading subvectors make duplicate centers, and Lloyd can
    # never split a duplicated center. Fewer than k distinct values →
    # cycle them (the extra centers stay empty and harmless). All m
    # subspaces seed in ONE job (posexplode → distinct → per-subspace
    # row_number ≤ k) instead of m separate distinct scans — identical
    # seeds (same lexicographic array order; pinned by the
    # pq_codebooks_numpy twin test).
    from pyspark.sql import Window

    ex = df.select(
        F.posexplode(F.array(*[_pq_sub(v, s, sub) for s in range(m)])).alias(
            "__pq_s", "__pq_sv"
        )
    ).distinct()
    rn = F.row_number().over(
        Window.partitionBy("__pq_s").orderBy(F.col("__pq_sv"))
    )
    by_s: dict[int, dict[int, list[float]]] = {}
    for r in ex.withColumn("__pq_rn", rn).filter(F.col("__pq_rn") <= k).collect():
        # keyed by the window rank so seeds keep the RAW lexicographic
        # order (rounding first could reorder near-equal subvectors and
        # diverge from the pq_codebooks_numpy twin)
        by_s.setdefault(int(r["__pq_s"]), {})[int(r["__pq_rn"])] = [
            round(float(x), 6) for x in r["__pq_sv"]
        ]
    if not by_s:
        raise ValueError("cannot train PQ on an empty table")
    codebooks = []
    for s in range(m):
        seeds = [sv for _, sv in sorted(by_s[s].items())]
        codebooks.append([seeds[j % len(seeds)] for j in range(k)])
    for _ in range(iters):
        codes = _pq_codes_expr(v, codebooks, sub)
        ex = df.select(v.alias("__v"), F.posexplode(codes).alias("s", "code"))
        means = (
            ex.groupBy("s", "code")
            .agg(
                *[
                    F.avg(
                        F.element_at(F.col("__v"), F.col("s") * sub + i + 1)
                    ).alias(f"a{i}")
                    for i in range(sub)
                ]
            )
            .collect()
        )
        got = {
            (int(r["s"]), int(r["code"])): [
                round(float(r[f"a{i}"]), 6) for i in range(sub)
            ]
            for r in means
        }
        codebooks = [
            [got.get((s, j), codebooks[s][j]) for j in range(k)] for s in range(m)
        ]
    return codebooks


def _pq_codes_expr(v: Column, codebooks: list, sub: int) -> Column:
    """array<tinyint> of per-subspace argmin codes over literal centers.
    Scores are ``|c|² − 2·v·c`` — the ``|v|²`` term of the squared
    distance is constant across centers, so dropping it leaves the
    argmin unchanged and removes k redundant self-dots per subspace.
    Each subspace's centers travel as one flattened array literal with a
    ``transform`` loop over slices (O(1) expression size in k·sub; same
    per-element fp ops as explicit per-center dots, so codes are
    bit-identical — pinned by the numpy-twin test)."""
    k = len(codebooks[0])
    parts = []
    for s, centers in enumerate(codebooks):
        sv = _pq_sub(v, s, sub)
        flat = lit_array([float(x) for c in centers for x in c])
        c2 = lit_array([float(sum(x * x for x in c)) for c in centers])
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.element_at(c2, j + 1)
            - 2.0 * _dot(sv, F.slice(flat, j * sub + 1, sub)),
        )
        parts.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("tinyint")
        )
    return F.array(*parts)


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_codes",
    keep_cols: list[str] | None = None,
    method: str = "jvm",
) -> DataFrame:
    """(id, codes[, keep_cols…]) — m tinyint codes per vector. Narrow, no
    shuffle; write this instead of the raw vectors for a 4·d/m× smaller
    store (32× at d=64, m=8). ``keep_cols`` carries layout columns
    through (e.g. the IVF cell for an IVF-PQ store).

    ``method``: ``"jvm"`` (default) is a pure Catalyst expression —
    oracle-friendly, no Python anywhere; ``"numpy"`` runs the argmin as
    one BLAS matmul per subspace per Arrow batch (the sanctioned Python
    fast path, same pattern as ``cosine_topk_batch``) — identical codes
    (both take the FIRST index on ties; checksum-equal at 1M vectors),
    measured 5× bulk throughput (143k vs 28k vec/s on local[32]). Use
    numpy for the one-time 100 TB encode job, jvm when an expression is
    needed inline."""
    sub = len(codebooks[0][0])
    if method == "jvm":
        v = F.col(vec_col).cast("array<double>")
        return df.select(
            F.col(id_col),
            _pq_codes_expr(v, codebooks, sub).alias(out_col),
            *[F.col(c) for c in (keep_cols or [])],
        )
    if method != "numpy":
        raise ValueError(f"method must be 'jvm' or 'numpy', got {method!r}")
    import pandas as pd

    from pyspark.sql import types as T

    keep = list(keep_cols or [])
    # dedupe: keep_cols may legitimately carry vec_col (an IVF-PQ store
    # keeping the raw vectors for re-rank) — a duplicated column in the
    # select corrupts the Arrow batch columns under mapInPandas
    in_cols = [id_col, vec_col] + [
        c for c in keep if c not in (id_col, vec_col)
    ]
    src_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [
            src_fields[id_col],
            T.StructField(out_col, T.ArrayType(T.ByteType())),
            *[src_fields[c] for c in keep],
        ]
    )
    # centers as (m, k, sub); squared-distance argmin via |c|^2 - 2 x.c
    C = np.asarray(codebooks, dtype=np.float64)
    C2 = (C**2).sum(axis=2)  # (m, k)
    m = C.shape[0]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int8)
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                scores = C2[s][None, :] - 2.0 * (Xs @ C[s].T)
                codes[:, s] = np.argmin(scores, axis=1)  # first index on ties
            out = pd.DataFrame({id_col: pdf[id_col], out_col: list(codes)})
            for c in keep:
                out[c] = pdf[c]
            yield out

    return _spread(df.select(*in_cols)).mapInPandas(encode, out_schema)


def with_residuals(
    df: DataFrame,
    centers,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    out_col: str = "residual",
    engine: str = "auto",
) -> DataFrame:
    """Annotate an IVF-assigned frame with its RESIDUAL — vector minus
    its cell's centroid — as a pure literal-lookup ``zip_with`` (no
    shuffle, no Python). Canonical IVF-PQ trains and encodes on
    residuals, and the r14 regime measurement shows why: on clustered
    data a probe's candidates all sit in one tight cluster, raw-vector
    codebooks spend their resolution on GLOBAL structure (where the
    clusters are) and resolve nothing within the cluster — measured
    recall@10 of the ADC shortlist-100 collapsed to 0.05 at 10⁷, and
    normalization did not help; re-encoding the residuals (the
    within-cluster offsets are exactly what the codebook then learns)
    tripled it at every shortlist (SCALE.md r14). Train and encode with
    ``vec_col=out_col``, serve with ``residual=True`` (the ADC score
    gains the per-cell ``q·centroid`` bias). NULL cells (gated bad
    embeddings) get NULL residuals.

    ``engine``: ``"literal"`` is a pure-codegen ``zip_with`` over a
    literal centers array — right for expression-sized models, but the
    literal is an n_cells×dim EXPRESSION TREE and the analyzer chokes
    on real model sizes (a 39k×64 model pinned the driver single-core
    for minutes before any job started, r14). ``"arrow"`` ships the
    centers as a numpy closure into one ``mapInPandas`` subtraction —
    O(model bytes) to ship, no expression blow-up. ``"auto"`` picks
    literal below 2¹⁵ model elements."""
    C_np = np.asarray(
        [[float(x) for x in c] for c in centers], dtype=np.float64
    )
    if engine == "auto":
        engine = "literal" if C_np.size <= (1 << 15) else "arrow"
    if engine == "literal":
        C = lit_array([[float(x) for x in c] for c in centers])
        return df.withColumn(
            out_col,
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.get(C, F.col(cell_col)),
                lambda a, b: a - b,
            ),
        )
    if engine != "arrow":
        raise ValueError(f"engine must be auto/literal/arrow, got {engine!r}")
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [*df.schema.fields, T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )
    in_cols = list(df.columns)

    def sub(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = pdf[cell_col].to_numpy()
            ok = pd.notna(cells)
            res_col = [None] * len(pdf)
            if ok.any():
                X = np.array(
                    pdf.loc[ok, vec_col].to_list(), dtype=np.float64
                )
                R = X - C_np[cells[ok].astype(np.int64)]
                vals = iter(list(R))
                for i, good in enumerate(ok):
                    if good:
                        res_col[i] = next(vals)
            out = pdf[in_cols].copy()
            out[out_col] = res_col
            yield out

    return df.mapInPandas(sub, out_schema)


def pq_topk(
    codes_df: DataFrame,
    codebooks: list,
    query: list[float],
    k_results: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    cell_col: str | None = None,
    residual_centers=None,
    cells=None,
) -> DataFrame:
    """Approximate top-k by ADC dot product: score = Σ_s table[s][code_s]
    where the m×k table of query-subvector · center dots is computed
    driver-side and embedded as one flat literal array. The per-row cost
    is m array lookups (pure codegen); the only movement is the
    TakeOrdered top-k merge — same shape as ``cosine_topk``.

    With ``residual_centers`` (+ ``cell_col``) the codes are RESIDUAL
    codes (``with_residuals`` → encode): q·x ≈ q·centroid[cell] + q·r,
    so the score adds a per-cell bias from one more literal lookup —
    still pure codegen, still no data movement. Pass ``cells`` (the
    probed cell ids) whenever the frame is already probe-filtered: the
    bias then materializes as an nprobe-entry map instead of an
    n_cells-length literal array — at 39k cells the full-array literal
    cost ~20 s of per-query driver analysis (measured r14); the probed
    map is constant-sized."""
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    table = []
    for s in range(m):
        q_sub = query[s * sub : (s + 1) * sub]
        for j in range(k):
            table.append(
                round(sum(float(a) * float(b) for a, b in zip(q_sub, codebooks[s][j])), 9)
            )
    t = lit_array([float(x) for x in table])
    codes = F.col(codes_col)
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(t, s * k + F.element_at(codes, s + 1).cast("int") + 1),
    )
    if residual_centers is not None:
        if cell_col is None:
            raise ValueError(
                "residual_centers given without cell_col — the per-cell "
                "q·centroid bias needs the cell id column"
            )

        def _qdot(c) -> float:
            return round(
                sum(float(a) * float(b) for a, b in zip(query, c)), 9
            )

        if cells is not None:
            pairs = []
            for c in cells:
                pairs += [F.lit(int(c)), F.lit(_qdot(residual_centers[int(c)]))]
            score = score + F.element_at(
                F.create_map(*pairs), F.col(cell_col)
            )
        else:
            bias = lit_array([float(_qdot(c)) for c in residual_centers])
            score = score + F.get(bias, F.col(cell_col))
    return (
        codes_df.select(F.col(id_col), F.round(score, 6).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col))
        .limit(k_results)
    )


def pq_topk_rerank(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    codebooks: list,
    query: list[float],
    k_results: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """The production PQ shape: ADC over the compressed codes builds a
    ``shortlist`` of candidates, then ONLY those ids are re-ranked with
    exact cosine against the raw vectors — a broadcast semi-join, so the
    full-precision store is touched for `shortlist` rows, not scanned.
    Recall is set by the shortlist/k ratio instead of code resolution;
    the scan stays memory-bound on m bytes/vector."""
    short = pq_topk(
        codes_df, codebooks, query, shortlist, id_col, codes_col
    ).select(id_col)
    cand = vectors_df.join(F.broadcast(short), id_col)
    return cosine_topk(cand, query, k=k_results, vec_col=vec_col, id_col=id_col)


def ivfpq_topk(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    centers,
    codebooks: list,
    query: list[float],
    k_results: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    cell_col: str = "ivf_cell",
    vectors_cell_col: str | None = None,
    supers=None,
    children=None,
    p_super: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """The standard IVF-PQ layout end-to-end: probe the ``nprobe``
    nearest coarse cells (driver-side argsort over the tiny center
    matrix), ADC-score ONLY the probed cells' m-byte codes, then
    exact-cosine re-rank the shortlist against the full-precision store.

    ``residual=True`` declares the codes RESIDUAL codes
    (``with_residuals(assigned, centers)`` → ``pq_train``/``pq_encode``
    on the residual column): ADC scoring then adds the per-cell
    ``q·centroid`` bias. On clustered corpora this is not optional —
    the r14 10⁷ measurement saw raw-vector ADC shortlists collapse to
    noise within a probed cluster (see ``with_residuals``).

    ``codes_df`` must carry ``cell_col`` — encode with
    ``pq_encode(assigned, ..., keep_cols=[cell_col])`` over the
    IVF-assigned frame and store partitioned by cell
    (``write_ivf_store``), so the cell filter is Parquet partition
    pruning: a probe touches nprobe/n_cells of the compressed store.
    When the RAW store is cell-partitioned too, pass
    ``vectors_cell_col`` and the re-rank lookup prunes to the probed
    cells as well (every shortlist id lives there by construction) —
    without it the semi-join must scan the full raw store to find
    ``shortlist`` rows. With ``nprobe = n_cells`` and ``shortlist >=
    corpus``, the result equals brute-force cosine top-k exactly
    (pinned in tests).

    Tuning ``nprobe``/``p_super``: measure the corpus's recall surface
    with ``measure_recall_grid(..., metric="cosine")`` and pass it to
    ``suggest_probe(grid=)`` — cosine, because:

    Probing uses ``probe_cells`` (cosine over the centroid matrix) —
    the SAME rule as ``ivf_topk``/``ivf_topk_batch``. An earlier
    internal L2 probe agreed with cosine on the driver corpora by
    coincidence; a tiny degenerate store (the sf0.001 sweep) exposed
    the two metrics picking different cell sets, diverging from both
    the oracle and plain IVF's notion of "nearest cells". Final
    scoring is cosine, so cosine probing is the consistent choice.
    ``supers``/``children``/``p_super`` route the probe through the
    two-level hierarchy (see ``ivf_topk``) — at the billion-vector
    store this layout exists for, the flat Θ(n_cells) center scan per
    query is the serving bottleneck the hierarchy removes."""
    cells = [
        int(c)
        for c in _serving_probe(centers, query, nprobe, supers, children, p_super)
    ]
    probed = codes_df.filter(F.col(cell_col).isin(cells))
    short = pq_topk(
        probed, codebooks, query, shortlist, id_col, codes_col,
        cell_col=cell_col if residual else None,
        residual_centers=centers if residual else None,
        cells=cells if residual else None,
    ).select(id_col)
    if vectors_cell_col is not None:
        vectors_df = vectors_df.filter(F.col(vectors_cell_col).isin(cells))
    cand = vectors_df.join(F.broadcast(short), id_col)
    return cosine_topk(cand, query, k=k_results, id_col=id_col)


def knn_pairs(
    assigned: DataFrame,
    centers,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    score_engine: str = "auto",
    shortlist: int | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """k-NN GRAPH over the corpus: for EVERY vector, its ``k`` nearest
    neighbors (by cosine) among the vectors of its ``nprobe`` nearest
    IVF cells — the all-pairs building block for graph-based dedup
    (feed the edges to ``dedup.dup_components``), clustering, and
    diversity analysis.

    Spark shape: each row's probe list is a pure JVM expression over the
    broadcast literal centers (sort cells by squared distance, slice
    nprobe — no driver round-trip per row, unlike the single-query
    ``probe_cells``); exploding it fans each query out nprobe× into an
    EQUI-join on the probed cell (one hash shuffle, bounded by cell
    size × nprobe — never a crossJoin), then a per-query window keeps
    the top ``k``. With ``nprobe = n_cells`` the graph is exact
    brute-force k-NN (pinned in tests); fewer probes trade recall for
    a nprobe/n_cells fraction of the join volume."""
    from pyspark.sql import Window

    C = [[float(x) for x in c] for c in np.asarray(centers)]
    n_cells = len(C)
    if not 1 <= nprobe <= n_cells:
        raise ValueError(f"nprobe must be in 1..{n_cells}, got {nprobe}")
    dim = len(C[0])
    flat = lit_array([float(x) for c in C for x in c])
    c2 = lit_array([float(sum(x * x for x in c)) for c in C])
    v = F.col(vec_col).cast("array<double>")
    # per-row probe list: cells sorted by |c|^2 - 2 v.c (the |v|^2 term
    # is constant per row), ties by cell id via the struct sort
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_cells - 1)),
        lambda j: F.struct(
            (
                F.element_at(c2, j + 1)
                - 2.0 * _dot(v, F.slice(flat, j * dim + 1, dim))
            ).alias("d"),
            j.alias("c"),
        ),
    )
    # NULL/dim gate (same class as the two-level paths): a NULL or
    # wrong-length query embedding must probe NOTHING, not cell ids
    # sorted by NULL distances
    probes = F.when(
        v.isNotNull() & (F.size(v) == F.lit(dim)),
        F.slice(
            F.transform(F.array_sort(scored), lambda s: s["c"]), 1, nprobe
        ),
    )
    return _knn_join_topk(
        assigned,
        probes,
        k,
        vec_col,
        id_col,
        cell_col,
        score_engine
        if score_engine in ("int8", "pq")
        else _resolve_engine(score_engine, n_cells),
        shortlist,
        codebooks,
    )


def _q8_expr(v: Column) -> Column:
    """In-plan symmetric int8 quantization of an ``array<double>`` —
    the ``quantize_embeddings`` formula as one expression: ``round(x /
    (max|v|/127))`` per element, tinyint. Cosine is scale-invariant, so
    similarity ranking on the int8 arrays is the true ranking up to
    ~0.5% quantization error; no scale column is needed for scoring."""
    scale = (
        F.greatest(F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12))
        / F.lit(127.0)
    )
    return F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))


def _knn_join_topk(
    assigned: DataFrame,
    probes,
    k: int,
    vec_col: str,
    id_col: str,
    cell_col: str,
    score_engine: str = "catalyst",
    shortlist: int | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """The shared k-NN tail (``knn_pairs`` and ``knn_pairs_2level``
    differ only in how the probe list is chosen): explode each row's
    probed cells into a bounded equi-join on the assignment cell, exact
    cosine per candidate, per-query top-``k`` window with the
    (cosine desc, neighbor id) tie order.

    ``score_engine="arrow"`` scores the candidate pairs with a
    ``mapInPandas`` BLAS pass that ALSO keeps a per-partition partial
    top-k per query (the ``cosine_topk_batch`` pattern) — measured at
    sf10 (SCALE.md r9): the zip_with fold over the 232M candidate
    pairs was 148s of the 199s build; the BLAS scoring is 1.5× faster
    AND the partial top-k shrinks the window exchange from 232M rows
    to ≤ partitions·queries·k. mapInPandas (not a scalar pandas UDF)
    is load-bearing: it pins the Python eval BEFORE the window
    exchange, so the shuffle carries (id, id, double) rows, never the
    vector arrays — the first arrow cut let Catalyst place the UDF
    after the exchange and shuffled 232 GB of arrays (measured 449s,
    worse than the fold; recorded as the r9 plan-placement lesson).
    Dropping a pair in the partial pass is safe: it lost to ``k``
    better (cosine desc, id) rows in its own partition, so it cannot
    be in the global top-k. NULL/ragged embeddings never reach the
    join (the probe and assignment NULL-dim gates), so the batch
    matmul sees uniform rows.

    Cross-engine rounding (documented trade, same as
    ``cosine_topk_batch``): the arrow path rounds with np.round
    (half-even on the binary value) and the catalyst path with
    F.round (half-up on the double's shortest decimal repr) — they
    differ only for cosines whose repr lands exactly on a 5e-7
    midpoint, where a top-k boundary pair could flip. Oracle-grade
    runs pin ``score_engine="catalyst"``; the driver corpora resolve
    there via the auto threshold anyway.

    ``score_engine="int8"`` (r10, VERDICT r9 item 2) attacks the join
    BYTES instead of the scoring flops: both sides ship symmetric-int8
    quantized arrays (1 byte/element — an 8× cut of the candidate
    join's dominant payload), the BLAS pass ranks candidates by int8
    cosine (integer dot products — bit-deterministic), a global
    per-query window keeps the top-``shortlist`` (default ``4·k``),
    and ONLY those pairs re-join the float vectors for exact 6-dp
    cosine and the final top-k. APPROXIMATE BY CONTRACT: a true
    neighbor can be ranked below position ``shortlist`` by the ~0.5%
    int8 error and truncated — ``shortlist`` is the recall knob (the
    per-batch partial prune is safe w.r.t. the int8 ranking and the
    truncation happens at the deterministic global window, so the
    result is partition-independent, unlike a margin-free approximate
    prune would be). Use it when the candidate join's shuffle bytes,
    not its flops, are the bottleneck; measured at sf10 in SCALE.md
    r10.

    ``score_engine="pq"`` (r11, VERDICT r10 item 2) is the next notch
    on the same join-bytes lever: both sides ship ``m``-byte PQ codes
    (``_pq_codes_expr`` over the supplied ``codebooks`` — a 4·d/m×
    cut vs the raw doubles, 32× at d=64/m=8, and d/m× vs int8),
    candidates rank by SYMMETRIC distance computation (SDC, Jégou et
    al. 2011: code-to-code dot products through the m×k×k table of
    codebook-center dots, cosine-normalized with the codes' own
    table-reconstructed norms — fixed float64 table lookups summed in
    subspace order, bit-deterministic), global top-``shortlist``
    window, exact re-rank of shortlist rows only. Coarser than int8
    (quantization error ~subspace cell radius vs ~0.5%), hence the
    larger default ``shortlist = 8·k``; same partition-independent
    truncation contract. Requires ``codebooks``; explicit-only like
    int8 ("auto" never changes the result contract)."""
    from pyspark.sql import Window

    v = F.col(f"`{vec_col}`").cast("array<double>")
    if score_engine != "pq" and codebooks is not None:
        # fail-fast pairing discipline (_check_super_col): silently
        # ignoring the codebooks would let the caller believe the join
        # ships m-byte codes when it ships full vectors
        raise ValueError(
            "codebooks apply only to score_engine='pq' — drop them or "
            "set score_engine='pq'"
        )
    if score_engine == "int8":
        return _knn_join_topk_int8(
            assigned, probes, k, v, id_col, cell_col,
            shortlist if shortlist is not None else 4 * k,
        )
    if score_engine == "pq":
        if codebooks is None:
            raise ValueError(
                "score_engine='pq' needs codebooks — train with "
                "pq_train / pq_codebooks_numpy and pass them"
            )
        return _knn_join_topk_pq(
            assigned, probes, k, v, id_col, cell_col,
            shortlist if shortlist is not None else 8 * k,
            codebooks,
        )
    if shortlist is not None:
        # the recall knob belongs to the int8/pq contracts only —
        # accepting it here and ignoring it would let a caller believe
        # they are on the approximate fast path (_check_super_col
        # discipline)
        raise ValueError(
            "shortlist applies only to score_engine='int8'/'pq' — the "
            "exact engines have no truncation to tune"
        )
    q = _spread(assigned).select(
        F.col(id_col).alias("__qid"),
        v.alias("__qv"),
        F.explode(probes).alias("__pc"),
    )
    cand = assigned.select(
        F.col(id_col).alias("__cid"),
        v.alias("__cv"),
        F.col(cell_col).alias("__cc"),
    )
    joined = q.join(cand, q["__pc"] == cand["__cc"]).filter(
        F.col("__qid") != F.col("__cid")
    )
    if score_engine == "arrow":
        import pandas as pd

        from pyspark.sql import types as T

        id_type = assigned.schema[id_col].dataType
        out_schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField("neighbor_id", id_type),
                T.StructField("cosine", T.DoubleType()),
            ]
        )

        def score_part(batches):
            best: list[pd.DataFrame] = []
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.asarray(pdf["__qv"].to_list(), dtype=np.float64)
                B = np.asarray(pdf["__cv"].to_list(), dtype=np.float64)
                s = np.round(
                    (A * B).sum(axis=1)
                    / np.maximum(
                        np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1),
                        1e-12,
                    ),
                    6,
                )
                # prune PER BATCH, not once per partition (the
                # cosine_topk_batch discipline): without it a hot
                # partition's tens of millions of scored pairs would
                # sit in worker memory until the end-of-partition
                # reduce; a pair dropped here lost to k better pairs
                # in its own partition, so it can never win globally
                b = pd.DataFrame(
                    {
                        id_col: pdf["__qid"].to_numpy(),
                        "neighbor_id": pdf["__cid"].to_numpy(),
                        "cosine": s,
                    }
                ).sort_values(
                    [id_col, "cosine", "neighbor_id"],
                    ascending=[True, False, True],
                )
                best.append(b.groupby(id_col, group_keys=False).head(k))
            if best:
                allb = pd.concat(best, ignore_index=True)
                allb = allb.sort_values(
                    [id_col, "cosine", "neighbor_id"],
                    ascending=[True, False, True],
                )
                yield allb.groupby(id_col, group_keys=False).head(k)

        pairs = joined.select("__qid", "__cid", "__qv", "__cv").mapInPandas(
            score_part, out_schema
        )
    else:
        pairs = joined.select(
            F.col("__qid").alias(id_col),
            F.col("__cid").alias("neighbor_id"),
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
        )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _knn_join_topk_int8(
    assigned: DataFrame,
    probes,
    k: int,
    v: Column,
    id_col: str,
    cell_col: str,
    shortlist: int,
) -> DataFrame:
    """The int8 tail of ``_knn_join_topk`` (contract documented there):
    int8 arrays through the candidate join, deterministic int8-cosine
    shortlist, exact re-rank of shortlist rows only."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    if shortlist < k:
        raise ValueError(
            f"shortlist must be >= k ({k}), got {shortlist}"
        )
    q8 = _spread(assigned).select(
        F.col(id_col).alias("__qid"),
        _q8_expr(v).alias("__qv8"),
        F.explode(probes).alias("__pc"),
    )
    c8 = assigned.select(
        F.col(id_col).alias("__cid"),
        _q8_expr(v).alias("__cv8"),
        F.col(cell_col).alias("__cc"),
    )
    joined = q8.join(c8, q8["__pc"] == c8["__cc"]).filter(
        F.col("__qid") != F.col("__cid")
    )
    id_type = assigned.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("__qid", id_type),
            T.StructField("__cid", id_type),
            T.StructField("__a", T.DoubleType()),
        ]
    )
    sl = int(shortlist)

    def score_part(batches):
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.asarray(pdf["__qv8"].to_list(), dtype=np.float64)
            B = np.asarray(pdf["__cv8"].to_list(), dtype=np.float64)
            # integer dot products in float64 are EXACT (|dot| <=
            # 127²·dim « 2^53), so the approx ranking is
            # bit-deterministic — no rounding needed for ordering
            s = (A * B).sum(axis=1) / np.maximum(
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1), 1e-12
            )
            b = pd.DataFrame(
                {
                    "__qid": pdf["__qid"].to_numpy(),
                    "__cid": pdf["__cid"].to_numpy(),
                    "__a": s,
                }
            ).sort_values(
                ["__qid", "__a", "__cid"], ascending=[True, False, True]
            )
            # per-BATCH partial prune, safe w.r.t. the int8 ranking
            # (same discipline as the arrow engine)
            best.append(b.groupby("__qid", group_keys=False).head(sl))
        if best:
            allb = pd.concat(best, ignore_index=True).sort_values(
                ["__qid", "__a", "__cid"], ascending=[True, False, True]
            )
            yield allb.groupby("__qid", group_keys=False).head(sl)

    scored = joined.select("__qid", "__cid", "__qv8", "__cv8").mapInPandas(
        score_part, out_schema
    )
    # the global shortlist truncation: deterministic (int8 ranking,
    # ties to the lowest neighbor id), partition-independent
    w8 = Window.partitionBy("__qid").orderBy(
        F.col("__a").desc(), F.col("__cid")
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(w8))
        .filter(F.col("__rn") <= sl)
        .select("__qid", "__cid")
    )
    return _exact_rerank(short, assigned, v, id_col, k)


def _exact_rerank(
    short: DataFrame, assigned: DataFrame, v, id_col: str, k: int
) -> DataFrame:
    """Shared exact-cosine tail of the approximate scorers (int8/pq):
    the float vectors touch ONLY the (__qid, __cid) shortlist rows —
    two id-equi-joins against the vector store, 6-dp cosine, final
    per-query top-``k`` window with the (cosine desc, neighbor id)
    tie order every engine shares."""
    from pyspark.sql import Window

    vecs = assigned.select(F.col(id_col).alias("__vid"), v.alias("__vv"))
    withq = short.join(vecs, F.col("__qid") == F.col("__vid")).select(
        "__qid", "__cid", F.col("__vv").alias("__qv")
    )
    withc = withq.join(vecs, F.col("__cid") == F.col("__vid")).select(
        "__qid", "__cid", "__qv", F.col("__vv").alias("__cv")
    )
    pairs = withc.select(
        F.col("__qid").alias(id_col),
        F.col("__cid").alias("neighbor_id"),
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _knn_join_topk_pq(
    assigned: DataFrame,
    probes,
    k: int,
    v,
    id_col: str,
    cell_col: str,
    shortlist: int,
    codebooks: list,
) -> DataFrame:
    """The PQ tail of ``_knn_join_topk`` (contract documented there):
    m-byte PQ codes through the candidate join, deterministic
    SDC-cosine shortlist, exact re-rank of shortlist rows only.

    Driver-side tables (tiny — m·k² doubles, broadcast with the
    closure): ``T[s,i,j] = codebook[s][i]·codebook[s][j]`` and the
    diagonal ``N2[s,i] = |codebook[s][i]|²``; a pair's approximate
    cosine is ``Σ_s T[s,qc_s,cc_s] / √(Σ_s N2[s,qc_s] · Σ_s
    N2[s,cc_s])`` — the code-reconstructed vectors' exact cosine, so
    ranking quality degrades only with quantization error, never with
    norm mismatch."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T_

    if shortlist < k:
        raise ValueError(f"shortlist must be >= k ({k}), got {shortlist}")
    m = len(codebooks)
    sub = len(codebooks[0][0])
    C = np.asarray(codebooks, dtype=np.float64)  # (m, k_codes, sub)
    tab = np.einsum("mis,mjs->mij", C, C)  # (m, k_codes, k_codes)
    n2 = np.einsum("mis,mis->mi", C, C)  # (m, k_codes)
    codes = _pq_codes_expr(v, codebooks, sub)
    qpq = _spread(assigned).select(
        F.col(id_col).alias("__qid"),
        codes.alias("__qc"),
        F.explode(probes).alias("__pc"),
    )
    cpq = assigned.select(
        F.col(id_col).alias("__cid"),
        codes.alias("__cc"),
        F.col(cell_col).alias("__cell"),
    )
    joined = qpq.join(cpq, qpq["__pc"] == cpq["__cell"]).filter(
        F.col("__qid") != F.col("__cid")
    )
    id_type = assigned.schema[id_col].dataType
    out_schema = T_.StructType(
        [
            T_.StructField("__qid", id_type),
            T_.StructField("__cid", id_type),
            T_.StructField("__a", T_.DoubleType()),
        ]
    )
    sl = int(shortlist)

    def score_part(batches):
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qc = np.asarray(pdf["__qc"].to_list(), dtype=np.int64)  # (n, m)
            cc = np.asarray(pdf["__cc"].to_list(), dtype=np.int64)
            dots = np.zeros(len(qc), dtype=np.float64)
            qn = np.zeros(len(qc), dtype=np.float64)
            cn = np.zeros(len(qc), dtype=np.float64)
            # fixed float64 table gathers summed in subspace order —
            # bit-deterministic regardless of partitioning
            for s in range(m):
                dots += tab[s, qc[:, s], cc[:, s]]
                qn += n2[s, qc[:, s]]
                cn += n2[s, cc[:, s]]
            a = dots / np.maximum(np.sqrt(qn * cn), 1e-12)
            b = pd.DataFrame(
                {
                    "__qid": pdf["__qid"].to_numpy(),
                    "__cid": pdf["__cid"].to_numpy(),
                    "__a": a,
                }
            ).sort_values(
                ["__qid", "__a", "__cid"], ascending=[True, False, True]
            )
            # per-BATCH partial prune, safe w.r.t. the SDC ranking
            # (same discipline as the arrow/int8 engines)
            best.append(b.groupby("__qid", group_keys=False).head(sl))
        if best:
            allb = pd.concat(best, ignore_index=True).sort_values(
                ["__qid", "__a", "__cid"], ascending=[True, False, True]
            )
            yield allb.groupby("__qid", group_keys=False).head(sl)

    scored = joined.select("__qid", "__cid", "__qc", "__cc").mapInPandas(
        score_part, out_schema
    )
    # global shortlist truncation: deterministic (SDC ranking, ties to
    # the lowest neighbor id), partition-independent
    wq = Window.partitionBy("__qid").orderBy(
        F.col("__a").desc(), F.col("__cid")
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= sl)
        .select("__qid", "__cid")
    )
    return _exact_rerank(short, assigned, v, id_col, k)


def pq_topk_batch(
    codes_df: DataFrame,
    codebooks: list,
    query_vecs: list[list[float]],
    k_results: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """ADC top-k for a BATCH of queries in ONE scan of the m-byte codes
    — the compressed-serving analog of ``cosine_topk_batch``: all Q
    ADC tables (Q × m × k dot products, computed driver-side) ride
    into a single Arrow pass; scoring is a vectorized table-gather per
    subspace, local top-k per partition, and only partitions × Q × k
    candidate rows shuffle to the final per-query window. Returns
    (query_no, id, adc_score) — k rows per query, identical to running
    ``pq_topk`` once per query (pinned in tests, same 6dp rounding and
    (score desc, id) order)."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    if not query_vecs:
        raise ValueError("pq_topk_batch needs at least one query vector")
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    dims = {len(q) for q in query_vecs}
    if dims != {m * sub}:
        raise ValueError(
            f"query dims {sorted(dims)} must equal m*sub = {m * sub}"
        )
    # tables[q, s, j] = q_sub(s) . codebooks[s][j], rounded like pq_topk
    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    Q = np.asarray(query_vecs, dtype=np.float64).reshape(len(query_vecs), m, sub)
    tables = np.round(np.einsum("qms,mks->qmk", Q, C), 9)  # (Q, m, k)
    n_q = len(query_vecs)
    out_schema = T.StructType(
        [
            T.StructField("query_no", T.IntegerType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("adc_score", T.DoubleType()),
        ]
    )

    def local_topk(batches):
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf[codes_col].to_list(), dtype=np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            # gather per subspace: scores[n, q] = sum_s tables[q, s, codes[n, s]]
            scores = np.zeros((len(codes), n_q), dtype=np.float64)
            for s in range(m):
                scores += tables[:, s, codes[:, s]].T  # (n, q)
            scores = np.round(scores, 6)
            for qno in range(n_q):
                sc = scores[:, qno]
                order = np.lexsort((ids, -sc))[:k_results]
                best.append(
                    pd.DataFrame(
                        {"query_no": qno, id_col: ids[order], "adc_score": sc[order]}
                    )
                )
        if best:
            allb = pd.concat(best, ignore_index=True)
            allb = allb.sort_values(
                ["query_no", "adc_score", id_col], ascending=[True, False, True]
            )
            yield allb.groupby("query_no", group_keys=False).head(k_results)

    cand = _spread(codes_df.select(id_col, codes_col)).mapInPandas(
        local_topk, out_schema
    )
    w = Window.partitionBy("query_no").orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k_results)
        .drop("__rn")
    )
