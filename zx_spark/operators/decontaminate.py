"""Benchmark decontamination — n-gram overlap between a training corpus
and an evaluation/benchmark set.

The standard pretraining-hygiene step: any training document sharing
enough word n-grams with a benchmark document is flagged (and usually
dropped) so downstream eval numbers aren't contaminated. The reference
engine has nothing like it (SURVEY §2.2); it belongs to the
beyond-reference LLM-pipeline layer.

Distributed shape (the part that must survive 100 TB):

- the benchmark side is *small* (eval sets are thousands of documents,
  not billions) — its distinct shingle-hash set is built once and
  BROADCAST, so the corpus-side probe is a map-side hash join: the 100 TB
  corpus is never shuffled to find hits;
- corpus documents are shingled and hashed with the same md5-derived
  60-bit hash as fingerprinting/minhash (``('0x'||substr(md5(s),1,15))::
  bigint`` — ANSI-SQL-reproducible, so the driver oracle verifies the
  whole pipeline value-for-value);
- the only shuffle is the final per-document aggregation of hit counts,
  keyed on the document id — already unique, no skew;
- output is one row per *contaminated* document (inner probe), so the
  result volume is proportional to contamination, not corpus size.

Reference citation: none — absent surface; hash construction shared with
operators/dedup.py:268-275 and functions/text.py document_fingerprint.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zx_spark.functions.text import shingles_from_tokens, tokenize
from zx_spark.util import lit_array
from zx_spark.util import spread as _spread  # one shared guard + docstring


def _with_shingle_hashes(df: DataFrame, text_col: str, n: int, out: str) -> DataFrame:
    """Adds ``out`` = distinct md5-60-bit hashes of the n-word shingles
    of ``text_col`` (the construction the DuckDB oracle reproduces).
    Tokenizes through a projection boundary so the text splits once per
    row, not once per shingle position (see functions.text.tokenize)."""
    return df.withColumn("__toks", tokenize(F.col(f"`{text_col}`"))).withColumn(
        out,
        F.array_distinct(
            F.transform(
                shingles_from_tokens(F.col("__toks"), n),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            )
        ),
    ).drop("__toks")


def shingle_hash_frame(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """``(id_col, n_ngrams, __hs)`` — each document's DISTINCT shingle-hash
    array plus its size, the shared input of every probe in this module.

    Stage-profiled at the 100× store (SCALE.md "decontaminate stage
    profile", r7): the n-gram STRING construction (slice + concat_ws per
    position) dominates the pass at ~4.3s/100× — md5 adds only ~1s and
    an xxhash64 or rotate-xor token-hash combine buys nothing once the
    interpreted higher-order cost is counted. So the win is not a faster
    hash but hashing ONCE: build this frame, ``persist()`` it, and pass
    it to ``decontaminate`` / ``boilerplate_fractions(hashed=...)`` —
    the driver row went from hashing the corpus three times to once."""
    return _with_shingle_hashes(_spread(corpus), text_col, n, "__hs").select(
        F.col(f"`{id_col}`"),
        F.size("__hs").alias("n_ngrams"),
        F.col("__hs"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_overlap: int = 1,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Flag corpus documents sharing ≥ ``min_overlap`` distinct n-gram
    hashes with any benchmark document.

    Returns one row per contaminated document:
    ``(id_col, n_overlap, n_ngrams, contamination)`` where ``n_overlap``
    counts the document's distinct shingle hashes that appear anywhere in
    the benchmark, ``n_ngrams`` its total distinct shingle hashes, and
    ``contamination = round(n_overlap / n_ngrams, 6)``.

    To *apply* the filter, anti-join the corpus against this result on
    ``id_col`` (see ``drop_contaminated``). Pass ``hashed`` (a — ideally
    persisted — ``shingle_hash_frame``) to skip re-hashing a corpus this
    call shares with other probes.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    # explode_outer, not explode: InferFiltersFromGenerate turns a plain
    # explode into a `size(arr) > 0` filter that Catalyst pushes below
    # the repartition — re-evaluating the whole tokenize+shingle+md5
    # chain on the UNSPREAD single-partition scan (measured 4s of the
    # 4.5s total). The hash array is never empty by construction (an
    # empty doc shingles to ['']), so outer semantics are identical.
    bench_grams = (
        _with_shingle_hashes(_spread(benchmark), text_col, n, "__hs")
        .select(F.explode_outer("__hs").alias("__h"))
        .distinct()
    )
    # CPU-bound shingle-construction pass: spread a narrow source across
    # the cluster first (a small parquet file is ONE partition otherwise
    # and the whole corpus hashes on a single core).
    if hashed is None:
        hashed = shingle_hash_frame(corpus, text_col, id_col, n)
    doc_grams = hashed.select(
        F.col(f"`{id_col}`"),
        "n_ngrams",
        F.explode_outer("__hs").alias("__h"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.first("n_ngrams").alias("n_ngrams"),
        )
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return hits.select(
        F.col(f"`{id_col}`"),
        F.col("n_overlap"),
        F.col("n_ngrams"),
        F.round(F.col("n_overlap") / F.col("n_ngrams"), 6).alias("contamination"),
    )


def boilerplate_shingles(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Corpus-internal repeated n-grams: the distinct shingle hashes that
    appear in ≥ ``min_docs`` DISTINCT documents — boilerplate (headers,
    footers, licenses, templated spans) in the C4/RefinedWeb sense.

    One document-frequency aggregation: per-doc distinct hashes are
    computed map-side (array_distinct before the explode), so the shuffle
    carries one row per (partition, distinct shingle) and the agg output
    is ∝ the distinct-shingle vocabulary, not the corpus. Returns
    ``(shingle_hash, n_docs)``."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if hashed is None:
        hashed = shingle_hash_frame(corpus, text_col, id_col, n)
    doc_grams = hashed.select(
        F.col(f"`{id_col}`"), F.explode_outer("__hs").alias("shingle_hash")
    )
    return (
        doc_grams.groupBy("shingle_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_fractions(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Per-document boilerplate load: for every document containing at
    least one corpus-repeated n-gram, ``(id_col, n_overlap, n_ngrams,
    ratio)`` — distinct repeated shingles in the doc, its total distinct
    shingles, and their ratio. The inverse of ``decontaminate``: the probe
    set comes from the corpus's OWN document-frequency statistics instead
    of an external benchmark.

    Scale shape (restructured r7 after the SCALE.md stage profile —
    shingle construction dominates, so the corpus must be hashed ONCE):

    - ``min_docs == 2`` (the default): the COMPLEMENT plan — a shingle
      is repeated iff it is not corpus-unique, and a corpus-unique
      shingle's sole document is recoverable as ``min(id)`` of its one
      (doc, hash) pair. So one document-frequency aggregation yields,
      per document, its count of UNIQUE shingles, and
      ``n_overlap = n_ngrams − n_unique`` — no probe join, no second
      hashing pass, no corpus-sized join shuffle. Measured at the 100×
      store: 32.2s → ~14s. (Documents with NULL ids would break the
      min-attribution; non-NULL ids are ENFORCED in-plan — a scan-speed
      raise_error, not a validation pass — matching pack_concat's and
      duplicated_spans' fail-fast discipline.)
    - ``min_docs > 2``: shingles with 2 ≤ n_docs < min_docs belong to
      several documents, so the complement cannot attribute them — fall
      back to the probe join (AQE picks broadcast when the boilerplate
      vocabulary fits). Both paths reuse ``hashed`` when given.

    Output ∝ boilerplate incidence."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if hashed is None:
        hashed = shingle_hash_frame(corpus, text_col, id_col, n)
    per_doc = hashed.select(F.col(f"`{id_col}`"), "n_ngrams")
    if min_docs == 2:
        # A NULL id cannot be reached by the min(id) attribution below, so
        # a NULL-id doc would silently come out as ~100% boilerplate.
        # Enforce the docstring's non-NULL precondition IN the plan
        # (scan-speed per-row check, no extra validation pass) — same
        # fail-fast discipline as pack_concat / duplicated_spans.
        idc = F.col(f"`{id_col}`")
        guarded = F.when(idc.isNotNull(), idc).otherwise(
            F.raise_error(
                F.lit(
                    f"boilerplate_fractions: NULL {id_col} cannot be "
                    "attributed under the min_docs=2 complement plan"
                ).cast("string")
            )
        )
        per_doc = hashed.select(guarded.alias(id_col), "n_ngrams")
        ex = hashed.select(
            guarded.alias("__sid"), F.explode_outer("__hs").alias("__h")
        )
        uniq = (
            ex.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__nd"), F.min("__sid").alias("__only"))
            .filter(F.col("__nd") == 1)
            .groupBy("__only")
            .agg(F.count(F.lit(1)).alias("__n_uniq"))
        )
        return (
            # merge hint: `uniq` is doc-keyed (∝ corpus) but its
            # agg-output estimate can land under the broadcast
            # threshold (SCALE.md r12 class); sort-merge spills
            per_doc.join(
                uniq.hint("merge"), F.col(f"`{id_col}`") == F.col("__only"), "left"
            )
            .select(
                F.col(f"`{id_col}`"),
                (
                    F.col("n_ngrams") - F.coalesce(F.col("__n_uniq"), F.lit(0))
                ).alias("n_overlap"),
                "n_ngrams",
            )
            .filter(F.col("n_overlap") >= 1)
            .withColumn(
                "ratio", F.round(F.col("n_overlap") / F.col("n_ngrams"), 6)
            )
        )
    boiler = boilerplate_shingles(
        corpus, text_col, id_col, n, min_docs, hashed=hashed
    ).select(F.col("shingle_hash").alias("__h"))
    doc_grams = hashed.select(
        F.col(f"`{id_col}`"),
        "n_ngrams",
        F.explode_outer("__hs").alias("__h"),
    )
    return (
        # merge hint: the boilerplate vocabulary is ∝ the corpus's
        # distinct repeated shingles — data-sized, estimate-small
        # (SCALE.md r12 class; the same shape source_overlap_matrix
        # OOM'd on); unlike contaminated_docs' BENCHMARK set it cannot
        # be attested small, so it must never broadcast
        doc_grams.join(boiler.hint("merge"), "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.first("n_ngrams").alias("n_ngrams"),
        )
        .select(
            F.col(f"`{id_col}`"),
            "n_overlap",
            "n_ngrams",
            F.round(F.col("n_overlap") / F.col("n_ngrams"), 6).alias("ratio"),
        )
    )


# The bitmask overlap engine packs one bit per distinct source into a
# signed long: bits 0..62 (63 sources) keep every mask literal positive.
# Past the cap the collect_set fallback handles unbounded cardinality.
_OVERLAP_BITMASK_MAX_SOURCES = 63

_OVERLAP_SCHEMA = (
    "source_a string, source_b string, n_shared long, n_a long, "
    "n_b long, jaccard double"
)


def _source_overlap_bitmask(
    filtered: DataFrame,
    sources: list[str],
    source_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """Bitmask overlap engine for ≤63 sources — see
    ``source_overlap_matrix``'s scale-shape note. ``sources`` is the
    SORTED dictionary (bit i = sources[i], so i<j is exactly the
    lexicographic ``source_a < source_b`` output contract)."""
    spark = filtered.sparkSession
    if len(sources) < 2:
        # zero or one source → no pairs, matching the fallback's empty
        # join result
        return spark.createDataFrame([], _OVERLAP_SCHEMA)
    src = F.col(f"`{source_col}`")
    code = F.when(src == F.lit(sources[0]), F.lit(0))
    for i, s in enumerate(sources[1:], start=1):
        code = code.when(src == F.lit(s), F.lit(i))
    # a NULL source stays a NULL bit (bit_or skips it); a non-NULL source
    # the dictionary lacks would silently drop out of every pair: raise
    code = code.otherwise(
        F.when(
            src.isNotNull(),
            F.raise_error(
                F.concat(F.lit("source missing from the overlap dictionary: "), src)
            ),
        )
    )
    hashed = _with_shingle_hashes(
        _spread(filtered), text_col, n, "__hs"
    ).select(
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), code.cast("int")
        ).alias("__b"),
        F.explode_outer("__hs").alias("__h"),
    )
    per_hash = hashed.groupBy("__h").agg(F.bit_or("__b").alias("__m"))
    # Histogram the MASKS before fanning into per-pair counters: the
    # per-pair conditional sums are C(n_sources,2) expressions — run
    # over the corpus-vocab-sized per_hash frame they exceed the
    # whole-stage-codegen field budget (spark.sql.codegen.maxFields=100
    # → interpreted, measured ~1 s at sf0.1); over the mask histogram
    # (≤ distinct co-occurrence PATTERNS, a combinatorial quantity
    # map-combined down to far below the vocabulary) they are free. The
    # two corpus-sized aggregations (bit_or, count) each carry a single
    # codegen'd accumulator.
    mask_counts = per_hash.groupBy("__m").agg(F.count(F.lit(1)).alias("__cnt"))
    # One F.expr parse per array (the lit_array lesson: building
    # C(n_sources,2) aggregate expressions per-element over py4j costs
    # seconds of driver time PER QUERY CONSTRUCTION; a string parse is
    # milliseconds at any size). Only integers are interpolated — no
    # SQL-escaping concern; the source NAMES travel through the
    # driver-created meta frame below, never through SQL text.
    idx_pairs = [
        (i, j)
        for i in range(len(sources))
        for j in range(i + 1, len(sources))
    ]
    pair_sql = "array(" + ",".join(
        f"sum(if((__m & {(1 << i) | (1 << j)}L) = {(1 << i) | (1 << j)}L, __cnt, 0L))"
        for i, j in idx_pairs
    ) + ")"
    size_sql = "array(" + ",".join(
        f"sum(if((__m & {1 << i}L) != 0L, __cnt, 0L))"
        for i in range(len(sources))
    ) + ")"
    one = mask_counts.agg(
        F.expr(pair_sql).alias("__pc"), F.expr(size_sql).alias("__sc")
    )
    # posexplode the pair-count array and decode (i, j, names) from
    # literal lookup arrays — no join anywhere downstream of the mask
    # histogram (the r14 shape paid two size joins here).
    ia = F.expr("array(" + ",".join(str(i) for i, _ in idx_pairs) + ")")
    ja = F.expr("array(" + ",".join(str(j) for _, j in idx_pairs) + ")")
    srcs_lit = F.lit(sources)
    exploded = one.select(
        F.posexplode("__pc").alias("__k", "n_shared"), F.col("__sc")
    ).select(
        F.element_at(ia, F.col("__k") + 1).alias("__i"),
        F.element_at(ja, F.col("__k") + 1).alias("__j"),
        "n_shared",
        "__sc",
    )
    return (
        exploded.filter(F.col("n_shared") >= 1)
        .select(
            F.element_at(srcs_lit, F.col("__i") + 1).alias("source_a"),
            F.element_at(srcs_lit, F.col("__j") + 1).alias("source_b"),
            "n_shared",
            F.element_at("__sc", F.col("__i") + 1).alias("n_a"),
            F.element_at("__sc", F.col("__j") + 1).alias("n_b"),
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def source_overlap_matrix(
    corpus: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus SOURCES — the data-mixing
    audit question "how much of source A's content reappears in source
    B?" (mirror sites, syndication, cross-posted boilerplate), answered
    before sampling weights are assigned so shared mass is not double-
    counted.

    Returns one row per unordered source pair with any overlap:
    ``(source_a, source_b, n_shared, n_a, n_b, jaccard)`` —
    ``n_shared`` distinct n-gram hashes present in both sources'
    vocabularies, each side's vocabulary size, and
    ``jaccard = n_shared / (n_a + n_b − n_shared)`` rounded to 6 dp.
    Source order is lexicographic (``source_a < source_b``); NULL
    sources are excluded.

    Scale shape (r15, replacing the r14 collect_set shuffle — guide
    §2.3 "shuffle keys and metadata instead of payloads" / §5): one
    bounded dictionary probe (distinct sources, capped driver lift)
    assigns each source a BIT; the hashing pass emits (hash, source_bit)
    and the only corpus-vocab-sized shuffle aggregates a plain
    ``bit_or`` — 16 fixed bytes per distinct shingle hash instead of a
    per-hash java SET of source strings (narrower wire bytes AND no
    per-key set object in the agg buffers). Every pair count and both
    vocabulary sizes then ride ONE global conditional-sum aggregation
    over the (hash, mask) frame (C(n_sources,2)+n_sources codegen'd
    sums, partial-combined map-side → a single row), so the r14 shape's
    second pair-keyed shuffle, its two size joins and its interpreted
    per-row pair transform all disappear. Corpora with more than
    ``_OVERLAP_BITMASK_MAX_SOURCES`` distinct sources fall back to the
    r14 collect_set form (same values, unbounded source cardinality)."""
    src = F.col(f"`{source_col}`")
    filtered = corpus.filter(src.isNotNull())
    probe = [
        r[0]
        for r in filtered.select(src.alias("__src"))
        .distinct()
        .limit(_OVERLAP_BITMASK_MAX_SOURCES + 1)
        .collect()
    ]
    if len(probe) <= _OVERLAP_BITMASK_MAX_SOURCES:
        return _source_overlap_bitmask(
            filtered, sorted(probe), source_col, text_col, n
        )
    hashed = _with_shingle_hashes(
        _spread(filtered), text_col, n, "__hs"
    ).select(src.alias("__src"), F.explode_outer("__hs").alias("__h"))
    # r14 shape (kept as the >max_sources fallback): ONE hash-keyed
    # aggregation collects each shingle's SOURCE SET — bounded by
    # n_sources per hash, map-side combined — then the pair expansion
    # is a per-row transform over the sorted set (fan-out ≤
    # C(n_sources, 2), never data-sized) and the per-source vocabulary
    # sizes fall out of the same frame. The data-sized vocabulary is
    # never JOINED at all (measured 1.41 s → 1.07 s at sf0.1 vs the r12
    # vocabulary self-join). Values identical to the bitmask form.
    per_hash = hashed.groupBy("__h").agg(F.collect_set("__src").alias("__srcs"))
    srcs_sorted = F.array_sort(F.col("__srcs"))
    pair_structs = F.flatten(
        F.transform(
            srcs_sorted,
            lambda a, i: F.transform(
                F.slice(
                    srcs_sorted,
                    i + 2,
                    F.greatest(F.size(srcs_sorted) - i - 1, F.lit(0)),
                ),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    shared = (
        per_hash.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = (
        per_hash.select(F.explode("__srcs").alias("__src"))
        .groupBy("__src")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        shared.join(
            sizes.select(F.col("__src").alias("source_a"), F.col("__n").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("__src").alias("source_b"), F.col("__n").alias("n_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def drop_boilerplate_docs(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
    max_ratio: float = 0.5,
) -> DataFrame:
    """The applied form: drop documents whose boilerplate ratio exceeds
    ``max_ratio`` (mostly-templated pages); keep the rest."""
    heavy = boilerplate_fractions(corpus, text_col, id_col, n, min_docs).filter(
        F.col("ratio") > max_ratio
    )
    # merge hint: the flag set is doc-keyed and UNBOUNDED (a templated
    # crawl can flag most of the corpus) — estimate-small agg output,
    # the SCALE.md r12 class; unlike drop_contaminated's benchmark flag
    # set there is no smallness contract to attest, so it must spill
    return corpus.join(heavy.select(id_col).hint("merge"), id_col, "left_anti")


def drop_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """The applied form: corpus minus contaminated documents. The flag
    set is ∝ benchmark overlap — normally tiny, but a corpus that embeds
    the benchmark wholesale flags itself, so the anti-join broadcasts
    only when a runtime count verifies the set fits
    (``anti_join_ids``)."""
    from zx_spark.operators.dedup import anti_join_ids

    flagged = decontaminate(corpus, benchmark, text_col, id_col, n, min_overlap)
    return anti_join_ids(corpus, flagged.select(id_col), id_col)


# ---------------------------------------------------- line-level scrub
#
# CCNet/RefinedWeb-style LINE deduplication: a line whose trimmed form
# appears in >= min_docs distinct documents is boilerplate (nav bars,
# footers, cookie banners) and is REMOVED from every document, rewriting
# the text — the surgical counterpart of drop_boilerplate_docs (which
# drops whole documents). Same two-phase shape as the shingle paths: one
# corpus-statistics aggregation, then a map-side rewrite.


def repeated_line_hashes(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Document frequency of trimmed non-empty lines, thresholded:
    ``(line_hash, n_docs)`` for lines in >= ``min_docs`` distinct
    documents. One explode of per-doc DISTINCT lines + one hash agg
    keyed on the md5-60-bit line hash (shuffle ∝ distinct lines, never
    corpus bytes; grouping on the hash, not the line, keeps shuffle rows
    fixed-width — the oracle groups on the same hash)."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    tl = F.array_distinct(
        F.filter(
            # explicit lambda: passing F.trim directly would receive the
            # (element, index) pair and become two-arg TRIM
            F.transform(F.split(F.col(f"`{text_col}`"), "\n"), lambda l: F.trim(l)),
            lambda t: t != F.lit(""),
        )
    )
    return (
        _spread(corpus)
        .select(F.explode(tl).alias("__l"))
        .select(
            F.conv(F.substring(F.md5("__l"), 1, 15), 16, 10)
            .cast("long")
            .alias("line_hash")
        )
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def scrub_repeated_lines(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    out_col: str = "scrubbed",
    dropped_col: str = "n_lines_dropped",
    method: str = "broadcast",
) -> DataFrame:
    """Rewrite every document with its corpus-repeated lines removed:
    adds ``out_col`` (the scrubbed text — original line order and
    whitespace-only lines preserved, lines rejoined with ``\\n``) and
    ``dropped_col``. NULL text stays NULL.

    ``method='broadcast'`` (default): the hot-line hash set is collected
    into ONE sorted array literal and cross-joined as a broadcast
    single-row frame (the text.py corpus-count trick), so the rewrite is
    a pure map-side array filter — no reassembly shuffle at all. Right
    whenever the hot set fits an array (it is the *boilerplate
    vocabulary*, naturally ≪ corpus; membership is a linear array scan
    per line, fine to ~100k hot lines).

    ``method='join'``: fully unbounded — posexplode lines, anti-join the
    hot set (AQE picks broadcast when it fits), reassemble per document.
    Costs one corpus-sized reassembly shuffle; use it only when the hot
    set genuinely cannot travel as an array."""
    hot = repeated_line_hashes(corpus, text_col, id_col, min_docs)
    lines = F.split(F.col(f"`{text_col}`"), "\n")
    lh = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")  # noqa: E731
    if method == "broadcast":
        hot_row = hot.agg(F.sort_array(F.collect_list("line_hash")).alias("__hot"))
        kept = F.filter(
            lines,
            lambda l: (F.trim(l) == F.lit(""))
            | ~F.array_contains(F.col("__hot"), lh(F.trim(l))),
        )
        return (
            corpus.crossJoin(F.broadcast(hot_row))
            .withColumn(out_col, F.array_join(kept, "\n"))
            .withColumn(dropped_col, F.size(lines) - F.size(kept))
            .drop("__hot")
        )
    if method != "join":
        raise ValueError(f"method must be 'broadcast' or 'join', got {method!r}")
    ex = _spread(corpus).select(
        F.col(f"`{id_col}`").alias("__sid"),
        F.posexplode_outer(lines).alias("__pos", "__line"),
    )
    # merge hints (this join and the reassembly join below): the hot-line
    # vocabulary and the per-doc reassembly are both data-sized agg
    # outputs — the 'join' method exists precisely for corpora where the
    # broadcast method's hot set does NOT fit, so an estimate-driven
    # broadcast here would defeat it (SCALE.md r12 class)
    kept_rows = ex.join(
        hot.select(F.col("line_hash").alias("__h")).hint("merge"),
        lh(F.trim(F.col("__line"))) == F.col("__h"),
        "left_anti",
    )
    reassembled = kept_rows.groupBy("__sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
            "\n",
        ).alias("__scrub"),
        F.count(F.lit(1)).alias("__kept"),
    )
    joined = corpus.join(
        reassembled.hint("merge"), F.col(f"`{id_col}`") == F.col("__sid"), "left"
    ).drop("__sid")
    not_null = F.col(f"`{text_col}`").isNotNull()
    return joined.withColumn(
        out_col, F.when(not_null, F.coalesce(F.col("__scrub"), F.lit("")))
    ).withColumn(
        dropped_col,
        F.when(not_null, F.size(lines) - F.coalesce(F.col("__kept"), F.lit(0))),
    ).drop("__scrub", "__kept")


# ------------------------------------------------ semantic contamination
#
# The n-gram probe above misses PARAPHRASED leakage (a benchmark answer
# re-worded in the corpus shares no 5-gram). The embedding-side probe
# closes that: flag corpus vectors whose cosine against ANY benchmark
# vector exceeds a threshold. The benchmark is eval-set sized (10^2-10^5
# rows) and the corpus is the 100 TB side, so the shape mirrors
# `decontaminate`: the benchmark matrix is broadcast and the corpus is
# scanned ONCE, map-side, no shuffle — output ∝ contamination.


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_vec_col: str | None = None,
    bench_id_col: str | None = None,
    method: str = "numpy",
) -> DataFrame:
    """(id, nearest_bench_id, max_cosine) for every corpus vector with
    ``max_cosine >= threshold`` against the benchmark embeddings.

    ``method="numpy"`` (default): one BLAS matmul per Arrow batch
    against the broadcast benchmark matrix — the bulk path.
    ``method="jvm"``: the benchmark travels as one flattened literal
    array and a transform-loop computes the same scores as pure codegen
    expressions — no Python anywhere, ANSI-SQL-reproducible for an
    oracle; right for small benchmarks. Both take the FIRST benchmark
    index on tied scores; results are identical (pinned in tests).

    Ties/zeros: zero-norm vectors score 0 against everything. The
    benchmark is collected to the driver — it is an eval set, not a
    second corpus (guard: 100k rows)."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    bvec = bench_vec_col or vec_col
    bid = bench_id_col or id_col
    brows = benchmark.select(F.col(f"`{bid}`"), F.col(f"`{bvec}`")).collect()
    if not brows:
        raise ValueError("benchmark is empty")
    if len(brows) > 100_000:
        raise ValueError(
            f"benchmark has {len(brows)} rows — that is a corpus, not an "
            "eval set; use the pairwise similarity operators instead"
        )
    bench_ids = [r[0] for r in brows]
    # ids keep their own type (string eval-set ids are common); a mixed-
    # type id column can neither form one jvm literal array NOR survive
    # np.asarray (which would silently coerce ints to strings and then
    # conflict with the declared bench_id_field dtype) — validate once,
    # before either method branch
    id_types = {type(i) for i in bench_ids}
    if len(id_types) > 1:
        raise ValueError(
            f"benchmark ids mix types {sorted(t.__name__ for t in id_types)}"
        )
    B = np.asarray([list(map(float, r[1])) for r in brows], dtype=np.float64)
    Bn = B / (np.linalg.norm(B, axis=1, keepdims=True) + 1e-12)
    if method == "jvm":
        nb, dim = Bn.shape
        flat = lit_array([float(x) for row in Bn for x in row])
        ids_lit = lit_array(list(bench_ids))
        v = F.col(f"`{vec_col}`").cast("array<double>")
        norm = F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
        )
        vn = F.transform(v, lambda x: x / F.greatest(norm, F.lit(1e-12)))
        scored = F.transform(
            F.sequence(F.lit(0), F.lit(nb - 1)),
            lambda j: F.round(
                F.aggregate(
                    F.zip_with(
                        vn,
                        F.slice(flat, j * dim + 1, dim),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ),
        )
        best = F.array_max(F.col("__scores"))
        first_idx = F.array_position(F.col("__scores"), best)
        return (
            corpus.select(
                F.col(f"`{id_col}`"), scored.alias("__scores")
            )
            .select(
                F.col(f"`{id_col}`"),
                F.element_at(ids_lit, first_idx.cast("int")).alias(
                    "nearest_bench_id"
                ),
                best.alias("max_cosine"),
            )
            .filter(F.col("max_cosine") >= threshold)
        )
    if method != "numpy":
        raise ValueError(f"method must be 'numpy' or 'jvm', got {method!r}")
    import pandas as pd

    from pyspark.sql import types as T

    src_id_field = [f for f in corpus.schema.fields if f.name == id_col][0]
    # the nearest id is a BENCHMARK id — its type, not the corpus id's
    # (string eval-set ids against integer corpus ids are common)
    bench_id_field = [f for f in benchmark.schema.fields if f.name == bid][0]
    out_schema = T.StructType(
        [
            src_id_field,
            T.StructField("nearest_bench_id", bench_id_field.dataType),
            T.StructField("max_cosine", T.DoubleType()),
        ]
    )
    bids = np.asarray(bench_ids)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
            S = np.round(Xn @ Bn.T, 6)
            j = np.argmax(S, axis=1)  # first index on ties
            mx = S[np.arange(len(S)), j]
            keep = mx >= threshold
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "nearest_bench_id": bids[j[keep]],
                    "max_cosine": mx[keep],
                }
            )

    return _spread(corpus.select(id_col, vec_col)).mapInPandas(score, out_schema)
