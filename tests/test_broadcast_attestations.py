"""The hinted-broadcast ATTESTATION INVENTORY (VERDICT r13 item 1).

``assert_bounded_broadcasts`` passes author-hinted broadcasts by default
— the hint is the operator bounding the frame. That makes every
``F.broadcast``/``.hint("broadcast")`` site an attestation: a claim that
the hinted frame is bounded at any corpus size. Until this module, those
claims were docstring prose; a future data-sized ``F.broadcast`` — the
exact r12 source_overlap disease — would silently bypass the gate built
for it.

Three layers close the bypass:

1. STATIC inventory: an AST scan of the whole library finds every hint
   site and matches it against ``ATTESTATIONS`` — one reviewable entry
   per (file, function) with its documented bound and site count. A new
   hint site (or a new hint inside an already-attested function) fails
   until someone writes its bound down here.
2. DYNAMIC sweep: every driver-registry + bench-compat plan re-audited
   with the strict rule (``fail_hinted=True`` semantics): hinted
   UNTRUSTED broadcasts may appear only for names adjudicated in
   ``HINTED_UNTRUSTED_OK``; everything else must be hint-free-clean.
3. The count-gated anti-join class (``anti_join_ids``) unit-tested both
   sides of its threshold: under it the broadcast exists (a MEASURED
   bound), past it the plan holds no BroadcastExchange at all.
"""

from __future__ import annotations

import ast
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from zx_spark.plan import assert_bounded_broadcasts, broadcast_audit

SF = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------- layer 1
# (file, enclosing function) -> (n_call_sites, documented bound).
# EVERY broadcast-hint call site in the library must have an entry; the
# bound must say why the frame cannot be data-sized (or name the runtime
# check that verifies it). Adding a hint without an entry fails
# test_every_hint_site_is_attested — write the bound, don't widen a key.
ATTESTATIONS: dict[tuple[str, str], tuple[int, str]] = {
    ("__spark_entry__.py", "q_a_weighted_suite"): (
        1,
        "single-row stage-1 count frame (global aggregate output)",
    ),
    ("zx_spark/functions/text.py", "tf_idf"): (
        1,
        "single-row corpus doc-count frame (the vocabulary join above it "
        "is merge-pinned, NOT hinted broadcast)",
    ),
    ("zx_spark/operators/abtest.py", "two_proportion_z_test"): (
        1,
        "single-row arm stat frame (global aggregate per arm)",
    ),
    ("zx_spark/operators/abtest.py", "welch_t_test"): (
        1,
        "single-row arm stat frame (global aggregate per arm)",
    ),
    ("zx_spark/operators/datadrift.py", "categorical_psi"): (
        1,
        "one-row bin-count frame, width = len(categories)+1 literals",
    ),
    ("zx_spark/operators/datadrift.py", "numeric_psi"): (
        1,
        "one-row bin-count frame, width = n_bins literals",
    ),
    ("zx_spark/operators/decontaminate.py", "decontaminate"): (
        1,
        "benchmark n-gram set: eval benchmarks are thousands of docs by "
        "construction (module header contract) — never the corpus side",
    ),
    ("zx_spark/operators/decontaminate.py", "scrub_repeated_lines"): (
        1,
        "ONE collect_list row of hot-line hashes; hot set capped by the "
        "min_docs threshold (lines repeated across >= min_docs docs)",
    ),
    ("zx_spark/operators/dedup.py", "anti_join_ids"): (
        1,
        "runtime COUNT-GATED: broadcast only when the measured id set "
        "<= broadcast_threshold, else merge-pinned (tested both sides "
        "below) — the shared drop/flag-set anti-join for dedup, "
        "semdedup, decontaminate and the pipeline",
    ),
    ("zx_spark/operators/evaluate.py", "_scored"): (
        1,
        "single-row global min/max frame for score bucketing",
    ),
    ("zx_spark/operators/graph.py", "pagerank"): (
        3,
        "seed frame (caller's personalization set, counted non-empty; "
        "seeds are a hand-picked set by contract) + two single-row "
        "mass-total frames; the EDGE frame joins are merge-pinned",
    ),
    ("zx_spark/operators/joins.py", "resolve_entities"): (
        1,
        "runtime COUNT-GATED: component label frame broadcast only when "
        "measured <= broadcast_threshold, else merge-pinned",
    ),
    ("zx_spark/operators/packing.py", "pack_concat"): (
        1,
        "driver-created prefix-offset frame, <= n_parts rows",
    ),
    ("zx_spark/operators/search.py", "bm25_search"): (
        2,
        "single-row corpus stats frame + the QUERY term table (bounded "
        "by the caller's query batch, the serving contract)",
    ),
    ("zx_spark/operators/similarity.py", "_md5_sample_rows"): (
        1,
        "sampled id frame, <= ~1.5n rows for the caller's sample size n",
    ),
    ("zx_spark/operators/similarity.py", "ivfpq_topk"): (
        1,
        "ADC shortlist ids, <= the caller's rerank budget",
    ),
    ("zx_spark/operators/similarity.py", "pq_topk_rerank"): (
        1,
        "ADC shortlist ids, <= the caller's rerank budget",
    ),
    ("zx_spark/operators/windows.py", "with_session_windows"): (
        1,
        "groups x slices summary, hinted ONLY under the "
        "SESSION_SUMMARY_BROADCAST_MAX estimate check on the line above",
    ),
    ("zx_spark/storage.py", "compact_store"): (
        1,
        "one narrow count row per partition directory of the store "
        "being compacted (partition-value cardinality, not rows)",
    ),
}


def _scan_hint_sites() -> dict[tuple[str, str], int]:
    """(relpath, enclosing function) -> number of broadcast-hint call
    sites, over the whole library + the driver entry."""
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for base, _, fns in os.walk(os.path.join(REPO, "zx_spark")):
        files += [os.path.join(base, f) for f in fns if f.endswith(".py")]
    found: dict[tuple[str, str], int] = {}
    for path in files:
        tree = ast.parse(open(path).read())
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def enclosing(ln: int) -> str:
            best = None
            for s, e, name in spans:
                if s <= ln <= e and (best is None or s > best[0]):
                    best = (s, name)
            return best[1] if best else "<module>"

        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            is_hint = isinstance(f, ast.Attribute) and (
                f.attr == "broadcast"
                or (
                    f.attr == "hint"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == "broadcast"
                )
            )
            if is_hint:
                key = (os.path.relpath(path, REPO), enclosing(node.lineno))
                found[key] = found.get(key, 0) + 1
    return found


def test_every_hint_site_is_attested():
    found = _scan_hint_sites()
    missing = {k: n for k, n in found.items() if k not in ATTESTATIONS}
    assert not missing, (
        "broadcast hint site(s) without an attestation — a hinted "
        "broadcast bypasses the plan gate, so each site must record WHY "
        f"its frame is bounded (add entries to ATTESTATIONS): {missing}"
    )
    stale = {k for k in ATTESTATIONS if k not in found}
    assert not stale, f"attestations for removed hint sites: {stale}"
    drifted = {
        k: (found[k], ATTESTATIONS[k][0])
        for k in found
        if found[k] != ATTESTATIONS[k][0]
    }
    assert not drifted, (
        "hint-site count changed inside attested function(s) "
        "(found != attested) — re-adjudicate the new/removed site: "
        f"{drifted}"
    )


# ---------------------------------------------------------------- layer 3


def _ids_and_drop(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    drop = (
        df.select(F.xxhash64("text").alias("__h"), "doc_id")
        .groupBy("__h")
        .agg(F.min("doc_id").alias("doc_id"))
        .limit(2000)
        .select("doc_id")
    )
    return df, drop


def test_anti_join_ids_broadcasts_only_under_measured_count(spark):
    from zx_spark.operators.dedup import anti_join_ids

    df, drop = _ids_and_drop(spark)
    small = anti_join_ids(df, drop, "doc_id")
    rep = broadcast_audit(small)
    assert any(e["hinted"] for e in rep), rep  # measured-small: broadcast
    assert_bounded_broadcasts(small)

    pinned = anti_join_ids(df, drop, "doc_id", broadcast_threshold=0)
    rep2 = broadcast_audit(pinned)
    assert rep2 == [], rep2  # past the bound: NO broadcast exchange
    assert_bounded_broadcasts(pinned, fail_hinted=True)
    # identical rows either side of the gate
    assert sorted(r["doc_id"] for r in small.select("doc_id").collect()) == (
        sorted(r["doc_id"] for r in pinned.select("doc_id").collect())
    )


def test_drop_operators_use_count_gate(spark):
    """The applied removal forms (near-dup drop, contamination drop) run
    the strict audit: any untrusted broadcast they carry must be the
    count-gated hint, never a silent Catalyst estimate."""
    from zx_spark.operators.decontaminate import drop_contaminated
    from zx_spark.operators.dedup import drop_by_components

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    bench = docs.limit(20).select("text")
    for name, out in {
        "drop_by_components": drop_by_components(docs, pairs, "doc_id"),
        "drop_contaminated": drop_contaminated(
            docs, bench, text_col="text", id_col="doc_id"
        ),
    }.items():
        rep = assert_bounded_broadcasts(out)  # no UNHINTED untrusted
        for e in rep:
            assert e["level"] != "untrusted" or e["hinted"], (name, rep)


# ---------------------------------------------------------------- layer 2
# Names whose plans legitimately carry a hinted UNTRUSTED broadcast, with
# the adjudicated bound. Everything else must pass fail_hinted=True.
HINTED_UNTRUSTED_OK: dict[str, str] = {
    # bench_grams: the benchmark n-gram set (decontaminate contract —
    # eval benchmarks are thousands of docs; the corpus side streams)
    "decontaminate_ngrams": "benchmark n-gram set",
    "decontaminate_ngrams_v2": "benchmark n-gram set",
}

_BOUNDED_KEYS = {
    "decontaminate_ngrams": ("__src", "source_a", "source_b"),
    "op_source_overlap": ("__src", "source_a", "source_b"),
}


def _pools():
    import __spark_entry__ as entry

    reg = entry.queries()
    compat = {k: v for k, v in entry.BENCH_COMPAT.items() if k not in reg}
    return {**reg, **compat}


def test_registry_strict_hint_audit(spark, registry_frames):
    """fail_hinted=True over the full registry + bench-compat pool,
    with HINTED_UNTRUSTED_OK as the single reviewable waiver list: a
    new data-sized F.broadcast anywhere in a shipped plan fails here
    until its bound is adjudicated above.

    ONE consolidated pass over session-shared frames (r15, VERDICT r14
    item 1): the per-name parametrize rebuilt every query — including
    the expensive eager-construction rows (ann_ivf_topk ~30 s,
    emb_near_pairs_lsh ~27 s) — once here and again in
    test_broadcast_audit's bound sweep. Same names, same assertions,
    every failure still reported per name."""
    failures = []
    for name in sorted(_pools()):
        base = name.rsplit("_v", 1)[0]
        bk = _BOUNDED_KEYS.get(name, _BOUNDED_KEYS.get(base, ()))
        try:
            df = registry_frames(name)
            if name in HINTED_UNTRUSTED_OK:
                rep = assert_bounded_broadcasts(df, bounded_keys=bk)
                hinted = [
                    e for e in rep if e["level"] == "untrusted" and e["hinted"]
                ]
                assert hinted, (
                    f"{name} is waived in HINTED_UNTRUSTED_OK but its plan "
                    "has no hinted untrusted broadcast — remove the stale "
                    "waiver"
                )
            else:
                assert_bounded_broadcasts(df, bounded_keys=bk, fail_hinted=True)
        except Exception as e:  # a frame that fails to build fails too
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "strict hint audit failures:\n" + "\n".join(failures)
