"""The benchmark workloads.

A workload generates its inputs in ``__init__`` (not timed). ``setup``
registers the inputs with a fresh session and runs one warm-up operation;
``prime`` runs every other kind of operation once, so the timed loop
starts warm (both count as set-up). ``op`` runs the next operation of a
fixed round (timed); a round holds every kind once, so each round has the
same mix. Correctness checks run outside the timed windows.

Each ``op`` returns an ``Op``: the latency the workload reports, the items
and seconds its throughput counts, and whether a check failed. The
program is called only through public functions looked up on their
modules at call time, so the tracer's wrappers see the calls.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

import gen
import queries

from zx_spark import pipeline, storage
from zx_spark.api import ZX
from zx_spark.functions.pii import PII_PATTERNS

now = time.perf_counter


@dataclass
class Op:
    latency_s: float
    items: float
    items_s: float
    failed: bool = False


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    """Shared plumbing: the ledger hook of a traced run, per-op counters."""

    name = ""
    round_len = 1

    def __init__(self, seed: int, workdir: str):
        self.seed, self.workdir = seed, workdir
        self.ledger = None  # set by the runner around traced operations
        self.counters: dict[str, float] = defaultdict(float)
        self.untimed_s = 0.0  # benchmark-side work (checks, expectations)
        self.failures = 0  # checks failed outside any operation

    @contextmanager
    def untimed(self):
        """Benchmark-side work inside set-up or an operation: excluded
        from set-up time and from the ledger's operation wall time."""
        t0 = now()
        try:
            yield
        finally:
            self.untimed_s += now() - t0

    def items_per_s(self, ops: list[Op]) -> float:
        """Throughput of the timed operations: items over their seconds."""
        return sum(o.items for o in ops) / sum(o.items_s for o in ops)

    def layer_metrics(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------- curate_batch

PII_RE = re.compile("|".join(p for _, p, _ in PII_PATTERNS))


class CurateBatch(Workload):
    """``pipeline.curate_corpus`` passes, each materialised by ``count()``.

    Each kind of pass enables one group of stages (exact dedup always
    runs); a round runs every kind once, so every stage runs each round.
    Stacking every stage into one call costs minutes per pass at this size
    (the plan re-derives its input under each self-join), longer than one
    benchmark run may take."""

    name = "curate_batch"

    def __init__(self, seed, workdir):
        super().__init__(seed, workdir)
        self.inputs, self.info = gen.build(seed, self.name, workdir)
        self.n_docs = self.inputs.tables["corpus"].num_rows
        # kind -> curate_corpus arguments (history and decontaminate get
        # their session-bound inputs in _pass)
        self.kinds = {
            "scrub": dict(scrub_pii=True, scrub_lines=True, sample_rate=0.9,
                          split_weights=[0.9, 0.1], seed=seed),
            "boilerplate": dict(boilerplate_max_ratio=0.5),
            "near_dup": dict(near_dup_threshold=0.7),
            "history": dict(history_threshold=0.5),
            "decontaminate": {},
            "mix": dict(mix_proportions={f"src{i}": 1.0 / gen.N_SOURCES
                                         for i in range(gen.N_SOURCES)}, seed=seed),
        }
        self.round_len = len(self.kinds)
        self.expected: dict[str, int] = {}
        self.kept_hashes: set[str] = set()
        self.i = 0

    def _pass(self, kind: str):
        kw = dict(self.kinds[kind])
        if kind == "history":
            kw["history_signatures"] = self.hist_sigs
        if kind == "decontaminate":
            kw["benchmark"] = self.benchmark
        return pipeline.curate_corpus(self.corpus, **kw)

    def setup(self, spark):
        from zx_spark.operators.dedup import signature_table

        self.corpus = spark.read.parquet(self.info["corpus_path"])
        self.benchmark = spark.read.parquet(self.info["benchmark_path"])
        sig_path = os.path.join(self.workdir, "history_sigs")
        signature_table(
            spark.read.parquet(self.info["history_path"]), "text", "doc_id"
        ).write.mode("overwrite").parquet(sig_path)
        self.hist_sigs = spark.read.parquet(sig_path)
        self._checked_pass("scrub")

    def prime(self):
        for kind in list(self.kinds)[1:]:
            self._checked_pass(kind)

    def _checked_pass(self, kind: str) -> None:
        """A collected pass whose output is checked against the planted
        outcomes (the check itself is not set-up time)."""
        kept = self._pass(kind).select("doc_id", "text").collect()
        with self.untimed():
            self._check_kept(kind, kept)

    def _check_kept(self, kind: str, kept) -> None:
        ids = sorted(r.doc_id for r in kept)
        planted = self.info["planted"]
        problems = []
        drops = {"near_dup": "near_dup", "history": "history_dup",
                 "decontaminate": "contaminated", "boilerplate": "boilerplate"}
        if kind in drops and set(planted[drops[kind]]) & set(ids):
            problems.append(f"planted {drops[kind]} docs kept")
        if kind == "scrub":
            if any(PII_RE.search(r.text) for r in kept):
                problems.append("PII left in kept text")
            if any(f in r.text for r in kept for f in gen.FOOTERS):
                problems.append("repeated footer line left in kept text")
            self.kept_hashes.add(hashlib.sha256(repr(ids).encode()).hexdigest())
            if len(self.kept_hashes) > 1:
                problems.append("kept-id set differs between passes")
        if self.expected.setdefault(kind, len(ids)) != len(ids):
            problems.append(f"kept {len(ids)} docs, an earlier pass kept {self.expected[kind]}")
        for p in problems:
            log(f"curate_batch [{kind}]: {p}")
        self.failures += len(problems)

    def op(self) -> Op:
        kind = list(self.kinds)[self.i % self.round_len]
        self.i += 1
        if self.ledger is None:
            t0 = now()
            n = self._pass(kind).count()
            dt = now() - t0
        else:
            m0 = self.ledger.mark()
            t0 = now()
            out = self._pass(kind)
            build = now() - t0
            with self.untimed():
                self.counters["build_jobs"] += self.ledger.since(m0)["jobs"]
            t1 = now()
            n = out.count()
            action = now() - t1
            self.counters["build_s"] += build
            self.counters["action_s"] += action
            self.counters["passes"] += 1
            dt = build + action
        bad = n != self.expected[kind]
        if bad:
            log(f"curate_batch [{kind}]: pass kept {n} docs, checked pass kept {self.expected[kind]}")
        return Op(dt, self.n_docs, dt, failed=bad)

    def items_per_s(self, ops: list[Op]) -> float:
        """Input docs over the median pass time."""
        return self.n_docs / statistics.median(o.latency_s for o in ops)

    def check(self) -> int:
        """One more collected scrub pass: its kept ids (after PII scrub,
        line scrub, sample and split) must equal the set-up pass's."""
        self._checked_pass("scrub")
        return self.failures

    def layer_metrics(self):
        n = max(1.0, self.counters["passes"])
        return {
            "curate.build_s": self.counters["build_s"] / n,
            "curate.action_s": self.counters["action_s"] / n,
            "curate.build_jobs": self.counters["build_jobs"] / n,
        }


# --------------------------------------------------------------- ingest_mixed


class IngestMixed(Workload):
    """Appends, merges, compactions and read-after-write zx queries on one
    day-partitioned store.

    Every cycle appends a batch with ``storage.write_events`` and then
    reads with ``ZX.sql``, one query template per cycle over the most
    recent day and a half; a round is one cycle per template. The last
    cycle but one of a round also merges late corrections and deletes
    (``storage.merge_upsert``); the last one compacts
    (``storage.compact_store``)."""

    name = "ingest_mixed"
    round_len = len(queries.TEMPLATES)

    def __init__(self, seed, workdir):
        super().__init__(seed, workdir)
        self.inputs, _ = gen.build(seed, self.name, workdir)
        self.store = os.path.join(workdir, "ingest_store")
        self.rng = np.random.default_rng([seed, 400])
        self.user_bytes = self.bytes_written = 0.0
        self.files_at_read: list[int] = []

    def setup(self, spark):
        with self.untimed():
            shutil.rmtree(self.store, ignore_errors=True)
            base = self.inputs.tables["ingest_base"]
            gen.write_store(base, self.store)
            self.live = _model(base)
            self.cycle = 0
        self.spark = spark
        self.zx = ZX(spark, events_path=self.store, id_col="event_id")
        self.failures += self._cycle(queries.TEMPLATES[0]).failed

    def prime(self):
        # a whole round: the write, merge and compact paths warm up over
        # several calls, not one (one primed cycle left the first timed
        # round's writes ~20 % slower than the second's)
        for _ in range(self.round_len):
            self.failures += self.op().failed

    def op(self) -> Op:
        k = self.cycle % self.round_len
        return self._cycle(
            queries.TEMPLATES[k], merge=k == self.round_len - 2, compact=k == self.round_len - 1
        )

    def _store_call(self, fn, *args, **kwargs) -> float:
        with self.untimed():
            before = _tree_files(self.store)
        t0 = now()
        fn(*args, **kwargs)
        dt = now() - t0
        with self.untimed():
            after = _tree_files(self.store)
            self.bytes_written += sum(s for p, s in after.items() if p not in before)
        return dt

    def _cycle(self, template, merge=False, compact=False) -> Op:
        c = self.cycle
        self.cycle += 1
        with self.untimed():
            batch = gen.ingest_batch(self.seed, c)
            pdf = _to_pandas(batch.drop(["event_date"]))
        rows, self.user_bytes = batch.num_rows, self.user_bytes + batch.nbytes
        spent = self._store_call(storage.write_events, self.spark.createDataFrame(pdf), self.store)
        with self.untimed():
            self.live = _model(batch, self.live)
        if merge:
            with self.untimed():
                corr = gen.corrections(self.seed, c, batch)
                pdf = _to_pandas(corr, date_col="event_date")
            self.user_bytes += corr.nbytes
            spent += self._store_call(
                storage.merge_upsert, self.spark, self.store,
                self.spark.createDataFrame(pdf), ["event_id"], delete_col="is_delete",
            )
            rows += corr.num_rows
            with self.untimed():
                self.live = _apply_corrections(self.live, corr.to_pandas())
        if compact:
            spent += self._store_call(storage.compact_store, self.spark, self.store)

        dt, ok = self._read(template)
        return Op(dt, rows, spent, failed=not ok)

    def _read(self, template) -> tuple[float, bool]:
        """One read-after-write query over the last 36 hours; returns its
        latency and whether it passed the checks."""
        with self.untimed():
            hi = int(self.live["ts_us"].max()) // 10**6 + 1
            lo = hi - 36 * 3600
            q = template(self.rng, lo, hi)
            if self.ledger is not None:
                self.files_at_read.append(len(_tree_files(self.store)))
                m0 = self.ledger.mark()
        t0 = now()
        res = self.zx.sql(q.text)
        dt = now() - t0
        with self.untimed():
            if self.ledger is not None:
                self.counters["read_input_rows"] += self.ledger.since(m0)["input_rows"]
                self.counters["read_rows_out"] += _rows_out(res)
            ok = self._check_read(q, res, lo)
        return dt, ok

    def _check_read(self, q, res, lo: int) -> bool:
        """The read against DuckDB over the same files, and the files
        against the acknowledged writes (count and value sum since ``lo``)."""
        import duckdb

        con = duckdb.connect()
        try:
            src = queries.duck_source(self.store)
            same = queries.same(
                q.normalize_zx(res), q.normalize_duck(con.execute(q.duck_sql(src)).fetchall())
            )
            got = con.execute(
                f"SELECT count(*), coalesce(sum(value), 0) FROM {src} "
                f"WHERE epoch_us(ts) >= {lo * 10**6}"
            ).fetchone()
        finally:
            con.close()
        recent = self.live[self.live["ts_us"] >= lo * 10**6]
        acked = got[0] == len(recent) and queries.same(got[1], float(recent["value"].sum()))
        if not same:
            log(f"ingest_mixed: zx answer differs from DuckDB for {q.text!r}")
        if not acked:
            log(f"ingest_mixed: store holds {got} since {lo}, acknowledged {len(recent)} rows")
        return same and acked

    def check(self) -> int:
        """Every acknowledged row readable through Spark after the merges,
        deletes and compactions: count and checksums over the whole store."""
        from pyspark.sql import functions as F

        got = (
            self.spark.read.option("mergeSchema", "true").parquet(self.store)
            .agg(F.count("*"), F.sum("event_id"), F.sum("value"))
            .collect()[0]
        )
        want = (len(self.live), int(self.live.index.to_numpy().sum()), float(self.live["value"].sum()))
        ok = got[0] == want[0] and got[1] == want[1] and queries.same(got[2], want[2])
        if not ok:
            log(f"ingest_mixed: store holds {tuple(got)}, acknowledged {want}")
        return self.failures + (0 if ok else 1)

    def layer_metrics(self):
        files = _tree_files(self.store)
        return {
            "storage.write_amp": self.bytes_written / max(1.0, self.user_bytes),
            "storage.files_at_read": float(np.mean(self.files_at_read)) if self.files_at_read else 0.0,
            "storage.store_bytes_per_row": sum(files.values()) / max(1, len(self.live)),
            "storage.rows_read_per_row_out": (
                self.counters["read_input_rows"] / self.counters["read_rows_out"]
                if self.counters["read_rows_out"] else 0.0
            ),
        }


def _rows_out(res) -> int:
    if isinstance(res, dict):
        return sum(len(next(iter(by_key.values()))["data"]) for by_key in res.values())
    return len(res)


def _model(batch, live=None):
    """The acknowledged store: live rows by event_id."""
    import pandas as pd

    df = batch.select(["event_id", "event_type", "value"]).to_pandas()
    df["ts_us"] = batch.column("ts").cast("int64").to_numpy()
    df = df.set_index("event_id")
    return df if live is None else pd.concat([live, df])


def _apply_corrections(live, corr):
    dels = corr.loc[corr["is_delete"], "event_id"]
    upd = corr.loc[~corr["is_delete"]].set_index("event_id")["value"]
    live = live.drop(index=dels)
    live.loc[upd.index, "value"] = upd
    return live


def _to_pandas(t, date_col: str | None = None):
    """Arrow batch -> pandas frame that Spark maps to the store's types
    (UTC timestamps, a date partition column)."""
    import pandas as pd

    df = t.to_pandas()
    df["ts"] = df["ts"].dt.tz_localize("UTC")
    if date_col:
        df[date_col] = pd.to_datetime(df[date_col]).dt.date
    return df


WORKLOADS = {w.name: w for w in (CurateBatch, IngestMixed)}
