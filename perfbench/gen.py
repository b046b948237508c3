"""Seeded input generator for the benchmark workloads.

Every input is derived from ``--seed`` alone; nothing is read from outside
the checkout or downloaded. Columns and distributions follow the sf0.1
driver tables, measured once with DuckDB over ``documents.parquet`` and
``events.parquet`` and recorded here as constants:

- ``documents`` (5,000 rows: doc_id, text, lang, source, n_chars): each
  text is one line of 10–100 words, word count uniform (every decile
  holds 509–592 docs; median 54, n_chars 44–577, median 295), drawn
  uniformly from 30 lower-case words (8.8k–9.2k occurrences each, plus a
  rare ``dup`` marker); ``lang`` en 41 %, zh/es/fr 15 % each, de 14 %;
  ``source`` src0–src19, 250 docs each.
- ``events`` (100,000 rows over 30 days, about 3.3k a day: event_id, ts,
  user_id, event_type, value, props): 1,500 users, 56–86 events each
  (10th–90th percentile); five event types, 19.8k–20.3k rows each;
  ``value`` exponential with mean 50 (measured mean 49.87, median 34.77,
  max 560.21), rounded to cents; ``props`` ``{"k": n}`` with n in 0–99.

The generated inputs keep these per-row distributions and change what
the workloads need:

- ``corpus`` (``curate_batch``): 5k sf0.1-shaped documents (sf0.1's
  count) plus planted outcomes the curation pipeline must produce — near-duplicate copies, PII,
  benchmark-contaminated docs, templated boilerplate docs, a repeated
  footer line (a second line, on 12 % of docs), and re-ingested copies of
  a previous batch (``history``) whose signatures the pipeline is given.
  The texts are drawn from the measured distribution, not copied from
  sf0.1, so copies of one sf0.1 doc never meet as unplanted near-dups.
- ``ingest`` (``ingest_mixed``): a day-partitioned base store and a stream
  of 20k-row event batches moving forward six hours each (a denser day
  than sf0.1's). Events carry a sparse ``tag`` column that sf0.1 lacks
  (15 % of rows set, so grouping on it exercises the ``__nil`` key);
  every third batch omits the ``tag`` and ``props`` columns;
  correction/delete sets for the merges are drawn from a batch already
  written.

Each generated table is recorded with its rows, in-memory bytes and a
content hash (``Inputs.manifest``); the same seed gives the same hash.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
TAGS = np.array(["alpha", "beta", "gamma", "delta"])
T0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 10**6

N_USERS = 1_500

CORPUS_DOCS = 5_000
HISTORY_DOCS = 1_000
N_SOURCES = 20
# the sf0.1 documents vocabulary (each word about equally frequent)
WORDS = np.array(sorted(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
))
DOC_WORDS = (10, 100)  # words per document, uniform, inclusive
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_SHARE = np.array([0.41, 0.15, 0.15, 0.15, 0.14])

INGEST_BASE_ROWS = 100_000
INGEST_BASE_DAYS = 10
INGEST_BATCH_ROWS = 20_000
INGEST_BATCH_SPAN_US = 6 * 3600 * 10**6
INGEST_SPARSE_EVERY = 3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def table_hash(t: pa.Table) -> str:
    """Content hash of a table (schema + values), independent of chunking."""
    h = hashlib.sha256()
    h.update(t.schema.to_string().encode())
    for col in t.combine_chunks().columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


@dataclass
class Inputs:
    """Generated tables by name, plus their manifest."""

    tables: dict[str, pa.Table] = field(default_factory=dict)

    def add(self, name: str, t: pa.Table) -> pa.Table:
        self.tables[name] = t
        return t

    @property
    def manifest(self) -> dict[str, dict]:
        return {
            n: {"rows": t.num_rows, "bytes": t.nbytes, "sha256": table_hash(t)}
            for n, t in self.tables.items()
        }

    def content_hash(self) -> str:
        h = hashlib.sha256()
        for n, m in sorted(self.manifest.items()):
            h.update(f"{n}:{m['rows']}:{m['sha256']}".encode())
        return h.hexdigest()


# ------------------------------------------------------------------ events


def events(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    t_lo_us: int,
    t_hi_us: int,
    n_users: int,
    sparse: bool = False,
) -> pa.Table:
    """``n`` events with ids ``first_id..``, timestamps uniform in
    [t_lo, t_hi) (sorted, so ids follow time like an append log)."""
    ts = np.sort(rng.integers(t_lo_us, t_hi_us, n))
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
    }
    if not sparse:
        cols["props"] = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])
        present = rng.random(n) < 0.15
        tag = TAGS[rng.integers(0, len(TAGS), n)].astype(object)
        tag[~present] = None
        cols["tag"] = pa.array(tag, pa.string())
    cols["event_date"] = pa.array(
        (ts // DAY_US).astype("datetime64[D]").astype(str)
    )
    return pa.table(cols)


def write_store(t: pa.Table, path: str) -> None:
    """Write a day-partitioned (``event_date=``) parquet store."""
    pads.write_dataset(
        t,
        path,
        format="parquet",
        partitioning=pads.partitioning(
            pa.schema([("event_date", pa.string())]), flavor="hive"
        ),
        existing_data_behavior="overwrite_or_ignore",
    )


# ------------------------------------------------------------------ corpus

def _doc(rng: np.random.Generator) -> str:
    """One sf0.1-shaped document: one line of 10–100 words."""
    n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
    return " ".join(WORDS[rng.integers(0, len(WORDS), n)])


FOOTERS = [
    "all rights reserved by the example network",
    "subscribe to our newsletter for weekly updates",
    "read more stories from this section",
]
PII_SNIPPETS = [
    "contact {w}{i}@example.com for details",
    "call 555-{a:03d}-{b:04d} today",
    "server at 10.{a}.{c}.{d} responded",
]


def corpus(seed: int, inp: Inputs) -> dict:
    """The ``curate_batch`` inputs: corpus, history batch, benchmark set.

    Returns the planted id sets the correctness gate checks."""
    rng = _rng(seed, 200)

    history_text = [_doc(rng) for _ in range(HISTORY_DOCS)]
    history_ids = np.arange(10_000_000, 10_000_000 + HISTORY_DOCS)
    bench_text = [
        " ".join(WORDS[rng.integers(0, len(WORDS), 30)]) for _ in range(20)
    ]

    texts = [_doc(rng) for _ in range(CORPUS_DOCS)]
    ids = list(range(CORPUS_DOCS))
    kind = rng.permutation(CORPUS_DOCS)
    n = CORPUS_DOCS // 50  # 2% per planted class
    pii_ids = kind[:n]
    contaminated_ids = kind[n : 2 * n]
    boiler_ids = kind[2 * n : 3 * n]
    footer_ids = kind[3 * n : 9 * n]  # 12% carry a repeated footer line
    originals = kind[9 * n : 10 * n]  # clean docs that get near-dup copies

    templates = [" ".join(WORDS[rng.integers(0, len(WORDS), 40)]) for _ in range(3)]
    for i in pii_ids:
        snippet = PII_SNIPPETS[i % len(PII_SNIPPETS)].format(
            w=WORDS[i % len(WORDS)], i=i, a=int(rng.integers(10, 250)),
            b=int(rng.integers(0, 10000)), c=int(rng.integers(0, 250)),
            d=int(rng.integers(1, 250)),
        )
        texts[i] = texts[i] + "\n" + snippet
    for i in contaminated_ids:
        b = bench_text[i % len(bench_text)].split()
        start = int(rng.integers(0, len(b) - 13))
        # inside the doc's line: a line shared by two docs would be removed
        # by the line scrub before decontamination sees it
        texts[i] = texts[i] + " " + " ".join(b[start : start + 13])
    for i in boiler_ids:
        texts[i] = templates[i % 3] + " " + " ".join(WORDS[rng.integers(0, len(WORDS), 5)])
    for i in footer_ids:
        texts[i] = texts[i] + "\n" + FOOTERS[i % len(FOOTERS)]

    # near-dup copies (a trailing token appended) get ids above every
    # original, so the greedy keep-lowest-id rule must drop the copy; the
    # copy's line differs from its original's, so the line scrub keeps both
    dup_ids = []
    for j, i in enumerate(originals):
        ids.append(CORPUS_DOCS + j)
        texts.append(texts[i] + " " + WORDS[int(rng.integers(0, len(WORDS)))])
        dup_ids.append(CORPUS_DOCS + j)
    # re-ingested history docs: near copies of the previous batch
    rehist_ids = []
    for j, h in enumerate(rng.choice(HISTORY_DOCS, n, replace=False)):
        ids.append(2 * CORPUS_DOCS + j)
        texts.append(history_text[h] + " " + WORDS[int(rng.integers(0, len(WORDS)))])
        rehist_ids.append(2 * CORPUS_DOCS + j)

    lang_rng = _rng(seed, 201)

    def docs(ids_, texts_):
        ids_ = np.asarray(ids_, dtype=np.int64)
        return pa.table(
            {
                "doc_id": ids_,
                "text": pa.array(texts_),
                "lang": pa.array(lang_rng.choice(LANGS, len(ids_), p=LANG_SHARE)),
                "source": pa.array([f"src{i % N_SOURCES}" for i in ids_]),
                "n_chars": pa.array([len(t) for t in texts_], pa.int64()),
            }
        )

    inp.add("corpus", docs(ids, texts))
    inp.add("history", docs(history_ids, history_text))
    inp.add("benchmark", pa.table({"text": pa.array(bench_text)}))
    return {
        "near_dup": sorted(dup_ids),
        "history_dup": sorted(rehist_ids),
        "contaminated": sorted(int(i) for i in contaminated_ids),
        "boilerplate": sorted(int(i) for i in boiler_ids),
        "pii": sorted(int(i) for i in pii_ids),
    }


# ------------------------------------------------------------------ ingest


def ingest_base(seed: int, inp: Inputs) -> pa.Table:
    return inp.add(
        "ingest_base",
        events(
            _rng(seed, 300),
            INGEST_BASE_ROWS,
            first_id=0,
            t_lo_us=T0_US,
            t_hi_us=T0_US + INGEST_BASE_DAYS * DAY_US,
            n_users=N_USERS,
        ),
    )


def ingest_batch(seed: int, cycle: int) -> pa.Table:
    """Batch ``cycle`` of the ingest stream: the next six hours of events,
    ids continuing the base store's."""
    lo = T0_US + INGEST_BASE_DAYS * DAY_US + cycle * INGEST_BATCH_SPAN_US
    return events(
        _rng(seed, 1000 + cycle),
        INGEST_BATCH_ROWS,
        first_id=INGEST_BASE_ROWS + cycle * INGEST_BATCH_ROWS,
        t_lo_us=lo,
        t_hi_us=lo + INGEST_BATCH_SPAN_US,
        n_users=N_USERS,
        sparse=cycle % INGEST_SPARSE_EVERY == 1,
    )


def corrections(
    seed: int, cycle: int, batch: pa.Table, n_update: int = 400, n_delete: int = 200
) -> pa.Table:
    """A late-correction batch over rows of ``batch`` (written earlier in
    the same cycle, so no key is corrected twice): ``n_update`` new values
    and ``n_delete`` deletes, one row per key, every store column present
    (NULL where the batch was sparse)."""
    rng = _rng(seed, 5000 + cycle)
    pick = rng.choice(batch.num_rows, n_update + n_delete, replace=False)
    rows = batch.take(pa.array(np.sort(pick)))
    is_del = np.zeros(rows.num_rows, dtype=bool)
    is_del[rng.choice(rows.num_rows, n_delete, replace=False)] = True
    value = np.round(rows.column("value").to_numpy() + rng.uniform(1, 10, rows.num_rows), 2)
    rows = rows.set_column(rows.schema.get_field_index("value"), "value", pa.array(value))
    for col in ("props", "tag"):  # a sparse batch lacks them; updates carry every column
        if col not in rows.column_names:
            rows = rows.append_column(col, pa.nulls(rows.num_rows, pa.string()))
    return rows.append_column("is_delete", pa.array(is_del))


def build(seed: int, workload: str, workdir: str) -> tuple[Inputs, dict]:
    """Generate (and write under ``workdir``) the inputs of ``workload``.

    Returns the inputs and a dict of paths/planted sets for the workload."""
    inp = Inputs()
    info: dict = {}
    if workload == "curate_batch":
        info["planted"] = corpus(seed, inp)
        for name in ("corpus", "history", "benchmark"):
            info[name + "_path"] = os.path.join(workdir, name + ".parquet")
            pq.write_table(inp.tables[name], info[name + "_path"])
    elif workload == "ingest_mixed":
        ingest_base(seed, inp)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return inp, info
