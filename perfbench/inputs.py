"""Seeded inputs: page corpora, query streams and the gate tables.

The program receives only what this module writes. The same seed gives
the same inputs.

Why the corpus is generated over a doc-id range: the package's generator
(``sources/pages.py``) folds the module constant ``SEED`` into every row's
RNG (``_doc_rng(i)``), and its ``seed`` argument only re-hashes the URLs,
so ``write_pages_table*(seed=...)`` yields the same document text for
every seed. Each row is a pure function of its doc id, so the benchmark
draws a seed-derived id range instead; the base corpus and the ingest
delta get disjoint ranges, so promoted documents are new text.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np

from honeywell_search_engine_spark.functions.analyzer import STOPWORDS, analyze
from honeywell_search_engine_spark.index.corpus import docid_py
from honeywell_search_engine_spark.sources import pages as P

# doc-id ranges: seed s, slot j -> [(s mod RANGES) * SLOTS * SPAN + j * SPAN, +n)
SPAN = 100_000
SLOTS = 2
RANGES = 1009


def doc_ids(seed: int, slot: int, n: int) -> np.ndarray:
    if not 0 <= slot < SLOTS or not 0 < n <= SPAN:
        raise ValueError(f"slot {slot} / size {n} outside the id layout")
    start = (seed % RANGES) * SLOTS * SPAN + slot * SPAN
    return np.arange(start, start + n)


def pages_frame(seed: int, slot: int, n: int):
    """pandas pages table (url, warc_ts, html, text, lang) over the slot's ids."""
    vocab = np.array(P.vocabulary())
    return P._gen_rows(doc_ids(seed, slot, n), vocab, P._zipf_probs(), seed)


def write_pages(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, schema=P._arrow_schema(), preserve_index=False)
    pq.write_table(table, path)


def indexed_docs(pdf) -> list[tuple[int, str]]:
    """(docid, text) of the pages the index build keeps (lang = 'en')."""
    en = pdf[pdf.lang == "en"]
    return [(docid_py(u), t) for u, t in zip(en.url, en.text)]


def write_docs_store(docs: list[tuple[int, str]], path: str) -> None:
    """The forward text store ``ServingIndex.attach_docs`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "docid": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
            }
        ),
        path,
    )


# ---- query streams --------------------------------------------------------

# kind -> share of a stream. The shares are assumptions, not a measured
# traffic mix: the engine has no query log. Every search kind gets the same
# share, so each path weighs the same in the end-to-end figures; 10% are
# full ``search_response`` rows; 1% are all-stopword queries (AND queries
# with an empty answer), so that path stays checked.
SERVE_MIX = {
    "and": 0.14,
    "stopwords": 0.01,
    "or": 0.15,
    "websearch": 0.15,
    "phrase": 0.15,
    "near": 0.15,
    "near_unordered": 0.15,
    "response": 0.10,
}
# the Spark point queries and the generation-set queries: the modes both
# the Spark path and GenerationSet serve, in equal shares
POINT_MIX = {"and": 0.25, "or": 0.25, "websearch": 0.25, "phrase": 0.25}

_STOP = sorted(STOPWORDS)


class QueryGen:
    """Draws queries over the corpus vocabulary.

    ``terms`` are ordered by descending document frequency. ``zipf=True``
    samples term ranks with weight 1/rank (repeated head terms: the decoded
    postings LRU holds the working set); ``zipf=False`` samples uniformly
    (most lookups touch a term for the first time). Phrases are adjacent
    analyzed tokens of a random document, so they have hits."""

    def __init__(self, rng: random.Random, terms: list[str],
                 docs: list[tuple[int, str]], zipf: bool):
        self.rng = rng
        self.terms = terms
        self.docs = docs
        self.cum = None
        if zipf:
            w = [1.0 / (r + 1) for r in range(len(terms))]
            tot = sum(w)
            acc, self.cum = 0.0, []
            for x in w:
                acc += x / tot
                self.cum.append(acc)

    def term(self) -> str:
        if self.cum is None:
            return self.rng.choice(self.terms)
        return self.rng.choices(self.terms, cum_weights=self.cum, k=1)[0]

    def distinct(self, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            t = self.term()
            if t not in out:
                out.append(t)
        return out

    def adjacent_pair(self) -> str:
        while True:
            toks = analyze(self.rng.choice(self.docs)[1])
            if len(toks) >= 2:
                j = self.rng.randrange(len(toks) - 1)
                return f"{toks[j]} {toks[j + 1]}"

    def query(self, kind: str) -> tuple[str, str]:
        r = self.rng
        if kind in ("and", "response"):
            return kind, " ".join(self.distinct(r.choice((1, 2, 2, 3))))
        if kind == "or":
            return kind, " ".join(self.distinct(r.choice((2, 3))))
        if kind == "websearch":
            a, b, c = self.distinct(3)
            form = r.randrange(3)
            if form == 0:
                return kind, f"{a} {b} -{c}"
            if form == 1:
                return kind, f'{a} or "{self.adjacent_pair()}"'
            return kind, f'{a} -"{b} {c}"'
        if kind == "phrase":
            return kind, self.adjacent_pair()
        if kind in ("near", "near_unordered"):
            return kind, " ".join(self.distinct(2))
        if kind == "stopwords":
            return kind, " ".join(r.sample(_STOP, 2))
        raise ValueError(f"unknown query kind {kind!r}")

    def stream(self, mix: dict[str, float], n: int) -> list[tuple[str, str]]:
        """n queries in a seeded order, each kind exactly its share of n
        (largest-remainder rounding), so runs differ in terms, not in mix."""
        tot = sum(mix.values())
        want = {k: n * w / tot for k, w in mix.items()}
        counts = {k: int(x) for k, x in want.items()}
        for k in sorted(mix, key=lambda k: counts[k] - want[k])[: n - sum(counts.values())]:
            counts[k] += 1
        kinds = [k for k in mix for _ in range(counts[k])]
        self.rng.shuffle(kinds)
        return [self.query(k) for k in kinds]


def vocabulary_by_df(oracle) -> list[str]:
    """Index terms ordered by descending df (ties by term)."""
    return sorted(oracle.postings, key=lambda t: (-len(oracle.postings[t]), t))


# ---- gate tables ------------------------------------------------------------

GATE_WORDS = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "vector window"
).split()
GATE_TABLES = ("documents", "embeddings", "events")
GATE_DOCS = 500
GATE_VECS = 500
GATE_EVENTS = 10_000


def write_gate_tables(seed: int, out_dir: str) -> None:
    """documents / embeddings / events with the schemas the headline
    ``__spark_entry__`` gates read (the shape of the sf0.01 testdata)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    words = np.array(GATE_WORDS + ["a", "the"])
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    texts = []
    for i in range(GATE_DOCS):
        if i >= 8 and rng.random() < 0.01:  # exact duplicates for the dedup ops
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n = int(rng.integers(10, 80))
        t = " ".join(words[rng.integers(0, len(words), n)])
        if rng.random() < 0.05:
            t += " dup"
        texts.append(t)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(GATE_DOCS), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs[rng.integers(0, len(langs), GATE_DOCS)].tolist()),
                "source": pa.array([f"src{i % 20}" for i in range(GATE_DOCS)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    vecs = (rng.standard_normal((GATE_VECS, 64)) * 0.1).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(GATE_VECS), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, GATE_VECS), pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    epoch = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, GATE_EVENTS))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(GATE_EVENTS), pa.int64()),
                "ts": pa.array(
                    [epoch + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, 150, GATE_EVENTS), pa.int64()),
                "event_type": pa.array(
                    np.array(["signup", "click", "error", "view", "purchase"])[
                        rng.integers(0, 5, GATE_EVENTS)
                    ].tolist()
                ),
                "value": pa.array(
                    np.round(rng.exponential(50.0, GATE_EVENTS), 2), pa.float64()
                ),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, GATE_EVENTS)]
                ),
            }
        ),
        f"{out_dir}/events.parquet",
    )
