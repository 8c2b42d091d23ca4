"""Seeded inputs: Kafka-envelope event files for the route workload
and a document corpus for the fold workload.

The program under test sees only these generated files. The same
seed gives the same rows; the only time-dependent column is the
envelope ``timestamp``, stamped with each file's creation time (or a
fixed eight days before it for the rows the seed marks stale).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the envelope (ziggurat_spark.envelope.ENVELOPE_SCHEMA) plus the two
#: payload columns events_as_envelope carries along
ENVELOPE_ARROW = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
        ("attempt", pa.int32()),
        ("event_type", pa.string()),
        ("payload_value", pa.float64()),
    ]
)

EVENT_TYPES = ("click", "view", "purchase", "error")

#: stale rows are stamped this far before their file's creation, past
#: the route's 7-day staleness horizon
STALE_AGE = dt.timedelta(days=8)


class EventFeed:
    """Rows for ``n_files`` envelope files of ``rows_per_file`` rows.

    Row content (key, JSON value ``{"k": n}``, partition, offset,
    event type, payload, stale flag) is fixed by the seed when the
    feed is built; ``write`` adds the timestamps and writes one file.
    """

    def __init__(self, seed: int, n_files: int, rows_per_file: int, stale_share: float):
        rng = np.random.default_rng(seed)
        n = n_files * rows_per_file
        self.n_files = n_files
        self.rows_per_file = rows_per_file
        # a seeded permutation of event ids: file order is not offset order
        self.offset = rng.permutation(n).astype(np.int64)
        self.user = rng.integers(0, 10_000, n)
        self.k = rng.integers(0, 100, n)
        self.event_type = rng.integers(0, len(EVENT_TYPES), n)
        self.payload = np.round(rng.gamma(2.0, 5.0, n), 2)
        self.stale = rng.random(n) < stale_share

    def write(self, i: int, path: str, created: dt.datetime) -> None:
        """Write file ``i`` to ``path``; fresh rows carry ``created``."""
        lo, hi = i * self.rows_per_file, (i + 1) * self.rows_per_file
        stale = self.stale[lo:hi]
        ts = np.where(stale, created - STALE_AGE, created)
        user = self.user[lo:hi]
        table = pa.Table.from_arrays(
            [
                pa.array([str(u).encode() for u in user], pa.binary()),
                pa.array([f'{{"k": {k}}}'.encode() for k in self.k[lo:hi]], pa.binary()),
                pa.array(["events"] * (hi - lo), pa.string()),
                pa.array((user % 32).astype(np.int32), pa.int32()),
                pa.array(self.offset[lo:hi], pa.int64()),
                pa.array(list(ts), ENVELOPE_ARROW.field("timestamp").type),
                pa.nulls(hi - lo, ENVELOPE_ARROW.field("headers").type),
                pa.nulls(hi - lo, pa.int32()),
                pa.array([EVENT_TYPES[t] for t in self.event_type[lo:hi]], pa.string()),
                pa.array(self.payload[lo:hi], pa.float64()),
            ],
            schema=ENVELOPE_ARROW,
        )
        pq.write_table(table, path)


#: the ``documents`` corpus as measured on the sf0.01 (500 docs) and
#: sf0.1 (5,000 docs) test data the oracle sweep grades: texts draw words uniformly from
#: these 30 (each word 3.3% of tokens at sf0.1); a base text has 10–99
#: words, uniformly (sf0.1 per-decade counts 508..567 of 5,000); exactly
#: 5% of documents (25 of 500, 250 of 5,000) are another document's text
#: plus " dup", chosen one after another, so a near duplicate may copy
#: an earlier near duplicate (2–3 trailing "dup" tokens: 4 of 250) or
#: lose its base to a later replacement (7 of 250), and two near
#: duplicates of one base are an exact pair (0 pairs at sf0.01, 8 at
#: sf0.1); ``lang`` is en for ~41% of rows and de/es/fr/zh for ~15%
#: each (sf0.1: 2059/702/744/742/753); ``source`` is
#: ``src{doc_id % 20}``; ``n_chars`` is the text's length.
#: ``profile`` computes these figures; the tests pin the generator to
#: them.
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
BASE_WORDS = (10, 100)  # half-open
NEAR_DUP_SHARE = 0.05
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)

#: the corpus is fixed; the workload seed only permutes its rows
CORPUS_SEED = 20240101


def corpus(n_docs: int) -> pa.Table:
    """The fold workload's documents, in the ``documents`` table shape
    and with the measured make-up described at ``VOCAB``."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(*BASE_WORDS))))
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, round(n_docs * NEAR_DUP_SHARE), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    langs = rng.choice(_LANGS, n_docs, p=_LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def profile(docs: pa.Table) -> dict:
    """The corpus figures the fold's work depends on: size, words per
    text, vocabulary, near-duplicate and exact-duplicate counts, and
    the language mix."""
    texts = docs.column("text").to_pylist()
    words = [t.split() for t in texts]
    n_words = np.array([len(w) for w in words])
    counts: dict[str, int] = {}
    for t in texts:
        counts[t] = counts.get(t, 0) + 1
    langs = docs.column("lang").to_pylist()
    return {
        "docs": len(texts),
        "words_min": int(n_words.min()),
        "words_max": int(n_words.max()),
        "words_p50": float(np.median(n_words)),
        "vocab": len({w for ws in words for w in ws}),
        "near_dups": sum("dup" in ws for ws in words),
        "exact_dup_pairs": sum(c * (c - 1) // 2 for c in counts.values()),
        "en_share": langs.count("en") / len(langs),
    }


def write_corpus_dir(sf_dir: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet`` under ``sf_dir`` with the corpus
    rows in a seeded order."""
    docs = corpus(n_docs)
    order = np.random.default_rng(seed).permutation(n_docs)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs.take(pa.array(order)), os.path.join(sf_dir, "documents.parquet"))
