"""Seeded documents generator for the benchmark workloads.

Writes documents tables in the testdata schema
``(doc_id, text, lang, source, n_chars)``. Every property a workload
depends on is a parameter of ``Spec``: document length (words), paragraph
count (the page builder splits a document into 1..N ``<p>`` blocks),
hot-host share (pages on ``kernels.synth.HOT_HOST``, which the sink salts)
and near-duplicate share (copies of an earlier original document with one
word replaced, which the dedup operators must find). The same seed gives
the same tables; ``measured_shares`` reports what a seed actually drew.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from itertools import count

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.kernels.synth import (
    HOT_HOST,
    HOT_HOST_PCT,
    host_for_doc,
    warc_ts_for_doc,
)

# The word list of the testdata documents, plus a few more words: all
# lowercase ASCII, so every character is in the OCR vocabulary.
VOCAB = (
    "a the data row column table key value join group sort merge hash scan "
    "filter agg order line part query batch stream window vector spark fast "
    "slow big small customer dup index page crawl text block score token "
    "shard cache frame"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Spec:
    n_docs: int
    min_words: int
    max_words: int
    max_paragraphs: int = 1
    hot_share: float = HOT_HOST_PCT / 100
    near_dup_share: float = 0.0


@dataclass
class Corpus:
    doc_id: list[int]
    text: list[str]
    lang: list[str]
    source: list[str]
    paragraphs: list[int]
    near_dup: list[bool]

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": self.doc_id,
                "text": self.text,
                "lang": self.lang,
                "source": self.source,
                "n_chars": [len(t) for t in self.text],
            },
            schema=SCHEMA,
        )


def _doc_ids(rng: random.Random, n: int, hot_share: float) -> list[int]:
    """Unique ids; a drawn share of them fall in the id class that
    ``kernels.synth.host_for_doc`` maps to the hot host."""
    hot = (i for i in count() if i % 100 < HOT_HOST_PCT)
    cold = (i for i in count() if i % 100 >= HOT_HOST_PCT)
    # ascending in generation order: an original's id is below its copies'
    return sorted(next(hot) if rng.random() < hot_share else next(cold) for _ in range(n))


def generate(spec: Spec, seed: int) -> Corpus:
    rng = random.Random(seed)
    ids = _doc_ids(rng, spec.n_docs, spec.hot_share)
    texts: list[str] = []
    near: list[bool] = []
    originals: list[int] = []
    for i in range(spec.n_docs):
        if originals and rng.random() < spec.near_dup_share:
            # copies of originals only: every duplicate cluster is a star
            # around its original, so its diameter does not vary by seed
            words = texts[rng.choice(originals)].split(" ")
            at = rng.randrange(len(words))
            words[at] = rng.choice([w for w in VOCAB if w != words[at]])
            texts.append(" ".join(words))
            near.append(True)
        else:
            n_words = rng.randint(spec.min_words, spec.max_words)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n_words)))
            near.append(False)
            originals.append(i)
    return Corpus(
        doc_id=ids,
        text=texts,
        lang=rng.choices(LANGS, LANG_WEIGHTS, k=spec.n_docs),
        source=[f"src{d % N_SOURCES}" for d in ids],
        paragraphs=[rng.randint(1, spec.max_paragraphs) for _ in ids],
        near_dup=near,
    )


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Writes ``<sf_dir>/documents.parquet`` (the testdata layout the
    ``sources.pages`` builders read) and returns ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def measured_shares(corpus: Corpus) -> dict:
    n = len(corpus.doc_id)
    words = [len(t.split(" ")) for t in corpus.text]
    return {
        "docs": n,
        "hot_host_share": sum(host_for_doc(d) == HOT_HOST for d in corpus.doc_id) / n,
        "near_dup_share": sum(corpus.near_dup) / n,
        "paragraph_share": {
            str(p): corpus.paragraphs.count(p) / n
            for p in sorted(set(corpus.paragraphs))
        },
        "words_min": min(words),
        "words_mean": sum(words) / n,
        "words_max": max(words),
        "crawl_dates": len({warc_ts_for_doc(d) // 86400 for d in corpus.doc_id}),
    }
