"""The benchmark's inputs: the package's ``documents`` fixture at sf0.1.

``data/documents.parquet`` is a byte-for-byte copy of the sf0.1
``documents`` fixture (5,000 documents, 1,485,576 characters, sha256
``d10b0da6...bcf82``), kept inside the benchmark's directory so that a run
reads nothing outside its checkout. Every input a workload uses is drawn
from it by ``--seed``: which documents, in which order, which are
re-offered or copied with one word changed, and which words a query asks
for. The same seed always gives the same inputs.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def documents() -> list[dict]:
    """Every fixture document (doc_id, text, lang, source, n_chars), in
    doc_id order."""
    return sorted(pq.read_table(PATH).to_pylist(), key=lambda d: d["doc_id"])


def vocabulary() -> list[str]:
    """The fixture's words, in first-seen order."""
    return list(dict.fromkeys(w for d in documents() for w in d["text"].split()))


def sample(rng: random.Random, n: int) -> list[dict]:
    """``n`` fixture documents drawn without replacement, in drawn order."""
    return rng.sample(documents(), n)


def one_word_changed(rng: random.Random, doc: dict, doc_id: int, vocab: list[str]) -> dict:
    """A near-duplicate of ``doc``: one word replaced by another vocabulary
    word, under a new ``doc_id``."""
    words = doc["text"].split()
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in vocab if w != words[i]])
    text = " ".join(words)
    return {**doc, "doc_id": doc_id, "text": text, "n_chars": len(text)}


def query_terms(rng: random.Random, vocab: list[str], n: int = 3) -> str:
    """A full-text / vector query: ``n`` distinct vocabulary words."""
    return " ".join(rng.sample(vocab, n))
