"""Embedding providers (A17) — pluggable, deterministic by default.

Reference parity: ``create_embedding(text) -> list[float]`` of dim 1536
via Azure OpenAI, with a zero-vector fallback on error
(``embedding_utils.py:189-213``, ``db_utils.py:33``). External services
are nondeterministic and unavailable here, so the provider is an
interface with a deterministic default: the hash embedding, seeded from
md5 of the text, so the full ingest pipeline is reproducible (SURVEY §5
strategy 3). A remote-provider shim shows the intended integration
shape but raises unless wired to a real endpoint.

Scale notes: embedding is the ingest hot path at 100 TB. The provider
runs inside a scalar-iterator pandas UDF — Arrow batches, one provider
init per executor task rather than per row (the reference pays one HTTP
call per chunk, ``main.py:290-297``). Vectorized numpy math, no per-row
Python.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Reference embedding dimensionality (db_utils.py:33).
REFERENCE_DIM = 1536
#: Fixture embedding dimensionality (embeddings.parquet).
FIXTURE_DIM = 64


def hash_embed_py(text: str, dim: int = FIXTURE_DIM) -> list[float]:
    """Deterministic unit-norm embedding seeded from md5(text).

    Expands the 16-byte md5 digest into ``dim`` floats by re-hashing
    (digest, counter) blocks, maps bytes to [-1, 1), then L2-normalizes.
    Identical text -> identical vector on every machine (oracle-able);
    empty/None text -> zero vector, mirroring the reference's error
    fallback (``embedding_utils.py:213``).
    """
    if not text:
        return [0.0] * dim
    seed = hashlib.md5(text.encode("utf-8")).digest()
    out = np.empty(0, dtype=np.float64)
    counter = 0
    while out.size < dim:
        block = hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        out = np.concatenate([out, np.frombuffer(block, dtype=np.uint8).astype(np.float64)])
        counter += 1
    v = out[:dim] / 127.5 - 1.0
    n = float(np.linalg.norm(v))
    if n == 0.0:
        return [0.0] * dim
    return (v / n).astype(np.float32).tolist()


class EmbeddingProvider:
    """Provider interface: batch of texts -> 2-D float array [n, dim]."""

    dim: int = FIXTURE_DIM

    def embed_batch(self, texts: pd.Series) -> np.ndarray:  # pragma: no cover
        raise NotImplementedError


class HashEmbeddingProvider(EmbeddingProvider):
    """Default deterministic provider (see :func:`hash_embed_py`)."""

    def __init__(self, dim: int = FIXTURE_DIM):
        self.dim = dim

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        return np.asarray([hash_embed_py(t, self.dim) for t in texts], dtype=np.float32)


class RemoteEmbeddingProvider(EmbeddingProvider):
    """Shim for a real embedding endpoint (the reference's Azure OpenAI
    call, ``embedding_utils.py:193-206``). Network access is out of
    scope here; subclass and implement ``_call`` to wire one up. Errors
    per batch fall back to zero vectors, preserving the reference's
    fail-soft semantics rather than failing the job.
    """

    def __init__(self, dim: int = REFERENCE_DIM, call: Callable | None = None):
        self.dim = dim
        self._call = call

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        if self._call is None:
            raise NotImplementedError("wire a real endpoint via `call=`")
        try:
            return np.asarray(self._call(list(texts)), dtype=np.float32)
        except Exception:
            return np.zeros((len(texts), self.dim), dtype=np.float32)


def embed_udf(provider: EmbeddingProvider | None = None):
    """Scalar-iterator pandas UDF: text -> array<float> embedding.

    Iterator form so provider setup happens once per task, then every
    Arrow batch reuses it — the distributed replacement for the
    reference's per-chunk HTTP call.
    """
    prov = provider or HashEmbeddingProvider()

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            mat = prov.embed_batch(batch.fillna(""))
            yield pd.Series(list(np.asarray(mat, dtype=np.float32)))

    return _embed
