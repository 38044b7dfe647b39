"""Stage C5 — deterministic hash-ngram embeddings (vector_embed analog).

Reference parity: the ``vector_embed`` job type
(``backend/app/models/processing_job.py:17``) and the schema's "vector
index configuration" (``backend/README.md:20``). The reference ships no
embedding model; the north_star asks for embedding cosine-score linking,
so this is a deterministic stand-in: character-3-gram feature hashing
with signed buckets, L2-normalized. Near-duplicate surface forms share
most 3-grams → high cosine, which is exactly what linking needs.

No model weights, no randomness: bucket and sign come from blake2b of
the n-gram, so embeddings are identical across runs / executors / versions.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIM = 64


def char_ngrams(s: str, n: int = 3) -> list[str]:
    s = f"^{s.lower()}$"
    if len(s) < n:
        return [s]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def _gram_bucket_sign(g: str) -> tuple[int, float]:
    h = blake2b(g.encode("utf-8"), digest_size=8).digest()
    v = int.from_bytes(h, "big")
    return v % DIM, 1.0 if (v >> 63) & 1 else -1.0


def embed_surface(s: str | None, dim: int = DIM) -> np.ndarray:
    vec = np.zeros(dim, dtype=np.float32)
    if not s:
        return vec
    for g in char_ngrams(s):
        b, sign = _gram_bucket_sign(g)
        vec[b] += sign
    n = np.linalg.norm(vec)
    if n > 0:
        vec /= n
    return vec


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a, b))


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_udf(surfaces: pd.Series) -> pd.Series:
    return surfaces.map(lambda s: embed_surface(s).tolist())


def cosine_rows(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two float32 matrices — the ONE scoring kernel
    shared by the Spark UDF (:func:`cosine_batch`) and the driver-side
    vocabulary fast path, so both produce bit-identical scores
    (row-independent einsum: batch boundaries don't change values)."""
    na = np.linalg.norm(ma, axis=1)
    nb = np.linalg.norm(mb, axis=1)
    denom = np.where((na == 0) | (nb == 0), 1.0, na * nb)
    return np.einsum("ij,ij->i", ma, mb) / denom


def cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """:func:`cosine_rows` over two Series of vectors (rows already paired)."""
    ma = np.stack(a.map(lambda v: np.asarray(v, dtype=np.float32)).to_numpy())
    mb = np.stack(b.map(lambda v: np.asarray(v, dtype=np.float32)).to_numpy())
    return pd.Series(cosine_rows(ma, mb))


@F.pandas_udf(T.DoubleType())
def cosine_pairs_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine over two array<float> columns (rows already paired)."""
    return cosine_batch(a, b)
