"""Deterministic 128-d text encoder (the bi-encoder replacement).

The reference encodes mentions and entities into a shared 128-d space with
transformer towers + linear projections (reference src/bi_encoder.py:36-37)
and scores pairs by dot product (':96', src/eval_zeshel.py:44).  Torch is
unavailable here, so the engine preserves the *semantics* — shared 128-d
space, dot-product similarity — with a deterministic encoder:

    text → char n-grams → signed feature hashing into `dim` buckets
         → L2 normalize

Signed feature hashing preserves n-gram-profile cosine similarity in
expectation; crc32 is stable across processes/machines (unlike Python's
``hash``), so embeddings are byte-deterministic across executors and runs.

Exposed as an Arrow pandas UDF (batched, numpy inner loop over the batch's
n-grams only — no per-row Spark Python UDF).  Unique-value caching inside
the batch makes repeated entity titles nearly free.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 128
DEFAULT_NGRAM = 3


def _crc32_table() -> np.ndarray:
    """Standard CRC-32 (IEEE 802.3, poly 0xEDB88320) lookup table — the
    same function zlib.crc32 computes, reproduced so the n-gram hashing
    can run table-driven over a whole batch in numpy."""
    t = np.empty(256, dtype=np.uint32)
    for i in range(256):
        c = np.uint32(i)
        for _ in range(8):
            c = (c >> np.uint32(1)) ^ (np.uint32(0xEDB88320) if c & np.uint32(1) else np.uint32(0))
        t[i] = c
    return t


_CRC_TABLE = _crc32_table()


def _embed_one(text: str, dim: int, n: int) -> np.ndarray:
    """Scalar reference / non-ASCII fallback (UTF-8 n-gram byte strings
    vary in length, defeating the fixed-width vectorization)."""
    v = np.zeros(dim, dtype=np.float64)
    if text:
        padded = f" {text} "  # boundary markers improve word-edge sensitivity
        g = len(padded)
        for i in range(max(g - n + 1, 1)):
            h = zlib.crc32(padded[i : i + n].encode("utf-8"))
            sign = 1.0 if (h >> 31) & 1 else -1.0
            v[h % dim] += sign
    norm = np.linalg.norm(v)
    if norm > 0:
        v /= norm
    return v


def _embed_ascii_batch(texts: list[str], dim: int, n: int) -> np.ndarray:
    """Vectorized signed-hash embedding for ASCII texts — byte-identical
    to ``_embed_one`` (same CRC-32 per gram; ±1 accumulation in float64
    is exact, so summation order is irrelevant).  One table-driven CRC
    pass over ALL grams of the batch: n byte-columns, n lookups.  This
    removes the last per-row Python loop from the embed stage (VERDICT
    r01 finding #9)."""
    m = len(texts)
    out = np.zeros((m, dim), dtype=np.float64)
    if m == 0:
        return out
    arrs = [np.frombuffer(f" {t} ".encode(), dtype=np.uint8) for t in texts]
    lengths = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=m)
    flat = np.concatenate(arrs)
    counts = np.maximum(lengths - n + 1, 1)
    total = int(counts.sum())
    text_starts = np.cumsum(lengths) - lengths
    cum_counts = np.cumsum(counts) - counts
    # gram start offset within flat = text_start + position-within-text
    starts = np.repeat(text_starts, counts) + (
        np.arange(total) - np.repeat(cum_counts, counts)
    )
    crc = np.full(total, 0xFFFFFFFF, dtype=np.uint32)
    for j in range(n):
        byte = flat[starts + j]
        crc = (crc >> np.uint32(8)) ^ _CRC_TABLE[(crc ^ byte) & np.uint32(0xFF)]
    h = crc ^ np.uint32(0xFFFFFFFF)
    sign = np.where((h >> np.uint32(31)) & np.uint32(1), 1.0, -1.0)
    bucket = (h % np.uint32(dim)).astype(np.int64)
    rowid = np.repeat(np.arange(m, dtype=np.int64), counts)
    out = np.bincount(rowid * dim + bucket, weights=sign, minlength=m * dim).reshape(
        m, dim
    )
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out


def embed_series(texts: pd.Series, dim: int = DEFAULT_DIM, n: int = DEFAULT_NGRAM) -> pd.Series:
    texts = texts.fillna("").astype(str)
    uniq, inverse = np.unique(texts.to_numpy(), return_inverse=True)
    mat = np.zeros((len(uniq), dim), dtype=np.float64)
    # fast path needs full-width grams: padded length (len+2) ≥ n
    is_fast = np.fromiter(
        (bool(t) and t.isascii() and len(t) + 2 >= n for t in uniq),
        dtype=bool,
        count=len(uniq),
    )
    fast_idx = np.flatnonzero(is_fast)
    if len(fast_idx):
        mat[fast_idx] = _embed_ascii_batch([uniq[i] for i in fast_idx], dim, n)
    for i in np.flatnonzero(~is_fast):
        mat[i] = _embed_one(uniq[i], dim, n)
    mat = mat.astype(np.float32)
    out = mat[inverse]
    return pd.Series(list(out))


def make_embed_udf(dim: int = DEFAULT_DIM, n: int = DEFAULT_NGRAM):
    @pandas_udf(ArrayType(FloatType()))
    def embed_udf(texts: pd.Series) -> pd.Series:
        return embed_series(texts, dim=dim, n=n)

    return embed_udf


def make_embed_binary_udf(dim: int = DEFAULT_DIM, n: int = DEFAULT_NGRAM):
    """Packed little-endian float32 bytes instead of array<float>.

    Binary transfer through Arrow is one contiguous buffer + one bytes
    object per row; the array<float> representation materializes a Python
    list/ndarray per row on every downstream UDF crossing AND costs boxed
    per-element evaluation in JVM higher-order functions.  The packed form
    feeds the pair-scoring kernel (operators/scoring.py) — unpack is a
    single np.frombuffer over the whole batch."""
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def embed_bin_udf(texts: pd.Series) -> pd.Series:
        embs = embed_series(texts, dim=dim, n=n)
        return embs.map(lambda v: v.tobytes())

    return embed_bin_udf


_default_embed_udf = None
_default_embed_bin_udf = None


def embed_text(col: Column | str, dim: int = DEFAULT_DIM, n: int = DEFAULT_NGRAM) -> Column:
    global _default_embed_udf
    c = F.col(col) if isinstance(col, str) else col
    if dim == DEFAULT_DIM and n == DEFAULT_NGRAM:
        if _default_embed_udf is None:
            _default_embed_udf = make_embed_udf()
        return _default_embed_udf(c)
    return make_embed_udf(dim, n)(c)


def embed_text_binary(col: Column | str, dim: int = DEFAULT_DIM, n: int = DEFAULT_NGRAM) -> Column:
    global _default_embed_bin_udf
    c = F.col(col) if isinstance(col, str) else col
    if dim == DEFAULT_DIM and n == DEFAULT_NGRAM:
        if _default_embed_bin_udf is None:
            _default_embed_bin_udf = make_embed_binary_udf()
        return _default_embed_bin_udf(c)
    return make_embed_binary_udf(dim, n)(c)
