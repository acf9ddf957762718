"""Vector math over embedding columns.

Two representations:
- ``array<float>``/``array<double>`` columns (``dot``, ``l2_norm``,
  ``cosine``): JVM-side higher-order functions, for stages that hold
  array embeddings (``__spark_entry__.q_retrieval_rate``).  Shipping array
  columns through Arrow materializes a Python object per row (list→
  ndarray) — measured ~27× the arithmetic on local[32] over 2M 128-d
  pairs — so per-pair array math stays in the JVM.
- packed float32 ``binary`` columns (``pack_f32_udf``,
  ``_packed_to_matrix``, ``cosine_packed_udf``): one ``np.frombuffer``
  per Arrow batch, no per-row objects — the form every pair-level
  Python stage uses (operators/scoring.py, operators/ann.py).

Math runs in float64 (elements cast before multiply) so results align
with numpy/DuckDB float64 within summation-order noise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, DoubleType


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _packed_to_matrix(s: pd.Series) -> np.ndarray:
    """binary packed-float32 Series → (n, dim) float64 matrix — ONE
    np.frombuffer over the concatenated batch, no per-row objects.

    NULLs are rejected with a clear error (pack_f32_udf deliberately
    emits None for null inputs; the b''.join otherwise dies with an
    opaque TypeError mid-batch, ADVICE r02).  The ANN operators filter
    null embeddings at pack time (operators/ann.py:_pack_side), so this
    only fires on direct UDF use over an unfiltered corpus."""
    n = len(s)
    if n == 0:
        return np.zeros((0, 1), dtype=np.float64)
    vals = s.to_numpy()
    if any(v is None for v in vals):
        raise ValueError(
            "packed embedding column contains NULL — drop or impute null "
            "embeddings before batch scoring (see operators/ann._pack_side)"
        )
    return (
        np.frombuffer(b"".join(vals), dtype="<f4")
        .reshape(n, -1)
        .astype(np.float64)
    )


@pandas_udf(BinaryType())
def pack_f32_udf(emb: pd.Series) -> pd.Series:
    """array<float> → packed little-endian float32 bytes.

    The ONLY place an array-typed embedding column crosses Arrow: one
    pass over N rows at ingest, after which every pair-level stage ships
    opaque bytes (see the ~27× measurement in the module docstring and
    operators/scoring.py).  Row cost is a single .tobytes() per vector.
    """
    return pd.Series(
        [None if x is None else np.asarray(x, dtype="<f4").tobytes() for x in emb]
    )


@pandas_udf(DoubleType())
def cosine_packed_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine over two packed-float32 binary columns: batch frombuffer +
    einsum — the pair-level twin of ``cosine`` for packed embeddings."""
    ma, mb = _packed_to_matrix(a), _packed_to_matrix(b)
    if len(ma) == 0:
        return pd.Series([], dtype=np.float64)
    num = np.einsum("ij,ij->i", ma, mb)
    denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    out = np.where(denom == 0, 0.0, num / np.where(denom == 0, 1.0, denom))
    return pd.Series(out)

