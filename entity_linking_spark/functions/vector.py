"""Vector math over array<float>/array<double> columns.

Two paths:
- Column-expression path (``dot``, ``l2_norm``, ``cosine``): JVM-side
  higher-order functions — the path for array<float> columns.  Measured on
  local[32] over 2M 128-d pairs: JVM dot ≈ 1s, JVM cosine ≈ 4s, the
  Arrow pandas-UDF path ≈ 27s.  Shipping array columns through Arrow
  materializes a Python object per row (list→ndarray), which costs far
  more than the arithmetic; per-pair vector math must stay in the JVM.
- Arrow path (``dot_batch_udf``, ``cosine_batch_udf``): kept for parity
  tests and for stages that are already inside a pandas UDF for other
  reasons (reference scoring semantic: dot product,
  src/eval_zeshel.py:44, src/bi_encoder.py:96).

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


def _to_matrix(s: pd.Series) -> np.ndarray:
    return np.array([np.asarray(x, dtype=np.float64) for x in s])


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


@pandas_udf(DoubleType())
def dot_batch_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    ma, mb = _to_matrix(a), _to_matrix(b)
    return pd.Series(np.einsum("ij,ij->i", ma, mb))


@pandas_udf(DoubleType())
def cosine_batch_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    ma, mb = _to_matrix(a), _to_matrix(b)
    num = np.einsum("ij,ij->i", ma, mb)
    denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    out = np.where(denom == 0, 0.0, num / np.where(denom == 0, 1.0, denom))
    return pd.Series(out)
