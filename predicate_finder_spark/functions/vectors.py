"""Dense-vector column expressions: symmetric int8 quantization of an
embedding column and its inverse, the memory lever of the ANN stages.
Pure column expressions, so the DuckDB oracles replay them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def quantize_embedding(vec):
    """Symmetric per-vector int8 quantization of an ``array<float/double>``
    column -> struct(scale double, q array<int>).

    The 100 TB ANN memory lever: a float32 embedding column dominates the
    scan and shuffle bytes of every similarity stage; int8 cuts it 4x
    (storage AND bandwidth) at a ~0.4% max per-component error, which the
    cosine top-k ordering tolerates (tests pin the error bound and the
    recall on the synthetic embeddings).

    Pure column expressions — codegen'd, no UDF: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) (explicit half-up, so DuckDB
    replays it bit-for-bit; Spark's round() is HALF_UP but DuckDB's is
    banker's on doubles — floor(+0.5) sidesteps the mode mismatch).
    All-zero vectors quantize to scale 0 / all-zero q (guarded division).
    """
    levels = 127.0  # 2^(8-1) - 1: symmetric int8
    v = F.transform(vec, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, F.abs))
    scale = F.when(mx > 0, mx / F.lit(levels)).otherwise(F.lit(0.0))
    q = F.when(
        mx > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_embedding(qstruct):
    """Inverse of :func:`quantize_embedding`: array<double> = q * scale."""
    return F.transform(
        qstruct["q"], lambda x: x.cast("double") * qstruct["scale"]
    )
