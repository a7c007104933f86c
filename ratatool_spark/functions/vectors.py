"""Vector math over array columns — pure higher-order functions (JVM-side,
codegen'd). Used by the VECTOR delta type (Diffy.CosineDistance:168-184),
embedding near-dup and ANN search.

Fold order is left-to-right and element-wise casts are explicit so results
are bit-reproducible in other engines (DuckDB ``list_reduce`` matches).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


def quantize_scale(a: Column) -> Column:
    """Symmetric int8 scale: max(|x|)/127 (1.0 for all-zero vectors so
    dequantization is well-defined)."""
    mx = F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    return F.when(mx == 0.0, F.lit(1.0)).otherwise(mx / F.lit(127.0))


def quantize_int8(a: Column, scale: Column) -> Column:
    """array<float> → array<int> of symmetric-int8 codes in [-127, 127].

    Rounding is explicitly ``floor(x/scale + 0.5)`` — NOT the engine's
    round(): HALF_UP / banker's rounding differ between engines on exact
    .5 ties, while floor(+0.5) is a single IEEE expression every engine
    evaluates identically. 4x smaller at-rest vectors; recall loss of
    int8 cosine is negligible for near-dup thresholds (error bound
    pinned in tests)."""
    return F.transform(
        a, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
    )


def dequantize(q: Column, scale: Column) -> Column:
    """int8 codes → array<double> approximation (code * scale)."""
    return F.transform(q, lambda x: x.cast("double") * scale)
