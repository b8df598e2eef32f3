"""Scalar quantization (SQ8) — int8 vector storage at 4× compression.

The reference stores raw float vectors in JSON (main.go:277-292); at
100 TB the embedding column dominates storage and scan bytes. SQ8
keeps one code per dimension (int8) plus a per-vector scale:
``code_i = floor(x_i / s + 0.5)``, ``s = max_i |x_i| / 127`` — a 4×
byte cut (vs float32) that, unlike PQ (operators/pq.py), needs no
training, preserves per-dimension resolution, and decodes with one
multiply. The standard middle rung of the ANN storage ladder:
float32 → SQ8 (4×, ~exact) → PQ (16-32×, shortlist+re-rank).

Everything here is built-in higher-order functions on JVM columns —
one codegen'd projection, no shuffle, no Python. All arithmetic is
float64 with floor-based rounding, so an ANSI-SQL engine reproduces
the codes and the dequantized similarity bit-for-bit (the
`vs_sq8_topk` oracle does exactly that — a full value-hash check,
not a property check).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import lit_vector, normalize_query

# guards the all-zero vector (scale 0 → division by zero); any
# positive denormal works, the codes come out 0 either way
_EPS = 1e-30


def sq8_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Append ``sq8_scale`` (double) and ``sq8_codes``
    (array<int> in [-127, 127]) — map-side only, one projection."""
    v = F.col(vec_col).cast("array<double>")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(_EPS),
    )
    codes = F.transform(
        v, lambda x: F.floor(x / F.col("sq8_scale") + F.lit(0.5)).cast("int")
    )
    return df.withColumn("sq8_scale", scale).withColumn("sq8_codes", codes)


def sq8_similarity(
    qvec: Sequence[float],
    codes_col: str = "sq8_codes",
    scale_col: str = "sq8_scale",
) -> Column:
    """dot(q/‖q‖, dequantized vector) as one codegen'd fold —
    ``s · Σ qn_i · code_i`` (the scale factors out of the sum)."""
    acc = F.aggregate(
        F.zip_with(
            F.col(codes_col),
            lit_vector(normalize_query(qvec)),
            lambda c, q: c.cast("double") * q,
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return F.col(scale_col) * acc


def sq8_topk(
    df: DataFrame,
    qvec: Sequence[float],
    topk: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Top-k by dequantized similarity (encode inline; in a real
    deployment the codes are written once and the raw column is not
    scanned). Plan: scan → projection → TakeOrderedAndProject."""
    enc = sq8_encode(df, vec_col=vec_col, id_col=id_col)
    scored = enc.withColumn("similarity", sq8_similarity(qvec))
    return scored.orderBy(
        F.desc("similarity"), *[F.col(c) for c in tie_cols]
    ).limit(topk)
