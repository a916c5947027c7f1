"""Int8 embedding quantization — the storage/bandwidth scale path.

At 100 TB the embedding column dominates the index footprint: f64 is
8 B/dim, f32 4 B/dim; symmetric int8 is 1 B/dim + one f64 scale per
vector (~8× smaller than the reference's f64 layout, vector-db.h:6)
and GEMM over int8 is what every serving stack does. Quantization is
per-vector symmetric: ``scale = max|x| / 127``, ``q = ⌊x/scale +
0.5⌋`` (explicit floor-plus-half so the rounding rule is identical in
every engine — no banker's-rounding ambiguity), zero vectors keep
scale NULL and dequantize to zeros.

Everything is a JVM expression (transform/aggregate) — quantize is a
map, no shuffle, and Parquet stores array<tinyint> packed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cli_rag_spark.functions.let import let

Q_MAX = 127


def max_abs(vec: Column) -> Column:
    return F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )


def quantize_expr(vec: Column) -> tuple[Column, Column]:
    """(q: array<tinyint>, scale: double). NULL scale ⇔ zero vector."""
    scale = (max_abs(vec) / F.lit(float(Q_MAX)))
    scale = F.when(scale > 0, scale)
    q = let(scale, lambda s: F.transform(
        vec,
        lambda x: F.when(s.isNull(), F.lit(0))
        .otherwise(F.floor(x.cast("double") / s + F.lit(0.5)))
        .cast("tinyint"),
    ))
    return q, scale


def dequantize_expr(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda v: v.cast("double") * F.coalesce(scale, F.lit(0.0)))


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    q, scale = quantize_expr(F.col(vec_col))
    return df.withColumn(q_col, q).withColumn(scale_col, scale)


def dequantize(
    df: DataFrame,
    q_col: str = "q",
    scale_col: str = "scale",
    out_col: str = "embedding_deq",
) -> DataFrame:
    return df.withColumn(out_col, dequantize_expr(F.col(q_col), F.col(scale_col)))
