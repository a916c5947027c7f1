"""Vector expressions — the Spark-native form of the reference's
cosine kernel.

The reference implements cosine distance twice: an AVX2 FMA kernel
(vector-db.c:181-219) and a Kahan-compensated scalar fallback
(vector-db.c:223-269), both over 32-byte-aligned f64 buffers. On
Spark the equivalent "fast path" decision is different: stay on the
JVM. These builders express dot / norms / cosine with SQL higher-order
functions (``zip_with`` + ``aggregate``), which (a) execute inside the
JVM with no Python round-trip, (b) are exactly expressible in the
DuckDB oracle (``list_cosine_similarity``), and (c) keep the whole
query inside one Catalyst plan so filter pushdown / top-k selection
still apply.

The many-query scorers (``operators/knn.py`` knn_join,
``operators/ann.py`` assign_centroids, ``operators/pq.py`` pq_encode)
instead score each Arrow batch with one f64 BLAS matmul, which beats
per-row expression evaluation; their tests replay them in DuckDB
(SURVEY §5.2 layer 3).

All arithmetic is f64: fixture embeddings are ``array<float>`` and are
cast element-wise before multiplication, matching the reference's f64
kernel (vector-db.h:6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-sum dot product of two array columns (f64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_sq(a: Column, b: Column) -> Column:
    """Squared euclidean distance, summed left-to-right (the order a
    SQL-oracle ``list_sum(list_transform(...))`` replays)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """a·b / (‖a‖‖b‖) — the complement of the reference's distance
    (vector-db.c:181-219: ``1 - dot/sqrt(norm_a*norm_b)``)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 − cosine_similarity, the reference's metric (vector-db.c:217)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def paired_cosine_distance(a: Column, b: Column) -> Column:
    """Arrow-vectorized twin of :func:`cosine_distance` for the hot
    path: one NumPy einsum per batch instead of per-row interpreted
    HOF lambdas (~30× on 64-dim pairs). Same f64 math; last-ulp
    summation-order differences vs the HOF form are absorbed by the
    callers' round(…, 6)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _paired(x: pd.Series, y: pd.Series) -> pd.Series:
        import numpy as np

        if len(x) == 0:
            return pd.Series([], dtype="float64")
        xm = np.array(list(x), dtype=np.float64)
        ym = np.array(list(y), dtype=np.float64)
        num = np.einsum("ij,ij->i", xm, ym)
        den = np.linalg.norm(xm, axis=1) * np.linalg.norm(ym, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(1.0 - num / den)

    return _paired(a, b)
