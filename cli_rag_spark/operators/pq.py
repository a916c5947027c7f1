"""Product quantization (Jégou, Douze, Schmid 2011) — the memory-side
ANN scale path, complementing IVF (list pruning) and int8 (uniform
scalar quantization, operators/quantize.py).

PQ splits each d-dim vector into ``m_subspaces`` contiguous
sub-vectors and replaces every sub-vector with the id of its nearest
codeword from a per-subspace codebook of ``k_codes`` entries. A
64-dim f32 vector (256 B) becomes 4 small ints (~4 B) — ~64×
compression — and query scoring never touches the original vectors:
Asymmetric Distance Computation (ADC) precomputes the M×K table of
(query sub-vector ↔ codeword) squared L2 distances once per query and
estimates each indexed vector's distance as the sum of M table
lookups.

Reference parity: the reference stores full f64 vectors and scans
them (vector-db.h:6, vector-db.c:148-177); PQ is the standard
published technique for the regime where the index no longer fits —
part of this repo's 100 TB mandate rather than a reference port.

Scale shapes:
* codebook: M×K rows, broadcast everywhere — never a shuffle side;
* encode: the one-time index build — one squared-L2 GEMM per
  subspace per Arrow batch (:func:`pq_encode`, the shape of
  ann.assign_centroids);
* ADC scan: the probed lists' packed code rows (one ``(cid, id,
  codes)`` row of M narrow ints per vector) posexplode and
  broadcast-join the per-query M·K lookup table, then sum — the
  per-query work is a map over codes, no vector arithmetic, no
  shuffle of embeddings;
* determinism: every distance is rounded to ``round_digits`` before
  any argmin/sum, ties broken by lowest code id — identical under any
  partition order and exactly replayable in the DuckDB oracle.

The seeded codebook (sub-slices of the ``k_codes`` lowest-id vectors)
is the SQL-replayable initializer, mirroring ann.seed_centroids; the
production build (:func:`build_ivfpq_index` with ``refine_iters > 0``)
Lloyd-refines each subspace codebook via ann.kmeans_refine on the
sub-vector frame with the L2 metric — the operators accept any
codebook DataFrame with columns (m, code, cvec).

Persistence (:func:`build_ivfpq_index`) follows the one artifact
discipline of :func:`~cli_rag_spark.sources.artifacts.staged_artifact`,
like ann.build_ivf_index, and stores its inverted lists in the IVF
family's one list layout (ann._write_sorted_lists): each vector is one
``(cid, id, codes)`` row, ``(cid, id)``-sorted in small row groups
(Jégou §IV: each inverted list holds its own codes). The children are
written into a staging directory next to a sidecar carrying the build
identity (geometry, parameters, input fingerprint) and every child's
schema, and promoted atomically.

Search has one operator, :func:`knn_join_ivfpq`, for any number of
queries (one query is a one-row query table). It takes the artifact's
path and reads geometry, id column and scoring form from the sidecar,
so a caller cannot pair codes with a codebook of another geometry.
Flat (unpruned) ADC is the probe-all case of IVFADC (Jégou §IV): a raw
(``residual=False``) artifact persists the same seeded codebook and
codes a flat PQ index would, and ``n_probe`` = C scores every list —
the same rows, the same estimates. Only :func:`build_ivfpq_index`, the
private opener :func:`_open_ivfpq` and :func:`knn_join_ivfpq` touch the
artifact's children.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import dot, l2_sq
from cli_rag_spark.operators.ann import (
    _probe_lists,
    _read_back_schema,
    _train_quantizer,
    _write_sorted_lists,
    assign_centroids,
    default_n_centroids,
    kmeans_refine,
)
from cli_rag_spark.sources.artifacts import (
    content_fingerprint,
    read_index_meta,
    read_json_sidecar,
    staged_artifact,
)

__all__ = [
    "l2_sq",
    "build_pq_codebook",
    "pq_encode",
    "refine_pq_codebook",
    "knn_join_ivfpq",
    "default_pq_geometry",
    "default_rerank_depth",
    "residual_codebook",
    "residual_adc_terms",
    "build_ivfpq_index",
    "ivfpq_index_ready",
]


def _d_sub(vec: Column, m_subspaces: int) -> Column:
    return (F.size(vec) / m_subspaces).cast("int")


def build_pq_codebook(
    vectors: DataFrame,
    m_subspaces: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[m, code, cvec]: seeded per-subspace codebooks — the sub-slices
    of the ``k_codes`` lowest-id vectors (deterministic and
    oracle-replayable, like ann.seed_centroids)."""
    seeds = vectors.where(F.col(id_col) < k_codes).select(
        F.col(id_col).cast("long").alias("code"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    ds = _d_sub(F.col("_v"), m_subspaces)
    parts = [
        seeds.select(
            F.lit(m).alias("m"),
            "code",
            F.slice("_v", F.lit(m) * ds + 1, ds).alias("cvec"),
        )
        for m in range(m_subspaces)
    ]
    return functools.reduce(DataFrame.unionByName, parts)


def residual_codebook(
    resid: DataFrame,
    m_subspaces: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    r_col: str = "_r",
) -> DataFrame:
    """Seeded per-subspace codebook over RESIDUAL rows —
    :func:`build_pq_codebook`'s k-lowest-id rule restricted to rows
    with a NON-ZERO residual, codes renumbered densely 0..k-1 in id
    order. The restriction is load-bearing, found by measurement
    (r13): under pure seeded coarse quantization the C lowest-id rows
    ARE the coarse centroids, so their residuals are identically zero
    — the plain lowest-id rule seeds an ALL-ZERO book whenever
    k_codes ≤ C, every vector then encodes to code 0, and the ADC
    estimate collapses to a per-list constant whose "ranking" is the
    id tiebreak (the r13 clustered 2M run read recall 0.109 with
    byte-identical results at m=8 and m=16 — the giveaway). Zero
    residuals are legitimate data (exact duplicates of a centroid)
    but useless as codeword seeds.

    Scale shape: the nonzero filter + orderBy(id).limit(k) is a
    distributed TakeOrdered of k ≤ K_CODES narrow rows; the dense
    renumbering window runs on that k-row frame only."""
    from pyspark.sql import Window

    nonzero = F.aggregate(
        F.col(r_col).cast("array<double>"),
        F.lit(0.0),
        lambda a, x: a + F.abs(x),
    ) > 0
    seeds = (
        resid.where(nonzero)
        .orderBy(F.col(id_col).asc())
        .limit(k_codes)
        .select(
            F.col(id_col), F.col(r_col).cast("array<double>").alias("_v")
        )
    )
    w = Window.orderBy(F.col(id_col).asc())
    seeds = seeds.select(
        (F.row_number().over(w) - 1).cast("long").alias("code"), "_v"
    )
    ds = _d_sub(F.col("_v"), m_subspaces)
    parts = [
        seeds.select(
            F.lit(m).alias("m"),
            "code",
            F.slice("_v", F.lit(m) * ds + 1, ds).alias("cvec"),
        )
        for m in range(m_subspaces)
    ]
    return functools.reduce(DataFrame.unionByName, parts)


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """[id_col, m, code]: each vector's per-subspace nearest codeword —
    the encoder every IVFPQ build runs. Squared L2 distances are
    rounded to ``round_digits`` before the argmin and ties go to the
    lowest code (codewords are scanned in ascending code order, so
    NumPy's first-minimum argmin is that tie-break), which the DuckDB
    oracles replay as a rounded ``list_sum(list_transform(...))``
    ``row_number`` over (d2, code).

    The M codebook matrices (M·K·d_sub doubles, tiny) are collected
    once and ride into ``mapInPandas`` as a closure; each Arrow batch
    is scored with one squared-L2 GEMM expansion per subspace, emitting
    only the N·M narrow code rows. NULL vectors are unscorable and
    dropped."""
    import numpy as np

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebook.select("m", "code", "cvec").collect():
        by_m.setdefault(int(r["m"]), []).append(
            (int(r["code"]), [float(x) for x in r["cvec"]])
        )
    if sorted(by_m) != list(range(m_subspaces)):
        raise ValueError(
            f"codebook subspaces {sorted(by_m)} do not match "
            f"m_subspaces={m_subspaces}"
        )
    code_ids: dict[int, "np.ndarray"] = {}
    mats: dict[int, "np.ndarray"] = {}
    for m, lst in by_m.items():
        lst.sort()
        code_ids[m] = np.array([c for c, _ in lst], dtype=np.int64)
        mats[m] = np.array([v for _, v in lst], dtype=np.float64)
    schema = StructType([
        StructField(id_col, vectors.schema[id_col].dataType),
        StructField("m", IntegerType()),
        StructField("code", LongType()),
    ])

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            ds = x.shape[1] // m_subspaces
            ids = pdf[id_col].to_numpy()
            for m in range(m_subspaces):
                sub = x[:, m * ds:(m + 1) * ds]
                cb = mats[m]
                d2 = (
                    np.einsum("ij,ij->i", sub, sub)[:, None]
                    - 2.0 * (sub @ cb.T)
                    + np.einsum("ij,ij->i", cb, cb)[None, :]
                )
                d2 = np.round(d2, round_digits)
                best = code_ids[m][np.argmin(d2, axis=1)]
                yield pd.DataFrame(
                    {id_col: ids, "m": np.int32(m), "code": best}
                )

    return (
        vectors.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(encode, schema)
    )


def residual_adc_terms(
    codebook: DataFrame,
    centroids: DataFrame,
    round_digits: int = 6,
) -> DataFrame:
    """The QUERY-INDEPENDENT half of the residual ADC decomposition
    (r15, VERDICT r14 #1) — ``[cid, m, code, t2]`` with

        ``t2 = round(2·(c_m · r) + r·r, round_digits)``

    where ``c_m`` is centroid ``cid``'s m-th sub-vector and ``r`` is
    residual codeword ``(m, code)``. Per subspace,

        ``||(q − c) − r||² = ||q − c||² − 2·q_m·r + (2·c_m·r + r·r)``

    so summing over m, the residual ADC estimate splits into the
    probe's per-(query, cid) scalar ``||q − c||²``, a BROADCASTABLE
    query-side table ``L[q, m, code] = 2·q_m·r`` (Q·M·K — exactly the
    raw path's LUT shape), and THIS table — C·M·K rows that never see
    a query. r14 shipped the undecomposed form: a per-(query,
    probed-list) LUT of Q·n_probe·M·K rows whose AQE shuffle join
    doubled knn_join_ivfpq's per-query CPU the round residual became
    the build default (VERDICT r14 "What's wrong #1"). Computed once
    and persisted by :func:`build_ivfpq_index` (the ``resid_terms``
    artifact child, part of every residual build's identity); the
    values are rounded deterministic arithmetic, so the SQL oracle
    replays them verbatim."""
    dsub = F.size(F.col("_r"))  # codewords live in the d/M sub-space
    return (
        codebook.select(
            "m", "code", F.col("cvec").cast("array<double>").alias("_r")
        )
        .crossJoin(
            centroids.select(
                "cid", F.col("cvec").cast("array<double>").alias("_c")
            )
        )
        .select(
            "cid",
            "m",
            "code",
            F.round(
                F.lit(2.0)
                * dot(
                    F.slice(F.col("_c"), F.col("m") * dsub + 1, dsub),
                    F.col("_r"),
                )
                + dot(F.col("_r"), F.col("_r")),
                round_digits,
            ).alias("t2"),
        )
    )


def knn_join_ivfpq(
    queries: DataFrame,
    path: str,
    k: int,
    n_probe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int = 6,
) -> DataFrame:
    """Batch IVFADC kNN JOIN (Jégou, Douze, Schmid 2011 §IV) over the
    :func:`build_ivfpq_index` artifact at ``path`` — the one IVFADC
    search operator, for a query TABLE of any size (a single query is
    a one-row table), and the answer to what the r11 routed
    measurement proved about the flat paths (SCALING.md): at Q·N
    scale, a flat (unpruned) ADC shuffle and knn_join_lsh's collision
    verify are both Θ(Q·N) with constants 27-57× worse than plain
    GEMM, so past the GEMM envelope the only right shape is
    SUB-linear — IVF prunes the rows per query, PQ shrinks the bytes:
    candidate volume is Q · n_probe · (N/C) packed code rows instead
    of Q·N, and no embedding is read at query time.

    Plan: (1) per-query probe — queries × broadcast centroids, one
    window top-``n_probe`` per query (the IVF family's one probe
    ranking, C·Q tiny rows); (2) candidates — the broadcast (query,
    cid) probe list joins the ``lists`` child on cid; this inner join
    IS the pruning, fanning each vector's one ``(cid, id, codes)`` row
    out only to the queries that probe its list, and ``posexplode``
    turns its codes into (m, code); (3) the per-query LUT (Q·M·K rows,
    broadcast) scores candidates by (query, m, code), and the
    partial-agg groupBy sums M lookups per (query, id). Same
    deterministic (est_d2, id) contract and [query_id, id, est_d2,
    rank] shape as every other E7 strategy; the id column is the
    build's ``id_col``. ``n_probe`` = C probes every list: over a raw
    artifact that is flat ADC, every code row scored.

    Everything the scoring needs comes from the artifact: the coarse
    quantizer its lists were assigned by (probing Lloyd-refined lists
    with seeded coordinates would silently lose recall), the PQ
    geometry, and the scoring form. A raw artifact's codes are
    raw-vector codes and the LUT holds ``||q_m − r||²``. A residual
    artifact's codes describe ``x − centroid(x)`` and the estimate is
    DECOMPOSED (r15): per subspace ``||(q−c) − r||² = ||q−c||² −
    2·q_m·r + (2·c_m·r + r·r)``, so the query side builds only the
    broadcastable ``2·q_m·r`` table (Q·M·K, the raw LUT's shape) plus
    the per-(query, cid) scalar ``||q−c||²`` the probe rows already
    hold, and the query-independent terms come from the artifact's
    ``resid_terms`` child. Opening the artifact reads the sidecar's
    recorded schemas and runs no Spark job."""
    from pyspark.sql import Window

    meta, child = _open_ivfpq(queries.sparkSession, path)
    id_col = meta["id_col"]
    terms = child.get("resid_terms")
    q = queries.select(query_id, query_vec)
    probed = _probe_lists(
        child["centroids"], q, n_probe, query_vec, query_id, round_digits
    )
    qv = F.col(query_vec).cast("array<double>")
    ds = _d_sub(qv, int(meta["m_subspaces"]))
    q_sub = F.slice(qv, F.col("m") * ds + 1, ds)
    if terms is None:
        probed = probed.select(query_id, "cid")
        lut = l2_sq(F.col("cvec"), q_sub)
        est = F.sum("_l")
    else:
        probed = probed.select(
            query_id,
            "cid",
            F.round(
                l2_sq(qv, F.col("cvec").cast("array<double>")), round_digits
            ).alias("_qc2"),
        )
        lut = F.lit(2.0) * dot(q_sub, F.col("cvec").cast("array<double>"))
        est = F.min("_qc2") + F.sum(F.col("t2") - F.col("_l"))
    lut = child["codebook"].crossJoin(F.broadcast(q)).select(
        query_id, "m", "code", F.round(lut, round_digits).alias("_l")
    )
    cand = (
        child["lists"].join(F.broadcast(probed), "cid")
        .select("*", F.posexplode("codes").alias("m", "code"))
        .drop("codes")
    )
    if terms is not None:
        cand = cand.join(terms, ["cid", "m", "code"])
    w = Window.partitionBy(query_id).orderBy(
        F.col("est_d2").asc(), F.col(id_col).asc()
    )
    return (
        cand.join(F.broadcast(lut), [query_id, "m", "code"])
        .groupBy(query_id, id_col)
        .agg(F.round(est, round_digits).alias("est_d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "est_d2", "rank")
    )


def refine_pq_codebook(
    vectors: DataFrame,
    codebook: DataFrame,
    m_subspaces: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Lloyd-refine every per-subspace codebook with the L2 metric the
    encoder uses (ann.kmeans_refine with ``metric='l2'`` on the
    sub-vector frame — the compatibility the module docstring
    promises). Returns the refined [m, code, cvec] frame; centroid
    components are rounded so the result is reproducible across
    partitionings and engines.

    Scale shape: one kmeans_refine per subspace — M is small (4–16 in
    the PQ literature), so this is M·n_iters broadcast-assign +
    elementwise-mean rounds; sub-vector frames are never wider than
    d/M doubles.
    """
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    ds = _d_sub(F.col("_v"), m_subspaces)
    refined = []
    for m in range(m_subspaces):
        sub = v.select(
            id_col, F.slice("_v", F.lit(m) * ds + 1, ds).alias("subvec")
        )
        cent = codebook.where(F.col("m") == m).select(
            F.col("code").alias("cid"), F.col("cvec")
        )
        out = kmeans_refine(
            sub,
            cent,
            n_iters=n_iters,
            id_col=id_col,
            vec_col="subvec",
            round_digits=round_digits,
            metric="l2",
        )
        refined.append(
            out.select(F.lit(m).alias("m"), F.col("cid").alias("code"), "cvec")
        )
    return functools.reduce(DataFrame.unionByName, refined)


# --- persisted IVFPQ index (r12, VERDICT r11 "Next round #1") ---------

_IVFPQ_META_NAME = "_ivfpq_meta.json"


def default_pq_geometry(dim: int, n_rows: int) -> tuple[int, int]:
    """``(m_subspaces, k_codes)`` sized from the workload — the PQ
    mirror of :func:`~cli_rag_spark.operators.ann.default_n_centroids`
    / ``default_n_probe`` (VERDICT r11 #1: the r11 routed measurement
    put ADC recall@10 at 0.106 at 2M rows because the fixed m=4 ×
    K=16 default carries only 16 bits of structure; the geometry must
    scale with the corpus, not ship as a constant).

    * ``k_codes``: 256 (8-bit codes, the standard FAISS/Jégou cell
      budget — one byte per subspace) once the corpus can train them
      (n ≥ 65536 = 256² rows, so each codeword sees ≥256 training
      sub-vectors); 16 below that (the fixture-friendly small
      default), halved further only when n_rows < k_codes (the
      seeded codebook draws its codewords from the k lowest-id
      vectors, so k > n would seed an incomplete book).
    * ``m_subspaces``: the smallest divisor of ``dim`` whose total
      code width m·log2(k_codes) reaches ``max(32, 2·log2(n_rows))``
      bits — the birthday bound: with b code bits, expected exact
      code collisions ≈ n²/2^b, so b ≥ 2·log2(n) keeps distinct
      vectors distinguishable in expectation; the 32-bit floor keeps
      small-corpus geometry from degenerating. Divisibility is
      required by the encoder's ``F.slice`` sub-vector layout; when
      no divisor reaches the target the result is ``dim`` itself
      (1-dim subspaces — scalar quantization, the finest this layout
      expresses).

    At the r11 routed shape (dim 64, N=2M) this yields m=8 × K=256 —
    64 bits/vector, 8 code bytes/row — instead of the refuted 16-bit
    default."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if n_rows < 0:
        raise ValueError(f"n_rows must be non-negative, got {n_rows}")
    k_codes = 256 if n_rows >= 65536 else 16
    if 0 < n_rows < k_codes:
        # largest power of two <= n_rows, floor 2
        k_codes = max(2, 1 << (n_rows.bit_length() - 1))
    bits_needed = max(32, 2 * math.ceil(math.log2(max(n_rows, 2))))
    bits_per_sub = k_codes.bit_length() - 1  # log2 of a power of two
    m_raw = math.ceil(bits_needed / bits_per_sub)
    for m in range(m_raw, dim + 1):
        if dim % m == 0:
            return m, k_codes
    return dim, k_codes


RERANK_DEPTH_FLOOR = 100


def default_rerank_depth(
    k: int, n_rows: int | None = None, n_centroids: int | None = None
) -> int:
    """IVFADC-R shortlist depth ``R = max(10·k, 100, ceil(N/C))`` —
    the rerank member of the measured-default family
    (default_n_centroids / default_n_probe / default_pq_geometry;
    VERDICT r12 #1: the dispatched ivfpq path must not silently
    return the raw ADC order when exact re-scoring of a short list is
    measured to repair it at R·Q embedding reads).

    Why a rule at all: the quantized (ADC) estimate is a good
    CANDIDATE GENERATOR and a poor RANKER. Measured at the routed
    shape (Q=400 × N=2M, dim 64) on BOTH rehearsal corpora
    (SCALING.md r13): on the adversarial sign-flip corpus raw ADC
    recall@10 is 0.329 and coverage@R is 0.670/0.836 at R=100/300;
    on the clustered (Gaussian-mixture) corpus — the geometry real
    embedding corpora have — raw ADC recall@10 is 0.121 and
    coverage@R is 0.247/0.430/0.832 at R=100/300/1000. Exact
    re-scoring lifts recall EXACTLY to coverage (pinned: the rerank
    is the same rounded-cosine + (dist, id) window as the exact
    path), so the rule's job is to size R where coverage saturates.

    The clustered curve is the load-bearing one and it REFUTED the
    r13-draft fixed floor (R₀=100 bought only 0.247 there): when
    per-cluster spread is small against the quantizer's cell size,
    the ADC order WITHIN a query's home list is noise — coverage@R
    tracks the covered fraction of the home list (R=1000 ≈ 71% of
    the ~1414-row home list → 0.832), not any fixed constant. Hence
    the ``ceil(N/C)`` term — one expected home-list occupancy — when
    the caller knows the corpus/index structure (the dispatcher
    always does: N from the cost model, C from the artifact meta).
    Cost honesty: R·Q = Q·N/C = Q·√N reads under the C=√N build rule
    — strictly cheaper than the probe's own candidate volume
    (n_probe·N/C = N^(3/4) per query), so the rerank never dominates
    the chain it repairs (measured: 14.4 s at R=1000 × Q=400 on the
    2M corpus vs 70.6 s for the probe stage). The 10·k and 100
    floors keep the structureless form (no N/C known) at the
    sign-flip-measured knee; deeper saturation on tight-cluster data
    is a residual-encoding gap, CLOSED the same round: a
    build_ivfpq_index(residual=True) artifact roughly doubles
    coverage at every R (0.606/0.859/0.996 at R=100/300/1000 on the
    clustered 2M corpus) and the default chain over it reads recall
    1.0000 — not something more R should buy at quadratic cost.

    ``knn_join_auto(ivfpq_rerank=None)`` resolves through this rule;
    ``ivfpq_rerank=0`` is the explicit opt-OUT (raw ADC order, the
    scan-cost-only view); any positive value overrides."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    depth = max(10 * k, RERANK_DEPTH_FLOOR)
    if n_rows and n_centroids:
        depth = max(depth, -(-n_rows // n_centroids))
    return depth


def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int | None = None,
    m_subspaces: int | None = None,
    k_codes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    coarse_refine_iters: int = 0,
    round_digits: int = 6,
    residual: bool = True,
    reuse_if_exists: bool = False,
) -> None:
    """Build and PERSIST the combined IVF+PQ artifact the sub-linear
    batch strategy (:func:`knn_join_ivfpq`) answers from — WITHOUT
    storing the f64 embeddings (that is the point: this is the
    memory-bound regime where the full-precision index is the thing
    that doesn't fit). Parquet children under ``path``:

    * ``centroids``   — the coarse quantizer (C rows of dim doubles);
    * ``codebook``    — M·K per-subspace codewords;
    * ``lists``       — the inverted file with its codes: one ``(cid,
      id, codes)`` row per vector, ``codes`` the M code ids in
      subspace order, written by the IVF family's one sorted-list
      writer (``(cid, id)``-sorted, 8 MB row groups);
    * ``resid_terms`` — residual builds only: the C·M·K
      query-independent ADC terms (:func:`residual_adc_terms`);

    plus the ``_ivfpq_meta.json`` sidecar (build identity: geometry,
    parameters, input ``n_rows`` + ``content_fp``; and each child's
    read-back schema, so opening the artifact infers nothing).
    Children and sidecar are written into a staging directory and
    promoted atomically
    (:func:`~cli_rag_spark.sources.artifacts.staged_artifact`),
    so a build that fails part-way leaves the previous artifact as it
    was. Defaults: ``n_centroids`` = C~√N
    (ann.default_n_centroids), ``(m_subspaces, k_codes)`` =
    :func:`default_pq_geometry` — all three recorded in the meta so
    :func:`knn_join_ivfpq` and the knn_join_auto dispatcher resolve
    them without the caller knowing what the build computed.

    ``coarse_refine_iters`` Lloyd-refines the coarse quantizer before
    assignment; ``refine_iters`` Lloyd-refines each PQ sub-codebook
    before encoding (both 0 → pure seeded, SQL-oracle-replayable).
    The corpus-side assignment is
    :func:`~cli_rag_spark.operators.ann.assign_centroids` and the
    encoder :func:`pq_encode`, each pinned against its DuckDB replay
    in tests/test_pq.py. The assignment is computed
    once per build and feeds both the residual lineage and ``lists``;
    the encoder's ``(id, m, code)`` rows are packed into ``lists`` once,
    at build time.

    ``residual=True`` — the DEFAULT since r14 (VERDICT r13 #1) —
    trains the PQ codebook on, and encodes, ``x − centroid(x)``
    instead of raw vectors: the full Jégou §IV formulation. The r13
    clustered-corpus measurement is WHY it is the default: with
    per-cluster spread small against the coarse quantizer's cell
    size, the raw-code ADC order within a query's home list is noise
    (recall@10 0.121 raw vs 0.219 residual at 2M), and residual books
    roughly DOUBLE shortlist coverage at every rerank depth
    (0.347/0.606/0.859/0.996 vs 0.156/0.247/0.430/0.832 at
    R=30/100/300/1000; SCALING.md r13) — the codeword budget resolves
    exactly the within-list displacement the coarse structure can't.
    ``residual=False`` is the explicit opt-out (raw-vector codes —
    only right when the corpus has no cluster structure to subtract,
    e.g. the sign-flip adversarial bound). A residual build also
    persists the ``resid_terms`` child, whose presence is what makes
    :func:`knn_join_ivfpq` score residual codes, so every caller scores
    each artifact in its own form. The query-side LUT stays Q·M·K rows in
    both forms (the r15 decomposition). Build-side price tag: SCALING.md
    r14 books the residual-vs-raw build walls at 2M (the residual
    lineage adds one narrow assign join + zip_with before the
    encoder).

    ``reuse_if_exists=True`` returns WITHOUT rewriting when the stored
    identity equals this call's (content, resolved geometry, residual
    flag, and the ``resid_terms`` child a residual build carries); any
    mismatch rebuilds. The check costs the one fingerprint agg job.
    When the stored content matches, the stored ``dim`` is the live
    dim, so reuse resolves the unset geometry defaults without a dim
    probe."""
    spark = vectors.sparkSession
    n_rows, content_fp = content_fingerprint(vectors, id_col, vec_col)
    stored = (
        read_json_sidecar(spark, path, _IVFPQ_META_NAME)
        if reuse_if_exists else None
    )
    if (
        stored is not None
        and stored.get("n_rows") == n_rows
        and stored.get("content_fp") == content_fp
        and stored.get("dim")
    ):
        # same content ⇒ the live frame IS the data the artifact was
        # built from, so the stored dim is the live dim
        dim = int(stored["dim"])
    else:
        row0 = (
            vectors.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        if row0 is None or row0["d"] is None or int(row0["d"]) <= 0:
            raise ValueError(
                "build_ivfpq_index: no scorable vectors (empty input or "
                "empty/NULL vector column) — refusing to write an empty index"
            )
        dim = int(row0["d"])
    if n_centroids is None:
        n_centroids = default_n_centroids(n_rows)
    geo_m, geo_k = default_pq_geometry(dim, n_rows)
    if m_subspaces is None:
        m_subspaces = geo_m
    if k_codes is None:
        k_codes = geo_k
    if dim % m_subspaces != 0:
        raise ValueError(
            f"dim {dim} is not divisible by m_subspaces {m_subspaces}: "
            "the F.slice sub-vector layout would drop trailing "
            "components and score garbage"
        )
    identity = {
        "n_centroids": n_centroids,
        "m_subspaces": m_subspaces,
        "k_codes": k_codes,
        "dim": dim,
        "id_col": id_col,
        "refine_iters": refine_iters,
        "coarse_refine_iters": coarse_refine_iters,
        "round_digits": round_digits,
        "n_rows": n_rows,
        "content_fp": content_fp,
        "residual": residual,
        # a residual artifact carries the decomposed-terms child: its
        # presence selects knn_join_ivfpq's residual scoring form
        "resid_terms": residual,
        # 2: one packed (cid, id, codes) lists child and the children's
        # schemas in the sidecar; an older sidecar never matches, so
        # reuse rebuilds it instead of serving a layout no reader opens
        "version": 2,
    }

    def write(staging: str) -> dict:
        schemas: dict[str, dict] = {}

        def write_child(df: DataFrame, name: str) -> DataFrame:
            # re-read the persisted bytes, with the recorded schema, so
            # every later stage scores exactly what future readers see
            # (and refine lineages run once)
            df.write.mode("overwrite").parquet(f"{staging}/{name}")
            schemas[name] = _read_back_schema(df.schema)
            return _read_child(spark, staging, name, schemas[name])

        centroids, coarse_dim = _train_quantizer(
            vectors, n_centroids, coarse_refine_iters, id_col, vec_col,
            round_digits,
        )
        if not coarse_dim:
            raise ValueError(
                "build_ivfpq_index: seeded coarse quantizer is empty — "
                "refusing to write an empty index"
            )
        centroids = write_child(centroids.coalesce(1), "centroids")
        # the N·C assignment runs once: it feeds the residual lineage
        # (read by the codebook seed, the refinement and the encoder)
        # and the lists
        assign = assign_centroids(
            vectors, centroids, id_col, vec_col, round_digits=round_digits,
        ).localCheckpoint(eager=True)
        if residual:
            # encode x − centroid(x): the codebook trains on — and the
            # codes describe — the within-list displacement
            enc_src = (
                vectors.select(
                    id_col, F.col(vec_col).cast("array<double>").alias("_v")
                )
                .join(assign, id_col)
                .join(
                    centroids.select(
                        "cid", F.col("cvec").cast("array<double>").alias("_c")
                    ),
                    "cid",
                )
                .select(
                    id_col, F.zip_with("_v", "_c", lambda x, c: x - c).alias("_r")
                )
            )
            enc_col = "_r"
            # the residual book MUST seed from nonzero-residual rows: the
            # lowest-id rows are the coarse-centroid seeds, whose
            # residuals are identically zero (r13 bug class)
            codebook = residual_codebook(
                enc_src, m_subspaces, k_codes, id_col, enc_col
            )
        else:
            enc_src, enc_col = vectors, vec_col
            codebook = build_pq_codebook(
                enc_src, m_subspaces, k_codes, id_col, enc_col
            )
        # pre-write emptiness guard on the seeded book (a k-row slice),
        # before the optional Lloyd refinement: probing the refined frame
        # would run its corpus-assignment lineage once more
        if codebook.select(F.size("cvec").alias("ds")).first() is None:
            raise ValueError(
                "build_ivfpq_index: seeded PQ codebook is empty (the k_codes "
                "lowest-id seed rows are absent) — refusing to write"
            )
        if refine_iters > 0:
            codebook = refine_pq_codebook(
                enc_src, codebook, m_subspaces, refine_iters,
                id_col, enc_col, round_digits,
            )
        codebook = write_child(codebook, "codebook")
        # pack each vector's M (m, code) rows into one codes array in
        # subspace order, next to its list id
        lists = (
            pq_encode(
                enc_src, codebook, m_subspaces, id_col, enc_col, round_digits
            )
            .groupBy(id_col)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "code"))),
                    lambda s: s["code"],
                ).alias("codes")
            )
            .join(assign, id_col)
            .select("cid", id_col, "codes")
        )
        _write_sorted_lists(
            lists, f"{staging}/lists", n_rows, m_subspaces, n_centroids,
            id_col,
        )
        schemas["lists"] = _read_back_schema(lists.schema)
        if residual:
            # the query-independent half of the decomposed residual ADC
            # (residual_adc_terms): C·M·K narrow rows, priced once at
            # build so the query path never rebuilds a
            # per-(query, probed-list) LUT
            write_child(
                residual_adc_terms(codebook, centroids, round_digits),
                "resid_terms",
            )
        return {"schemas": schemas}

    staged_artifact(
        spark, path, _IVFPQ_META_NAME, identity, write,
        reuse=reuse_if_exists, what="IVFPQ index",
    )


def ivfpq_index_ready(spark: SparkSession, path: str, dim: int) -> bool:
    """Dim-validated availability gate for strategy auto-dispatch —
    the IVFPQ mirror of ann.ivf_index_ready: True iff ``path`` holds a
    :func:`build_ivfpq_index` output whose build ``dim`` matches the
    query vectors' and whose sidecar records the children's schemas
    :func:`knn_join_ivfpq` opens them with. One metadata read, no
    Spark job; absence/mismatch (including an older artifact without
    the recorded schemas) returns False and the dispatcher falls back
    rather than probing it."""
    meta = read_json_sidecar(spark, path, _IVFPQ_META_NAME)
    return meta is not None and meta.get("dim") == dim and "schemas" in meta


def _open_ivfpq(
    spark: SparkSession, path: str
) -> tuple[dict, dict[str, DataFrame]]:
    """``(meta, children)`` of the :func:`build_ivfpq_index` artifact at
    ``path``: the sidecar and each parquet child (``lists``,
    ``codebook``, ``centroids`` and, for a residual build,
    ``resid_terms``) opened with the schema the build recorded — no
    inference, no Spark job. The only reader of the artifact's layout.
    A path that is not an IVFPQ artifact, or one built before the
    schemas were recorded, raises ``ValueError``."""
    meta = read_index_meta(spark, path, _IVFPQ_META_NAME, "build_ivfpq_index")
    if "schemas" not in meta:
        raise ValueError(
            f"IVFPQ index at {path} records no child schemas; rebuild it "
            "with build_ivfpq_index"
        )
    return meta, {
        name: _read_child(spark, path, name, schema)
        for name, schema in meta["schemas"].items()
    }


def _read_child(
    spark: SparkSession, root: str, name: str, schema: dict
) -> DataFrame:
    """The parquet child ``<root>/<name>`` opened with its recorded
    (JSON) schema: no inference job."""
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(schema)).parquet(
        f"{root}/{name}"
    )
