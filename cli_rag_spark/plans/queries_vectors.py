"""Vector query pack — E5 cosine, E6 topk, E7 knn_join, embedding ops.

These are the direct capability ports of the reference's query path
(vector-db.c:148-177 brute-force cosine top-k). Every query here is
oracle-checkable: cosine is expressed with SQL higher-order functions
on the Spark side and ``list_cosine_similarity`` on the DuckDB side,
both in f64, rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import cosine_distance, l2_norm
from cli_rag_spark.operators.ann import (
    append_ivf_index,
    assign_centroids,
    build_ivf_index,
    kmeans_refine,
    knn_join_ivf,
    read_ivf_index,
    seed_centroids,
)
from cli_rag_spark.operators.knn import (
    _hyperplanes,
    knn_join,
    knn_join_lsh,
)
from cli_rag_spark.operators.mmr import mmr_oracle_sql, mmr_rerank
from cli_rag_spark.operators.pq import (
    build_ivfpq_index,
    knn_join_ivfpq,
)
from cli_rag_spark.operators.quantize import dequantize, quantize_int8
from cli_rag_spark.sources.documents import load_table

K = 5
PQ_M = 4    # subspaces (64-dim fixture → 16-dim sub-vectors)
PQ_K = 16   # codewords per subspace
IVF_CENTROIDS = 8
IVF_PROBE = 2
LSH_DIM = 64  # fixture embedding dim (FIXTURES.md)
LSH_PLANES = 16
LSH_BANDS = 4
LSH_SEED = 42
LSH_QUERIES = 10
TUNE_TARGET = 0.95  # recall target fed to both recall-targeted tuners
TUNE_K = 3
RERANK_R = 8  # ADC shortlist width the exact rerank re-scores


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top-K nearest rows to the vec_id=0 vector — the
    reference's one and only query (R9), batch-shaped. The 1-row query
    side is broadcast; Catalyst plans the top-k as
    TakeOrderedAndProject (no full sort, no shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_distance(F.col("embedding"), F.col("query_vec")), 6).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(K)
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: batch kNN join — 20 query vectors × whole index, k=3,
    self-matches excluded."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(queries, emb, k=3, exclude_self=True)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms per vector — sanity surface for E5's norm kernel."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm")
    ).orderBy("vec_id")


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise mean embedding per label — the aggregation shape of
    IVF coarse-quantizer training (operators/ann.py). posexplode →
    groupBy(label, pos) keeps it fully built-in; at scale this is one
    shuffle on (label, pos) with map-side partial aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
        .orderBy("label", "pos")
    )


def q_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of distances to the query vector in 0.1 buckets —
    exercises E5 inside a groupBy."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select(F.floor(F.round(cosine_distance(F.col("embedding"), F.col("query_vec")), 6) * 10).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def _query0(emb: DataFrame) -> DataFrame:
    """The one-row query table of the single-query judged queries: the
    vec_id 0 vector as query 0."""
    return emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _ranked(hits: DataFrame, dist_col: str) -> DataFrame:
    """A one-query batch join's hits as ``[vec_id, dist_col]`` rows in
    rank order."""
    return hits.orderBy("rank").select("vec_id", dist_col)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-K via the IVF scale path (operators/ann.py):
    seeded coarse centroids, broadcast assignment, probe the 2 nearest
    of 8 lists, exact re-score inside — knn_join_ivf over a one-row
    query table and the cid-less embeddings frame, which it assigns
    on the fly against the seeded quantizer. Deterministic end to end,
    so the full approximate result is oracle-checked — not just
    counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _ranked(
        knn_join_ivf(
            _query0(emb), emb, k=K, n_centroids=IVF_CENTROIDS,
            n_probe=IVF_PROBE,
        ),
        "dist",
    )


def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN join via random-hyperplane LSH banding — the
    100 TB candidate-generation path (operators/knn.py). Deterministic
    seeded hyperplanes make the full approximate result (candidates ∩
    re-score ∩ top-3) oracle-checkable: the oracle SQL embeds the same
    plane literals and replays banding + rescoring in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join_lsh(
        queries, emb, k=3, dim=LSH_DIM,
        n_planes=LSH_PLANES, n_bands=LSH_BANDS, seed=LSH_SEED,
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


def q_lsh_recall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the LSH approximate kNN against the exact join
    (operators/knn.py topk_recall, r6) — the in-engine ANN quality
    gate: per-query hit counts, exact integers. The LSH side runs at
    k=4 and drops the always-present SELF row (its bands trivially
    self-match) so both sides compare 3 non-self neighbors; the
    oracle composes the knn_join and knn_join_lsh oracle chains into
    one statement, so banding, rescoring, AND the recall join all
    replay."""
    from cli_rag_spark.operators.knn import topk_recall

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    from pyspark.sql import Window as W

    exact = knn_join(queries, emb, k=3, exclude_self=True)
    # k=4 then drop self then RE-RANK to 3: whether or not the self
    # row made the top-4 (dist-0 ties), the survivors re-ranked by
    # (dist, vec_id) are exactly the top-3 non-self candidates —
    # matching the oracle, which ranks after the self filter
    rw = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    approx = (
        knn_join_lsh(
            queries, emb, k=4, dim=LSH_DIM,
            n_planes=LSH_PLANES, n_bands=LSH_BANDS, seed=LSH_SEED,
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("_r", F.row_number().over(rw))
        .where(F.col("_r") <= 3)
    )
    return topk_recall(exact, approx, k=3).orderBy("query_id")


def q_knn_join_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector queries the whole index (k=3, self excluded):
    query blocks broadcast, index scored in place
    partition-by-partition with one f64 matmul per (block × partition)
    — the all-pairs workload of the exact kernel."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(queries, emb, k=3, exclude_self=True)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


def q_knn_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 through the strategy AUTO-DISPATCH (operators/knn.py
    knn_join_auto, r9): the selector reads the workload shape
    (|Q|·|N|·dim pair-ops) and routes to GEMM / IVF / IVFPQ / LSH.
    The fixture's all-pairs shape (500×500×64 = 1.6e7 pair-ops at
    sf0.01, 2000×2000×64 = 2.6e8 at sf0.1) sits inside the GEMM
    envelope at both scales — asserted in tests/test_knn.py, which
    also pins the other choices on their shapes. The oracle is plain
    brute force: the driver proves the dispatcher returns the exact
    answer, whatever path it routed."""
    from cli_rag_spark.operators.knn import knn_join_auto

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join_auto(queries, emb, k=5, exclude_self=True)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


def q_ann_default_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured-default RULE FAMILY as judged data (r13): every
    shipped ANN sizing rule — default_lsh_geometry (operators/knn.py,
    VERDICT r12 #3), default_rerank_depth (operators/pq.py, VERDICT
    r12 #1), default_n_centroids / default_n_probe (operators/ann.py,
    r10), default_pq_geometry (operators/pq.py, r12) — evaluated over
    a seven-decade corpus ladder n = 10^t (t from the embeddings
    table's vec_id 3..9, so the row set is fixture-anchored) with
    k = 2^t feeding the rerank rule. The oracle replays the arithmetic
    (ceil-log2 bit budgets, isqrt clamps, birthday-bound code bits,
    next-divisor-of-dim search at dim 64) in SQL, so any silent edit
    to a shipped constant or formula hash-mismatches — the dispatch
    constants are data, not prose."""
    from cli_rag_spark.operators.ann import (
        default_n_centroids,
        default_n_probe,
    )
    from cli_rag_spark.operators.knn import default_lsh_geometry
    from cli_rag_spark.operators.pq import (
        default_pq_geometry,
        default_rerank_depth,
    )

    rows = []
    for t in range(3, 10):
        n, k = 10 ** t, 2 ** t
        planes, bands = default_lsh_geometry(n)
        c = default_n_centroids(n)
        m, kc = default_pq_geometry(64, n)
        rows.append(
            (t, n, planes, bands, default_rerank_depth(k),
             default_rerank_depth(k, n, c), c,
             default_n_probe(c), m, kc)
        )
    rules = spark.createDataFrame(
        rows,
        "t long, n long, lsh_planes long, lsh_bands long, "
        "rerank_depth long, rerank_depth_struct long, "
        "n_centroids long, n_probe long, pq_m long, pq_k long",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    anchor = emb.where(
        (F.col("vec_id") >= 3) & (F.col("vec_id") <= 9)
    ).select(F.col("vec_id").cast("long").alias("t"))
    return rules.join(anchor, "t").orderBy("t")


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py): vectors live
    as M=4 codeword ids (~64× smaller than the reference's f64 rows,
    vector-db.h:6); the query builds one M×K lookup table and every
    vector's distance estimate is a sum of 4 table lookups — the scan
    never touches an embedding. Seeded codebooks (sub-slices of the 16
    lowest-id vectors) keep the whole pipeline — encode argmin, LUT,
    ADC sum — exactly replayable in the DuckDB oracle.

    Runs knn_join_ivfpq over a one-row query table and the PERSISTED
    raw IVFPQ artifact (_persisted_ivfpq), probing all 8 lists: a raw
    build persists exactly the seeded codebook and codes a flat PQ
    index would, and flat ADC is IVFADC probing every list, so the
    unpruned scan here reads every list's packed codes — at 100 TB
    the encode is a one-time build and queries touch ~4 codes/vector.
    The Lloyd-refined variant (same persisted layout, higher recall) is
    exercised in tests/test_pq.py; the judged path keeps the seeded
    codebook so the oracle can replay it."""
    emb, path = _persisted_ivfpq(spark, sf_dir, False)
    return _ranked(
        knn_join_ivfpq(_query0(emb), path, k=K, n_probe=IVF_CENTROIDS),
        "est_d2",
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (operators/pq.py knn_join_ivfpq over a one-row query
    table): IVF list pruning composed with PQ ADC scoring — probe the
    2 nearest of 8 coarse lists, then estimate distances from the
    persisted PQ codes of just those lists. The 100 TB query path in
    full: the scan is 2/8 of the rows at ~4 B each, embeddings
    untouched. The codebook, the seeded coarse quantizer and the lists
    (each vector's list id with its codes) all come from the persisted
    raw IVFPQ artifact, so no query run re-derives them from the
    corpus; every stage is deterministic, so the entire approximate
    result is oracle-replayed (assignment argmin, probe, encode argmin,
    LUT, ADC sum — all in SQL)."""
    emb, path = _persisted_ivfpq(spark, sf_dir, False)
    return _ranked(
        knn_join_ivfpq(_query0(emb), path, k=K, n_probe=IVF_PROBE), "est_d2"
    )


def _persisted_ivfpq(spark: SparkSession, sf_dir: str, residual: bool):
    """(embeddings, artifact path) of the seeded C=IVF_CENTROIDS,
    PQ_M × PQ_K IVFPQ artifact every IVFADC judged query reads, raw or
    residual-encoded: built once per sf_dir at a stable scratch path;
    knn_join_ivfpq reads its geometry and scoring form from the
    sidecar. The path names the query family's artifact generation:
    raw v1; residual v3 = the r15 decomposed-terms artifact (v2 = the
    r13 nonzero-seed fix). A build whose sidecar predates the current
    layout fails the reuse identity and is rebuilt in place.

    No query run re-derives the quantizer, the N·C assignment scan or
    the codes from the corpus — at 100 TB an N-scan per query batch is
    exactly what the artifact exists to avoid. The build composes the
    same seeded quantizer, assignment, codebook and encoder the DuckDB
    oracles replay.

    r16 (VERDICT r15 #2 / ADVICE r15): reuse is CONTENT-fingerprinted
    — build_ivfpq_index(reuse_if_exists=True) compares the live
    frame's count + bit_xor(xxhash64) and the full build params
    against the artifact meta every run, so a stale artifact (fixture
    regenerated at the same sf_dir, or constants changed) forces a
    rebuild instead of serving silently wrong candidates."""
    import hashlib
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    kind = "res_v3" if residual else "raw_v1"
    path = f"{tempfile.gettempdir()}/cli_rag_spark_ivfpq{kind}_{tag}"
    build_ivfpq_index(
        emb.where(F.col("embedding").isNotNull()), path,
        n_centroids=IVF_CENTROIDS, m_subspaces=PQ_M, k_codes=PQ_K,
        residual=residual, reuse_if_exists=True,
    )
    return emb, path


def q_knn_join_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVFADC kNN join (operators/pq.py knn_join_ivfpq, r11) —
    the SUB-linear member of the E7 family the routed-shape
    measurement demanded (SCALING.md r11: past the GEMM envelope both
    flat paths lose by 27-57×): per query, probe the 2 nearest of 8
    coarse lists and ADC-score only those lists' persisted codes —
    candidate volume Q·n_probe·(N/C)·M narrow rows, embeddings
    untouched at query time. Since r15 the coarse quantizer and the
    inverted file come from the persisted artifact too
    (_persisted_ivfpq — no N-scan at query time; same seeded
    arithmetic, values unchanged). Probe, encode argmin, per-query
    LUT, and ADC sum are all seeded/deterministic, so the 10-query
    batch is oracle-replayed end to end."""
    emb, path = _persisted_ivfpq(spark, sf_dir, False)
    q = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = knn_join_ivfpq(q, path, k=K, n_probe=IVF_PROBE)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


def q_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-R (operators/knn.py rerank_exact composed behind
    knn_join_ivfpq, r12): the ADC top-RERANK_R shortlist per query is
    re-scored with EXACT cosine — the Jégou §V.B refinement, and the
    measured answer to the r12 finding that the sub-linear join's
    weakness is RANKING, not candidate generation (at 2M rows the
    true top-10's coverage inside ADC's top-100/300 is 0.67/0.84
    while recall@10 of the raw ADC order is 0.33 — SCALING.md). The
    rerank's embedding fetch is R·Q rows, never N: the only exact
    work in the chain is the shortlist. Probe, encode, LUT, ADC sum,
    shortlist cut, exact re-score, and final rank are all
    deterministic, so the full two-stage ranking is oracle-replayed
    in one SQL statement."""
    from cli_rag_spark.operators.knn import rerank_exact

    emb, path = _persisted_ivfpq(spark, sf_dir, False)
    q = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cand = knn_join_ivfpq(q, path, k=RERANK_R, n_probe=IVF_PROBE)
    out = rerank_exact(cand, q, emb, k=TUNE_K)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


def q_knn_join_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch RESIDUAL-encoded IVFADC join (operators/pq.py
    knn_join_ivfpq with the resid_terms of a build_ivfpq_index(
    residual=True) artifact, r13) — the full Jégou §IV formulation at
    batch scale, and the measured answer to the r13 clustered-corpus
    finding that raw-vector codes cannot rank WITHIN a query's home
    list (raw ADC recall@10 0.121 at 2M; SCALING.md r13): codes
    describe x − centroid, so the codeword budget resolves exactly
    that within-list displacement. Since r15 the estimate runs
    DECOMPOSED (VERDICT r14 #1): the artifact ships its
    query-independent (2·c_m·r + r·r) terms table and the query side
    is a broadcast Q·M·K table plus the probe's ||q−c||² scalar — no
    per-(query, probed-list) LUT shuffle; everything keeps the
    sub-linear shape (candidates Q·n_probe·(N/C)·M narrow code rows,
    embeddings untouched at query time). Residuals, both argmins, the
    terms table, and the decomposed ADC sum are all
    seeded/deterministic, so the batch is oracle-replayed end to
    end."""
    emb, path = _persisted_ivfpq(spark, sf_dir, True)
    q = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = knn_join_ivfpq(q, path, k=K, n_probe=IVF_PROBE)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVFADC for one query (operators/pq.py
    knn_join_ivfpq over a one-row query table and the persisted
    residual artifact q_knn_join_ivfpq_residual reads) — the full
    Jégou §IV formulation: PQ codes describe x − centroid, so the
    codeword budget resolves within-list displacement instead of
    re-describing the coarse structure; the estimate is the r15
    decomposition over the artifact's terms table. Measured mean
    recall@50 over 5 queries at sf0.01: 0.532 residual vs 0.508
    raw-vector IVFADC (locked ≥ in tests/test_pq.py). Deterministic
    end to end — residuals, argmins, terms and LUT all
    SQL-oracle-replayed."""
    emb, path = _persisted_ivfpq(spark, sf_dir, True)
    return _ranked(
        knn_join_ivfpq(_query0(emb), path, k=K, n_probe=IVF_PROBE), "est_d2"
    )


def q_knn_join_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch flat-ADC kNN join over the persisted raw IVFPQ artifact
    (operators/pq.py knn_join_ivfpq with n_probe = all 8 lists — flat
    ADC is IVFADC probing every list): per-query codeword LUTs
    broadcast (Q·M·K tiny rows), ADC sums partial-aggregated per
    (query, id) over the scan of every list's packed codes, per-query
    top-3 window. No embedding is read per query — the memory-bound
    complement to the compute-bound GEMM path."""
    emb, path = _persisted_ivfpq(spark, sf_dir, False)
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join_ivfpq(queries, path, k=3, n_probe=IVF_CENTROIDS)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized index top-k (operators/quantize.py): embeddings
    are stored as array<tinyint> + per-vector scale (~8x smaller than
    the reference's f64 rows), dequantized and scored on the fly. The
    explicit floor(x/scale + 0.5) rounding makes every quantized value
    bit-reproducible in the oracle.

    The quantized frame is cached: in production the int8 index is
    PERSISTED (that is the point of quantizing) and scans read it
    back; without the materialization barrier Catalyst's project
    collapse would inline the whole quantize→dequantize chain into
    every one of the cosine's three vector references and re-evaluate
    the O(d) scale aggregate per element — measured 5.1 s vs 0.4 s at
    sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    deq = dequantize(quantize_int8(emb)).cache()
    q = deq.where(F.col("vec_id") == 0).select(
        F.col("embedding_deq").alias("query_vec")
    )
    return (
        deq.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_distance(F.col("embedding_deq"), F.col("query_vec")), 6).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(K)
    )


def _persisted_ivf(spark: SparkSession, sf_dir: str):
    """(embeddings, path, index) of the seeded C=IVF_CENTROIDS IVF
    index every batch-IVF judged query reads: built once per sf_dir at
    a stable scratch path (reuse is content-fingerprinted, the
    _persisted_ivfpq rule) and opened through read_ivf_index's
    O(1) metadata check."""
    import hashlib
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/cli_rag_spark_ivf_{tag}"
    build_ivf_index(emb, path, n_centroids=IVF_CENTROIDS, reuse_if_exists=True)
    return emb, path, read_ivf_index(spark, path, n_centroids=IVF_CENTROIDS)


def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate batch kNN join via IVF bucketing (operators/ann.py
    knn_join_ivf) — the 4th physical strategy for E7, run against the
    PERSISTED index: build_ivf_index writes (cid, id)-sorted parquet
    (small row groups; r14 default) + its coarse quantizer + build
    metadata, read_ivf_index re-opens it with an O(1) metadata check,
    and the join probes with the index's own ``_centroids`` and joins
    candidates on cid with no re-assignment of the corpus (at 100 TB
    the index exists precisely to be stored). Persisted and on-the-fly
    paths are asserted identical in tests/test_ann.py. Candidate cost
    is O(rows in probed lists), never Q·N; recall tunes with n_probe.
    Deterministic end to end, so the full approximate result is
    oracle-checked."""
    emb, _, index = _persisted_ivf(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        knn_join_ivf(
            queries, index, k=3, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        )
        # oracle row_number() is BIGINT; match it (as siblings do above)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    )


def q_ivf_recall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF approximate kNN join against the exact
    join (operators/knn.py topk_recall, r6) — the n_probe tuning gate
    next to lsh_recall_stats: the two approximate strategies now
    share one in-engine quality metric. Same self-handling as the
    LSH gate: k=4, drop the always-present self row (a corpus query's
    own list is its nearest centroid's, always probed), re-rank to 3.
    The oracle composes the knn_join_ivf chain with the exact chain
    and the recall join in one statement."""
    from pyspark.sql import Window as W

    from cli_rag_spark.operators.knn import topk_recall

    emb, _, index = _persisted_ivf(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(queries, emb, k=3, exclude_self=True)
    rw = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    approx = (
        knn_join_ivf(
            queries, index, k=4, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("_r", F.row_number().over(rw))
        .where(F.col("_r") <= 3)
    )
    return topk_recall(exact, approx, k=3).orderBy("query_id")


def q_tuner_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-TARGETED tuners, judged (VERDICT r11 #5 — both were
    pytest-only): one row per tuner with the width it chose and the
    recall it measured at that width, against the same fixture index
    and query set the other ANN gates use.

    * ``ivf_n_probe`` — operators/ann.py tune_n_probe on the
      persisted C=8 IVF index: the smallest power-of-two probe width
      (ladder 1,2,4, capped at C=8) whose measured recall@3 over the
      10-query sample meets TUNE_TARGET; ground truth is exact GEMM
      over the index's own vectors (self included — the tuner's
      contract).
    * ``lsh_n_bands`` — operators/knn.py tune_lsh_bands at the 16/4
      fixture plane geometry: the smallest divisor-of-16 band count
      meeting the target, or the terminal rung with its MEASURED
      recall (banding has no guaranteed-1.0 rung).

    Both searches are deterministic DataFrame computations for a
    fixed sample, so the ORACLE REPLAYS THE WHOLE LADDER in SQL:
    per-rung recall@3 (the ivf_recall_stats machinery generalized
    over a rungs table), then the same smallest-meeting-rung /
    terminal-rung selection — a tuner that walked its ladder wrong,
    rounded recall differently, or overshot the minimal rung
    (ADVICE r11 on the old 1→default jump) hash-mismatches."""
    from cli_rag_spark.operators.ann import tune_n_probe
    from cli_rag_spark.operators.knn import tune_lsh_bands

    emb, path, _ = _persisted_ivf(spark, sf_dir)
    qset = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # ONE exact ground truth serves both ladders (r13, VERDICT r12
    # #7: the two tuners each computed their own identical GEMM over
    # the same queries × corpus — ~the most expensive stage of the
    # headline's most expensive entry, paid twice). Values unchanged:
    # both tuners scored against this exact frame before, just
    # re-derived.
    exact = knn_join(
        qset, emb, k=TUNE_K, dim=LSH_DIM
    ).localCheckpoint(eager=True)
    # r16 (guide §2.6 — overlap independent jobs): the two ladder
    # searches are independent given the shared `exact` frame and each
    # is ONE candidate join + ONE collect after the single-pass ladder
    # change, so they run concurrently from a 2-thread pool — the LSH
    # tuner's jobs back-fill executors the (driver-bound) IVF tuner
    # leaves idle. Each tuner is a deterministic DataFrame computation
    # whatever the scheduling, so values are unchanged; job
    # descriptions are thread-local, and `inheritable_thread_target`
    # is the documented way to carry them into pool threads.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _ivf():
        return tune_n_probe(
            spark, path, qset, target_recall=TUNE_TARGET, k=TUNE_K,
            exact=exact,
        )

    def _lsh():
        return tune_lsh_bands(
            qset, emb, LSH_DIM, target_recall=TUNE_TARGET, k=TUNE_K,
            n_planes=LSH_PLANES, seed=LSH_SEED, exact=exact,
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_ivf = pool.submit(inheritable_thread_target(_ivf))
        f_lsh = pool.submit(inheritable_thread_target(_lsh))
        w_ivf, r_ivf = f_ivf.result()
        w_lsh, r_lsh = f_lsh.result()
    return spark.createDataFrame(
        [
            ("ivf_n_probe", w_ivf, float(r_ivf)),
            ("lsh_n_bands", w_lsh, float(r_lsh)),
        ],
        "tuner string, width long, recall double",
    ).orderBy("tuner")


def _ivf_ranked_vs_exact(spark: SparkSession, sf_dir: str):
    """Shared eval chain for the rank-quality gates: the persisted-IVF
    ranking (self excluded, re-ranked 1..n) and the exact top-3 gold
    set, both over the vec_id < LSH_QUERIES query set."""
    from pyspark.sql import Window as W

    emb, _, index = _persisted_ivf(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(queries, emb, k=3, exclude_self=True)
    rw = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    ranked = (
        knn_join_ivf(
            queries, index, k=4, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(rw))
    )
    return ranked.select("query_id", "vec_id", "rank"), exact.select(
        "query_id", "vec_id"
    )


def q_ann_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sensitive ANN quality (operators/knn.py rank_metrics, r7):
    where the exact neighbors LAND in the IVF ranking — per-query
    precision@3, first-relevant rank, and reciprocal rank, next to
    ivf_recall_stats' set-overlap view. A context assembler reads
    results top-down (multirag.c:115-119 stuffs chunks best-first),
    so an ANN index that finds the right neighbors but ranks them
    last is worse than its recall suggests; this is the gate that
    sees the difference. Same probe chain and self-handling as the
    recall gate; the oracle composes the IVF chain, the exact chain,
    and the metric aggregation in one statement — every emitted
    value is an exact integer or a small rational rounded after
    integer aggregation."""
    from cli_rag_spark.operators.knn import rank_metrics

    ranked, exact = _ivf_ranked_vs_exact(spark, sf_dir)
    return rank_metrics(ranked, exact, k=3).orderBy("query_id")


def q_ann_ndcg_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@3 of the persisted-IVF ranking against the exact gold set
    (operators/knn.py ndcg_at_k, r7) — the position-DISCOUNTED member
    of the eval suite beside recall (set overlap), precision@k
    (position-blind) and MRR (first hit only): every relevant item's
    placement contributes 1/log2(rank+1), so burying the second and
    third neighbors costs score that MRR never sees. DCG and IDCG
    are ordered folds in BOTH engines (sort_array+aggregate here,
    list_sort+list_reduce in the oracle), so the float sums are
    addition-order identical."""
    from cli_rag_spark.operators.knn import ndcg_at_k

    ranked, exact = _ivf_ranked_vs_exact(spark, sf_dir)
    return ndcg_at_k(ranked, exact, k=3).orderBy("query_id")


NEG_POSITIVES = 3
NEG_K = 5


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (r7,
    operators/knn.py hard_negatives — the DPR recipe): per query, the
    exact top-3 neighbors are the positives, and the 5 nearest
    NON-positive rows are the hard negatives a bi-encoder trains
    against. The anti-join happens before ranking, so negatives never
    underfill. The oracle composes the distance table, the positive
    window, the anti-join, and the negative window in one statement."""
    from cli_rag_spark.operators.knn import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    positives = knn_join(queries, emb, k=NEG_POSITIVES, exclude_self=True).select(
        "query_id", "vec_id"
    )
    return (
        hard_negatives(queries, emb, positives, k=NEG_K)
        .select(
            "query_id", "vec_id", "dist",
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
        .orderBy("query_id", "neg_rank")
    )


MMR_SHORTLIST = 20
MMR_K = 5
MMR_LAMBDA = 0.5


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware context selection (operators/mmr.py, r7): exact
    top-20 cosine shortlist per query, then greedy MMR picks 5 —
    relevance penalized by max similarity to what's already picked —
    so the assembled context covers distinct aspects instead of five
    near-copies (the failure mode of the reference's best-first
    stuffing, multirag.c:115-119). The greedy loop runs Arrow-batched
    per query group after ONE narrow shuffle; the oracle replays the
    selection as chained argmax CTEs with identical score arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    short = knn_join(queries, emb, k=MMR_SHORTLIST, exclude_self=True)
    cand = (
        short.withColumn("rel_sim", F.round(F.lit(1.0) - F.col("dist"), 6))
        .join(emb, "vec_id")
        .select("query_id", "vec_id", "rel_sim", "embedding")
    )
    out = mmr_rerank(cand, select_k=MMR_K, lam=MMR_LAMBDA)
    return out.select(
        "query_id", F.col("mmr_rank").cast("long").alias("mmr_rank"),
        "vec_id", "mmr_score",
    ).orderBy("query_id", "mmr_rank")


def q_ivf_append_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (operators/ann.py
    append_ivf_index): build the index over a base slice, append the
    held-out batch against the EXISTING coarse quantizer (no rebuild —
    only touched cid leaves gain files), then aggregate per-list
    membership from the appended index. The oracle assigns the FULL
    corpus to the same seeded centroids in one shot, so a green row
    proves base+append ≡ one-shot build row-for-row (nothing lost,
    duplicated, or re-quantized) through the driver's own channel.
    The held-out batch is every 4th id (ids 0-7 stay in the base so
    the seeded quantizer is identical to the one-shot build's).

    Reference parity: the reference rebuilds its whole .vdb file to add
    vectors (vector-db.c write path); at 100 TB admission must be
    O(batch), which is exactly this operator's contract."""
    import hashlib
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where((F.col("vec_id") < IVF_CENTROIDS) | (F.col("vec_id") % 4 != 0))
    batch = emb.where((F.col("vec_id") >= IVF_CENTROIDS) & (F.col("vec_id") % 4 == 0))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/cli_rag_spark_ivfapp_{tag}"
    build_ivf_index(base, path, n_centroids=IVF_CENTROIDS)
    append_ivf_index(spark, path, batch)
    index = read_ivf_index(spark, path, n_centroids=IVF_CENTROIDS)
    return (
        index.groupBy(F.col("cid").cast("long").alias("cid"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("vec_id").alias("n_ids"),
            F.sum("vec_id").alias("sum_ids"),
        )
        .orderBy("cid")
    )


def q_ivf_sqrt_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C ~ √N build default (ann.default_n_centroids, VERDICT r9
    Next round #3) proven through the oracle channel: build_ivf_index
    with n_centroids UNSET sizes the coarse quantizer as isqrt(N) from
    the row count it already computes, and the per-list occupancy of
    the persisted index is replayed by an oracle that
    derives the same C = floor(sqrt(count(*))) from the table itself —
    so a policy regression (fixed C, wrong clamp, drifted seeding)
    lands in a row-count or value mismatch. The resolved C is pinned
    into every judged row via the n_centroids column (read from the
    index's meta sidecar, no extra job). Index path follows the
    scratch_root discipline (VERDICT r9 #4)."""
    import hashlib

    from cli_rag_spark.operators.ann import _read_ivf_meta
    from cli_rag_spark.session import scratch_root

    emb = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{scratch_root()}/cli_rag_spark_ivfsqrt_{tag}"
    build_ivf_index(emb, path, reuse_if_exists=True)  # default C = isqrt(N)
    resolved_c = int(_read_ivf_meta(spark, path)["n_centroids"])
    index = read_ivf_index(spark, path)
    return (
        index.groupBy(F.col("cid").cast("long").alias("cid"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("sum_ids"),
        )
        .withColumn("n_centroids", F.lit(resolved_c).cast("long"))
        .orderBy("cid")
    )


KM_CENTROIDS = 8
KM_ITERS = 2


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings (operators/ann.py):
    seeded centroids, 2 refine iterations (broadcast assignment +
    element-wise mean — one narrow shuffle per iteration), final
    assignment, then per-cluster size and mean distance-to-centroid
    (the k-means inertia decomposed by cluster). Fully deterministic
    (rounded distances and centroid components, cid tie-breaks), so
    the ENTIRE iterative refinement replays in the DuckDB oracle —
    not just the final counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = seed_centroids(emb, KM_CENTROIDS)
    cent = kmeans_refine(emb, cent, n_iters=KM_ITERS, round_digits=6)
    assign = assign_centroids(emb, cent)
    d = F.round(cosine_distance(F.col("embedding"), F.col("cvec")), 6)
    return (
        emb.join(assign, "vec_id")
        .join(F.broadcast(cent), "cid")
        .select("cid", d.alias("_d"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("_d"), 4).alias("avg_dist"),
        )
        .orderBy("cid")
    )


def _assign_cte(name: str, cent: str) -> str:
    return f"""{name} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                   ) AS rn
            FROM embeddings e, {cent} c
        ) WHERE rn = 1
    )"""


def _kmeans_cte_chain(n_cent: int, iters: int, dim: int) -> list[str]:
    """The full Lloyd loop as chained CTEs (assignment → per-position
    mean → coalesce empty clusters), mirroring kmeans_refine exactly;
    ends with ``af`` (final assignment) against ``cent{iters}``."""
    ctes = [
        f"""cent0 AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < {n_cent}
        )"""
    ]
    for i in range(iters):
        ctes.append(_assign_cte(f"a{i}", f"cent{i}"))
        ctes.append(f"""means{i} AS (
            SELECT cid, list(val ORDER BY pos) AS cvec FROM (
                SELECT a.cid, gs AS pos, round(avg(e.embedding[gs]::DOUBLE), 6) AS val
                FROM embeddings e JOIN a{i} a USING (vec_id)
                CROSS JOIN generate_series(1, {dim}) t(gs)
                GROUP BY a.cid, gs
            ) GROUP BY cid
        )""")
        ctes.append(f"""cent{i + 1} AS (
            SELECT c.cid, COALESCE(m.cvec, c.cvec) AS cvec
            FROM cent{i} c LEFT JOIN means{i} m USING (cid)
        )""")
    ctes.append(_assign_cte("af", f"cent{iters}"))
    return ctes


def _kmeans_oracle(n_cent: int, iters: int, dim: int) -> str:
    ctes = _kmeans_cte_chain(n_cent, iters, dim)
    return f"""
        WITH {", ".join(ctes)}
        SELECT a.cid, count(*) AS n_vectors,
               round(avg(round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6)), 4) AS avg_dist
        FROM embeddings e
        JOIN af a USING (vec_id)
        JOIN cent{iters} c USING (cid)
        GROUP BY a.cid ORDER BY a.cid
    """


IVF_REFINE_ITERS = 2


def q_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K against a PERSISTED, Lloyd-REFINED IVF index — the full
    production path (operators/ann.py): build_ivf_index(refine_iters=2)
    persists the refined quantizer as the _centroids sidecar +
    metadata; ivf_topk_persisted probes the sidecar and scans only the
    probed cid leaves. Nothing is re-derived from raw vectors at query
    time — this is the query that proves the persisted artifacts are
    self-sufficient AND that the refined quantizer (not a re-seeded
    one) picks the lists. Oracle replays the exact Lloyd chain (the
    kmeans_clusters CTE builder) + probe + rescore."""
    import hashlib
    import tempfile

    from cli_rag_spark.operators.ann import build_ivf_index, ivf_topk_persisted

    emb = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/cli_rag_spark_ivfref_{tag}"
    build_ivf_index(
        emb, path, IVF_CENTROIDS, refine_iters=IVF_REFINE_ITERS,
        reuse_if_exists=True,
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    return ivf_topk_persisted(spark, path, q, k=K, n_probe=IVF_PROBE)


def _ivf_refined_oracle(n_cent: int, iters: int, dim: int, probe: int, k: int) -> str:
    ctes = _kmeans_cte_chain(n_cent, iters, dim)
    return f"""
        WITH {", ".join(ctes)},
        q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ), probed AS (
          SELECT c.cid FROM cent{iters} c, q
          ORDER BY round(1 - list_cosine_similarity(c.cvec, q.qv), 6) ASC, c.cid ASC
          LIMIT {probe}
        )
        SELECT e.vec_id,
               round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS dist
        FROM embeddings e
        JOIN af a USING (vec_id)
        JOIN probed p ON a.cid = p.cid
        CROSS JOIN q
        ORDER BY dist ASC, e.vec_id ASC LIMIT {k}
    """


MRL_COARSE = 16  # Matryoshka prefix width (of the 64-dim fixture)
MRL_SHORT = 25   # coarse-stage shortlist


def q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka funnel (operators/topk.py matryoshka_topk):
    coarse rank on the 16-dim embedding prefix → 25-row shortlist →
    full-width rerank → top-K. Both stages are TakeOrderedAndProject
    bounded heaps; deterministic tie-breaks make the whole funnel
    (shortlist membership included) oracle-exact."""
    from cli_rag_spark.operators.topk import matryoshka_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return matryoshka_topk(
        emb, qv, k=K, coarse_dims=MRL_COARSE, shortlist=MRL_SHORT
    ).select("vec_id", "coarse_dist", "dist")


_MATRYOSHKA_SQL = f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), coarse AS (
      SELECT e.vec_id, e.embedding,
             round(1 - list_cosine_similarity(e.embedding[1:{MRL_COARSE}]::DOUBLE[],
                                              q.qv[1:{MRL_COARSE}]), 6) AS coarse_dist
      FROM embeddings e, q
      ORDER BY coarse_dist ASC, e.vec_id ASC LIMIT {MRL_SHORT}
    )
    SELECT c.vec_id, c.coarse_dist,
           round(1 - list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) AS dist
    FROM coarse c, q
    ORDER BY dist ASC, c.vec_id ASC LIMIT {K}
"""


COV_DIMS = 8  # judged slice; the full-width float path is tests/test_pca.py


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the first COV_DIMS embedding
    dimensions — the oracle bridge for the distributed PCA operator
    (operators/pca.py).

    This judged form is the decimal-exact single-scan aggregate: the
    dim slice is extracted as plain columns (no explode — N rows stay
    N rows), every sum and cross-product sum accumulates in
    decimal(27,12) so the result is independent of partial-sum order
    (the float Gram path in pca.py is last-ulp nondeterministic by
    design and is numpy-checked in pytest instead). One scan, one
    partial-aggregated reduce of 45 decimals, zero joins — the same
    single-pass sufficient-statistics shape pca.gram_partials uses at
    full width.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        *[F.col("embedding")[i].cast("double").alias(f"x{i}") for i in range(COV_DIMS)]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(COV_DIMS):
        aggs.append(F.sum(F.col(f"x{i}").cast("decimal(27,12)")).alias(f"s{i}"))
        for j in range(i, COV_DIMS):
            aggs.append(
                F.sum((F.col(f"x{i}") * F.col(f"x{j}")).cast("decimal(27,12)")).alias(
                    f"p{i}_{j}"
                )
            )
    stats = base.agg(*aggs)
    n = F.col("n")
    entries = []
    for i in range(COV_DIMS):
        for j in range(i, COV_DIMS):
            # identical double expression tree on the oracle side:
            # exact decimal sums -> double, then (pij - si*sj/n)/(n-1)
            cov = (
                F.col(f"p{i}_{j}").cast("double")
                - F.col(f"s{i}").cast("double") * F.col(f"s{j}").cast("double") / n
            ) / (n - F.lit(1))
            entries.append(
                F.struct(
                    F.lit(i).cast("long").alias("dim_i"),
                    F.lit(j).cast("long").alias("dim_j"),
                    F.round(cov, 10).alias("cov"),
                )
            )
    return (
        stats.select(F.explode(F.array(*entries)).alias("e"))
        .select("e.*")
        .orderBy("dim_i", "dim_j")
    )


def _covariance_oracle_sql() -> str:
    """The same decimal-exact sufficient statistics in DuckDB; the
    final covariance arithmetic is the same double expression tree, so
    the values match bit-for-bit (dyadic float products can never tie
    at the 10th decimal, so round() tie-rule differences are moot)."""
    xs = ", ".join(
        f"embedding[{i + 1}]::DOUBLE AS x{i}" for i in range(COV_DIMS)
    )
    sums = [f"count(*) AS n"]
    for i in range(COV_DIMS):
        sums.append(f"sum(CAST(x{i} AS DECIMAL(27,12))) AS s{i}")
        for j in range(i, COV_DIMS):
            sums.append(f"sum(CAST(x{i} * x{j} AS DECIMAL(27,12))) AS p{i}_{j}")
    selects = []
    for i in range(COV_DIMS):
        for j in range(i, COV_DIMS):
            selects.append(
                f"SELECT CAST({i} AS BIGINT) AS dim_i, CAST({j} AS BIGINT) AS dim_j, "
                f"round((CAST(p{i}_{j} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE) / n) / (n - 1), 10) AS cov "
                f"FROM stats"
            )
    return f"""
        WITH base AS (SELECT {xs} FROM embeddings),
        stats AS (SELECT {", ".join(sums)} FROM base)
        {" UNION ALL ".join(selects)}
        ORDER BY dim_i, dim_j
    """


QUERIES = {
    "ivf_refined_topk": q_ivf_refined_topk,
    "matryoshka_topk": q_matryoshka_topk,
    "embedding_covariance": q_embedding_covariance,
    "kmeans_clusters": q_kmeans_clusters,
    "knn_join_ivf": q_knn_join_ivf,
    "ivf_recall_stats": q_ivf_recall_stats,
    "tuner_widths": q_tuner_widths,
    "ann_rank_metrics": q_ann_rank_metrics,
    "ann_ndcg_metrics": q_ann_ndcg_metrics,
    "mmr_rerank": q_mmr_rerank,
    "hard_negative_mining": q_hard_negative_mining,
    "ivf_append_stats": q_ivf_append_stats,
    "ivf_sqrt_partition_stats": q_ivf_sqrt_partition_stats,
    "cosine_topk": q_cosine_topk,
    "pq_topk": q_pq_topk,
    "ivfpq_topk": q_ivfpq_topk,
    "knn_join_ivfpq": q_knn_join_ivfpq,
    "ivfpq_rerank_topk": q_ivfpq_rerank_topk,
    "ivfpq_residual_topk": q_ivfpq_residual_topk,
    "knn_join_ivfpq_residual": q_knn_join_ivfpq_residual,
    "knn_join_pq": q_knn_join_pq,
    "quantized_topk": q_quantized_topk,
    "ivf_topk": q_ivf_topk,
    "knn_join_lsh": q_knn_join_lsh,
    "lsh_recall_stats": q_lsh_recall_stats,
    "knn_join_all": q_knn_join_all,
    "knn_join_auto": q_knn_join_auto,
    "ann_default_rules": q_ann_default_rules,
    "knn_join": q_knn_join,
    "embedding_norms": q_embedding_norms,
    "label_centroids": q_label_centroids,
    "cosine_histogram": q_cosine_histogram,
}

# Shared IVF CTE chain (seeded centroids → corpus assignment → query
# probes → candidate scoring); the knn_join_ivf oracle and the
# ivf_recall_stats oracle both compose over `ivf_scored`.
_IVF_SCORED_CTES = f"""
        cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ), iassign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), qprobe AS (
            SELECT query_id, qv, cid FROM (
                SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(1 - list_cosine_similarity(q.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings q, cent c WHERE q.vec_id < {LSH_QUERIES}
            ) WHERE rn <= {IVF_PROBE}
        ), ivf_scored AS (
            SELECT p.query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], p.qv), 6) AS dist
            FROM embeddings e
            JOIN iassign a ON e.vec_id = a.vec_id
            JOIN qprobe p ON a.cid = p.cid
        )"""


def _lsh_scored_ctes() -> str:
    """The shared CTE chain (sig → bands → q → cand → scored) of the
    DuckDB LSH replay with the same seeded plane literals
    (knn._hyperplanes). Dot products are spelled out as
    left-associated sums so the IEEE evaluation order matches Spark's
    sequential aggregate fold bit-for-bit. Both the knn_join_lsh
    oracle and the lsh_recall_stats oracle compose over this."""
    planes = _hyperplanes(LSH_DIM, LSH_PLANES, LSH_SEED)
    rpb = LSH_PLANES // LSH_BANDS
    bit_cols = ", ".join(
        "CASE WHEN ("
        + " + ".join(f"embedding[{i + 1}]::DOUBLE * {v!r}" for i, v in enumerate(p))
        + f") >= 0 THEN 1 ELSE 0 END AS b{j}"
        for j, p in enumerate(planes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " || ".join(f"b{b * rpb + i}::VARCHAR" for i in range(rpb))
        + " AS bsig FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
        sig AS (SELECT vec_id, {bit_cols} FROM embeddings),
        bands AS ({band_rows}),
        q AS (SELECT * FROM bands WHERE vec_id < {LSH_QUERIES}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, i.vec_id
            FROM q JOIN bands i ON q.band = i.band AND q.bsig = i.bsig
        ),
        scored AS (
            SELECT c.query_id, c.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS dist
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN embeddings qe ON qe.vec_id = c.query_id
        )"""


def _lsh_oracle_sql() -> str:
    return f"""
        WITH {_lsh_scored_ctes()}
        SELECT query_id, vec_id, dist, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
            FROM scored
        )
        WHERE rank <= 3
        ORDER BY query_id, rank
    """


def _lsh_recall_oracle_sql() -> str:
    """Recall@3 of the LSH top-3 (self excluded) against the exact
    top-3 — the two chains composed into one statement: ``exact`` is
    the knn_join oracle's CTE verbatim; ``lsh3`` is the scored CTE
    ranked with the SELF row dropped first."""
    return f"""
        WITH {_lsh_scored_ctes()},
        lsh3 AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
                FROM scored WHERE vec_id <> query_id
            ) WHERE rank <= 3
        ),
        d AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {LSH_QUERIES}) q,
                 embeddings e
            WHERE e.vec_id <> q.vec_id
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
                FROM d
            ) WHERE rank <= 3
        )
        SELECT e.query_id,
               CAST(count(l.vec_id) AS BIGINT) AS n_hits,
               round(count(l.vec_id) / 3.0, 4) AS recall
        FROM exact e
        LEFT JOIN lsh3 l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """


def _tuner_oracle_sql() -> str:
    """Full SQL replay of BOTH recall-targeted ladder searches
    (q_tuner_widths): per-rung recall@TUNE_K against the exact GEMM
    gold set (self included — the tuners' ground-truth contract),
    then smallest-rung-meeting-target selection with the measured
    terminal rung as fallback. Rounding chain mirrors the engine
    exactly: per-query recall = round(hits/k, 4) (knn.topk_recall),
    rung recall = round(avg, 6) (the tuners' return)."""
    # tune_n_probe's ladder: powers of two below C, then C itself
    ivf_ladder: list[int] = []
    w = 1
    while w < IVF_CENTROIDS:
        ivf_ladder.append(w)
        w *= 2
    ivf_ladder.append(IVF_CENTROIDS)
    ivf_rungs = ", ".join(
        f"({w}, {i})" for i, w in enumerate(ivf_ladder, 1)
    )
    # tune_lsh_bands' ladder: the divisors of n_planes, ascending
    lsh_ladder = [
        b for b in range(1, LSH_PLANES + 1) if LSH_PLANES % b == 0
    ]
    lsh_rungs = ", ".join(
        f"({b}, {i})" for i, b in enumerate(lsh_ladder, 1)
    )
    planes = _hyperplanes(LSH_DIM, LSH_PLANES, LSH_SEED)
    bit_cols = ", ".join(
        "CASE WHEN ("
        + " + ".join(f"embedding[{i + 1}]::DOUBLE * {v!r}" for i, v in enumerate(p))
        + f") >= 0 THEN 1 ELSE 0 END AS b{j}"
        for j, p in enumerate(planes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT {b} AS nb, vec_id, {j} AS band, "
        + " || ".join(
            f"b{j * (LSH_PLANES // b) + i}::VARCHAR"
            for i in range(LSH_PLANES // b)
        )
        + " AS bsig FROM sig"
        for b in lsh_ladder
        for j in range(b)
    )
    pick = (
        f"row_number() OVER (ORDER BY "
        f"CASE WHEN recall >= {TUNE_TARGET} THEN 0 ELSE 1 END, "
        f"CASE WHEN recall >= {TUNE_TARGET} THEN ord ELSE -ord END) AS pr"
    )
    return f"""
        WITH exd AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {LSH_QUERIES}) q,
                 embeddings e
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
                FROM exd
            ) WHERE rn <= {TUNE_K}
        ),
        cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ),
        iassign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ),
        qprobe AS (
            SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, c.cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(1 - list_cosine_similarity(q.embedding::DOUBLE[], c.cvec), 6), c.cid
                   ) AS probe_rn
            FROM embeddings q, cent c WHERE q.vec_id < {LSH_QUERIES}
        ),
        iscored AS (
            SELECT p.query_id, e.vec_id, p.probe_rn,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], p.qv), 6) AS dist
            FROM embeddings e
            JOIN iassign a ON e.vec_id = a.vec_id
            JOIN qprobe p ON a.cid = p.cid
        ),
        ivf_rungs(w, ord) AS (VALUES {ivf_rungs}),
        ivf_approx AS (
            SELECT w, query_id, vec_id FROM (
                SELECT r.w, s.query_id, s.vec_id,
                       row_number() OVER (PARTITION BY r.w, s.query_id ORDER BY s.dist, s.vec_id) AS rn
                FROM ivf_rungs r JOIN iscored s ON s.probe_rn <= r.w
            ) WHERE rn <= {TUNE_K}
        ),
        ivf_perq AS (
            SELECT r.w, x.query_id, round(count(a.vec_id) / {TUNE_K}.0, 4) AS rec
            FROM ivf_rungs r CROSS JOIN exact x
            LEFT JOIN ivf_approx a
              ON a.w = r.w AND a.query_id = x.query_id AND a.vec_id = x.vec_id
            GROUP BY r.w, x.query_id
        ),
        ivf_rung_recall AS (
            SELECT r.w, r.ord, round(avg(rec), 6) AS recall
            FROM ivf_perq p JOIN ivf_rungs r ON p.w = r.w
            GROUP BY r.w, r.ord
        ),
        ivf_pick AS (
            SELECT w, recall FROM (
                SELECT *, {pick} FROM ivf_rung_recall
            ) WHERE pr = 1
        ),
        sig AS (SELECT vec_id, {bit_cols} FROM embeddings),
        lbands AS ({band_rows}),
        lcand AS (
            SELECT DISTINCT q.nb, q.vec_id AS query_id, i.vec_id
            FROM (SELECT * FROM lbands WHERE vec_id < {LSH_QUERIES}) q
            JOIN lbands i ON q.nb = i.nb AND q.band = i.band AND q.bsig = i.bsig
        ),
        lscored AS (
            SELECT c.nb, c.query_id, c.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS dist
            FROM lcand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN embeddings qe ON qe.vec_id = c.query_id
        ),
        lsh_approx AS (
            SELECT nb, query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY nb, query_id ORDER BY dist, vec_id) AS rn
                FROM lscored
            ) WHERE rn <= {TUNE_K}
        ),
        lsh_rungs(nb, ord) AS (VALUES {lsh_rungs}),
        lsh_perq AS (
            SELECT r.nb, x.query_id, round(count(a.vec_id) / {TUNE_K}.0, 4) AS rec
            FROM lsh_rungs r CROSS JOIN exact x
            LEFT JOIN lsh_approx a
              ON a.nb = r.nb AND a.query_id = x.query_id AND a.vec_id = x.vec_id
            GROUP BY r.nb, x.query_id
        ),
        lsh_rung_recall AS (
            SELECT r.nb, r.ord, round(avg(rec), 6) AS recall
            FROM lsh_perq p JOIN lsh_rungs r ON p.nb = r.nb
            GROUP BY r.nb, r.ord
        ),
        lsh_pick AS (
            SELECT nb, recall FROM (
                SELECT *, {pick} FROM lsh_rung_recall
            ) WHERE pr = 1
        )
        SELECT tuner, width, recall FROM (
            SELECT 'ivf_n_probe' AS tuner, CAST(w AS BIGINT) AS width, recall FROM ivf_pick
            UNION ALL
            SELECT 'lsh_n_bands' AS tuner, CAST(nb AS BIGINT) AS width, recall FROM lsh_pick
        ) ORDER BY tuner
    """


# Shared IVFADC estimate chain (codebook slices -> encode argmin ->
# coarse assign -> probe -> per-query LUT -> ADC sums): the
# knn_join_ivfpq oracle ranks `est` directly; the ivfpq_rerank_topk
# oracle takes its top-RERANK_R as the candidate list and re-scores
# with exact cosine (the IVFADC-R refinement).
_IVFPQ_EST_CTES = f"""ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cb AS (
            SELECT ms.m, e.vec_id AS code,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS cvec
            FROM embeddings e, ms WHERE e.vec_id < {PQ_K}
        ), subs AS (
            SELECT e.vec_id, ms.m,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS subvec
            FROM embeddings e, ms
        ), codes AS (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                                     i -> (s.subvec[i]-c.cvec[i])*(s.subvec[i]-c.cvec[i]))), 6), c.code
                       ) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), cent AS (
            SELECT vec_id AS cid, embedding AS ccvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ), qs AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < {LSH_QUERIES}
        ), assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.ccvec::DOUBLE[]), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), probe AS (
            SELECT query_id, cid FROM (
                SELECT q.query_id, c.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(1 - list_cosine_similarity(c.ccvec::DOUBLE[], q.qv), 6), c.cid
                       ) AS rn
                FROM cent c, qs q
            ) WHERE rn <= {IVF_PROBE}
        ), lut AS (
            SELECT q.query_id, c.m, c.code,
                   round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> (c.cvec[i]-q.qv[c.m*{LSH_DIM // PQ_M}+i])*(c.cvec[i]-q.qv[c.m*{LSH_DIM // PQ_M}+i]))), 6) AS d2
            FROM cb c, qs q
        ), est AS (
            SELECT p.query_id, codes.vec_id, round(sum(l.d2), 6) AS est_d2
            FROM codes
            JOIN assign a ON codes.vec_id = a.vec_id
            JOIN probe p ON a.cid = p.cid
            JOIN lut l ON l.query_id = p.query_id
                      AND l.m = codes.m AND l.code = codes.code
            GROUP BY p.query_id, codes.vec_id
        )"""


ORACLE = {
    # the √N sizing policy replayed from the table itself: C =
    # floor(sqrt(count(*))) — any drift in default_n_centroids, the
    # seeding (vec_id < C), or the rounded-cosine assignment flips a
    # row count or a sum_ids value
    "ivf_sqrt_partition_stats": """
        WITH cc AS (
            SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS c FROM embeddings
        ), cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings, cc WHERE vec_id < cc.c
        ), assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        )
        SELECT a.cid, count(*)::BIGINT AS n_vecs,
               sum(a.vec_id)::BIGINT AS sum_ids,
               (SELECT c FROM cc) AS n_centroids
        FROM assign a GROUP BY a.cid ORDER BY a.cid
    """,
    "ivf_refined_topk": _ivf_refined_oracle(IVF_CENTROIDS, IVF_REFINE_ITERS, LSH_DIM, IVF_PROBE, K),
    "matryoshka_topk": _MATRYOSHKA_SQL,
    "embedding_covariance": _covariance_oracle_sql(),
    "kmeans_clusters": _kmeans_oracle(KM_CENTROIDS, KM_ITERS, LSH_DIM),
    # append ≡ one-shot: the oracle assigns the FULL corpus to the
    # seeded centroids in one pass; the Spark side answers from the
    # physically appended index (ids 0..7 are in the base slice, so
    # both quantizers are identical by construction)
    "ivf_append_stats": f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
        ), a AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        )
        SELECT cid, count(*) AS n_rows,
               count(DISTINCT vec_id) AS n_ids,
               CAST(sum(vec_id) AS BIGINT) AS sum_ids
        FROM a GROUP BY cid ORDER BY cid
    """,
    # PQ: l2² replayed as list_sum(list_transform(...)) — the same
    # left-to-right summation order as Spark's aggregate(zip_with);
    # argmin tie-break by lowest code = min_by struct ordering
    "pq_topk": f"""
        WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cb AS (
            SELECT ms.m, e.vec_id AS code,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS cvec
            FROM embeddings e, ms WHERE e.vec_id < {PQ_K}
        ), subs AS (
            SELECT e.vec_id, ms.m,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS subvec
            FROM embeddings e, ms
        ), codes AS (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                                     i -> (s.subvec[i]-c.cvec[i])*(s.subvec[i]-c.cvec[i]))), 6), c.code
                       ) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), q AS (
            SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ), lut AS (
            SELECT c.m, c.code,
                   round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> (c.cvec[i]-q.qv[c.m*{LSH_DIM // PQ_M}+i])*(c.cvec[i]-q.qv[c.m*{LSH_DIM // PQ_M}+i]))), 6) AS d2
            FROM cb c, q
        )
        SELECT codes.vec_id, round(sum(l.d2), 6) AS est_d2
        FROM codes JOIN lut l USING (m, code)
        GROUP BY codes.vec_id
        ORDER BY est_d2, codes.vec_id LIMIT {K}
    """,
    # batch ADC: the pq_topk encode replay + one LUT per query +
    # per-query top-3 window
    "knn_join_pq": f"""
        WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cb AS (
            SELECT ms.m, e.vec_id AS code,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS cvec
            FROM embeddings e, ms WHERE e.vec_id < {PQ_K}
        ), subs AS (
            SELECT e.vec_id, ms.m,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS subvec
            FROM embeddings e, ms
        ), codes AS (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                                     i -> (s.subvec[i]-c.cvec[i])*(s.subvec[i]-c.cvec[i]))), 6), c.code
                       ) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), qs AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < {LSH_QUERIES}
        ), lut AS (
            SELECT qs.query_id, c.m, c.code,
                   round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> (c.cvec[i]-qs.qv[c.m*{LSH_DIM // PQ_M}+i])*(c.cvec[i]-qs.qv[c.m*{LSH_DIM // PQ_M}+i]))), 6) AS d2
            FROM cb c, qs
        ), scored AS (
            SELECT l.query_id, codes.vec_id, round(sum(l.d2), 6) AS est_d2
            FROM codes JOIN lut l USING (m, code)
            GROUP BY l.query_id, codes.vec_id
        )
        SELECT query_id, vec_id, est_d2, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY est_d2, vec_id
            ) AS rank
            FROM scored
        )
        WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    # residual IVFADC: the ivfpq replay with residual vectors feeding
    # the codebook/encode, scored through the r15 DECOMPOSITION
    # (VERDICT r14 #1): per subspace ||(q-c)-r||^2 = ||q-c||^2
    # - 2*q_m.r + (2*c_m.r + r.r), so the replay carries the probe's
    # per-(query, cid) qc2 scalar, a query-side 2*q_m.r table (lut),
    # and the query-independent terms table (2*c_m.r + r.r) — every
    # stage of the persisted-artifact chain (seeded centroids,
    # assignment argmin, residual subtraction, residual codebook
    # seeds, encode argmin, decomposed ADC sum) in one statement
    "knn_join_ivfpq_residual": f"""
        WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ), assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), resid AS (
            SELECT e.vec_id, a.cid,
                   list_transform(range(1, {LSH_DIM} + 1),
                                  i -> (e.embedding::DOUBLE[])[i] - c.cvec[i]) AS r
            FROM embeddings e
            JOIN assign a ON e.vec_id = a.vec_id
            JOIN cent c ON a.cid = c.cid
        ), cb_seeds AS (
            -- residual_codebook: the k lowest-id NONZERO residuals
            -- (the lowest-id rows are the coarse-centroid seeds with
            -- identically-zero residuals), codes dense 0..k-1
            SELECT r, rn - 1 AS code FROM (
                SELECT r, row_number() OVER (ORDER BY vec_id) AS rn
                FROM resid
                WHERE list_sum(list_transform(r, x -> abs(x))) > 0
            ) WHERE rn <= {PQ_K}
        ), cb AS (
            SELECT ms.m, s.code,
                   s.r[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS cvec
            FROM cb_seeds s, ms
        ), subs AS (
            SELECT r0.vec_id, r0.cid, ms.m,
                   r0.r[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS subvec
            FROM resid r0, ms
        ), codes AS (
            SELECT vec_id, cid, m, code FROM (
                SELECT s.vec_id, s.cid, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                                     i -> (s.subvec[i]-c.cvec[i])*(s.subvec[i]-c.cvec[i]))), 6), c.code
                       ) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), qs AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
            WHERE vec_id < {LSH_QUERIES}
        ), probe AS (
            SELECT query_id, cid,
                   round(list_sum(list_transform(range(1, {LSH_DIM} + 1),
                         i -> (qv[i]-cvec[i])*(qv[i]-cvec[i]))), 6) AS qc2
            FROM (
                SELECT q.query_id, c.cid, c.cvec, q.qv,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(1 - list_cosine_similarity(c.cvec, q.qv), 6), c.cid
                       ) AS rn
                FROM cent c, qs q
            ) WHERE rn <= {IVF_PROBE}
        ), terms AS (
            SELECT ct.cid, c.m, c.code,
                   round(2*list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> ct.cvec[c.m*{LSH_DIM // PQ_M}+i]*c.cvec[i]))
                       + list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> c.cvec[i]*c.cvec[i])), 6) AS t2
            FROM cb c, cent ct
        ), lut AS (
            SELECT q.query_id, c.m, c.code,
                   round(2*list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> q.qv[c.m*{LSH_DIM // PQ_M}+i]*c.cvec[i])), 6) AS l2x
            FROM cb c, qs q
        ), est AS (
            SELECT p.query_id, codes.vec_id,
                   round(min(p.qc2) + sum(t.t2 - l.l2x), 6) AS est_d2
            FROM codes
            JOIN probe p ON codes.cid = p.cid
            JOIN terms t ON t.cid = codes.cid AND t.m = codes.m AND t.code = codes.code
            JOIN lut l ON l.query_id = p.query_id AND l.m = codes.m AND l.code = codes.code
            GROUP BY p.query_id, codes.vec_id
        )
        SELECT query_id, vec_id, est_d2, rank FROM (
            SELECT query_id, vec_id, est_d2,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY est_d2, vec_id
                   ) AS rank
            FROM est
        ) WHERE rank <= {K}
        ORDER BY query_id, rank
    """,
    "ivfpq_residual_topk": f"""
        WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ), assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), resid AS (
            SELECT e.vec_id, a.cid,
                   list_transform(range(1, {LSH_DIM} + 1),
                                  i -> (e.embedding::DOUBLE[])[i] - c.cvec[i]) AS r
            FROM embeddings e
            JOIN assign a ON e.vec_id = a.vec_id
            JOIN cent c ON a.cid = c.cid
        ), cb_seeds AS (
            -- residual_codebook (r13): k lowest-id NONZERO residuals,
            -- dense codes — plain lowest-id seeding picks the coarse
            -- centroids' zero residuals
            SELECT r, rn - 1 AS code FROM (
                SELECT r, row_number() OVER (ORDER BY vec_id) AS rn
                FROM resid
                WHERE list_sum(list_transform(r, x -> abs(x))) > 0
            ) WHERE rn <= {PQ_K}
        ), cb AS (
            SELECT ms.m, s.code,
                   s.r[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS cvec
            FROM cb_seeds s, ms
        ), subs AS (
            SELECT r0.vec_id, r0.cid, ms.m,
                   r0.r[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS subvec
            FROM resid r0, ms
        ), codes AS (
            SELECT vec_id, cid, m, code FROM (
                SELECT s.vec_id, s.cid, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                                     i -> (s.subvec[i]-c.cvec[i])*(s.subvec[i]-c.cvec[i]))), 6), c.code
                       ) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), q AS (
            SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ), probe AS (
            SELECT cid, cvec FROM cent, q
            ORDER BY round(1 - list_cosine_similarity(cvec, qv), 6), cid
            LIMIT {IVF_PROBE}
        ), pq2 AS (
            SELECT p.cid,
                   round(list_sum(list_transform(range(1, {LSH_DIM} + 1),
                         i -> (q.qv[i]-p.cvec[i])*(q.qv[i]-p.cvec[i]))), 6) AS qc2
            FROM probe p, q
        ), terms AS (
            SELECT p.cid, c.m, c.code,
                   round(2*list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> p.cvec[c.m*{LSH_DIM // PQ_M}+i]*c.cvec[i]))
                       + list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> c.cvec[i]*c.cvec[i])), 6) AS t2
            FROM cb c, probe p
        ), lut AS (
            SELECT c.m, c.code,
                   round(2*list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> q.qv[c.m*{LSH_DIM // PQ_M}+i]*c.cvec[i])), 6) AS l2x
            FROM cb c, q
        )
        SELECT codes.vec_id, round(min(p.qc2) + sum(t.t2 - l.l2x), 6) AS est_d2
        FROM codes
        JOIN pq2 p ON codes.cid = p.cid
        JOIN terms t ON t.cid = codes.cid AND t.m = codes.m AND t.code = codes.code
        JOIN lut l ON l.m = codes.m AND l.code = codes.code
        GROUP BY codes.vec_id
        ORDER BY est_d2, codes.vec_id LIMIT {K}
    """,
    # IVFADC = the pq_topk encode/LUT replay restricted to the
    # ivf_topk assignment/probe replay's candidate lists
    "ivfpq_topk": f"""
        WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cb AS (
            SELECT ms.m, e.vec_id AS code,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS cvec
            FROM embeddings e, ms WHERE e.vec_id < {PQ_K}
        ), subs AS (
            SELECT e.vec_id, ms.m,
                   (e.embedding::DOUBLE[])[ms.m*{LSH_DIM // PQ_M}+1 : ms.m*{LSH_DIM // PQ_M}+{LSH_DIM // PQ_M}] AS subvec
            FROM embeddings e, ms
        ), codes AS (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                                     i -> (s.subvec[i]-c.cvec[i])*(s.subvec[i]-c.cvec[i]))), 6), c.code
                       ) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), cent AS (
            SELECT vec_id AS cid, embedding AS ccvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ), q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        ), assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.ccvec::DOUBLE[]), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), probe AS (
            SELECT cid FROM cent, q
            ORDER BY round(1 - list_cosine_similarity(ccvec::DOUBLE[], qv::DOUBLE[]), 6), cid
            LIMIT {IVF_PROBE}
        ), qd AS (
            SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ), lut AS (
            SELECT c.m, c.code,
                   round(list_sum(list_transform(range(1, {LSH_DIM // PQ_M} + 1),
                         i -> (c.cvec[i]-qd.qv[c.m*{LSH_DIM // PQ_M}+i])*(c.cvec[i]-qd.qv[c.m*{LSH_DIM // PQ_M}+i]))), 6) AS d2
            FROM cb c, qd
        )
        SELECT codes.vec_id, round(sum(l.d2), 6) AS est_d2
        FROM codes
        JOIN assign a ON codes.vec_id = a.vec_id
        JOIN probe p ON a.cid = p.cid
        JOIN lut l USING (m, code)
        GROUP BY codes.vec_id
        ORDER BY est_d2, codes.vec_id LIMIT {K}
    """,
    # ivfpq_topk's spelling generalized to a query TABLE: probe and
    # LUT become per-query (window / key on query_id), top-k becomes
    # rank-per-query — the r11 batch IVFADC join replayed end to end
    "knn_join_ivfpq": f"""
        WITH {_IVFPQ_EST_CTES}
        SELECT query_id, vec_id, est_d2, rank FROM (
            SELECT query_id, vec_id, est_d2,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY est_d2, vec_id
                   ) AS rank
            FROM est
        ) WHERE rank <= {K}
        ORDER BY query_id, rank
    """,
    "ivfpq_rerank_topk": f"""
        WITH {_IVFPQ_EST_CTES},
        cand AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY est_d2, vec_id
                       ) AS rn
                FROM est
            ) WHERE rn <= {RERANK_R}
        ),
        rer AS (
            SELECT c.query_id, c.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS dist
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN qs q ON q.query_id = c.query_id
        )
        SELECT query_id, vec_id, dist, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, vec_id
            ) AS rank FROM rer
        ) WHERE rank <= {TUNE_K}
        ORDER BY query_id, rank
    """,
    "knn_join_ivf": f"""
        WITH {_IVF_SCORED_CTES}
        SELECT query_id, vec_id, dist, rank FROM (
            SELECT query_id, vec_id, dist,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY dist, vec_id
                   ) AS rank
            FROM ivf_scored
        ) WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    "ann_rank_metrics": f"""
        WITH {_IVF_SCORED_CTES},
        ivf3 AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY dist, vec_id
                       ) AS rank
                FROM ivf_scored WHERE vec_id <> query_id
            ) WHERE rank <= 3
        ),
        ed AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {LSH_QUERIES}) q,
                 embeddings e
            WHERE e.vec_id <> q.vec_id
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
                FROM ed
            ) WHERE rank <= 3
        )
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_rel,
               CAST(count(i.vec_id) AS BIGINT) AS hits_at_k,
               round(count(i.vec_id) / 3.0, 6) AS precision_at_k,
               CAST(min(i.rank) AS BIGINT) AS first_rel_rank,
               round(coalesce(1.0 / min(i.rank), 0.0), 6) AS rr
        FROM exact e
        LEFT JOIN ivf3 i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """,
    # NDCG@3: same IVF-vs-exact chain as ann_rank_metrics; DCG and
    # IDCG are ORDERED folds (list_sort + list_reduce — DuckDB's
    # first-element-seeded fold matches Spark's 0.0-seeded one because
    # 0.0 + g1 == g1 exactly in IEEE)
    "ann_ndcg_metrics": f"""
        WITH {_IVF_SCORED_CTES},
        ivf3 AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY dist, vec_id
                       ) AS rank
                FROM ivf_scored WHERE vec_id <> query_id
            ) WHERE rank <= 3
        ),
        ed AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {LSH_QUERIES}) q,
                 embeddings e
            WHERE e.vec_id <> q.vec_id
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
                FROM ed
            ) WHERE rank <= 3
        )
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_rel,
               CAST(count(i.vec_id) AS BIGINT) AS hits_at_k,
               round(
                 CASE WHEN count(i.rank) = 0 THEN 0.0
                      ELSE list_reduce(
                             list_transform(
                               list_sort(list_filter(list(i.rank), r -> r IS NOT NULL)),
                               r -> 1.0 / log2(CAST(r AS DOUBLE) + 1.0)),
                             (a, b) -> a + b)
                 END
                 / list_reduce(
                     list_transform(range(1, least(count(*), 3) + 1),
                                    r -> 1.0 / log2(CAST(r AS DOUBLE) + 1.0)),
                     (a, b) -> a + b),
                 6) AS ndcg
        FROM exact e
        LEFT JOIN ivf3 i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """,
    # hard negatives: distance table -> positive window -> anti-join ->
    # negative window, one statement
    "hard_negative_mining": f"""
        WITH ed AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(
                       e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {LSH_QUERIES}) q,
                 embeddings e
            WHERE e.vec_id <> q.vec_id
        ),
        pos AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
                       ) AS rnk
                FROM ed
            ) WHERE rnk <= {NEG_POSITIVES}
        ),
        neg AS (
            SELECT query_id, vec_id, dist,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
                   ) AS neg_rank
            FROM ed e
            WHERE NOT EXISTS (
                SELECT 1 FROM pos p
                WHERE p.query_id = e.query_id AND p.vec_id = e.vec_id
            )
        )
        SELECT query_id, vec_id, dist, CAST(neg_rank AS BIGINT) AS neg_rank
        FROM neg WHERE neg_rank <= {NEG_K}
        ORDER BY query_id, neg_rank
    """,
    # greedy MMR selection replayed as chained argmax CTEs
    # (operators/mmr.py mmr_oracle_sql generates step t's anti-joined
    # argmax over sel_{t-1}); the cand CTE is the exact top-20 cosine
    # shortlist with rel = rounded similarity, identical to the Spark
    # knn_join stage
    "mmr_rerank": mmr_oracle_sql(
        f"""cand AS (
            SELECT query_id, vec_id, round(1 - dist, 6) AS rel FROM (
                SELECT query_id, vec_id, dist,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
                       ) AS rnk
                FROM (
                    SELECT q.vec_id AS query_id, e.vec_id,
                           round(1 - list_cosine_similarity(
                               e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
                    FROM (SELECT vec_id, embedding FROM embeddings
                          WHERE vec_id < {LSH_QUERIES}) q,
                         embeddings e
                    WHERE e.vec_id <> q.vec_id
                )
            ) WHERE rnk <= {MMR_SHORTLIST}
        )""",
        "embeddings",
        select_k=MMR_K,
        lam=MMR_LAMBDA,
    ),
    "ivf_recall_stats": f"""
        WITH {_IVF_SCORED_CTES},
        ivf3 AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY dist, vec_id
                       ) AS rank
                FROM ivf_scored WHERE vec_id <> query_id
            ) WHERE rank <= 3
        ),
        ed AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {LSH_QUERIES}) q,
                 embeddings e
            WHERE e.vec_id <> q.vec_id
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
                FROM ed
            ) WHERE rank <= 3
        )
        SELECT e.query_id,
               CAST(count(i.vec_id) AS BIGINT) AS n_hits,
               round(count(i.vec_id) / 3.0, 4) AS recall
        FROM exact e
        LEFT JOIN ivf3 i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """,
    "knn_join_lsh": _lsh_oracle_sql(),
    "lsh_recall_stats": _lsh_recall_oracle_sql(),
    "tuner_widths": _tuner_oracle_sql(),
    "knn_join_all": """
        WITH d AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM embeddings q, embeddings e
            WHERE e.vec_id <> q.vec_id
        )
        SELECT query_id, vec_id, dist, rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
            FROM d
        )
        WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    "knn_join_auto": """
        WITH d AS (
            SELECT q.vec_id AS query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM embeddings q, embeddings e
            WHERE e.vec_id <> q.vec_id
        )
        SELECT query_id, vec_id, dist, rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
            FROM d
        )
        WHERE rank <= 5
        ORDER BY query_id, rank
    """,
    # The shipped ANN sizing rules replayed as SQL arithmetic over the
    # same fixture-anchored ladder: bits/band = max(4, ceil(log2(n)/2))
    # with 8 bands (default_lsh_geometry), R = max(10k, 100)
    # (default_rerank_depth), C = clamp(isqrt(n), 1, 65536) and
    # n_probe = isqrt(C) (ann.py defaults), and default_pq_geometry's
    # birthday-bound code width at dim 64 (k_codes 256 past 65536 rows,
    # bits_needed = max(32, 2·ceil(log2 n)), m = smallest divisor of 64
    # >= bits_needed/bits_per_code — divisors of 64 are powers of two,
    # so the search is a pow2-ceiling). floor(sqrt(x)) == isqrt(x) for
    # every value on this ladder (checked: no 10^t or its isqrt sits on
    # a float-rounding boundary).
    "ann_default_rules": """
        WITH anchor AS (
            SELECT vec_id::BIGINT AS t FROM embeddings
            WHERE vec_id BETWEEN 3 AND 9
        ), base AS (
            SELECT t,
                   CAST(POWER(10, t) AS BIGINT) AS n,
                   CAST(POWER(2, t) AS BIGINT) AS k
            FROM anchor
        ), r AS (
            SELECT t, n,
                   GREATEST(4, CAST(CEIL(LOG2(CAST(n AS DOUBLE)) / 2) AS BIGINT)) AS bits,
                   GREATEST(10 * k, 100) AS rerank_depth,
                   GREATEST(CAST(1 AS BIGINT),
                            LEAST(CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT), 65536)) AS n_centroids,
                   GREATEST(32, 2 * CAST(CEIL(LOG2(CAST(n AS DOUBLE))) AS BIGINT)) AS bits_needed,
                   CASE WHEN n >= 65536 THEN 256 ELSE 16 END AS pq_k
            FROM base
        ), m AS (
            SELECT *,
                   CAST(CEIL(CAST(bits_needed AS DOUBLE)
                             / (CASE WHEN pq_k = 256 THEN 8 ELSE 4 END)) AS BIGINT) AS m_raw
            FROM r
        )
        SELECT t, n,
               bits * 8 AS lsh_planes,
               CAST(8 AS BIGINT) AS lsh_bands,
               rerank_depth,
               GREATEST(rerank_depth,
                        (n + n_centroids - 1) // n_centroids
               ) AS rerank_depth_struct,
               n_centroids,
               GREATEST(CAST(1 AS BIGINT),
                        LEAST(CAST(FLOOR(SQRT(CAST(n_centroids AS DOUBLE))) AS BIGINT),
                              n_centroids)) AS n_probe,
               CASE WHEN m_raw <= 1 THEN CAST(1 AS BIGINT)
                    ELSE LEAST(CAST(POWER(2, CEIL(LOG2(CAST(m_raw AS DOUBLE)))) AS BIGINT),
                               CAST(64 AS BIGINT)) END AS pq_m,
               CAST(pq_k AS BIGINT) AS pq_k
        FROM m
        ORDER BY t
    """,
    "ivf_topk": f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            WHERE vec_id < {IVF_CENTROIDS}
        ), q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        ), assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6), c.cid
                       ) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), probe AS (
            SELECT cid FROM cent, q
            ORDER BY round(1 - list_cosine_similarity(cvec::DOUBLE[], qv::DOUBLE[]), 6), cid
            LIMIT {IVF_PROBE}
        )
        SELECT e.vec_id,
               round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        FROM embeddings e
        JOIN assign a ON e.vec_id = a.vec_id
        JOIN probe p ON a.cid = p.cid, q
        ORDER BY dist ASC, e.vec_id ASC
        LIMIT {K}
    """,
    "cosine_topk": f"""
        SELECT e.vec_id,
               round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        ORDER BY dist ASC, vec_id ASC
        LIMIT {K}
    """,
    "quantized_topk": f"""
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127 AS sc
          FROM embeddings
        ), deq AS (
          SELECT vec_id,
                 CASE WHEN sc > 0
                      THEN list_transform(embedding, x -> floor(x::DOUBLE / sc + 0.5) * sc)
                      ELSE list_transform(embedding, x -> 0.0) END AS v
          FROM s
        )
        SELECT d.vec_id, round(1 - list_cosine_similarity(d.v, q.v), 6) AS dist
        FROM deq d, (SELECT v FROM deq WHERE vec_id = 0) q
        ORDER BY dist ASC, vec_id ASC
        LIMIT {K}
    """,
    "knn_join": """
        WITH q AS (
            SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 20
        ), d AS (
            SELECT q.query_id, e.vec_id,
                   round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dist
            FROM q, embeddings e
            WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, dist, rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
            FROM d
        )
        WHERE rank <= 3
    """,
    "embedding_norms": """
        SELECT vec_id,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
        FROM embeddings
        ORDER BY vec_id
    """,
    "label_centroids": """
        -- DuckDB 1.0 has no WITH ORDINALITY; dim is uniform 64 (FIXTURES.md)
        SELECT label,
               (gs - 1)::INTEGER AS pos,
               round(avg(embedding[gs]::DOUBLE), 6) AS mean_val
        FROM embeddings CROSS JOIN generate_series(1, 64) t(gs)
        GROUP BY label, gs
        ORDER BY label, pos
    """,
    "cosine_histogram": """
        SELECT CAST(floor(round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) * 10) AS BIGINT) AS bucket,
               count(*) AS n
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        GROUP BY 1
        ORDER BY bucket
    """,
}
