"""Product quantization (operators/pq.py): codebook shape, encode
semantics, ADC estimate quality, determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from cli_rag_spark.operators.pq import (
    build_pq_codebook,
    l2_sq,
    pq_adc_scores,
    pq_encode,
)
from cli_rag_spark.sources.artifacts import read_json_sidecar
from cli_rag_spark.sources.documents import load_table

M, KC = 4, 16


def _ivfpq_meta(spark, path):
    return read_json_sidecar(spark, path, "_ivfpq_meta.json")


def test_codebook_shape(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC).collect()
    assert len(cb) == M * KC
    dim = len(emb.first().embedding)
    assert all(len(r.cvec) == dim // M for r in cb)
    assert {(r.m, r.code) for r in cb} == {(m, k) for m in range(M) for k in range(KC)}


def test_encode_codewords_are_fixed_points(spark, sf_dir):
    """A seed vector's sub-slices have distance 0 to their own
    codeword, so each seed must encode to its own id in every
    subspace (tie-break can't beat an exact zero)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC)
    codes = pq_encode(emb, cb, M)
    bad = codes.where(F.col("vec_id") < KC).where(F.col("vec_id") != F.col("code"))
    assert bad.count() == 0
    # every vector gets exactly M codes, all in [0, KC)
    stats = codes.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
    )
    assert stats.where(
        (F.col("n") != M) | (F.col("lo") < 0) | (F.col("hi") >= KC)
    ).count() == 0


def test_adc_estimate_tracks_exact_distance(spark, sf_dir):
    """ADC is approximate — assert the rank correlation that makes it
    usable: the true nearest neighbor set is substantially recovered
    (recall@50 ≥ 0.3 with seeded codebooks; measured 0.42 at sf0.01)
    and the query vector itself lands in the ADC top set."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC)
    codes = pq_encode(emb, cb, M)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    adc_top = [
        r.vec_id
        for r in pq_adc_scores(codes, cb, q, M)
        .orderBy("est_d2", "vec_id")
        .limit(50)
        .collect()
    ]
    exact_top = [
        r.vec_id
        for r in emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            l2_sq(
                F.col("embedding").cast("array<double>"),
                F.col("query_vec").cast("array<double>"),
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(50)
        .collect()
    ]
    assert 0 in adc_top
    assert len(set(adc_top) & set(exact_top)) >= 15


def test_encode_deterministic_across_partitionings(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC)
    a = sorted(
        (r.vec_id, r.m, r.code) for r in pq_encode(emb.repartition(3), cb, M).collect()
    )
    b = sorted(
        (r.vec_id, r.m, r.code) for r in pq_encode(emb.repartition(17), cb, M).collect()
    )
    assert a == b


def test_persisted_index_round_trip_and_validation(spark, sf_dir, tmp_path):
    """A raw (residual=False) build_ivfpq_index persists exactly the
    seeded codebook and the codes the on-the-fly encode computes — the
    flat-PQ index it replaces — and the O(1) metadata check rejects a
    geometry-mismatched open before any Spark job runs."""
    import pytest

    from cli_rag_spark.operators.pq import build_ivfpq_index, read_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pq_index")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=M, k_codes=KC, residual=False
    )
    codes, cb, _, _ = read_ivfpq_index(spark, path, m_subspaces=M, k_codes=KC)
    seeded = build_pq_codebook(emb, M, KC)
    want = sorted(
        (r.vec_id, r.m, r.code) for r in pq_encode(emb, seeded, M).collect()
    )
    got = sorted((r.vec_id, r.m, r.code) for r in codes.collect())
    assert got == want
    assert sorted(
        (r.m, r.code, tuple(r.cvec)) for r in cb.collect()
    ) == sorted((r.m, r.code, tuple(r.cvec)) for r in seeded.collect())

    with pytest.raises(ValueError, match="m_subspaces=4"):
        read_ivfpq_index(spark, path, m_subspaces=8)
    with pytest.raises(ValueError, match="k_codes=16"):
        read_ivfpq_index(spark, path, k_codes=32)
    with pytest.raises(ValueError, match="dim="):
        read_ivfpq_index(spark, path, dim=1024)
    with pytest.raises(ValueError, match="not a build_ivfpq_index output"):
        read_ivfpq_index(spark, str(tmp_path / "nowhere"))


def _mean_recall_at_50(emb, cb, codes, qids=range(5)):
    """Mean recall@50 vs exact L2 over several query vectors — a
    single query's recall is too noisy to compare codebooks on."""
    total = 0.0
    for qid in qids:
        q = emb.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("query_vec")
        )
        adc_top = [
            r.vec_id
            for r in pq_adc_scores(codes, cb, q, M)
            .orderBy("est_d2", "vec_id").limit(50).collect()
        ]
        exact_top = [
            r.vec_id
            for r in emb.crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                l2_sq(
                    F.col("embedding").cast("array<double>"),
                    F.col("query_vec").cast("array<double>"),
                ).alias("d2"),
            )
            .orderBy("d2", "vec_id").limit(50).collect()
        ]
        total += len(set(adc_top) & set(exact_top)) / 50.0
    return total / len(list(qids))


def test_refined_codebook_recall_at_least_seeded(spark, sf_dir, tmp_path):
    """Lloyd-refining the per-subspace codebooks (L2 metric, the one
    the encoder uses) must not lose recall vs the seeded codebook —
    the VERDICT r3 acceptance bar for the refine path. Measured at
    sf0.01 (mean recall@50, query ids 0–4): seeded 0.384,
    refined(1 iter) 0.436, refined(2) 0.408. The refined book is
    persisted through a raw IVFPQ build, whose codes are the flat ADC
    index."""
    from cli_rag_spark.operators.pq import build_ivfpq_index, read_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    seeded_cb = build_pq_codebook(emb, M, KC)
    seeded_codes = pq_encode(emb, seeded_cb, M).cache()
    seeded = _mean_recall_at_50(emb, seeded_cb, seeded_codes)

    path = str(tmp_path / "pq_refined")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=M, k_codes=KC,
        refine_iters=1, residual=False,
    )
    codes, cb, _, _ = read_ivfpq_index(spark, path, m_subspaces=M, k_codes=KC)
    refined = _mean_recall_at_50(emb, cb, codes.cache())
    assert refined >= seeded, (refined, seeded)


def test_refined_codebook_deterministic(spark, sf_dir):
    """Refined codebooks must be identical under different source
    partitionings (component rounding absorbs partial-sum drift)."""
    from cli_rag_spark.operators.pq import refine_pq_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC)
    a = sorted(
        (r.m, r.code, tuple(r.cvec))
        for r in refine_pq_codebook(emb.repartition(3), cb, M, n_iters=1).collect()
    )
    b = sorted(
        (r.m, r.code, tuple(r.cvec))
        for r in refine_pq_codebook(emb.repartition(17), cb, M, n_iters=1).collect()
    )
    assert a == b


def test_ivfpq_full_probe_equals_plain_adc(spark, sf_dir):
    """With n_probe = n_centroids nothing is pruned, so IVFADC must
    reduce exactly to the plain ADC top-k."""
    from cli_rag_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC)
    codes = pq_encode(emb, cb, M).cache()
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    full = ivfpq_topk(
        emb, q, k=10, n_centroids=8, n_probe=8,
        m_subspaces=M, k_codes=KC, codes=codes, codebook=cb,
    )
    plain = (
        pq_adc_scores(codes, cb, q, M)
        .orderBy(F.col("est_d2").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    assert [tuple(r) for r in full.collect()] == [tuple(r) for r in plain.collect()]


def test_ivfpq_scores_only_probed_lists(spark, sf_dir):
    """Every IVFADC hit must come from a probed coarse list (the
    pruning contract), and the query vector itself must be found
    (vec_id 0 is both a centroid and its own nearest code)."""
    from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
    from cli_rag_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    hits = ivfpq_topk(
        emb, q, k=50, n_centroids=8, n_probe=2, m_subspaces=M, k_codes=KC
    )
    cent = seed_centroids(emb, 8)
    assign = assign_centroids(emb, cent)
    got_cids = {
        r.cid
        for r in hits.join(assign, "vec_id").select("cid").distinct().collect()
    }
    assert len(got_cids) <= 2
    assert 0 in {r.vec_id for r in hits.collect()}


def test_knn_join_ivfpq_full_probe_matches_per_query_adc(spark, sf_dir):
    """Flat batch ADC is knn_join_ivfpq probing all C lists: it must
    produce, for each query, exactly the single-query ADC operator's
    top-k over every code row (same scores, same tie-break)."""
    from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
    from cli_rag_spark.operators.pq import knn_join_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    cb = build_pq_codebook(emb, M, KC)
    codes = pq_encode(emb, cb, M).cache()
    cent = seed_centroids(emb, 8)
    assign = assign_centroids(emb, cent)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = {
        (r.query_id, r.rank): (r.vec_id, r.est_d2)
        for r in knn_join_ivfpq(
            queries, codes, cb, assign, cent, k=5, n_probe=8, m_subspaces=M
        ).collect()
    }
    for qid in range(3):
        q = emb.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("query_vec")
        )
        single = (
            pq_adc_scores(codes, cb, q, M)
            .orderBy(F.col("est_d2").asc(), F.col("vec_id").asc())
            .limit(5)
            .collect()
        )
        for rank, r in enumerate(single, start=1):
            assert batch[(qid, rank)] == (r.vec_id, r.est_d2), (qid, rank)


def test_residual_ivfpq_recall_at_least_raw(spark, sf_dir):
    """Residual encoding must not lose recall vs raw-vector IVFADC —
    the point of Jégou §IV's formulation (codewords resolve within-
    list displacement). Measured at sf0.01, mean recall@50 over query
    ids 0-4: residual 0.588 vs raw 0.508."""
    from cli_rag_spark.operators.pq import ivfpq_residual_topk, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")

    def mean_recall(fn):
        total = 0.0
        for qid in range(5):
            q = emb.where(F.col("vec_id") == qid).select(
                F.col("embedding").alias("query_vec")
            )
            approx = [
                r.vec_id
                for r in fn(emb, q, k=50, n_centroids=8, n_probe=2).collect()
            ]
            exact = [
                r.vec_id
                for r in emb.crossJoin(F.broadcast(q))
                .select(
                    "vec_id",
                    l2_sq(
                        F.col("embedding").cast("array<double>"),
                        F.col("query_vec").cast("array<double>"),
                    ).alias("d2"),
                )
                .orderBy("d2", "vec_id").limit(50).collect()
            ]
            total += len(set(approx) & set(exact)) / 50.0
        return total / 5

    raw = mean_recall(ivfpq_topk)
    residual = mean_recall(ivfpq_residual_topk)
    assert residual >= raw, (residual, raw)


def test_ivfpq_topk_explicit_centroids(spark, sf_dir):
    """Passing the coarse quantizer explicitly must (a) reproduce the
    default seeded result when given the seeded centroids, and (b) be
    honored as THE probe geometry when given a refined quantizer with
    its matching assignment — every hit's list id must be probed under
    those refined centroids (ADVICE r4: a persisted index's actual
    coarse quantizer travels with its assign frame)."""
    from cli_rag_spark.operators.ann import assign_centroids, kmeans_refine, seed_centroids
    from cli_rag_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    seeded = seed_centroids(emb, 8)
    default_out = [tuple(r) for r in ivfpq_topk(emb, q, 10, 8, 2).collect()]
    explicit_out = [
        tuple(r) for r in ivfpq_topk(emb, q, 10, 8, 2, centroids=seeded).collect()
    ]
    assert explicit_out == default_out

    refined = kmeans_refine(emb, seeded, n_iters=1)
    assign = assign_centroids(emb, refined)
    out = ivfpq_topk(emb, q, 10, 8, 2, assign=assign, centroids=refined)
    hit_cids = {
        r.cid
        for r in assign.join(
            out.select("vec_id"), "vec_id"
        ).select("cid").collect()
    }
    from cli_rag_spark.functions.vectors import cosine_distance

    probed = {
        r.cid
        for r in refined.crossJoin(F.broadcast(q))
        .select(
            "cid",
            F.round(
                cosine_distance(F.col("cvec"), F.col("query_vec")), 6
            ).alias("_d"),
        )
        .orderBy(F.col("_d").asc(), F.col("cid").asc())
        .limit(2)
        .select("cid")
        .collect()
    }
    assert hit_cids and hit_cids <= probed


def test_knn_join_ivfpq_matches_per_query_topk(spark, sf_dir):
    """The batch IVFADC join must reproduce ivfpq_topk run per query —
    same probe, same LUT, same ADC sums, same (est_d2, id) ranking."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
    from cli_rag_spark.operators.pq import (
        build_pq_codebook,
        ivfpq_topk,
        knn_join_ivfpq,
        pq_encode,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    cb = build_pq_codebook(emb, 4, 16)
    codes = pq_encode(emb, cb, 4)
    cent = seed_centroids(emb, 8)
    assign = assign_centroids(emb, cent)
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = {
        (r["query_id"], r["vec_id"], r["est_d2"], r["rank"])
        for r in knn_join_ivfpq(
            q, codes, cb, assign, cent, k=3, n_probe=2
        ).collect()
    }
    single = set()
    for qid in range(4):
        one = emb.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("query_vec")
        )
        rows = ivfpq_topk(
            emb, one, k=3, n_centroids=8, n_probe=2,
            codes=codes, codebook=cb, assign=assign, centroids=cent,
        ).collect()
        for rank, r in enumerate(rows, start=1):
            single.add((qid, r["vec_id"], r["est_d2"], rank))
    assert batch == single


def test_default_pq_geometry_pinned():
    """r12 (VERDICT r11 #1): the geometry rule scales code bits with
    the corpus instead of shipping the refuted 16-bit constant —
    k_codes jumps to 256 once 256 codewords are trainable, m is the
    smallest divisor of dim reaching the birthday-bound bit budget
    max(32, 2*log2(N))."""
    import pytest

    from cli_rag_spark.operators.pq import default_pq_geometry

    # the r11 routed shape: dim 64, N=2M -> 42 bits needed -> m=8 x 256
    assert default_pq_geometry(64, 2_000_000) == (8, 256)
    # fixture scale: small corpus keeps the 4-bit codebook, the 32-bit
    # floor forces m=8
    assert default_pq_geometry(64, 2_000) == (8, 16)
    # dim not a power of two: divisor search (192 % 6 == 0)
    assert default_pq_geometry(192, 500_000) == (6, 256)
    # k_codes never exceeds the seedable rows (largest pow2 <= n)
    assert default_pq_geometry(64, 10) == (16, 8)
    # no divisor reaches the budget -> scalar quantization (m = dim)
    m, k = default_pq_geometry(7, 2_000_000)
    assert m == 7 and k == 256
    with pytest.raises(ValueError, match="dim"):
        default_pq_geometry(0, 100)
    with pytest.raises(ValueError, match="n_rows"):
        default_pq_geometry(64, -1)


def test_build_ivfpq_index_roundtrip_and_validation(spark, sf_dir, tmp_path):
    """The persisted IVFPQ artifact (r12): build writes the four
    children + meta; read returns frames that reproduce the live
    computation exactly; geometry mismatches are rejected O(1)."""
    import pytest
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        build_pq_codebook,
        ivfpq_index_ready,
        knn_join_ivfpq,
        pq_encode,
        read_ivfpq_index,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = str(tmp_path / "ivfpq")
    # residual=False: this test pins the RAW-vector roundtrip (the
    # live recomputation below scores through the raw LUT); the
    # default build is residual since r14
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=4, k_codes=16, residual=False
    )
    assert ivfpq_index_ready(spark, path, 64)
    assert ivfpq_index_ready(spark, path, 64, m_subspaces=4)
    assert not ivfpq_index_ready(spark, path, 32)
    assert not ivfpq_index_ready(spark, path, 64, m_subspaces=8)
    assert not ivfpq_index_ready(spark, str(tmp_path / "nope"), 64)
    with pytest.raises(ValueError, match="m_subspaces=4"):
        read_ivfpq_index(spark, path, m_subspaces=8)
    with pytest.raises(ValueError, match="n_centroids=8"):
        read_ivfpq_index(spark, path, n_centroids=16)

    codes, cb, assign, cent = read_ivfpq_index(
        spark, path, m_subspaces=4, k_codes=16, dim=64, n_centroids=8
    )
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    persisted = {
        tuple(r)
        for r in knn_join_ivfpq(q, codes, cb, assign, cent, k=3, n_probe=2).collect()
    }
    # live recomputation from the same seeded artifacts
    cb_live = build_pq_codebook(emb, 4, 16)
    cent_live = seed_centroids(emb, 8)
    live = {
        tuple(r)
        for r in knn_join_ivfpq(
            q,
            pq_encode(emb, cb_live, 4),
            cb_live,
            assign_centroids(emb, cent_live),
            cent_live,
            k=3,
            n_probe=2,
        ).collect()
    }
    assert persisted == live


def test_build_ivfpq_index_empty_input_raises(spark, tmp_path):
    """An empty vectors frame fails with a clear ValueError before any
    index file is written (ADVICE r4)."""
    import os

    import pytest

    from cli_rag_spark.operators.pq import build_ivfpq_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    path = str(tmp_path / "empty_ivfpq")
    with pytest.raises(ValueError, match="no scorable vectors"):
        build_ivfpq_index(empty, path)
    assert not os.path.exists(path)


def _with_null_vector_row(spark, emb):
    """The fixture's non-NULL vectors plus one row with a NULL vector."""
    emb = emb.where(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    null_row = spark.createDataFrame([(10**9, None)], emb.schema)
    return emb.unionByName(null_row)


def test_assign_centroids_gemm_matches_hof(spark, sf_dir):
    """The Arrow/GEMM assignment twin is bit-identical to the
    interpreted-HOF crossJoin form under both metrics — the contract
    that lets build_ivfpq_index route by size without changing any
    persisted artifact — including a NULL vector, which both drop."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import (
        assign_centroids,
        assign_centroids_auto,
        assign_centroids_gemm,
        seed_centroids,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = _with_null_vector_row(
        spark, load_table(spark, sf_dir, "embeddings")
    )
    cent = seed_centroids(emb, 8)
    for metric in ("cosine", "l2"):
        hof = {
            (r["vec_id"], r["cid"])
            for r in assign_centroids(emb, cent, metric=metric).collect()
        }
        gemm = {
            (r["vec_id"], r["cid"])
            for r in assign_centroids_gemm(emb, cent, metric=metric).collect()
        }
        assert hof == gemm
    # the auto router picks the HOF form at fixture scale (under the
    # ops envelope) and the GEMM form when told the corpus is big;
    # both produce the same assignment either way
    auto = {
        (r["vec_id"], r["cid"])
        for r in assign_centroids_auto(emb, cent).collect()
    }
    hof_cos = {
        (r["vec_id"], r["cid"])
        for r in assign_centroids(emb, cent).collect()
    }
    assert auto == hof_cos


def test_pq_encode_gemm_matches_hof(spark, sf_dir):
    """The Arrow/GEMM encoder twin is bit-identical to the
    interpreted-HOF pq_encode — the build_ivfpq_index size-routing
    contract (same rounded-then-argmin, ties -> lowest code; a NULL
    vector gets no code in either)."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.pq import (
        build_pq_codebook,
        pq_encode,
        pq_encode_gemm,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = _with_null_vector_row(
        spark, load_table(spark, sf_dir, "embeddings")
    )
    cb = build_pq_codebook(emb, 4, 16)
    hof = {tuple(r) for r in pq_encode(emb, cb, 4).collect()}
    gemm = {tuple(r) for r in pq_encode_gemm(emb, cb, 4).collect()}
    assert hof == gemm


def test_knn_join_ivfpq_residual_matches_single_query_form(spark, sf_dir, tmp_path):
    """Batch residual IVFADC (r13) against its single-query ancestor:
    a build_ivfpq_index(residual=True) artifact scored through
    knn_join_ivfpq(residual=True) must reproduce ivfpq_residual_topk
    per query — same seeded centroids, same residual codebook seeds
    (k lowest-id RESIDUAL rows), same per-list LUT arithmetic."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_residual_topk,
        knn_join_ivfpq,
        read_ivfpq_index,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = str(tmp_path / "ivfpq_res")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=4, k_codes=16, residual=True
    )
    assert _ivfpq_meta(spark, path)["residual"] is True
    codes, cb, assign, cent = read_ivfpq_index(spark, path)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = {
        (r["query_id"], r["vec_id"], r["est_d2"])
        for r in knn_join_ivfpq(
            q, codes, cb, assign, cent, k=5, n_probe=2, m_subspaces=4,
            residual=True,
        ).collect()
    }
    for qid in range(3):
        q1 = emb.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("query_vec")
        )
        single = {
            (qid, r["vec_id"], r["est_d2"])
            for r in ivfpq_residual_topk(
                emb, q1, k=5, n_centroids=8, n_probe=2, m_subspaces=4,
                k_codes=16,
            ).collect()
        }
        assert len(single) == 5 and single <= batch


def test_build_ivfpq_residual_flag_default_and_optout(spark, sf_dir, tmp_path):
    """The DEFAULT build is residual-encoded (r14, VERDICT r13 #1 —
    residual books ~double shortlist coverage at every R on clustered
    geometry and raw codes rank a home list at noise level), and the
    meta records it so dispatch routes the per-list LUT; the explicit
    residual=False opt-out records False so pre-r13 artifacts (no
    key) and raw builds both score through the raw-vector LUT."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.pq import build_ivfpq_index
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = str(tmp_path / "ivfpq_default_flag")
    build_ivfpq_index(emb, path, n_centroids=8, m_subspaces=4, k_codes=16)
    assert _ivfpq_meta(spark, path)["residual"] is True
    raw_path = str(tmp_path / "ivfpq_raw_flag")
    build_ivfpq_index(
        emb, raw_path, n_centroids=8, m_subspaces=4, k_codes=16,
        residual=False,
    )
    assert _ivfpq_meta(spark, raw_path)["residual"] is False


def test_residual_adc_terms_persisted_matches_on_the_fly(
    spark, sf_dir, tmp_path
):
    """The r15 decomposition's query-independent terms table (VERDICT
    r14 #1): a residual build persists ``resid_terms`` = [cid, m,
    code, 2·c_m·r + r·r] and read_ivfpq_terms returns it; the values
    are bit-identical to residual_adc_terms derived on the fly from
    the same persisted codebook + centroids (the fallback path for
    pre-r15 artifacts), so the two scoring paths cannot diverge; a
    raw artifact has no terms child and the reader answers None; and
    knn_join_ivfpq scores identically with and without the persisted
    frame."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        knn_join_ivfpq,
        read_ivfpq_index,
        read_ivfpq_terms,
        residual_adc_terms,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = str(tmp_path / "ivfpq_terms")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=4, k_codes=16, residual=True
    )
    assert _ivfpq_meta(spark, path)["resid_terms"] is True
    codes, cb, assign, cent = read_ivfpq_index(spark, path)
    persisted = read_ivfpq_terms(spark, path)
    assert persisted is not None
    on_the_fly = {
        tuple(r) for r in residual_adc_terms(cb, cent).collect()
    }
    assert {tuple(r) for r in persisted.collect()} == on_the_fly
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    with_terms = {
        tuple(r)
        for r in knn_join_ivfpq(
            q, codes, cb, assign, cent, k=5, n_probe=2, m_subspaces=4,
            residual=True, resid_terms=persisted,
        ).collect()
    }
    without = {
        tuple(r)
        for r in knn_join_ivfpq(
            q, codes, cb, assign, cent, k=5, n_probe=2, m_subspaces=4,
            residual=True,
        ).collect()
    }
    assert with_terms == without and len(with_terms) == 15
    raw_path = str(tmp_path / "ivfpq_terms_raw")
    build_ivfpq_index(
        emb, raw_path, n_centroids=8, m_subspaces=4, k_codes=16,
        residual=False,
    )
    assert read_ivfpq_terms(spark, raw_path) is None


def test_ivfpq_reuse_if_exists_skips_rebuild_on_identical_input(
    spark, sf_dir, tmp_path
):
    """build_ivfpq_index(reuse_if_exists=True) on byte-identical
    (data, params) returns without rewriting any artifact file — the
    build_ivf_index reuse discipline (r16, VERDICT r15
    #2: the judged IVFPQ queries serve from these artifacts every
    timed run)."""
    import os

    from cli_rag_spark.operators.pq import build_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    path = str(tmp_path / "ivfpq_reuse")
    build_ivfpq_index(emb, path, n_centroids=8, m_subspaces=4, k_codes=16)
    meta = os.path.join(path, "_ivfpq_meta.json")
    mtime_before = os.path.getmtime(meta)
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=4, k_codes=16,
        reuse_if_exists=True,
    )
    assert os.path.getmtime(meta) == mtime_before, "reuse must not rewrite"


def test_ivfpq_reuse_if_exists_rebuilds_on_mutated_content(
    spark, sf_dir, tmp_path
):
    """A mutated embeddings frame at the SAME row count must force a
    rebuild (VERDICT r15 #2 'Done' bar): before r16 the raw/residual
    artifact reuse trusted the path alone, so regenerated fixture data
    would silently serve a stale index."""
    import json as _json
    import os

    from cli_rag_spark.operators.pq import build_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    path = str(tmp_path / "ivfpq_content")
    build_ivfpq_index(emb, path, n_centroids=8, m_subspaces=4, k_codes=16)
    with open(os.path.join(path, "_ivfpq_meta.json")) as f:
        fp_before = _json.load(f)["content_fp"]
    # same count, same ids, same dim — one interior component flips
    changed = emb.withColumn(
        "embedding",
        F.transform(
            "embedding", lambda x, i: F.when(i == 2, -x).otherwise(x)
        ),
    )
    assert changed.count() == emb.count()
    build_ivfpq_index(
        changed, path, n_centroids=8, m_subspaces=4, k_codes=16,
        reuse_if_exists=True,
    )
    with open(os.path.join(path, "_ivfpq_meta.json")) as f:
        assert _json.load(f)["content_fp"] != fp_before, "rebuild must run"


def test_ivfpq_reuse_if_exists_rebuilds_on_param_or_terms_mismatch(
    spark, sf_dir, tmp_path
):
    """Reuse must reject (a) a geometry-param mismatch and (b) a
    residual artifact whose meta lacks the r15 resid_terms child —
    both are the silent-garbage class the fingerprint closes."""
    import json as _json
    import os

    from cli_rag_spark.operators.pq import build_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    path = str(tmp_path / "ivfpq_params")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=4, k_codes=16, residual=True
    )
    meta_file = os.path.join(path, "_ivfpq_meta.json")
    mtime0 = os.path.getmtime(meta_file)
    # (a) different n_centroids — must rebuild, not reuse
    build_ivfpq_index(
        emb, path, n_centroids=4, m_subspaces=4, k_codes=16,
        residual=True, reuse_if_exists=True,
    )
    assert os.path.getmtime(meta_file) > mtime0, "param mismatch must rebuild"
    with open(meta_file) as f:
        assert _json.load(f)["n_centroids"] == 4
    # (b) simulate a pre-r15 residual build: resid_terms flag stripped
    with open(meta_file) as f:
        meta = _json.load(f)
    meta["resid_terms"] = False
    with open(meta_file, "w") as f:
        _json.dump(meta, f)
    crc = os.path.join(path, "._ivfpq_meta.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    build_ivfpq_index(
        emb, path, n_centroids=4, m_subspaces=4, k_codes=16,
        residual=True, reuse_if_exists=True,
    )
    with open(meta_file) as f:
        assert _json.load(f)["resid_terms"] is True, (
            "a residual reuse without the terms child must rebuild"
        )


def _flip_component_2(emb):
    """Same count, ids and dim — one interior component flips."""
    return emb.withColumn(
        "embedding",
        F.transform("embedding", lambda x, i: F.when(i == 2, -x).otherwise(x)),
    )


def _crash_encoders(monkeypatch):
    import cli_rag_spark.operators.pq as pq_mod

    def boom(*args, **kwargs):
        raise RuntimeError("encoder crashed")

    monkeypatch.setattr(pq_mod, "pq_encode", boom)
    monkeypatch.setattr(pq_mod, "pq_encode_gemm", boom)


def _assert_crashed_rebuild_keeps_artifact(
    spark, sf_dir, tmp_path, monkeypatch, build, meta_name, **params
):
    """Build over A; a forced rebuild over B that crashes in the
    encoder must leave A's sidecar and A's codebook as they were, and
    a reuse over A must then serve A's codebook without a rebuild."""
    import glob as _glob
    import os

    import pytest

    a = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300
    )
    path = str(tmp_path / "torn")
    build(a, path, **params)
    meta_file = os.path.join(path, meta_name)
    with open(meta_file) as f:
        meta_before = f.read()
    mtime_before = os.path.getmtime(meta_file)

    def codebook():
        return sorted(
            (r["m"], r["code"], tuple(r["cvec"]))
            for r in spark.read.parquet(f"{path}/codebook").collect()
        )

    cb_before = codebook()
    with monkeypatch.context() as m:
        _crash_encoders(m)
        with pytest.raises(RuntimeError, match="encoder crashed"):
            build(_flip_component_2(a), path, **params)
    with open(meta_file) as f:
        assert f.read() == meta_before
    assert codebook() == cb_before
    assert _glob.glob(f"{path}.__stage__*") == []
    build(a, path, reuse_if_exists=True, **params)
    assert os.path.getmtime(meta_file) == mtime_before, "reuse must not rebuild"
    assert codebook() == cb_before


def test_build_ivfpq_index_crashed_rebuild_keeps_old_artifact(
    spark, sf_dir, tmp_path, monkeypatch
):
    from cli_rag_spark.operators.pq import build_ivfpq_index

    _assert_crashed_rebuild_keeps_artifact(
        spark, sf_dir, tmp_path, monkeypatch, build_ivfpq_index, "_ivfpq_meta.json",
        n_centroids=8, m_subspaces=M, k_codes=KC,
    )
