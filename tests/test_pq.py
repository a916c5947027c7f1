"""Product quantization (operators/pq.py): codebook shape, encode
semantics, ADC estimate quality, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
from cli_rag_spark.operators.pq import (
    build_ivfpq_index,
    build_pq_codebook,
    ivfpq_index_ready,
    knn_join_ivfpq,
    l2_sq,
    pq_encode,
)
from cli_rag_spark.sources.artifacts import read_json_sidecar
from cli_rag_spark.sources.documents import load_table

M, KC = 4, 16


def _ivfpq_meta(spark, path):
    return read_json_sidecar(spark, path, "_ivfpq_meta.json")


def _rewrite_ivfpq_sidecar(path, edit):
    """Rewrite the IVFPQ sidecar at ``path`` through ``edit(meta)``
    (simulating an older build's format), dropping the local-FS
    checksum the rewrite invalidates."""
    import json as _json
    import os

    meta_file = os.path.join(path, "_ivfpq_meta.json")
    with open(meta_file) as f:
        meta = _json.load(f)
    edit(meta)
    with open(meta_file, "w") as f:
        _json.dump(meta, f)
    crc = os.path.join(path, "._ivfpq_meta.json.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _queries(emb, qids):
    return emb.where(F.col("vec_id").isin(list(qids))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def ivfpq_paths(spark, sf_dir, tmp_path_factory):
    """{residual: path} of the seeded C=8, M × KC IVFPQ artifacts of the
    fixture, raw (False) and residual (True), built once per module.
    Tests that rewrite an artifact copy it first."""
    emb = load_table(spark, sf_dir, "embeddings")
    root = tmp_path_factory.mktemp("ivfpq")
    paths = {}
    for residual in (False, True):
        paths[residual] = str(root / f"seeded_{residual}")
        build_ivfpq_index(
            emb, paths[residual], n_centroids=8, m_subspaces=M, k_codes=KC,
            residual=residual,
        )
    return paths


def _lists(spark, path):
    """The artifact's ``lists`` child: one (cid, vec_id, codes) row per
    vector."""
    return spark.read.parquet(f"{path}/lists")


def _exact_l2_top(emb, qid, k):
    """The ``k`` ids nearest to vector ``qid`` by exact squared L2."""
    q = emb.where(F.col("vec_id") == qid).select(
        F.col("embedding").alias("query_vec")
    )
    return [
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
        .limit(k)
        .collect()
    ]


def _adc_tops(hits):
    """{query_id: [vec_id, ...] in rank order} of a knn_join_ivfpq result."""
    tops: dict[int, list] = {}
    for r in hits.orderBy("query_id", "rank").collect():
        tops.setdefault(r.query_id, []).append(r.vec_id)
    return tops


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


def test_adc_estimate_tracks_exact_distance(spark, sf_dir, ivfpq_paths):
    """ADC is approximate — assert the rank correlation that makes it
    usable: the true nearest neighbor set is substantially recovered
    (recall@50 ≥ 0.3 with seeded codebooks; measured 0.42 at sf0.01)
    and the query vector itself lands in the ADC top set. Flat ADC is
    knn_join_ivfpq probing all C lists of a raw artifact."""
    emb = load_table(spark, sf_dir, "embeddings")
    adc_top = _adc_tops(
        knn_join_ivfpq(_queries(emb, [0]), ivfpq_paths[False], k=50, n_probe=8)
    )[0]
    assert 0 in adc_top
    assert len(set(adc_top) & set(_exact_l2_top(emb, 0, 50))) >= 15


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


def test_persisted_index_round_trip_and_validation(
    spark, sf_dir, tmp_path, ivfpq_paths
):
    """A raw (residual=False) build_ivfpq_index persists exactly the
    seeded codebook and the codes the on-the-fly encode computes — the
    flat-PQ index it replaces — packed one ``lists`` row per vector
    (N rows, codes in subspace order) with no assign or codes child;
    a path that is not an artifact is refused before any Spark job."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    path = ivfpq_paths[False]
    seeded = build_pq_codebook(emb, M, KC)
    want = sorted(
        (r.vec_id, r.m, r.code) for r in pq_encode(emb, seeded, M).collect()
    )
    lists = _lists(spark, path)
    got = sorted(
        (r.vec_id, r.m, r.code)
        for r in lists.select(
            "vec_id", F.posexplode("codes").alias("m", "code")
        ).collect()
    )
    assert got == want
    assert lists.count() * M == len(want)
    assert not {"assign", "codes"} & set(os.listdir(path))
    cb = spark.read.parquet(f"{path}/codebook")
    assert sorted(
        (r.m, r.code, tuple(r.cvec)) for r in cb.collect()
    ) == sorted((r.m, r.code, tuple(r.cvec)) for r in seeded.collect())

    with pytest.raises(ValueError, match="not a build_ivfpq_index output"):
        knn_join_ivfpq(
            _queries(emb, [0]), str(tmp_path / "nowhere"), k=3, n_probe=2
        )


def _mean_recall_at_50(spark, emb, path, n_probe, qids=range(5)):
    """Mean recall@50 vs exact L2 of the IVFPQ artifact at ``path``
    over several query vectors — a single query's recall is too noisy
    to compare codebooks on. A residual artifact is scored with its
    persisted terms."""
    tops = _adc_tops(
        knn_join_ivfpq(_queries(emb, qids), path, k=50, n_probe=n_probe)
    )
    return sum(
        len(set(tops[qid]) & set(_exact_l2_top(emb, qid, 50))) / 50.0
        for qid in qids
    ) / len(list(qids))


def test_refined_codebook_recall_at_least_seeded(
    spark, sf_dir, tmp_path, ivfpq_paths
):
    """Lloyd-refining the per-subspace codebooks (L2 metric, the one
    the encoder uses) must not lose recall vs the seeded codebook —
    the VERDICT r3 acceptance bar for the refine path. Measured at
    sf0.01 (mean recall@50, query ids 0–4, flat ADC over raw IVFPQ
    artifacts): seeded 0.384, refined(1 iter) 0.436, refined(2)
    0.408."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pq_refine1")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=M, k_codes=KC,
        refine_iters=1, residual=False,
    )
    recall = {
        iters: _mean_recall_at_50(spark, emb, p, n_probe=8)
        for iters, p in ((0, ivfpq_paths[False]), (1, path))
    }
    assert recall[1] >= recall[0], recall


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


def test_ivfpq_scores_only_probed_lists(spark, sf_dir, ivfpq_paths):
    """Every IVFADC hit must come from a probed coarse list (the
    pruning contract), and the query vector itself must be found
    (vec_id 0 is both a centroid and its own nearest code)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = ivfpq_paths[False]
    hits = knn_join_ivfpq(_queries(emb, [0]), path, k=50, n_probe=2)
    got_cids = {
        r.cid
        for r in hits.join(_lists(spark, path), "vec_id")
        .select("cid").distinct().collect()
    }
    assert len(got_cids) <= 2
    assert 0 in {r.vec_id for r in hits.collect()}


def test_residual_ivfpq_recall_at_least_raw(spark, sf_dir, ivfpq_paths):
    """Residual encoding must not lose recall vs raw-vector IVFADC —
    the point of Jégou §IV's formulation (codewords resolve within-
    list displacement). Measured at sf0.01, mean recall@50 over query
    ids 0-4 at n_probe 2 of 8: residual 0.532 vs raw 0.508."""
    emb = load_table(spark, sf_dir, "embeddings")
    recall = {
        residual: _mean_recall_at_50(spark, emb, path, n_probe=2)
        for residual, path in ivfpq_paths.items()
    }
    assert recall[True] >= recall[False], recall


def test_ivfpq_topk_explicit_centroids(spark, sf_dir, tmp_path):
    """A Lloyd-refined coarse quantizer persisted with its lists is
    honored as THE probe geometry: every hit's list id must be probed
    under those refined centroids (ADVICE r4: a persisted index's
    actual coarse quantizer travels with its lists)."""
    from cli_rag_spark.functions.vectors import cosine_distance

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq_refined_coarse")
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=M, k_codes=KC,
        coarse_refine_iters=1, residual=False,
    )
    refined = spark.read.parquet(f"{path}/centroids")
    assert {tuple(r.cvec) for r in refined.collect()} != {
        tuple(r.cvec) for r in seed_centroids(emb, 8).collect()
    }
    q = _queries(emb, [0])
    out = knn_join_ivfpq(q, path, k=10, n_probe=2)
    hit_cids = {
        r.cid
        for r in _lists(spark, path).join(
            out.select("vec_id"), "vec_id"
        ).select("cid").collect()
    }
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


def test_build_ivfpq_index_roundtrip_and_validation(spark, sf_dir, ivfpq_paths):
    """The persisted IVFPQ artifact (r12): every child reproduces the
    live computation exactly — the seeded quantizer, the seeded
    codebook, and per vector its assigned list with its codes — and the
    dispatch gate validates the build dim from the sidecar alone."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    # the raw artifact: the live recomputation below encodes raw vectors
    path = ivfpq_paths[False]
    assert ivfpq_index_ready(spark, path, 64)
    assert not ivfpq_index_ready(spark, path, 32)
    assert not ivfpq_index_ready(spark, path + "_nope", 64)

    cb_live = build_pq_codebook(emb, 4, 16)
    cent_live = seed_centroids(emb, 8)
    codes_live = {}
    for r in pq_encode(emb, cb_live, 4).collect():
        codes_live.setdefault(r.vec_id, {})[r.m] = r.code
    live = {
        (r.cid, r.vec_id, tuple(codes_live[r.vec_id][m] for m in range(4)))
        for r in assign_centroids(emb, cent_live).collect()
    }
    persisted = {
        (r.cid, r.vec_id, tuple(r.codes))
        for r in _lists(spark, path).collect()
    }
    assert persisted == live

    def rows(df, *cols):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    assert rows(spark.read.parquet(f"{path}/codebook"), "m", "code", "cvec") \
        == rows(cb_live, "m", "code", "cvec")
    assert rows(spark.read.parquet(f"{path}/centroids"), "cid", "cvec") == rows(
        cent_live.select("cid", F.col("cvec").cast("array<double>")),
        "cid", "cvec",
    )
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    assert knn_join_ivfpq(q, path, k=3, n_probe=2).count() == 12


def test_ivfpq_open_runs_no_spark_job(spark, sf_dir, ivfpq_paths):
    """The sidecar records every child's read-back schema, so opening a
    raw or a residual artifact and building the search frame infers
    nothing and runs no Spark job; the recorded schema is the one
    inference would find."""
    import uuid

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries(emb, [0, 1])
    sc = spark.sparkContext
    group = f"ivfpq_open_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "knn_join_ivfpq plan")
    try:
        frames = [
            knn_join_ivfpq(q, path, k=3, n_probe=2)
            for path in ivfpq_paths.values()
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert all(f.columns == ["query_id", "vec_id", "est_d2", "rank"]
               for f in frames)
    path = ivfpq_paths[True]
    schemas = _ivfpq_meta(spark, path)["schemas"]
    assert sorted(schemas) == ["centroids", "codebook", "lists", "resid_terms"]
    assert sorted(_ivfpq_meta(spark, ivfpq_paths[False])["schemas"]) == [
        "centroids", "codebook", "lists"
    ]
    for name, schema in schemas.items():
        assert spark.read.parquet(f"{path}/{name}").schema.jsonValue() == schema


def test_ivfpq_stale_sidecar_rebuilds_and_is_never_probed(
    spark, sf_dir, tmp_path, ivfpq_paths
):
    """An artifact whose sidecar lacks the version and the recorded
    child schemas (the older layout's sidecar) is not ready for
    dispatch — the dispatcher falls back instead of probing it — is
    refused by knn_join_ivfpq, and is rebuilt by a reuse build."""
    import shutil

    from cli_rag_spark.operators.knn import knn_join_auto

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "stale")
    shutil.copytree(ivfpq_paths[False], path)

    def drop(meta):
        del meta["schemas"], meta["version"]

    _rewrite_ivfpq_sidecar(path, drop)
    assert not ivfpq_index_ready(spark, path, 64)
    q = _queries(emb, [0, 1])
    with pytest.raises(ValueError, match="rebuild"):
        knn_join_ivfpq(q, path, k=3, n_probe=2)
    auto = knn_join_auto(
        q, emb, k=3, dim=64, ivfpq_path=path,
        n_queries=10_000, n_index=2_000_000,
    )
    assert not any("stale" in f for f in auto.inputFiles())
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=M, k_codes=KC, residual=False,
        reuse_if_exists=True,
    )
    meta = _ivfpq_meta(spark, path)
    assert meta["version"] == 2 and "schemas" in meta
    assert ivfpq_index_ready(spark, path, 64)


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


def _duck_rows(sf_dir: str, sql: str) -> set:
    """Rows of ``sql`` run by DuckDB over the fixture's ``embeddings``."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    return set(con.execute(sql).fetchall())


def test_assign_centroids_matches_duckdb_replay(spark, sf_dir):
    """The GEMM assignment equals the oracles' DuckDB replay under both
    metrics — rounded cosine (``_assign_cte``) and rounded squared L2
    summed left to right, each argmin tie-broken by the lower cid —
    and a NULL vector gets no row."""
    from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
    from cli_rag_spark.plans.queries_vectors import _assign_cte
    from cli_rag_spark.sources.documents import load_table

    emb = _with_null_vector_row(
        spark, load_table(spark, sf_dir, "embeddings")
    )
    cent = seed_centroids(emb, 8)
    seeds = """cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8
    )"""
    l2 = """round(list_sum(list_transform(range(1, 65),
        i -> (e.embedding[i]::DOUBLE - c.cvec[i]) * (e.embedding[i]::DOUBLE - c.cvec[i]))), 6)"""
    want = {
        "cosine": _duck_rows(
            sf_dir, f"WITH {seeds}, {_assign_cte('a', 'cent')} SELECT * FROM a"
        ),
        "l2": _duck_rows(sf_dir, f"""
            WITH {seeds}
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid, row_number() OVER (
                    PARTITION BY e.vec_id ORDER BY {l2}, c.cid) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        """),
    }
    for metric in ("cosine", "l2"):
        got = {
            (r["vec_id"], r["cid"])
            for r in assign_centroids(emb, cent, metric=metric).collect()
        }
        assert len(want[metric]) == 500
        assert got == want[metric], metric


def test_pq_encode_matches_duckdb_replay(spark, sf_dir):
    """The GEMM encoder equals the IVFPQ oracles' DuckDB replay (the
    ``codes`` CTE: rounded squared L2 per subspace, ties -> lowest
    code) on the seeded codebook; a NULL vector gets no code."""
    from cli_rag_spark.operators.pq import build_pq_codebook, pq_encode
    from cli_rag_spark.plans.queries_vectors import _IVFPQ_EST_CTES, PQ_K, PQ_M
    from cli_rag_spark.sources.documents import load_table

    emb = _with_null_vector_row(
        spark, load_table(spark, sf_dir, "embeddings")
    )
    cb = build_pq_codebook(emb, PQ_M, PQ_K)
    got = {tuple(r) for r in pq_encode(emb, cb, PQ_M).collect()}
    want = _duck_rows(
        sf_dir, f"WITH {_IVFPQ_EST_CTES} SELECT vec_id, m, code FROM codes"
    )
    assert len(want) == 500 * PQ_M
    assert got == want


def test_build_ivfpq_residual_flag_default_and_optout(
    spark, sf_dir, tmp_path, ivfpq_paths
):
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
    assert _ivfpq_meta(spark, ivfpq_paths[False])["residual"] is False


def test_residual_adc_terms_persisted_matches_on_the_fly(
    spark, sf_dir, ivfpq_paths
):
    """The r15 decomposition's query-independent terms table (VERDICT
    r14 #1): a residual build persists ``resid_terms`` = [cid, m,
    code, 2·c_m·r + r·r], bit-identical to residual_adc_terms derived
    from the same persisted codebook + centroids, and knn_join_ivfpq
    scores with it; a raw artifact has no terms child and its sidecar
    says so."""
    import os

    from cli_rag_spark.operators.pq import residual_adc_terms

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = ivfpq_paths[True]
    assert _ivfpq_meta(spark, path)["resid_terms"] is True
    cb = spark.read.parquet(f"{path}/codebook")
    cent = spark.read.parquet(f"{path}/centroids")
    persisted = spark.read.parquet(f"{path}/resid_terms")
    on_the_fly = {
        tuple(r) for r in residual_adc_terms(cb, cent).collect()
    }
    assert {tuple(r) for r in persisted.collect()} == on_the_fly
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    assert knn_join_ivfpq(q, path, k=5, n_probe=2).count() == 15
    raw_path = ivfpq_paths[False]
    assert _ivfpq_meta(spark, raw_path)["resid_terms"] is False
    assert not os.path.exists(f"{raw_path}/resid_terms")


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
    _rewrite_ivfpq_sidecar(path, lambda meta: meta.update(resid_terms=False))
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
