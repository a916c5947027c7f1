"""Pipeline pack — E3/E4 index build, E6 search over the built index,
E10 context assembly, E11 multimodal metadata. The md5-derived mock
embedder makes the *entire* chunk→embed→search pipeline expressible
in DuckDB SQL, so even these are value-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import cosine_distance
from cli_rag_spark.operators.chunk import chunk_fixed
from cli_rag_spark.operators.context import (
    assemble_context,
    assemble_contexts_grouped,
)
from cli_rag_spark.operators.embed import (
    DEFAULT_DIM,
    mock_embedding_expr,
    mock_embedding_sql,
)
from cli_rag_spark.operators.multimodal import (
    attach_binary_metadata,
    audio_fingerprint_plan,
    audio_window_plan,
    decode_images,
    dhash_neardup_pairs,
    image_dhash_plan,
    project_stage,
    synth_bmp_payloads,
    synth_gradient_bmp_payloads,
    synth_tone_wav_payloads,
)
from cli_rag_spark.sources.documents import load_table

PIPE_CHUNK = 128
PIPE_K = 5
QUERY_TEXT = "table scan join"


def q_mock_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end E4→E6: fixed-chunk the corpus, mock-embed every
    chunk (pure JVM), embed a literal query text the same way, top-5
    by cosine. This is the reference's whole lifecycle (index build +
    query, build-vector-db-from-server.c + multirag.c) in one plan."""
    docs = load_table(spark, sf_dir, "documents")
    # cached: the cosine references the embedding column three times
    # (dot + both norms); without a materialization barrier Catalyst
    # inlines the 64-md5 mock-embed expression into each reference
    # (the quantized_topk lesson, BENCH.md ledger #8) — and the real
    # pipeline persists the built index anyway (operators/index.py
    # writes parquet).
    index = chunk_fixed(docs, PIPE_CHUNK).withColumn(
        "embedding", mock_embedding_expr(F.col("chunk_text"), DEFAULT_DIM)
    ).cache()
    qvec = mock_embedding_expr(F.lit(QUERY_TEXT), DEFAULT_DIM)
    return (
        index.withColumn("dist", F.round(cosine_distance(F.col("embedding"), qvec), 6))
        .select("doc_id", F.col("chunk_index").cast("long").alias("chunk_index"), "dist")
        .orderBy(F.col("dist").asc(), F.col("doc_id").asc(), F.col("chunk_index").asc())
        .limit(PIPE_K)
    )


MAXSIM_K = 5


def q_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval over the chunk index (operators/
    topk.py maxsim_topk, the ColBERT MaxSim shape): the corpus is
    multi-vector (one mock embedding per 128-char chunk), the query is
    multi-vector (one embedding per query TOKEN), and each document
    scores the sum over query tokens of its best-matching chunk — the
    fine-grained interaction a single pooled vector (mock_index_topk)
    cannot express. Query side broadcasts; the interaction matrix is
    map-side; two partial-agg folds collapse it to one row per doc."""
    from cli_rag_spark.operators.topk import maxsim_topk

    docs = load_table(spark, sf_dir, "documents")
    parts = chunk_fixed(docs, PIPE_CHUNK).withColumn(
        "embedding", mock_embedding_expr(F.col("chunk_text"), DEFAULT_DIM)
    ).cache()  # same materialization barrier as mock_index_topk
    qparts = spark.createDataFrame(
        [(i, t) for i, t in enumerate(QUERY_TEXT.split())], ["qpart_id", "tok"]
    ).withColumn("qvec", mock_embedding_expr(F.col("tok"), DEFAULT_DIM)).drop("tok")
    return maxsim_topk(parts, qparts, MAXSIM_K, id_col="doc_id")


MAXSIM_SHORTLIST = 50


def q_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production late-interaction FUNNEL (candidate stage ∘
    rerank stage): a cheap single-vector stage shortlists 50 docs by
    pooled-embedding cosine (one vector per doc — the index every
    first-stage retriever actually serves), then MaxSim reranks ONLY
    the shortlist's chunks (operators/topk.py maxsim_topk). The
    interaction matrix touches |shortlist|·chunks-per-doc·|qparts|
    rows instead of the corpus — the composition that makes late
    interaction affordable at 100 TB. Both stages and the funnel
    boundary replay in the oracle."""
    from cli_rag_spark.operators.topk import maxsim_topk

    docs = load_table(spark, sf_dir, "documents")
    qvec = mock_embedding_expr(F.lit(QUERY_TEXT), DEFAULT_DIM)
    shortlist = (
        docs.withColumn("embedding", mock_embedding_expr(F.col("text"), DEFAULT_DIM))
        .select("doc_id", F.round(cosine_distance(F.col("embedding"), qvec), 6).alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("doc_id").asc())
        .limit(MAXSIM_SHORTLIST)
        .select("doc_id")
    )
    parts = (
        chunk_fixed(docs.join(shortlist, "doc_id"), PIPE_CHUNK)
        .withColumn("embedding", mock_embedding_expr(F.col("chunk_text"), DEFAULT_DIM))
    )
    qparts = spark.createDataFrame(
        [(i, t) for i, t in enumerate(QUERY_TEXT.split())], ["qpart_id", "tok"]
    ).withColumn("qvec", mock_embedding_expr(F.col("tok"), DEFAULT_DIM)).drop("tok")
    return maxsim_topk(parts, qparts, MAXSIM_K, id_col="doc_id")


def q_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: assemble the 'Context i:' prompt block from the top-3
    documents nearest the mock query (multirag.c:108-124 semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    qvec = mock_embedding_expr(F.lit(QUERY_TEXT), DEFAULT_DIM)
    hits = (
        docs.withColumn("embedding", mock_embedding_expr(F.col("text"), DEFAULT_DIM))
        .withColumn("dist", F.round(cosine_distance(F.col("embedding"), qvec), 6))
        .orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        .limit(3)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("dist").asc(), F.col("doc_id").asc())),
        )
    )
    return assemble_context(hits, rank_col="rank", text_col="text")


RAG_BATCH_QUERIES = 5  # lowest-id documents double as the query set


def q_rag_contexts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch E10∘E7: assemble a per-query 'Context i:' prompt block
    for MANY queries in one pass (the scale form of rag_context — the
    reference's REPL answers one query per round-trip,
    multirag.c:394-456; a training-data or eval pipeline assembles
    millions). The 5 lowest-id documents act as queries; each is
    kNN-joined (k=3, window top-k per query, self-match included —
    rank 1 is the query itself, exactly what a leakage check wants to
    see) and its hits are folded into one context string by
    assemble_contexts_grouped. Mock embeddings keep every stage —
    embed, join, rank, fold — DuckDB-replayable."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "embedding", mock_embedding_expr(F.col("text"), DEFAULT_DIM)
    )
    queries = docs.where(F.col("doc_id") < RAG_BATCH_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("doc_id").asc()
    )
    hits = (
        docs.select("doc_id", "text", "embedding")
        .crossJoin(F.broadcast(queries))
        .withColumn(
            "dist", F.round(cosine_distance(F.col("embedding"), F.col("query_vec")), 6)
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )
    return assemble_contexts_grouped(hits).orderBy("query_id")


def q_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11: synthesize a binary payload column from text (the fixture
    has no true binary table) and extract JVM-side metadata — length,
    digest, sniffed format — grouped into per-format stats."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.withColumn("payload", F.encode(F.col("text"), "UTF-8"))
    meta = attach_binary_metadata(with_payload)
    return (
        meta.select(
            "doc_id",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.digest").alias("digest"),
            F.col("meta.format").alias("format"),
        )
        .orderBy("doc_id")
    )


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 decode path over REAL pixels (r6, VERDICT r5 #4): per-doc
    BMP payloads (synth_bmp_payloads — actual spec-conformant files,
    closed-form dims/fill from doc_id) → the default dependency-free
    BMP parser (real_decode_image) → per-mode shape + pixel stats.
    px_mean comes from summing the decoded pixel CHANNEL bytes; the
    fixtures' zeroed stride padding, 8bpp palette, and negative
    (top-down) heights make any parser shortcut — averaging raw bytes,
    assuming data at offset 54, trusting a signed height — a visible
    oracle mismatch, not a silent pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with_payload = synth_bmp_payloads(docs)
    decoded = decode_images(with_payload)  # default = real BMP parser
    # r16 (VERDICT r15 #5): only the decoded fields leave the fused
    # Python node — the BMP payload bytes never re-cross the boundary
    decoded = project_stage(decoded, ["mode", "width", "height", "px_mean"])
    return (
        decoded.groupBy("mode")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("width"), 4).alias("avg_width"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.round(F.avg("px_mean"), 4).alias("avg_px_mean"),
        )
        .orderBy("mode")
    )


def q_image_dhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over REAL pixels (r7,
    operators/multimodal.py image_dhash_plan): gradient BMP payloads
    (closed-form pixel values of doc_id % 37, some stored top-down)
    -> real pixel-grid decode -> integer-exact dHash -> exact-hash
    groups, the image sibling of fingerprint_dups. The oracle
    recomputes every pixel, block sum, and comparison bit from the
    synthesis closed form in SQL, so a parser that ignores stride,
    orientation, or block boundaries splits groups and fails the
    value hash — not a silent pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = project_stage(
        image_dhash_plan(synth_gradient_bmp_payloads(docs)),
        ["doc_id", "dhash"],
    )
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("dhash")
    )


NEARDUP_RADIUS = 8
NEARDUP_BANDS = 9  # > radius: pigeonhole guarantees zero false negatives


def q_image_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual NEAR-duplicate image pairs (r7,
    operators/multimodal.py dhash_neardup_pairs): dHash the gradient
    corpus, collapse to distinct hash groups, band-join the hashes
    (9 bands over 127 bits), popcount-verify candidates at Hamming
    <= 8 — the image twin of simhash_groups' banding. The oracle is
    the BRUTE-FORCE all-pairs filter over the same hashes, so a
    banding bug that drops a candidate pair (wrong band boundary,
    wrong substring arithmetic) fails the row set, not just a value."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = project_stage(
        image_dhash_plan(synth_gradient_bmp_payloads(docs)), ["dhash"]
    )
    groups = hashed.groupBy("dhash").agg(F.count(F.lit(1)).alias("n_images"))
    pairs = dhash_neardup_pairs(groups, radius=NEARDUP_RADIUS, n_bands=NEARDUP_BANDS)
    return (
        pairs.join(
            groups.select(
                F.col("dhash").alias("hash_a"), F.col("n_images").alias("n_images_a")
            ),
            "hash_a",
        )
        .join(
            groups.select(
                F.col("dhash").alias("hash_b"), F.col("n_images").alias("n_images_b")
            ),
            "hash_b",
        )
        .select("hash_a", "hash_b", "hamming", "n_images_a", "n_images_b")
        .orderBy("hash_a", "hash_b")
    )


def q_audio_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio dedup over REAL chunk-walked PCM (r7,
    operators/multimodal.py audio_fingerprint_plan): closed-form ramp
    WAVs (8-bit mono, junk LIST before data) -> raw PCM extraction ->
    integer-exact energy-contour fingerprint -> exact groups — the
    audio member of the perceptual-dedup trio beside
    image_dhash_groups and fingerprint_dups. The oracle recomputes
    every sample byte, window sum, and comparison bit from the
    synthesis closed form in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = project_stage(
        audio_fingerprint_plan(synth_tone_wav_payloads(docs)),
        ["doc_id", "afp"],
    )
    return (
        fp.groupBy("afp")
        .agg(
            F.count(F.lit(1)).alias("n_audio"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("afp")
    )


def q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 audio decode over REAL bytes (r6 — the WAV twin of
    image_decode_stats): per-doc RIFF/WAVE PCM payloads
    (synth_wav_payloads, closed-form rate/channels/frames from
    doc_id, a junk LIST chunk ahead of data) → the default
    chunk-walking parser (real_decode_audio) → per-(rate, channels)
    counts + total duration in CENTISECONDS. The duration is exact at
    2 decimals by construction, so the centisecond sum is an exact
    integer in both engines — a parser that assumes data-at-offset-44
    or misreads block_align shows up as an oracle mismatch."""
    from cli_rag_spark.operators.multimodal import decode_audio, synth_wav_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    decoded = decode_audio(synth_wav_payloads(docs))  # default = real WAV parser
    decoded = project_stage(
        decoded, ["sample_rate", "channels", "duration_sec"]
    )
    return (
        decoded.groupBy("sample_rate", "channels")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("duration_sec") * 100).cast("long")).alias("total_cs"),
        )
        .orderBy("sample_rate", "channels")
    )


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 video path over REAL container bytes (late r6 — completes
    the real-decode trio: BMP pixels, WAV samples, AVI frames):
    per-doc RIFF/AVI payloads (synth_avi_payloads — well-formed avih
    header, junk LIST between hdrl and movi, word-aligned 00dc
    frames with closed-form sizes) → the default container-walking
    sampler (real_sample_frames, every 4th frame) → per-(width,
    height) totals. Sampled bytes are exact integers by construction
    (64·m + 16·m·(m−1) for m kept frames), so a sampler that
    miswalks chunks, miscounts alignment, or samples the wrong
    stride is a visible oracle mismatch."""
    from cli_rag_spark.operators.multimodal import (
        sample_video_frames,
        synth_avi_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sampled = sample_video_frames(synth_avi_payloads(docs), every_k=4)
    return (
        sampled.groupBy(
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("n_sampled").alias("total_sampled"),
            F.sum("sampled_bytes").alias("total_sampled_bytes"),
        )
        .orderBy("width", "height")
    )


SCENE_CUT_T = 4


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 temporal video analysis (r7): shot-boundary detection over
    REAL container bytes. Per-doc RIFF/AVI payloads with closed-form
    SCENES (synth_avi_scene_payloads: fill flickers ±1 within a
    scene, jumps ±37/±163 mod 200 at boundaries) → the chunk-walking
    signature extractor + luma-difference detector
    (detect_scene_cuts, threshold 4) → per-scene_len totals. Because
    boundary jumps always clear the threshold and flicker never
    does, the cut set is exactly {L, 2L, …} ∩ [1, n), so the oracle
    is pure integer arithmetic — a walker that misreads frame bytes,
    miscounts alignment, or diffs the wrong neighbor is a visible
    mismatch. weighted_cut_sum mixes doc_id into the witness so
    per-doc errors can't cancel across the group."""
    from cli_rag_spark.operators.multimodal import (
        detect_scene_cuts,
        synth_avi_scene_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cuts = detect_scene_cuts(synth_avi_scene_payloads(docs), threshold=SCENE_CUT_T)
    return (
        cuts.withColumn("scene_len", (F.lit(3) + F.col("doc_id") % 5).cast("long"))
        .groupBy("scene_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.sum("n_cuts").cast("long").alias("total_cuts"),
            F.sum("cut_idx_sum").cast("long").alias("cut_idx_sum"),
            F.sum(F.col("doc_id") * F.col("n_cuts")).cast("long").alias("weighted_cut_sum"),
        )
        .orderBy("scene_len")
    )


def q_audio_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 audio path: binary payloads → overlapping 256/128-byte
    windows (JVM-side explode, the STFT frame shape) → per-doc window
    count + covered bytes. Fully oracle-checkable window arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    wins = audio_window_plan(with_payload, window_bytes=256, hop_bytes=128)
    return (
        wins.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("win_bytes").alias("covered_bytes"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "mock_index_topk": q_mock_index_topk,
    "audio_window_stats": q_audio_window_stats,
    "rag_context": q_rag_context,
    "maxsim_topk": q_maxsim_topk,
    "maxsim_rerank": q_maxsim_rerank,
    "rag_contexts_batch": q_rag_contexts_batch,
    "binary_metadata": q_binary_metadata,
    "image_decode_stats": q_image_decode_stats,
    "image_dhash_groups": q_image_dhash_groups,
    "image_neardup_groups": q_image_neardup_groups,
    "audio_decode_stats": q_audio_decode_stats,
    "audio_fingerprint_groups": q_audio_fingerprint_groups,
    "video_frame_stats": q_video_frame_stats,
    "video_scene_cuts": q_video_scene_cuts,
}

_CHUNK_SQL = f"""
    SELECT doc_id,
           (gs - 1)::BIGINT AS chunk_index,
           substr(text, ((gs - 1) * {PIPE_CHUNK} + 1)::INTEGER, {PIPE_CHUNK}) AS chunk_text
    FROM documents
    CROSS JOIN generate_series(1, 512) t(gs)
    WHERE (gs - 1) * {PIPE_CHUNK} < length(text)
"""

_QVEC = mock_embedding_sql(f"'{QUERY_TEXT}'", DEFAULT_DIM)

_MAXSIM_QTOKS = ",\n            ".join(
    f"({i}, {mock_embedding_sql(repr(t), DEFAULT_DIM)})"
    for i, t in enumerate(QUERY_TEXT.split())
)

ORACLE = {
    "mock_index_topk": f"""
        WITH chunks AS ({_CHUNK_SQL}),
        embedded AS (
          SELECT doc_id, chunk_index,
                 {mock_embedding_sql("chunk_text", DEFAULT_DIM)} AS embedding
          FROM chunks
        )
        SELECT doc_id, chunk_index,
               round(1 - list_cosine_similarity(embedding, {_QVEC}), 6) AS dist
        FROM embedded
        ORDER BY dist ASC, doc_id ASC, chunk_index ASC
        LIMIT {PIPE_K}
    """,
    "maxsim_rerank": f"""
        WITH shortlist AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   round(1 - list_cosine_similarity(
                       {mock_embedding_sql("text", DEFAULT_DIM)}, {_QVEC}), 6) AS d
            FROM documents
          ) ORDER BY d ASC, doc_id ASC LIMIT {MAXSIM_SHORTLIST}
        ), chunks AS ({_CHUNK_SQL}),
        embedded AS (
          SELECT c.doc_id,
                 {mock_embedding_sql("chunk_text", DEFAULT_DIM)} AS v
          FROM chunks c JOIN shortlist s ON c.doc_id = s.doc_id
        ), q AS (
          SELECT * FROM (VALUES
            {_MAXSIM_QTOKS}
          ) t(qpart_id, qv)
        ), sims AS (
          SELECT doc_id, qpart_id,
                 round(1 - list_cosine_similarity(v, qv), 6) AS d
          FROM embedded, q
        ), best AS (
          SELECT doc_id, qpart_id, min(d) AS best FROM sims
          GROUP BY doc_id, qpart_id
        )
        SELECT doc_id,
               round(list_aggregate(list(best ORDER BY qpart_id), 'sum'), 6) AS maxsim_dist
        FROM best GROUP BY doc_id
        ORDER BY maxsim_dist ASC, doc_id ASC LIMIT {MAXSIM_K}
    """,
    "maxsim_topk": f"""
        WITH chunks AS ({_CHUNK_SQL}),
        embedded AS (
          SELECT doc_id,
                 {mock_embedding_sql("chunk_text", DEFAULT_DIM)} AS v
          FROM chunks
        ), q AS (
          SELECT * FROM (VALUES
            {_MAXSIM_QTOKS}
          ) t(qpart_id, qv)
        ), sims AS (
          SELECT doc_id, qpart_id,
                 round(1 - list_cosine_similarity(v, qv), 6) AS d
          FROM embedded, q
        ), best AS (
          SELECT doc_id, qpart_id, min(d) AS best FROM sims
          GROUP BY doc_id, qpart_id
        )
        SELECT doc_id,
               round(list_aggregate(list(best ORDER BY qpart_id), 'sum'), 6) AS maxsim_dist
        FROM best GROUP BY doc_id
        ORDER BY maxsim_dist ASC, doc_id ASC LIMIT {MAXSIM_K}
    """,
    "rag_context": f"""
        WITH scored AS (
          SELECT doc_id, text,
                 round(1 - list_cosine_similarity(
                     {mock_embedding_sql("text", DEFAULT_DIM)}, {_QVEC}), 6) AS dist
          FROM documents
        ), hits AS (
          SELECT text, row_number() OVER (ORDER BY dist ASC, doc_id ASC) AS rank
          FROM scored ORDER BY dist ASC, doc_id ASC LIMIT 3
        )
        SELECT string_agg('Context ' || rank || ':' || chr(10) || text, ' ' || chr(10) || ' '
                          ORDER BY rank) AS context
        FROM hits
    """,
    "rag_contexts_batch": f"""
        WITH emb AS (
          SELECT doc_id, text,
                 {mock_embedding_sql("text", DEFAULT_DIM)} AS embedding
          FROM documents
        ), qs AS (
          SELECT doc_id AS query_id, embedding AS qv FROM emb
          WHERE doc_id < {RAG_BATCH_QUERIES}
        ), hits AS (
          SELECT query_id, text, rank FROM (
            SELECT q.query_id, e.text,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY round(1 - list_cosine_similarity(e.embedding, q.qv), 6), e.doc_id
                   ) AS rank
            FROM emb e, qs q
          ) WHERE rank <= 3
        )
        SELECT query_id,
               string_agg('Context ' || rank || ':' || chr(10) || text, ' ' || chr(10) || ' '
                          ORDER BY rank) AS context
        FROM hits
        GROUP BY query_id
        ORDER BY query_id
    """,
    "binary_metadata": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS digest,
               'unknown' AS format
        FROM documents ORDER BY doc_id
    """,
    # audio_window_plan: offsets 0..max(n-256,0) step 128 (inclusive),
    # window covers min(256, n - offset) bytes
    "audio_window_stats": """
        WITH d AS (
          SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
        )
        SELECT doc_id, count(*) AS n_windows,
               CAST(sum(least(256, n_bytes - off)) AS BIGINT) AS covered_bytes
        FROM d, unnest(range(0, CAST(greatest(n_bytes - 256, 0) AS BIGINT) + 1, 128)) t(off)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # synth_wav_payloads closed form: rate = [8000,16000,44100,48000]
    # [doc_id%4], channels = 1 + doc_id%2, duration exactly
    # 0.25 + (doc_id%50)/100 s ⇒ centiseconds = 25 + doc_id%50, an
    # exact integer both engines sum identically
    "audio_decode_stats": """
        WITH m AS (
          SELECT CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                 WHEN 2 THEN 44100 ELSE 48000 END AS sample_rate,
                 CAST(1 + doc_id % 2 AS INT) AS channels,
                 25 + doc_id % 50 AS cs
          FROM documents
        )
        SELECT sample_rate, channels, count(*) AS n,
               CAST(sum(cs) AS BIGINT) AS total_cs
        FROM m GROUP BY sample_rate, channels
        ORDER BY sample_rate, channels
    """,
    # synth_avi_payloads closed form: width = 16(1 + id%4), height =
    # 16(1 + id%3), n_frames = 8 + id%24 with frame j carrying
    # 64 + 8j bytes; sampling every 4th keeps m = (n+3)//4 frames and
    # EXACTLY 64m + 16m(m-1) bytes — pure integer arithmetic
    "video_frame_stats": """
        WITH m AS (
          SELECT 16 * (1 + doc_id % 4) AS width,
                 16 * (1 + doc_id % 3) AS height,
                 8 + doc_id % 24 AS nf,
                 (8 + doc_id % 24 + 3) // 4 AS ms
          FROM documents
        )
        SELECT width, height, count(*) AS n,
               CAST(sum(nf) AS BIGINT) AS total_frames,
               CAST(sum(ms) AS BIGINT) AS total_sampled,
               CAST(sum(64 * ms + 16 * ms * (ms - 1)) AS BIGINT)
                 AS total_sampled_bytes
        FROM m GROUP BY width, height
        ORDER BY width, height
    """,
    # synth_avi_scene_payloads closed form: n_frames = 12 + id%20,
    # scene_len L = 3 + id%5, fill(j) = ((17id + 37*(j//L)) % 200
    # + j%2) % 256. Boundary jumps are ±37/±163 mod 200 (> T=4 after
    # the ±1 flicker), flicker is ±1 (never > 4), so cuts are exactly
    # {L, 2L, ...} ∩ [1, n): k = (n-1)//L cuts summing L·k(k+1)/2
    "video_scene_cuts": """
        WITH m AS (
          SELECT doc_id,
                 3 + doc_id % 5 AS scene_len,
                 12 + doc_id % 20 AS nf,
                 (12 + doc_id % 20 - 1) // (3 + doc_id % 5) AS k
          FROM documents
        )
        SELECT scene_len, count(*) AS n_docs,
               CAST(sum(nf) AS BIGINT) AS total_frames,
               CAST(sum(k) AS BIGINT) AS total_cuts,
               CAST(sum(scene_len * k * (k + 1) // 2) AS BIGINT)
                 AS cut_idx_sum,
               CAST(sum(doc_id * k) AS BIGINT) AS weighted_cut_sum
        FROM m GROUP BY scene_len
        ORDER BY scene_len
    """,
    # synth_bmp_payloads closed form: width = 1 + doc_id%64, height =
    # 1 + doc_id%48, mode = [RGB,RGBA,L][doc_id%3], and px_mean ==
    # fill == doc_id%256 exactly (constant-fill channels) — the Spark
    # side must round-trip REAL BMP bytes through the real parser to
    # reproduce these numbers
    # dHash replay from the synthesis closed form (shared CTE chain
    # _DHASH_HASHES_CTES below): exact-hash groups
    "image_dhash_groups": None,  # filled after _DHASH_HASHES_CTES
    "image_neardup_groups": None,
    "image_decode_stats": """
        WITH m AS (
          SELECT 1 + doc_id % 64 AS width,
                 1 + doc_id % 48 AS height,
                 CASE doc_id % 3 WHEN 0 THEN 'RGB' WHEN 1 THEN 'RGBA' ELSE 'L' END AS mode,
                 CAST(doc_id % 256 AS DOUBLE) AS px_mean
          FROM documents
        )
        SELECT mode, count(*) AS n,
               round(avg(width), 4) AS avg_width,
               round(avg(height), 4) AS avg_height,
               round(avg(px_mean), 4) AS avg_px_mean
        FROM m GROUP BY mode ORDER BY mode
    """,
}

# dHash replay from the synthesis closed form: v(x,y) =
# (7g + (g%5+1)x + (g%3+1)y + (g%7)xy) % 256 on a 16x8 grid, block of
# pixel x is (x*9)//16 (y: (y*8)//8), every bit an exact integer
# cross-multiply of block sums: 64 horizontal bits (right mean > left,
# ordered row then column pair) followed by 63 vertical bits (lower
# mean > upper, ordered row pair then column) = 127 chars. Spark hashes
# CHANNEL SUMS (3v for the RGB gradient); the constant channel factor
# cancels in the cross-multiply, so the bit strings agree exactly.
_DHASH_HASHES_CTES = """
        px AS (
          SELECT doc_id,
                 x.x AS x, y.y AS y,
                 (7 * (doc_id % 37)
                  + ((doc_id % 37) % 5 + 1) * x.x
                  + ((doc_id % 37) % 3 + 1) * y.y
                  + ((doc_id % 37) % 7) * x.x * y.y) % 256 AS v
          FROM documents
          CROSS JOIN generate_series(0, 15) x(x)
          CROSS JOIN generate_series(0, 7) y(y)
        ), bs AS (
          SELECT doc_id, (y * 8) // 8 AS r, (x * 9) // 16 AS c,
                 sum(v) AS s, count(*) AS n
          FROM px GROUP BY doc_id, (y * 8) // 8, (x * 9) // 16
        ), hb AS (
          SELECT a.doc_id,
                 string_agg(CASE WHEN b.s * a.n > a.s * b.n THEN '1' ELSE '0' END,
                            '' ORDER BY a.r, a.c) AS bits
          FROM bs a JOIN bs b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
          GROUP BY a.doc_id
        ), vb AS (
          SELECT a.doc_id,
                 string_agg(CASE WHEN b.s * a.n > a.s * b.n THEN '1' ELSE '0' END,
                            '' ORDER BY a.r, a.c) AS bits
          FROM bs a JOIN bs b ON a.doc_id = b.doc_id AND a.c = b.c AND b.r = a.r + 1
          GROUP BY a.doc_id
        ), hashes AS (
          SELECT hb.doc_id, hb.bits || vb.bits AS dhash
          FROM hb JOIN vb ON hb.doc_id = vb.doc_id
        )
"""

ORACLE["image_dhash_groups"] = f"""
    WITH {_DHASH_HASHES_CTES}
    SELECT dhash,
           count(*)::BIGINT AS n_images,
           min(doc_id) AS keep_doc_id
    FROM hashes GROUP BY dhash ORDER BY dhash
"""

# near-dup: the oracle is BRUTE-FORCE all-pairs over the distinct
# hashes (n_bands=9 > radius=8 makes the banded candidate join
# provably complete, so matching the exhaustive filter IS the
# completeness proof of the LSH path)
ORACLE["image_neardup_groups"] = f"""
    WITH {_DHASH_HASHES_CTES},
    groups AS (
        SELECT dhash, count(*)::BIGINT AS n_images FROM hashes GROUP BY dhash
    )
    SELECT a.dhash AS hash_a, b.dhash AS hash_b,
           hamming(a.dhash, b.dhash)::BIGINT AS hamming,
           a.n_images AS n_images_a, b.n_images AS n_images_b
    FROM groups a JOIN groups b ON a.dhash < b.dhash
    WHERE hamming(a.dhash, b.dhash) <= {NEARDUP_RADIUS}
    ORDER BY hash_a, hash_b
"""

# audio fingerprint replay from the tone-synthesis closed form:
# g = doc_id % 29, L = 256 + (g%8)*32 bytes of ((g%7+1)n + g%11) % 256,
# byte n in window (n*16)//L, bit = next window's mean energy exceeds
# this one's via exact integer cross-multiply -> 15 chars
ORACLE["audio_fingerprint_groups"] = """
    WITH smp AS (
        SELECT doc_id,
               n.n AS n,
               ((doc_id % 29) % 7 + 1) * n.n + (doc_id % 29) % 11 AS raw,
               256 + ((doc_id % 29) % 8) * 32 AS len
        FROM documents CROSS JOIN generate_series(0, 479) n(n)
        WHERE n.n < 256 + ((doc_id % 29) % 8) * 32
    ), ws AS (
        SELECT doc_id, (n * 16) // len AS w,
               sum(raw % 256) AS s, count(*) AS c
        FROM smp GROUP BY doc_id, (n * 16) // len
    ), bits AS (
        SELECT a.doc_id,
               string_agg(CASE WHEN b.s * a.c > a.s * b.c THEN '1' ELSE '0' END,
                          '' ORDER BY a.w) AS afp
        FROM ws a JOIN ws b ON a.doc_id = b.doc_id AND b.w = a.w + 1
        GROUP BY a.doc_id
    )
    SELECT afp,
           count(*)::BIGINT AS n_audio,
           min(doc_id) AS keep_doc_id
    FROM bits GROUP BY afp ORDER BY afp
"""


# --- .vdb codec round-trip (r9, VERDICT r8 "Next round #8") -----------

VDB_GROUPS = 5


def q_vdb_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``.vdb`` fidelity codec (sources/vdb.py; byte layout per
    vector-db.c:42-146) pushed through the ORACLE CHANNEL: the
    embeddings table is written to a real ``.vdb`` file, read back,
    and aggregated — while the oracle computes the same statistics
    from the PARQUET table directly. Any corruption anywhere in the
    codec (magic, header, f64 packing, text lengths) lands in a
    mismatched checksum or text-length sum, so the driver now verifies
    the last substantial component that had no judged query.

    Float discipline: the per-row checksum is a LEFT FOLD over the
    vector (Spark 0.0-seeded aggregate ≡ DuckDB first-element-seeded
    list_reduce — identical addition sequences because 0.0 + x1 == x1
    in IEEE), rounded to 6dp, then moved onto the exact integer grid
    as micros (DECIMAL(18,6) cast ×1e6 → BIGINT, the
    decimal_exact_totals discipline) so the cross-row SUM is
    order-free. read_vdb assigns POSITIONAL ids (the reference's only
    row identity, vector-db.c:167); write_vdb orders by id = vec_id,
    so the oracle reconstructs the position as
    row_number() over (order by vec_id) - 1."""
    import os
    import tempfile
    import time

    from cli_rag_spark.sources.vdb import read_vdb, write_vdb

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.concat(F.lit("vec-"), F.col("vec_id")).alias("text"),
    )
    # process-unique scratch path (ADVICE r9): a world-shared name
    # keyed only on sf_dir let two concurrent runs (bench + pytest,
    # parallel workers) interleave write_vdb's non-atomic rewrite with
    # the other's read — and a predictable /tmp name is pre-creatable
    # by another local user. read_vdb parses the whole blob driver-side
    # into a local DataFrame, so the file is deletable immediately.
    path = (
        f"{tempfile.gettempdir()}/cli_rag_spark_rt_"
        f"{os.getpid()}_{time.monotonic_ns()}.vdb"
    )
    write_vdb(src, path)  # driver-side by design: single-blob format
    try:
        rt = read_vdb(spark, path)
    finally:
        try:
            os.remove(path)
        except OSError:
            pass
    fold = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda a, x: a + x
    )
    micros = (
        (F.round(fold, 6).cast("decimal(18,6)") * 1_000_000)
        .cast("long")
    )
    return (
        rt.select(
            (F.col("id") % VDB_GROUPS).alias("grp"),
            F.size("embedding").cast("long").alias("dim"),
            micros.alias("checksum_micros"),
            F.length("text").alias("text_len"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
            F.sum("checksum_micros").alias("sum_checksum_micros"),
            F.sum("text_len").alias("sum_text_len"),
        )
        .orderBy("grp")
    )


QUERIES["vdb_roundtrip_stats"] = q_vdb_roundtrip_stats

ORACLE["vdb_roundtrip_stats"] = f"""
    WITH src AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS id,
             embedding::DOUBLE[] AS v,
             'vec-' || vec_id AS text
      FROM embeddings
    ), per_row AS (
      SELECT id % {VDB_GROUPS} AS grp,
             len(v) AS dim,
             (round(list_reduce(v, (a, x) -> a + x), 6)::DECIMAL(18,6)
              * 1000000)::BIGINT AS checksum_micros,
             length(text) AS text_len
      FROM src
    )
    SELECT grp,
           count(*)::BIGINT AS n_vecs,
           min(dim)::BIGINT AS min_dim,
           max(dim)::BIGINT AS max_dim,
           sum(checksum_micros)::BIGINT AS sum_checksum_micros,
           sum(text_len)::BIGINT AS sum_text_len
    FROM per_row
    GROUP BY grp ORDER BY grp
"""
