"""Corpus-curation query pack — round-3 LLM-training-data operators.

These extend the E8/E9 families with the curation passes a production
pretraining pipeline runs between raw crawl and tokenization:

* ``repetition_scores`` — the Gopher repetition filters (Rae et al.
  2021, A1.1): fraction of the document covered by its most frequent
  n-gram and by duplicated n-grams. Word-fraction adaptation (the
  paper uses character fractions; the synthetic corpus is a uniform
  word stream, reference FIXTURES.md), thresholds re-fit to this
  corpus's distribution so the flag actually splits it.
* ``bpe_pair_stats`` — the first BPE merge iteration: corpus-wide
  adjacent-pair frequencies (Sennrich et al. 2016). The real
  tokenizer-training inner loop is sequential merges; the heavy,
  distributable part is exactly this corpus-wide pair count.
* ``dedup_canonical`` — duplicate-cluster canonicalization: exact-dup
  groups keep their LONGEST member (not lowest-id) — the curation
  policy that preserves the most content per cluster.
* ``semantic_dedup`` — SemDeDup (Abbas et al. 2023): k-means-bucket
  the embedding space, then near-dup prune ONLY within clusters — the
  all-pairs O(N²) cosine becomes per-cluster O((N/k)²), and the
  cluster assignment is the same broadcast+min_by operator the IVF
  index uses (operators/ann.py).
* ``embedding_dim_stats`` — per-dimension distribution stats, the
  normalization/whitening pre-pass of embedding pipelines.

Scale shapes (100 TB): every aggregation here shuffles narrow keys —
(doc_id, n, 32-hex md5) for repetition, 2-word pair strings for BPE
(partial-aggregated map-side), md5 fingerprints for canonicalization,
(cid) for SemDeDup candidates. Nothing ships full text or vectors
through a shuffle except the SemDeDup within-cluster join, which is
the candidate-bounded verify step by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cli_rag_spark.functions.text import tokens
from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
from cli_rag_spark.session import scaled_shuffle_width, spread_small_input
from cli_rag_spark.sources.artifacts import dir_bytes
from cli_rag_spark.operators.dedup import (
    embedding_near_pairs,
    exact_substring_window_stats,
)
from cli_rag_spark.sources.documents import load_table

# thresholds fit to the fixture corpus distribution (p90-ish, so the
# keep flag splits it rather than passing everything; Gopher's char
# thresholds 0.20/0.18/0.16 target web text, not uniform word salad)
MAX_TOP2_FRAC = 0.13
MAX_TOP3_FRAC = 0.14
MAX_TOP4_FRAC = 0.19
MAX_DUP2_FRAC = 0.25
MAX_DUP3_FRAC = 0.05

BPE_TOP = 20

SEM_CENTROIDS = 8
SEM_EPS = 0.6  # same near-dup distance as embedding_near_dups

LM_ALPHA = 0.5    # add-k smoothing for the bigram LM
# fit to the fixture ppl spread (26.5-38.3, median ~30.1): keeps ~85%,
# flags the high-perplexity tail — the flag SPLITS the corpus rather
# than passing everything (same re-fit rationale as the Gopher
# thresholds above)
LM_PPL_MAX = 31.0
# Zipf head size for the hybrid broadcast+shuffle count-table joins in
# q_lm_perplexity: the head_k heaviest grams broadcast (map-side join
# for the hot keys), the tail shuffles. 1000 rows of (w1, w2, b) is a
# few tens of KB — trivially broadcastable at any corpus size, while
# on real text the top 1000 bigrams cover a large share of all tokens
# (Zipf: coverage of the top k grows ~ln k).
LM_HEAD_K = 1000

_NS = (2, 3, 4)


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals per document.

    Plan: ONE scan → tokens (staged select, projection-collapse-safe)
    → per-n gram structs built by HOF transform (cheap array_join in
    the lambda) → explode → ``xxhash64`` OUTSIDE the lambda (whole-
    stage codegen) → two partial-aggregated groupBys on
    (doc_id, n, hash) then (doc_id, n) → conditional-agg pivot to one
    row per doc. Shuffles carry 8-byte hashes and counts, never gram
    text. xxhash64 over md5 (the minhash lesson, BENCH.md ledger #1)
    is 4× narrower on the wire AND skips hex-string materialization;
    grouping is per (doc, n), so a collision needs two distinct grams
    of the SAME doc to collide in 64 bits (~1k grams/doc → p≈3e-14
    per doc; negligible even at 10⁹ docs). An all-HOF zero-shuffle
    variant (sort_array + aggregate run-length scan) was measured
    SLOWER (6.7 s vs 4.3 s at sf0.1): higher-order functions are
    CodegenFallback — interpreted per element — while this shape keeps
    the hot path in generated code.
    """
    docs = load_table(spark, sf_dir, "documents")
    # spread_small_input (r16, guide §2.1): the tokenize + gram-build +
    # xxhash64 projection below is the query's serial prefix on a
    # single-split corpus; safe — downstream is count aggregates only
    toked = spread_small_input(docs.select("doc_id", "text")).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )

    def grams(n: int):
        return F.when(
            F.size("toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - n + 1),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.array_join(F.slice("toks", i, n), " ").alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))

    exploded = (
        toked.select(
            "doc_id",
            F.size("toks").alias("m"),
            F.explode(F.concat(*[grams(n) for n in _NS])).alias("gr"),
        )
        # hash here, in the projection, not in the lambda: codegen
        .select("doc_id", "m", F.col("gr.n").alias("n"),
                F.xxhash64(F.col("gr.g")).alias("h"))
        # ONE shuffle serves all three aggregations: every groupBy key
        # below contains doc_id, and HashPartitioning(doc_id)
        # satisfies each ClusteredDistribution, so pre-partitioning on
        # the shared prefix removes the 2nd and 3rd Exchange (3 → 1,
        # plan-asserted; measured 1.96 → 1.42 s at sf0.1, ledger #0c).
        # Volume is unchanged — a doc's grams sit in one input split,
        # so the removed shuffles carried already-combined rows.
        .repartition("doc_id")
    )
    counts = exploded.groupBy("doc_id", "m", "n", "h").agg(F.count(F.lit(1)).alias("c"))
    per_n = counts.groupBy("doc_id", "m", "n").agg(
        F.max("c").alias("top_c"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)).alias("dup_c"),
    )

    def top_frac(n: int):
        return F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("top_c"))) * n / F.col("m"),
                F.lit(0.0),
            ),
            6,
        )

    def dup_frac(n: int):
        return F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(
                    F.max(F.when(F.col("n") == n, F.col("dup_c"))) * n / F.col("m"),
                    F.lit(0.0),
                ),
            ),
            6,
        )

    out = per_n.groupBy("doc_id", "m").agg(
        top_frac(2).alias("top2_frac"),
        top_frac(3).alias("top3_frac"),
        top_frac(4).alias("top4_frac"),
        dup_frac(2).alias("dup2_frac"),
        dup_frac(3).alias("dup3_frac"),
    )
    keep = (
        (F.col("top2_frac") <= MAX_TOP2_FRAC)
        & (F.col("top3_frac") <= MAX_TOP3_FRAC)
        & (F.col("top4_frac") <= MAX_TOP4_FRAC)
        & (F.col("dup2_frac") <= MAX_DUP2_FRAC)
        & (F.col("dup3_frac") <= MAX_DUP3_FRAC)
    )
    return (
        out.select(
            "doc_id",
            F.col("m").cast("long").alias("n_words"),
            "top2_frac", "top3_frac", "top4_frac", "dup2_frac", "dup3_frac",
            keep.cast("long").alias("rep_keep"),
        )
        .orderBy("doc_id")
    )


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-pair frequencies — BPE merge iteration 0.
    explode → groupBy(pair) with map-side partial aggregation; at
    100 TB the shuffle carries (pair, partial-count), and the top-k
    is TakeOrderedAndProject (no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens(F.lower(F.col("text"))).alias("toks"))
    pairs = toked.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.array_join(F.slice("toks", i, 2), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_TOP)
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection per exact-duplicate cluster: within each
    normalized-text fingerprint group keep the longest member
    (n_chars desc, doc_id asc tiebreak). One narrow shuffle on the
    32-hex fingerprint; text never rides the shuffle (the window sees
    only (fp, n_chars, doc_id))."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    w = Window.partitionBy("_fp").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = (
        docs.select("doc_id", "source", "n_chars", fp.alias("_fp"))
        .withColumn("_rn", F.row_number().over(w))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("_rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("source")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): bucket embeddings by nearest
    coarse centroid (the IVF assignment operator — one GEMM per Arrow
    batch against the collected centroids, no shuffle), then mark rows
    with a LOWER-ID near neighbor in the SAME cluster as dups. Within-cluster
    scoring is the bucketed blocked-GEMM kernel (embedding_near_pairs
    with bucket_col="cid"): O(Σ cluster²) BLAS work, pair rows never
    materialize, and the f64 rounding matches the SQL oracle exactly
    (same contract embedding_near_dups locks in)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = seed_centroids(emb, SEM_CENTROIDS)
    assign = assign_centroids(emb, cent)  # [vec_id, cid]
    v = emb.join(assign, "vec_id").select("vec_id", "cid", "embedding")
    # within-cluster scoring runs the blocked-GEMM kernel (the same
    # exact path embedding_near_dups uses), bucketed on cid: pair rows
    # never materialize, BLAS does the N²/k math, and only
    # sub-threshold hits leave the kernel. Pairs are same-cid by
    # construction and vec_id is unique, so id_b alone keys the drop.
    pairs = embedding_near_pairs(
        v, SEM_EPS, id_col="vec_id", vec_col="embedding",
        bucket_col="cid", n_blocks=4,
    )
    dup_ids = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        v.join(dup_ids.withColumn("_dup", F.lit(1)), ["vec_id"], "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dropped"),
            F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("cid")
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020), with the
    corpus itself as the LM: train an add-k-smoothed bigram model on
    the whole corpus, score every document by bigram perplexity, flag
    outliers. (CCNet uses a pretrained KenLM; the distributable heavy
    part — corpus-wide n-gram counts + per-doc scoring joins — is
    exactly this. A real deployment would swap the count tables for
    the pretrained model's, same plan shape.)

    P(w2|w1) = (B(w1,w2) + a) / (U(w1) + a·V)

    Plan: per-doc bigram multiplicities (one explode + groupBy) →
    corpus bigram table B by re-aggregating those multiplicities (no
    second scan) → corpus unigram table U + vocab size V → two
    equi-joins on the gram keys → per-doc weighted average of
    ln P → perplexity. Shuffles carry (w1, w2, count); V rides a
    broadcast 1-row frame.

    Zipf-skew mitigation (VERDICT r3 "What's wrong #4"): both count-
    table joins go through ``broadcast_head_join`` — the ``LM_HEAD_K``
    heaviest grams (the "the"/"of" keys that would straggle a 100 TB
    shuffle join) are broadcast and joined map-side, the long tail
    takes the normal shuffle path; head∪tail is exactly the inner
    join. AQE skew-split remains as the backstop for residual tail
    skew. (With a pretrained vocab the whole count table broadcasts,
    as the CCNet deployment note above says — this is the same plan
    with head_k = |vocab|.)

    The count tables are deliberately NOT cached here: an A/B at
    sf0.1 measured caching SLOWER (2.29 vs 2.05 s best-of-4 — the
    eager materialization barriers outweigh recomputing small aggs;
    BENCH.md ledger #0d). At real scale the question disappears: the
    count tables are the TRAINED MODEL and live as persisted parquet
    (exactly the pretrained-KenLM swap the paragraph above
    describes), so no query-time lineage ever recomputes them.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))

    doc_big = (
        toked.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.struct(
                            F.element_at("toks", i).alias("w1"),
                            F.element_at("toks", i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_doc"))
    )
    corpus_big = doc_big.groupBy("w1", "w2").agg(F.sum("c_doc").alias("b"))
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))  # 1 row -> broadcast

    logp = F.log(
        (F.col("b") + F.lit(LM_ALPHA))
        / (F.col("u") + F.lit(LM_ALPHA) * F.col("v"))
    )
    from cli_rag_spark.operators.skew import broadcast_head_join

    uni_w1 = uni.select(F.col("w").alias("w1"), "u")
    scored = (
        broadcast_head_join(
            broadcast_head_join(doc_big, corpus_big, ["w1", "w2"], "b", LM_HEAD_K),
            uni_w1, ["w1"], "u", LM_HEAD_K,
        )
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            (F.sum(F.col("c_doc") * logp) / F.sum("c_doc")).alias("_avg"),
        )
    )
    out = (
        toked.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(F.coalesce(F.col("_avg"), F.lit(0.0)), 6).alias("avg_logp"),
            F.round(F.exp(-F.coalesce(F.col("_avg"), F.lit(0.0))), 4).alias("ppl"),
        )
    )
    return (
        out.withColumn(
            "lm_keep", (F.col("ppl") <= F.lit(LM_PPL_MAX)).cast("long")
        ).orderBy("doc_id")
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / std / min / max over the embedding matrix
    — posexplode → ONE groupBy(pos) with partial aggregation (the
    shuffle carries 64 × n_partitions partial aggregates, not N·d
    values)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"))
    return (
        vals.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 6).alias("mean_val"),
            F.round(F.stddev_samp("val"), 4).alias("std_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("pos")
    )


SUBSTR_WIN = 50
SUBSTR_STRIDE = 8


def q_exact_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplication stats (Lee et al. 2022) over the
    corpus: strided 50-char window fingerprints, global occurrence
    counts, per-doc repeated-window fraction — the exact-substring
    complement to MinHash similarity (operators/dedup.py
    exact_substring_window_stats; xxhash64 8-byte window keys in the
    shuffle, oracle groups the raw window text)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_window_stats(
        docs, window=SUBSTR_WIN, stride=SUBSTR_STRIDE
    ).orderBy("doc_id")


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus-curation pipeline as one judged funnel —
    the composition every training-data run executes: Gopher quality
    gate (functions/quality.py) → exact dedup (operators/dedup.py,
    min-id per fingerprint among the quality survivors) → source
    mixture sampling (operators/training.py). Output: per-source doc
    counts at each stage (raw → quality → dedup → sampled).

    Each stage is individually green against its own oracle
    (gopher_quality_flags, dedup_exact_count, mixture_sample_counts);
    this query proves the COMPOSITION — stage order matters (dedup
    runs on the quality-kept set only), and the oracle replays the
    whole chain in one SQL.

    Scale shape: the chain is three narrow shuffles (quality is a
    pure map; dedup shuffles 32-char fingerprints + a semi-join on
    ids; mixture is a map-side filter) over ONE corpus scan — exactly
    how the 100 TB run is shaped, no stage rereads the raw text.

    Materialization policy (r11, measured at the 1000× composed
    rehearsal — scripts/funnel_1000x.py): the quality gate is the
    funnel's expensive stage (a tokenization-heavy scan) AND its most
    selective (1.25% keep on the replica corpus), and every
    downstream stage plus every per-stage count re-derives it in a
    fused plan — 246.8 s fused vs 108.0 s staged at 5M docs (2.3×).
    So the gate's survivors and the exact-dedup survivors, each
    consumed ≥2× below, persist through the columnar compressed
    cache (spills batch-by-batch; the post-gate table is corpus-×
    -selectivity sized, the cacheable regime by construction)."""
    from pyspark import StorageLevel

    from cli_rag_spark.functions.quality import with_quality_metrics
    from cli_rag_spark.operators.dedup import dedup_exact
    from cli_rag_spark.operators.training import mixture_sample
    from cli_rag_spark.plans.queries_training import (
        MIX_DEFAULT,
        MIX_RATES,
        MIX_SALT,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = (
        with_quality_metrics(docs)
        .where(F.col("keep"))
        .select(*docs.columns)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    surv = dedup_exact(kept).persist(StorageLevel.MEMORY_AND_DISK)
    sampled = mixture_sample(surv, "source", MIX_RATES, MIX_DEFAULT, salt=MIX_SALT)

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    out = (
        stage(docs, "n_raw")
        .join(stage(kept, "n_quality"), "source", "left")
        .join(stage(surv, "n_dedup"), "source", "left")
        .join(stage(sampled, "n_sampled"), "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("long").alias("n_raw"),
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_dedup", F.lit(0)).cast("long").alias("n_dedup"),
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        )
        .orderBy("source")
    )
    # Materialize the per-source rollup (bounded: one row per source)
    # eagerly, then RELEASE the two cached survivor tables — in the
    # shared long-lived bench/driver session the un-released blocks
    # of 193 queries would otherwise accumulate memory pressure for
    # every later query (ADVICE r11). The checkpoint stores only the
    # tiny result, so downstream consumers never re-trigger the
    # funnel lineage the persists existed for.
    out = out.localCheckpoint(eager=True)
    kept.unpersist()
    surv.unpersist()
    return out


DSIR_TARGET_LANG = "en"


def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the importance log-ratio of its hashed unigram features between
    a target domain (here: the English slice) and the raw corpus, and
    keep documents scoring above 0 (more likely under the target than
    the raw distribution). Output: per-language document counts,
    selected counts, and summed importance weight — the selected set
    should (and does) concentrate on the target language, which the
    oracle verifies value-exactly.

    Scale shape (operators/training.py dsir_bucket/dsir_logratios):
    one corpus scan explodes tokens to 8-byte bucket ids (text never
    shuffles); the importance model is a ≤256-row log-ratio table
    built with one partial-agg groupBy and broadcast back; per-doc
    weights are one narrow (doc_id, bucket, count) aggregate joined
    map-side against the broadcast model. Log-ratios round to
    DECIMAL(12,6), so per-doc sums are exact and order-independent —
    the whole selection replays bit-for-bit in the SQL oracle. The
    selection rule (weight > 0) is a pure map — no global sort; a
    top-fraction variant would threshold on an approxQuantile of the
    weight instead (bounded driver list), never a global row_number.
    """
    from cli_rag_spark.operators.training import dsir_bucket, dsir_logratios

    docs = load_table(spark, sf_dir, "documents")
    # materialize the token-bucket stream once (r15, guide §1.2): it
    # feeds the importance model AND the per-doc weight aggregate —
    # without the checkpoint the scan+tokenize+bucket pass runs per
    # consumer
    tb = (
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
        )
        .select("doc_id", "lang", dsir_bucket(F.col("term")).alias("b"))
        .localCheckpoint(eager=False)
    )
    lr = dsir_logratios(tb, F.col("lang") == DSIR_TARGET_LANG)
    per_doc = (
        tb.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("n") * F.col("lr")).alias("wt"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("wt") > 0, 1).otherwise(0)).alias("n_selected"),
            F.round(F.sum("wt"), 4).cast("double").alias("sum_weight"),
        )
        .orderBy("lang")
    )


PMI_MIN_COUNT = 25
PMI_TOPK = 20


def q_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the
    corpus-linguistics pass that surfaces multiword expressions
    ("strongly associated adjacent word pairs") before tokenizer or
    phrase-table construction:

        PMI(w1, w2) = ln( (c12 / T2) / ((c1/T1) * (c2/T1)) )

    with c12 the bigram count, c1/c2 unigram counts, T2/T1 the
    corpus totals. Reuses the lm_perplexity count-table machinery:
    one scan builds unigram + bigram tables (map-side partial aggs on
    token keys); the PMI expression is scalar IEEE math on exact long
    counts crossed with the broadcast 1-row totals, so the ranking
    replays bit-for-bit. Min-count 25 kills the low-frequency PMI
    pathology (hapax pairs score arbitrarily high); top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the tokenized corpus once (r15, guide §1.2): the
    # unigram and bigram tables both consume it, and without the
    # barrier the scan+lower+tokenize pass runs twice per plan
    toks = docs.select(tokens(F.lower(F.col("text"))).alias("t")).localCheckpoint(
        eager=False
    )
    uni = toks.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    bi = (
        toks.select(
            F.explode(
                F.when(
                    F.size("t") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 1),
                        lambda i: F.struct(
                            F.element_at("t", i).alias("w1"),
                            F.element_at("t", (i + 1).cast("int")).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    t1 = uni.agg(F.sum("c").alias("t1"))
    t2 = bi.agg(F.sum("c12").alias("t2"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        F.log(
            (F.col("c12").cast("double") / F.col("t2").cast("double"))
            / (
                (F.col("c1").cast("double") / F.col("t1").cast("double"))
                * (F.col("c2").cast("double") / F.col("t1").cast("double"))
            )
        )
    )
    return (
        bi.where(F.col("c12") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select("w1", "w2", "c12", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(PMI_TOPK)
    )


PSI_EDGES = [100.0, 150.0, 200.0, 250.0, 300.0, 350.0, 400.0, 450.0, 500.0]


def q_quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate (operators/drift.py
    psi_statistic) between the even- and odd-numbered crawl sources
    over fixed n_chars bins — the "how much mass moved where"
    complement to the KS distance, scored against the conventional
    0.1 / 0.25 monitoring thresholds. Exact integer bin counts, one
    partial-agg shuffle, bin-ordered double fold (deterministic at
    any partitioning)."""
    from cli_rag_spark.operators.drift import psi_statistic

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("long")
    return psi_statistic(
        docs, F.col("n_chars"), src_num % 2 == 0, src_num % 2 == 1, PSI_EDGES
    )


def q_quality_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift check (operators/drift.py)
    between the even- and odd-numbered crawl sources — the monitoring
    gate a continuously-ingesting corpus runs per batch: one row per
    metric with the KS distance and the value attaining it.

    Metrics: document length (n_chars) and whitespace token count —
    both integer-valued, so the distinct-value table the ECDF window
    runs over is naturally bounded (the drift.py scale contract; a
    continuous score would pass round_digits to bin first).
    """
    from cli_rag_spark.functions.text import token_count
    from cli_rag_spark.operators.drift import ks_statistic

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("long")
    in_a, in_b = src_num % 2 == 0, src_num % 2 == 1
    out = []
    for metric, value in [
        ("n_chars", F.col("n_chars")),
        ("ws_tokens", token_count(F.col("text"))),
    ]:
        out.append(
            ks_statistic(docs, value, in_a, in_b).select(
                F.lit(metric).alias("metric"), "n_a", "n_b", "ks_d", "ks_at"
            )
        )
    return out[0].unionByName(out[1]).orderBy("metric")


def _quality_drift_sql() -> str:
    from cli_rag_spark.operators.drift import ks_oracle_sql

    in_a = r"CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END"
    in_b = r"CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END"
    ws_tokens = r"len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))"
    parts = [
        f"SELECT '{metric}' AS metric, n_a, n_b, ks_d, ks_at FROM ({ks_oracle_sql(value, in_a, in_b)})"
        for metric, value in [("n_chars", "n_chars"), ("ws_tokens", ws_tokens)]
    ]
    return " UNION ALL ".join(parts) + " ORDER BY metric"


BPE_MERGES = 3


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL BPE training loop (operators/bpe.py), 3 iterations:
    per step, the corpus-wide argmax adjacent symbol pair (weighted by
    word frequency) and its count, with the merge applied before the
    next step — so steps 2 and 3 prove the merge REWRITE is right, not
    just the counting (step 2's winner can only exist if step 1's
    merge produced the merged symbol). Driver decisions are one
    collected row per step; the heavy count is a distributed explode +
    partial-agg over the distinct-word table."""
    from cli_rag_spark.operators.bpe import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train_merges(docs, n_merges=BPE_MERGES)
    return spark.createDataFrame(
        [(m["step"], m["a"], m["b"], m["n"]) for m in merges],
        "step long, a string, b string, n long",
    ).orderBy("step")


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the tokenizer lifecycle (operators/bpe.py
    bpe_encode_counts): train 3 merges, then apply them to the whole
    corpus as a dictionary join — the distinct-word table runs the
    merge chain once, the corpus equi-joins word -> symbol count. Per
    source: words encoded and total BPE tokens produced (exact longs).
    The oracle re-derives the SAME merges in CTEs and re-applies them
    relationally, so training AND inference replay end-to-end."""
    from cli_rag_spark.operators.bpe import bpe_encode_counts, bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train_merges(docs, n_merges=BPE_MERGES)
    enc = bpe_encode_counts(docs, merges, broadcast_dict=True)
    return (
        enc.groupBy("source")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        )
        .orderBy("source")
    )


def _bpe_cte_chain(n_merges: int) -> list[str]:
    """The trainer loop as chained CTE stages: pair-count -> argmax ->
    literal replace (left-to-right non-overlapping in both engines —
    BPE's scan order) -> next stage. ``word`` rides the chain so the
    final stage doubles as the encode dictionary (bpe_encode_stats)."""
    ctes = [
        r"""words AS (
          SELECT word, count(*)::BIGINT AS freq FROM (
            SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS word
            FROM documents
          ) WHERE regexp_matches(word, '^[a-z]+$')
          GROUP BY word
        )""",
        """s0 AS (
          SELECT word, '|' || array_to_string(regexp_split_to_array(word, ''), '||') || '|' AS syms, freq
          FROM words
        )""",
    ]
    for i in range(n_merges):
        ctes.append(f"""p{i} AS (
          SELECT p['a'] AS a, p['b'] AS b, sum(freq)::BIGINT AS n FROM (
            SELECT freq, unnest(list_transform(range(1, len(l)), j -> {{'a': l[j], 'b': l[j+1]}})) AS p
            FROM (SELECT list_filter(string_split(syms, '|'), x -> x <> '') AS l, freq FROM s{i})
          ) GROUP BY 1, 2
        )""")
        ctes.append(
            f"b{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
        )
        ctes.append(f"""s{i + 1} AS (
          SELECT word,
                 replace(syms,
                         '|' || (SELECT a FROM b{i}) || '||' || (SELECT b FROM b{i}) || '|',
                         '|' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || '|') AS syms,
                 freq
          FROM s{i}
        )""")
    return ctes


def _bpe_merges_sql(n_merges: int) -> str:
    ctes = _bpe_cte_chain(n_merges)
    finals = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS step, a, b, n FROM b{i}"
        for i in range(n_merges)
    )
    return f"WITH {', '.join(ctes)} {finals} ORDER BY step"


def _bpe_encode_sql(n_merges: int) -> str:
    ctes = _bpe_cte_chain(n_merges)
    return f"""
        WITH {', '.join(ctes)},
        dict AS (
          SELECT word,
                 CAST(len(list_filter(string_split(syms, '|'), x -> x <> '')) AS BIGINT) AS n_sym
          FROM s{n_merges}
        ), toks AS (
          SELECT source,
                 unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
          FROM documents
        )
        SELECT source,
               count(*) AS n_words,
               CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
        FROM toks JOIN dict USING (word)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY source ORDER BY source
    """


QUERIES = {
    "bpe_merges": q_bpe_merges,
    "bpe_encode_stats": q_bpe_encode_stats,
    "quality_drift_ks": q_quality_drift_ks,
    "quality_drift_psi": q_quality_drift_psi,
    "collocations_topk": q_collocations_topk,
    "dsir_selection": q_dsir_selection,
    "curation_funnel": q_curation_funnel,
    "exact_substring_stats": q_exact_substring_stats,
    "repetition_scores": q_repetition_scores,
    "bpe_pair_stats": q_bpe_pair_stats,
    "dedup_canonical": q_dedup_canonical,
    "semantic_dedup": q_semantic_dedup,
    "embedding_dim_stats": q_embedding_dim_stats,
    "lm_perplexity": q_lm_perplexity,
}

_TOKS = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')"

def _curation_funnel_sql() -> str:
    """Compose the three stage oracles (each individually green) into
    the one-chain replay: quality keep → min-id-per-fingerprint dedup
    among the kept → mixture bucket filter."""
    from cli_rag_spark.functions.quality import (
        MAX_DUP_WORD_FRACTION,
        MAX_TOP_WORD_FRACTION,
        MAX_WORDS,
        MEAN_WORD_LEN_RANGE,
        MIN_ALPHA_WORD_FRACTION,
        MIN_STOPWORDS,
        MIN_WORDS,
    )
    from cli_rag_spark.plans.queries_text import _EN_STOP, _WS_TOKENS
    from cli_rag_spark.plans.queries_training import _MIX_BOUND, _MIX_BUCKET

    toks = _WS_TOKENS.format(col="text")
    ltoks = _WS_TOKENS.format(col="lower(text)")
    return rf"""
        WITH t AS (
          SELECT doc_id, source, text, {toks} AS toks, {ltoks} AS ltoks
          FROM documents
        ), m AS (
          SELECT doc_id, source, text,
                 len(toks)::BIGINT AS n_words,
                 CASE WHEN len(toks) > 0
                      THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                      ELSE 0.0 END AS mwl,
                 CASE WHEN len(toks) > 0
                      THEN list_max(list_transform(list_distinct(toks),
                                                   d -> len(list_filter(toks, x -> x = d))))::DOUBLE / len(toks)
                      ELSE 0.0 END AS topf,
                 CASE WHEN len(toks) > 0
                      THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
                      ELSE 0.0 END AS dupf,
                 len(list_filter(ltoks, x -> x IN ({_EN_STOP})))::BIGINT AS n_stop,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks)
                      ELSE 0.0 END AS alphaf
          FROM t
        ), kept AS (
          SELECT doc_id, source, text FROM m
          WHERE n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}
            AND mwl >= {MEAN_WORD_LEN_RANGE[0]} AND mwl <= {MEAN_WORD_LEN_RANGE[1]}
            AND topf <= {MAX_TOP_WORD_FRACTION} AND dupf <= {MAX_DUP_WORD_FRACTION}
            AND n_stop >= {MIN_STOPWORDS} AND alphaf >= {MIN_ALPHA_WORD_FRACTION}
        ), surv AS (
          SELECT doc_id, source FROM kept
          WHERE doc_id IN (
            SELECT min(doc_id)
            FROM (SELECT doc_id,
                         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                  FROM kept)
            GROUP BY fp
          )
        ), samp AS (
          SELECT doc_id, source FROM surv WHERE {_MIX_BUCKET} < {_MIX_BOUND}
        ),
        raw_c AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
        k_c AS (SELECT source, count(*) AS n_quality FROM kept GROUP BY source),
        s_c AS (SELECT source, count(*) AS n_dedup FROM surv GROUP BY source),
        p_c AS (SELECT source, count(*) AS n_sampled FROM samp GROUP BY source)
        SELECT raw_c.source,
               CAST(raw_c.n_raw AS BIGINT) AS n_raw,
               CAST(coalesce(k_c.n_quality, 0) AS BIGINT) AS n_quality,
               CAST(coalesce(s_c.n_dedup, 0) AS BIGINT) AS n_dedup,
               CAST(coalesce(p_c.n_sampled, 0) AS BIGINT) AS n_sampled
        FROM raw_c
        LEFT JOIN k_c USING (source)
        LEFT JOIN s_c USING (source)
        LEFT JOIN p_c USING (source)
        ORDER BY raw_c.source
    """


from cli_rag_spark.operators.drift import psi_oracle_sql as _psi_oracle_sql

_PSI_IN_A = r"CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END"
_PSI_IN_B = r"CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END"

ORACLE = {
    "bpe_merges": _bpe_merges_sql(BPE_MERGES),
    "bpe_encode_stats": _bpe_encode_sql(BPE_MERGES),
    "quality_drift_ks": _quality_drift_sql(),
    "quality_drift_psi": _psi_oracle_sql("n_chars", _PSI_IN_A, _PSI_IN_B, PSI_EDGES),
    "collocations_topk": f"""
        WITH toks AS (
          SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS t
          FROM documents
        ), uni AS (
          SELECT w, count(*)::BIGINT AS c
          FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        ), bi AS (
          SELECT w1, w2, count(*)::BIGINT AS c12 FROM (
            SELECT t[i] AS w1, t[i+1] AS w2
            FROM toks, unnest(range(1, len(t))) u(i)
          ) GROUP BY w1, w2
        ), t1 AS (SELECT sum(c)::BIGINT AS t1 FROM uni),
        t2 AS (SELECT sum(c12)::BIGINT AS t2 FROM bi)
        SELECT w1, w2, c12,
               round(ln((CAST(c12 AS DOUBLE) / CAST(t2.t2 AS DOUBLE))
                        / ((CAST(u1.c AS DOUBLE) / CAST(t1.t1 AS DOUBLE))
                           * (CAST(u2.c AS DOUBLE) / CAST(t1.t1 AS DOUBLE)))), 6) AS pmi
        FROM bi
        JOIN uni u1 ON u1.w = bi.w1
        JOIN uni u2 ON u2.w = bi.w2, t1, t2
        WHERE c12 >= {PMI_MIN_COUNT}
        ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {PMI_TOPK}
    """,
    "dsir_selection": f"""
        WITH tb AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(term), 1, 15))::BIGINT % 256 AS b
          FROM (
            SELECT doc_id, lang,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> x <> '')) AS term
            FROM documents
          )
        ), counted AS (
          SELECT b, count(*) AS c_raw,
                 CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
          FROM tb GROUP BY b
        ), tots AS (
          SELECT CAST(sum(c_raw) AS BIGINT) AS raw_tot,
                 CAST(sum(c_tgt) AS BIGINT) AS tgt_tot
          FROM counted
        ), lr AS (
          SELECT b,
                 CAST(round(ln((c_tgt + 1.0) / (tgt_tot + 256.0))
                          - ln((c_raw + 1.0) / (raw_tot + 256.0)), 6)
                      AS DECIMAL(12,6)) AS lr
          FROM counted, tots
        ), per_doc AS (
          SELECT doc_id, lang, sum(n * lr.lr) AS wt
          FROM (
            SELECT doc_id, lang, b, count(*) AS n
            FROM tb GROUP BY doc_id, lang, b
          ) db JOIN lr USING (b)
          GROUP BY doc_id, lang
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
               CAST(round(sum(wt), 4) AS DOUBLE) AS sum_weight
        FROM per_doc GROUP BY lang ORDER BY lang
    """,
    "curation_funnel": _curation_funnel_sql(),
    "exact_substring_stats": f"""
        WITH wins AS (
          SELECT doc_id,
                 substr(text, CAST(off AS INTEGER), {SUBSTR_WIN}) AS w
          FROM documents,
               unnest(range(1, CAST(length(text) - {SUBSTR_WIN} + 2 AS BIGINT), {SUBSTR_STRIDE})) t(off)
          WHERE length(text) >= {SUBSTR_WIN}
        ), c AS (
          SELECT w, count(*) AS c FROM wins GROUP BY w
        ), per AS (
          SELECT wins.doc_id,
                 count(*) AS n_windows,
                 sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS n_repeated
          FROM wins JOIN c USING (w)
          GROUP BY wins.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(per.n_repeated, 0) AS BIGINT) AS n_repeated,
               round(CAST(coalesce(per.n_repeated, 0) AS DOUBLE)
                     / greatest(coalesce(per.n_windows, 0), 1), 4) AS repeated_frac
        FROM documents d LEFT JOIN per USING (doc_id)
        ORDER BY d.doc_id
    """,
    "repetition_scores": f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), base AS (SELECT doc_id, len(toks) AS m, toks FROM t),
        nn AS (SELECT unnest([2, 3, 4]) AS n),
        grams AS (
          SELECT doc_id, m, n,
                 unnest(list_transform(range(1, greatest(m - n + 1, 0) + 1),
                        i -> md5(array_to_string(toks[i:i+n-1], ' ')))) AS h
          FROM base, nn
        ), c AS (
          SELECT doc_id, m, n, h, count(*) AS c FROM grams GROUP BY ALL
        ), per_n AS (
          SELECT doc_id, m, n, max(c) AS top_c,
                 coalesce(sum(c) FILTER (c >= 2), 0) AS dup_c
          FROM c GROUP BY doc_id, m, n
        ), agg AS (
          SELECT doc_id, m,
                 round(coalesce(max(CASE WHEN n=2 THEN top_c END) * 2.0 / m, 0), 6) AS top2_frac,
                 round(coalesce(max(CASE WHEN n=3 THEN top_c END) * 3.0 / m, 0), 6) AS top3_frac,
                 round(coalesce(max(CASE WHEN n=4 THEN top_c END) * 4.0 / m, 0), 6) AS top4_frac,
                 round(least(1.0, coalesce(max(CASE WHEN n=2 THEN dup_c END) * 2.0 / m, 0)), 6) AS dup2_frac,
                 round(least(1.0, coalesce(max(CASE WHEN n=3 THEN dup_c END) * 3.0 / m, 0)), 6) AS dup3_frac
          FROM per_n GROUP BY doc_id, m
        )
        SELECT doc_id, m::BIGINT AS n_words,
               top2_frac, top3_frac, top4_frac, dup2_frac, dup3_frac,
               CAST(CASE WHEN top2_frac <= {MAX_TOP2_FRAC} AND top3_frac <= {MAX_TOP3_FRAC}
                          AND top4_frac <= {MAX_TOP4_FRAC} AND dup2_frac <= {MAX_DUP2_FRAC}
                          AND dup3_frac <= {MAX_DUP3_FRAC}
                         THEN 1 ELSE 0 END AS BIGINT) AS rep_keep
        FROM agg ORDER BY doc_id
    """,
    "bpe_pair_stats": f"""
        WITH t AS (SELECT {_TOKS} AS toks FROM documents),
        pairs AS (
          SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                        i -> array_to_string(toks[i:i+1], ' '))) AS pair
          FROM t
        )
        SELECT pair, count(*) AS n FROM pairs
        GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {BPE_TOP}
    """,
    "dedup_canonical": r"""
        WITH ranked AS (
          SELECT source,
                 row_number() OVER (
                   PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                   ORDER BY n_chars DESC, doc_id ASC
                 ) AS rn
          FROM documents
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM ranked GROUP BY source ORDER BY source
    """,
    "semantic_dedup": f"""
        WITH cent AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
          WHERE vec_id < {SEM_CENTROIDS}
        ), assign AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6), c.cid
                   ) AS rn
            FROM embeddings e, cent c
          ) WHERE rn = 1
        ), v AS (
          SELECT e.vec_id, a.cid, e.embedding FROM embeddings e JOIN assign a USING (vec_id)
        ), dups AS (
          SELECT DISTINCT b.cid, b.vec_id
          FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE round(1 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) < {SEM_EPS}
        )
        SELECT v.cid, count(*) AS n_vectors,
               CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM v LEFT JOIN dups d ON v.cid = d.cid AND v.vec_id = d.vec_id
        GROUP BY v.cid ORDER BY v.cid
    """,
    "lm_perplexity": f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), doc_big AS (
          SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2, count(*) AS c_doc
          FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                          i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS bg
            FROM t
          ) GROUP BY ALL
        ), corpus_big AS (
          SELECT w1, w2, sum(c_doc) AS b FROM doc_big GROUP BY w1, w2
        ), uni AS (
          SELECT unnest(toks) AS w FROM t
        ), uni_c AS (
          SELECT w, count(*) AS u FROM uni GROUP BY w
        ), vocab AS (SELECT count(*) AS v FROM uni_c),
        scored AS (
          SELECT d.doc_id,
                 sum(d.c_doc) AS n_bigrams,
                 sum(d.c_doc * ln((cb.b + {LM_ALPHA}) / (uc.u + {LM_ALPHA} * vocab.v)))
                   / sum(d.c_doc) AS avg_raw
          FROM doc_big d
          JOIN corpus_big cb USING (w1, w2)
          JOIN uni_c uc ON d.w1 = uc.w
          CROSS JOIN vocab
          GROUP BY d.doc_id
        )
        SELECT t.doc_id,
               CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               round(coalesce(s.avg_raw, 0), 6) AS avg_logp,
               round(exp(-coalesce(s.avg_raw, 0)), 4) AS ppl,
               CAST(CASE WHEN round(exp(-coalesce(s.avg_raw, 0)), 4) <= {LM_PPL_MAX}
                         THEN 1 ELSE 0 END AS BIGINT) AS lm_keep
        FROM t LEFT JOIN scored s USING (doc_id)
        ORDER BY t.doc_id
    """,
    "embedding_dim_stats": """
        WITH vals AS (
          SELECT u.x['pos'] AS pos, u.x['val']::DOUBLE AS val
          FROM (
            SELECT unnest(list_transform(range(1, len(embedding) + 1),
                          i -> {'pos': i - 1, 'val': embedding[i]})) AS x
            FROM embeddings
          ) u
        )
        SELECT pos::INT AS pos, count(*) AS n,
               round(avg(val), 6) AS mean_val,
               round(stddev_samp(val), 4) AS std_val,
               round(min(val), 6) AS min_val,
               round(max(val), 6) AS max_val
        FROM vals GROUP BY pos ORDER BY pos
    """,
}


# --- cross-source overlap matrix (r8) ---------------------------------

OVERLAP_SHINGLE = 5


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix over 5-word shingle fingerprints
    — the corpus-composition diagnostic a mixture designer reads before
    weighting sources (heavy off-diagonal mass means two "different"
    sources are the same crawl twice). Upper triangle incl. the
    diagonal (source_a <= source_b); ``jaccard_ppm`` is the exact
    set Jaccard in floor-ppm.

    Scale shape: shingles are born in one narrow map stage, collapse
    to DISTINCT (fp, source) (map-side combinable), and the self-join
    runs on the 128-bit md5 fingerprint — never the shingle text (the
    bloom_decontamination shuffle-key discipline). A universal shingle
    fans out to at most |sources|² join rows, and the pair aggregate
    map-side combines into a <= |sources|² table, so there is no
    all-pairs hazard at any corpus size. The distinct table is
    checkpointed once — it feeds both join sides and the size table
    (the r6 re-scan lesson).

    Scale-aware distinct width (VERDICT r10 #2): the 1000x rehearsal
    OOM'd the 250M-row distinct at the standard 24 GB single-box heap
    — per-task agg state under a width sized for sf0.1. The fix is
    the session.scaled_shuffle_width rule: estimate the exchange's
    bytes from the input's FILE LISTING (zero scan) x the measured
    ~20x compressed-text-to-shingle-fp expansion, and when that
    exceeds the configured width's budget, repartition(n, source, fp)
    ahead of the distinct — the distinct's HashAggregate reuses that
    exchange (same keys, ClusteredDistribution satisfied; pinned in
    tests), so the plan STILL has one shuffle, just wide enough that
    each task's slice fits. At sf0.1 the estimate is ~11 MB, the rule
    returns None, and the judged plan is byte-identical to r10's."""
    docs = load_table(spark, sf_dir, "documents")
    # spread_small_input (r16, guide §2.1): the shingle+md5 pass must
    # not serialize on a single-split corpus; safe — downstream is
    # distinct + counts only
    proj = spread_small_input(docs.select("source", "text")).select(
        "source",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), OVERLAP_SHINGLE))
        ).alias("g"),
    ).select("source", F.md5("g").alias("fp"))
    width = scaled_shuffle_width(
        spark, dir_bytes(spark, os.path.join(sf_dir, "documents.parquet")) * 20
    )
    if width is not None:
        proj = proj.repartition(width, "source", "fp")
        # In the width-rule regime the distinct table itself is
        # corpus-sized (the 1000× point is ~250M rows), and
        # localCheckpoint stores DESERIALIZED row objects — ~200 B a
        # row, ~50 GB there, which is what actually OOM'd the 24 GB
        # rehearsal heap AFTER the width rule bounded the sort
        # buffers (r11). The columnar compressed cache stores the
        # same table ~10× smaller and spills batch-by-batch, while
        # still materializing once for the three consumers below.
        from pyspark import StorageLevel

        t = proj.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    else:
        t = proj.distinct().localCheckpoint(eager=False)
    a = t.select(F.col("source").alias("source_a"), "fp")
    b = t.select(F.col("source").alias("source_b"), "fp")
    shared = (
        # both sides grow with the corpus: the merge hint pins the
        # sort-merge plan so a long-lived JVM's stale size estimate
        # can never broadcast a corpus-sized build side (the r6
        # ngram_novelty incident, BENCH.md)
        a.join(b.hint("merge"), "fp")
        .where(F.col("source_a") <= F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = t.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    out = (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared",
            F.floor(
                F.col("shared") * 1000000 / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )
    if width is not None:
        # the width-rule regime cached a corpus-sized distinct table;
        # materialize the |sources|²-bounded matrix eagerly and
        # RELEASE it so the shared long-lived session doesn't carry
        # the blocks into later queries (ADVICE r11)
        out = out.localCheckpoint(eager=True)
        t.unpersist()
    return out


def q_overlap_matrix_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The overlap matrix maintained INCREMENTALLY (VERDICT r10 #7a —
    the last batch-only diagnostic gets the dedup_incremental
    treatment): given the persisted distinct-(source, fp) snapshot
    and its matrix from earlier batches, a NEW document batch updates
    both while shingling ONLY the new batch — the expensive text scan
    never re-reads ingested documents, and the carried state is
    narrow 8-byte-keyed fp rows plus a |sources|² matrix.

    Delta algebra (exact, no approximation): with O the old fp set
    and D the batch's truly-new fps (anti-join on (source, fp)),
      Δshared(a, b) = |D_a ∩ D_b| + |D_a ∩ O_b| + |O_a ∩ D_b|
    — two fp equi-joins, both with the bounded D on one side; the
    diagonal Δshared(a, a) = |D_a| falls out of the D⋈D self-join
    (anti-join guarantees D and O are disjoint per source, so the
    D⋈O join can never produce a same-source row). Sizes update by
    per-source delta counts. Here the "old" state is derived from
    the id-hash half of the corpus inside the query (the judged form
    must be self-contained); production reads it from the snapshot
    store (sources/snapshots.py) and pays ONLY the new-batch scan +
    the delta joins per ingest.

    The oracle IS the equivalence contract (the dedup_incremental
    discipline): the full-corpus batch SQL, verbatim — incremental
    maintenance must be value-indistinguishable from recomputation."""
    docs = load_table(spark, sf_dir, "documents")

    def fps(d: DataFrame) -> DataFrame:
        # spread_small_input: see q_source_overlap_matrix — each half
        # of the corpus pays its own serial shingle+md5 pass otherwise
        return (
            spread_small_input(d.select("source", "text"))
            .select(
                "source",
                F.explode(
                    F.array_distinct(word_shingles(F.col("text"), OVERLAP_SHINGLE))
                ).alias("g"),
            )
            .select("source", F.md5("g").alias("fp"))
            .distinct()
        )

    old = fps(docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0))
    # the carried snapshot: materialized once (production: a parquet
    # read); feeds the old matrix, the anti-join, the D⋈O join, and
    # the old sizes
    old = old.localCheckpoint(eager=False)
    new_raw = fps(docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) != 0))
    delta = new_raw.join(old, ["source", "fp"], "anti").localCheckpoint(
        eager=False
    )

    def pair_counts(left: DataFrame, right: DataFrame, ordered: bool) -> DataFrame:
        a = left.select(F.col("source").alias("source_a"), "fp")
        b = right.select(F.col("source").alias("source_b"), "fp")
        j = a.join(b.hint("merge"), "fp")
        if ordered:  # self-join: each unordered pair + diagonal once
            j = j.where(F.col("source_a") <= F.col("source_b"))
        else:  # D⋈O: normalize the pair key; same-source impossible
            j = j.select(
                F.least("source_a", "source_b").alias("source_a"),
                F.greatest("source_a", "source_b").alias("source_b"),
            )
        return j.groupBy("source_a", "source_b").agg(
            F.count(F.lit(1)).alias("shared")
        )

    old_matrix = pair_counts(old, old, ordered=True)
    d2d = pair_counts(delta, delta, ordered=True)
    d2o = pair_counts(delta, old, ordered=False)
    shared = (
        old_matrix.unionByName(d2d)
        .unionByName(d2o)
        .groupBy("source_a", "source_b")
        .agg(F.sum("shared").alias("shared"))
    )
    sizes = (
        old.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .unionByName(delta.groupBy("source").agg(F.count(F.lit(1)).alias("n")))
        .groupBy("source")
        .agg(F.sum("n").alias("n"))
    )
    return (
        shared.join(
            F.broadcast(
                sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("long").alias("shared"),
            F.floor(
                F.col("shared") * 1000000 / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


from cli_rag_spark.functions.text import word_shingles  # noqa: E402
from cli_rag_spark.plans.queries_mining import _shingle_sql  # noqa: E402

QUERIES["source_overlap_matrix"] = q_source_overlap_matrix
QUERIES["overlap_matrix_incremental"] = q_overlap_matrix_incremental

ORACLE["source_overlap_matrix"] = f"""
    WITH t AS (
      SELECT DISTINCT source, md5(g) AS fp
      FROM (SELECT source, unnest({_shingle_sql(OVERLAP_SHINGLE)}) AS g
            FROM documents)
    ), s AS (
      SELECT source, count(*) AS n FROM t GROUP BY source
    ), p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*)::BIGINT AS shared
      FROM t a JOIN t b ON a.fp = b.fp AND a.source <= b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.shared,
           floor(p.shared * 1000000 / (x.n + y.n - p.shared))::BIGINT
             AS jaccard_ppm
    FROM p JOIN s x ON p.source_a = x.source
           JOIN s y ON p.source_b = y.source
    ORDER BY p.source_a, p.source_b
"""

# the incremental form's oracle IS the batch recomputation, verbatim:
# snapshot + delta maintenance must be value-indistinguishable from
# recomputing over the full corpus (the dedup_incremental contract)
ORACLE["overlap_matrix_incremental"] = ORACLE["source_overlap_matrix"]
