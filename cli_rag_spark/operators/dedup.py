"""E8 — deduplication family for LLM training-data pipelines.

The reference has no dedup (SURVEY §2.b); this is the north-star
extension designed for 100 TB. Five strategies, all declarative:

* exact        — md5 fingerprint groupBy; one shuffle on a 32-char
                 key, map-side partial agg; the 100 TB workhorse.
* minhash LSH  — shingle → one md5 base hash → k universal-hash
                 minima → bands → equi-join on (band, key). Candidate
                 generation never compares all pairs: the shuffle key
                 is the band hash, so cost scales with bucket
                 collisions, not N².
* simhash      — 16-bit sign fingerprint over tokens; identical keys
                 are near-dup candidates. One groupBy on a tiny key.
* n-gram Jaccard — exact verification metric (and a standalone
                 brute-force path for small candidate sets).
* embedding    — cosine-near pairs over the vector column via the E7
                 kNN machinery.

All hashing is md5-based (functions/hashing.py) so every strategy is
DuckDB-oracle-checkable. Spark's native murmur3 would be faster per
byte but unverifiable; at scale the md5 cost is dwarfed by the
shuffle, and the choice is documented here as deliberate.

r10 adds :func:`choose_dedup_strategy` / :func:`dedup_near_auto` —
the near-dup candidate strategy picked from a bounded sample's
shingle-posting skew (exact all-pairs Jaccard while the projected
self-join volume is floor-bounded, banded MinHash past it), the third
dispatcher alongside fuzzy_join_auto and knn_join_auto.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cli_rag_spark.functions.hashing import (
    MINHASH_PRIME,
    band_keys,
    md5_int32,
    md5_int60,
    minhash_coeffs,
)
from cli_rag_spark.functions.let import let
from cli_rag_spark.functions.text import fingerprint, tokens, word_shingles
from cli_rag_spark.session import spread_small_input


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint.

    Plan shape: project → groupBy(fp) with min(id) → semi-join back.
    At 100 TB: two narrow shuffles on the 32-char fp / id keys; no
    row ever carries the full text through a shuffle.
    """
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="semi")


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Shuffle profile: shingles are exploded to rows so the ONE md5
    evaluation per shingle runs inside whole-stage codegen (an md5
    inside a higher-order lambda is interpreted per element —
    measured 20× slower); the k MinHash permutations are universal
    hashes ``(a_i·h + b_i) mod p`` of that base hash (pure codegen
    arithmetic — round 1 paid k independent md5s per shingle for
    identical candidate quality), and the k per-doc minima come from
    one partial-aggregating groupBy on the doc id whose shuffle rows
    are k LONGS, not k hex strings (4× narrower). Candidates come
    from one equi-join on (band, key) — never a crossJoin. Band keys
    are md5 strings so bucket skew is bounded by true duplicate
    clusters only.
    """
    # materialize the banded-key table ONCE (r15, guide §1.2): it is
    # both sides of the self-join below, and without the checkpoint
    # the whole shingle→hash→min-aggregate→band-explode subtree runs
    # twice per plan (the captured dedup_near_auto_count before-plan
    # shows the duplicated derivation; 0 ReusedExchange).
    banded = minhash_banded(
        df, text_col, id_col, shingle_words, n_hashes, n_bands
    ).localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
) -> DataFrame:
    """DF[id_col, _h0.._h{k-1}] — the per-doc MinHash signature rows.
    This is the frame an incremental pipeline PERSISTS (parquet): a
    new ingest batch computes signatures for its own docs only and
    band-joins against the stored corpus signatures — the whole point
    of signature-based dedup at 100 TB."""
    # docs with fewer words than the shingle width yield an empty
    # shingle array → dropped by explode → no signature row (the
    # oracle's WHERE len(sh) >= 1).
    # spread_small_input (r16, guide §2.1): the per-shingle md5 is the
    # deliberate engine-portable cost (module docstring) — don't let a
    # single-split corpus serialize it on one core; safe — downstream
    # is min-aggregates only
    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    exploded = src.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), shingle_words))).alias("_sh"),
    )
    coeff_a, coeff_b = minhash_coeffs(n_hashes)
    hashed = exploded.select(id_col, md5_int32(F.col("_sh")).alias("_h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(coeff_a[i]) * F.col("_h") + F.lit(coeff_b[i])) % F.lit(MINHASH_PRIME)).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    )


def _banded_from_signatures(
    sig_df: DataFrame, id_col: str, n_hashes: int, n_bands: int
) -> DataFrame:
    sig = F.array(*[F.col(f"_h{i}") for i in range(n_hashes)])
    return (
        sig_df.select(id_col, F.explode(band_keys(sig, n_bands, n_hashes // n_bands)).alias("_b"))
        .select(id_col, F.col("_b.band").alias("band"), F.col("_b.key").alias("key"))
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """DF[id_col, band, key] — exploded LSH band keys."""
    return _banded_from_signatures(
        minhash_signatures(df, text_col, id_col, shingle_words, n_hashes), id_col, n_hashes, n_bands
    )


def minhash_candidates_incremental(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Candidate pairs TOUCHING the new batch: new×old plus new×new —
    identical to running :func:`minhash_candidates` over the full
    corpus and keeping pairs with a new-side id (tested as an exact
    equivalence), but the old corpus contributes only its PERSISTED
    signature table (``minhash_signatures`` output read back from
    parquet): no re-shingling, no re-hashing of petabytes already
    ingested. Shuffle = two band equi-joins on the narrow (band, key)
    key; output keeps ``id_a < id_b`` so downstream verify/components
    machinery composes unchanged.
    """
    # each banded frame is referenced by two of the three pair joins
    # below (bn by all three) — materialize each once (r15, guide
    # §1.2) instead of re-deriving the band explode per reference
    bn = _banded_from_signatures(new_sigs, id_col, n_hashes, n_bands).localCheckpoint(
        eager=False
    )
    bo = _banded_from_signatures(old_sigs, id_col, n_hashes, n_bands).localCheckpoint(
        eager=False
    )

    def pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.alias("l")
            .join(
                right.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.key") == F.col("r.key"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
            )
        )

    new_old = pairs(bn, bo).unionByName(pairs(bo, bn))
    new_new = pairs(bn, bn)
    return new_old.unionByName(new_new).distinct()


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard for given candidate pairs — or all
    pairs when ``pairs`` is None (brute force; only for bounded sets).

    Set algebra via exploded distinct shingles + equi-join on the
    shingle: intersection counts come from one shuffle on the shingle
    string; union = |A| + |B| − |A∩B| without a second pass.

    With ``pairs`` the intersection is candidate-driven — shingles are
    joined *through the pair list* (two narrow id joins), so cost is
    O(candidate pairs × shingles), never the all-pairs self-join.
    """
    # materialize the exploded-shingle table ONCE (r15, guide §1.2):
    # it feeds the per-doc sizes AND both sides of the intersection
    # join (3 consumers in either branch), and the optimizer reuses
    # none of them — before r15 the tokenize+shingle+explode pass ran
    # three times per plan.
    # spread_small_input (r16, guide §2.1): parallelize the shingle
    # pass on single-split corpora; safe — downstream is counts only
    sh = (
        spread_small_input(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col),
            F.explode(F.array_distinct(word_shingles(F.col(text_col), shingle_words))).alias("shingle"),
        )
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    if pairs is not None:
        sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle").alias("_sha"))
        sh_b = sh.select(F.col(id_col).alias("_idb"), F.col("shingle").alias("_shb"))
        inter = (
            pairs.select("id_a", "id_b")
            .join(sh_a, "id_a")
            .join(sh_b, (F.col("id_b") == F.col("_idb")) & (F.col("_sha") == F.col("_shb")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6).alias("jaccard"),
        )
    )


def simhash_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """Docs sharing an identical simhash key (near-dup clusters).

    Tokens are exploded to rows so the per-token md5 is computed ONCE
    inside codegen (the expression form recomputes it per bit,
    interpreted: n_bits× the hashing). Bit sums are n_bits partial
    aggregates over one shuffle on the doc id; the final key groupBy
    shuffles only (16-char key, count, min) rows.
    """
    # explode_outer keeps zero-token docs as one NULL-token row whose
    # per-bit contribution is 0 → sum 0 → all-zero key, matching the
    # expression/oracle semantics for empty documents
    toks = df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("_t"))
    hashed = toks.select(id_col, md5_int60(F.col("_t")).alias("_h"))
    sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("_h").isNull(), 0)
                .when(F.col("_h").bitwiseAND(F.lit(1 << j)) > 0, 1)
                .otherwise(-1)
            ).alias(f"_s{j}")
            for j in range(n_bits)
        ]
    )
    key = F.concat_ws("", *[(F.col(f"_s{j}") > 0).cast("int").cast("string") for j in range(n_bits)])
    keyed = sums.select(F.col(id_col), key.alias("simhash"))
    return (
        keyed.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc_id"))
    )


def dedup_near(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash-LSH candidates →
    exact Jaccard verification → greedy keep-lowest-id survivor set.

    The full 100 TB dedup recipe in one operator: candidate
    generation never compares all pairs (band equi-join), exact
    verification touches only candidates (candidate-driven shingle
    join), and the drop set is every id_b of a verified pair — the
    standard greedy rule (keeps the lowest id of each duplicate
    chain; clusters whose links all point to one survivor).
    """
    cands = minhash_candidates(df, text_col, id_col, shingle_words, n_hashes, n_bands)
    verified = jaccard_pairs(df, pairs=cands, text_col=text_col, id_col=id_col,
                             shingle_words=shingle_words)
    drops = (
        verified.where(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "anti")


# choose_dedup_strategy thresholds — the third auto-dispatcher, after
# choose_fuzzy_strategy (sampled gram selectivity) and
# choose_knn_strategy (pure pair-ops arithmetic). Near-dup candidate
# generation has the fuzzy shape, not the knn shape: the all-pairs
# shingle self-join's cost is Σ_g df(g)² over posting lists — invisible
# in row counts (natural-text trigram postings are hapax ≈ everywhere,
# but one stopword-y shingle shared by 1% of a 10M-doc corpus is a
# 10^10-row join on its own), so the dispatcher must SAMPLE.
#
# ALLPAIRS_MAX_JOIN_ROWS: the projected full-corpus shingle self-join
# volume above which banding wins. Measured r10 on this box (sf0.1
# documents, 5000 docs): the true all-pairs volume is 2.79e6 join
# rows; the exact path runs 3.14 s (~8.9e5 rows/s through the shingle
# join + intersection agg), while minhash candidates + verify runs
# 1.72 s — banding already wins there, and below ~1e6 rows both sit
# at the job floor. The 2000-doc sample's projection read 3.16e6 for
# that corpus (1.13× of actual — the instrument validated against
# ground truth). 2e6 therefore keeps the exact path — whose value is
# zero recall loss — only where it is also the FAST path, and routes
# everything else to banding.
ALLPAIRS_MAX_JOIN_ROWS = 2_000_000
DEDUP_AUTO_SAMPLE_N = 2_000


def choose_dedup_strategy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    n_docs: int | None = None,
    sample_n: int = DEDUP_AUTO_SAMPLE_N,
) -> str:
    """``"allpairs"`` (exact :func:`jaccard_pairs` over every pair —
    zero recall loss) or ``"minhash"`` (banded candidates → verify) —
    decided from a bounded sample's shingle-posting skew, the
    choose_fuzzy_strategy discipline (VERDICT r9 #7b).

    Decision procedure, two bounded sample jobs: explode each sampled
    doc's distinct shingles, count per-shingle document frequency
    within the sample, and sum df² — the exact number of rows the
    all-pairs shingle self-join would produce ON THE SAMPLE.
    Corpus-frequency shingles scale df ∝ N/n, so the full-corpus
    projection is Σdf² · (N/n)²; hapax shingles (df=1, the
    natural-text common case) are over-projected by that square,
    which errs toward "minhash" — the side that stays safe when the
    model is wrong. Projection ≤ ALLPAIRS_MAX_JOIN_ROWS → allpairs.

    ``n_docs`` is the full-corpus count (pass it from table metadata
    at scale); when None it costs one count() job."""
    if n_docs is None:
        n_docs = df.count()
    if n_docs <= 1:
        return "allpairs"
    # Representative sampling: a bare limit(sample_n) takes the HEAD of
    # the first partitions, so a sorted/clustered corpus (near-dups
    # grouped together, one skewed leading file) biases the projected
    # self-join volume in either direction and misroutes the dispatch
    # (ADVICE r10). Filter on a content hash of the id instead — every
    # ~(n_docs/sample_n)-th doc by hash order, deterministic across
    # runs AND partitionings (unlike df.sample, whose draw depends on
    # partition layout), no shuffle, no extra job. The limit stays as a
    # hard cap on an already-representative subset.
    rate = max(1, -(-n_docs // sample_n))  # ceil(n_docs / sample_n)
    sample = (
        df.select(F.col(id_col), F.col(text_col))
        .where(F.col(text_col).isNotNull())
        .where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(rate)) == 0)
        .limit(sample_n)
    )
    stats = _shingle_sample_stats(sample, id_col, text_col, shingle_words)
    if stats is None or int(stats["n_sampled"] or 0) == 0:
        # degenerate: the hash draw found nothing (a frame far smaller
        # than the caller's n_docs hint, or a pathological id set) —
        # fall back to the head sample rather than answering with no
        # evidence; the head's bias is bounded by this being the
        # sparse-select case only
        stats = _shingle_sample_stats(
            df.select(F.col(id_col), F.col(text_col))
            .where(F.col(text_col).isNotNull())
            .limit(sample_n),
            id_col, text_col, shingle_words,
        )
    n_sampled = int(stats["n_sampled"]) if stats is not None else 0
    if stats is None or not stats["sum_df2"] or n_sampled == 0:
        return "allpairs"  # no shingled text: either path is empty
    scale = max(1.0, n_docs / n_sampled)
    projected = float(stats["sum_df2"]) * scale * scale
    return "allpairs" if projected <= ALLPAIRS_MAX_JOIN_ROWS else "minhash"


def _shingle_sample_stats(
    sample: DataFrame, id_col: str, text_col: str, shingle_words: int
):
    """One bounded job over a ≤sample_n-doc frame → Row(sum_df2,
    n_sampled) — Σ_g df(g)² (the exact all-pairs shingle self-join
    volume ON THE SAMPLE) plus the sampled-doc count.

    explode_OUTER so docs too short to emit a shingle still count in
    the sampled population: n_sampled must be ALL sampled docs, not
    just shingled ones, or the (N/n_sampled)² projection inflates
    quadratically on short-doc corpora (second r10 review) and flips
    small exact-path corpora to banding for no reason.

    ONE sample job (r10 review #6): each row's group size df(g) via
    a window over _g makes Σ_rows df = Σ_g df², and the distinct-doc
    count rides the same aggregate — no second evaluation of the
    non-deterministic limit() plan. NULL-shingle rows (shingle-less
    docs) are excluded from the volume term but kept in the doc
    count. The window key is the shingle: bounded by the 2000-doc
    sample, so the hot-key hazard of corpus-keyed windows does not
    apply."""
    sh = sample.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(F.col(text_col), shingle_words))
        ).alias("_g"),
    )
    from pyspark.sql import Window as _W

    return (
        sh.withColumn(
            "_df",
            F.when(
                F.col("_g").isNotNull(),
                F.count(F.lit(1)).over(_W.partitionBy("_g")),
            ).otherwise(F.lit(0)),
        )
        .agg(
            F.sum("_df").alias("sum_df2"),
            F.count_distinct(F.col(id_col)).alias("n_sampled"),
        )
        .first()
    )


def dedup_near_auto(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    n_docs: int | None = None,
) -> DataFrame:
    """:func:`dedup_near` with the candidate strategy chosen by
    :func:`choose_dedup_strategy` — same survivor contract.

    On the "allpairs" route the verification set is EVERY pair (exact
    Jaccard, no banding recall loss); on "minhash" it is the banded
    candidates — the trade every LSH dedup makes at scale. Both
    routes share the greedy keep-lowest-id survivor rule, so a
    dispatch flip as the corpus grows changes recall, never the rule.
    """
    strategy = choose_dedup_strategy(
        df, text_col, id_col, shingle_words, n_docs=n_docs
    )
    if strategy == "minhash":
        return dedup_near(
            df, threshold, text_col, id_col, shingle_words, n_hashes, n_bands
        )
    verified = jaccard_pairs(
        df, pairs=None, text_col=text_col, id_col=id_col,
        shingle_words=shingle_words,
    )
    drops = (
        verified.where(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "anti")


def embedding_near_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_blocks: int = 8,
    bucket_col: str | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine distance < threshold — exact
    all-pairs similarity via **blocked matrix multiplication**.

    Physical shape: rows are hashed into ``n_blocks`` row-blocks, each
    block packed to one (ids, matrix) row; the upper triangle of
    block-pairs (B(B+1)/2 rows) is scored with one BLAS f64 matmul per
    pair inside ``mapInPandas``. Versus the naive crossJoin + per-pair
    array expression this (a) never materializes the O(N²) pair rows —
    only sub-threshold hits leave the kernel, and (b) replaces ~N²·d
    interpreted lambda evaluations with dense GEMM (measured 50×).

    ``bucket_col`` restricts scoring to pairs INSIDE the same bucket
    (e.g. a k-means cluster id for SemDeDup): blocks are keyed by
    (bucket, blk) and block-pairs equi-join on the bucket, so the
    all-pairs cost O(N²) becomes O(Σ bucket²) and the join carries a
    real equi-key instead of a pure triangle condition.

    Scale: shuffle volume is N·d (the block packing) not N², and each
    task holds two blocks, so pick n_blocks ≈ N·d·8B / executor-mem.
    100 TB corpora should LSH-prefilter (minhash_candidates /
    knn_join_lsh) or cluster-bucket (bucket_col) and reserve the
    unbucketed exact kernel for within-bucket verification; it is the
    oracle-checkable exact path.
    """
    margin = 0.5 * 10.0 ** (-round_digits) if round_digits is not None else 0.0
    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        (F.col(bucket_col) if bucket_col else F.lit(0)).cast("long").alias("_bkt"),
    )
    packed = (
        src.withColumn("_blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
        .groupBy("_bkt", "_blk")
        .agg(F.collect_list(F.struct("id", "vec")).alias("rows"))
    )
    a = packed.select(
        F.col("_bkt").alias("bkt_a"), F.col("_blk").alias("blk_a"),
        F.col("rows").alias("rows_a"),
    )
    b = packed.select(
        F.col("_bkt").alias("bkt_b"), F.col("_blk").alias("blk_b"),
        F.col("rows").alias("rows_b"),
    )
    block_pairs = a.join(
        b, (F.col("bkt_a") == F.col("bkt_b")) & (F.col("blk_a") <= F.col("blk_b"))
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            # itertuples, not iterrows: no per-row Series construction
            # (rows here are block pairs, so counts are tiny, but the
            # kernel shouldn't model the slow idiom)
            for row in pdf.itertuples(index=False):
                ids_a = np.array([r["id"] for r in row.rows_a], dtype=np.int64)
                mat_a = np.array([r["vec"] for r in row.rows_a], dtype=np.float64)
                ids_b = np.array([r["id"] for r in row.rows_b], dtype=np.int64)
                mat_b = np.array([r["vec"] for r in row.rows_b], dtype=np.float64)
                # same f64 formula as the oracle: 1 - dot/(|a||b|)
                dots = mat_a @ mat_b.T
                norms = np.outer(
                    np.linalg.norm(mat_a, axis=1), np.linalg.norm(mat_b, axis=1)
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    dist = 1.0 - dots / norms
                if row.blk_a == row.blk_b:
                    sel = ids_a[:, None] < ids_b[None, :]
                else:
                    # distinct blocks → every unordered pair appears in
                    # exactly this one block-pair row; normalize order
                    sel = np.ones_like(dist, dtype=bool)
                sel &= dist < threshold + margin
                ii, jj = np.nonzero(sel)
                lo = np.minimum(ids_a[ii], ids_b[jj])
                hi = np.maximum(ids_a[ii], ids_b[jj])
                yield pd.DataFrame({"id_a": lo, "id_b": hi, "dist": dist[ii, jj]})

    scored = block_pairs.mapInPandas(score, "id_a long, id_b long, dist double")
    if round_digits is not None:
        scored = scored.withColumn("dist", F.round("dist", round_digits))
    return scored.where(F.col("dist") < threshold).select("id_a", "id_b", "dist")


def ngram_overlap(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 5,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    probe_id: str = "probe_id",
    probe_text: str = "probe_text",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 word
    n-gram with any probe (eval/benchmark) text.

    Returns DF[probe_id, doc_id, n_shared] — one row per contaminated
    (probe, doc) pair with the count of distinct shared n-grams.

    Scale shape: the probe side is the small side by definition (eval
    sets are thousands of rows vs a 100 TB corpus) — its exploded
    n-gram set broadcasts, so the corpus is ONE pass: explode
    n-grams → broadcast-hash-join → count per pair. The corpus's
    exploded n-grams never shuffle; only matched (probe, doc, gram)
    hits reach the aggregate. The standard n-gram-overlap
    decontamination used by LLM training pipelines (e.g. the
    GPT-3/PaLM 13-gram rule — `n` is the knob).
    """
    c = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(F.col(corpus_text), n))).alias("gram"),
    )
    p = probes.select(
        F.col(probe_id).alias("probe_id"),
        F.explode(F.array_distinct(word_shingles(F.col(probe_text), n))).alias("gram"),
    )
    return (
        c.join(F.broadcast(p), "gram")
        .groupBy("probe_id", "doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )


def exact_substring_window_stats(
    docs: DataFrame,
    window: int = 50,
    stride: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document exact-substring duplication stats — the bounded,
    distributable approximation of suffix-array ExactSubstr dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a substring duplicated across (or within)
    documents is detected when any of its strided ``window``-char
    alignments repeats.

    Returns DF[id_col, n_windows, n_repeated, repeated_frac] — every
    input document keeps a row (short docs: 0 windows).

    Plan: ONE scan exploding ~len/stride windows per doc, hashed to
    xxhash64 IN THE PROJECTION (8-byte keys shuffle, window text never
    does — the repetition_scores rule); global occurrences per hash
    come from a COUNT window over the hash (one shuffle on h, no
    second scan and no count-table join — the join form re-scanned
    the corpus and re-built every window; measured 1.02 → 0.53 s at
    sf0.1, identical results), then one per-doc groupBy.
    A 64-bit collision needs two distinct 50-char windows on the same
    hash (~3e-20 per pair) — negligible at any corpus size; the SQL
    oracle groups on the raw window text, locking the semantics.
    Suffix arrays find duplicates at ARBITRARY alignments; stride<=
    window/2 guarantees any duplicated run >= window+stride chars is
    caught (two runs share a strided alignment), which is the
    published operating point (50-char threshold).
    """
    from pyspark.sql import Window

    wins = docs.where(F.length(text_col) >= window).select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - window + 1, F.lit(stride))
        ).alias("pos"),
        F.col(text_col),
    ).select(
        id_col,
        # F.substring (Column pos) rather than an interpolated F.expr:
        # column names needing backticks must not break the parse
        # (ADVICE r4; matches the quoting convention in sources/)
        F.xxhash64(F.substring(F.col(text_col), F.col("pos"), F.lit(window))).alias("h"),
    )
    with_counts = wins.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = with_counts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("n_repeated"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_repeated", F.lit(0)).cast("long").alias("n_repeated"),
            F.round(
                F.coalesce("n_repeated", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
                4,
            ).alias("repeated_frac"),
        )
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 3,
    carry: list[str] | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """C4-style SPAN dedup (Raffel et al. 2020 §2.2 do it at
    three-sentence granularity; here the unit is a fixed
    ``span_words``-word segment): every exact duplicate occurrence of
    a segment ANYWHERE in the corpus is removed except the first —
    first = smallest (id, position) — and each document's text is
    reassembled from its surviving segments. This is the REWRITE
    member of the dedup family: dedup_exact/minhash drop whole
    documents, exact_substring_window_stats only measures
    duplication; this one edits the text, which is what C4's pipeline
    actually ships.

    Plan shape (r8 rewrite, VERDICT r7 "What's wrong #2" — the old
    corpus-wide ``row_number`` window put every occurrence of one
    segment into ONE task's window sort, and window partitions are
    not split by AQE skew handling, so a universal boilerplate span
    with billions of copies was a single-task sort/spill at 100 TB):
    one posexplode (pure JVM — sequence + slice + array_join), then
    TWO-PHASE FIRST-OCCURRENCE:

      1. ``groupBy(md5(seg)).agg(min(struct(id, seg_idx)))`` — a
         partial (map-side combinable) aggregation, so a hot segment
         collapses to one row per map task BEFORE the exchange; the
         shuffle key is the 128-bit fingerprint, not the segment
         text (the bloom_decontamination fingerprint discipline);
      2. an equi-join of the segments back to that one-row-per-
         segment table on the fingerprint — a sort-merge join whose
         probe-side skew AQE CAN split (unlike a window partition).

    Then one keyed groupBy(id) reassembles surviving segments.
    First = smallest ``struct(id, seg_idx)`` — identical tie
    semantics to the old ``orderBy(id, seg_idx)`` ``row_number``.
    An md5 collision would alias two distinct segments (probability
    ~2^-128-scale, negligible at any corpus size; the fixture-level
    oracle proves exactness at test scale). Returns one row per
    input row: ``carry`` columns + (id, deduped text under
    ``text_col``, n_segs, n_kept).
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    carry = carry or []
    # reserved internal AND output names — a carry/id column with one
    # of these would collide silently or fail with an
    # ambiguous-reference error downstream (ADVICE r8 + r9 review:
    # the output names n_segs/n_kept are as reserved as the
    # intermediates; same contract as operators/quantiles.py)
    reserved = {"_fp", "_first", "_keep", "seg", "seg_idx", "n_segs", "n_kept"}
    taken = reserved & {id_col, text_col, *carry}
    if taken:
        raise ValueError(
            f"column(s) {sorted(taken)} collide with dedup_spans "
            f"internal names {sorted(reserved)}"
        )
    segs = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(let(F.split(F.col(text_col), " "), lambda words: F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(words) / F.lit(span_words)).cast("int") - 1),
            lambda i: F.array_join(F.slice(words, i * span_words + 1, span_words), " "),
        ))).alias("seg_idx", "seg"),
    ).withColumn("_fp", F.md5(F.col("seg")))
    if checkpoint:
        # the segment stream fans into BOTH the first-occurrence
        # aggregate and the join probe side; without a barrier the
        # tokenize+Generate subtree executes twice (no shuffle sits
        # below it, so ReuseExchange can't help). Measured at sf0.1,
        # interleaved best-of-3: 1.87 s double-Generate vs 1.28 s
        # checkpointed — tokenize costs more than writing+reading the
        # segment stream locally. The trade at 100 TB: the checkpoint
        # is one corpus-sized local-disk materialization; where
        # executor disk (not CPU) is the constraint, pass
        # ``checkpoint=False`` and pay the second Generate instead.
        segs = segs.localCheckpoint(eager=False)
    firsts = segs.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col).alias("id"), F.col("seg_idx"))).alias("_first")
    )
    kept = segs.join(firsts, "_fp").withColumn(
        "_keep",
        (F.col(id_col) == F.col("_first.id"))
        & (F.col("seg_idx") == F.col("_first.seg_idx")),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            *[F.first(c).alias(c) for c in carry],
            F.count(F.lit(1)).alias("n_segs"),
            F.count_if(F.col("_keep")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(F.col("seg_idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias(text_col),
        )
    )
