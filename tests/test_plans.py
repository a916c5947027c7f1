"""Physical-plan regression tests — the BENCH.md plan audit, automated.

These lock in the scale-critical plan properties: a refactor that
silently turns a broadcast join into a nested loop, drops a pushdown,
or adds a full sort should fail HERE, not at 100 TB.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from cli_rag_spark.operators.embed import DEFAULT_DIM


def _plan(spark, sf_dir, name: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_never_full_sorts(spark, sf_dir):
    for name in ("cosine_topk", "hamming_topk", "quantized_topk", "mock_index_topk"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_inline_cosine_sites_embed_text_once(spark, sf_dir, untruncated_plans):
    # cosine_distance names its operand three times (dot and both
    # norms); the text embedding is staged as a column, so the plan
    # evaluates its DEFAULT_DIM md5s once per row, not three times
    for name in ("hybrid_rrf_topk", "maxsim_rerank"):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"md5\((cast\()?concat\(\d+\|, text#", plan)) == DEFAULT_DIM, name


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must not read all 11 lineitem columns
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert read_schema.count(",") < 10


def test_asof_is_a_window_not_a_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_click_attribution")
    assert "Window" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_no_nested_loops_anywhere_it_matters(spark, sf_dir):
    # these queries join real row sets — a nested loop is a scale bug
    # (1-row-broadcast topk queries are exempt: NLJ against one row is fine)
    for name in ("range_click_burst", "minhash_candidates", "knn_join_lsh",
                 "shipping_priority", "returned_item_customers", "orders_upsert_stats"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        if name != "minhash_candidates":  # its tiny stats frame may NLJ under AQE
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("shipping_priority", "top_customers_per_nation", "returned_item_customers"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_streaming_free_queries_have_single_wide_shuffle(spark, sf_dir):
    # sessionization: both window passes must reuse ONE (user_id) shuffle
    plan = _plan(spark, sf_dir, "sessionization")
    n_user_shuffles = plan.count("Exchange hashpartitioning(user_id")
    assert n_user_shuffles == 1, plan[:500]


def test_bad_sf_dir_is_clean_analysis_error(spark):
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND|Path does not exist"):
        entrymod.queries()["cosine_topk"](spark, "/root/testdata/sf-nope").count()


def test_filter_suite_stays_jvm_side(spark, sf_dir):
    # the quality/PII/mixture pipeline ops must plan as pure JVM maps:
    # a Python UDF sneaking in (BatchEvalPython / ArrowEvalPython)
    # would cut throughput ~10-100x at scale
    for name in ("gopher_quality_flags", "pii_redaction_stats", "mixture_sample_counts",
                 "session_log"):
        plan = _plan(spark, sf_dir, name)
        assert "EvalPython" not in plan, name
    # each doc is tokenized exactly once per token stream (text +
    # lowered text): the staged projections in with_quality_metrics
    # must survive CollapseProject — ~30 split() copies otherwise
    plan = _plan(spark, sf_dir, "gopher_quality_flags")
    assert plan.count("split(") == 2, plan.count("split(")
    # same staging rule for the PII query: the synthetic-tail concat
    # runs once and the scrub chain once (3 regexp_replace, one per
    # pattern) — not inlined into every count/length output
    plan = _plan(spark, sf_dir, "pii_redaction_stats")
    assert plan.count("regexp_replace") == 3, plan.count("regexp_replace")
    assert plan.count("concat(") == 1, plan.count("concat(")


def test_mixture_sample_is_pre_aggregation_filter(spark, sf_dir):
    # the sampling filter must run before the groupBy shuffle (a map-
    # side filter), never after it — at scale it prunes the shuffle
    plan = _plan(spark, sf_dir, "mixture_sample_counts")
    filter_pos = plan.index("Filter")
    exchange_pos = plan.index("Exchange")
    # executedPlan prints top-down: the Exchange node appears ABOVE
    # (before, textually) the Filter it consumes
    assert exchange_pos < filter_pos


def test_registry_priority_window_contract():
    # the external audit checks the FIRST 50 registry entries; the
    # priority head must stay exactly 50 names, all resolvable, and
    # must keep one representative of every operator family
    from cli_rag_spark.plans import registry

    names = list(registry.all_queries())
    assert len(registry._PRIORITY) == 50
    assert names[:50] == registry._PRIORITY
    window = set(registry._PRIORITY)
    family_reps = {
        "chunk": {"chunk_reference", "chunk_fixed", "chunk_clean_stats"},
        "pipeline": {"mock_index_topk"},
        "context": {"rag_context"},
        "multimodal": {"binary_metadata", "image_decode_stats", "audio_window_stats"},
        "vectors": {"cosine_topk", "quantized_topk", "ivf_topk"},
        "knn": {"knn_join", "knn_join_all", "knn_join_lsh"},
        "hamming": {"hamming_topk"},
        "dedup": {"dedup_exact_count", "minhash_candidates", "dedup_components"},
        "text": {"text_stats", "token_counts"},
        "relational": {"pricing_summary", "shipping_priority"},
        "search": {"bm25_topk", "hybrid_rrf_topk"},
        "temporal": {"asof_click_attribution", "range_click_burst"},
        "skew": {"salted_user_totals", "salted_top_events"},
        "training": {"hash_split_counts", "stratified_sample", "pack_chunks_stats"},
        "streaming": {"streaming_hourly_windows", "streaming_sessionization"},
        "approx": {"approx_distinct_users"},
        # every name here lives in the events pack (queries_events.py)
        # and is a valid family representative; which one holds the
        # slot rotates with the staleness fill (r6: anomalous_events /
        # event_transitions' first verdicts; r7: the r3-stale
        # event_type_stats / hourly_event_windows / funnel_counts)
        "events": {
            "sessionization",
            "session_log",
            "retention_cohorts",
            "anomalous_events",
            "event_transitions",
            "event_type_stats",
            "hourly_event_windows",
            "funnel_counts",
        },
    }
    for family, reps in family_reps.items():
        assert reps & window, f"family {family} has no representative in the 50-slot window"


def test_corpus_pack_plan_shapes(spark, sf_dir):
    # repetition_scores: gram shuffle carries 8-byte xxhash64 keys,
    # never gram text (the minhash narrow-shuffle rule)
    plan = _plan(spark, sf_dir, "repetition_scores")
    assert "xxhash64" in plan
    assert "md5" not in plan
    # one doc_id repartition serves all three aggregations (ledger #0c)
    assert plan.count("Exchange hashpartitioning") == 1
    # bpe_pair_stats: top-k must be TakeOrderedAndProject, not a
    # global sort of the full pair-frequency table
    plan = _plan(spark, sf_dir, "bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan
    # semantic_dedup: within-cluster scoring is the bucketed GEMM
    # kernel — pair rows must NEVER materialize as a join of vector
    # rows (no cartesian, no NLJ; the block join is an equi-join on
    # the bucket key)
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "mapInPandas" in plan.lower() or "MapInPandas" in plan


def test_semantic_dedup_gemm_matches_expression_form(spark, sf_dir):
    """The bucketed GEMM path must produce exactly the pairs the naive
    within-cluster expression form produces (same contract the
    unbucketed kernel locks against embedding_near_dups)."""
    from pyspark.sql import functions as F

    from cli_rag_spark.functions.vectors import cosine_distance
    from cli_rag_spark.operators.ann import assign_centroids, seed_centroids
    from cli_rag_spark.operators.dedup import embedding_near_pairs
    from cli_rag_spark.plans.queries_corpus import SEM_CENTROIDS, SEM_EPS
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cent = seed_centroids(emb, SEM_CENTROIDS)
    v = emb.join(assign_centroids(emb, cent), "vec_id").select("vec_id", "cid", "embedding")

    gemm = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs(
            v, SEM_EPS, bucket_col="cid", n_blocks=4
        ).collect()
    }
    a = v.select("cid", F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = v.select("cid", F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    naive = {
        (r.id_a, r.id_b)
        for r in a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine_distance(F.col("va"), F.col("vb")), 6) < SEM_EPS)
        .collect()
    }
    assert gemm == naive


def test_lm_perplexity_hybrid_broadcast_head(spark, sf_dir):
    """The Zipf mitigation (VERDICT r3 #4): both count-table joins go
    through broadcast_head_join, so the plan must carry broadcast
    joins for the gram heads and the head∪tail union — and never a
    cartesian. (At sf0.01 AQE broadcasts the tails too; at scale the
    tails degrade gracefully to shuffle joins while the hot keys stay
    map-side.)"""
    plan = _plan(spark, sf_dir, "lm_perplexity")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Union" in plan


def test_pq_family_plan_shapes(spark, sf_dir):
    """The r4 ANN additions must keep the PQ scale contract: every
    join broadcast (lists⋈probe, codes⋈LUT — the big side never
    shuffles for a join), the only wide exchanges the partial-agg
    groupBys / windows, and never a cartesian or sort-merge join. The
    IVFPQ artifact's lists carry their own codes: one scan of
    ``lists``, and no ``assign`` child read."""
    for name in ("ivfpq_topk", "knn_join_pq"):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        files = df.inputFiles()
        assert not any("/assign/" in f for f in files), name
        assert any("/lists/" in f for f in files), name
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert sum("codes#" in ln for ln in scans) == 1, name
    # zorder write: the clustering shuffle is ONE range partitioning
    plan = _plan(spark, sf_dir, "zorder_roundtrip")
    assert plan.count("Exchange rangepartitioning") == 1
    assert "CartesianProduct" not in plan


def test_r5_plan_shapes(spark, sf_dir):
    """Round-5 operators: the scale-critical plan properties."""
    # Matryoshka: both funnel stages are bounded heaps, never a full sort
    plan = _plan(spark, sf_dir, "matryoshka_topk")
    assert plan.count("TakeOrderedAndProject") >= 2
    # KS drift: the ECDF window runs over the reduced distinct-value
    # table — exactly one data-sized aggregate per metric arm, and the
    # totals frame joins as a broadcast
    plan = _plan(spark, sf_dir, "quality_drift_ks")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # token budget: one window partitioned by the group key, no
    # unpartitioned global window anywhere
    plan = _plan(spark, sf_dir, "token_budget_sample")
    assert "Window" in plan
    # covariance bridge: single-scan aggregate, no joins at all
    plan = _plan(spark, sf_dir, "embedding_covariance")
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, bad
    # TF-IDF: the query-side posting list joins broadcast (small side)
    plan = _plan(spark, sf_dir, "tfidf_cosine_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pca_covariance_shuffle_is_dim_bounded(spark, sf_dir):
    """The Gram reduce must shuffle keyed partials (d²+d+1 positions),
    never row data: the exchange hashes on `pos` after the mapInPandas
    stage."""
    from cli_rag_spark.operators.pca import gram_partials
    from cli_rag_spark.sources.documents import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    flat = gram_partials(emb, "embedding", 64).select(
        F.posexplode(F.col("gram")).alias("pos", "val")
    ).groupBy("pos").agg(F.sum("val"))
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(pos" in plan


def test_mining_pack_plan_shapes(spark, sf_dir):
    # setsim: prefix/verify joins are all equi-joins — a regression to
    # an unguarded cartesian would be the classic setsim scale-killer
    plan = _plan(spark, sf_dir, "setsim_pairs")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad

    # heavy hitters: candidates come from the python prefilter pass
    # (mapInPandas) and confirm via a BROADCAST join — the full token
    # stream must never hash-shuffle unfiltered
    plan = _plan(spark, sf_dir, "heavy_hitter_terms")
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan

    # bloom: the membership test is codegen bit arithmetic on the
    # broadcast bitmap (shiftright), not a python UDF; the exact
    # confirm join stays an equi-join
    plan = _plan(spark, sf_dir, "bloom_decontamination")
    assert "shiftright" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    # weighted sample: global top-n must be TakeOrderedAndProject
    # (per-partition heaps), never a full global sort
    plan = _plan(spark, sf_dir, "weighted_sample_stats")
    assert "TakeOrderedAndProject" in plan


def test_late_r5_plan_shapes(spark, sf_dir):
    # fuzzy join: candidates come from the gram equi-join (hash/sort
    # join), never a cartesian; the only nested-loop is the BOUNDED
    # broadcast short-string fallback; verify is codegen levenshtein
    plan = _plan(spark, sf_dir, "fuzzy_name_pairs")
    assert "levenshtein" in plan
    assert "CartesianProduct" not in plan

    # PSI: one partial-agg shuffle on the bin id; the fold is an
    # expression (aggregate over sort_array), not a python stage
    plan = _plan(spark, sf_dir, "quality_drift_psi")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_latest_r5_plan_shapes(spark, sf_dir):
    # anomaly gate: the per-user moment table joins back via BROADCAST
    # (never a shuffle of the event stream against itself)
    plan = _plan(spark, sf_dir, "anomalous_events")
    assert "BroadcastHashJoin" in plan

    # rerank funnel: both stages are bounded heaps, never full sorts
    plan = _plan(spark, sf_dir, "maxsim_rerank")
    assert "TakeOrderedAndProject" in plan

    # transitions: ONE user_id exchange serves the lead window
    plan = _plan(spark, sf_dir, "event_transitions")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_scale_pack_plan_shapes(spark, sf_dir):
    # skew profile: the data-sized scan reads ONLY the key column
    # (column pruning) and nothing nested-loops
    plan = _plan(spark, sf_dir, "key_skew_stats")
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_custkey" in read_schema and read_schema.count(",") == 0
    assert "CartesianProduct" not in plan

    # Bloom runtime-filter join: the codegen membership test (k
    # shiftright bit probes) must sit in the plan BEFORE the exact
    # join, and the segment filter must reach the customer scan
    plan = _plan(spark, sf_dir, "bloom_join_stats")
    assert "shiftright" in plan
    assert any(
        "c_mktsegment" in seg[:300] for seg in plan.split("PushedFilters")[1:]
    )

    # CUSUM: windowed prefix sums over the group partition — one
    # hash exchange on the group key serves every window
    plan = _plan(spark, sf_dir, "cusum_changepoints")
    assert "Window" in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(g#") <= 1

    # LPA sizes: bounded top-k, no full sort; label table feeds via
    # checkpoints so no plan doubling survives to the final round.
    # Shuffle fusion (r7): each round's single REPARTITION_BY_COL on
    # dst serves both the (dst,label) weight sum and the dst argmax —
    # neither aggregate may insert its own exchange on top of it
    plan = _plan(spark, sf_dir, "lp_communities")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("REPARTITION_BY_COL") == 2  # one per round
    # the (dst,label) weight-sum aggregate must NOT insert its own
    # exchange (its clustering is satisfied by the dst repartition) —
    # an exchange keyed on (node, label) is the unfused signature
    import re as _re

    agg_exchanges = _re.findall(
        r"Exchange hashpartitioning\(node\d*#\d+L?, label", plan
    )
    assert agg_exchanges == [], agg_exchanges

    # bootstrap: replica fan-out is a Generate (map-side explode),
    # the draw chain is pure codegen — no Python stage anywhere
    plan = _plan(spark, sf_dir, "bootstrap_ci_revenue")
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    # k-core: the peel rounds run behind eager checkpoints (the
    # iterative-operator lineage discipline), so the final plan reads
    # from materialized RDDs — and nothing downstream cartesians
    plan = _plan(spark, sf_dir, "kcore_stats")
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan

    # novelty: the df-count side grows with the corpus — it must
    # NEVER broadcast (the 64 MB threshold estimate let AQE try at
    # sf0.1 in a long-lived JVM and blew the driver heap); the merge
    # hint pins sort-merge
    plan = _plan(spark, sf_dir, "ngram_novelty")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_r7_plan_shapes(spark, sf_dir):
    # MMR: exactly ONE keyed shuffle — the groupBy(query_id) Arrow
    # stage must REUSE the kNN window's hashpartitioning(query_id)
    # (the broadcast join in between preserves it); the shortlist
    # stage's top-20 runs as a WindowGroupLimit pushdown, and the
    # only other exchange is the final presentation orderBy
    plan = _plan(spark, sf_dir, "mmr_rerank")
    assert "FlatMapGroupsInPandas" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning(query_id#") == 1
    assert "CartesianProduct" not in plan

    # dHash: hashing is a map stage over the payloads (no shuffle of
    # image bytes); the only exchanges key on the narrow hash string
    plan = _plan(spark, sf_dir, "image_dhash_groups")
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning(dhash#" in plan
    assert "Exchange hashpartitioning(payload" not in plan
    assert "Exchange hashpartitioning(doc_id" not in plan

    # sliding chunker: per-row Generate (explode), zero Python, no
    # shuffle before the presentation sort
    plan = _plan(spark, sf_dir, "chunk_sliding")
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_orc_roundtrip_pushdown(spark, sf_dir):
    # the n_chars predicate must reach the ORC scan as a pushed
    # filter — the format offers the same pushdown contract as
    # parquet, which is why it's worth serving
    plan = _plan(spark, sf_dir, "orc_roundtrip_stats")
    assert "OrcScan" in plan or "Format: ORC" in plan or "orc" in plan.lower()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1][:200]
    assert "n_chars" in pushed


def test_late_r7_plan_shapes(spark, sf_dir):
    # audio fingerprint: hashing is a map stage; the audio bytes
    # never shuffle — only the 15-char contour key does
    plan = _plan(spark, sf_dir, "audio_fingerprint_groups")
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning(afp#" in plan
    assert "Exchange hashpartitioning(payload" not in plan

    # hard negatives: query side broadcasts (the index never moves, it
    # is scored in place by knn_join's GEMM), positives exclude via a
    # real anti join, ranking via one window
    plan = _plan(spark, sf_dir, "hard_negative_mining")
    assert "MapInPandas" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # Q21 shape: the double correlation is semi + anti keyed joins on
    # the pre-aggregated grain — no nested-loop, no cartesian
    plan = _plan(spark, sf_dir, "waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_session_r7b_plan_shapes(spark, sf_dir):
    # span dedup (r8 rewrite, VERDICT r7 What's-wrong #2): segments
    # are born in a pure-JVM Generate (sequence+slice posexplode);
    # first-occurrence is the two-phase groupBy(md5(seg)) — the plan
    # MUST show a partial min BEFORE the fingerprint exchange (map-
    # side combine is what makes a billion-copy boilerplate span
    # collapse to one row per map task) and MUST NOT contain a
    # corpus-wide Window (window partitions are not AQE-skew-split)
    plan = _plan(spark, sf_dir, "span_dedup_stats")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert plan.index("partial_min") > plan.index("Exchange hashpartitioning(_fp"), \
        "partial min must sit below (after in tree order) the _fp exchange"
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    # the judged form checkpoints the segment stream (it feeds both
    # the aggregate and the probe side), so the Generate hides inside
    # the ExistingRDD scan; the checkpoint=False spelling must still
    # show segments born in one pure-JVM Generate
    from cli_rag_spark.operators.dedup import dedup_spans
    from cli_rag_spark.plans.queries_dedup import SPAN_W
    from cli_rag_spark.sources.documents import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    raw = dedup_spans(docs, span_words=SPAN_W, carry=["source"], checkpoint=False)
    rplan = raw._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in rplan and "Window" not in rplan

    # Q17 shape: the per-part average is decorrelated to a broadcast
    # hash join on the tiny one-brand aggregate — never a shuffle of
    # the fact table per correlated reference
    plan = _plan(spark, sf_dir, "small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # Q22 shape: the global scalar rides a 1-row broadcast
    # (BroadcastNestedLoopJoin on a single row is the cheap form);
    # the recent-orders exclusion is a real anti join
    plan = _plan(spark, sf_dir, "idle_rich_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_hits_plan_broadcast_iterations(spark):
    # with broadcast_ranks the per-iteration rank⋈edges joins are all
    # broadcast hash joins — no sort-merge exchange of the edge table
    from cli_rag_spark.operators.pagerank import hits

    edges = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (2, 11, 1.0)], ["src", "dst", "w"]
    )
    out = hits(edges, weight="w", iters=2, broadcast_ranks=True, checkpoint=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_session_r8_plan_shapes(spark, sf_dir):
    # curriculum deciles: the bucket assignment joins the histogram
    # back as a BROADCAST (the histogram is <=1001 rows by the score
    # grid), and the corpus never cartesians or sort-merges
    plan = _plan(spark, sf_dir, "curriculum_buckets")
    assert "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad

    # MAD gate: two histogram passes, medians ride broadcast joins —
    # same constraints
    plan = _plan(spark, sf_dir, "mad_outlier_stats")
    assert "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, bad

    # decayed popularity: the 1-row anchor is the ONLY nested-loop
    # member (broadcast 1-row crossJoin); the aggregate partial-aggs
    plan = _plan(spark, sf_dir, "decayed_item_popularity")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row anchor
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan

    # source overlap: the self-join is PINNED sort-merge on the md5
    # FINGERPRINT (both sides grow with the corpus — the ngram_novelty
    # broadcast-blowup discipline; shingle text never shuffles) and
    # the small size tables ride broadcasts
    plan = _plan(spark, sf_dir, "source_overlap_matrix")
    assert "SortMergeJoin [fp" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # truncation accounting: one scan, partial agg before the source
    # exchange, a pruned 2-column read
    plan = _plan(spark, sf_dir, "token_truncation_stats")
    assert "partial_count" in plan
    assert "Exchange hashpartitioning(source" in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" not in read_schema


def test_session_r8b_plan_shapes(spark, sf_dir):
    # degree distribution: narrow-key partial aggs only — no cartesian,
    # no nested loop; the distinct pair aggregate combines map-side
    plan = _plan(spark, sf_dir, "degree_distribution")
    assert "partial_count" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad

    # table profile: per-column pruned scans, never the Expand of the
    # one-pass multi-distinct rewrite
    plan = _plan(spark, sf_dir, "table_profile")
    assert "Expand" not in plan


def test_session_r8c_plan_shapes(spark, sf_dir):
    # per-source quantile profile: one histogram pass serves all three
    # points — a single aggregate over the CDF, NO join of any kind
    # (the one-pass contract COVERAGE.md claims)
    plan = _plan(spark, sf_dir, "source_quality_quantiles")
    assert "Join" not in plan, plan[:400]

    # winsorized aggregates: the [p1, p99] bounds table is per-group
    # tiny and must ride a broadcast join back onto the cents stream
    plan = _plan(spark, sf_dir, "winsorized_revenue_stats")
    assert "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, bad
