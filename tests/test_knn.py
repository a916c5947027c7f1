"""The exact kNN kernel against the DuckDB replay the judged oracles
use — SURVEY §5.2 layer 3 cross-engine checking."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from cli_rag_spark.operators.knn import knn_join
from cli_rag_spark.sources.documents import load_table


def _queries(emb, n):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _duck(sf_dir: str | None = None):
    """A DuckDB connection with the fixture's ``embeddings`` view."""
    con = duckdb.connect()
    if sf_dir is not None:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
        )
    return con


def _values(rows, id_col: str, vec_col: str) -> str:
    """(id, vector) rows as a DuckDB table expression."""
    body = ", ".join(f"({i}, {[float(x) for x in v]!r}::DOUBLE[])" for i, v in rows)
    return f"SELECT * FROM (VALUES {body}) t({id_col}, {vec_col})"


_FIXTURE_INDEX = "SELECT vec_id, embedding FROM embeddings"


def _fixture_queries(n: int) -> str:
    return (
        "SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings "
        f"WHERE vec_id < {n}"
    )


def _duck_distances(queries_sql: str, index_sql: str, exclude_self: bool, digits: int) -> str:
    """The judged oracles' distance table: rounded
    ``1 - list_cosine_similarity`` per (query, index row)."""
    self_cut = "WHERE e.vec_id <> q.query_id" if exclude_self else ""
    return f"""
        q AS ({queries_sql}), e AS ({index_sql}), d AS (
            SELECT q.query_id, e.vec_id,
                   round(1 - list_cosine_similarity(
                       e.embedding::DOUBLE[], q.query_vec::DOUBLE[]), {digits}) AS dist
            FROM q, e {self_cut}
        )"""


def _duck_knn(con, queries_sql, index_sql, k, exclude_self=False, digits=6):
    """Sorted ``(query_id, vec_id, dist, rank)`` rows of the DuckDB
    kNN replay: each query's distances numbered by (dist, vec_id)."""
    return sorted(con.execute(f"""
        WITH {_duck_distances(queries_sql, index_sql, exclude_self, digits)}
        SELECT query_id, vec_id, dist, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, vec_id) AS rank
            FROM d
        ) WHERE rank <= {k}
    """).fetchall())


def test_knn_join_matches_duckdb_replay(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries(emb, 25)
    want = _duck_knn(
        _duck(sf_dir), _fixture_queries(25), _FIXTURE_INDEX, 4, exclude_self=True
    )
    assert len(want) == 25 * 4
    assert sorted(map(tuple, knn_join(q, emb, k=4, exclude_self=True).collect())) == want


def test_gemm_multiblock(spark, sf_dir):
    """More query blocks than one: block × partition scoring must not
    duplicate or drop candidates."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(7)
    q = _queries(emb, 60)
    out = knn_join(q, emb, k=2, queries_per_block=16)
    rows = out.collect()
    assert len(rows) == 60 * 2
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2] for v in per_q.values())
    # self-match is rank 1 at dist 0 when not excluded
    assert all(r["dist"] == 0.0 for r in rows if r["rank"] == 1 and r["vec_id"] == r["query_id"])


def test_lsh_signature_matches_duckdb_replay(spark, sf_dir):
    """The GEMM signature must produce bit-identical sign bits to the
    spelled-out dots of the DuckDB LSH oracles."""
    from cli_rag_spark.operators.knn import _hyperplanes, lsh_signature
    from cli_rag_spark.plans.queries_vectors import (
        LSH_DIM,
        LSH_PLANES,
        LSH_SEED,
        _lsh_scored_ctes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes(LSH_DIM, LSH_PLANES, seed=LSH_SEED)
    got = {
        r["vec_id"]: list(r["sig"])
        for r in emb.select(
            "vec_id", lsh_signature(F.col("embedding"), planes).alias("sig")
        ).collect()
    }
    bits = ", ".join(f"b{j}" for j in range(LSH_PLANES))
    want = {
        vid: list(sig)
        for vid, sig in _duck(sf_dir).execute(
            f"WITH {_lsh_scored_ctes()} SELECT vec_id, [{bits}] FROM sig"
        ).fetchall()
    }
    assert len(want) > 0
    assert got == want


def test_lsh_recall_against_exact(spark, sf_dir):
    """The approximate path must actually retrieve neighbors: mean
    recall@3 vs the exact join, over all queries, above a floor that
    the seeded planes reliably clear on the fixture."""
    from cli_rag_spark.operators.knn import knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries(emb, 50)
    exact = knn_join(q, emb, k=3)
    approx = knn_join_lsh(q, emb, k=3, dim=64, n_planes=16, n_bands=4, seed=42)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(e[k] & a.get(k, set())) / len(e[k]) for k in e]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, mean_recall


def test_gemm_max_queries_guard(spark, sf_dir):
    """The driver collect is capped: exceeding max_queries must raise
    with a pointer at the LSH path, and a cap-sized run must still
    match the DuckDB replay exactly."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries(emb, 25)
    with pytest.raises(ValueError, match="knn_join_lsh"):
        knn_join(q, emb, k=2, max_queries=10)
    want = _duck_knn(_duck(sf_dir), _fixture_queries(25), _FIXTURE_INDEX, 2)
    assert sorted(map(tuple, knn_join(q, emb, k=2, max_queries=25).collect())) == want


def test_gemm_tie_boundary_matches_window_path(spark):
    """Ties at the kth distance: duplicate vectors mean several
    candidates share the kth rounded distance; the batch-local cut
    must keep every tied candidate so the global (dist, id) tiebreak
    matches the DuckDB replay's window. Small batches force the tie to
    straddle batch boundaries."""
    vecs = [
        (i, [1.0, 0.0]) for i in range(6)      # identical: all dist 0 to [1,0]
    ] + [
        (i, [0.0, 1.0]) for i in range(6, 12)  # identical: orthogonal
    ]
    index = spark.createDataFrame(vecs, ["vec_id", "embedding"]).repartition(5)
    q = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "query_vec"])
    b = sorted(map(tuple, knn_join(q, index, k=3).collect()))
    assert b == _duck_knn(
        _duck(), _values([(100, [1.0, 0.0])], "query_id", "query_vec"),
        _values(vecs, "vec_id", "embedding"), 3,
    )
    # the id tiebreak must pick the SMALLEST ids among the dist-0 ties
    assert [r[1] for r in sorted(b, key=lambda r: r[3])] == [0, 1, 2]


def test_gemm_heavy_ties_across_batches_and_blocks(spark, sf_dir):
    """Many queries, distances rounded to 2 digits (heavily tied) and
    self-matches excluded: with the index in 7 partitions and 16-query
    blocks, kth-distance ties straddle both batch and query-block
    boundaries, and knn_join must still return exactly the DuckDB
    replay's rows."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(7)
    q = _queries(emb, 60)
    a = _duck_knn(
        _duck(sf_dir), _fixture_queries(60), _FIXTURE_INDEX, 5,
        exclude_self=True, digits=2,
    )
    b = sorted(map(tuple, knn_join(
        q, emb, k=5, exclude_self=True, round_digits=2, queries_per_block=16
    ).collect()))
    assert len(a) == 60 * 5
    assert a == b


def test_gemm_zero_norm_vectors_dont_poison_batch(spark):
    """A zero-norm index vector scores NaN against every query; the
    batch-local cut must still keep the finite neighbors (a NaN kth
    threshold would discard the whole batch) and drop the NaN rows."""
    index = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        ["vec_id", "embedding"],
    ).repartition(3)  # small batches: some contain the zero vector
    q = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "query_vec"])
    rows = sorted(knn_join(q, index, k=3).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in rows] == [1, 3, 2]
    assert all(r["vec_id"] != 0 for r in rows)


def test_matryoshka_funnel_recall_and_guards(spark, sf_dir):
    """Full-width rerank restores most of the exact top-k even through
    a 16/64-dim coarse stage; guards reject bad shapes."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from cli_rag_spark.operators.topk import matryoshka_topk, topk
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    exact = {r["vec_id"] for r in topk(emb, qv, 5).collect()}
    # fixture embeddings are random — a 16/64 prefix carries only 1/4
    # of the signal (an MRL-TRAINED prefix concentrates it, which is
    # the operator's deployment premise), so the shortlist must be
    # generous for high recall on this data: 10% shortlist -> >=0.8
    mrl = {
        r["vec_id"]
        for r in matryoshka_topk(emb, qv, 5, coarse_dims=16, shortlist=200).collect()
    }
    assert len(mrl & exact) >= 4  # recall@5 >= 0.8 through the funnel
    # degenerate funnel = exact search: shortlist >= N, full coarse width
    n = emb.count()
    full = {
        r["vec_id"]
        for r in matryoshka_topk(emb, qv, 5, coarse_dims=64, shortlist=n).collect()
    }
    assert full == exact
    with _pytest.raises(ValueError, match="coarse_dims"):
        matryoshka_topk(emb, qv, 5, coarse_dims=0, shortlist=10)
    with _pytest.raises(ValueError, match="shortlist"):
        matryoshka_topk(emb, qv, 5, coarse_dims=16, shortlist=3)


# ----------------------------------------------------- maxsim (late interaction)

def test_maxsim_single_qpart_equals_topk(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from cli_rag_spark.operators.topk import maxsim_topk, topk

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=4)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "embedding"])
    q = [1.0, 0.5, -0.25, 0.125]
    qparts = spark.createDataFrame([(0, q)], ["qpart_id", "qvec"])
    # one query part and one part per doc: maxsim degenerates to topk
    got = [(r.doc_id, r.maxsim_dist) for r in maxsim_topk(df, qparts, 5).collect()]
    want = [
        (r.doc_id, r.dist)
        for r in topk(df, q, 5, id_col="doc_id").collect()
    ]
    assert got == want


def test_maxsim_picks_best_chunk_per_query_part(spark):
    from pyspark.sql import functions as F
    from cli_rag_spark.operators.topk import maxsim_topk

    e1, e2 = [1.0, 0.0], [0.0, 1.0]
    parts = spark.createDataFrame(
        [
            (1, e1), (1, e2),   # doc 1 covers both directions
            (2, e1), (2, e1),   # doc 2 only covers e1
        ],
        ["doc_id", "embedding"],
    )
    qparts = spark.createDataFrame(
        [(0, e1), (1, e2)], ["qpart_id", "qvec"]
    )
    got = {r.doc_id: r.maxsim_dist for r in maxsim_topk(parts, qparts, 2).collect()}
    # doc 1: best dist 0 for both query parts; doc 2: 0 for e1, 1 for e2
    assert got[1] == 0.0 and got[2] == 1.0


def test_maxsim_k_guard(spark):
    import pytest
    from cli_rag_spark.operators.topk import maxsim_topk

    df = spark.createDataFrame([(1, [1.0])], ["doc_id", "embedding"])
    qp = spark.createDataFrame([(0, [1.0])], ["qpart_id", "qvec"])
    with pytest.raises(ValueError):
        maxsim_topk(df, qp, 0)


def test_topk_recall_semantics(spark):
    """Exact side drives the output: a query the approximate side
    missed ENTIRELY still appears with recall 0.0 (the left-join
    direction that doesn't overstate recall); perfect and partial
    overlap count exactly."""
    from cli_rag_spark.operators.knn import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12),
         (2, 20), (2, 21), (2, 22),
         (3, 30), (3, 31), (3, 32)],
        ["query_id", "vec_id"],
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12),   # perfect
         (2, 20), (2, 99), (2, 98)],  # 1 of 3; query 3 missing entirely
        ["query_id", "vec_id"],
    )
    rows = {r["query_id"]: r for r in topk_recall(exact, approx, k=3).collect()}
    assert rows[1]["n_hits"] == 3 and rows[1]["recall"] == 1.0
    assert rows[2]["n_hits"] == 1 and rows[2]["recall"] == round(1 / 3, 4)
    assert rows[3]["n_hits"] == 0 and rows[3]["recall"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        topk_recall(exact, approx, k=0)


def test_rank_metrics_semantics(spark):
    from cli_rag_spark.operators.knn import rank_metrics

    # q1: gold {10, 11, 12}; retrieval ranks 10 at 2, 12 at 3 -> 2 hits,
    #     first_rel_rank 2, rr 0.5
    # q2: gold {20}; retrieval top-3 misses it entirely -> 0 hits, NULL
    #     rank, rr 0.0
    # q3: gold {30}; rank-4 hit is OUTSIDE k=3 -> total miss at k
    results = spark.createDataFrame(
        [
            (1, 99, 1), (1, 10, 2), (1, 12, 3),
            (2, 98, 1), (2, 97, 2), (2, 96, 3),
            (3, 95, 1), (3, 94, 2), (3, 93, 3), (3, 30, 4),
        ],
        "query_id long, vec_id long, rank long",
    )
    relevance = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (3, 30)],
        "query_id long, vec_id long",
    )
    rows = {r["query_id"]: r for r in rank_metrics(results, relevance, k=3).collect()}
    assert rows[1]["n_rel"] == 3 and rows[1]["hits_at_k"] == 2
    assert rows[1]["precision_at_k"] == 0.666667
    assert rows[1]["first_rel_rank"] == 2 and rows[1]["rr"] == 0.5
    assert rows[2]["hits_at_k"] == 0 and rows[2]["first_rel_rank"] is None
    assert rows[2]["rr"] == 0.0
    assert rows[3]["hits_at_k"] == 0 and rows[3]["rr"] == 0.0  # rank 4 > k


def test_rank_metrics_k_guard(spark):
    import pytest

    from cli_rag_spark.operators.knn import rank_metrics

    df = spark.createDataFrame([(1, 1, 1)], "query_id long, vec_id long, rank long")
    rel = df.select("query_id", "vec_id")
    with pytest.raises(ValueError, match="k"):
        rank_metrics(df, rel, k=0)


def test_hard_negatives_excludes_before_ranking(spark):
    from cli_rag_spark.operators.knn import hard_negatives

    # 1-D embeddings: cosine distance is 0 for same sign, 2 for
    # opposite — use 2-D to get distinct distances
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)]

    queries = spark.createDataFrame(
        [(100, vec(0.0))], "query_id long, query_vec array<double>"
    )
    index = spark.createDataFrame(
        [(i, vec(0.05 * i)) for i in range(1, 7)],
        "vec_id long, embedding array<double>",
    )
    positives = spark.createDataFrame([(100, 1), (100, 2)], "query_id long, vec_id long")
    rows = hard_negatives(queries, index, positives, k=3).orderBy("neg_rank").collect()
    # nearest overall are 1,2 (positives, excluded) -> negatives 3,4,5
    assert [r["vec_id"] for r in rows] == [3, 4, 5]
    assert [r["neg_rank"] for r in rows] == [1, 2, 3]
    # exclusion happens BEFORE ranking: 3 negatives despite 2 positives
    # sitting nearer than all of them


def test_hard_negatives_excludes_self(spark):
    from cli_rag_spark.operators.knn import hard_negatives

    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    index = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    empty = spark.createDataFrame([], "query_id long, vec_id long")
    rows = hard_negatives(queries, index, empty, k=5).collect()
    assert [r["vec_id"] for r in rows] == [2]


def test_hard_negatives_cut_matches_duckdb_replay(spark):
    """hard_negatives ranks knn_join's top-(k + P), P the largest
    positive count of any query, so it must equal the DuckDB replay
    that anti-joins the positives from EVERY distance: one query has
    no positive, and the other's positive 4 ties the (k + P)-th
    distance, where the id tiebreak keeps 5 and cuts 6."""
    import math

    from cli_rag_spark.operators.knn import hard_negatives

    angles = {1: 0.1, 2: 0.2, 3: 0.3, 4: 0.3, 5: 0.3, 6: 0.3, 7: 0.5}
    vecs = [(i, [math.cos(t), math.sin(t)]) for i, t in angles.items()]
    qs = [(100, [1.0, 0.0]), (101, [1.0, 0.0])]
    pos = [(101, 1), (101, 4)]
    index = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(qs, "query_id long, query_vec array<double>")
    positives = spark.createDataFrame(pos, "query_id long, vec_id long")
    got = sorted(map(tuple, hard_negatives(queries, index, positives, k=3).collect()))
    pos_sql = ", ".join(f"({q}, {v})" for q, v in pos)
    want = sorted(_duck().execute(f"""
        WITH {_duck_distances(_values(qs, "query_id", "query_vec"),
                              _values(vecs, "vec_id", "embedding"), True, 6)},
        pos AS (SELECT * FROM (VALUES {pos_sql}) t(query_id, vec_id)),
        neg AS (
            SELECT * FROM d WHERE NOT EXISTS (
                SELECT 1 FROM pos
                WHERE pos.query_id = d.query_id AND pos.vec_id = d.vec_id)
        )
        SELECT query_id, vec_id, dist, neg_rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, vec_id) AS neg_rank
            FROM neg
        ) WHERE neg_rank <= 3
    """).fetchall())
    assert [(r[0], r[1]) for r in got] == [
        (100, 1), (100, 2), (100, 3), (101, 2), (101, 3), (101, 5)
    ]
    assert got == want


def test_hard_negatives_k_guard(spark):
    import pytest as _pytest

    from cli_rag_spark.operators.knn import hard_negatives

    df = spark.createDataFrame([(1, [1.0])], "query_id long, query_vec array<double>")
    idx = spark.createDataFrame([(2, [1.0])], "vec_id long, embedding array<double>")
    pos = spark.createDataFrame([], "query_id long, vec_id long")
    with _pytest.raises(ValueError, match="k"):
        hard_negatives(df, idx, pos, k=0)


def test_ndcg_semantics(spark):
    import math

    from cli_rag_spark.operators.knn import ndcg_at_k

    # q1: gold {10,11,12}; hits at ranks 1 and 3 (11 missed)
    # q2: perfect top-3 -> ndcg 1.0
    # q3: total miss -> 0.0; q4: hit at rank 4 is outside k=3
    results = spark.createDataFrame(
        [
            (1, 10, 1), (1, 99, 2), (1, 12, 3),
            (2, 20, 1), (2, 21, 2), (2, 22, 3),
            (3, 95, 1), (3, 94, 2), (3, 93, 3),
            (4, 92, 1), (4, 91, 2), (4, 90, 3), (4, 40, 4),
        ],
        "query_id long, vec_id long, rank long",
    )
    relevance = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12),
         (2, 20), (2, 21), (2, 22),
         (3, 30), (4, 40)],
        "query_id long, vec_id long",
    )
    rows = {r["query_id"]: r for r in ndcg_at_k(results, relevance, k=3).collect()}
    g = lambda r: 1.0 / math.log2(r + 1.0)  # noqa: E731
    want_q1 = round((g(1) + g(3)) / (g(1) + g(2) + g(3)), 6)
    assert rows[1]["ndcg"] == want_q1
    assert rows[1]["hits_at_k"] == 2 and rows[1]["n_rel"] == 3
    assert rows[2]["ndcg"] == 1.0
    assert rows[3]["ndcg"] == 0.0
    assert rows[4]["ndcg"] == 0.0  # rank 4 > k

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k"):
        ndcg_at_k(results, relevance, k=0)


# --- strategy auto-dispatch (r9) --------------------------------------


def test_choose_knn_strategy_pinned_choices():
    """Every branch of the selector pinned on a concrete shape
    (the choose_fuzzy_strategy test discipline)."""
    import pytest

    from cli_rag_spark.operators.knn import (
        GEMM_MAX_PAIR_OPS,
        GEMM_MAX_QUERIES,
        choose_knn_strategy,
    )

    # brute force is GEMM at every size inside its envelope, down to
    # one query against one row
    assert choose_knn_strategy(1, 1, 1) == "gemm"
    assert choose_knn_strategy(20, 2_000, 64) == "gemm"
    # all-pairs fixture shapes (sf0.01 and sf0.1)
    assert choose_knn_strategy(500, 500, 64) == "gemm"
    assert choose_knn_strategy(2_000, 2_000, 64) == "gemm"
    # corpus-scale: brute force out of envelope -> index strategies
    big_q, big_n = 10_000_000, 1_000_000_000
    assert big_q * big_n * 64 > GEMM_MAX_PAIR_OPS
    assert choose_knn_strategy(big_q, big_n, 64, ivf_available=True) == "ivf"
    assert choose_knn_strategy(big_q, big_n, 64, ivf_available=False) == "lsh"
    # driver-collect cap: a huge query side skips GEMM even when the
    # pair-ops envelope would allow it
    assert choose_knn_strategy(GEMM_MAX_QUERIES + 1, 100, 64) in ("ivf", "lsh")
    with pytest.raises(ValueError, match="non-negative"):
        choose_knn_strategy(-1, 10, 64)


def test_knn_join_auto_routes_gemm_on_fixture_allpairs(spark, sf_dir):
    """The judged query's shape routes to GEMM: the executed plan has
    the Arrow mapInPandas stage and NO crossJoin-window brute force."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["knn_join_auto"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "mapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_knn_join_auto_small_shape_gemm_plan_and_equivalence(spark, sf_dir):
    """A 5-query shape, far below any crossover, runs the GEMM kernel
    (the Arrow stage is in the plan, no cartesian product) and returns
    exactly knn_join's rows."""
    from cli_rag_spark.operators.knn import knn_join, knn_join_auto
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    auto = knn_join_auto(q, emb, k=3)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "CartesianProduct" not in plan
    want = {tuple(r) for r in knn_join(q, emb, k=3).collect()}
    assert {tuple(r) for r in auto.collect()} == want


def test_degenerate_rows_one_answer_on_every_route(spark):
    """NULL, zero-norm and NaN vectors have no cosine distance:
    knn_join, knn_join_auto at the default shape and at a hinted
    10,000 × 10,000 shape, and hard_negatives return the same rows —
    none for the degenerate index rows."""
    from cli_rag_spark.operators.knn import hard_negatives, knn_join_auto

    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    no_pos = spark.createDataFrame([], "query_id long, vec_id long")
    # 1 - 1/sqrt(1.01) and 1 - 1/sqrt(5), rounded to 6 digits
    want = {(1, 4, 0.004963, 1), (1, 2, 0.552786, 2)}
    for bad in (None, [0.0, 0.0], [float("nan"), 1.0]):
        idx = spark.createDataFrame(
            [(1, bad), (2, [1.0, 2.0]), (4, [1.0, 0.1])],
            "vec_id long, embedding array<double>",
        )
        for out in (
            knn_join(q, idx, k=2),
            knn_join_auto(q, idx, k=2),
            knn_join_auto(q, idx, k=2, n_queries=10_000, n_index=10_000),
            # the bad row carries the query's id: keep self rows, so
            # only its vector can drop it
            hard_negatives(q, idx, no_pos, k=2, exclude_self=False),
        ):
            assert {tuple(r) for r in out.collect()} == want
    # a degenerate QUERY yields no row
    idx = spark.createDataFrame(
        [(2, [1.0, 2.0]), (4, [1.0, 0.1])], "vec_id long, embedding array<double>"
    )
    dq = spark.createDataFrame(
        [(1, None), (3, [0.0, 0.0]), (5, [float("nan"), 1.0])],
        "query_id long, query_vec array<double>",
    )
    assert knn_join(dq, idx, k=2).collect() == []
    assert hard_negatives(dq, idx, no_pos, k=2).collect() == []


def test_knn_join_auto_ivf_path_with_validated_index(spark, sf_dir, tmp_path):
    """With a dim-validated persisted index and a shape past the GEMM
    envelope (forced via n_index hint), auto routes to IVF and matches
    knn_join_ivf run directly."""
    from cli_rag_spark.operators.ann import (
        build_ivf_index,
        ivf_index_ready,
        knn_join_ivf,
        read_ivf_index,
    )
    from cli_rag_spark.operators.knn import knn_join_auto
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_auto")
    build_ivf_index(emb, path, n_centroids=8)
    assert ivf_index_ready(spark, path, 8, 64)
    assert not ivf_index_ready(spark, path, 16, 64)   # wrong build params
    assert not ivf_index_ready(spark, path, 8, 128)   # wrong dimensionality
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # n_index hint pushes pair-ops past GEMM_MAX_PAIR_OPS: dispatch
    # decides on the numbers it is given (at 100 TB they come from
    # metadata), so the hint IS the production path
    auto = knn_join_auto(
        q, emb, k=3, n_index=10_000_000_000, ivf_path=path,
        n_centroids=8, n_probe=2,
    )
    direct = knn_join_ivf(
        q, read_ivf_index(spark, path, 8), k=3, n_centroids=8, n_probe=2,
        validate_cid=False,
    )
    assert {tuple(r) for r in auto.collect()} == {tuple(r) for r in direct.collect()}


def test_knn_join_auto_lsh_fallback_without_index(spark, sf_dir):
    """Same forced corpus-scale shape with NO index: falls back to LSH
    banding (plan has the band equi-join, no cartesian) with geometry
    from the corpus-sized rule (r13: default_lsh_geometry(n_index),
    not the old fixed 16/4)."""
    from cli_rag_spark.operators.knn import (
        default_lsh_geometry,
        knn_join_auto,
        knn_join_lsh,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    auto = knn_join_auto(q, emb, k=3, n_index=10_000_000_000)
    planes, bands = default_lsh_geometry(10_000_000_000)
    direct = knn_join_lsh(q, emb, k=3, dim=64, n_planes=planes, n_bands=bands)
    got = {tuple(r) for r in auto.collect()}
    assert got == {tuple(r) for r in direct.collect()}
    # every query collides with itself (identical vector -> identical
    # signature at any geometry), so the rule's tall bit budget at the
    # hinted 1e10 rows still returns rows on the fixture
    assert got, "rule-geometry LSH fallback returned nothing"
    # explicit geometry still pins the legacy behavior
    legacy = knn_join_auto(
        q, emb, k=3, n_index=10_000_000_000, lsh_planes=16, lsh_bands=4
    )
    legacy_direct = knn_join_lsh(q, emb, k=3, dim=64, n_planes=16, n_bands=4)
    assert {tuple(r) for r in legacy.collect()} == {
        tuple(r) for r in legacy_direct.collect()
    }
    # explicit planes NOT divisible by the legacy 4 bands, bands unset:
    # must RAISE (ADVICE r13 — the r13 rule change briefly degraded
    # this to a silent single full-width band), not silently change
    # the collision geometry
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        knn_join_auto(q, emb, k=3, n_index=10_000_000_000, lsh_planes=18)


def test_knn_join_auto_dim_discovery_guards(spark):
    """r9 review: NULL/empty embeddings must not zero the pair-ops
    model (dim=0 would route corpus-scale shapes to the GEMM brute
    force) — discovery skips NULL rows and raises on empty
    vectors; an index with no scorable rows returns empty."""
    import pytest

    from cli_rag_spark.operators.knn import knn_join_auto

    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    # first row NULL, real dim discoverable from the second
    idx = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    out = knn_join_auto(q, idx, k=1)
    assert out.count() == 1  # the non-null row scores
    # all embeddings empty arrays -> hard error, not a silent 'exact'
    bad = spark.createDataFrame(
        [(1, []), (2, [])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty/invalid vectors"):
        knn_join_auto(q, bad, k=1, n_queries=10_000_000, n_index=10**9)
    # no scorable rows at all -> dispatches without crashing and
    # returns no rows (NULL vectors have no distance)
    none_idx = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    assert knn_join_auto(q, none_idx, k=1).collect() == []


def test_choose_knn_strategy_gemm_elems_gate():
    """ADVICE r9: the GEMM driver-collect budget is rows·dim, not rows.
    1M queries x dim 4096 x 12-row index is inside the pair-ops
    envelope and under the row cap, but the collected matrix would be
    ~32 GB — must NOT route to gemm."""
    from cli_rag_spark.operators.knn import (
        GEMM_MAX_PAIR_OPS,
        GEMM_MAX_QUERIES,
        GEMM_MAX_QUERY_ELEMS,
        choose_knn_strategy,
    )

    q, n, dim = 1_000_000, 12, 4096
    assert q <= GEMM_MAX_QUERIES and q * n * dim <= GEMM_MAX_PAIR_OPS
    assert q * dim > GEMM_MAX_QUERY_ELEMS
    assert choose_knn_strategy(q, n, dim) == "lsh"
    # the same shape at a collectable dim still takes the BLAS path
    assert choose_knn_strategy(q, n, 64) == "gemm"


def test_gemm_query_elems_guard(spark, sf_dir):
    """knn_join bounds the driver collect in ELEMENTS: with dim
    passed the cap applies BEFORE the collect (row_cap = elems/dim);
    without dim the collected rows' actual width is re-checked."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries(emb, 5)
    with pytest.raises(ValueError, match="collect budget"):
        knn_join(q, emb, k=1, dim=64, max_query_elems=64)
    with pytest.raises(ValueError, match="max_query_elems"):
        knn_join(q, emb, k=1, max_query_elems=64)
    # generous budget: unchanged results
    ok = knn_join(q, emb, k=2, dim=64)
    want = {tuple(r) for r in knn_join(q, emb, k=2).collect()}
    assert {tuple(r) for r in ok.collect()} == want


def _raw_ivfpq(spark, sf_dir, tmp_path, name):
    """(embeddings, artifact path) with a raw (residual=False) IVFPQ
    artifact of the fixture built at C=8, m=4, K=16."""
    from cli_rag_spark.operators.pq import build_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = str(tmp_path / name)
    build_ivfpq_index(
        emb, path, n_centroids=8, m_subspaces=4, k_codes=16, residual=False
    )
    return emb, path


def test_knn_join_auto_flat_adc_via_raw_ivfpq(spark, sf_dir, tmp_path):
    """Flat ADC through the dispatcher: past the GEMM envelope (cost-
    model hints), a raw IVFPQ artifact probed over all C lists with
    the rerank off equals knn_join_ivfpq run directly (modulo the
    contract rename est_d2 -> dist), and the executed plan scans the
    persisted lists — never an embedding column. IVF still outranks
    IVFPQ when both indexes are ready."""
    from cli_rag_spark.operators.knn import knn_join_auto
    from cli_rag_spark.operators.pq import knn_join_ivfpq

    emb, path = _raw_ivfpq(spark, sf_dir, tmp_path, "ivfpq_raw")
    # a literal query frame, so every file scan in the plan is the index
    q = spark.createDataFrame(_queries(emb, 5).collect())
    big = dict(n_queries=10_000, n_index=2_000_000)  # 1.28e12 pair-ops
    auto = knn_join_auto(
        q, emb, k=3, dim=64, ivfpq_path=path, n_probe=8, ivfpq_rerank=0,
        **big,
    )
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "est_d2" in plan  # the ADC estimate, renamed to the contract
    assert any("ivfpq_raw/lists" in f for f in auto.inputFiles())
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and not any("embedding" in ln for ln in scans), scans
    direct = knn_join_ivfpq(q, path, k=3, n_probe=8).withColumnRenamed(
        "est_d2", "dist"
    )
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in direct.collect()
    }
    from cli_rag_spark.operators.ann import build_ivf_index

    ivf_path = str(tmp_path / "ivf_pref")
    build_ivf_index(emb, ivf_path, n_centroids=8)
    both = knn_join_auto(
        q, emb, k=3, dim=64, ivf_path=ivf_path, n_centroids=8, n_probe=2,
        ivfpq_path=path, ivfpq_rerank=0, **big,
    )
    files = " ".join(both.inputFiles())
    assert "ivf_pref" in files and "ivfpq_raw" not in files


def test_knn_join_auto_resolves_default_c_from_meta(spark, sf_dir, tmp_path):
    """An index built with the r10 C ~ sqrt(N) default (no explicit C)
    must still be auto-dispatched: the dispatcher resolves the
    resolved C from the index's meta sidecar instead of silently
    falling back to LSH (r10 review #3)."""
    from cli_rag_spark.operators.ann import (
        _read_ivf_meta,
        build_ivf_index,
        knn_join_ivf,
        read_ivf_index,
    )
    from cli_rag_spark.operators.knn import knn_join_auto
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_defaultc")
    build_ivf_index(emb, path)  # C resolved internally (isqrt(N))
    c = int(_read_ivf_meta(spark, path)["n_centroids"])
    q = _queries(emb, 5)
    auto = knn_join_auto(q, emb, k=3, n_index=10_000_000_000, ivf_path=path)
    assert any("ivf_defaultc" in f for f in auto.inputFiles())
    direct = knn_join_ivf(
        q, read_ivf_index(spark, path), k=3, n_centroids=c,
        n_probe=max(1, c // 4), validate_cid=False,
    )
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_knn_join_auto_pq_exclude_self(spark, sf_dir, tmp_path):
    """exclude_self on the dispatched IVFPQ route (flat ADC: raw
    artifact, all lists probed, rerank off): k+1 fetch, self-row drop,
    re-rank — no result row may pair a query with itself, ranks stay
    1..k."""
    from cli_rag_spark.operators.knn import knn_join_auto

    emb, path = _raw_ivfpq(spark, sf_dir, tmp_path, "pq_self")
    q = _queries(emb, 5)
    auto = knn_join_auto(
        q, emb, k=3, exclude_self=True, n_queries=10_000, n_index=2_000_000,
        ivfpq_path=path, n_probe=8, ivfpq_rerank=0,
    )
    assert any("pq_self/lists" in f for f in auto.inputFiles())
    out = auto.collect()
    assert out, "ivfpq route returned nothing"
    for r in out:
        assert r["query_id"] != r["vec_id"]
        assert 1 <= r["rank"] <= 3
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_gemm_null_lead_vector_still_guarded(spark):
    """ADVICE r10: the post-collect element re-check must use the MAX
    vector width across all collected rows — a NULL/narrow first row
    must not skip the budget (and the dim probe must find the real
    width before the collect when dim is omitted)."""
    import pytest

    wide = [float(i) for i in range(64)]
    q = spark.createDataFrame(
        [(1, None), (2, wide), (3, wide)],
        "query_id long, query_vec array<double>",
    )
    idx = spark.createDataFrame(
        [(10, wide)], "vec_id long, embedding array<double>"
    )
    # budget of 64 elements: 3 rows x width 64 = 192 must be rejected
    # even though the first row is NULL (the old first-row check let
    # this straight through to the scorer)
    with pytest.raises(ValueError, match="max_query_elems"):
        knn_join(q, idx, k=1, max_query_elems=64)
    # same shape, generous budget: scores fine; the NULL query row is
    # unrepresentable in the GEMM operand and drops
    ok = knn_join(q, idx, k=1).collect()
    assert {r["query_id"] for r in ok} == {2, 3}


def test_knn_join_auto_verify_index_content(spark, sf_dir, tmp_path):
    """ADVICE r10: index-backed dispatch answers from the persisted
    artifact; with verify_index_content=True a corpus that drifted
    from the build must fall back to an index-free strategy, and a
    matching corpus must keep the IVF route."""
    from cli_rag_spark.operators.ann import build_ivf_index, knn_join_ivf, read_ivf_index
    from cli_rag_spark.operators.knn import knn_join_auto, knn_join_lsh
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_verify")
    build_ivf_index(emb, path, n_centroids=8)
    q = _queries(emb, 5)
    # matching content: the IVF route survives verification
    auto = knn_join_auto(
        q, emb, k=3, n_index=10_000_000_000, ivf_path=path,
        n_centroids=8, n_probe=2, verify_index_content=True,
    )
    direct = knn_join_ivf(
        q, read_ivf_index(spark, path, 8), k=3, n_centroids=8, n_probe=2,
        validate_cid=False,
    )
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # drifted corpus (one row dropped): verification rejects the stale
    # artifact and the dispatch falls back to LSH over the LIVE frame
    drifted = emb.where(F.col("vec_id") != 17)
    auto2 = knn_join_auto(
        q, drifted, k=3, n_index=10_000_000_000, ivf_path=path,
        n_centroids=8, n_probe=2, verify_index_content=True,
    )
    from cli_rag_spark.operators.knn import default_lsh_geometry

    planes, bands = default_lsh_geometry(10_000_000_000)
    lsh = knn_join_lsh(
        q, drifted, k=3, dim=64, n_planes=planes, n_bands=bands
    )
    assert {tuple(r) for r in auto2.collect()} == {
        tuple(r) for r in lsh.collect()
    }
    # default (False): the artifact answers regardless — documented
    auto3 = knn_join_auto(
        q, drifted, k=3, n_index=10_000_000_000, ivf_path=path,
        n_centroids=8, n_probe=2,
    )
    assert {tuple(r) for r in auto3.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_tune_lsh_bands_targets_recall(spark, sf_dir):
    """VERDICT r10 #7b (banding half): smallest divisor-ladder band
    count meeting the target; an unreachable target returns the last
    rung with its MEASURED recall, never a claimed number."""
    import pytest

    from cli_rag_spark.operators.knn import tune_lsh_bands

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    q = _queries(emb, 8)
    bands, recall = tune_lsh_bands(q, emb, dim=64, target_recall=0.5, k=3)
    assert bands in (1, 2, 4, 8, 16) and recall >= 0.5
    # a trivial target never needs more bands than a strict one
    bands_lo, recall_lo = tune_lsh_bands(q, emb, dim=64, target_recall=0.01, k=3)
    assert bands_lo <= bands and recall_lo >= 0.01
    # determinism: same sample + seed -> same pick
    again = tune_lsh_bands(q, emb, dim=64, target_recall=0.5, k=3)
    assert again == (bands, recall)
    with pytest.raises(ValueError, match="target_recall"):
        tune_lsh_bands(q, emb, dim=64, target_recall=0.0)
    with pytest.raises(ValueError, match="n_planes"):
        tune_lsh_bands(q, emb, dim=64, n_planes=0)


def test_choose_knn_strategy_ivfpq_branch_pinned():
    """r12 (VERDICT r11 #1): past the GEMM envelope the dispatcher
    must be able to reach the sub-linear IVFPQ strategy — full IVF
    still outranks it (exact distances in the probed lists), but with
    only coded artifacts it wins over the flat LSH fallback."""
    from cli_rag_spark.operators.knn import (
        GEMM_MAX_PAIR_OPS,
        choose_knn_strategy,
    )

    q, n, dim = 10_000, 2_000_000, 64
    assert q * n * dim > GEMM_MAX_PAIR_OPS
    assert choose_knn_strategy(q, n, dim, ivfpq_available=True) == "ivfpq"
    assert (
        choose_knn_strategy(q, n, dim, ivf_available=True, ivfpq_available=True)
        == "ivf"
    )
    assert choose_knn_strategy(q, n, dim) == "lsh"


def test_knn_join_auto_routes_ivfpq(spark, sf_dir, tmp_path):
    """End-to-end dispatch to the persisted IVFPQ artifact: a
    past-the-envelope shape (cost-model overrides) with a validated
    build_ivfpq_index path must answer via knn_join_ivfpq — same
    rows, with the artifact's recorded C feeding the sqrt(C) default
    probe width — and content verification must reject a drifted
    corpus back to LSH."""
    from cli_rag_spark.operators.knn import knn_join_auto, knn_join_lsh
    from cli_rag_spark.operators.pq import knn_join_ivfpq

    # residual=False: this test pins the RAW-artifact dispatch; the
    # default build is residual since r14 —
    # test_knn_join_auto_routes_residual_ivfpq covers the default
    emb, path = _raw_ivfpq(spark, sf_dir, tmp_path, "ivfpq_route")
    q = _queries(emb, 5)
    big = dict(n_queries=10_000, n_index=2_000_000)  # 1.28e12 pair-ops
    # DEFAULT = IVFADC-R (VERDICT r12 #1): ivfpq_rerank unset resolves
    # R through default_rerank_depth(k) and exact-rescores — equal to
    # composing the operators by hand with the rule depth
    from cli_rag_spark.operators.knn import rerank_exact
    from cli_rag_spark.operators.pq import default_rerank_depth

    auto = knn_join_auto(q, emb, k=3, dim=64, ivfpq_path=path, **big)
    # the rule sees the cost model's n_index and the artifact's C
    short = knn_join_ivfpq(
        q, path, k=default_rerank_depth(3, big["n_index"], 8), n_probe=2
    )
    reranked = rerank_exact(short, q, emb, k=3)
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in reranked.collect()
    }
    # ivfpq_rerank=0 opts OUT: the raw ADC order, est_d2 as dist
    auto_raw = knn_join_auto(
        q, emb, k=3, dim=64, ivfpq_path=path, ivfpq_rerank=0, **big
    )
    direct = knn_join_ivfpq(
        q, path, k=3, n_probe=2  # default_n_probe(8)=2
    ).withColumnRenamed("est_d2", "dist")
    assert {tuple(r) for r in auto_raw.collect()} == {
        tuple(r) for r in direct.collect()
    }
    import pytest

    with pytest.raises(ValueError, match="ivfpq_rerank"):
        knn_join_auto(
            q, emb, k=3, dim=64, ivfpq_path=path, ivfpq_rerank=-1, **big
        )
    # explicit n_probe overrides the sqrt(C) default (raw view)
    auto_w = knn_join_auto(
        q, emb, k=3, dim=64, ivfpq_path=path, n_probe=8, ivfpq_rerank=0,
        **big,
    )
    direct_w = knn_join_ivfpq(q, path, k=3, n_probe=8).withColumnRenamed(
        "est_d2", "dist"
    )
    assert {tuple(r) for r in auto_w.collect()} == {
        tuple(r) for r in direct_w.collect()
    }
    # drifted corpus + verify_index_content: the stale artifact is
    # rejected and the index-free fallback answers over the live frame
    from cli_rag_spark.operators.knn import default_lsh_geometry

    drifted = emb.where(F.col("vec_id") != 17)
    auto2 = knn_join_auto(
        q, drifted, k=3, dim=64, ivfpq_path=path,
        verify_index_content=True, **big,
    )
    planes, bands = default_lsh_geometry(big["n_index"])
    lsh = knn_join_lsh(
        q, drifted, k=3, dim=64, n_planes=planes, n_bands=bands
    )
    assert {tuple(r) for r in auto2.collect()} == {
        tuple(r) for r in lsh.collect()
    }


def test_rerank_exact_full_candidates_equals_knn_join(spark, sf_dir):
    """IVFADC-R sanity anchor: exact-reranking the FULL (query x id)
    candidate grid must reproduce the exact kNN join bit-for-bit —
    the rerank stage is the same rounded cosine + (dist, id) window
    as the exact path, just restricted to a candidate list."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    from cli_rag_spark.operators.knn import rerank_exact

    q = _queries(emb, 5)
    all_cand = q.select("query_id").crossJoin(emb.select("vec_id"))
    got = {
        tuple(r) for r in rerank_exact(all_cand, q, emb, k=3).collect()
    }
    want = {tuple(r) for r in knn_join(q, emb, k=3).collect()}
    assert got == want


def test_rerank_lifts_ivfpq_recall_to_coverage(spark, sf_dir, tmp_path):
    """The rerank's contract: recall@k after exact re-scoring equals
    the shortlist's COVERAGE of the true top-k (rerank orders exactly,
    so it finds every true neighbor the shortlist contains) — and is
    therefore >= the raw ADC ordering's recall."""
    from cli_rag_spark.operators.knn import rerank_exact, topk_recall
    from cli_rag_spark.operators.pq import knn_join_ivfpq

    emb, path = _raw_ivfpq(spark, sf_dir, tmp_path, "ivfpq_cov")
    q = _queries(emb, 5)
    exact = knn_join(q, emb, k=3).localCheckpoint(eager=True)
    short = knn_join_ivfpq(q, path, k=12, n_probe=2).localCheckpoint(eager=True)
    raw3 = short.where(F.col("rank") <= 3)

    def avg_recall(approx):
        row = (
            topk_recall(exact, approx, k=3)
            .agg(F.avg("recall").alias("r"))
            .first()
        )
        return float(row["r"])

    cov = avg_recall(short)          # coverage of true-3 in the 12-list
    reranked = rerank_exact(short, q, emb, k=3)
    assert abs(avg_recall(reranked) - cov) < 1e-9
    assert avg_recall(reranked) >= avg_recall(raw3) - 1e-9


def test_knn_join_auto_ivfpq_rerank_option(spark, sf_dir, tmp_path):
    """ivfpq_rerank=R on the dispatched IVFPQ path: the ADC top-R
    shortlist is exact-reranked to k with true cosine in the dist
    column — equal to composing the operators by hand."""
    from cli_rag_spark.operators.knn import (
        knn_join_auto,
        rerank_exact,
    )
    from cli_rag_spark.operators.pq import knn_join_ivfpq

    emb, path = _raw_ivfpq(spark, sf_dir, tmp_path, "ivfpq_rr")
    q = _queries(emb, 5)
    big = dict(n_queries=10_000, n_index=2_000_000)
    auto = knn_join_auto(
        q, emb, k=3, dim=64, ivfpq_path=path, ivfpq_rerank=12, **big
    )
    short = knn_join_ivfpq(q, path, k=12, n_probe=2)
    direct = rerank_exact(short, q, emb, k=3)
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_default_rerank_depth_rule():
    """R = max(10·k, 100, ceil(N/C)) — the IVFADC-R depth rule
    (VERDICT r12 #1): one decade above k floored at 100
    (sign-flip-measured knee), plus one expected home-list occupancy
    when the index structure is known — the clustered-corpus
    measurement (SCALING.md r13) showed coverage@R tracks the covered
    fraction of the home list, so a fixed floor under-covers tight
    clusters (R=100 bought only 0.247 at 2M/C=1414)."""
    import pytest

    from cli_rag_spark.operators.pq import default_rerank_depth

    assert default_rerank_depth(1) == 100
    assert default_rerank_depth(3) == 100
    assert default_rerank_depth(10) == 100
    assert default_rerank_depth(11) == 110
    assert default_rerank_depth(50) == 500
    # structure-aware: one home-list occupancy, ceil division
    assert default_rerank_depth(10, 2_000_000, 1414) == 1415
    assert default_rerank_depth(10, 1000, 100) == 100   # floor wins
    assert default_rerank_depth(50, 1000, 2) == 500     # 10k wins
    assert default_rerank_depth(10, None, 1414) == 100  # partial: floor
    with pytest.raises(ValueError, match="k must be"):
        default_rerank_depth(0)


def test_default_lsh_geometry_rule():
    """bits/band = max(4, ceil(log2(N)/2)) keeps random collisions per
    (query, band) at <= sqrt(N); planes = bits x bands by construction
    (the knn_join_lsh divisibility contract)."""
    import pytest

    from cli_rag_spark.operators.knn import default_lsh_geometry

    # floor region: tiny corpora keep 4 bits/band
    assert default_lsh_geometry(0) == (32, 8)
    assert default_lsh_geometry(256) == (32, 8)
    # ceil(log2(500)/2) = ceil(4.48) = 5
    assert default_lsh_geometry(500) == (40, 8)
    # 2M rows: ceil(20.93/2) = 11 bits -> collisions/band <= sqrt(N)
    planes, bands = default_lsh_geometry(2_000_000)
    assert (planes, bands) == (88, 8)
    assert 2_000_000 / 2 ** (planes // bands) <= 2_000_000 ** 0.5
    # caller's band count is honored; planes stay divisible
    planes4, bands4 = default_lsh_geometry(2_000_000, n_bands=4)
    assert bands4 == 4 and planes4 == 44 and planes4 % bands4 == 0
    with pytest.raises(ValueError, match="n_index"):
        default_lsh_geometry(-1)
    with pytest.raises(ValueError, match="n_bands"):
        default_lsh_geometry(100, n_bands=0)


def test_knn_join_auto_routes_residual_ivfpq(spark, sf_dir, tmp_path):
    """A DEFAULT build_ivfpq_index artifact (residual-encoded since
    r14) dispatches with the artifact's persisted resid_terms, so its
    codes are scored in residual form (a raw-LUT scoring of residual
    codes would be silent garbage), and RERANKS by default — equal to
    the hand-composed residual probe + exact rerank."""
    from cli_rag_spark.operators.knn import knn_join_auto, rerank_exact
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        default_rerank_depth,
        knn_join_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    path = str(tmp_path / "ivfpq_res_route")
    # no residual flag: residual encoding IS the r14 default
    build_ivfpq_index(emb, path, n_centroids=8, m_subspaces=4, k_codes=16)
    q = _queries(emb, 5)
    big = dict(n_queries=10_000, n_index=2_000_000)
    auto = knn_join_auto(q, emb, k=3, dim=64, ivfpq_path=path, **big)
    short = knn_join_ivfpq(
        q, path, k=default_rerank_depth(3, big["n_index"], 8), n_probe=2
    )
    direct = rerank_exact(short, q, emb, k=3)
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # raw ADC view of the residual artifact: est_d2 order, residual LUT
    auto_raw = knn_join_auto(
        q, emb, k=3, dim=64, ivfpq_path=path, ivfpq_rerank=0, **big
    )
    direct_raw = knn_join_ivfpq(q, path, k=3, n_probe=2).withColumnRenamed(
        "est_d2", "dist"
    )
    assert {tuple(r) for r in auto_raw.collect()} == {
        tuple(r) for r in direct_raw.collect()
    }


def test_lsh_rung_recalls_match_sequential(spark, sf_dir):
    """r15 (guide §2.4): the pair-batched band-ladder evaluation
    (_lsh_rung_recalls — one candidate join at the batch max band
    count, coarser-rung membership = the carried-signature collision
    flag) must produce, for every rung, EXACTLY the recall the
    rung-at-a-time walk computed (knn_join_lsh + topk_recall + avg);
    non-nested batches must be refused."""
    import pytest

    from cli_rag_spark.operators.knn import (
        _lsh_rung_recalls,
        knn_join_lsh,
        topk_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    q = _queries(emb, 8)
    k = 3
    exact = knn_join(q, emb, k=k, dim=64).localCheckpoint(eager=True)
    for batch in ([1, 2], [4, 8], [8, 16], [16]):
        batched = _lsh_rung_recalls(
            q, emb, exact, k, 64, batch, n_planes=16, seed=42
        )
        for b in batch:
            approx = knn_join_lsh(
                q, emb, k, 64, n_planes=16, n_bands=b, seed=42
            )
            row = (
                topk_recall(exact, approx, k=k)
                .agg(F.avg("recall").alias("r"))
                .first()
            )
            sequential = float(row["r"]) if row["r"] is not None else 0.0
            # see test_ivf_rung_recalls_match_sequential: AVG is
            # order-dependent at the last ULP across plan shapes
            assert abs(batched[b] - sequential) < 1e-9, (b, batched[b], sequential)
    with pytest.raises(ValueError, match="nested"):
        _lsh_rung_recalls(q, emb, exact, k, 64, [3, 4], 12, 42)
