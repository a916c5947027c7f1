"""Retrieval pack — BM25 lexical search and BM25+cosine hybrid RRF
(operators/text_search.py). The mock embedder's SQL twin makes even
the hybrid fusion fully value-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import cosine_distance
from cli_rag_spark.operators.embed import (
    DEFAULT_DIM,
    mock_embedding_expr,
    mock_embedding_sql,
)
from cli_rag_spark.operators.text_search import (
    BM25_B,
    BM25_K1,
    RRF_K,
    bm25_topk,
    rrf_fuse,
    tfidf_cosine_topk,
)
from cli_rag_spark.sources.documents import load_table

QUERY = "hash join scan"
TOPK = 10
FUSE_K = 5


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, QUERY, TOPK).select("doc_id", "score", "rank").orderBy("rank")


def _cosine_topk_docs(docs: DataFrame) -> DataFrame:
    qvec = mock_embedding_expr(F.lit(QUERY), DEFAULT_DIM)
    top = (
        docs.withColumn("embedding", mock_embedding_expr(F.col("text"), DEFAULT_DIM))
        .select("doc_id", F.round(cosine_distance(F.col("embedding"), qvec), 6).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        .limit(TOPK)
    )
    w = Window.orderBy(F.col("dist").asc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-10 and mock-embedding cosine top-10
    fused by reciprocal rank — the production RAG retrieval shape the
    reference's cosine-only path (multirag.c:94-98) grows into."""
    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_topk(docs, QUERY, TOPK)
    sem = _cosine_topk_docs(docs)
    fused = rrf_fuse([lex, sem])
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(FUSE_K)
        .select("doc_id", "rrf_score", "n_lists")
    )


TFIDF_QUERY_DOC = 0


def q_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity search (operators/text_search.py
    tfidf_cosine_topk): the 10 documents most similar to document 0 in
    TF-IDF space — the classic lexical near-dup / more-like-this
    ranking next to BM25 (keyword relevance) and the dense kNN family.
    The query vector broadcasts and prunes the corpus postings by
    term, so the dot product is O(query-term postings), never
    O(corpus tokens); every intermediate rounds to 6, so the full
    ranking value-replays in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_topk(docs, TFIDF_QUERY_DOC, TOPK).orderBy("rank")


QUERIES = {
    "bm25_topk": q_bm25_topk,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "tfidf_cosine_topk": q_tfidf_cosine_topk,
}

_TERMS = ", ".join(f"'{t}'" for t in sorted(set(QUERY.split())))
_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"

_BM25_RANKED = f"""
        docs AS (
          SELECT doc_id, text, len({_TOKS}) AS dl FROM documents
        ), stats AS (
          SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs
        ), tok AS (
          SELECT doc_id, dl, unnest({_TOKS}) AS term FROM docs
        ), tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM tok WHERE term IN ({_TERMS})
          GROUP BY doc_id, dl, term
        ), dfc AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT doc_id,
                 round(sum(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * ({BM25_K1} + 1))
                   / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
                 ), 6) AS score
          FROM tf JOIN dfc USING (term), stats
          GROUP BY doc_id
        ), bm25 AS (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
          FROM scored ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
        )"""

_QVEC = mock_embedding_sql(f"'{QUERY}'", DEFAULT_DIM)

_COS_RANKED = f"""
        emb AS (
          SELECT doc_id, {mock_embedding_sql("text", DEFAULT_DIM)} AS v FROM documents
        ), cos AS (
          SELECT doc_id, round(1 - list_cosine_similarity(v, {_QVEC}), 6) AS dist FROM emb
        ), cosr AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY dist ASC, doc_id ASC) AS rank
          FROM cos ORDER BY dist ASC, doc_id ASC LIMIT {TOPK}
        )"""

ORACLE = {
    "tfidf_cosine_topk": f"""
        WITH tok AS (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        ), dfc AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), stats AS (
          SELECT count(*) AS n_docs FROM documents
        ), vec AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * (ln((1.0 + s.n_docs) / (1.0 + d.df)) + 1.0), 6) AS w
          FROM tf JOIN dfc d USING (term), stats s
        ), n2 AS (
          SELECT doc_id, round(sum(w * w), 6) AS n2 FROM vec GROUP BY doc_id
        ), q AS (
          SELECT term, w AS qw FROM vec WHERE doc_id = {TFIDF_QUERY_DOC}
        ), qn AS (
          SELECT n2 AS qn2 FROM n2 WHERE doc_id = {TFIDF_QUERY_DOC}
        ), dots AS (
          SELECT v.doc_id, round(sum(v.w * q.qw), 6) AS dot
          FROM vec v JOIN q USING (term)
          WHERE v.doc_id <> {TFIDF_QUERY_DOC} GROUP BY v.doc_id
        ), scored AS (
          SELECT d.doc_id, round(d.dot / sqrt(n2.n2 * qn.qn2), 6) AS cosine
          FROM dots d JOIN n2 USING (doc_id), qn
        )
        SELECT doc_id, cosine,
               row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rank
        FROM scored ORDER BY cosine DESC, doc_id ASC LIMIT {TOPK}
    """,
    "bm25_topk": f"""
        WITH {_BM25_RANKED}
        SELECT doc_id, score, rank FROM bm25 ORDER BY rank
    """,
    "hybrid_rrf_topk": f"""
        WITH {_BM25_RANKED}, {_COS_RANKED},
        unioned AS (
          SELECT doc_id, rank FROM bm25
          UNION ALL
          SELECT doc_id, rank FROM cosr
        )
        SELECT doc_id,
               round(sum(1.0 / ({RRF_K} + rank)), 6) AS rrf_score,
               count(*) AS n_lists
        FROM unioned GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id ASC LIMIT {FUSE_K}
    """,
}
