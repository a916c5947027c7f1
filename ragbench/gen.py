"""Seeded input generator for the RAG benchmark.

Everything the engine sees comes from here, as parquet files written
with pyarrow (no Spark), so the same seed gives byte-identical files.

* ``make_docs``: Zipf word-soup documents for the batch indexer,
  split over several files so a scan has at least one split per core.
* ``make_corpus``: a unit-norm Gaussian-mixture vector index with short
  chunk texts, plus perturbed copies of corpus points as queries. The
  data is clustered so that IVF recall means something (on uniform
  vectors every list is equally near and recall collapses).

Chunk texts start with ``"c<vec_id>:"`` so a prompt's contexts can be
mapped back to index ids by the output checks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 5000
ZIPF_S = 1.1


def _vocab(size: int = VOCAB_SIZE) -> np.ndarray:
    """A fixed vocabulary, ranked for the Zipf draw. It does not depend
    on the seed, so every seed has the same word-length distribution
    and hence about the same number of chunks."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, size=size)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    # set iteration order is hash-seeded for str; sort for determinism
    return np.array(sorted(words))


def _zipf_words(rng: np.random.Generator, vocab: np.ndarray, shape) -> np.ndarray:
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    return vocab[rng.choice(len(vocab), size=shape, p=p)]


def _phrases(rng: np.random.Generator, vocab: np.ndarray, n: int, words: int) -> list[str]:
    return [" ".join(row) for row in _zipf_words(rng, vocab, (n, words))]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def make_docs(
    seed: int,
    out_dir: str,
    n_docs: int = 500,
    n_files: int = 8,
    min_words: int = 200,
    max_words: int = 700,
) -> str:
    """Write ``n_docs`` documents ``(doc_id, text)`` as ``n_files``
    parquet files under ``out_dir/docs``; return that directory."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab()
    # lengths spread evenly over [min_words, max_words] in seeded
    # order: every seed indexes the same number of words, so seeds
    # differ in content but not in amount of work
    lens = rng.permutation(np.linspace(min_words, max_words, n_docs).round().astype(int))
    flat = _zipf_words(rng, vocab, int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - n:e]) for n, e in zip(lens, ends)]
    d = os.path.join(out_dir, "docs")
    os.makedirs(d, exist_ok=True)
    for f, idx in enumerate(np.array_split(np.arange(n_docs), n_files)):
        _write(
            pa.table({
                "doc_id": pa.array(idx.astype(np.int64)),
                "text": pa.array([texts[i] for i in idx], pa.string()),
            }),
            os.path.join(d, f"part-{f:02d}.parquet"),
        )
    return d


def corpus_arrays(
    seed: int,
    n_rows: int = 10_000,
    dim: int = 64,
    n_clusters: int = 64,
    n_queries: int = 4_000,
    spread: float = 0.35,
    query_noise: float = 0.15,
) -> dict[str, np.ndarray]:
    """The corpus and query matrices as numpy arrays (row i of ``X``
    has id i; row j of ``Q`` has query id j). Cluster membership is
    drawn at random, so the lowest ids — the engine's seeded IVF
    centroids — spread over the clusters."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    member = rng.integers(0, n_clusters, size=n_rows)
    X = centers[member] + spread / np.sqrt(dim) * rng.standard_normal((n_rows, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    src = rng.integers(0, n_rows, size=n_queries)
    Q = X[src] + query_noise / np.sqrt(dim) * rng.standard_normal((n_queries, dim))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    return {"X": X, "Q": Q}


def make_corpus(seed: int, out_dir: str, **shape) -> dict[str, str]:
    """Write the vector index ``(vec_id, embedding)``, its chunk texts
    ``(vec_id, chunk_text)`` and the queries ``(query_id, query_vec,
    user_input)`` under ``out_dir``; return their directories."""
    arrs = corpus_arrays(seed, **shape)
    X, Q = arrs["X"], arrs["Q"]
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab()
    dim = X.shape[1]
    paths = {k: os.path.join(out_dir, k) for k in ("index", "texts", "queries")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    n, q = len(X), len(Q)
    vec_type = pa.list_(pa.float64())
    for f, idx in enumerate(np.array_split(np.arange(n), 4)):
        _write(
            pa.table({
                "vec_id": pa.array(idx.astype(np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(X[idx].ravel()), dim
                ).cast(vec_type),
            }),
            os.path.join(paths["index"], f"part-{f:02d}.parquet"),
        )
    texts = [f"c{i}: {t}" for i, t in enumerate(_phrases(rng, vocab, n, 8))]
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "chunk_text": pa.array(texts, pa.string()),
        }),
        os.path.join(paths["texts"], "part-00.parquet"),
    )
    asks = [f"q{j}: {t}?" for j, t in enumerate(_phrases(rng, vocab, q, 6))]
    _write(
        pa.table({
            "query_id": pa.array(np.arange(q, dtype=np.int64)),
            "query_vec": pa.FixedSizeListArray.from_arrays(
                pa.array(Q.ravel()), dim
            ).cast(vec_type),
            "user_input": pa.array(asks, pa.string()),
        }),
        os.path.join(paths["queries"], "part-00.parquet"),
    )
    return paths
