"""Output checks for the RAG benchmark. Each is written from the
engine's documented contract, not from its code:

* ``topk_oracle``: brute-force cosine top-k in numpy with the engine's
  rule (distance rounded to 6 digits, ties broken by id);
* ``check_prompts``: one prompt per query carrying its k texts in rank
  order, and recall against the oracle;
* ``mock_embedding``: the mock embedder re-derived with hashlib;
* ``check_index``: chunk row count plus a sample of rows and
  embeddings re-derived from the documents;
* ``check_ivf``: every index id appears exactly once in the IVF
  artifact, with ``cid < C``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re

import numpy as np
import pyarrow.parquet as pq

ROUND = 6
CONTEXT_RE = re.compile(r"Context (\d+):\nc(\d+): ")


def cosine_dist(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    qn = np.linalg.norm(Q, axis=1)
    xn = np.linalg.norm(X, axis=1)
    return np.round(1.0 - (Q @ X.T) / np.outer(qn, xn), ROUND)


def topk_oracle(Q: np.ndarray, X: np.ndarray, k: int, block: int = 500) -> np.ndarray:
    """ids (= row numbers of X) of each query's k nearest rows, ordered
    by (rounded distance, id)."""
    out = np.empty((len(Q), k), dtype=np.int64)
    for s in range(0, len(Q), block):
        d = cosine_dist(Q[s:s + block], X)
        # every row at or under the k-th smallest distance is a
        # candidate, so ties at the cut resolve by id like the engine
        kth = np.partition(d, k - 1, axis=1)[:, k - 1]
        for r in range(len(d)):
            cand = np.flatnonzero(d[r] <= kth[r])
            cand = cand[np.lexsort((cand, d[r, cand]))]
            out[s + r] = cand[:k]
    return out


def check_prompts(
    table, texts: list[str], asks: list[str], Q: np.ndarray, X: np.ndarray,
    oracle: np.ndarray,
) -> tuple[bool, float]:
    """``table`` holds (query_id, prompt) for the queries of ``oracle``
    (query id = row). Returns (every query has exactly one well-formed
    prompt whose k contexts are distinct, in (distance, id) order and
    carry the right texts; recall of the context ids against the
    oracle)."""
    nq, k = oracle.shape
    qids = table.column("query_id").to_numpy()
    prompts = table.column("prompt").to_pylist()
    if len(qids) != nq or set(qids.tolist()) != set(range(nq)):
        return False, 0.0
    ok, hits = True, 0
    for qid, prompt in zip(qids.tolist(), prompts):
        found = CONTEXT_RE.findall(prompt)
        ranks = [int(r) for r, _ in found]
        ids = [int(i) for _, i in found]
        ctx = " \n ".join(f"Context {r}:\n{texts[i]}" for r, i in zip(ranks, ids))
        d = cosine_dist(Q[qid:qid + 1], X[ids])[0] if ids else np.zeros(0)
        ordered = all(
            (d[j], ids[j]) < (d[j + 1], ids[j + 1]) for j in range(len(ids) - 1)
        )
        ok &= (
            ranks == list(range(1, k + 1))
            and ordered
            and ctx in prompt
            and asks[qid] in prompt
        )
        hits += len(set(ids) & set(oracle[qid].tolist()))
    return bool(ok), hits / (nq * k)


def mock_embedding(text: str, dim: int) -> list[float]:
    """The mock embedder's formula: component i is the first 15 hex
    digits of md5("i|text") mod 10000, scaled to [-0.5, 0.5), then the
    vector is L2-normalized and rounded to 9 digits."""
    raw = [
        (int(hashlib.md5(f"{i}|{text}".encode()).hexdigest()[:15], 16) % 10000)
        / 10000.0 - 0.5
        for i in range(dim)
    ]
    norm = math.sqrt(sum(x * x for x in raw))
    return [round(x / norm, 9) for x in raw]


def check_index(
    index_dir: str, doc_chunks: dict[int, list[str]], dim: int, sample: int,
    rng: np.random.Generator,
) -> tuple[bool, float, int]:
    """(row count matches the chunking of every document, fraction of
    ``sample`` random rows whose text, length and embedding re-derive
    from the documents, number of rows)."""
    t = pq.read_table(
        index_dir, columns=["doc_id", "chunk_index", "chunk_text", "n_chars", "embedding"]
    )
    n = t.num_rows
    want = sum(len(c) for c in doc_chunks.values())
    pick = rng.choice(n, size=min(sample, n), replace=False)
    rows = t.take(pick).to_pylist()
    good = 0
    for r in rows:
        chunks = doc_chunks.get(r["doc_id"], [])
        i = r["chunk_index"]
        good += (
            0 <= i < len(chunks)
            and r["chunk_text"] == chunks[i]
            and r["n_chars"] == len(chunks[i])
            and np.allclose(r["embedding"], mock_embedding(chunks[i], dim), rtol=0, atol=2e-9)
        )
    return n == want, good / len(rows), n


def check_ivf(ivf_dir: str, ids: np.ndarray, id_col: str) -> bool:
    """Every id of ``ids`` appears exactly once in the IVF artifact,
    and every list id is below the artifact's recorded C."""
    with open(os.path.join(ivf_dir, "_ivf_meta.json")) as f:
        c = json.load(f)["n_centroids"]
    t = pq.read_table(ivf_dir, columns=[id_col, "cid"])
    got = np.sort(t.column(id_col).to_numpy())
    cid = t.column("cid").to_numpy()
    return (
        len(got) == len(ids)
        and bool(np.array_equal(got, np.sort(ids)))
        and bool((cid >= 0).all() and (cid < c).all())
    )
