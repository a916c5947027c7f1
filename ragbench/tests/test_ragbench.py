"""Tests of the RAG benchmark itself: seeded inputs, the output checks,
and one tiny run of every workload.

    python3 -m pytest ragbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from ragbench import checks, gen  # noqa: E402
from ragbench.run import SIZES, WORKLOADS  # noqa: E402

SHAPE = {"n_rows": 300, "n_queries": 20}


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _generate(seed: int, d) -> dict[str, bytes]:
    gen.make_docs(seed, str(d), n_docs=12)
    gen.make_corpus(seed, str(d), **SHAPE)
    return _files(str(d))


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _generate(7, tmp_path / "a")
    b = _generate(7, tmp_path / "b")
    assert sorted(a) == sorted(b)
    assert len(a) == 8 + 4 + 1 + 1
    assert a == b


def test_different_seed_gives_different_inputs(tmp_path):
    a = _generate(7, tmp_path / "a")
    b = _generate(8, tmp_path / "b")
    assert sorted(a) == sorted(b)
    assert all(a[k] != b[k] for k in a)


def test_corpus_is_unit_norm_and_clustered():
    a = gen.corpus_arrays(3, **SHAPE)
    assert np.allclose(np.linalg.norm(a["X"], axis=1), 1.0)
    assert np.allclose(np.linalg.norm(a["Q"], axis=1), 1.0)
    # a perturbed corpus point is far nearer its source than a random row
    d = checks.cosine_dist(a["Q"], a["X"])
    assert np.median(d.min(axis=1)) < 0.1 < np.median(d)


def test_oracle_breaks_ties_by_id():
    X = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.6, 0.8]])
    Q = np.array([[1.0, 0.0]])
    assert checks.topk_oracle(Q, X, 3).tolist() == [[0, 2, 3]]


def test_prompt_check_rejects_wrong_order():
    X = np.array([[1.0, 0.0], [0.8, 0.6], [0.0, 1.0]])
    Q = np.array([[1.0, 0.0]])
    texts = [f"c{i}: t{i}" for i in range(3)]
    oracle = checks.topk_oracle(Q, X, 2)

    def prompt(ids):
        ctx = " \n ".join(f"Context {r}:\n{texts[i]}" for r, i in enumerate(ids, 1))
        return pa.table({"query_id": [0], "prompt": [f"sys\n{ctx}<|eot_id|>ask?"]})

    assert checks.check_prompts(prompt([0, 1]), texts, ["ask?"], Q, X, oracle) == (True, 1.0)
    assert checks.check_prompts(prompt([1, 0]), texts, ["ask?"], Q, X, oracle)[0] is False
    assert checks.check_prompts(prompt([0, 2]), texts, ["ask?"], Q, X, oracle) == (True, 0.5)


def test_mock_embedding_matches_engine_reference():
    from cli_rag_spark.operators.embed import mock_embed_py

    for text in ("", "a b c", "zipf word soup " * 40):
        assert np.allclose(checks.mock_embedding(text, 64), mock_embed_py(text, 64), atol=1e-12)


@pytest.mark.parametrize("workload,trace", [(w, 0) for w in sorted(WORKLOADS)] + [("rag_ivf", 1)])
def test_workload_runs_once_at_tiny_size(tmp_path, workload, trace):
    cmd = [
        sys.executable, os.path.join(ROOT, "ragbench", "run.py"),
        "--workload", workload, "--seed", "5", "--seconds", "0",
        "--trace", str(trace), "--size", "tiny", "--scratch", str(tmp_path),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    stamp, result = json.loads(lines[-2])["stamp"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1 + trace
    assert "steal_cpu_s" in stamp and "load1_start" in stamp
    m = result["metrics"]
    if trace:
        assert m["ann.call_ms"]["value"] > 0 and m["context.exec_ms"]["value"] > 0
        assert m["knn.call_ms"]["value"] == 0
        assert m["ann.reuse_rows_scanned"]["value"] == SIZES["tiny"]["rows"]
        assert os.path.exists(stamp["spans"])
    else:
        assert m["ok_ratio"]["value"] == 1.0
        assert all(v["value"] > 0 for v in m.values())
        if workload != "rag_ivf":
            assert m["recall"]["value"] == 1.0


