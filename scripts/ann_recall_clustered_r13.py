#!/usr/bin/env python
"""Re-base the ANN recall program on a clustered corpus (VERDICT r12
#2) and measure the two new default rules at the routed shape
(VERDICT r12 #1 and #3).

Why: every r11/r12 recall constant — raw-ADC 0.329, rerank coverage
0.670/0.836 at R=100/300, LSH 0.693, the flat-PQ dim gate, the N≈50M
GEMM↔IVFPQ crossover — was calibrated on the SIGN-FLIP replica corpus,
whose cross-replica neighbors form a near-equidistant shell the
builder's own r12 diagnosis calls near-pathological for quantized
ranking. This script re-books the headline rows on a seeded
Gaussian-mixture corpus (scale_rehearsal_100x.generate_clustered —
the neighbor geometry real embedding corpora have) and keeps the
sign-flip rows in SCALING.md as the adversarial bound.

Stages (all print one JSON line per row; paste into SCALING.md):

  --stage main   (default) clustered N=2M, dim 64, Q=400, k=10:
      exact GEMM ground truth (wall);
      persisted IVFPQ (default_pq_geometry, C~sqrt(N)): raw ADC
        wall + recall@10, then the COVERAGE-vs-R curve at
        R in {30, 100, 300, 1000} with rerank wall+recall per R —
        the measurement default_rerank_depth's R0=100 rests on;
      LSH at the default_lsh_geometry rule (88 planes / 8 bands at
        2M) wall + recall vs the old fixed 16/4 (--flat-lsh to
        include; ~4 min on the sign-flip corpus in r11);
      persisted f64 IVF, probe sqrt(C): wall + recall.
  --stage dim192 clustered N=2M, dim 192 (--dim to change), Q=400,
      k=10: LSH (rule geometry, optionally the old fixed 16/4) vs the
      dispatched IVFPQ chain at high dim — the IVFPQ-vs-LSH gate run.
      (The flat-ADC row it once booked, 140.6 s/0.105 vs LSH
      37.0 s/0.996 at dim 192, is in SCALING.md; flat ADC is now the
      probe-all IVFPQ route.)
  --stage n8m    clustered N=8M, dim 64, Q=400: one measured point
      between 2M and the predicted ~50M GEMM↔IVFPQ crossover
      (VERDICT r12 #7) — GEMM wall vs IVFPQ probe wall validates the
      N vs N^(3/4) cost model the future auto-routing rests on.

Heap: the standard 24 GB rehearsal heap (inherited from
scale_rehearsal_100x import).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (_REPO_DIR, os.path.join(_REPO_DIR, "scripts")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from scale_rehearsal_100x import generate_clustered  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from cli_rag_spark.session import get_session, scratch_root  # noqa: E402
from cli_rag_spark.sources.documents import load_table  # noqa: E402


def _recall(exact, approx, k):
    from cli_rag_spark.operators.knn import topk_recall

    row = (
        topk_recall(exact, approx, k=k)
        .agg(F.avg("recall").alias("r"))
        .first()
    )
    return round(float(row["r"]), 4)


def _corpus(spark, n_rows, dim, nq):
    sf_dir = generate_clustered(spark, n_rows, dim=dim)
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    queries = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return sf_dir, emb, queries


def stage_main(spark, args) -> None:
    from cli_rag_spark.operators.ann import (
        _read_ivf_meta,
        build_ivf_index,
        default_n_probe,
        knn_join_ivf,
        read_ivf_index,
    )
    from cli_rag_spark.operators.knn import (
        default_lsh_geometry,
        knn_join_gemm,
        knn_join_lsh,
        rerank_exact,
    )
    from cli_rag_spark.sources.artifacts import read_json_sidecar
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_index_ready,
        knn_join_ivfpq,
        read_ivfpq_index,
    )

    n, dim, nq, k = args.n or 2_000_000, 64, args.nq, args.k
    sf_dir, emb, queries = _corpus(spark, n, dim, nq)
    n_index = emb.count()
    print(json.dumps({"stage": "main", "corpus": sf_dir,
                      "n_index": n_index, "nq": nq, "k": k}), flush=True)

    t0 = time.perf_counter()
    exact = knn_join_gemm(queries, emb, k=k, dim=dim).localCheckpoint(
        eager=True
    )
    print(json.dumps({"row": "gemm_exact",
                      "sec": round(time.perf_counter() - t0, 2)}),
          flush=True)

    # --- persisted IVFPQ at the shipped defaults ----------------------
    tag = f"gm{n}_d{dim}"
    ivfpq_path = f"{scratch_root()}/cli_rag_spark_r13ivfpq_{tag}"
    t0 = time.perf_counter()
    if not ivfpq_index_ready(spark, ivfpq_path, dim):
        # pinned raw: this stage's booked rows (ivfpq_raw_adc + the
        # coverage ladder) measure RAW-vector codes — the build
        # default until the r14 flip
        build_ivfpq_index(emb, ivfpq_path, residual=False)
        print(json.dumps({"row": "ivfpq_build",
                          "sec": round(time.perf_counter() - t0, 2),
                          "meta": read_json_sidecar(spark, ivfpq_path, "_ivfpq_meta.json")}),
              flush=True)
    codes, cb, assign, cent = read_ivfpq_index(spark, ivfpq_path)
    meta = read_json_sidecar(spark, ivfpq_path, "_ivfpq_meta.json")
    c = int(meta["n_centroids"])
    n_probe = default_n_probe(c)

    # one probe at the DEEPEST R; shallower shortlists are prefixes of
    # the same ADC order (rank <= R), so coverage@R for every R comes
    # from one execution
    r_ladder = [k] + args.r_ladder
    t0 = time.perf_counter()
    deep = knn_join_ivfpq(
        queries, codes, cb, assign, cent, k=max(r_ladder),
        n_probe=n_probe, m_subspaces=int(meta["m_subspaces"]),
    ).localCheckpoint(eager=True)
    deep_sec = round(time.perf_counter() - t0, 2)
    raw = deep.where(F.col("rank") <= k)
    print(json.dumps({
        "row": "ivfpq_raw_adc", "C": c, "n_probe": n_probe,
        "probe_sec_at_maxR": deep_sec,
        "recall_at_k": _recall(exact, raw, k),
    }), flush=True)
    for r_depth in args.r_ladder:
        short = deep.where(F.col("rank") <= r_depth)
        cov = _recall(exact, short, k)
        t0 = time.perf_counter()
        rr = rerank_exact(short, queries, emb, k=k).localCheckpoint(
            eager=True
        )
        rr_sec = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "row": "ivfpq_rerank", "R": r_depth, "coverage": cov,
            "rerank_recall": _recall(exact, rr, k),
            "rerank_sec": rr_sec,
        }), flush=True)

    # --- LSH: rule geometry vs the old fixed 16/4 ---------------------
    geoms = [("rule", default_lsh_geometry(n_index))]
    if args.flat_lsh:
        geoms.append(("fixed16x4", (16, 4)))
    for label, (planes, bands) in geoms:
        t0 = time.perf_counter()
        out = knn_join_lsh(
            queries, emb, k=k, dim=dim, n_planes=planes, n_bands=bands,
        ).localCheckpoint(eager=True)
        sec = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "row": f"lsh_{label}", "planes": planes, "bands": bands,
            "sec": sec, "recall_at_k": _recall(exact, out, k),
        }), flush=True)

    # --- persisted f64 IVF, sqrt(C) probe ------------------------------
    ivf_path = f"{scratch_root()}/cli_rag_spark_r13ivf_{tag}"
    t0 = time.perf_counter()
    build_ivf_index(emb, ivf_path, reuse_if_exists=True)
    build_sec = round(time.perf_counter() - t0, 2)
    c_ivf = int(_read_ivf_meta(spark, ivf_path)["n_centroids"])
    idx = read_ivf_index(spark, ivf_path)
    t0 = time.perf_counter()
    out = knn_join_ivf(
        queries, idx, k=k, n_centroids=c_ivf,
        n_probe=default_n_probe(c_ivf),
    ).localCheckpoint(eager=True)
    sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({
        "row": "ivf_sqrtc", "C": c_ivf, "n_probe": default_n_probe(c_ivf),
        "build_sec": build_sec, "sec": sec,
        "recall_at_k": _recall(exact, out, k),
    }), flush=True)


def stage_residual(spark, args) -> None:
    """Residual-encoded batch IVFADC on the clustered corpus — the
    measured answer to stage main's finding that raw-vector codes
    cannot rank within a home list (raw ADC 0.121 at 2M): codes
    describe x − centroid, so the same 64-bit budget resolves the
    within-cluster displacement. Books raw-order recall@k and the
    coverage-vs-R curve for the residual artifact beside the raw
    rows, plus the dispatched default chain."""
    from cli_rag_spark.operators.ann import default_n_probe
    from cli_rag_spark.operators.knn import knn_join_gemm, rerank_exact
    from cli_rag_spark.sources.artifacts import read_json_sidecar
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        default_rerank_depth,
        ivfpq_index_ready,
        knn_join_ivfpq,
        read_ivfpq_index,
        read_ivfpq_terms,
    )

    n, dim, nq, k = args.n or 2_000_000, 64, args.nq, args.k
    sf_dir, emb, queries = _corpus(spark, n, dim, nq)
    n_index = emb.count()
    print(json.dumps({"stage": "residual", "corpus": sf_dir,
                      "n_index": n_index, "nq": nq, "k": k}), flush=True)
    t0 = time.perf_counter()
    exact = knn_join_gemm(queries, emb, k=k, dim=dim).localCheckpoint(
        eager=True
    )
    print(json.dumps({"row": "gemm_exact",
                      "sec": round(time.perf_counter() - t0, 2)}),
          flush=True)
    m_tag = f"_m{args.m_subspaces}" if args.m_subspaces else ""
    # r14 path version: the build below is the DEFAULT build (residual
    # became the default, VERDICT r13 #1), and the round owes a fresh
    # TIMED default-build wall (the r13 artifact at the old path would
    # short-circuit the timing via ivfpq_index_ready)
    path = f"{scratch_root()}/cli_rag_spark_r14ivfpqres_gm{n}_d{dim}{m_tag}"
    t0 = time.perf_counter()
    if not ivfpq_index_ready(spark, path, dim):
        # no residual flag: this IS the default build since r14
        build_ivfpq_index(
            emb, path, m_subspaces=args.m_subspaces,
            refine_iters=args.refine,
        )
        print(json.dumps({"row": "ivfpq_residual_build",
                          "sec": round(time.perf_counter() - t0, 2),
                          "meta": read_json_sidecar(spark, path, "_ivfpq_meta.json")}),
              flush=True)
    codes, cb, assign, cent = read_ivfpq_index(spark, path)
    meta = read_json_sidecar(spark, path, "_ivfpq_meta.json")
    c = int(meta["n_centroids"])
    n_probe = default_n_probe(c)
    r_ladder = [k] + args.r_ladder
    t0 = time.perf_counter()
    terms = read_ivfpq_terms(spark, path)
    deep = knn_join_ivfpq(
        queries, codes, cb, assign, cent, k=max(r_ladder),
        n_probe=n_probe, m_subspaces=int(meta["m_subspaces"]),
        resid_terms=terms,
    ).localCheckpoint(eager=True)
    deep_sec = round(time.perf_counter() - t0, 2)
    raw = deep.where(F.col("rank") <= k)
    print(json.dumps({
        "row": "ivfpq_residual_raw_adc", "C": c, "n_probe": n_probe,
        "probe_sec_at_maxR": deep_sec,
        "recall_at_k": _recall(exact, raw, k),
    }), flush=True)
    for r_depth in args.r_ladder:
        short = deep.where(F.col("rank") <= r_depth)
        print(json.dumps({
            "row": "ivfpq_residual_coverage", "R": r_depth,
            "coverage": _recall(exact, short, k),
        }), flush=True)
    # the dispatched default chain on the residual artifact
    t0 = time.perf_counter()
    r_depth = default_rerank_depth(k, n_index, c)
    short = knn_join_ivfpq(
        queries, codes, cb, assign, cent, k=r_depth, n_probe=n_probe,
        m_subspaces=int(meta["m_subspaces"]), resid_terms=terms,
    )
    out = rerank_exact(short, queries, emb, k=k).localCheckpoint(eager=True)
    print(json.dumps({
        "row": "ivfpq_residual_rerank_default", "R": r_depth,
        "sec": round(time.perf_counter() - t0, 2),
        "recall_at_k": _recall(exact, out, k),
    }), flush=True)


def stage_dim192(spark, args) -> None:
    """The high-dim LSH-vs-IVFPQ comparison on clustered data at the
    full routed shape, over --dim (r14, VERDICT r13 #2: a dim gate
    must be measured AT the gate, not projected from dim 64/192):
    LSH at the rule geometry (and, with --flat-lsh, the old fixed
    16/4) vs the DISPATCHED chain the PQ family runs at the probed
    dim — a default (residual) build_ivfpq_index artifact, probe at
    default_n_probe(C), exact rerank at default_rerank_depth — wall +
    recall, so the routing decision compares the two strategies as
    dispatched."""
    from cli_rag_spark.operators.ann import default_n_probe
    from cli_rag_spark.operators.knn import (
        default_lsh_geometry,
        knn_join_gemm,
        knn_join_lsh,
        rerank_exact,
    )
    from cli_rag_spark.sources.artifacts import read_json_sidecar
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        default_rerank_depth,
        ivfpq_index_ready,
        knn_join_ivfpq,
        read_ivfpq_index,
        read_ivfpq_terms,
    )

    n, dim, nq, k = args.n or 2_000_000, args.dim or 192, args.nq, args.k
    sf_dir, emb, queries = _corpus(spark, n, dim, nq)
    n_index = emb.count()
    print(json.dumps({"stage": "dim192", "dim": dim, "corpus": sf_dir,
                      "n_index": n_index, "nq": nq}), flush=True)
    t0 = time.perf_counter()
    exact = knn_join_gemm(queries, emb, k=k, dim=dim).localCheckpoint(
        eager=True
    )
    print(json.dumps({"row": "gemm_exact",
                      "sec": round(time.perf_counter() - t0, 2)}),
          flush=True)
    for label, (planes, bands) in (
        ("rule", default_lsh_geometry(n_index)),
        ("fixed16x4", (16, 4)),
    ):
        if label == "fixed16x4" and not args.flat_lsh:
            continue  # Θ(Q·N) verify work — minutes at 2M, opt-in
        t0 = time.perf_counter()
        out = knn_join_lsh(
            queries, emb, k=k, dim=dim, n_planes=planes, n_bands=bands,
        ).localCheckpoint(eager=True)
        print(json.dumps({
            "row": f"lsh_{label}", "planes": planes, "bands": bands,
            "sec": round(time.perf_counter() - t0, 2),
            "recall_at_k": _recall(exact, out, k),
        }), flush=True)
    # --- the DISPATCHED PQ-family chain at this dim (r14) -------------
    ivfpq_path = f"{scratch_root()}/cli_rag_spark_r14ivfpq_gm{n}_d{dim}"
    t0 = time.perf_counter()
    if not ivfpq_index_ready(spark, ivfpq_path, dim):
        build_ivfpq_index(emb, ivfpq_path)  # r14 default: residual
        print(json.dumps({"row": "ivfpq_default_build",
                          "sec": round(time.perf_counter() - t0, 2),
                          "meta": read_json_sidecar(spark, ivfpq_path, "_ivfpq_meta.json")}),
              flush=True)
    codes2, cb2, assign2, cent2 = read_ivfpq_index(spark, ivfpq_path)
    meta = read_json_sidecar(spark, ivfpq_path, "_ivfpq_meta.json")
    c = int(meta["n_centroids"])
    r_depth = default_rerank_depth(k, n_index, c)
    t0 = time.perf_counter()
    short = knn_join_ivfpq(
        queries, codes2, cb2, assign2, cent2, k=r_depth,
        n_probe=default_n_probe(c), m_subspaces=int(meta["m_subspaces"]),
        resid_terms=read_ivfpq_terms(spark, ivfpq_path),
    )
    out = rerank_exact(short, queries, emb, k=k).localCheckpoint(eager=True)
    print(json.dumps({
        "row": "ivfpq_dispatched_chain", "C": c,
        "n_probe": default_n_probe(c), "R": r_depth,
        "residual": bool(meta.get("residual")),
        "sec": round(time.perf_counter() - t0, 2),
        "recall_at_k": _recall(exact, out, k),
    }), flush=True)


def stage_n8m(spark, args) -> None:
    """One measured point toward the predicted ~50M crossover: GEMM
    (linear in N) vs the IVFPQ probe (N^(3/4)) at N=8M."""
    from cli_rag_spark.operators.ann import default_n_probe
    from cli_rag_spark.operators.knn import knn_join_gemm, rerank_exact
    from cli_rag_spark.sources.artifacts import read_json_sidecar
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_index_ready,
        knn_join_ivfpq,
        read_ivfpq_index,
    )

    n, dim, nq, k = args.n or 8_000_000, 64, args.nq, args.k
    sf_dir, emb, queries = _corpus(spark, n, dim, nq)
    n_index = emb.count()
    print(json.dumps({"stage": "n8m", "corpus": sf_dir,
                      "n_index": n_index, "nq": nq}), flush=True)
    t0 = time.perf_counter()
    exact = knn_join_gemm(queries, emb, k=k, dim=dim).localCheckpoint(
        eager=True
    )
    gemm_sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({"row": "gemm_exact", "sec": gemm_sec,
                      "sec_per_query": round(gemm_sec / nq, 4)}),
          flush=True)
    ivfpq_path = f"{scratch_root()}/cli_rag_spark_r13ivfpq_gm{n}_d{dim}"
    t0 = time.perf_counter()
    if not ivfpq_index_ready(spark, ivfpq_path, dim):
        # pinned raw: the booked r13 n8m row measured raw codes (the
        # build default until the r14 flip)
        build_ivfpq_index(emb, ivfpq_path, residual=False)
        print(json.dumps({"row": "ivfpq_build",
                          "sec": round(time.perf_counter() - t0, 2)}),
              flush=True)
    codes, cb, assign, cent = read_ivfpq_index(spark, ivfpq_path)
    meta = read_json_sidecar(spark, ivfpq_path, "_ivfpq_meta.json")
    c = int(meta["n_centroids"])
    t0 = time.perf_counter()
    # the DEFAULT dispatched chain: probe at R=default depth + rerank
    from cli_rag_spark.operators.pq import default_rerank_depth

    r_depth = default_rerank_depth(k, n_index, c)
    short = knn_join_ivfpq(
        queries, codes, cb, assign, cent, k=r_depth,
        n_probe=default_n_probe(c), m_subspaces=int(meta["m_subspaces"]),
    )
    out = rerank_exact(short, queries, emb, k=k).localCheckpoint(eager=True)
    sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({
        "row": "ivfpq_rerank_default", "C": c,
        "n_probe": default_n_probe(c), "R": r_depth, "sec": sec,
        "sec_per_query": round(sec / nq, 4),
        "recall_at_k": _recall(exact, out, k),
    }), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage",
                    choices=["main", "residual", "dim192", "n8m"],
                    default="main")
    ap.add_argument("--n", type=int, default=None,
                    help="corpus rows (default: 2M main/dim192, 8M n8m)")
    ap.add_argument("--dim", type=int, default=None,
                    help="embedding width for the dim192 stage (r14: "
                         "a dim gate must be measured AT the gate — "
                         "run with --dim 768)")
    ap.add_argument("--nq", type=int, default=400)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--r-ladder", nargs="*", type=int,
                    default=[30, 100, 300, 1000])
    ap.add_argument("--m-subspaces", type=int, default=None,
                    help="override default_pq_geometry's m for the "
                         "residual stage (code-width-vs-ranking curve)")
    ap.add_argument("--refine", type=int, default=0,
                    help="Lloyd iterations for the residual stage's "
                         "sub-codebooks")
    ap.add_argument("--flat-lsh", action="store_true",
                    help="also measure the old fixed 16/4 LSH geometry "
                         "(Θ(Q·N) verify work — minutes at 2M)")
    args = ap.parse_args()
    spark = get_session(app_name="cli-rag-spark-ann-clustered-r13")
    spark.sparkContext.setLogLevel("ERROR")
    {"main": stage_main, "residual": stage_residual,
     "dim192": stage_dim192, "n8m": stage_n8m}[
        args.stage
    ](spark, args)
    spark.stop()


if __name__ == "__main__":
    main()
