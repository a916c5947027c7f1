#!/usr/bin/env python
"""Measure knn_join_auto's strategy choices at the shapes the gates
exist for (VERDICT r10 #4, extended r12 per VERDICT r11 #1).

r11 history (constants were CORRECTED from this script's output):
at Q=400 × N=2M × dim 64 (5.12e10 pair-ops) exact GEMM ran 9.17 s
end-to-end while the flat "approximate" paths measured 251.5 s (LSH,
recall@10 0.69) and 529.5 s (PQ-ADC at the 16-bit m=4×K=16 default,
recall@10 0.106) — so GEMM_MAX_PAIR_OPS rose 5e10 → 1e12 and PQ was
gated to dim ≥ PQ_MIN_DIM. Those flat rows are booked in SCALING.md;
re-run them only with --flat (they cost 4–9 minutes each).

r12 adds the two measurements the corrected envelope demands:

1. --ivfpq (default): build the persisted IVFPQ artifact at the
   default_pq_geometry (m=8 × K=256 at this shape — 64 bits/vector
   instead of the refuted 16) + C~√N coarse lists, assert the
   dispatcher routes "ivfpq" past the GEMM envelope, and measure the
   END-TO-END knn_join_auto wall + recall@10 at Q=400 so the row sits
   beside r11's gemm/lsh/pq ledger. The past-envelope routing is
   simulated by passing the cost model n_queries=N_PAST (the executed
   batch is the real Q=400 — n_queries only feeds dispatch, so the
   wall is the real per-400-query cost on the real 2M-row artifact).
2. --gemm-confirm NQ: time pure knn_join_gemm at NQ queries (e.g.
   2000 → 2.56e11 pair-ops, a quarter of the cap) to confirm the
   measured 5.6e9 pair-ops/s rate holds toward the 1e12 cap rather
   than extrapolating 20× from the r11 point (ADVICE r11).

Heap: the standard 24 GB rehearsal heap (inherited from
scale_rehearsal_100x import). Paste the JSON into SCALING.md.

Usage: python scripts/pq_vs_lsh_routed.py [--multiple 1000] [--nq 400]
           [--refine 0] [--coarse-refine 0] [--gemm-confirm 0] [--flat]
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

from scale_rehearsal_100x import generate_docs_only  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from cli_rag_spark.session import get_session, scratch_root  # noqa: E402
from cli_rag_spark.sources.documents import load_table  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--multiple", type=int, default=1000)
    ap.add_argument("--nq", type=int, default=400)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--refine", type=int, default=0,
                    help="Lloyd iterations for the PQ sub-codebooks")
    ap.add_argument("--coarse-refine", type=int, default=0,
                    help="Lloyd iterations for the coarse quantizer")
    ap.add_argument("--n-centroids", type=int, default=None,
                    help="coarse C (default: sqrt(N) rule)")
    ap.add_argument("--n-probe", type=int, default=None,
                    help="probe width (default: sqrt(C) rule)")
    ap.add_argument("--gemm-confirm", type=int, default=0,
                    help="also time pure GEMM at this many queries "
                         "(near-cap linearity confirm; 0 = skip)")
    ap.add_argument("--flat", action="store_true",
                    help="re-measure the r11 flat LSH/PQ rows "
                         "(4-9 min each; numbers already booked)")
    args = ap.parse_args()

    from cli_rag_spark.operators.knn import (
        GEMM_MAX_PAIR_OPS,
        choose_knn_strategy,
        knn_join_auto,
        knn_join_gemm,
        topk_recall,
    )
    from cli_rag_spark.sources.artifacts import read_json_sidecar
    from cli_rag_spark.operators.pq import (
        build_ivfpq_index,
        build_pq_index,
        default_pq_geometry,
        ivfpq_index_ready,
        pq_index_ready,
    )

    spark = get_session(app_name="cli-rag-spark-pq-vs-lsh-routed")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = generate_docs_only(spark, args.multiple)

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n_index = emb.count()
    queries = emb.where(F.col("vec_id") < args.nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    n_q = queries.count()
    dim = 64
    # the smallest Q that pushes this corpus past the corrected GEMM
    # envelope — the cost-model shape the ivfpq dispatch is FOR
    n_past = GEMM_MAX_PAIR_OPS // (n_index * dim) + 1
    print(json.dumps({
        "n_queries": n_q, "n_index": n_index, "dim": dim,
        "pair_ops": n_q * n_index * dim,
        "past_envelope_nq": n_past,
        "geometry": default_pq_geometry(dim, n_index),
    }), flush=True)

    # dispatch truth table at the corrected constants
    assert choose_knn_strategy(n_q, n_index, dim) == "gemm", (
        "Q=400 sits under the corrected 1e12 envelope"
    )
    assert choose_knn_strategy(n_past, n_index, dim) == "lsh"
    assert choose_knn_strategy(
        n_past, n_index, dim, ivfpq_available=True
    ) == "ivfpq"

    results: dict[str, dict] = {}
    approx_frames: dict[str, object] = {}

    # --- exact GEMM ground truth (also the Q=400 headline row) -------
    t0 = time.perf_counter()
    exact = knn_join_gemm(queries, emb, k=args.k, dim=dim).localCheckpoint(
        eager=True
    )
    gt_sec = round(time.perf_counter() - t0, 2)
    results["gemm"] = {"sec": gt_sec, "recall": 1.0}
    print(json.dumps({"strategy": "gemm", "sec": gt_sec}), flush=True)

    if args.gemm_confirm:
        qc = emb.where(F.col("vec_id") < args.gemm_confirm).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        nqc = qc.count()
        t0 = time.perf_counter()
        knn_join_gemm(qc, emb, k=args.k, dim=dim).write.mode(
            "overwrite"
        ).format("noop").save()
        sec = round(time.perf_counter() - t0, 2)
        ops = nqc * n_index * dim
        print(json.dumps({
            "strategy": "gemm_confirm", "n_queries": nqc,
            "pair_ops": ops, "sec": sec,
            "pair_ops_per_sec": round(ops / sec, 0),
        }), flush=True)
        results["gemm_confirm"] = {
            "sec": sec, "n_queries": nqc, "pair_ops": ops,
            "pair_ops_per_sec": round(ops / sec, 0),
        }

    # --- the sub-linear escape: persisted IVFPQ artifact -------------
    tag = f"x{args.multiple}_r{args.refine}_c{args.coarse_refine}"
    ivfpq_path = f"{scratch_root()}/cli_rag_spark_ivfpqroute_{tag}"
    t0 = time.perf_counter()
    if not ivfpq_index_ready(spark, ivfpq_path, dim):
        build_ivfpq_index(
            emb, ivfpq_path,
            n_centroids=args.n_centroids,
            refine_iters=args.refine,
            coarse_refine_iters=args.coarse_refine,
            # pinned raw: the r11/r12 rows this script booked measured
            # raw-vector codes (the build default until r14)
            residual=False,
        )
        build_sec = round(time.perf_counter() - t0, 2)
    else:
        build_sec = 0.0  # reused from a prior run
    meta = read_json_sidecar(spark, ivfpq_path, "_ivfpq_meta.json")
    print(json.dumps({"ivfpq_build_sec": build_sec, "meta": meta}),
          flush=True)

    t0 = time.perf_counter()
    out = knn_join_auto(
        queries, emb, k=args.k, dim=dim,
        # n_queries simulates the past-envelope shape for DISPATCH;
        # execution runs the real Q=400 batch
        n_queries=n_past, n_index=n_index,
        ivfpq_path=ivfpq_path, n_probe=args.n_probe,
    ).localCheckpoint(eager=True)
    sec = round(time.perf_counter() - t0, 2)
    results["ivfpq"] = {"sec": sec}
    approx_frames["ivfpq"] = out
    print(json.dumps({"strategy": "ivfpq", "sec": sec}), flush=True)

    # --- optional r11 flat rows (already booked) ----------------------
    if args.flat:
        pq_path = f"{scratch_root()}/cli_rag_spark_pqroute_x{args.multiple}"
        t0 = time.perf_counter()
        if not pq_index_ready(spark, pq_path, dim, 4):
            build_pq_index(emb, pq_path, m_subspaces=4, k_codes=16)
        print(json.dumps(
            {"pq_build_sec": round(time.perf_counter() - t0, 2)}
        ), flush=True)
        for label, kwargs in (("pq", {"pq_path": pq_path}), ("lsh", {})):
            t0 = time.perf_counter()
            out = knn_join_auto(
                queries, emb, k=args.k, dim=dim,
                n_queries=n_q, n_index=n_index, **kwargs,
            ).localCheckpoint(eager=True)
            results[label] = {"sec": round(time.perf_counter() - t0, 2)}
            approx_frames[label] = out
            print(json.dumps({"strategy": label,
                              "sec": results[label]["sec"]}), flush=True)

    for label, approx in approx_frames.items():
        r = (
            topk_recall(exact, approx, k=args.k)
            .agg(F.avg("recall").alias("r"))
            .first()
        )
        results[label]["recall"] = round(float(r["r"]), 4)

    print(
        json.dumps(
            {
                "experiment": "pq_vs_lsh_routed_r12",
                "multiple": args.multiple,
                "n_queries": n_q,
                "n_index": n_index,
                "k": args.k,
                "ivfpq_build_sec": build_sec,
                "ivfpq_meta": meta,
                "results": results,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
