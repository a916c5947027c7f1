#!/usr/bin/env python
"""100x scale rehearsal for the three heaviest NON-FLOOR plans
(VERDICT r8 "Next round #4"): setsim_pairs, source_overlap_matrix,
fuzzy_name_pairs at {1x, 10x, 100x} of sf0.1.

Why a separate script from scale_rehearsal.py: at 10x the per-job
floor still shadows the data term, so the booked alphas are lower
bounds; 100x is where a plan genus flip (candidate blow-up, a stale
size estimate broadcasting a corpus-sized side) would actually show.
Only the tables these three queries touch are replicated (documents,
customer) — the full-table generator would write ~60M lineitem rows
nobody reads.

Replica construction (same shape-preserving philosophy as
scale_rehearsal.py, extended past its 26-rotation limit):

- documents: replica i applies a SEEDED PSEUDORANDOM PERMUTATION of
  the alphabet (splitmix64-keyed sort of a-z / A-Z) via translate().
  A bijection preserves word/doc lengths, token structure, and every
  intra-replica duplicate group exactly; distinct permutations per
  replica mean shingles never collide across replicas, so candidate
  work grows linearly by construction, not quadratically by artifact.
  (The rotation trick caps at 26 distinct replicas; PRPs don't.)
- customer: keys offset per replica; c_name is permuted by a seeded
  PRP over LETTERS AND DIGITS. Digits alone are not enough: a low-id
  name ("Customer#000000001") contains only 2-3 DISTINCT digits, and
  two 10-element digit PRPs agree on 2 specific values with
  probability ~1/90 — across C(100,2) replica pairs that manufactures
  ~55 colliding replica pairs per small-id name family, i.e. false
  cross-replica duplicate clusters (measured: max variant bucket
  38 -> 494 and candidate upper bound 52x for 10x data before the
  letter PRP). Permuting the 8 distinct prefix letters too drops the
  cross-replica agreement probability to ~26^-8 — the rehearsal then
  measures the OPERATOR's growth on m independent populations, not
  the generator's collision artifact. (FastSS candidate count is
  inherently C(cluster, 2) per true near-dup cluster — cluster
  structure is an input property; the generator must hold it fixed
  per replica, which the bijection does.)

Prints one JSON line per query: per-scale best-of-N seconds, the
fitted alpha over {1,10,100}, and whether the plan kept its join
genus (source_overlap_matrix must stay SortMergeJoin — the r6
ngram-novelty broadcast-OOM lesson). Paste the table into SCALING.md.

Usage: python scripts/scale_rehearsal_100x.py [--runs 2] [--only ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import string
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

# 100x shingle/gram explosions need heap headroom in local mode (the
# scale_rehearsal.py precedent); must be set before the JVM launches.
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 24g pyspark-shell")
# size shuffles to the data: at 100x a fixed 32-partition shuffle
# sorts 100x more rows per partition (ledger 0r — 3.7x slower on the
# overlap matrix); deployments set this knob, so the rehearsal does too
os.environ.setdefault("SPARK_GRAFT_INITIAL_PARTITIONS", "256")

from pyspark.sql import functions as F  # noqa: E402

from cli_rag_spark.functions.hashing import _splitmix64  # noqa: E402
from cli_rag_spark.plans import registry  # noqa: E402
from cli_rag_spark.session import get_session  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.path.join(
    "/tmp/scale_rehearsal_100x", os.path.basename(os.path.normpath(BASE_SF))
)
MULTIPLES = [1, 10, 100]
# the three VERDICT r8 #4 targets, then the flagship dedup ops added
# once the harness existed (documents-only, same replica dirs)
QUERIES = [
    "setsim_pairs", "source_overlap_matrix", "fuzzy_name_pairs",
    "minhash_candidates", "span_dedup_stats", "dedup_components",
    "knn_join_lsh", "knn_join_ivf",
    # grid-boundedness at 100x: the quantile family's claim is that
    # the CDF window NEVER grows with the corpus — only the scan and
    # the map-side histogram combine do
    "curriculum_buckets", "mad_outlier_stats",
]


def _curriculum_dup(m: int):
    """curriculum_buckets over m ID-OFFSET COPIES of the base docs,
    UNTRANSLATED — the honest 100× axis for this query (r9 review #3):
    the registry query's stopword-density score goes ~0 on
    PRP-translated replicas (a letter bijection destroys English
    stopwords), collapsing the histogram toward a near-single-key
    grid. Duplication replicates the score DISTRIBUTION exactly, so
    the CDF window sees the full base grid while the scan grows ×m —
    exactly the claim under test. (Duplication is unusable for the
    dedup/fuzzy rehearsals — cross-copy collisions manufacture false
    clusters — but quantiles have no cross-row identity, so it is the
    shape-preserving construction HERE.)"""
    from cli_rag_spark.plans.queries_quantiles import (
        CURRICULUM_K,
        _stop_density_pm,
    )
    from cli_rag_spark.functions.text import token_count
    from cli_rag_spark.operators.quantiles import quantile_buckets
    from cli_rag_spark.sources.documents import load_table

    def run(spark, _sf_dir):
        docs = load_table(spark, BASE_SF, "documents")
        off = docs.agg(F.max("doc_id")).first()[0] + 1
        all_docs = docs
        for i in range(1, m):
            all_docs = all_docs.unionByName(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * off))
            )
        scored = all_docs.select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_words"),
            _stop_density_pm(F.col("text")).alias("score_pm"),
        )
        bucketed = quantile_buckets(scored, F.col("score_pm"), CURRICULUM_K)
        return (
            bucketed.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_words").alias("total_words"),
            )
            .orderBy("bucket")
        )

    return run


def _ivf_sqrtc_parts(spark, sf_dir):
    """(embeddings, index, C, queries) for the grown-C rehearsal rows —
    one √N-default index per scale dir, reused across timing and
    recall measurements."""
    import hashlib

    from cli_rag_spark.operators.ann import (
        _read_ivf_meta,
        build_ivf_index,
        read_ivf_index,
    )
    from cli_rag_spark.session import scratch_root
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{scratch_root()}/cli_rag_spark_ivfsqrt100x_{tag}"
    build_ivf_index(emb, path, reuse_if_exists=True)  # default C
    c = int(_read_ivf_meta(spark, path)["n_centroids"])
    index = read_ivf_index(spark, path)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return emb, index, c, queries


def _knn_ivf_sqrtc(m: int, n_probe=2):
    """knn_join_ivf with the C ~ √N BUILD DEFAULT (VERDICT r9 #3): the
    r9 rehearsal row held C=8 fixed, so the probe scanned a constant
    25% of the corpus and was "flat" only because that linear term sat
    under the job floor. Here each scale builds its index with
    n_centroids UNSET (ann.default_n_centroids → isqrt(N): 44 at 1×,
    141 at 10×, 447 at 100× for the 2k-row base). ``n_probe=2``
    reproduces the r10 speed row; ``n_probe="rule"`` applies the r11
    √C default (ann.default_n_probe) — the recall-holding probe width.
    reuse_if_exists makes run 2 the measured steady state (build
    amortized exactly like the judged q_knn_join_ivf)."""
    from cli_rag_spark.operators.ann import default_n_probe, knn_join_ivf

    def run(spark, sf_dir):
        _, index, c, queries = _ivf_sqrtc_parts(spark, sf_dir)
        probe = default_n_probe(c) if n_probe == "rule" else n_probe
        return knn_join_ivf(
            queries, index, k=3, n_centroids=c, n_probe=probe,
        )

    return run


def _ivf_recall_at_scale(spark, sf_dir) -> dict:
    """recall@3 of the grown-C probe vs EXACT ground truth, at BOTH
    probe widths — the measurement VERDICT r10 #1 demanded: the speed
    rows alone could certify an index that is fast and useless at
    100×. Ground truth is knn_join over the same 10 queries (10·N
    ·dim pair-ops — ~1.3e9 at the 2M-vector 1000× dir, still inside
    the GEMM envelope). Not part of any timed row."""
    from cli_rag_spark.operators.ann import default_n_probe, knn_join_ivf
    from cli_rag_spark.operators.knn import knn_join, topk_recall

    emb, index, c, queries = _ivf_sqrtc_parts(spark, sf_dir)
    # two query sets: the in-sample set (each query IS an index row —
    # guaranteed top-1 self-match, NNs co-located by the corpus's
    # planted-pair structure) and an OUT-OF-SAMPLE perturbed set
    # (q' = q + 0.5·||q||·rademacher/√dim, seeded by vec_id) that can
    # land near list boundaries — the set on which a too-narrow probe
    # actually loses recall. 10 rows: driver-side numpy is fine.
    q_rows = queries.orderBy("query_id").collect()
    dim = len(q_rows[0]["query_vec"])
    pert = []
    for r in q_rows:
        v = list(r["query_vec"])
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        eps = 0.5 * nrm / math.sqrt(dim)
        pv = [
            x + (eps if _splitmix64(r["query_id"] * 64 + j) & 1 else -eps)
            for j, x in enumerate(v)
        ]
        pert.append((r["query_id"], pv))
    perturbed = spark.createDataFrame(
        pert, "query_id long, query_vec array<double>"
    ).select(
        "query_id", F.col("query_vec").cast("array<float>").alias("query_vec")
    )
    out = {"C": c, "n_probe_rule": default_n_probe(c)}
    for qlabel, qset in (("", queries), ("_oos", perturbed)):
        exact = knn_join(qset, emb, k=3, dim=64)
        for label, probe in (("fixed2", 2), ("rule", default_n_probe(c))):
            approx = knn_join_ivf(
                qset, index, k=3, n_centroids=c, n_probe=probe,
            )
            row = (
                topk_recall(exact, approx, k=3)
                .agg(F.avg("recall").alias("r"))
                .first()
            )
            out[f"recall3_{label}{qlabel}"] = round(float(row["r"]), 4)
    return out


# name -> factory(m) -> callable(spark, sf_dir); rehearsal variants
# whose workload shape needs scale-aware construction
SCALED_QUERIES = {
    "curriculum_buckets_dup": _curriculum_dup,
    "knn_join_ivf_sqrtc": _knn_ivf_sqrtc,
    "knn_join_ivf_sqrtc_rule": lambda m: _knn_ivf_sqrtc(m, n_probe="rule"),
}


def _prp(alphabet: str, seed: int) -> str:
    """Seeded pseudorandom permutation of `alphabet` (identity at 0)."""
    if seed == 0:
        return alphabet
    return "".join(
        sorted(alphabet, key=lambda c: _splitmix64(seed * 1013 + ord(c)))
    )


def generate_docs_only(spark, m: int) -> str:
    """Documents+embeddings replica dir for the 1000× certification
    runs (VERDICT r9 #5): the certified queries touch only those two
    tables, and the full 4-table generator would write ~2 GB of events
    nobody reads. Replicas are written in CHUNKED APPENDS (50 PRP /
    sign-flip branches per write job) because a single 1000-way
    union-translate plan takes minutes to even analyze."""
    out = os.path.join(WORK, f"x{m}")
    done = os.path.join(out, "_DONE_v5_docsemb")
    if os.path.exists(done):
        return out
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    doc_off = docs.agg(F.max("doc_id")).first()[0] + 1
    emb_stats = emb.where(F.col("embedding").isNotNull()).agg(
        F.max("vec_id").alias("mx"), F.max(F.size("embedding")).alias("d")
    ).first()
    vec_off, dim = emb_stats["mx"] + 1, int(emb_stats["d"])
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    dst_d = os.path.join(out, "documents.parquet")
    dst_e = os.path.join(out, "embeddings.parquet")
    CHUNK = 50
    for lo in range(0, m, CHUNK):
        d_parts, e_parts = [], []
        for i in range(lo, min(lo + CHUNK, m)):
            d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * doc_off))
            if i:
                d = d.withColumn(
                    "text",
                    F.translate(
                        "text", lower + upper, _prp(lower, i) + _prp(upper, i)
                    ),
                )
            d_parts.append(d)
            e = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vec_off))
            if i:
                pattern = _splitmix64(i)
                signs = F.array(*[
                    F.lit(-1.0 if (pattern >> (j % 64)) & 1 else 1.0)
                    for j in range(dim)
                ])
                e = e.withColumn(
                    "embedding",
                    F.zip_with("embedding", signs, lambda x, s: (x * s).cast("float")),
                )
            e_parts.append(e)
        dchunk, echunk = d_parts[0], e_parts[0]
        for d in d_parts[1:]:
            dchunk = dchunk.unionByName(d)
        for e in e_parts[1:]:
            echunk = echunk.unionByName(e)
        mode = "append" if lo else "overwrite"
        dchunk.write.mode(mode).parquet(dst_d)
        echunk.write.mode(mode).parquet(dst_e)
    open(done, "w").close()
    return out


def generate_clustered(
    spark,
    n_rows: int,
    dim: int = 64,
    n_centers: int | None = None,
    sigma: float = 0.15,
    seed: int = 13,
) -> str:
    """Seeded Gaussian-MIXTURE embeddings corpus (VERDICT r12 #2): the
    sign-flip replica construction makes every cross-replica neighbor a
    near-equidistant shell — by the r12 diagnosis that geometry is
    near-pathological for quantized ranking and no real embedding
    corpus has it. This generator produces the shape real corpora DO
    have: ~√N cluster centers c_k ~ N(0, I_dim) with per-point noise
    σ·N(0, I), σ sized so a corpus point's true top-10 are
    intra-cluster with wide margin (centers at pairwise L2 ≈ √(2·dim)
    ≈ 11.3 at dim 64, min over √N centers ≈ 4.5; intra-cluster pairs
    at σ·√(2·dim) ≈ 1.7 at σ = 0.15 — an order of magnitude inside
    the closest cross-cluster shell). Cluster membership is a
    splitmix64 hash of the row id (occupancy ~Poisson(N/K), realistic
    imbalance), and every coordinate is a COUNTER-BASED hash normal
    (splitmix64 → uniform → Box–Muller keyed on (row, coord, seed)),
    so the corpus is bit-reproducible regardless of partitioning.
    Schema matches the fixture embeddings table (vec_id, embedding
    float array, label = cluster id)."""
    import numpy as np

    if n_centers is None:
        n_centers = max(1, math.isqrt(n_rows))
    out = os.path.join(WORK, f"gm{n_rows}_d{dim}_k{n_centers}_s{seed}")
    done = os.path.join(out, "_DONE_v1_gm")
    if os.path.exists(done):
        return out
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    centers = np.random.default_rng(seed).standard_normal(
        (n_centers, dim)
    ).astype(np.float64)
    bc = spark.sparkContext.broadcast(centers)
    salt = np.uint64(seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF)
    k_centers = n_centers
    sig = float(sigma)

    def gen(batches):
        import numpy as np
        import pandas as pd

        def sm64(x):
            x = x + np.uint64(0x9E3779B97F4A7C15)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return x ^ (x >> np.uint64(31))

        C = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.uint64)
            cid = (sm64(ids + salt) % np.uint64(k_centers)).astype(np.int64)
            # counter-based normals: 2 hashes per coordinate, Box-Muller
            base = ids[:, None] * np.uint64(2 * dim) + np.arange(
                0, 2 * dim, 2, dtype=np.uint64
            )[None, :]
            h1 = sm64(base ^ salt)
            h2 = sm64((base + np.uint64(1)) ^ salt)
            u1 = (h1 >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)
            u2 = (h2 >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)
            u1 = np.maximum(u1, 1e-300)
            z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
            vecs = (C[cid] + sig * z).astype(np.float32)
            yield pd.DataFrame({
                "vec_id": ids.astype(np.int64),
                "embedding": list(vecs),
                "label": cid.astype(np.int32),
            })

    n_parts = max(32, n_rows // 250_000)
    (
        spark.range(0, n_rows, numPartitions=n_parts)
        .mapInPandas(gen, "vec_id long, embedding array<float>, label int")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )
    open(done, "w").close()
    return out


# queries runnable on the docs+embeddings >100x replica dirs
BIG_SCALE_OK = {
    "minhash_candidates", "span_dedup_stats", "dedup_components",
    "knn_join_lsh", "source_overlap_matrix",
}


def generate(spark, m: int) -> str:
    out = os.path.join(WORK, f"x{m}")
    # v2: letter+digit name PRP; v3: + embeddings (sign-flip isometry
    # per replica, the scale_rehearsal.py construction — norms and
    # intra-replica cosine structure exact, cross-replica LSH buckets
    # scrambled); v4: + events (disjoint user/event ids per replica,
    # same values/span — per-type value histograms replicate, so the
    # quantile grid is m-invariant while the scan grows ×m)
    done = os.path.join(out, "_DONE_v4")
    if os.path.exists(done):
        return out
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    cust = spark.read.parquet(os.path.join(BASE_SF, "customer.parquet"))
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    events = spark.read.parquet(os.path.join(BASE_SF, "events.parquet"))
    # one job per table (not one per offset), and dim from a NON-NULL
    # row — the same NULL-first-row hazard knn_join_auto guards
    doc_off = docs.agg(F.max("doc_id")).first()[0] + 1
    cust_off = cust.agg(F.max("c_custkey")).first()[0] + 1
    emb_stats = emb.where(F.col("embedding").isNotNull()).agg(
        F.max("vec_id").alias("mx"), F.max(F.size("embedding")).alias("d")
    ).first()
    vec_off, dim = emb_stats["mx"] + 1, int(emb_stats["d"])
    ev_stats = events.agg(
        F.max("user_id").alias("u"), F.max("event_id").alias("e")
    ).first()
    user_off, evt_off = ev_stats["u"] + 1, ev_stats["e"] + 1

    lower, upper, digits = (
        string.ascii_lowercase, string.ascii_uppercase, string.digits
    )
    d_parts, c_parts, e_parts, ev_parts = [], [], [], []
    for i in range(m):
        ev_parts.append(
            events.withColumn("user_id", F.col("user_id") + F.lit(i * user_off))
            .withColumn("event_id", F.col("event_id") + F.lit(i * evt_off))
        )
        e = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vec_off))
        if i:
            pattern = _splitmix64(i)
            signs = F.array(*[
                F.lit(-1.0 if (pattern >> (j % 64)) & 1 else 1.0)
                for j in range(dim)
            ])
            e = e.withColumn(
                "embedding",
                F.zip_with("embedding", signs, lambda x, s: (x * s).cast("float")),
            )
        e_parts.append(e)
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * doc_off))
        if i:
            d = d.withColumn(
                "text",
                F.translate(
                    "text", lower + upper, _prp(lower, i) + _prp(upper, i)
                ),
            )
        d_parts.append(d)
        c = cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * cust_off))
        if i:
            c = c.withColumn(
                "c_name",
                F.translate(
                    "c_name",
                    lower + upper + digits,
                    _prp(lower, i) + _prp(upper, i) + _prp(digits, i),
                ),
            )
        c_parts.append(c)

    d_all, c_all, e_all, ev_all = d_parts[0], c_parts[0], e_parts[0], ev_parts[0]
    for d in d_parts[1:]:
        d_all = d_all.unionByName(d)
    for c in c_parts[1:]:
        c_all = c_all.unionByName(c)
    for e in e_parts[1:]:
        e_all = e_all.unionByName(e)
    for ev in ev_parts[1:]:
        ev_all = ev_all.unionByName(ev)
    d_all.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    c_all.write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))
    e_all.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    ev_all.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    open(done, "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--multiples", nargs="*", type=int, default=MULTIPLES,
        help="scales to run; >100 implies documents+embeddings replica "
             "dirs and is restricted to the BIG_SCALE_OK queries",
    )
    args = ap.parse_args()
    if args.fresh and os.path.isdir(WORK):
        shutil.rmtree(WORK)

    spark = get_session(app_name="cli-rag-spark-scale-100x")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()

    all_names = QUERIES + list(SCALED_QUERIES)
    names = [n for n in all_names if not args.only or n in set(args.only)]
    if not names:
        ap.error(f"--only matched none of {all_names}")
    multiples = sorted(set(args.multiples))
    if any(m > 100 for m in multiples) and set(names) - BIG_SCALE_OK:
        ap.error(f">100x replica dirs carry only documents+embeddings; "
                 f"use --only with a subset of {sorted(BIG_SCALE_OK)}")
    dirs = {
        m: (generate_docs_only(spark, m) if m > 100 else generate(spark, m))
        for m in multiples
    }
    # warm-up (smallest requested scale)
    warm, m0 = names[0], multiples[0]
    if warm in SCALED_QUERIES:
        SCALED_QUERIES[warm](m0)(spark, dirs[m0]).write.mode("overwrite").format("noop").save()
    else:
        qs[warm](spark, dirs[m0]).write.mode("overwrite").format("noop").save()

    for name in names:
        per_scale = {}
        genus = {}
        recall = {}
        factory = SCALED_QUERIES.get(name)
        for m in multiples:
            best = math.inf
            for _ in range(args.runs):
                t0 = time.perf_counter()
                fn = factory(m) if factory else (lambda s, d, _n=name: qs[_n](s, d))
                df = fn(spark, dirs[m])
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            per_scale[m] = round(best, 3)
            print(json.dumps({"query": name, "scale": m, "sec": per_scale[m]}),
                  flush=True)
            # The genus check applies only to the query with a pinned
            # join (source_overlap_matrix); gating the plan capture on
            # it avoids a full EXTRA execution of every other query
            # per scale (r9 review #2). The capture must execute THIS
            # DataFrame's own QueryExecution (collect) before reading
            # the plan: each timed write runs a separate QE, so
            # without it the toString shows the INITIAL
            # AdaptiveSparkPlan (isFinalPlan=false) and an AQE runtime
            # re-plan — the exact flip this check exists to catch —
            # would be invisible. Its output is |sources|² rows.
            if name == "source_overlap_matrix":
                df.collect()
                plan = df._jdf.queryExecution().executedPlan().toString()
                # the hazard is the corpus-sized fp SELF-JOIN losing
                # its sort-merge pin (the r6 ngram-novelty OOM genus);
                # the |sources|-row size table is SUPPOSED to
                # broadcast, so the check is SMJ-present, not
                # broadcast-absent
                genus[m] = (
                    "broadcast-flip" if "SortMergeJoin" not in plan else "ok"
                )
            else:
                genus[m] = "ok"
            # recall@k beside wall time at grown C (VERDICT r10 #1) —
            # measured AFTER the timed runs, never inside them
            if name in ("knn_join_ivf_sqrtc", "knn_join_ivf_sqrtc_rule"):
                recall[m] = _ivf_recall_at_scale(spark, dirs[m])
                print(json.dumps({"query": name, "scale": m,
                                  "recall": recall[m]}), flush=True)
        xs = [math.log(m) for m in multiples]
        ys = [math.log(per_scale[m]) for m in multiples]
        xbar, ybar = sum(xs) / len(xs), sum(ys) / len(ys)
        # a single-scale run has no slope: skip the regression instead
        # of dividing by a zero variance after the timed work is done
        alpha = (
            sum((x - xbar) * (y - ybar) for x, y in zip(xs, ys))
            / sum((x - xbar) ** 2 for x in xs)
            if len(multiples) > 1
            else None
        )
        # the 1x->10x slope is floor-shadowed; the slope between the
        # two LARGEST scales is the honest large-scale exponent —
        # print both (10->100 classically; 100->1000 on the 1000x run)
        hi, lo = multiples[-1], multiples[-2] if len(multiples) > 1 else None
        tail_alpha = (
            math.log(per_scale[hi] / per_scale[lo]) / math.log(hi / lo)
            if lo is not None
            else None
        )
        print(
            json.dumps(
                {
                    "query": name,
                    "sec": per_scale,
                    "alpha_1_100": (
                        round(alpha, 3) if alpha is not None else None
                    ),
                    # `is not None`: a floor-flat tail alpha of 0.0 is a
                    # measurement, not a missing value (r9 review)
                    "alpha_tail": (
                        round(tail_alpha, 3) if tail_alpha is not None else None
                    ),
                    "tail_scales": [lo, hi] if lo is not None else None,
                    "genus": genus,
                    **({"recall": recall} if recall else {}),
                }
            ),
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
