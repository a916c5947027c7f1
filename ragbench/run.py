#!/usr/bin/env python3
"""Closed-loop RAG benchmark: one client, one op at a time, on a local
Spark session with one task slot.

    python3 ragbench/run.py --workload rag_exact --seed 1 --seconds 12 --trace 0

Workloads (why each was chosen is in ragbench/NOTES.md):

* ``index_build``: documents -> chunk -> embed -> index parquet, then
  an IVF build on the result;
* ``rag_exact``: batch brute-force kNN (``knn_join_auto``) -> join
  texts -> per-query context -> prompt;
* ``rag_ivf``: reuse check of a persisted IVF index -> IVF probe ->
  the same context chain.

A run starts the session and generates the inputs ``SETUP_REPS``
times, then runs the workload's set-up build once (the IVF index of
``rag_ivf``); ``setup_s`` is the median rep plus that build. It then
runs ``warmup_tiny_ops`` ops on tiny inputs and ``warmup_full_ops``
full ops unmeasured, then measures ops for ``--seconds``, and at least
``MIN_OPS`` of them. The end-to-end figures are medians over the
measured ops.
Every op's output is checked. ``--trace 1`` alternates untraced and
traced ops and reports per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it stamps the run with host steal, foreign
CPU and load so that a noisy run can be told from its own output.
Inputs, artifacts, the warehouse and spans go under ``--scratch``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

K = 8
SETUP_REPS = 5
# a run measures at least this many ops (traced ones with --trace 1),
# so that each figure is a median of three even when an op takes more
# than half of --seconds
MIN_OPS = 3
LAYERS = ("chunk", "embed", "index", "ann", "knn", "context")
SIZES = {
    "full": {"docs": 32, "rows": 10_000, "queries": 1_000, "ivf_queries": 250},
    # warm-up inputs and the benchmark's own tests: every path runs in
    # seconds, and Q·N·dim is past knn's expression-path cut-off, so
    # knn_join_auto dispatches to the same GEMM path as at full size
    "tiny": {"docs": 16, "rows": 1_000, "queries": 100, "ivf_queries": 20},
}
# one task slot: measured on a 4-core shared box, a busy-loop process
# beside the run slowed rag_exact's 4,000-query ops by 6 % on local[1],
# 23 % on local[2] and 38 % on local[4]
CORES = 1
CHUNK_SIZE = 500
DOC_DIM = 64


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """One workload's inputs, set-up build, op (traced when given a
    tracer) and output check."""

    exact = True
    # ops on tiny inputs, then full-size ops, run before measuring
    warmup_tiny_ops = 1
    warmup_full_ops = 0

    def __init__(self, size: dict, seed: int):
        self.size = size
        self.seed = seed

    def generate(self, work: str) -> None:
        raise NotImplementedError

    def setup_build(self, spark) -> None:
        """Set-up work that ops rely on, timed into ``setup_s``."""

    def prepare(self) -> None:
        """Oracle work for the checks; not timed."""

    def op(self, spark, tracer=None, op_id: str = ""):
        raise NotImplementedError

    def check(self, out) -> tuple[bool, float, int]:
        """(output correct, recall, items produced)."""
        raise NotImplementedError

    def labels(self) -> dict:
        return {}

    def layer_extras(self, tracer, op_id: str) -> dict:
        return {}


def _span(tracer, op_id, layer, call):
    """``tracer.span`` when tracing, else a no-op context whose mark
    does nothing, so each op is written once for both modes."""
    if tracer is not None:
        return tracer.span(op_id, layer, call)
    from contextlib import nullcontext

    return nullcontext(lambda: None)


class IndexBuild(Workload):
    # a tiny op costs nearly a full one here (the op's fixed cost
    # dominates). After the tiny op and one full op, the measured ops
    # still drifted down about 15 % over four ops; a second full
    # warm-up op flattened them, but costs 6-7 s a run (the time budget
    # is in NOTES.md)
    warmup_full_ops = 1

    def generate(self, work):
        from ragbench.gen import make_docs

        self.docs_dir = make_docs(self.seed, work, n_docs=self.size["docs"])
        self.index_dir = os.path.join(work, "index")
        self.ivf_dir = os.path.join(work, "ivf")

    def prepare(self):
        import numpy as np
        import pyarrow.parquet as pq

        from cli_rag_spark.operators.chunk import cut_clean

        docs = pq.read_table(self.docs_dir).to_pylist()
        self.doc_chunks = {d["doc_id"]: cut_clean(d["text"], CHUNK_SIZE) for d in docs}
        self.rng = np.random.default_rng([self.seed, 9])

    def op(self, spark, tracer=None, op_id=""):
        from cli_rag_spark.operators.ann import build_ivf_index
        from cli_rag_spark.operators.index import build_index

        docs = spark.read.parquet(self.docs_dir)
        if tracer is None:
            build_index(docs, self.index_dir, chunk_size=CHUNK_SIZE, dim=DOC_DIM)
        else:
            # chunk and embed standalone, each on a materialized input;
            # the index span then runs build_index's own call and write,
            # which fuses chunk and embed into its one job
            from cli_rag_spark.operators.chunk import chunk
            from cli_rag_spark.operators.embed import embed

            with tracer.span(op_id, "chunk", "chunk") as mark:
                chunks = chunk(docs, size=CHUNK_SIZE)
                mark()
                chunks = chunks.localCheckpoint()
            with tracer.span(op_id, "embed", "embed") as mark:
                emb = embed(chunks, dim=DOC_DIM)
                mark()
                emb.localCheckpoint()
            with tracer.span(op_id, "index", "build_index") as mark:
                out = build_index(docs, chunk_size=CHUNK_SIZE, dim=DOC_DIM)
                mark()
                out.write.mode("overwrite").parquet(self.index_dir)
        with _span(tracer, op_id, "ann", "build_ivf_index"):
            build_ivf_index(
                spark.read.parquet(self.index_dir), self.ivf_dir,
                id_col="id", reuse_if_exists=False,
            )
        return None

    def check(self, out):
        import pyarrow.parquet as pq

        from ragbench.checks import check_index, check_ivf

        rows_ok, frac, n = check_index(
            self.index_dir, self.doc_chunks, DOC_DIM, 64, self.rng
        )
        ids = pq.read_table(self.index_dir, columns=["id"]).column("id").to_numpy()
        ok = rows_ok and frac == 1.0 and check_ivf(self.ivf_dir, ids, "id")
        return ok, frac, n

    def layer_extras(self, tracer, op_id):
        emb = tracer.layer_totals(op_id).get("embed", {})
        n_chunks = sum(len(c) for c in self.doc_chunks.values())
        return {"embed.cpu_us_per_chunk": emb.get("cpu_ms", 0.0) * 1e3 / n_chunks}


class RagExact(Workload):
    # after one tiny op, full-size ops still drifted down by 10-20 %
    # over the next six; warm tiny ops cost about 1.5 s against 3 s
    # for a full one, and warm the same per-op planning paths. The JIT
    # still lowers the op's JVM CPU over about 25 more ops
    warmup_tiny_ops = 3
    warmup_full_ops = 1

    def n_queries(self):
        return self.size["queries"]

    def generate(self, work):
        from ragbench.gen import make_corpus

        self.paths = make_corpus(
            self.seed, work, n_rows=self.size["rows"],
            n_queries=self.size["queries"],
        )
        self.ivf_dir = os.path.join(work, "ivf")

    def prepare(self):
        import pyarrow.parquet as pq

        from ragbench.checks import topk_oracle
        from ragbench.gen import corpus_arrays

        a = corpus_arrays(self.seed, n_rows=self.size["rows"], n_queries=self.size["queries"])
        self.X, self.Q = a["X"], a["Q"][: self.n_queries()]
        self.texts = pq.read_table(self.paths["texts"]).column("chunk_text").to_pylist()
        self.asks = pq.read_table(self.paths["queries"]).column("user_input").to_pylist()
        self.oracle = topk_oracle(self.Q, self.X, K)

    def _inputs(self, spark):
        from pyspark.sql import functions as F

        q = spark.read.parquet(self.paths["queries"])
        if self.n_queries() < self.size["queries"]:
            q = q.where(F.col("query_id") < self.n_queries())
        return (
            q,
            spark.read.parquet(self.paths["index"]),
            spark.read.parquet(self.paths["texts"]),
        )

    def _search(self, spark, q, idx, tracer, op_id):
        from cli_rag_spark.operators.knn import knn_join_auto

        with _span(tracer, op_id, "knn", "knn_join_auto") as mark:
            hits = knn_join_auto(q, idx, K)
            mark()
            if tracer is not None:
                hits = hits.localCheckpoint()
        return hits

    def op(self, spark, tracer=None, op_id=""):
        from pyspark.sql import functions as F

        from cli_rag_spark.operators.context import assemble_contexts_grouped, rag_prompt

        q, idx, texts = self._inputs(spark)
        hits = self._search(spark, q, idx, tracer, op_id)
        with _span(tracer, op_id, "context", "assemble_contexts_grouped") as mark:
            ctx = assemble_contexts_grouped(
                hits.join(texts, "vec_id").withColumnRenamed("chunk_text", "text")
            )
            prompts = ctx.join(q.select("query_id", "user_input"), "query_id").select(
                "query_id", rag_prompt(F.col("context"), F.col("user_input")).alias("prompt")
            )
            mark()
            return prompts.toArrow()

    def check(self, out):
        from ragbench.checks import check_prompts

        ok, recall = check_prompts(out, self.texts, self.asks, self.Q, self.X, self.oracle)
        return ok, recall, out.num_rows

    def labels(self):
        from cli_rag_spark.operators.knn import choose_knn_strategy

        return {"knn.strategy": choose_knn_strategy(len(self.Q), len(self.X), self.X.shape[1])}


class RagIvf(RagExact):
    exact = False

    def n_queries(self):
        return self.size["ivf_queries"]

    def generate(self, work):
        from cli_rag_spark.operators.ann import default_n_centroids, default_n_probe

        super().generate(work)
        self.n_centroids = default_n_centroids(self.size["rows"])
        self.n_probe = default_n_probe(self.n_centroids)

    def setup_build(self, spark):
        from cli_rag_spark.operators.ann import build_ivf_index

        build_ivf_index(spark.read.parquet(self.paths["index"]), self.ivf_dir)

    def prepare(self):
        import numpy as np
        import pyarrow.parquet as pq

        from ragbench.checks import cosine_dist

        super().prepare()
        # pairs the probe scores, from the artifact's list sizes: each
        # query probes its n_probe nearest seeded centroids (the
        # lowest ids), ranked by (rounded distance, cid)
        cid = pq.read_table(self.ivf_dir, columns=["cid"]).column("cid").to_numpy()
        sizes = np.bincount(cid, minlength=self.n_centroids)
        d = cosine_dist(self.Q, self.X[: self.n_centroids])
        order = np.lexsort((np.broadcast_to(np.arange(self.n_centroids), d.shape), d), axis=1)
        self.candidates_per_query = float(sizes[order[:, : self.n_probe]].sum(axis=1).mean())

    def _search(self, spark, q, idx, tracer, op_id):
        from cli_rag_spark.operators.ann import build_ivf_index, knn_join_ivf, read_ivf_index

        with _span(tracer, op_id, "ann", "build_ivf_index") as mark:
            cents = build_ivf_index(idx, self.ivf_dir, reuse_if_exists=True)
            mark()
            if tracer is not None:
                cents.count()
        with _span(tracer, op_id, "ann", "read_ivf_index"):
            ivf = read_ivf_index(spark, self.ivf_dir, self.n_centroids)
        with _span(tracer, op_id, "ann", "knn_join_ivf") as mark:
            hits = knn_join_ivf(
                q, ivf, K, self.n_centroids, self.n_probe, validate_cid=False
            )
            mark()
            if tracer is not None:
                hits = hits.localCheckpoint()
        return hits

    def check(self, out):
        import numpy as np

        from ragbench.checks import check_ivf

        ok, recall, n = super().check(out)
        return ok and check_ivf(self.ivf_dir, np.arange(len(self.X)), "vec_id"), recall, n

    def labels(self):
        return {}

    def layer_extras(self, tracer, op_id):
        reuse = [
            s for s in tracer.spans
            if s.op_id == op_id and s.call == "build_ivf_index"
        ]
        return {
            "ann.reuse_rows_scanned": sum(s.metrics["call_input_records"] for s in reuse),
            "ann.candidates_per_query": self.candidates_per_query,
        }


WORKLOADS = {"index_build": IndexBuild, "rag_exact": RagExact, "rag_ivf": RagIvf}

END_TO_END_UNITS = {
    "setup_s": "s", "ok_ratio": "ratio", "op_p50_ms": "ms",
    "items_per_s": "1/s", "cpu_ms_per_item": "ms", "recall": "ratio",
}
SPAN_UNITS = {
    "call_ms": "ms", "exec_ms": "ms", "jobs": "count", "eager_jobs": "count",
    "tasks": "count", "cpu_ms": "ms", "gc_ms": "ms", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "py_cpu_ms": "ms",
}
EXTRA_UNITS = {
    "embed.cpu_us_per_chunk": "us", "ann.reuse_rows_scanned": "count",
    "ann.candidates_per_query": "count", "session.start_ms": "ms",
    "session.jvm_peak_rss_mb": "MiB", "tracing_overhead_pct": "%",
}


def start_session(scratch: str):
    """The engine's session (``cli_rag_spark.session.configure``) on
    ``local[CORES]``, with every directory Spark writes under
    ``scratch``."""
    from pyspark.sql import SparkSession

    from cli_rag_spark.session import configure

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = configure(SparkSession.builder.appName("ragbench").master(f"local[{CORES}]"))
    spark = (
        builder.config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(scratch, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import bench  # host-noise helpers; absent outside a full checkout
    from ragbench.trace import Tracer, peak_rss_mb, self_cpu, tree_cpu

    root = os.path.abspath(args.scratch)
    scratch = os.path.join(root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = scratch

    load1 = (bench._loadavg() or [float("nan")])[0]
    steal0, busy0, own0 = bench._steal_sec(), bench._sys_busy_sec(), self_cpu()
    wl = WORKLOADS[args.workload](SIZES[args.size], args.seed)
    spark = None
    setup, starts = [], []
    t_run = time.perf_counter()
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(scratch)
            t1 = time.perf_counter()
            wl.generate(os.path.join(scratch, f"work{rep}"))
            setup.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        t0 = time.perf_counter()
        wl.setup_build(spark)
        build_s = time.perf_counter() - t0
        jvm_pid = bench._jvm_pid(spark)
        phases = {"setup": time.perf_counter() - t_run}
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t_run
        tracer = Tracer(spark, jvm_pid) if args.trace else None

        def one(traced: bool, op_id: str):
            c0 = tree_cpu(jvm_pid)[0] + self_cpu()
            s0 = bench._steal_sec()
            t0 = time.perf_counter()
            try:
                out = wl.op(spark, tracer if traced else None, op_id)
                wall = time.perf_counter() - t0
                cpu = tree_cpu(jvm_pid)[0] + self_cpu() - c0
                steal = bench._steal_sec() - s0
                ok, recall, items = wl.check(out)
            except Exception:
                traceback.print_exc()
                return {"ok": False, "recall": 0.0, "items": 0, "wall": 0.0, "cpu": 0.0, "steal": 0.0}
            return {"ok": ok, "recall": recall, "items": items, "wall": wall, "cpu": cpu, "steal": steal}

        # warm-up on tiny inputs: the same plans, so codegen and JIT
        # are paid here rather than in the first measured op
        warm = WORKLOADS[args.workload](SIZES["tiny"], args.seed)
        warm.generate(os.path.join(scratch, "warm"))
        warm.setup_build(spark)
        for _ in range(wl.warmup_tiny_ops):
            warm.op(spark)
        for i in range(wl.warmup_full_ops):
            one(False, f"warm{i}")
        phases["warmup"] = time.perf_counter() - t_run
        plain, traced = [], []
        t_end = time.perf_counter() + args.seconds
        i = 0
        while True:
            plain.append(one(False, f"op{i}"))
            if args.trace:
                traced.append((f"top{i}", one(True, f"top{i}")))
            i += 1
            if time.perf_counter() >= t_end and len(traced if args.trace else plain) >= MIN_OPS:
                break
        rss = peak_rss_mb(jvm_pid)
        own = tree_cpu(jvm_pid)[0] + self_cpu() - own0
        phases["measure"] = time.perf_counter() - t_run
    finally:
        if spark is not None:
            stop_jvm(spark)
    phases["stop"] = time.perf_counter() - t_run
    steal = bench._steal_sec() - steal0
    busy = bench._sys_busy_sec() - busy0

    ops = plain + [r for _, r in traced]
    good = [r for r in ops if r["ok"]]
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(plain), "traced_ops": len(traced),
        "steal_cpu_s": round(steal, 3),
        "foreign_cpu_s": round(max(0.0, busy - steal - own), 3),
        "load1_start": load1,
        "setup_reps_s": [round(s, 3) for s in setup],
        "setup_build_s": round(build_s, 3),
        "op_walls_s": [round(r["wall"], 3) for r in plain],
        "op_steal_cpu_s": [round(r["steal"], 3) for r in plain],
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        **wl.labels(),
    }
    if args.trace:
        per_op = []
        for op_id, r in traced:
            totals = tracer.layer_totals(op_id)
            row = {
                f"{layer}.{f}": totals.get(layer, {}).get(f, 0.0)
                for layer in LAYERS for f in SPAN_UNITS
            }
            row.update(wl.layer_extras(tracer, op_id))
            per_op.append(row)
        metrics = {
            name: {"value": _median([row.get(name, 0.0) for row in per_op]), "unit": SPAN_UNITS[name.split(".", 1)[1]]}
            for name in (f"{layer}.{f}" for layer in LAYERS for f in SPAN_UNITS)
        }
        for name, unit in EXTRA_UNITS.items():
            metrics[name] = {"value": _median([row.get(name, 0.0) for row in per_op]), "unit": unit}
        metrics["session.start_ms"]["value"] = _median(starts) * 1e3
        metrics["session.jvm_peak_rss_mb"]["value"] = rss
        untraced_wall = _median([r["wall"] for r in plain])
        metrics["tracing_overhead_pct"]["value"] = (
            (_median([r["wall"] for _, r in traced]) / untraced_wall - 1.0) * 100
            if untraced_wall else 0.0
        )
        os.makedirs(os.path.join(root, "spans"), exist_ok=True)
        spans_path = os.path.join(root, "spans", f"{args.workload}-s{args.seed}.json")
        tracer.dump(spans_path, {"stamp": stamp})
        stamp["spans"] = spans_path
    else:
        values = {
            "setup_s": _median(setup) + build_s,
            "ok_ratio": len(good) / len(ops),
            "op_p50_ms": _median([r["wall"] for r in good]) * 1e3,
            # medians over the ops, so that one op caught by a steal
            # burst does not move the run's figure
            "items_per_s": _median([r["items"] / r["wall"] for r in good if r["wall"]]),
            "cpu_ms_per_item": _median([r["cpu"] * 1e3 / r["items"] for r in good if r["items"]]),
            "recall": _median([r["recall"] for r in good]),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    shutil.rmtree(scratch, ignore_errors=True)
    failed = sum(not r["ok"] for r in ops)
    correct = failed == 0 and (not wl.exact or all(r["recall"] == 1.0 for r in ops))
    print(json.dumps({"stamp": stamp}))
    return {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scratch", default=os.path.join(ROOT, ".ragbench_scratch"),
                   help="directory for inputs, artifacts, Spark files and spans")
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
