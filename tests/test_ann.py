"""IVF ANN operator tests (operators/ann.py): Lloyd refinement,
the persisted sorted index build and append, reuse, and the
row-group pruning claim behind the probe path."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from cli_rag_spark.operators.ann import (
    assign_centroids,
    build_ivf_index,
    kmeans_refine,
    knn_join_ivf,
    seed_centroids,
)
from cli_rag_spark.sources.documents import load_table


def _drop_ivf_sidecar_key(path, key):
    """Rewrite the IVF sidecar at ``path`` without ``key`` (an older
    build's format), dropping the local-FS checksum the rewrite
    invalidates."""
    import json as _json
    import os

    meta_file = os.path.join(path, "_ivf_meta.json")
    with open(meta_file) as f:
        meta = _json.load(f)
    del meta[key]
    with open(meta_file, "w") as f:
        _json.dump(meta, f)
    crc = os.path.join(path, "._ivf_meta.json.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_kmeans_refine_produces_valid_centroids(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = seed_centroids(emb, 4)
    refined = kmeans_refine(emb, seeds, n_iters=2)
    rows = refined.collect()
    assert len(rows) == 4
    assert {r["cid"] for r in rows} == {0, 1, 2, 3}
    dims = {len(r["cvec"]) for r in rows}
    assert dims == {64}
    # refined centroids are means, not original vectors
    orig = {r["cid"]: list(r["cvec"]) for r in seeds.collect()}
    ref = {r["cid"]: list(r["cvec"]) for r in rows}
    assert any(orig[c] != ref[c] for c in orig)


def test_refined_assignment_covers_all_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_refine(emb, seed_centroids(emb, 4), n_iters=1)
    assign = assign_centroids(emb, centroids)
    n = emb.count()
    assert assign.count() == n
    assert assign.select("cid").distinct().count() <= 4
    assert assign.where(F.col("cid").isNull()).count() == 0


def test_build_ivf_index_sorted_layout_roundtrip(spark, sf_dir, tmp_path):
    """The IVF layout: ONE parquet directory, rows (cid, id)-sorted with
    small row groups. It must (a) record layout in the meta and write
    no cid=* leaves, and (c) push the probe's cid filter down to the
    parquet scan (row-group min/max pruning is the physical property
    the probe relies on)."""
    from cli_rag_spark.operators.ann import _read_ivf_meta

    emb = load_table(spark, sf_dir, "embeddings")
    sorted_path = str(tmp_path / "ivf_sorted")
    build_ivf_index(emb, sorted_path, n_centroids=8)
    assert _read_ivf_meta(spark, sorted_path)["layout"] == "sorted"
    # single directory, no cid=* leaves
    assert glob.glob(f"{sorted_path}/cid=*") == []
    srt = spark.read.parquet(sorted_path)
    # (c) the cid predicate reaches the parquet scan as a pushed filter
    plan = srt.where(F.col("cid").isin([0, 1]))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PushedFilters" in plan and "cid" in plan.split("PushedFilters", 1)[1][:200]


def test_append_ivf_index_follows_sorted_layout(spark, sf_dir, tmp_path):
    """Appending to a sorted-layout index must keep the single-dir
    discipline (no cid=* leaves appear) and stay row-for-row identical
    to a one-shot sorted build over the union."""
    from cli_rag_spark.operators.ann import append_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where((F.col("vec_id") < 8) | (F.col("vec_id") % 4 != 0))
    batch = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") % 4 == 0))
    inc_path = str(tmp_path / "ivf_sorted_inc")
    build_ivf_index(base, inc_path, n_centroids=8)
    append_ivf_index(spark, inc_path, batch)
    assert glob.glob(f"{inc_path}/cid=*") == []
    oneshot_path = str(tmp_path / "ivf_sorted_oneshot")
    build_ivf_index(emb, oneshot_path, n_centroids=8)
    norm = lambda df: sorted(
        (int(r["vec_id"]), int(r["cid"])) for r in df.collect()
    )
    assert norm(spark.read.parquet(inc_path)) == norm(
        spark.read.parquet(oneshot_path)
    )


def test_ivf_recall_vs_exact(spark, sf_dir):
    """Probing all lists == exact top-k; fewer lists is a subset-style
    approximation that still returns k rows. One query is a one-row
    query table of the batch join."""
    from cli_rag_spark.operators.topk import topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join_ivf(q, emb, k=5, n_centroids=4, n_probe=4)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    brute = topk(emb.select("vec_id", "embedding"), qvec, 5)
    assert sorted(map(tuple, exact.select("vec_id", "dist").collect())) == sorted(
        map(tuple, brute.select("vec_id", "dist").collect())
    )
    approx = knn_join_ivf(q, emb, k=5, n_centroids=4, n_probe=1)
    assert approx.count() == 5


def test_knn_join_ivf_recall_and_self_match(spark, sf_dir):
    """IVF batch join: every query's rank-1 is itself (its own list is
    always probed), and recall vs the exact join stays high at
    probe 2/8 (27/30 measured on the fixture; assert a safe floor)."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import knn_join_ivf
    from cli_rag_spark.operators.knn import knn_join
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in knn_join(q, emb, k=3).collect()}
    rows = knn_join_ivf(q, emb, k=3, n_centroids=8, n_probe=2).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(exact & approx) >= 24  # >= 80% recall
    rank1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert all(qid == vid for qid, vid in rank1.items())


def test_knn_join_ivf_accepts_persisted_index(spark, sf_dir, tmp_path):
    """The partition-pruning path: a build_ivf_index output read back
    from parquet (which carries cid) must work without re-assignment
    and produce the same result as the on-the-fly path."""
    import os

    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import build_ivf_index, knn_join_ivf
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(str(tmp_path), "ivf_idx")
    build_ivf_index(emb, path, n_centroids=8)
    persisted = spark.read.parquet(path)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    live = sorted(map(tuple, knn_join_ivf(q, emb, k=3, n_centroids=8, n_probe=2).collect()))
    stored = sorted(map(tuple, knn_join_ivf(q, persisted, k=3, n_centroids=8, n_probe=2).collect()))
    assert live == stored and len(stored) == 15


def test_read_ivf_index_validates_build_metadata(spark, sf_dir, tmp_path):
    """build_ivf_index persists _ivf_meta.json; read_ivf_index raises
    on an n_centroids mismatch (O(1), no Spark job) and on a directory
    that was never built as an index."""
    import os

    import pytest

    from cli_rag_spark.operators.ann import read_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(str(tmp_path), "ivf_meta_idx")
    build_ivf_index(emb, path, n_centroids=8)
    ok = read_ivf_index(spark, path, n_centroids=8)
    assert "cid" in ok.columns and ok.count() == emb.count()
    with pytest.raises(ValueError, match="n_centroids"):
        read_ivf_index(spark, path, n_centroids=4)
    bare = os.path.join(str(tmp_path), "not_an_index")
    emb.limit(1).write.parquet(bare)
    with pytest.raises(ValueError, match="_ivf_meta"):
        read_ivf_index(spark, bare)


def test_read_ivf_index_opens_with_recorded_schema(spark, sf_dir, tmp_path):
    """The build records the rows' schema in the sidecar, so opening
    the index runs no schema-inference job, and the recorded schema is
    the one inference would find. A sidecar without it is not ready
    for dispatch and is refused."""
    import uuid

    import pytest

    from cli_rag_spark.operators.ann import ivf_index_ready, read_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_schema")
    build_ivf_index(emb, path, n_centroids=8)
    sc = spark.sparkContext
    group = f"ivf_read_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_ivf_index")
    try:
        index = read_ivf_index(spark, path, n_centroids=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert index.schema == spark.read.parquet(path).schema
    _drop_ivf_sidecar_key(path, "schema")
    assert not ivf_index_ready(spark, path, 8, 64)
    with pytest.raises(ValueError, match="rebuild"):
        read_ivf_index(spark, path)


def test_ivf_index_ready_reads_sidecar_only(spark, sf_dir, tmp_path):
    """The dispatch gate runs on every knn_join_auto call with an
    ivf_path, so it must answer from the sidecar alone: zero Spark
    jobs, the build's dim recorded there, and a wrong dim, a wrong C
    or a sidecar without dim all read as not ready."""
    import json as _json
    import os
    import uuid

    from cli_rag_spark.operators.ann import ivf_index_ready

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_ready")
    build_ivf_index(emb, path, n_centroids=8)
    sc = spark.sparkContext
    group = f"ivf_ready_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ivf_index_ready")
    try:
        verdicts = [
            ivf_index_ready(spark, path, 8, 64),
            ivf_index_ready(spark, path, 8, 128),
            ivf_index_ready(spark, path, 16, 64),
            ivf_index_ready(spark, str(tmp_path / "missing"), 8, 64),
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert verdicts == [True, False, False, False]

    with open(os.path.join(path, "_ivf_meta.json")) as f:
        assert _json.load(f)["dim"] == 64
    _drop_ivf_sidecar_key(path, "dim")
    assert not ivf_index_ready(spark, path, 8, 64)


def test_knn_join_ivf_rejects_mismatched_cid(spark, sf_dir, tmp_path):
    """A persisted index probed with a smaller n_centroids must fail
    loudly, not silently probe the wrong lists (ADVICE r2)."""
    import os

    import pytest

    from cli_rag_spark.operators.ann import knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(str(tmp_path), "ivf_mismatch")
    build_ivf_index(emb, path, n_centroids=8)
    persisted = spark.read.parquet(path)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="different coarse quantizer"):
        knn_join_ivf(q, persisted, k=3, n_centroids=4, n_probe=2)


def test_knn_join_auto_probes_refined_index_with_its_quantizer(spark, tmp_path):
    """A Lloyd-refined index assigns its rows by the refined centroids,
    so its batch probe must rank lists by the same centroids: the
    dispatcher's ivf route reads the index's own ``_centroids`` (found
    from the frame's files without a Spark job), scans the index root
    only once, and recalls at least as much as the seeded build on a
    clustered corpus whose lowest ids seed the clusters unevenly."""
    import uuid

    import numpy as np

    from cli_rag_spark.operators.ann import knn_join_ivf, read_ivf_index
    from cli_rag_spark.operators.knn import knn_join, knn_join_auto, topk_recall

    n, dim, c, k = 1000, 16, 16, 10
    rng = np.random.default_rng(0)
    centers = rng.normal(size=(c, dim))
    x = centers[rng.integers(0, c, n)] + 0.5 * rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(q, emb, k=k).localCheckpoint(eager=True)
    sc = spark.sparkContext
    recall = {}
    for refine in (0, 2):
        path = str(tmp_path / f"ivf_refine{refine}")
        build_ivf_index(emb, path, n_centroids=c, refine_iters=refine)
        out = knn_join_auto(
            q, emb, k=k, n_index=10_000_000_000, ivf_path=path,
            n_centroids=c, n_probe=2,
        )
        # FileScan locations print in full only under a wide metadata cap
        spark.conf.set("spark.sql.maxMetadataStringLength", 100_000)
        try:
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        assert f"{path}/_centroids]" in plan
        assert plan.count(f"{path}]") == 1, plan
        recall[refine] = topk_recall(exact, out, k=k).agg(
            F.avg("recall").alias("r")
        ).first()["r"]
        index = read_ivf_index(spark, path, c)
        group = f"ivf_quantizer_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "persisted quantizer lookup")
        try:
            knn_join_ivf(q, index, k, c, 2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert recall[2] >= recall[0], recall


def test_append_ivf_index_requires_index(spark, sf_dir, tmp_path):
    import pytest

    from cli_rag_spark.operators.ann import append_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="not a build_ivf_index output"):
        append_ivf_index(spark, str(tmp_path / "nothing"), emb)


def test_append_ivf_index_refuses_sidecar_without_dim(spark, sf_dir, tmp_path):
    """The append sizes its files from the sidecar's dim, so a sidecar
    without it (an older build) is refused with a rebuild hint instead
    of a job on the index's _centroids."""
    import pytest

    from cli_rag_spark.operators.ann import append_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_no_dim")
    build_ivf_index(emb.where(F.col("vec_id") < 300), path, n_centroids=8)
    _drop_ivf_sidecar_key(path, "dim")
    with pytest.raises(ValueError, match="rebuild"):
        append_ivf_index(spark, path, emb.where(F.col("vec_id") >= 300))


def test_refined_build_persists_quantizer_sidecar(spark, sf_dir, tmp_path):
    """refine_iters>0: the _centroids sidecar holds the REFINED
    quantizer (differs from seeds), is invisible to the index read,
    and ivf_topk_persisted probes with it end to end."""
    import glob as _glob

    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import (
        build_ivf_index,
        ivf_topk_persisted,
        read_ivf_centroids,
        read_ivf_index,
        seed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_ref")
    returned = build_ivf_index(emb, path, n_centroids=8, refine_iters=2)
    assert _glob.glob(f"{path}/_centroids/*.parquet")

    side = read_ivf_centroids(spark, path)
    assert side.count() == 8
    # sidecar == what build returned, != the raw seeds
    got = {r["cid"]: tuple(r["cvec"]) for r in side.collect()}
    ret = {r["cid"]: tuple(r["cvec"]) for r in returned.collect()}
    assert got == ret
    seeds = {
        r["cid"]: tuple(float(x) for x in r["cvec"])
        for r in seed_centroids(emb, 8).collect()
    }
    assert got != seeds
    # index read does NOT surface sidecar rows
    idx = read_ivf_index(spark, path, n_centroids=8)
    assert idx.count() == emb.count()
    # persisted probe answers sanely (exact nearest must appear at k=1
    # when the probe covers its list; just check determinism + shape)
    q = emb.where(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    r1 = [tuple(r) for r in ivf_topk_persisted(spark, path, q, 5, 2).collect()]
    r2 = [tuple(r) for r in ivf_topk_persisted(spark, path, q, 5, 2).collect()]
    assert r1 == r2 and len(r1) == 5
    assert r1[0][0] == 3  # self is its own nearest neighbour


def test_append_uses_refined_quantizer(spark, sf_dir, tmp_path):
    """Appending to a refined index must assign against the persisted
    refined centroids — base+append == one-shot refined build."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import append_ivf_index, build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    base = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)

    inc_path = str(tmp_path / "ivf_ref_inc")
    build_ivf_index(base, inc_path, n_centroids=8, refine_iters=2)
    append_ivf_index(spark, inc_path, batch)

    # one-shot: refine on BASE (the quantizer the incremental index
    # owns), then assign the full set — replicating what the two-step
    # path must equal
    from cli_rag_spark.operators.ann import (
        assign_centroids,
        kmeans_refine,
        seed_centroids,
    )

    cent = kmeans_refine(base, seed_centroids(base, 8), n_iters=2, round_digits=6)
    expected = emb.join(assign_centroids(emb, cent), "vec_id")
    key = lambda df: sorted((r["vec_id"], r["cid"]) for r in df.collect())
    got = spark.read.parquet(inc_path).select("vec_id", "cid")
    assert key(got) == key(expected)


def test_reuse_if_exists_skips_rebuild_on_identical_input(spark, sf_dir, tmp_path):
    """reuse_if_exists=True on byte-identical (data, params) returns
    the persisted quantizer without rewriting the index files."""
    import os

    from cli_rag_spark.operators.ann import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    path = str(tmp_path / "ivf_reuse")
    first = build_ivf_index(emb, path, n_centroids=8)
    meta = os.path.join(path, "_ivf_meta.json")
    mtime_before = os.path.getmtime(meta)
    again = build_ivf_index(emb, path, n_centroids=8, reuse_if_exists=True)
    assert os.path.getmtime(meta) == mtime_before, "reuse must not rewrite"
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(again) == key(first)


def test_reuse_if_exists_rejects_changed_content_at_same_count(spark, sf_dir, tmp_path):
    """ADVICE r7 #2: a row count alone let regenerated same-cardinality
    data silently reuse a stale index. The content fingerprint must
    force a rebuild when the vectors change but the count does not."""
    import json as _json
    import os

    from cli_rag_spark.operators.ann import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    path = str(tmp_path / "ivf_content")
    build_ivf_index(emb, path, n_centroids=8)
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        fp_before = _json.load(f)["content_fp"]

    # same row count, same ids, same first/last components and dim —
    # ONLY an interior component changes (the adversarial case: a
    # fingerprint of endpoints alone would miss it)
    changed = emb.withColumn(
        "embedding",
        F.transform(
            "embedding", lambda x, i: F.when(i == 2, -x).otherwise(x)
        ),
    )
    assert changed.count() == emb.count()
    build_ivf_index(changed, path, n_centroids=8, reuse_if_exists=True)
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta_after = _json.load(f)
    assert meta_after["content_fp"] != fp_before, "rebuild must have run"


def test_reuse_if_exists_rejects_pre_fingerprint_metadata(spark, sf_dir, tmp_path):
    """An index persisted before the content_fp field existed must fall
    through to a rebuild (never a blind reuse)."""
    import json as _json
    import os

    from cli_rag_spark.operators.ann import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    path = str(tmp_path / "ivf_legacy")
    build_ivf_index(emb, path, n_centroids=8)
    meta_file = os.path.join(path, "_ivf_meta.json")
    with open(meta_file) as f:
        meta = _json.load(f)
    del meta["content_fp"]
    with open(meta_file, "w") as f:
        _json.dump(meta, f)
    # drop the Hadoop local-FS checksum sidecar invalidated by the
    # out-of-band rewrite (ChecksumFileSystem verifies on read)
    crc = os.path.join(path, "._ivf_meta.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    mtime_degraded = os.path.getmtime(meta_file)
    build_ivf_index(emb, path, n_centroids=8, reuse_if_exists=True)
    assert os.path.getmtime(meta_file) > mtime_degraded, "must rebuild"
    with open(meta_file) as f:
        assert "content_fp" in _json.load(f)


def test_build_ivf_index_empty_input(spark, tmp_path):
    # ADVICE r8 low: bit_xor over zero rows is NULL — the empty input
    # must map to fp=0 and build an empty index, not raise TypeError
    import pytest

    from cli_rag_spark.operators.ann import build_ivf_index, tune_n_probe

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf_empty")
    centroids = build_ivf_index(empty, path, n_centroids=4)
    assert centroids.count() == 0
    with pytest.raises(ValueError, match="no scorable vectors"):
        tune_n_probe(spark, path, empty.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        ))


def test_default_n_centroids_sqrt_rule():
    """VERDICT r9 #3: C ~ sqrt(N) as executable policy, clamped to
    [1, 65536]."""
    import pytest

    from cli_rag_spark.operators.ann import default_n_centroids

    assert default_n_centroids(0) == 1
    assert default_n_centroids(1) == 1
    assert default_n_centroids(100) == 10
    assert default_n_centroids(2_000) == 44          # isqrt, not round
    assert default_n_centroids(10_000_000) == 3162
    assert default_n_centroids(10**12) == 65536      # upper clamp
    with pytest.raises(ValueError, match="non-negative"):
        default_n_centroids(-1)


def test_build_ivf_index_defaults_to_sqrt_n(spark, sf_dir, tmp_path):
    """n_centroids=None sizes the quantizer by the sqrt rule from the
    row count the build already computes — the persisted meta records
    the RESOLVED C, so readers open it without knowing the policy."""
    import json

    from cli_rag_spark.operators.ann import (
        build_ivf_index,
        default_n_centroids,
        read_ivf_index,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    path = str(tmp_path / "ivf_sqrt")
    cents = build_ivf_index(emb, path)
    want_c = default_n_centroids(n)
    assert cents.count() == want_c
    with open(f"{path}/_ivf_meta.json") as f:
        assert json.load(f)["n_centroids"] == want_c
    # open-time validation still works against the resolved C
    idx = read_ivf_index(spark, path, n_centroids=want_c)
    assert idx.select("cid").distinct().count() <= want_c
    # reuse path resolves the same default -> no rebuild
    again = build_ivf_index(emb, path, reuse_if_exists=True)
    assert again.count() == want_c


def test_default_n_probe_rule():
    """VERDICT r10 #1: the probe-width companion of C ~ √N — n_probe =
    isqrt(C), floor 1, never more than C. A fixed n_probe under grown
    C probes a collapsing fraction; √C keeps the probed fraction at
    C^-1/2 and probe volume sub-linear (N^(3/4) under C=√N)."""
    import pytest

    from cli_rag_spark.operators.ann import default_n_probe

    assert default_n_probe(1) == 1
    assert default_n_probe(2) == 1
    assert default_n_probe(4) == 2
    assert default_n_probe(44) == 6
    assert default_n_probe(141) == 11
    assert default_n_probe(447) == 21
    assert default_n_probe(65536) == 256
    with pytest.raises(ValueError, match="n_centroids"):
        default_n_probe(0)


def test_knn_join_auto_default_n_probe_uses_rule(spark, sf_dir, tmp_path):
    """knn_join_auto with n_probe unset must probe default_n_probe(C)
    lists — pinned by matching the explicit-probe run."""
    from cli_rag_spark.operators.ann import (
        build_ivf_index,
        default_n_probe,
        knn_join_ivf,
        read_ivf_index,
    )
    from cli_rag_spark.operators.knn import knn_join_auto
    from cli_rag_spark.sources.documents import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_nprobe_rule")
    build_ivf_index(emb, path, n_centroids=9)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    auto = knn_join_auto(
        q, emb, k=3, n_index=10_000_000_000, ivf_path=path, n_centroids=9,
    )
    direct = knn_join_ivf(
        q, read_ivf_index(spark, path, 9), k=3, n_centroids=9,
        n_probe=default_n_probe(9), validate_cid=False,
    )
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # and the rule differs from the old C//4 default here (9//4=2 vs 3)
    assert default_n_probe(9) == 3


def test_tune_n_probe_targets_recall(spark, sf_dir, tmp_path):
    """VERDICT r10 #7b: the recall-targeted tuner returns the smallest
    ladder width meeting the target, measured against exact ground
    truth over the index's own vectors; a full-target search ends at
    a width whose measured recall actually meets it, and a trivial
    target gets the cheapest probe."""
    import pytest
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import (
        build_ivf_index,
        default_n_probe,
        tune_n_probe,
    )
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_tune")
    build_ivf_index(emb, path, n_centroids=9)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    probe, recall = tune_n_probe(spark, path, q, target_recall=1.0, k=3)
    assert 1 <= probe <= 9
    assert recall == 1.0  # probing every list reproduces exact top-k,
    # so the ladder's terminal rung guarantees a 1.0-target terminates
    # tiny target: the cheapest rung that clears it (ladder starts at 1)
    probe_lo, recall_lo = tune_n_probe(spark, path, q, target_recall=0.05, k=3)
    assert probe_lo <= probe
    assert recall_lo >= 0.05
    # monotone: a wider-probe requirement never picks a narrower width;
    # rungs are the r12 pure power-of-two ladder capped at C (ADVICE
    # r11: the old 1 -> default_n_probe jump could overshoot the
    # minimal sufficient width by up to the default)
    assert probe_lo in (1, 2, 4, 8, 9)
    assert default_n_probe(9) == 3  # the unset-dispatch default is
    # NOT automatically a rung anymore — the ladder is finer than it
    with pytest.raises(ValueError, match="target_recall"):
        tune_n_probe(spark, path, q, target_recall=0.0)
    with pytest.raises(ValueError, match="target_recall"):
        tune_n_probe(spark, path, q, target_recall=1.5)


def test_ivf_rung_recalls_match_sequential(spark, sf_dir, tmp_path):
    """r15 (guide §2.4): the pair-batched ladder evaluation
    (_ivf_rung_recalls — one probe join at the batch max width, rung
    membership = the probe window's _rn prefix) must produce, for
    every rung, EXACTLY the recall the rung-at-a-time walk computed
    (knn_join_ivf + topk_recall + avg) — the tuner's selected width
    and booked recall hang on this equality."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.ann import (
        _ivf_rung_recalls,
        build_ivf_index,
        knn_join_ivf,
        read_ivf_index,
    )
    from cli_rag_spark.operators.knn import knn_join_gemm, topk_recall
    from cli_rag_spark.sources.documents import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_rungs")
    c = 9
    build_ivf_index(emb, path, n_centroids=c)
    index = read_ivf_index(spark, path, n_centroids=c)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    k = 3
    exact = knn_join_gemm(q, emb, k=k, dim=64).localCheckpoint(eager=True)
    widths = [1, 2, 4, 8]
    batched = _ivf_rung_recalls(q, index, exact, k, c, widths)
    for w in widths:
        approx = knn_join_ivf(q, index, k, c, w, validate_cid=False)
        row = (
            topk_recall(exact, approx, k=k)
            .agg(F.avg("recall").alias("r"))
            .first()
        )
        sequential = float(row["r"]) if row["r"] is not None else 0.0
        # double AVG is summation-order-dependent at the last ULP and
        # the batched plan aggregates under different partitioning, so
        # equality is asserted to 1e-9 — any real candidate/rank bug
        # moves recall by >= 1/(k*Q) ~ 0.04, seven orders larger
        assert abs(batched[w] - sequential) < 1e-9, (w, batched[w], sequential)
