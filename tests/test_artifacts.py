"""Persisted derived-table artifacts (sources/artifacts.py) and the
shared trade-graph (plans/trade_graph.py): build-once/reuse semantics,
fingerprint invalidation, and equivalence to the direct derivation."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from cli_rag_spark.sources.artifacts import (
    persisted_artifact,
    sweep_stale_stagings,
    table_files_fingerprint,
)


def _build_counter(spark, calls):
    def build():
        calls.append(1)
        return spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")

    return build


def test_persisted_artifact_builds_then_reuses(spark, tmp_path):
    path = str(tmp_path / "art")
    calls: list[int] = []
    fp = {"v": 1, "inputs": [["f", 10, 20]]}
    a = persisted_artifact(spark, path, fp, _build_counter(spark, calls))
    assert a.count() == 2 and calls == [1]
    # identical fingerprint: the parquet is read, build() never runs
    b = persisted_artifact(spark, path, fp, _build_counter(spark, calls))
    assert b.count() == 2 and calls == [1]
    # returned plan is a scan of the artifact, not the build lineage
    assert "parquet" in b._jdf.queryExecution().executedPlan().toString().lower()


def test_persisted_artifact_rebuilds_on_fingerprint_change(spark, tmp_path):
    path = str(tmp_path / "art")
    calls: list[int] = []
    persisted_artifact(spark, path, {"v": 1}, _build_counter(spark, calls))
    persisted_artifact(spark, path, {"v": 2}, _build_counter(spark, calls))
    assert calls == [1, 1]  # version bump invalidates
    # missing meta (e.g. crash between parquet and meta) => rebuild
    os.remove(f"{path}/_artifact_meta.json")
    persisted_artifact(spark, path, {"v": 2}, _build_counter(spark, calls))
    assert calls == [1, 1, 1]


def test_table_files_fingerprint_tracks_rewrites(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "x long").write.parquet(p)
    fp1 = table_files_fingerprint(spark, p)
    assert fp1 and all(len(e) == 3 for e in fp1)
    assert not any(e[0].startswith("_") for e in fp1)  # no _SUCCESS
    spark.createDataFrame([(1,), (2,)], "x long").write.mode(
        "overwrite"
    ).parquet(p)
    assert table_files_fingerprint(spark, p) != fp1
    with pytest.raises(ValueError, match="does not exist"):
        table_files_fingerprint(spark, str(tmp_path / "missing"))


def test_trade_pairs_matches_direct_derivation(spark, sf_dir):
    from cli_rag_spark.plans.trade_graph import trade_pairs
    from cli_rag_spark.sources.documents import load_table

    got = {
        (r["c_node"], r["s_node"]): r["w"]
        for r in trade_pairs(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    want = {
        (r["c"], r["s"]): r["w"]
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    }
    assert got == want


def test_trade_edge_views_are_consistent(spark, sf_dir):
    from cli_rag_spark.plans.trade_graph import (
        trade_edges_bidir,
        trade_edges_bidir_int,
        trade_edges_directed,
        trade_pairs,
    )

    n_pairs = trade_pairs(spark, sf_dir).count()
    assert trade_edges_directed(spark, sf_dir).count() == n_pairs
    bidir = trade_edges_bidir(spark, sf_dir)
    assert bidir.count() == 2 * n_pairs
    assert dict(bidir.dtypes)["w"] == "double"
    assert dict(trade_edges_bidir_int(spark, sf_dir).dtypes)["w"] == "bigint"
    # second call hits the artifact: pure parquet scan, no join in plan
    plan = (
        trade_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan


def test_stage_sweep_is_age_gated(spark, tmp_path):
    """ADVICE r9 (medium): the orphan sweep must never delete a LIVE
    concurrent builder's staging dir — only stale (>= 1h old) ones."""
    import time as _time

    path = str(tmp_path / "art")
    fresh = f"{path}.__stage__999_1"
    stale = f"{path}.__stage__999_2"
    os.makedirs(fresh)
    os.makedirs(stale)
    old = _time.time() - 2 * 60 * 60
    os.utime(stale, (old, old))
    calls: list[int] = []
    persisted_artifact(spark, path, {"v": 1}, _build_counter(spark, calls))
    assert calls == [1]
    assert os.path.isdir(fresh)          # live builder untouched
    assert not os.path.exists(stale)     # crashed orphan reclaimed


def test_dataless_staging_is_never_promoted(spark, tmp_path):
    """The promotion guard: if the staging loses its data files between
    the parquet write and the rename (the swept-and-recreated race),
    the builder raises instead of promoting a data-less artifact that
    every later caller would reuse and fail to read."""
    import pyspark.sql.readwriter as rw

    path = str(tmp_path / "art")

    def build():
        return spark.createDataFrame([(1, "a")], "k long, s string")

    # the normal path first: a healthy artifact exists
    assert persisted_artifact(spark, path, {"v": 1}, build).count() == 1

    # reproduce a concurrent sweep landing between the parquet write
    # and the meta write: wipe the staging's files right after writing
    real_parquet = rw.DataFrameWriter.parquet

    def wiping_parquet(self, p, *args, **kwargs):
        real_parquet(self, p, *args, **kwargs)
        if "__stage__" in p:
            for name in os.listdir(p):
                full = os.path.join(p, name)
                if os.path.isfile(full):
                    os.remove(full)

    rw.DataFrameWriter.parquet = wiping_parquet
    try:
        with pytest.raises(RuntimeError, match="lost its data files"):
            persisted_artifact(spark, path, {"v": 2}, build)
    finally:
        rw.DataFrameWriter.parquet = real_parquet
    # the prior healthy artifact is still intact and readable
    assert spark.read.parquet(path).count() == 1


def test_scratch_root_env_override_and_fixture_isolation(monkeypatch, tmp_path):
    """VERDICT r9 #4: the artifact root is configurable off the
    node-local tempdir, and distinct fixtures never collide under any
    root (deterministic md5 tags)."""
    import hashlib

    from cli_rag_spark.session import scratch_root

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    import tempfile

    assert scratch_root() == tempfile.gettempdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path) + "/")
    assert scratch_root() == str(tmp_path)
    tags = {
        hashlib.md5(d.encode()).hexdigest()[:12]
        for d in ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    }
    assert len(tags) == 2


def test_sweep_treats_vanished_staging_as_live(spark, tmp_path):
    """ADVICE r10 (medium): a sibling staging owned by a LIVE builder
    can vanish (promote) or churn files mid-listing — the sweep must
    treat an unreadable staging as live and move on, never abort the
    sweeping builder."""
    from cli_rag_spark.sources.artifacts import _fs, _newest_mtime_ms

    dest = str(tmp_path / "art")
    fs, root = _fs(spark, dest)
    gone = spark._jvm.org.apache.hadoop.fs.Path(
        str(tmp_path / "art.__stage__does_not_exist")
    )
    now_ms = 1_000_000
    # a vanished path reads as "live now" -> never swept
    assert _newest_mtime_ms(fs, gone, now_ms) == now_ms
    # and the full sweep over a parent containing a real fresh staging
    # plus nothing else still runs clean
    os.makedirs(str(tmp_path / "art.__stage__123_456"), exist_ok=True)
    sweep_stale_stagings(spark, dest)
    assert os.path.isdir(str(tmp_path / "art.__stage__123_456"))


def test_indexes_stay_on_the_one_artifact_path():
    """Spark-free guard: no operator module opens or creates a sidecar
    file itself (they go through sources/artifacts.py), every index
    child in operators/ann.py and operators/pq.py opens with an explicit
    schema (``spark.read.schema(...).parquet``, never an inferring
    ``spark.read.parquet(``), and the content fingerprint expression is
    defined exactly once in the package."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "cli_rag_spark"
    for mod in sorted((pkg / "operators").glob("*.py")):
        src = mod.read_text()
        for needle in ("readAllBytes", "fs.create("):
            assert needle not in src, f"{mod.name} uses {needle} directly"
    for name in ("ann.py", "pq.py"):
        src = (pkg / "operators" / name).read_text()
        assert not re.search(r"\.read\s*\.parquet\(", src), (
            f"{name} opens parquet without .schema("
        )
    fp_expr = re.compile(r"bit_xor\(\s*F\.xxhash64\(")
    hits = [
        (mod.relative_to(pkg).as_posix(), len(fp_expr.findall(mod.read_text())))
        for mod in sorted(pkg.rglob("*.py"))
    ]
    hits = [(name, n) for name, n in hits if n]
    assert hits == [("sources/artifacts.py", 1)], hits
