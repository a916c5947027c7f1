"""Session-config regression gates (r6 postmortem).

Round 6's driver bench crashed with a flaky cumulative broadcast OOM:
local-mode execution puts every broadcast build on the DRIVER heap,
the session never set spark.driver.memory (Spark default 1g), and a
59-query marathon in one JVM accumulated broadcast blocks faster than
the ContextCleaner freed them (periodicGC default 30min > the whole
marathon). Per-query tests in fresh JVMs passed throughout — exactly
how the failure escaped every gate. These tests pin the fix at the
root: they FAIL under the pre-r7 session config (1g heap, no periodic
GC, 64MB broadcast threshold) and pass on the fixed one.

The full-fidelity rehearsal is scripts/marathon_check.py (the entire
bench HEADLINE in one session at sf0.1); these assertions are the
fast every-run subset.
"""

from __future__ import annotations

import os

import pytest

from cli_rag_spark.session import configure

from pyspark.sql import SparkSession

# The documented knob for memory-constrained hosts; when it is set the
# absolute-floor assertions below would fail even though the config
# plumbing works (ADVICE r7 #4) — those tests assert the CONFIGURED
# value reached the JVM instead.
_MEM_OVERRIDE = os.environ.get("SPARK_GRAFT_DRIVER_MEM")


def _configured_conf() -> dict[str, str]:
    builder = configure(SparkSession.builder)
    # Builder internals: _options is the staged config map.
    return dict(builder._options)


def test_driver_memory_is_explicit():
    conf = _configured_conf()
    mem = conf.get("spark.driver.memory", "")
    if _MEM_OVERRIDE is not None:
        assert mem == _MEM_OVERRIDE, (
            "SPARK_GRAFT_DRIVER_MEM is set but did not reach the builder"
        )
        return
    assert mem.endswith("g") and int(mem[:-1]) >= 4, (
        "session must pin spark.driver.memory >= 4g: local-mode broadcast "
        "builds land on the driver heap and the 1g default OOMs the bench "
        "marathon (BENCH_r06 rc=1)"
    )


def test_periodic_gc_inside_marathon_runtime():
    conf = _configured_conf()
    interval = conf.get("spark.cleaner.periodicGC.interval", "30min")
    assert interval.endswith("min") and int(interval[:-3]) <= 5, (
        "ContextCleaner frees broadcast blocks only after a GC collects "
        "their weak refs; the default 30min periodic GC never fires inside "
        "a bench marathon"
    )


def test_broadcast_threshold_bounded():
    conf = _configured_conf()
    threshold = int(conf["spark.sql.autoBroadcastJoinThreshold"])
    assert threshold <= 32 * 1024 * 1024, (
        "64MB let AQE broadcast mid-size derived tables whose size "
        "estimate was under the threshold but whose built relation was "
        "~5x bigger (r6 ngram_novelty incident)"
    )


def test_live_jvm_heap_reflects_config(spark):
    # The conftest session is the process's first get_session(), so the
    # driver-memory config must have reached the JVM launch. Under the
    # pre-r7 config this reads ~0.9 GiB. When the documented
    # SPARK_GRAFT_DRIVER_MEM override is in play (e.g. a
    # memory-constrained CI host sets it below the default — ADVICE r7
    # #4), a fixed 4 GiB floor would fail on working plumbing, so
    # assert against the configured value instead: the live heap must
    # be within the usual JVM bookkeeping margin of -Xmx (maxMemory()
    # reports less than -Xmx by up to ~1/16 for reserved areas).
    max_bytes = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    if _MEM_OVERRIDE is not None:
        if not _MEM_OVERRIDE.endswith("g"):
            pytest.skip(f"non-gigabyte SPARK_GRAFT_DRIVER_MEM={_MEM_OVERRIDE!r}")
        want_gib = int(_MEM_OVERRIDE[:-1])
        assert max_bytes > want_gib * (1 << 30) * 13 // 16, (
            f"driver JVM -Xmx is {max_bytes / (1 << 30):.2f} GiB vs the "
            f"configured {want_gib} GiB; SPARK_GRAFT_DRIVER_MEM did not "
            "reach the JVM launch"
        )
        return
    assert max_bytes > 4 * (1 << 30), (
        f"driver JVM -Xmx is {max_bytes / (1 << 30):.2f} GiB; "
        "spark.driver.memory did not reach the JVM launch"
    )


def test_initial_partitions_knob(monkeypatch):
    """SPARK_GRAFT_INITIAL_PARTITIONS must reach the AQE conf when set
    (the 100x rehearsals and deployments depend on it — ledger 0r),
    stay ABSENT when unset (the measured local default), and fail
    fast on a non-positive value."""
    import pytest
    from pyspark.sql import SparkSession

    from cli_rag_spark.session import configure

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

    monkeypatch.delenv("SPARK_GRAFT_INITIAL_PARTITIONS", raising=False)
    b = configure(SparkSession.builder)
    assert key not in b._options

    monkeypatch.setenv("SPARK_GRAFT_INITIAL_PARTITIONS", "256")
    b = configure(SparkSession.builder)
    assert b._options.get(key) == "256"

    monkeypatch.setenv("SPARK_GRAFT_INITIAL_PARTITIONS", "0")
    with pytest.raises(ValueError, match="must be >= 1"):
        configure(SparkSession.builder)


def test_spread_small_input_conditions(spark):
    """r16 spread_small_input: repartitions a below-parallelism frame
    to the session's parallelism, leaves an at-parallelism frame
    UNTOUCHED (the real-scale no-op guarantee), and never reorders
    values in a way an exact aggregate can see."""
    from pyspark.sql import functions as F

    from cli_rag_spark.session import spread_small_input

    par = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame([(i,) for i in range(100)], "v long").coalesce(1)
    spread = spread_small_input(small)
    assert spread.rdd.getNumPartitions() == par
    assert spread.agg(F.sum("v")).collect()[0][0] == 4950

    wide = small.repartition(par)
    assert spread_small_input(wide) is wide  # no-op, not a new plan


def test_spread_small_input_leaves_post_aggregate_frame_unexecuted(spark):
    """A post-aggregate frame is returned unchanged, and deciding so
    runs nothing: the upstream per-row work executes exactly once, in
    the caller's own action (asking the frame for its partition count
    would plan it and, under AQE, run its upstream shuffle first)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from cli_rag_spark.session import spread_small_input

    calls = spark.sparkContext.accumulator(0)

    def counted(v):
        calls.add(1)
        return v % 7

    key = F.udf(counted, LongType())
    src = spark.range(200).coalesce(1)
    agg = src.groupBy(key("id").alias("k")).agg(F.count(F.lit(1)).alias("n"))
    spread = spread_small_input(agg)
    assert calls.value == 0
    assert spread is agg
    assert sum(r["n"] for r in spread.collect()) == 200
    assert calls.value == 200
