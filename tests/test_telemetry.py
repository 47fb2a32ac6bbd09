"""The query-cost reads in ``akvorado_spark.telemetry``: the py4j
command counter, the status-store stage snapshot and the plan-structure
hash.  Each is best effort and must add no Spark job to what it
measures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from akvorado_spark import telemetry


def _drain_listener(spark) -> None:
    # the status store is filled by an asynchronous listener: wait until
    # it has seen every event of the jobs that already returned
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _jobs_of(spark, action) -> int:
    with telemetry.spark_jobs(spark) as jobs:
        action()
    return jobs[0]


def test_stage_snapshot_degrades_to_none_on_reflection_drift():
    """A Spark upgrade that changes the Scala default-arg mangling must
    yield None (no fingerprint), never an exception into the loop."""

    class _Boom:
        def __getattr__(self, name):  # statusStore(), $default$N, anything
            raise RuntimeError("py4j signature changed")

    class _FakeSpark:
        sparkContext = _Boom()

    assert telemetry.stage_snapshot(_FakeSpark()) is None


def test_canonical_plan_structure_strips_ids_keeps_structure():
    """Same operator tree with different exprIds / codegen ids / stats
    canonicalizes identically; a structural change (join strategy,
    added exchange) does not."""
    a = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#12L], functions=[sum(v#34L)])
   +- Exchange hashpartitioning(k#12L, 32), ENSURE_REQUIREMENTS, [plan_id=61]
      +- *(2) BroadcastHashJoin [k#12L], [id#7L], Inner, BuildRight, false
         :- *(1) Range (0, 1000, step=1, splits=4)
         +- BroadcastExchange HashedRelationBroadcastMode
            +- *(1) Range (0, 50, step=1, splits=4)"""
    b = a.replace("#12L", "#99L").replace("*(2)", "*(7)").replace(
        "plan_id=61", "plan_id=8"
    ).replace("splits=4", "splits=16")
    canon = telemetry.canonical_plan_structure
    assert canon(a) == canon(b)
    c = a.replace("BroadcastHashJoin", "SortMergeJoin").replace(
        "BuildRight", "BuildLeft"
    )
    assert canon(a) != canon(c)
    # depth (tree shape) matters, not just the operator multiset
    assert "0|AdaptiveSparkPlan" in canon(a)
    assert "Inner,BuildRight" in canon(a)


def test_stage_snapshot_fields(spark):
    before = telemetry.stage_snapshot(spark)
    assert before is not None
    spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count().count()
    _drain_listener(spark)
    after = telemetry.stage_snapshot(spark, before)
    new = telemetry.new_stages(before, after)
    assert new
    for rec in new:
        assert set(rec) == {
            "shuffle_write_bytes",
            "shuffle_read_bytes",
            "input_bytes",
            "spill_disk_bytes",
            "tasks",
        }
        assert all(isinstance(v, int) for v in rec.values())
    # the aggregation shuffles: one side writes what the other reads
    assert sum(r["shuffle_write_bytes"] for r in new) > 0
    assert sum(r["shuffle_read_bytes"] for r in new) > 0
    assert sum(r["tasks"] for r in new) > 0
    # stages of a known snapshot keep their record; none is re-read
    again = telemetry.stage_snapshot(spark, after)
    assert all(again[k] is after[k] for k in after if k in again)


def test_py4j_counter_skips_proxy_deletes(spark):
    client = spark.sparkContext._gateway._gateway_client
    proxy = spark._jvm.java.util.ArrayList()
    with telemetry.py4j_commands(spark) as n:
        proxy.size()
        counted = n[0]
        # py4j's own release path: one "m\nd\n<id>" command to the JVM
        client.garbage_collect_object(proxy._target_id, enqueue=False)
        assert n[0] == counted
    assert counted == 1


def test_py4j_counter_detaches_when_block_raises(spark):
    with pytest.raises(RuntimeError):
        with telemetry.py4j_commands(spark) as n:
            spark.range(3).columns  # noqa: B018 — sends py4j commands
            raise RuntimeError("boom")
    counted = n[0]
    assert counted > 0
    # the gateway still answers, and nothing is counted any more
    assert spark.range(3).columns == ["id"]
    assert n[0] == counted


def test_measuring_a_count_adds_no_spark_jobs(spark):
    df = spark.range(5000).groupBy((F.col("id") % 7).alias("k")).count()

    def measured():
        before = telemetry.stage_snapshot(spark)
        with telemetry.py4j_commands(spark) as n, telemetry.codegen_compiles(spark) as c:
            phash = telemetry.plan_structure_hash(df)
            df.count()
        after = telemetry.stage_snapshot(spark, before)
        assert before is not None and after is not None
        assert phash and n[0] > 0 and c[0] is not None

    plain = _jobs_of(spark, df.count)
    assert plain > 0
    assert _jobs_of(spark, measured) == plain


def test_codegen_counter_counts_compiles_and_runs_no_job(spark):
    import random

    # an inlined literal no other test uses: this plan's classes are new
    k = random.getrandbits(40) + 1
    fresh = lambda: spark.range(50).selectExpr(f"id * {k} + 1 AS x").agg({"x": "sum"})  # noqa: E731

    def read_empty():
        with telemetry.codegen_compiles(spark) as c:
            pass
        assert c[0] == {"compiles": 0, "compile_ms": 0.0}

    assert _jobs_of(spark, read_empty) == 0
    with telemetry.codegen_compiles(spark) as first:
        fresh().collect()
    with telemetry.codegen_compiles(spark) as again:
        fresh().collect()
    assert first[0]["compiles"] > 0 and first[0]["compile_ms"] > 0
    assert again[0] == {"compiles": 0, "compile_ms": 0.0}


def test_codegen_counter_degrades_to_none_on_reflection_drift():
    class _FakeSpark:
        sparkContext = None  # no ._jvm: the counters cannot be reached

    with telemetry.codegen_compiles(_FakeSpark()) as c:
        pass
    assert c[0] is None


def test_job_counter_counts_a_block_and_restores_the_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("outer-group", "outer")
    try:
        with telemetry.spark_jobs(spark) as none:
            pass
        with telemetry.spark_jobs(spark) as one:
            spark.range(10).collect()
        with telemetry.spark_jobs(spark) as nested:
            with telemetry.spark_jobs(spark) as inner:
                spark.range(10).collect()
            spark.range(10).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert none[0] == 0 and one[0] == 1
    # the inner block's job counts in its own group only
    assert inner[0] == 1 and nested[0] == 1


def test_job_counter_degrades_to_none_on_reflection_drift():
    class _FakeSpark:
        sparkContext = None  # no status tracker: the count cannot be read

    with telemetry.spark_jobs(_FakeSpark()) as j:
        pass
    assert j[0] is None
