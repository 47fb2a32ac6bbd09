"""SparkSession factory tuned for this engine.

Local-mode defaults follow the guidance in the repo docs: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
coalescing/skew handling, Arrow on for the pandas-UDF slow path, UTC
session timezone so results compare bit-for-bit with the DuckDB oracle.

On a real cluster the same builder applies — only master/memory change;
``spark.sql.shuffle.partitions`` should then be sized to ~2-3× total
executor cores and AQE left on to coalesce post-shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "akvorado_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead of
        # maximizing parallelism — the setting Spark's own tuning guide
        # recommends for production.  The advisory size is deliberately
        # small here (4 MB, env-overridable): single-node micro-batches
        # mean scheduling overhead dominates sub-second stages, and
        # measured across the hot query suites 4 MB beats both the 64 MB
        # default (which serializes CPU-bound stages into one task) and
        # parallelism-first (which shatters tiny frames into `cpus`
        # micro-tasks): 9.9 s vs 14.2 s vs 14.5 s on the 5 hottest
        # suites.  On a real cluster raise SPARK_GRAFT_ADVISORY_PART to
        # 64-256 MB so reducers receive full-size partitions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PART", "4m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (per-partition build side fits memory):
        # the engine's equi-joins are cell-/key-grouped frames whose
        # sort adds nothing downstream (no later merge relies on the
        # order), so skipping both sorts is a pure win.  AQE's runtime
        # SMJ→SHJ rewrite is enabled alongside for plans whose sizes
        # are only known post-shuffle.  Both are size-gated, so a
        # genuinely huge build partition still falls back to SMJ.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        # Compile each generated class once per session.  The console
        # re-sends the same requests and ingest re-runs one plan per
        # micro-batch, but with Spark's defaults every repeat compiled
        # again: a 12-request perfbench console round recompiled 327
        # classes its identical warm-up had compiled (0 with these two
        # lines), an ingest round 115 (15).  Two causes, one line each.
        # AQE renumbers a plan's codegenStageId between runs, and the
        # id is part of the generated source, so an exact repeat missed
        # the cache; and the 100-entry cache is below every measured
        # working set (~250 classes for the console, 1 186 for the
        # 50-query registry), so the LRU evicted each class before its
        # repeat.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
