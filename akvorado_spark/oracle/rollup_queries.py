"""Oracle-gated rollup routing: the engine's custom optimizer feature
(SURVEY §4 "aggregate/materialized-view routing", §2.4 A3, §2.9 T5).

The reference serves every graph query from the *coarsest* rollup table
whose resolution and retention cover the request
(console/clickhouse.go:270-335); the rollups themselves are
SummingMergeTree aggregates of the main table
(orchestrator/clickhouse/migrations_helpers.go:450-456, 730-772).
The correctness contract is: **a query routed to any rollup returns
exactly what the same query computes on the raw rows**.

This suite checks that contract end-to-end through the production
stack: a flow frame derived deterministically from ``events`` is
ingested with the REAL ``FlowStore`` (partitioned parquet write →
rollup build), each variant routes through the REAL ``best_table``,
and the routed table's aggregate — with the chosen table name and
snapped interval embedded as columns — must hash-match DuckDB's
prediction computed straight from the raw ``events`` table.  A wrong
routing decision, a wrong snap, or any rollup-merge error flips the
hash.

Scale notes: the store build is the ingest path (one range-partitioned
write + one shuffle per resolution with map-side partial aggregation);
the routed queries then scan orders of magnitude fewer rows than the
raw table — at 100 TB this routing is the difference between scanning
a 1-hour rollup (~1/3600 of raw) and the full fact table.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from akvorado_spark.oracle.registry import register
from akvorado_spark.plans.rollup import FlowStore
from akvorado_spark.schema.definition import flows_schema
from akvorado_spark.sources.tables import load_table

# The derived flow frame: identical arithmetic in Spark SQL and DuckDB.
# Only the columns of the *configured* schema (below) are produced —
# the registry's optional dimensions are disabled through the schema
# config surface (reference common/schema/config.go:54-104), which is
# itself part of what this suite exercises.
_FLOW_SQL = """
SELECT
  ts AS TimeReceived,
  CAST(1000 AS BIGINT) AS SamplingRate,
  unhex(concat('00000000000000000000ffff', 'c00002',
               lpad(hex(user_id % 8 + 1), 2, '0'))) AS ExporterAddress,
  concat('router', CAST(user_id % 8 + 1 AS STRING)) AS ExporterName,
  CAST(64512 + user_id % 20 AS INT) AS SrcAS,
  CAST(64512 + event_id % 20 AS INT) AS DstAS,
  concat('Gi0/0/', CAST(event_id % 4 AS STRING)) AS InIfName,
  concat('Gi0/0/', CAST(user_id % 4 AS STRING)) AS OutIfName,
  CAST(2048 AS INT) AS EType,
  CAST(CASE WHEN event_id % 3 = 0 THEN 17 ELSE 6 END AS INT) AS Proto,
  CAST(64 AS INT) AS ForwardingStatus,
  CAST(ROUND(value * 100) AS BIGINT) AS Bytes,
  CAST(1 + event_id % 16 AS BIGINT) AS Packets
FROM {src}
"""

# Every optional (non-primary) dimension the derived frame doesn't
# carry is disabled via the config surface; what remains is exactly
# the frame above.
_DISABLE = (
    "ExporterGroup", "ExporterRole", "ExporterSite", "ExporterRegion",
    "ExporterTenant", "SrcAddr", "DstAddr", "SrcNetMask", "DstNetMask",
    "SrcNetPrefix", "DstNetPrefix", "SrcNetName", "DstNetName",
    "SrcNetRole", "DstNetRole", "SrcNetSite", "DstNetSite",
    "SrcNetRegion", "DstNetRegion", "SrcNetTenant", "DstNetTenant",
    "SrcCountry", "DstCountry", "SrcGeoState", "DstGeoState",
    "SrcGeoCity", "DstGeoCity", "SrcPort", "DstPort",
    "InIfDescription", "OutIfDescription", "InIfSpeed", "OutIfSpeed",
    "InIfConnectivity", "OutIfConnectivity", "InIfProvider",
    "OutIfProvider", "InIfBoundary", "OutIfBoundary",
    "DstASPath", "Dst1stAS", "Dst2ndAS", "Dst3rdAS",
    "DstCommunities", "DstLargeCommunities",
    "PacketSize", "PacketSizeBucket", "FlowDirection", "NextHop",
)


def routed_schema():
    return flows_schema().configure(disable=_DISABLE)


# One store per (session, sf_dir): building it is ingest-time work (the
# reference's orchestrator creates these tables once, not per query) —
# same materialize-once policy as the flows_v fact view, and its tempdir
# is removed when the session is collected or at interpreter exit.
_STORES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def get_store(spark, sf_dir: str) -> FlowStore:
    per = _STORES.setdefault(spark, {})
    store = per.get(sf_dir)
    if store is not None:
        return store
    root = tempfile.mkdtemp(prefix="akvorado_rollups_")
    weakref.finalize(spark, shutil.rmtree, root, True)
    store = FlowStore(spark, root, schema=routed_schema())
    # private view name: never collide with driver-registered views
    load_table(spark, "events", sf_dir).createOrReplaceTempView("__rollup_src_events")
    store.write_main(spark.sql(_FLOW_SQL.format(src="__rollup_src_events")))
    store.build_rollups()
    per[sf_dir] = store
    return store


# The events corpus spans 2024-01-01 .. 2024-01-31 (TESTDATA seed 42);
# variant ranges are fixed literals so routing is deterministic.
_RANGE_FULL = ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
_RANGE_DAY = ("2024-01-05 00:00:00", "2024-01-06 00:00:00")
_RANGE_6H = ("2024-01-05 00:00:00", "2024-01-05 06:00:00")

# variant → (target interval, range, require_main, expected table)
# The EXPECTED table is not consulted by the Spark side — it re-derives
# the choice through best_table; only the oracle pins it, so a routing
# regression hash-mismatches.
# Reference coverage rule (clickhouse.go:283-335): a table covers only
# when the range START lies a full resolution bucket after its oldest
# data.  A range opening at the corpus's first instant therefore covers
# nothing and takes the oldest-data fallback — pinned by its own
# variant below.
_RANGE_COVERED = ("2024-01-02 00:00:00", "2024-02-01 00:00:00")
_RANGE_BEFORE = ("2023-12-01 00:00:00", "2024-02-01 00:00:00")

_VARIANTS = {
    "t7200_1h": (7200, _RANGE_COVERED, False, "flows_3600s", 7200),
    "t90_1m": (90, _RANGE_DAY, False, "flows_60s", 60),
    "t30_main": (30, _RANGE_6H, False, "flows", 30),
    "t7200_force_main": (7200, _RANGE_COVERED, True, "flows", 7200),
    # start before ANY data: no table covers; the fallback picks the
    # table reaching back furthest (all share the day-1 oldest, so the
    # raw table's 1 s slack wins) — the reference's
    # "all tables out of range" case
    "t7200_fallback_oldest": (7200, _RANGE_BEFORE, False, "flows", 7200),
}


def _utc(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)


def _routed_member(store: FlowStore, variant: str):
    target, (lo, hi), require_main, _table, _snap = _VARIANTS[variant]
    res, snapped = store.best_table(_utc(lo), _utc(hi), target, require_main=require_main)
    df = store.read(res)
    # integer `div` — double division would mis-floor near bucket edges
    step_us = snapped * 1_000_000
    bucket = F.expr(
        f"unix_micros(CAST(TimeReceived AS TIMESTAMP)) div {step_us}"
    ) * F.lit(snapped).cast("long")
    # fps: COUNT(*) on the main table; SUM(Flows) on a rollup — the
    # `Flows` column preserves pre-merge row counts exactly (A1 on
    # rollups; plans/rollup.py).
    n_flows = (
        F.count(F.lit(1)) if res.interval_s == 0 else F.sum("Flows")
    ).cast("long")
    # part_date predicate first — prunes whole date partitions before
    # the row-level TimeReceived filter reaches the parquet reader
    # (at 100 TB this is the difference between listing 2 directories
    # and scanning a year of them); [lo, hi) in dates is
    # [date(lo), date(hi - 1s)] since bucket flooring never crosses a
    # day boundary backwards past a resolution multiple.
    d_lo = _utc(lo).date()
    d_hi = (_utc(hi) - timedelta(seconds=1)).date()
    return (
        df.filter(
            (F.col("part_date") >= F.lit(d_lo)) & (F.col("part_date") <= F.lit(d_hi))
        )
        .filter(
            (F.col("TimeReceived") >= F.lit(lo).cast("timestamp"))
            & (F.col("TimeReceived") < F.lit(hi).cast("timestamp"))
        )
        .groupBy(bucket.alias("bucket"), F.col("ExporterName").alias("exporter"))
        .agg(
            n_flows.alias("n_flows"),
            F.sum("Bytes").cast("long").alias("sum_bytes"),
            F.sum(F.col("Bytes") * F.col("SamplingRate") * 8).cast("long").alias("l3bits"),
        )
        .select(
            F.lit(variant).alias("variant"),
            F.lit(res.table_name).alias("table_name"),
            F.lit(snapped).cast("long").alias("interval_s"),
            "bucket", "exporter", "n_flows", "sum_bytes", "l3bits",
        )
    )


def _suite_spark(spark, sf_dir):
    store = get_store(spark, sf_dir)
    parts = [_routed_member(store, v) for v in _VARIANTS]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _member_oracle(variant: str) -> str:
    target, (lo, hi), _require_main, table, snapped = _VARIANTS[variant]
    step_us = snapped * 1_000_000
    return f"""
SELECT '{variant}' AS variant, '{table}' AS table_name,
       CAST({snapped} AS BIGINT) AS interval_s,
       (epoch_us(ts) // {step_us}) * {snapped} AS bucket,
       concat('router', CAST(user_id % 8 + 1 AS VARCHAR)) AS exporter,
       COUNT(*) AS n_flows,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_bytes,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * 1000 * 8) AS BIGINT) AS l3bits
FROM events
WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'
GROUP BY bucket, exporter"""


_SUITE_ORACLE = " UNION ALL ".join(_member_oracle(v) for v in _VARIANTS)

register("rollup_route_suite", _suite_spark, _SUITE_ORACLE)
