"""Rollup storage layer: partitioned Parquet tables + resolution router.

The Spark re-expression of the reference's ClickHouse table hierarchy
(reference: orchestrator/clickhouse/migrations_helpers.go:408-467 for
the main table, :450-456 + :730-772 for the SummingMergeTree rollups,
console/clickhouse.go:270-335 for query routing):

- **main table** — full-resolution rows, written partitioned by
  ``part_date`` (UTC date of TimeReceived) and sorted within
  partitions on the schema sorting keys, so parquet row-group min/max
  stats give the same data-skipping the reference gets from its
  ORDER BY sorting key.
- **rollups** — one table per resolution (1m/5m/1h by default):
  ``GROUP BY bucket(TimeReceived, R), <all non-MainOnly dims>`` with
  ``SUM(Bytes), SUM(Packets)`` — exactly SummingMergeTree semantics.
  Rebuilding a recent partition window reproduces the "late rows
  always merge" behavior without watermarks (SURVEY §2.9 T5).
- **TTL** — per-resolution retention enforced by dropping whole
  ``part_date`` partitions (reference ``ttl_only_drop_parts``).
- **router** — ``best_table`` picks the coarsest rollup whose
  resolution divides into the target interval and whose retained data
  covers the range start; any MainOnly column forces the main table.

Scale notes: partition count stays bounded (1/day/table like the
reference's MaxPartitions); the rollup build is one shuffle on the
grouping keys with map-side partial aggregation; queries on rollups
scan orders of magnitude fewer rows, and date-partition pruning plus
parquet predicate pushdown bound the scan to the requested range.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from akvorado_spark.schema.definition import FlowSchema, flows_schema


def path_exists(spark: SparkSession, p: str) -> bool:
    """Whether ``p`` exists.  Local paths use ``os`` directly; URI-style
    roots (hdfs://, s3a://, file://) go through Hadoop's FileSystem API
    — an ``os`` check there is always False."""
    if "://" not in p:
        return os.path.exists(p)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


@dataclass(frozen=True)
class Resolution:
    interval_s: int  # 0 = main table (full resolution)
    ttl_s: int

    @property
    def table_name(self) -> str:
        return "flows" if self.interval_s == 0 else f"flows_{self.interval_s}s"


# raw 15d, 1min/7d, 5min/90d, 1h/1y (reference orchestrator/clickhouse/config.go:64-74)
DEFAULT_RESOLUTIONS = (
    Resolution(0, 15 * 86400),
    Resolution(60, 7 * 86400),
    Resolution(300, 90 * 86400),
    Resolution(3600, 365 * 86400),
)


class FlowStore:
    """A directory of flow tables at multiple resolutions."""

    # Bloom filters on the point-lookup columns the time-sort order
    # can't serve — the FULL bloom set of the reference's default skip
    # indexes (common/schema/config.go:122-139).  Its minmax index
    # (ExporterName) is parquet row-group min/max statistics, free on
    # every column; its set(0) indexes (If Provider/Connectivity/
    # Boundary) are low-cardinality dictionary-encoded columns whose
    # row-group stats already prune equality filters.
    BLOOM_COLUMNS = ("SrcAddr", "DstAddr", "SrcAS", "DstAS",
                     "SrcPort", "DstPort", "SrcCountry", "DstCountry")
    # Cap per-column-chunk bloom size: parquet-mr's 1 MiB default is
    # sized for ~1M-NDV row groups (about right for full 128 MB row
    # groups at cluster scale); small local writes would pay it per
    # tiny file, so cap lower and let deployments raise it.
    BLOOM_MAX_BYTES = 128 * 1024

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: FlowSchema | None = None,
        resolutions: tuple[Resolution, ...] = DEFAULT_RESOLUTIONS,
        bloom_columns: tuple[str, ...] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.schema = schema or flows_schema()
        self.resolutions = resolutions
        self.bloom_columns = (
            self.BLOOM_COLUMNS if bloom_columns is None else bloom_columns
        )

    def path(self, res: Resolution) -> str:
        if "://" in self.root:
            return self.root.rstrip("/") + "/" + res.table_name
        return os.path.join(self.root, res.table_name)

    def _partition_dirs(self, p: str) -> list[str] | None:
        """Names of ``part_date=*`` children of a table dir, or ``None``
        when the dir itself is absent (see :func:`path_exists`: an
        existing remote table must not read as empty)."""
        if not path_exists(self.spark, p):
            return None
        if "://" not in p:
            return [d for d in os.listdir(p) if d.startswith("part_date=")]
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return [
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and st.getPath().getName().startswith("part_date=")
        ]

    # --- write paths ------------------------------------------------------

    def write_main(self, df: DataFrame, mode: str = "append") -> None:
        """Append enriched flows to the main table: the columns of its
        declared schema (:meth:`table_schema`), in its order and types.

        Partition by UTC date; sort within partitions on the sorting
        keys (time bucket first) so parquet min/max stats skip
        row groups for selective filters — the analog of the
        reference main table's ORDER BY (migrations_helpers.go:443-449).
        """
        sort_keys = ["TimeReceived", "ExporterAddress", "InIfName", "OutIfName"]
        # Range-partition on (date, sort keys): a hash repartition on
        # part_date alone would funnel a whole day — at scale, the whole
        # batch — into one task.  Ranges split a single date across many
        # tasks by the secondary keys, each task's rows stay contiguous
        # in (date, time) so the partitionBy writer keeps one open file,
        # and the in-partition sort keeps parquet min/max stats tight
        # (analog of the main table ORDER BY, migrations_helpers.go:443-449).
        out = (
            self._declared(df, self.resolutions[0])
            .withColumn("part_date", F.to_date("TimeReceived"))
            .repartitionByRange("part_date", *sort_keys)
            .sortWithinPartitions("part_date", *sort_keys)
        )
        writer = out.write.mode(mode).partitionBy("part_date")
        # Addresses/ASNs appear all over the time-sorted row groups, so
        # min/max stats can't skip for them; blooms restore point-filter
        # skipping there.  Time and interface filters already prune via
        # partition values and sorted min/max stats.
        blooms = [c for c in self.bloom_columns if c in df.columns]
        if blooms:
            writer = writer.option(
                "parquet.bloom.filter.max.bytes", str(self.BLOOM_MAX_BYTES)
            )
            for c in blooms:
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(self.path(self.resolutions[0]))

    def _declared(self, df: DataFrame, res: Resolution) -> DataFrame:
        """``df``'s columns of the table's declared schema, in its order
        and types: what :meth:`read` reads back."""
        present = set(df.columns)
        return df.selectExpr(*[
            f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in self.table_schema(res).fields
            if f.name in present
        ])

    def rollup_frame(self, df: DataFrame, interval_s: int) -> DataFrame:
        """The rollup aggregation: SummingMergeTree semantics."""
        keys = self.schema.rollup_keys()
        bucket = F.timestamp_seconds(
            (F.unix_timestamp("TimeReceived") / interval_s).cast("long") * interval_s
        ).alias("TimeReceived")
        other = [k for k in keys if k != "TimeReceived"]
        # non-key, non-summed rollup columns (e.g. InIfSpeed) keep max()
        extras = [
            c.name
            for c in self.schema.rollup_columns()
            if c.not_sorting_key and c.name not in ("Bytes", "Packets")
        ]
        # `Flows` preserves the original row count through the merge, so
        # fps on a rollup is SUM(Flows) — exact, where the reference's
        # COUNT(*) on a SummingMergeTree undercounts merged rows.
        aggs = [
            F.sum("Bytes").alias("Bytes"),
            F.sum("Packets").alias("Packets"),
            F.count(F.lit(1)).alias("Flows"),
        ] + [F.max(e).alias(e) for e in extras]
        return df.groupBy(bucket, *other).agg(*aggs)

    def build_rollups(self, since: datetime | None = None) -> None:
        """(Re)build rollup partitions from the main table.

        ``since`` limits the rebuild to recent partitions — the
        incremental late-data path: re-aggregating a partition after
        late rows land reproduces SummingMergeTree's late-merge
        exactly (SURVEY §2.9 T5 recommendation).
        """
        main = self.read(self.resolutions[0])
        if since is not None:
            main = main.filter(F.col("part_date") >= F.lit(since.date()))
        for res in self.resolutions[1:]:
            rolled = self._declared(
                self.rollup_frame(main.drop("part_date"), res.interval_s), res
            )
            out = rolled.withColumn("part_date", F.to_date("TimeReceived"))
            keys = [k for k in self.schema.rollup_keys() if k != "TimeReceived"]
            out = out.repartitionByRange(
                "part_date", "TimeReceived", *keys
            ).sortWithinPartitions("part_date", "TimeReceived", *keys)
            writer = out.write.mode("overwrite")
            if since is not None:
                # dynamic partition overwrite: only touched dates rewritten
                writer = writer.option("partitionOverwriteMode", "dynamic")
            writer.partitionBy("part_date").parquet(self.path(res))

    # --- read / route -----------------------------------------------------

    def table_schema(self, res: Resolution) -> T.StructType:
        """The declared schema of a table, ``part_date`` last: the
        stored columns, plus ``Flows`` on a rollup.  The writers store
        columns in this order, so a read with this schema returns them
        as a read that infers the schema would."""
        fields = list(self.schema.struct_type(main=res.interval_s == 0).fields)
        if res.interval_s != 0:
            fields.append(T.StructField("Flows", T.LongType()))
        return T.StructType(fields + [T.StructField("part_date", T.DateType())])

    def read(self, res: Resolution) -> DataFrame:
        """Read a table with its declared schema, so no read runs a
        schema-inference job; an empty/absent table (nothing ingested
        yet, or TTL dropped every partition) reads as a zero-row frame
        with the same schema — queries over an empty store must
        compose, not crash."""
        schema = self.table_schema(res)
        if self._partition_dirs(self.path(res)):
            return self.spark.read.schema(schema).parquet(self.path(res))
        return self.spark.createDataFrame([], schema)

    def oldest(self, res: Resolution) -> datetime | None:
        """Oldest retained data, from partition directory names (cheap —
        no data scan; reference probes MIN(TimeReceived) per table,
        console/clickhouse.go:63-71)."""
        parts = self._partition_dirs(self.path(res))
        if not parts:
            return None
        dates = sorted(d.split("=", 1)[1] for d in parts)
        return datetime.strptime(dates[0], "%Y-%m-%d").replace(tzinfo=timezone.utc)

    def best_table(
        self,
        start: datetime,
        end: datetime,
        target_interval_s: int,
        require_main: bool = False,
    ) -> tuple[Resolution, int]:
        """Pick the best table serving the query, and the snapped
        interval (a multiple of the table resolution ≥ target) —
        the reference getBestTable + snapping
        (console/clickhouse.go:283-335, 234-249), including both of its
        selection rules:

        * a table *covers* the range only when the start lies a full
          resolution bucket after its oldest data
          (``start > oldest + resolution``);
        * when NO table covers the start, fall back to the candidates
          with the oldest data — at 100 TB this is the difference
          between charting a year-long range from the 1-year rollup
          and silently serving only the raw table's 15-day tail.

        Among the candidates, the coarsest resolution ≤ the target
        interval wins (the finest available when even it exceeds the
        target).  Our ``oldest()`` is partition-date-floored (cheap
        directory probe) where the reference issues MIN(TimeReceived);
        same semantics at day granularity.
        """
        main = self.resolutions[0]
        if require_main:
            return main, max(target_interval_s, 1)
        # naive datetimes are UTC instants (the graph module's
        # convention); oldest() returns tz-aware, so normalize before
        # comparing
        if start.tzinfo is None:
            start = start.replace(tzinfo=timezone.utc)
        present = []
        for res in self.resolutions:
            oldest = self.oldest(res)
            if oldest is not None:
                present.append((res, oldest))
        if not present:
            return main, max(target_interval_s, 1)
        covering = [
            (res, old)
            for res, old in present
            if start > old + timedelta(seconds=max(res.interval_s, 1))
        ]
        if covering:
            cands = covering
        else:
            # no coverage: the table whose data reaches back furthest
            # (oldest + resolution minimal), plus any with strictly
            # older raw oldest (reference clickhouse.go:299-315)
            fallback = min(
                present,
                key=lambda t: (
                    t[1] + timedelta(seconds=max(t[0].interval_s, 1)),
                    t[0].interval_s,
                ),
            )
            cands = [fallback] + [
                t for t in present if t is not fallback and t[1] < fallback[1]
            ]
        cands.sort(key=lambda t: t[0].interval_s)
        best = cands[0][0]
        for res, _ in cands[1:]:
            if res.interval_s <= target_interval_s:
                best = res
            else:
                break
        snapped = target_interval_s
        if best.interval_s > 0:
            snapped = max(
                best.interval_s,
                (target_interval_s // best.interval_s) * best.interval_s,
            )
        return best, max(snapped, 1)

    # --- retention --------------------------------------------------------

    def expire(self, now: datetime | None = None) -> list[str]:
        """Drop partitions past each table's TTL (reference TTL +
        ttl_only_drop_parts, migrations_helpers.go:420-422)."""
        now = now or datetime.now(timezone.utc)
        dropped = []
        for res in self.resolutions:
            cutoff = (now - timedelta(seconds=res.ttl_s)).date()
            p = self.path(res)
            parts = self._partition_dirs(p)
            if not parts:
                continue
            for d in parts:
                try:
                    dt = datetime.strptime(d.split("=", 1)[1], "%Y-%m-%d").date()
                except ValueError:
                    continue
                if dt < cutoff:
                    if "://" in p:
                        jvm = self.spark._jvm
                        jpath = jvm.org.apache.hadoop.fs.Path(p + "/" + d)
                        fs = jpath.getFileSystem(
                            self.spark._jsc.hadoopConfiguration()
                        )
                        fs.delete(jpath, True)
                    else:
                        shutil.rmtree(os.path.join(p, d))
                    dropped.append(os.path.join(res.table_name, d))
        return dropped
