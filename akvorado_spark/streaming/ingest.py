"""Streaming ingest pipeline (SURVEY §3.3, §2.9 T2/T4/T5/T6;
reference outlet/core/worker.go:61-143, outlet/core/enricher.go:25-189,
outlet/clickhouse/worker.go:89-130).

Structured-Streaming re-expression of the outlet:

    readStream (file replay S2 / Kafka S1-S4)
      → enrich: metadata join (J6) → classifiers (T3) → networks LPM (J5)
      → foreachBatch:
          append to the main flows table        (S9: batched columnar sink)
          re-aggregate touched rollup partitions (T5: late rows always merge)
          refresh the exporters table            (T6: replacing-merge)

Design notes for scale:

- ``foreachBatch`` ≈ the reference's 50k-row/5s flush (T4): the
  trigger interval bounds batch latency, Spark bounds batch size via
  ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``.
- Rollups are **incrementally rebuilt for the partitions the batch
  touched** rather than maintained by a watermarking streaming agg —
  that's the exact SummingMergeTree semantics: a late row merges into
  its bucket whenever it arrives, and no row is ever dropped
  (SURVEY §2.9 T5 recommendation).  Dynamic partition overwrite keeps
  the rewrite bounded to touched dates.
- Every enrichment join broadcasts a small dimension snapshot; the
  fact stream never shuffles before the sink's partition-by-date
  repartition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from akvorado_spark.operators.classify import ClassifierRule, classify
from akvorado_spark.operators.lpm import lpm_prepare, lpm_probe  # noqa: F401
from akvorado_spark.plans.exporters import exporters_frame, latest_exporters
from akvorado_spark.plans.rollup import FlowStore


def file_source(spark: SparkSession, path: str, schema, fmt: str = "parquet") -> DataFrame:
    """File-replay source (S2, reference inlet/flow/input/file/):
    a directory watched for new flow files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)  # T4: bound batch size
        .format(fmt)
        .load(path)
    )


def kafka_source(
    spark: SparkSession, servers: str, topic: str, starting: str = "earliest"
) -> DataFrame:
    """Kafka ingress (S1/S3/S4).  Requires the spark-sql-kafka package
    on the classpath; the decode of the value payload is the caller's
    decoder (S5-S7)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting)
        .load()
    )


def serialize_flows(df: DataFrame, key_col: str | None = "ExporterAddress") -> DataFrame:
    """Wire form for the enriched-flows Kafka sink (S10): the reference
    emits protobuf (common/schema/protobuf.go); JSON keeps the payload
    self-describing without a schema registry.  Key = exporter so a
    consumer partition sees each exporter in order (the reference's
    Kafka key choice)."""
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col and key_col in df.columns:
        cols.insert(0, F.col(key_col).cast("binary").alias("key"))
    return df.select(*cols)


def kafka_sink(
    stream: DataFrame,
    servers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = "ExporterAddress",
    wire_format: str = "proto",
):
    """S10: second writeStream of enriched flows to Kafka (reference
    outlet/kafkaoutput/, emit at outlet/core/worker.go:119-123).
    ``wire_format``: "proto" (default — the reference's protobuf
    encoding, sources/flow_pb.py; version the topic with
    ``flow_schema_hash()``) or "json" (self-describing, no schema
    registry needed).  Requires the spark-sql-kafka package.
    """
    if wire_format == "proto":
        from akvorado_spark.sources.flow_pb import serialize_flows_proto

        frame = serialize_flows_proto(stream, key_col=key_col or "ExporterAddress")
    else:
        frame = serialize_flows(stream, key_col)
    return (
        frame
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- provider precedence (T2; reference enricher.go:202-249) ---------------


def is_private_as(asn):
    """IANA special-registry / private ASNs (reference
    enricher.go:389-398): 0, 23456 (AS_TRANS), 64496-65551,
    4200000000 and above."""
    return (
        (asn == 0)
        | (asn == 23456)
        | ((asn >= 64496) & (asn <= 65551))
        | (asn >= 4_200_000_000)
    )


def as_number(providers, flow_as, routing_as=None, net_as=None, flow_netmask=None):
    """First non-zero AS along the configured provider order (reference
    getASNumber, enricher.go:202-233) as one codegen coalesce cascade.

    Providers: ``flow``, ``flow-except-private``,
    ``flow-except-default-route``, ``routing``,
    ``routing-except-private``, ``networks``.  A provider yielding
    0/NULL passes to the next; the cascade bottoms out at 0.
    """

    def nz(c):
        return F.when(c != 0, c)

    branches = []
    for p in providers:
        if p == "flow":
            c = nz(flow_as)
        elif p == "flow-except-private":
            c = nz(F.when(~is_private_as(flow_as), flow_as))
        elif p == "flow-except-default-route":
            c = nz(F.when(flow_netmask != 0, flow_as))
        elif p == "routing":
            c = nz(routing_as)
        elif p == "routing-except-private":
            c = nz(F.when(~is_private_as(routing_as), routing_as))
        elif p == "networks":
            c = nz(net_as)
        else:
            raise ValueError(f"unknown ASN provider {p!r}")
        branches.append(c)
    return F.coalesce(*branches, F.lit(0).cast("long"))


def net_mask(providers, flow_mask, routing_mask=None):
    """First non-zero prefix length along the provider order (reference
    getNetMask, enricher.go:235-249); providers ``flow``/``routing``."""

    def nz(c):
        return F.when(c != 0, c)

    branches = [
        nz(flow_mask if p == "flow" else routing_mask) for p in providers
    ]
    return F.coalesce(*branches, F.lit(0).cast("int"))


_UNSPECIFIED_IP = bytes(16)


def next_hop(providers, flow_nh, routing_nh=None):
    """First non-unspecified next-hop along the provider order
    (reference getNextHop, enricher.go:251-266); 16-byte binary
    addresses, all-zero = unset."""

    def nz(c):
        return F.when(c != F.lit(_UNSPECIFIED_IP), c)

    branches = [nz(flow_nh if p == "flow" else routing_nh) for p in providers]
    return F.coalesce(*branches, F.lit(_UNSPECIFIED_IP))


@dataclass
class EnrichmentConfig:
    """Snapshot dimension tables + rules for the enrichment chain (T2).

    ``metadata``: (ExporterAddress, attrs...) broadcast-joined (J6).
    ``networks``: (lo, hi, plen, attrs...) LPM-joined per direction (J5).
    ``classifier_rules`` / ``classifier_defaults``: T3 cascade.
    """

    metadata: DataFrame | None = None
    metadata_key: str = "ExporterAddress"
    # RIB snapshot in RIB.to_frame shape → two-sided routing lookup
    # (enrich_routing); None skips the pass
    routing: DataFrame | None = None
    networks: DataFrame | None = None
    networks_attrs: tuple[str, ...] = ()
    classifier_rules: list[ClassifierRule] = field(default_factory=list)
    classifier_defaults: dict[str, str] | None = None
    # per-exporter-subnet sampling maps (reference SubnetMap,
    # outlet/core/config.go:27-33 / enricher.go:91-101): override FORCES
    # the rate; default fills a zero rate.  [(cidr, rate), ...],
    # longest prefix wins.
    sampling_override: tuple[tuple[str, int], ...] = ()
    sampling_default: tuple[tuple[str, int], ...] = ()
    # reference skip rules (enricher.go:80-101): drop flows with both
    # interfaces unset, no metadata-resolved exporter name, or a zero
    # sampling rate after the default map.  Off by default — batch
    # replays of already-clean corpora shouldn't silently shrink.
    skip_incomplete: bool = False

    def networks_plens(self) -> list[int] | None:
        """Distinct prefix lengths of the networks table, probed ONCE
        per config snapshot and cached — per-batch lpm_join calls stay
        fully lazy instead of re-running the tiny distinct job every
        micro-batch (VERDICT r3 item 3)."""
        if self.networks is None:
            return None
        cached = getattr(self, "_plens_cache", None)
        if cached is None:
            cached = [
                r[0] for r in self.networks.select("plen").distinct().collect()
            ]
            object.__setattr__(self, "_plens_cache", cached)
        return cached

    def networks_prepared(self):
        """Resolved LPM block tables for the networks dimension,
        prepared ONCE per config snapshot and persisted — per-batch
        probes skip the expand/resolve work (lpm.PreparedLPM)."""
        if self.networks is None or not self.networks_attrs:
            return None
        cached = getattr(self, "_networks_prepared", None)
        if cached is None:
            from akvorado_spark.operators.lpm import lpm_prepare

            cached = lpm_prepare(
                self.networks,
                attrs=list(self.networks_attrs),
                plens=self.networks_plens(),
            ).persist()
            object.__setattr__(self, "_networks_prepared", cached)
        return cached

    def routing_prepared(self):
        """Per-side resolved RIB block tables (enrich_routing), one
        prepare per snapshot.  Returns (src_prepared, dst_prepared,
        keyed) or None."""
        if self.routing is None:
            return None
        cached = getattr(self, "_routing_prepared", None)
        if cached is None:
            cached = _prepare_routing(self.routing)
            for p in cached[:2]:
                if p is not None:
                    p.persist()
            object.__setattr__(self, "_routing_prepared", cached)
        return cached


# networks-attribute → schema column-name mapping (reference
# enricher.go:165-182: name/role/site/region/tenant land on the
# {side}Net* columns, the GEO attributes on {side}Country /
# {side}GeoState / {side}GeoCity — NOT {side}NetCountry etc.; the asn
# attribute feeds the as_number provider, exposed as {side}NetASN)
_NETWORKS_ATTR_COLUMNS = {
    "name": "NetName",
    "role": "NetRole",
    "site": "NetSite",
    "region": "NetRegion",
    "tenant": "NetTenant",
    "country": "Country",
    "state": "GeoState",
    "city": "GeoCity",
    "asn": "NetASN",
}


def _subnet_case(col, entries):
    """SubnetMap lookup as a longest-prefix-first CASE chain over
    16-byte [lo, hi] bounds — config-sized, stays in codegen (the
    reference's helpers.SubnetMap is a config trie, never data-sized)."""
    from akvorado_spark.functions.ip import prefix_mapped_len, prefix_range

    ranked = sorted(entries, key=lambda e: -prefix_mapped_len(e[0]))
    out = F.lit(None).cast("long")
    for cidr, val in reversed(ranked):
        lo, hi = prefix_range(cidr)
        out = F.when(
            (col >= F.lit(lo)) & (col <= F.lit(hi)), F.lit(int(val)).cast("long")
        ).otherwise(out)
    return out


_ROUTING_SIDE_ATTRS = {
    "Src": ("dst_as", "communities", "large_communities"),
    "Dst": ("dst_as", "as_path", "communities",
            "large_communities", "next_hop", "route_plen"),
}


def _prepare_routing(
    routes: DataFrame,
    plens: list[int] | None = None,
    exporter_keyed: bool | None = None,
):
    """Split the RIB snapshot into the two per-side PreparedLPM
    tables (src needs fewer attributes than dst).  Returns
    (src_prepared, dst_prepared, keyed)."""
    from akvorado_spark.operators.lpm import lpm_prepare

    if plens is None:
        plens = [r[0] for r in routes.select("plen").distinct().collect()]
    # plen is also lpm_join's prefix-length key; alias it so the
    # route's mask can ride along as a plain attribute
    routes = routes.withColumn("route_plen", F.col("plen"))
    has = set(routes.columns)
    keyed = "exporter" in has if exporter_keyed is None else exporter_keyed
    prepared = {}
    for side, wanted in _ROUTING_SIDE_ATTRS.items():
        attrs = [a for a in wanted if a in has]
        prepared[side] = (
            lpm_prepare(routes, attrs=attrs, exporter_keyed=keyed, plens=plens)
            if attrs
            else None
        )
    return prepared["Src"], prepared["Dst"], keyed


def enrich_routing(
    df: DataFrame,
    routes: DataFrame | None = None,
    exporter_col: str = "ExporterAddress",
    plens: list[int] | None = None,
    prepared=None,
) -> DataFrame:
    """Two-sided RIB lookup (T2/J4; reference enricher.go:132-163):
    one LPM pass per address side against the BMP/BioRIS snapshot
    (``RIB.to_frame`` shape).  The source side fills SrcCommunities /
    SrcLargeCommunities and a ``SrcRoutingAS`` input for the
    :func:`as_number` provider cascade; the destination side fills
    DstASPath / DstCommunities / DstLargeCommunities plus
    ``DstRoutingAS`` / ``DstRoutingNetMask`` / ``DstRoutingNextHop``
    for the AS / netmask / next-hop providers.  Both passes are
    broadcast-cascade joins (operators/lpm.py) — the flow stream never
    shuffles.  Pass ``prepared`` (from :func:`_prepare_routing`, as
    ``EnrichmentConfig.routing_prepared`` caches it) to skip the
    dimension-side resolution on every micro-batch."""
    from akvorado_spark.operators.lpm import lpm_probe

    if prepared is None:
        prepared = _prepare_routing(
            routes,
            plens,
            exporter_keyed="exporter" in routes.columns
            and exporter_col in df.columns,
        )
    src_prep, dst_prep, keyed = prepared
    renames = {
        ("Src", "dst_as"): "SrcRoutingAS",
        ("Src", "communities"): "SrcCommunities",
        ("Src", "large_communities"): "SrcLargeCommunities",
        ("Dst", "dst_as"): "DstRoutingAS",
        ("Dst", "as_path"): "DstASPath",
        ("Dst", "communities"): "DstCommunities",
        ("Dst", "large_communities"): "DstLargeCommunities",
        ("Dst", "next_hop"): "DstRoutingNextHop",
        ("Dst", "route_plen"): "DstRoutingNetMask",
    }
    for side, side_prep in (("Src", src_prep), ("Dst", dst_prep)):
        addr = f"{side}Addr"
        if addr not in df.columns or side_prep is None:
            continue
        df = lpm_probe(
            df,
            side_prep,
            addr,
            exporter_col=(
                exporter_col if keyed and exporter_col in df.columns else None
            ),
            out_prefix=f"__r{side}_",
        )
        for a in side_prep.attrs:
            target = renames[(side, a)]
            got = F.col(f"__r{side}_{a}")
            if target in df.columns:
                # a value the flow already carries wins; routing fills
                got = F.coalesce(F.col(target), got)
            df = df.withColumn(target, got).drop(f"__r{side}_{a}")
    return df


def enrich(df: DataFrame, cfg: EnrichmentConfig) -> DataFrame:
    """The per-batch enrichment chain (reference enricher.go:25-189):
    sampling maps + skip rules → metadata → classifiers → networks LPM,
    each a broadcast join or a codegen when-cascade."""
    addr = F.col("ExporterAddress")
    if cfg.sampling_override and "SamplingRate" in df.columns:
        ov = _subnet_case(addr, cfg.sampling_override)
        df = df.withColumn("SamplingRate", F.coalesce(ov, F.col("SamplingRate")))
    if cfg.sampling_default and "SamplingRate" in df.columns:
        de = _subnet_case(addr, cfg.sampling_default)
        df = df.withColumn(
            "SamplingRate",
            F.when(
                F.col("SamplingRate").isNull() | (F.col("SamplingRate") == 0),
                F.coalesce(de, F.lit(0).cast("long")),
            ).otherwise(F.col("SamplingRate")),
        )
    if cfg.metadata is not None:
        meta_cols = [c for c in cfg.metadata.columns if c != cfg.metadata_key]
        meta = cfg.metadata
        renamed = meta.select(
            cfg.metadata_key, *[F.col(c).alias(f"__m_{c}") for c in meta_cols]
        )
        df = df.join(F.broadcast(renamed), on=cfg.metadata_key, how="left")
        for c in meta_cols:
            # metadata fills attributes the flow doesn't carry or left empty
            if c in df.columns:
                filled = F.coalesce(F.nullif(F.col(c), F.lit("")), F.col(f"__m_{c}"))
            else:
                filled = F.col(f"__m_{c}")
            df = df.withColumn(c, filled).drop(f"__m_{c}")
    if cfg.classifier_rules:
        df = classify(df, cfg.classifier_rules, cfg.classifier_defaults)
    if cfg.networks is not None and cfg.networks_attrs:
        from akvorado_spark.operators.lpm import lpm_probe

        prepared_networks = cfg.networks_prepared()
        for side in ("Src", "Dst"):
            side_addr = f"{side}Addr"
            if side_addr not in df.columns:
                continue
            df = lpm_probe(df, prepared_networks, side_addr)
            for a in cfg.networks_attrs:
                target = f"{side}{_NETWORKS_ATTR_COLUMNS.get(a, 'Net' + a.capitalize())}"
                if target in df.columns:
                    fallback = F.col(target)
                elif a == "asn":
                    fallback = F.lit(None).cast("long")
                else:
                    fallback = F.lit("")
                df = df.withColumn(target, F.coalesce(F.col(a), fallback)).drop(a)
    if cfg.routing is not None:
        df = enrich_routing(
            df,
            exporter_col=cfg.metadata_key,
            prepared=cfg.routing_prepared(),
        )
    if cfg.skip_incomplete:
        # reference enricher.go:80-101: both interfaces unset, no
        # metadata-resolved name, or a zero rate after the default map
        # → the flow is dropped
        if "InIfName" in df.columns and "OutIfName" in df.columns:
            df = df.filter(
                (F.coalesce(F.col("InIfName"), F.lit("")) != "")
                | (F.coalesce(F.col("OutIfName"), F.lit("")) != "")
            )
        if "ExporterName" in df.columns:
            df = df.filter(F.coalesce(F.col("ExporterName"), F.lit("")) != "")
        if "SamplingRate" in df.columns:
            df = df.filter(
                F.coalesce(F.col("SamplingRate"), F.lit(0)) != 0
            )
    return df


class FlowIngest:
    """The outlet: a stream of decoded flows into a FlowStore."""

    def __init__(
        self,
        store: FlowStore,
        cfg: EnrichmentConfig | None = None,
        exporters_path: str | None = None,
    ):
        self.store = store
        self.cfg = cfg or EnrichmentConfig()
        self.exporters_path = exporters_path

    # -- batch body (also usable standalone for batch replays) -------------
    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        if batch.isEmpty():
            return
        from pyspark.sql import Observation

        enriched = enrich(batch, self.cfg)
        enriched = self.store.schema.ingest(enriched)
        # the exporters refresh would otherwise re-run the whole
        # enrichment lineage (metadata join + classifiers + LPM) a
        # second time over the batch
        if self.exporters_path:
            enriched = enriched.persist()
        # T5 needs the batch's oldest timestamp; observe() harvests it
        # from the write pass itself — no second job over the batch.
        obs = Observation()
        observed = enriched.observe(obs, F.min("TimeReceived").alias("oldest"))
        self.store.write_main(observed)

        # T5: re-aggregate only the dates this batch touched — late rows
        # merge into their original buckets exactly like SummingMergeTree.
        oldest = obs.get["oldest"]
        if oldest is not None:
            since = oldest if isinstance(oldest, datetime) else None
            self.store.build_rollups(since=since)

        if self.exporters_path:
            try:
                self._refresh_exporters(enriched)
            finally:
                enriched.unpersist()

    def _refresh_exporters(self, batch: DataFrame) -> None:
        """T6: replacing-merge the batch's interfaces into the table."""
        spark = batch.sparkSession
        fresh = exporters_frame(batch)
        try:
            existing = spark.read.parquet(self.exporters_path)
            fresh = existing.unionByName(fresh, allowMissingColumns=True)
        except AnalysisException as e:
            # ONLY a genuinely absent table reads as "first batch"; any
            # other read failure must propagate — swallowing it would
            # overwrite the accumulated history with one batch's rows
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
        # the merge reads the table it overwrites: checkpoint the merged
        # rows first, so the write no longer depends on the old files
        latest = latest_exporters(fresh, ttl=None)
        latest.coalesce(1).localCheckpoint().write.mode("overwrite").parquet(
            self.exporters_path
        )

    # -- stream wiring ------------------------------------------------------
    def start(
        self,
        stream: DataFrame,
        checkpoint: str,
        trigger: dict | None = None,
    ):
        """Wire the stream into foreachBatch.  ``trigger`` defaults to
        availableNow (drain + stop — the test/replay mode); pass e.g.
        ``{"processingTime": "5 seconds"}`` for the reference's
        MaximumWaitTime behavior (T4)."""
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        return writer.start()


def streaming_rollup(
    stream: DataFrame,
    schema,
    interval_s: int,
    watermark: str = "10 minutes",
    sum_cols: tuple[str, ...] = ("Bytes", "Packets"),
) -> DataFrame:
    """T5 alternative: a genuine watermarked streaming window aggregate.

    The default rollup path is incremental re-aggregation of touched
    partitions (``FlowStore.build_rollups(since=…)``), which reproduces
    the reference's SummingMergeTree exactly — a late row merges into
    its original bucket *whenever* it arrives.  This variant is the
    Structured-Streaming-native form: ``window(TimeReceived,
    interval)`` grouped with the rollup keys under a watermark.  The
    semantic delta is explicit and bounded: rows later than
    ``watermark`` are DROPPED instead of merged (the reference never
    drops).  Use it when end-to-end latency matters more than exact
    late-merge (live dashboards); use the batch path for the stored
    rollup tables the query router reads.

    Scale shape: partial aggregation map-side per micro-batch, state
    keyed by (window, rollup keys) — bounded by key cardinality × the
    watermark horizon, and evicted once the watermark passes a window.
    """
    keys = [k for k in schema.rollup_keys() if k != "TimeReceived"]
    w = stream.withWatermark("TimeReceived", watermark)
    return (
        w.groupBy(
            F.window("TimeReceived", f"{interval_s} seconds").alias("__w"),
            *keys,
        )
        .agg(*[F.sum(c).alias(c) for c in sum_cols], F.count(F.lit(1)).alias("Flows"))
        .select(F.col("__w.start").alias("TimeReceived"), *keys, *sum_cols, "Flows")
    )
