"""The ``ingest`` workload: a live NetFlow v9 stream from eight exporters
into one day's FlowStore.

Path: RawFlow files → ``file_source`` → ``decode_binary(…,
netflow_batch_parser())`` → ``wire_to_flows`` → ``FlowIngest.start(…,
availableNow)``, whose ``foreachBatch`` body enriches, appends to the
main table, rebuilds the touched rollup partitions and refreshes the
exporters table.  One op is one micro-batch.
"""

from __future__ import annotations

import os
import shutil
from statistics import median

import pandas as pd

from perfbench import checks, flowgen
from perfbench.common import cpu_s, dir_stats, now, rounds_for, steal_s
from perfbench.trace import spark_counters

SHAPE = flowgen.StreamShape()
# the warm-up batch: another day, its own flows
WARMUP_SHAPE = flowgen.StreamShape(batches=1, flows_per_batch=320, day="2024-03-03")
WARMUP_SEED_OFFSET = 1_000_003
# nominal length of a round (the stream) on 4 cores; a run of S seconds
# drains the stream S // ROUND_S times, at least once
ROUND_S = 20


class Engine:
    """The enrichment objects of the ingest path; built in set-up.
    ``networks=False`` leaves out the networks LPM."""

    def __init__(self, spark, networks: bool = True):
        from pyspark.sql import types as T

        from akvorado_spark.operators.classify import ClassifierRule
        from akvorado_spark.sources.fixtures import networks_df
        from akvorado_spark.streaming.ingest import EnrichmentConfig

        self.spark = spark
        self.interfaces = spark.createDataFrame(
            flowgen.interfaces_pdf(),
            "ExporterAddress binary, IfIndex long, Name string, "
            "Description string, Speed long, Provider string",
        ).cache()
        meta = flowgen.metadata_pdf()
        self.metadata = spark.createDataFrame(
            meta, T.StructType([T.StructField("ExporterAddress", T.BinaryType())]
                               + [T.StructField(c, T.StringType()) for c in meta.columns[1:]])
        ).cache()
        self.cfg = EnrichmentConfig(
            metadata=self.metadata,
            networks=networks_df(spark) if networks else None,
            networks_attrs=("name", "role", "site", "region", "tenant",
                            "country", "state", "city"),
            classifier_rules=[
                ClassifierRule(when="InIfDescription LIKE 'Transit:%'",
                               sets={"InIfConnectivity": "'transit'",
                                     "InIfBoundary": "'external'"}),
                ClassifierRule(when="InIfDescription LIKE 'Cust:%'",
                               sets={"InIfConnectivity": "'customer'",
                                     "InIfBoundary": "'internal'"}),
                ClassifierRule(when="ExporterSite = 'ams1'",
                               sets={"ExporterRole": "'peering'"}),
            ],
            classifier_defaults={"ExporterRole": "'edge'"},
        )

    def decoded(self, raw):
        from akvorado_spark.sources.decode import decode_binary
        from akvorado_spark.sources.wire import WIRE_SCHEMA, netflow_batch_parser
        from akvorado_spark.streaming.wire_bridge import wire_to_flows

        wire = decode_binary(raw, WIRE_SCHEMA, "netflow", netflow_batch_parser())
        return wire_to_flows(wire, interfaces=self.interfaces)

    def stream(self, src: str, root: str, tracer):
        """Drain ``src`` into a fresh store under ``root``.  Returns
        (store, ingest, wall seconds, CPU seconds, CPU seconds of each
        ``foreachBatch`` body, per-batch progress)."""
        from akvorado_spark.plans.rollup import FlowStore
        from akvorado_spark.sources.decode import RAW_FLOW_SCHEMA
        from akvorado_spark.streaming.ingest import FlowIngest, enrich, file_source

        store = FlowStore(self.spark, os.path.join(root, "store"))
        ingest = FlowIngest(store, self.cfg, exporters_path=os.path.join(root, "exporters"))
        if tracer.enabled:
            _instrument(tracer, store, ingest, self.cfg, enrich)
        batch_cpu = []
        body = ingest.process_batch

        def process_batch(batch, batch_id=0):
            c0 = cpu_s()
            body(batch, batch_id)
            batch_cpu.append(cpu_s() - c0)

        ingest.process_batch = process_batch
        flows = self.decoded(file_source(self.spark, src, RAW_FLOW_SCHEMA))
        t0, c0 = now(), cpu_s()
        q = ingest.start(flows, os.path.join(root, "checkpoint"))
        q.awaitTermination()
        wall, cpu = now() - t0, cpu_s() - c0
        ingest.process_batch = body
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return store, ingest, wall, cpu, batch_cpu, progress


def _instrument(tracer, store, ingest, cfg, enrich):
    """Spans around the public calls the foreachBatch body makes, plus
    decode and enrichment materialized alone."""

    def write_main(df, *a, **kw):
        main = store.path(store.resolutions[0])
        b0, f0 = dir_stats(main) if os.path.isdir(main) else (0, 0)
        with tracer.span("plans.write_main") as s:
            fn_write_main(df, *a, **kw)
        b1, f1 = dir_stats(main)
        s["write_main_bytes"], s["files_written"] = b1 - b0, f1 - f0

    def process_batch(batch, batch_id=0):
        with tracer.span("sources.decode"):
            batch.write.format("noop").mode("overwrite").save()
        with tracer.span("streaming.enrich"):
            store.schema.ingest(enrich(batch, cfg)).write.format("noop").mode(
                "overwrite").save()
        with tracer.span("streaming.process_batch", batch_id=batch_id):
            fn_process(batch, batch_id)

    fn_write_main = store.write_main
    store.write_main = write_main
    tracer.wrap(store, "build_rollups", "plans.build_rollups")
    fn_process = ingest.process_batch
    ingest.process_batch = process_batch


def generate(root: str, seed: int):
    """The load generator's work, before set-up: the seeded stream and
    the warm-up batch as RawFlow files under ``root``."""
    batches = flowgen.stream_flows(seed, SHAPE)
    files = flowgen.write_stream(batches, os.path.join(root, "stream"))
    flowgen.write_stream(flowgen.stream_flows(seed + WARMUP_SEED_OFFSET, WARMUP_SHAPE),
                         os.path.join(root, "warmup"))
    return batches, files


def run(spark, work, seed: int, seconds: float, tracer, ops, report):
    t0 = now()
    batches, _ = generate(work.path, seed)
    expected = pd.concat(batches, ignore_index=True)
    report["generate_s"] = now() - t0

    # set-up: engine objects, then the warm-up batch into a throw-away
    # store, so the timed stream starts warm
    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.sources.decode import RAW_FLOW_SCHEMA
    from akvorado_spark.streaming.ingest import FlowIngest

    t0, c0 = now(), cpu_s()
    engine = Engine(spark)
    warm = work.sub("warm")
    raw = spark.read.schema(RAW_FLOW_SCHEMA).parquet(work.sub("warmup"))
    FlowIngest(FlowStore(spark, os.path.join(warm, "store")), engine.cfg,
               exporters_path=os.path.join(warm, "exporters")).process_batch(
        engine.decoded(raw), 0)
    report["setup_wall_s"], setup_cpu = now() - t0, cpu_s() - c0
    shutil.rmtree(warm, ignore_errors=True)

    rounds = []
    for r in range(rounds_for(seconds, ROUND_S)):
        root = work.sub(f"round{r}")
        s0 = steal_s()
        with tracer.span("round", round=r):
            store, ingest, wall, cpu, batch_cpu, progress = engine.stream(
                work.sub("stream"), root, tracer)
        steal = steal_s() - s0
        n_batches = len(progress)
        ops.ok(n_batches)
        t0 = now()
        checks.ingest_outputs(store, ingest, expected, n_batches == SHAPE.batches)
        report["check_s"] = now() - t0
        main_b = dir_stats(store.path(store.resolutions[0]))[0]
        roll_b = sum(dir_stats(store.path(res))[0] for res in store.resolutions[1:])
        exp_b = dir_stats(ingest.exporters_path)[0]
        rounds.append({
            "wall_s": wall,
            "cpu_s": cpu,
            "batch_cpu_s": batch_cpu,
            "steal_s": steal,
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress],
            "store_bytes": main_b + roll_b + exp_b,
        })
        shutil.rmtree(root, ignore_errors=True)

    n_flows = len(expected)
    batch_ms = [b for rd in rounds for b in rd["batch_ms"]]
    pass_s = median([rd["wall_s"] for rd in rounds])
    pass_cpu = median([rd["cpu_s"] for rd in rounds])
    report.update({
        "rounds": len(rounds),
        "flows_per_round": n_flows,
        "pass_s": pass_s,
        "flows_per_s": n_flows / pass_s,
        "cpu_ms_per_flow": 1000.0 * pass_cpu / n_flows,
        "batch_p50_ms": median(batch_ms),
        "store_bytes_per_flow": median([rd["store_bytes"] for rd in rounds]) / n_flows,
        "trigger_ms": sum(batch_ms) / len(rounds),
        "batch_cpu_p50_ms": 1000.0 * median([c for rd in rounds for c in rd["batch_cpu_s"]]),
        "steal_s": median([rd["steal_s"] for rd in rounds]),
    })
    return {"setup_s": setup_cpu, "pass_cpu_s": pass_cpu}


def layer_metrics(tracer, report) -> dict:
    """Per-layer figures of the ingest workload, per round."""
    rounds = report["rounds"]
    timed = tracer.timed()
    self_ms = tracer.self_ms()

    def total(name, key=None):
        out = 0.0
        for s in timed:
            if s["name"] == name:
                out += self_ms[s["id"]] if key is None else s.get(key, 0)
        return out / rounds

    decode = total("sources.decode")
    probes = ("sources.decode", "streaming.enrich")
    body = sum(1000.0 * (s["end"] - s["start"]) for s in timed
               if s["name"] in probes + ("streaming.process_batch",)) / rounds
    # Spark counters of the engine's own work: the probes' jobs are left out
    engine = [s for s in timed if s["name"] not in probes]
    return {
        "streaming.trigger_overhead_ms": report["trigger_ms"] - body,
        "sources.decode_ms": decode,
        "streaming.enrich_ms": total("streaming.enrich") - decode,
        "plans.write_main_ms": total("plans.write_main"),
        "plans.write_main_bytes": total("plans.write_main", "write_main_bytes"),
        "plans.files_written": total("plans.write_main", "files_written"),
        "plans.build_rollups_ms": total("plans.build_rollups"),
        "plans.build_rollups_rows_read": total("plans.build_rollups", "rows_read"),
        "plans.build_rollups_bytes": total("plans.build_rollups", "bytes_written"),
        "plans.exporters_ms": total("streaming.process_batch"),
        **spark_counters(lambda key: sum(s.get(key, 0) for s in engine) / rounds),
    }

