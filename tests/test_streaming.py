"""Streaming ingest tests (SURVEY §3.3, §2.9 T2/T4/T5/T6): file-replay
source → enrichment → foreachBatch sink, with the late-data rollup
re-aggregation semantics checked explicitly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from akvorado_spark import telemetry
from akvorado_spark.operators.classify import ClassifierRule
from akvorado_spark.plans.rollup import FlowStore, path_exists
from akvorado_spark.schema.definition import flows_schema
from akvorado_spark.sources.fixtures import flows_df
from akvorado_spark.streaming.ingest import (
    EnrichmentConfig,
    FlowIngest,
    enrich,
    file_source,
)


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src_dir = str(root / "incoming")
    os.makedirs(src_dir, exist_ok=True)

    flows = flows_df(spark, n=6_000)
    # chunk 1: the newer half; chunk 2 arrives later but holds *older*
    # timestamps (late data) — T5 requires it to merge, not drop
    cut = flows.agg(F.expr("percentile(unix_micros(TimeReceived), 0.5)")).collect()[0][0]
    newer = flows.filter(F.unix_micros("TimeReceived") >= int(cut))
    older = flows.filter(F.unix_micros("TimeReceived") < int(cut))
    newer.coalesce(1).write.mode("overwrite").parquet(src_dir + "/chunk1")

    store = FlowStore(spark, str(root / "store"))
    ingest = FlowIngest(store, exporters_path=str(root / "exporters"))

    schema = newer.schema
    stream = file_source(spark, src_dir + "/chunk1", schema)
    q = ingest.start(stream, str(root / "ckpt1"))
    q.awaitTermination(120)

    # late chunk in a second stream run (same store)
    older.coalesce(1).write.mode("overwrite").parquet(src_dir + "/chunk2")
    stream2 = file_source(spark, src_dir + "/chunk2", schema)
    q2 = ingest.start(stream2, str(root / "ckpt2"))
    q2.awaitTermination(120)

    return store, flows, ingest


def test_stream_main_table_complete(ingested):
    store, flows, _ = ingested
    assert store.read(store.resolutions[0]).count() == flows.count()


def test_stream_late_rows_merged_into_rollups(ingested):
    """After the late chunk, rollups equal a from-scratch aggregation —
    SummingMergeTree's 'late rows always merge' (T5)."""
    store, flows, _ = ingested
    roll = store.read(store.resolutions[3])  # 1h

    def agg(df):
        return {
            (r["b"], r["SrcAS"]): r["v"]
            for r in df.groupBy(F.date_trunc("hour", "TimeReceived").alias("b"), "SrcAS")
            .agg(F.sum(F.col("Bytes") * F.col("SamplingRate") * 8).alias("v"))
            .collect()
        }

    ingested_flows = flows_schema().ingest(flows)
    assert agg(roll) == agg(ingested_flows)


def test_stream_exporters_table_refreshed(ingested):
    store, flows, ingest = ingested
    spark = flows.sparkSession
    exporters = spark.read.parquet(ingest.exporters_path)
    # one row per (ExporterAddress, IfName), newest TimeReceived
    keys = exporters.select("ExporterAddress", "IfName").distinct().count()
    assert exporters.count() == keys
    assert exporters.agg(F.max("TimeReceived")).collect()[0][0] == flows.agg(
        F.max("TimeReceived")
    ).collect()[0][0]
    # the merge is written in place: no staging copy is left beside it
    assert not os.path.exists(ingest.exporters_path + "_tmp")
    # a later batch reads the table with its known schema: no job
    with telemetry.spark_jobs(spark) as jobs:
        table = ingest._exporters_table(spark, exporters.schema)
    assert jobs[0] == 0 and table.columns == exporters.columns
    # the existence check answers for local and Hadoop paths alike
    for p in (ingest.exporters_path, "file://" + ingest.exporters_path):
        assert path_exists(spark, p) and not path_exists(spark, p + "_absent")


def test_serialize_flows_kafka_shape(spark):
    from akvorado_spark.streaming.ingest import serialize_flows

    flows = flows_df(spark, n=50)
    wire = serialize_flows(flows)
    assert wire.columns == ["key", "value"]
    row = wire.first()
    import json

    decoded = json.loads(row["value"])
    assert "Bytes" in decoded and "SrcAS" in decoded


def test_enrich_chain(spark):
    flows = flows_df(spark, n=500)
    meta = spark.createDataFrame(
        [(bytes(16), "named-router")], "ExporterAddress binary, ExporterName string"
    )
    cfg = EnrichmentConfig(
        metadata=meta,
        classifier_rules=[
            ClassifierRule(when="Proto = 6", sets={"FlowClass": "'tcp'"}),
        ],
        classifier_defaults={"FlowClass": "'other'"},
    )
    out = enrich(flows, cfg)
    rows = out.groupBy("FlowClass").count().collect()
    classes = {r["FlowClass"] for r in rows}
    assert classes <= {"tcp", "other"} and "tcp" in classes


def test_streaming_rollup_window_one_run(spark, tmp_path):
    """One run of the watermark sweep below: in-window rows aggregate."""
    _rollup_watermark_runs(spark, tmp_path, runs=1)


@pytest.mark.slow
def test_streaming_rollup_watermark_drops_too_late_rows(spark, tmp_path):
    _rollup_watermark_runs(spark, tmp_path, runs=2)


def _rollup_watermark_runs(spark, tmp_path, runs: int):
    """The watermarked T5 variant: in-watermark rows aggregate into
    their window; a row arriving behind the watermark is DROPPED (the
    documented semantic delta vs the batch late-merge path).

    Determinism: the watermark is persisted in the checkpoint's offset
    log at batch commit, so a RESTARTED query's first batch starts with
    exactly the last committed watermark — no dependence on whether a
    live query's next batch has picked the new watermark up yet (the
    r5 flake: ``q.lastProgress`` can report a watermark that is not yet
    the batch-start filter of the following micro-batch under load).
    """
    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.streaming.ingest import streaming_rollup

    sch = flows_schema()
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    base = flows_df(spark, n=40)
    ingested = sch.ingest(base).limit(0)  # schema template
    stream_schema = ingested.schema

    # ONE template row (constant rollup keys) replicated per timestamp,
    # so each window is exactly one aggregation group
    template = sch.ingest(flows_df(spark, n=1)).drop("TimeReceived").limit(1)

    def mk_rows(ts_list):
        tsdf = spark.createDataFrame(
            [(t,) for t in ts_list], "TimeReceived timestamp"
        )
        df = template.crossJoin(tsdf).select(*stream_schema.fieldNames())
        df.coalesce(1).write.mode("append").parquet(str(src))

    from datetime import datetime, timezone

    def ts(minute, sec=0):
        return datetime(2024, 1, 1, 10, minute, sec, tzinfo=timezone.utc)

    def run():
        emissions = []
        stream = spark.readStream.schema(stream_schema).parquet(str(src))
        agg = streaming_rollup(stream, sch, interval_s=60, watermark="2 minutes")
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _bid: emissions.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emissions

    # run 1: two rows in window 10:00 + one far ahead at 10:10.  At
    # commit the offset log records watermark = 10:10 - 2min = 10:08.
    mk_rows([ts(0, 10), ts(0, 40), ts(10, 0)])
    out1 = run()
    win0 = [r for r in out1 if r["TimeReceived"] == ts(0, 0).replace(tzinfo=None)]
    assert win0 and all(r["Flows"] == 2 for r in win0)
    if runs == 1:
        return

    # run 2 (same checkpoint): first batch deterministically starts at
    # watermark 10:08 → the 10:00:50 row is too late and DROPPED, while
    # the fresh 10:10:30 row merges into its (checkpoint-restored) state.
    mk_rows([ts(0, 50), ts(10, 30)])
    out2 = run()
    win0_late = [
        r for r in out2 if r["TimeReceived"] == ts(0, 0).replace(tzinfo=None)
    ]
    # the dropped row produced NO update emission for window 10:00
    assert win0_late == []
    win10 = [r for r in out2 if r["TimeReceived"] == ts(10, 0).replace(tzinfo=None)]
    # the fresh row DID update its window: 10:00 + 10:30 rows = 2 flows
    assert win10 and max(r["Flows"] for r in win10) == 2


@pytest.mark.slow
def test_process_batch_observes_oldest_without_extra_job(spark, tmp_path):
    """T5's oldest-timestamp probe rides the write pass via observe()
    (VERDICT r3 item 3: no per-batch scalar collect): build_rollups
    receives the batch's true MIN(TimeReceived) as ``since``."""
    store = FlowStore(spark, str(tmp_path / "store"))
    ingest = FlowIngest(store)
    captured = {}
    orig = store.build_rollups
    store.build_rollups = lambda since=None: captured.update(since=since) or orig(since=since)
    batch = flows_df(spark, n=500)
    ingest.process_batch(batch)
    want = flows_schema().ingest(batch).agg(F.min("TimeReceived")).collect()[0][0]
    assert captured["since"] == want


def test_streaming_exact_dedup_one_run(spark, tmp_path):
    """One run of the sweep below: in-batch duplicates are dropped."""
    _exact_dedup_runs(spark, tmp_path, runs=1)


@pytest.mark.slow
def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    _exact_dedup_runs(spark, tmp_path, runs=2)


def _exact_dedup_runs(spark, tmp_path, runs: int):
    """First arrival of each document passes; re-arrivals are dropped
    both within a batch and across query RESTARTS (state survives via
    the checkpoint state store) — unbounded 'seen ever' semantics."""
    import os as _os

    from akvorado_spark.streaming.ingest import file_source
    from akvorado_spark.streaming.state import streaming_exact_dedup

    src = str(tmp_path / "in")
    _os.makedirs(src, exist_ok=True)
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    chunk1 = spark.createDataFrame(
        [(i, f"document number {i % 30}") for i in range(50)],  # 20 in-batch dups
        "doc_id long, text string",
    )
    chunk1.coalesce(1).write.mode("overwrite").parquet(src + "/c1")

    def run(path):
        stream = file_source(spark, path, chunk1.schema)
        q = (
            streaming_exact_dedup(stream, "text")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(src + "/c1")
    first = spark.read.parquet(sink)
    assert first.count() == 30  # in-batch dups suppressed
    assert first.select("text").distinct().count() == 30
    if runs == 1:
        return

    # second run, same checkpoint: 10 repeats of old docs + 5 new ones
    chunk2 = spark.createDataFrame(
        [(100 + i, f"document number {i}") for i in range(10)]
        + [(200 + i, f"fresh document {i}") for i in range(5)],
        "doc_id long, text string",
    )
    import glob
    import shutil

    chunk2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "c2_tmp"))
    for i, f in enumerate(glob.glob(str(tmp_path / "c2_tmp" / "part-*.parquet"))):
        shutil.move(f, src + f"/c1/chunk2-{i}.parquet")
    run(src + "/c1")
    final = spark.read.parquet(sink)
    assert final.count() == 35  # only the 5 fresh docs got through
    texts = {r["text"] for r in final.collect()}
    assert all(f"fresh document {i}" in texts for i in range(5))


def test_streaming_bloom_dedup_one_run(spark, tmp_path):
    """One run of the sweep below: in-batch duplicates are dropped."""
    _bloom_dedup_runs(spark, tmp_path, runs=1)


@pytest.mark.slow
def test_streaming_bloom_dedup_bounded_state(spark, tmp_path):
    _bloom_dedup_runs(spark, tmp_path, runs=2)


def _bloom_dedup_runs(spark, tmp_path, runs: int):
    """Bloom variant: duplicates are ALWAYS dropped (in-batch and
    across restarts via the checkpoint bitmap), uniques pass at the
    sized-bitmap scale (FP prob ~1e-9 here), and a deliberately tiny
    bitmap shows the bounded-state trade as false DROPS, never false
    passes."""
    import glob
    import os as _os
    import shutil

    from akvorado_spark.streaming.ingest import file_source
    from akvorado_spark.streaming.state import streaming_bloom_dedup

    src = str(tmp_path / "in")
    _os.makedirs(src + "/c1", exist_ok=True)
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    chunk1 = spark.createDataFrame(
        [(i, f"document number {i % 30}") for i in range(50)],
        "doc_id long, text string",
    )
    chunk1.coalesce(1).write.mode("overwrite").parquet(src + "/c1")

    def run():
        stream = file_source(spark, src + "/c1", chunk1.schema)
        q = (
            streaming_bloom_dedup(stream, "text")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = spark.read.parquet(sink)
    assert first.count() == 30
    assert first.select("text").distinct().count() == 30
    if runs == 1:
        return

    chunk2 = spark.createDataFrame(
        [(100 + i, f"document number {i}") for i in range(10)]
        + [(200 + i, f"fresh document {i}") for i in range(5)],
        "doc_id long, text string",
    )
    chunk2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "c2_tmp"))
    for i, f in enumerate(glob.glob(str(tmp_path / "c2_tmp" / "part-*.parquet"))):
        shutil.move(f, src + f"/c1/chunk2-{i}.parquet")
    run()
    final = spark.read.parquet(sink)
    assert final.count() == 35  # dups dropped across restart, fresh pass
    texts = {r["text"] for r in final.collect()}
    assert all(f"fresh document {i}" in texts for i in range(5))


def test_streaming_bloom_dedup_tiny_bitmap_false_drops_only(spark, tmp_path):
    """With a deliberately saturated bitmap (64 bits, 200 uniques) the
    errors are false DROPS only: every emitted text is a true first
    occurrence (no false passes) and the emitted count is well below
    the unique count."""
    import os as _os

    from akvorado_spark.streaming.ingest import file_source
    from akvorado_spark.streaming.state import streaming_bloom_dedup

    src = str(tmp_path / "in")
    _os.makedirs(src, exist_ok=True)
    rows = [(i, f"unique text {i}") for i in range(200)]
    b = spark.createDataFrame(rows, "doc_id long, text string")
    b.coalesce(1).write.parquet(src + "/f1")
    stream = file_source(spark, src + "/f1", b.schema)
    q = (
        streaming_bloom_dedup(
            stream, "text", buckets=2, bits_per_shard=64, hashes=2
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out")).collect()
    texts = [r["text"] for r in got]
    assert len(texts) == len(set(texts))  # never a duplicate emission
    assert 0 < len(texts) < 200  # saturation drops some uniques


def test_minhash_signature_expr_matches_grouped(spark):
    """The expression-only signature is bit-identical to the
    explode+groupBy batch form."""
    from akvorado_spark.operators.dedup import (
        minhash_signature_expr,
        minhash_signatures,
        word_ngrams,
    )
    from akvorado_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).filter("doc_id % 6 = 0").select(
        "doc_id", "text"
    )
    a = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(docs, "text", "doc_id", n_hashes=16).collect()
    }
    b = {
        r["doc_id"]: r["signature"]
        for r in docs.select(
            "doc_id",
            minhash_signature_expr(word_ngrams("text"), n_hashes=16).alias("signature"),
        ).collect()
    }
    assert a == b and len(a) > 20


@pytest.mark.slow
def test_streaming_minhash_candidates_equals_batch(spark, tmp_path):
    """A corpus streamed in two micro-batch runs (state carried through
    the checkpoint) yields exactly the batch LSH candidate pair set —
    including pairs whose two members arrived in DIFFERENT batches."""
    import glob
    import os as _os
    import shutil

    from akvorado_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from akvorado_spark.sources.tables import load_table
    from akvorado_spark.streaming.ingest import file_source
    from akvorado_spark.streaming.state import streaming_minhash_candidates
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).filter("doc_id % 6 = 0").select(
        "doc_id", "text"
    )
    twins = docs.select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker")).alias("text"),
    )
    corpus = docs.unionAll(twins)

    sigs = minhash_signatures(corpus, "text", "doc_id", n_hashes=32)
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, "doc_id", bands=16, n_hashes=32, max_bucket=None
        ).collect()
    }
    assert want  # the twins guarantee a non-empty candidate set

    src = str(tmp_path / "in")
    _os.makedirs(src, exist_ok=True)
    sink = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    # chunk 1 = originals, chunk 2 = twins: every twin pair SPANS batches
    docs.coalesce(1).write.parquet(src + "/w")
    for i, f in enumerate(glob.glob(src + "/w/part-*.parquet")):
        shutil.move(f, src + f"/chunk1-{i}.parquet")

    def run():
        q = (
            streaming_minhash_candidates(
                file_source(spark, src, docs.schema), "text", "doc_id"
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    twins.coalesce(1).write.parquet(src + "/w2")
    for i, f in enumerate(glob.glob(src + "/w2/part-*.parquet")):
        shutil.move(f, src + f"/chunk2-{i}.parquet")
    run()

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert got == want


def test_sampling_subnet_maps_and_skip_rules(spark):
    """Reference enricher.go:80-101: the override SubnetMap FORCES the
    rate (longest prefix wins), the default map fills zero rates, and
    skip_incomplete drops interface-less / nameless / still-zero-rate
    flows."""
    from akvorado_spark.functions.ip import ip_bytes

    rows = [
        # (exporter, rate, in, out, name)
        (ip_bytes("192.0.2.1"), 100, "Gi0", "Gi1", "r1"),     # override /24 → 5000
        (ip_bytes("192.0.2.9"), 100, "Gi0", "Gi1", "r2"),     # override /32 beats /24 → 7000
        (ip_bytes("198.51.100.1"), 0, "Gi0", "Gi1", "r3"),    # default map fills → 900
        (ip_bytes("203.0.113.1"), 0, "Gi0", "Gi1", "r4"),     # no default → dropped
        (ip_bytes("198.51.100.2"), 100, "", "", "r5"),        # no interfaces → dropped
        (ip_bytes("198.51.100.3"), 100, "Gi0", "", ""),       # no name → dropped
    ]
    df = spark.createDataFrame(
        rows,
        "ExporterAddress binary, SamplingRate long, InIfName string, "
        "OutIfName string, ExporterName string",
    )
    cfg = EnrichmentConfig(
        sampling_override=(("192.0.2.0/24", 5000), ("192.0.2.9/32", 7000)),
        sampling_default=(("198.51.100.0/24", 900),),
        skip_incomplete=True,
    )
    out = {r["ExporterName"]: r["SamplingRate"] for r in enrich(df, cfg).collect()}
    assert out == {"r1": 5000, "r2": 7000, "r3": 900}


def test_static_metadata_provider_reference_cases(spark):
    """Mirrors the reference's TestStaticProvider
    (outlet/metadata/provider/static/root_test.go): subnet-keyed
    exporter config, per-ifindex interfaces, Default fallback, and the
    no-default miss skipping the flow."""
    from akvorado_spark.functions.ip import ip_bytes
    from akvorado_spark.sources.static_meta import (
        resolve_static_metadata,
        static_metadata_frame,
    )

    meta = static_metadata_frame(
        spark,
        {
            "2001:db8:1::/48": {
                "name": "nodefault",
                "ifindexes": {
                    10: {"name": "Gi10", "description": "10th interface", "speed": 1000},
                    11: {"name": "Gi11", "description": "11th interface", "speed": 1000},
                },
            },
            "2001:db8:2::/48": {
                "name": "default",
                "default": {"name": "Default0", "description": "Default interface", "speed": 1000},
                "ifindexes": {10: {"name": "Gi10", "description": "10th interface", "speed": 1000}},
            },
            "2001:db8:3::/48": {
                "name": "default with metadata",
                "region": "eu", "role": "peering", "tenant": "mine",
                "site": "par", "group": "blue",
                "default": {"name": "Default0", "speed": 1000},
                "ifindexes": {
                    10: {"name": "Gi10", "speed": 1000, "provider": "transit101",
                         "connectivity": "transit", "boundary": "external"},
                },
            },
        },
    )
    flows = spark.createDataFrame(
        [
            (1, ip_bytes("2001:db8:1::7"), 10, 11),   # both mapped
            (2, ip_bytes("2001:db8:1::7"), 10, 12),   # out misses, no default → drop
            (3, ip_bytes("2001:db8:2::7"), 10, 12),   # out falls to Default0
            (4, ip_bytes("2001:db8:3::7"), 10, 10),   # exporter attrs + boundary
            (5, ip_bytes("2001:db8:9::7"), 10, 10),   # unknown exporter → drop
        ],
        "flow_id long, ExporterAddress binary, InIf long, OutIf long",
    )
    out = {r["flow_id"]: r for r in resolve_static_metadata(flows, meta).collect()}
    assert set(out) == {1, 3, 4}
    assert out[1]["ExporterName"] == "nodefault"
    assert (out[1]["InIfName"], out[1]["OutIfName"]) == ("Gi10", "Gi11")
    assert out[3]["OutIfName"] == "Default0"
    assert out[3]["OutIfDescription"] == "Default interface"
    r4 = out[4]
    assert r4["ExporterRegion"] == "eu" and r4["ExporterRole"] == "peering"
    assert r4["ExporterTenant"] == "mine" and r4["ExporterGroup"] == "blue"
    assert r4["InIfProvider"] == "transit101"
    assert r4["InIfConnectivity"] == "transit"
    assert r4["InIfBoundary"] == "external"
    assert r4["InIfSpeed"] == 1000


def test_static_metadata_default_route_subnet(spark):
    """A catch-all ::/0 (or 0.0.0.0/0) exporter subnet goes through the
    /0 default branch, which must handle the non-orderable interface
    map and the Default fallback (code-review finding: F.max over
    MapType raised)."""
    from akvorado_spark.functions.ip import ip_bytes
    from akvorado_spark.sources.static_meta import (
        resolve_static_metadata,
        static_metadata_frame,
    )

    meta = static_metadata_frame(
        spark,
        {
            "::/0": {
                "name": "catchall",
                "default": {"name": "Default0", "speed": 10},
                "ifindexes": {7: {"name": "Gi7", "speed": 100}},
            },
        },
    )
    flows = spark.createDataFrame(
        [(1, ip_bytes("2001:db8::1"), 7, 9)],
        "flow_id long, ExporterAddress binary, InIf long, OutIf long",
    )
    out = resolve_static_metadata(flows, meta).collect()
    assert len(out) == 1
    assert out[0]["ExporterName"] == "catchall"
    assert out[0]["InIfName"] == "Gi7" and out[0]["OutIfName"] == "Default0"


def test_enrich_routing_two_sided(spark):
    """enricher.go:132-163: one RIB snapshot, two LPM passes — the
    source side fills SrcCommunities/SrcLargeCommunities (+ routing
    AS), the destination side fills DstASPath/DstCommunities/
    DstLargeCommunities and the provider inputs (AS, netmask, next
    hop)."""
    from akvorado_spark.functions.ip import ip_bytes
    from akvorado_spark.functions.ip import prefix_mapped_len, prefix_range
    from akvorado_spark.streaming.ingest import enrich_routing

    def route(cidr, asn, path, comms, lcomms, nh):
        lo, hi = prefix_range(cidr)
        return (None, asn, path, comms, nh, lo, hi,
                prefix_mapped_len(cidr), lcomms)

    routes = spark.createDataFrame(
        [
            route("10.0.0.0/8", 65001, [65100, 65001], [100], [(65000, 1, 2)],
                  ip_bytes("198.51.100.1")),
            route("192.0.2.0/24", 65002, [65200, 65002], [200], [], None),
        ],
        "exporter binary, dst_as long, as_path array<long>, "
        "communities array<long>, next_hop binary, lo binary, hi binary, plen int, "
        "large_communities array<struct<asn:bigint,local1:bigint,local2:bigint>>",
    )
    flows = spark.createDataFrame(
        [(ip_bytes("10.1.2.3"), ip_bytes("192.0.2.9")),
         (ip_bytes("203.0.113.1"), ip_bytes("10.9.9.9"))],
        "SrcAddr binary, DstAddr binary",
    )
    out = enrich_routing(flows, routes).collect()
    by_src = {bytes(r["SrcAddr"])[-4:]: r for r in out}
    hit = by_src[bytes([10, 1, 2, 3])]
    assert hit["SrcRoutingAS"] == 65001
    assert list(hit["SrcCommunities"]) == [100]
    assert [tuple(x) for x in hit["SrcLargeCommunities"]] == [(65000, 1, 2)]
    assert hit["DstRoutingAS"] == 65002
    assert list(hit["DstASPath"]) == [65200, 65002]
    assert list(hit["DstCommunities"]) == [200]
    assert hit["DstRoutingNetMask"] == 96 + 24
    miss = by_src[bytes([203, 0, 113, 1])]
    assert miss["SrcRoutingAS"] is None and miss["SrcCommunities"] is None
    assert miss["DstRoutingAS"] == 65001  # 10/8 matched on the dst side
    assert bytes(miss["DstRoutingNextHop"])[-4:] == bytes([198, 51, 100, 1])


def test_rib_snapshot_carries_large_communities(spark):
    """The BMP RIB snapshot now exposes large communities
    (rib.go routeAttributes; RFC 8092 parse already tested in
    test_bmp) so enrich_routing can fill the schema columns."""
    from akvorado_spark.sources.bmp import RIB

    rib = RIB()
    rib.routes[(b"p" * 16, "10.0.0.0/8")] = {
        "as_path": [65100, 65001],
        "communities": [100],
        "large_communities": [(4200000000, 7, 8)],
    }
    frame = rib.to_frame(spark, bytes(16))
    row = frame.collect()[0]
    assert [tuple(x) for x in row["large_communities"]] == [(4200000000, 7, 8)]


def test_streaming_minhash_bucket_state_is_capped(spark, tmp_path):
    """Degenerate-bucket state is BOUNDED: with max_bucket=k, a bucket
    that sees many identical docs stores only k member ids (read back
    via the state-store data source) while every over-cap arrival still
    emits its connectivity-preserving star pair to the first member."""
    import os as _os

    from akvorado_spark.streaming.state import streaming_minhash_candidates

    k = 3
    text = "identical boilerplate document content for the cap check"
    rows = [(i, text) for i in range(1, 11)]  # 10 docs, one bucket each band
    src = str(tmp_path / "in")
    _os.makedirs(src)
    schema = "doc_id long, text string"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/f1")
    sink, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).parquet(src + "/*")
    q = (
        streaming_minhash_candidates(
            stream, "text", "doc_id", n_hashes=8, bands=2, max_bucket=k
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    st = spark.read.format("statestore").load(ckpt).collect()
    assert st  # identical docs: every band has exactly one bucket
    for r in st:
        assert len(r["value"]["groupState"]["members"]) <= k, r
    # connectivity: every doc is linked (directly or via the star) —
    # pairs per band: C(3,2) for the stored clique + 7 star pairs
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(sink).distinct().collect()
    }
    ids = set(range(1, 11))
    linked = {a for a, _ in got} | {b for _, b in got}
    assert linked == ids
    # pairs are the stored-members clique plus first-member stars only
    clique = {(1, 2), (1, 3), (2, 3)}
    for a, b in got:
        assert (a, b) in clique or a == 1, (a, b)
