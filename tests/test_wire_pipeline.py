"""End-to-end ingest-path test (SURVEY §3.3): binary datagrams →
decode → wire bridge → enrichment → store → rollups → graph query.
The full reference pipeline, UDP socket excluded, in one test."""

from __future__ import annotations

import pytest

from datetime import datetime, timezone

from pyspark.sql import functions as F

from akvorado_spark.sources.decode import RAW_FLOW_SCHEMA, decode_binary
from akvorado_spark.sources.wire import WIRE_SCHEMA, ip16, netflow_batch_parser
from akvorado_spark.streaming.wire_bridge import wire_to_flows

from test_wire import EXP, build_v5, build_v9, v9_data, v9_template


def _interfaces(spark):
    rows = [
        (ip16(EXP), 1, "et-0/0/1", "to-core", 100000),
        (ip16(EXP), 2, "et-0/0/2", "to-edge", 100000),
        (ip16(EXP), 10, "xe-1/0/0", "peering", 10000),
        (ip16(EXP), 20, "xe-1/0/1", "transit", 10000),
    ]
    return spark.createDataFrame(
        rows, "ExporterAddress binary, IfIndex long, Name string, Description string, Speed long"
    )


def test_datagrams_to_graph_query(spark, tmp_path):
    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.query.graph import GraphRequest, graph_line
    from akvorado_spark.streaming.ingest import EnrichmentConfig, FlowIngest

    pkts = [
        build_v9([v9_template(), v9_data()]),
        build_v5(
            [
                dict(src=b"\x0a\x00\x00\x01", dst=b"\x0a\x00\x00\x02", sp=80, dp=443,
                     bytes=1000, pkts=4, inif=1, outif=2, proto=6),
                dict(src=b"\x0a\x00\x00\x03", dst=b"\x0a\x00\x00\x04", sp=53, dp=53,
                     bytes=200, pkts=1, inif=1, outif=99, proto=17),
            ],
            sampling=100,
        ),
    ]
    raw = spark.createDataFrame(
        [(None, p, EXP, "netflow", "udp", "none", False, 0) for p in pkts], RAW_FLOW_SCHEMA
    ).repartition(1)

    wire = decode_binary(raw, WIRE_SCHEMA, "netflow", netflow_batch_parser())
    flows = wire_to_flows(wire, interfaces=_interfaces(spark))

    # named interfaces resolved; unknown ifindex 99 falls back to its number
    names = {(r["InIfName"], r["OutIfName"]) for r in flows.collect()}
    assert ("et-0/0/1", "et-0/0/2") in names
    assert ("et-0/0/1", "99") in names
    assert ("xe-1/0/0", "xe-1/0/1") in names  # v9 row, ifindexes 10/20

    store = FlowStore(spark, str(tmp_path / "wire_store"))
    FlowIngest(store, EnrichmentConfig()).process_batch(flows)

    stored = store.read(store.resolutions[0]).collect()
    assert len(stored) == 3
    by_bytes = {r["Bytes"]: r for r in stored}
    assert by_bytes[1000]["SamplingRate"] == 100  # v5 header sampling
    assert by_bytes[1500]["SamplingRate"] == 1    # v9 without options
    assert by_bytes[1500]["TimeReceived"] == datetime(2023, 11, 14, 22, 15, 0)

    # rollups built by the ingest; graph query answers from the store
    day = datetime(2023, 11, 14, tzinfo=timezone.utc)
    req = GraphRequest(
        start=day, end=datetime(2023, 11, 15, tzinfo=timezone.utc),
        dimensions=("InIfName",), units="l3bps", points=24, limit=5,
    )
    out = graph_line(store, req)
    got = {r["InIfName"]: r for r in out.collect() if r["xps"] > 0}
    assert set(got) == {"et-0/0/1", "xe-1/0/0"}
    # l3bps = sum(Bytes*SamplingRate*8)/interval; interval = 3600 s
    assert got["et-0/0/1"]["xps"] == (1000 * 100 + 200 * 100) * 8 / 3600


def test_wire_bridge_types_match_schema(spark):
    from akvorado_spark.schema.definition import flows_schema

    pkt = build_v5([dict(src=b"\x0a\x00\x00\x01", dst=b"\x0a\x00\x00\x02")])
    raw = spark.createDataFrame([(None, pkt, EXP, "netflow", "udp", "none", False, 0)], RAW_FLOW_SCHEMA)
    wire = decode_binary(raw, WIRE_SCHEMA, "netflow", netflow_batch_parser())
    flows = wire_to_flows(wire)
    schema = flows_schema()
    expected = {
        f.name: f.dataType for f in schema.struct_type(main=True).fields
        if schema.by_name[f.name].generated is None
    }
    got = {f.name: f.dataType for f in flows.schema.fields}
    assert got == expected
    row = flows.collect()[0]
    assert row["FlowDirection"] == "undefined" and row["InIfName"] == "1"


def test_streaming_protobuf_to_store_one_batch(spark, tmp_path):
    """One micro-batch of the sweep below: the template, its data and
    a v5 packet arrive together."""
    _protobuf_stream_to_store(spark, tmp_path, batches=1)


@pytest.mark.slow
def test_streaming_protobuf_to_store(spark, tmp_path):
    _protobuf_stream_to_store(spark, tmp_path, batches=2)


def _protobuf_stream_to_store(spark, tmp_path, batches: int):
    """The reference pipeline end-to-end in streaming form: RawFlow
    protobuf blobs → transport decode → template-stateful NetFlow
    decode → wire bridge → FlowStore append + rollups, driven by
    Structured Streaming micro-batches."""
    import os

    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.sources.rawflow_pb import encode_raw_flow, raw_flows_from_kafka
    from akvorado_spark.streaming.ingest import EnrichmentConfig, FlowIngest
    from akvorado_spark.streaming.state import streaming_netflow_decode

    from test_wire import build_v5, build_v9, v9_data, v9_template

    src = str(tmp_path / "pb_in")
    os.makedirs(src)
    # micro-batch 1: v9 template only; micro-batch 2: v9 data + a v5 packet
    b1 = [(encode_raw_flow(time_received=1700000000, payload=build_v9([v9_template()]),
                           source_address=EXP, decoder="netflow"),)]
    b2 = [(encode_raw_flow(time_received=1700000060, payload=build_v9([v9_data()]),
                           source_address=EXP, decoder="netflow"),),
          (encode_raw_flow(time_received=1700000060,
                           payload=build_v5([dict(src=b"\x0a\x00\x00\x05",
                                                  dst=b"\x0a\x00\x00\x06",
                                                  sp=123, dp=456, bytes=888, pkts=2)]),
                           source_address=EXP, decoder="netflow"),)]
    if batches == 1:
        spark.createDataFrame(b1 + b2, "value binary").coalesce(1).write.parquet(src + "/f1")
    else:
        spark.createDataFrame(b1, "value binary").coalesce(1).write.parquet(src + "/f1")
        spark.createDataFrame(b2, "value binary").coalesce(1).write.parquet(src + "/f2")

    kafka_like = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    wire = streaming_netflow_decode(raw_flows_from_kafka(kafka_like))

    store = FlowStore(spark, str(tmp_path / "pb_store"))
    ingest = FlowIngest(store, EnrichmentConfig())

    def sink(batch, batch_id):
        ingest.process_batch(wire_to_flows(batch, interfaces=_interfaces(spark)))

    q = (
        wire.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "pb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    stored = store.read(store.resolutions[0]).collect()
    assert len(stored) == 2  # the v9 record decoded (across batches: via state)
    by_bytes = {r["Bytes"]: r for r in stored}
    assert by_bytes[1500]["InIfName"] == "xe-1/0/0"  # metadata join applied
    assert by_bytes[888]["SamplingRate"] == 1
