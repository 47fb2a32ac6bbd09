"""Dimension rendering + dictionary + widget unit tests
(SURVEY §2.2 P11, §2.3 J1/J2, §2.4 A10/A11, §2.6 O5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import array_compact
from akvorado_spark.query.render import (
    icmp_render,
    render_asn,
    render_communities,
    render_mac,
    render_as_path,
    render_port,
    render_proto,
    render_tcp_flags,
)
from akvorado_spark.query.widgets import flow_rate, last_flow, top_percent
from akvorado_spark.sources.dictionaries import asns_df, dict_join


def _one(spark, sql):
    return spark.range(1).select(F.expr(sql).alias("v")).collect()[0]["v"]


def test_render_proto_and_port(spark):
    assert _one(spark, render_proto("6")) == "TCP"
    assert _one(spark, render_proto("255")) == "???"
    assert _one(spark, render_port("443", "6")) == "443/https"
    assert _one(spark, render_port("4444", "6")) == "4444"  # slash stripped
    assert _one(spark, render_port("53", "17")) == "53/domain"
    assert _one(spark, render_port("53", "1")) == "53"  # not TCP/UDP


def test_render_tcp_flags_bit_positions(spark):
    # SYN+ACK = bits 1 and 4 → "S."
    assert _one(spark, render_tcp_flags(str(0b10010))) == "S."
    assert _one(spark, render_tcp_flags("0")) == ""
    assert _one(spark, render_tcp_flags(str(0b111111111))) == "FSRP.UECN"


def test_render_mac(spark):
    assert _one(spark, render_mac(str(0x0000DEADBEEF00))) == "00:de:ad:be:ef:00"


def test_compact_path_drops_consecutive_dups_only(spark):
    out = _one(spark, render_as_path(array_compact("array(64512, 64512, 64513, 64512)")))
    assert out == "64512 64513 64512"  # non-consecutive dup survives


def test_render_communities_and_icmp(spark):
    comm = f"array(CAST({65000 * 65536 + 100} AS BIGINT))"
    assert _one(spark, render_communities(comm)) == "65000:100"
    assert _one(spark, icmp_render("1", "8", "0")) == "echo"
    assert _one(spark, icmp_render("1", "99", "0")) == ""


def test_render_asn_fallback(spark):
    assert _one(spark, render_asn("15169")) == "15169: Google"
    assert _one(spark, render_asn("4")) == "4: ???"


def test_dict_join_broadcast(spark):
    df = spark.createDataFrame([(15169,), (4,)], "asn long")
    out = dict_join(
        df, asns_df(spark), [("asn", "asn")], "name", "as_name", "???"
    ).collect()
    names = {r["asn"]: r["as_name"] for r in out}
    assert names == {15169: "Google", 4: "???"}


def test_widgets_shapes(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "a", 100, 10),
            ("2024-01-01 00:04:00", "b", 300, 10),
            ("2024-01-01 00:05:00", "", 600, 10),
        ],
        "TimeReceived string, ExporterName string, Bytes long, SamplingRate long",
    ).withColumn("TimeReceived", F.col("TimeReceived").cast("timestamp"))
    rate = flow_rate(df, "TimeReceived", 300).collect()[0]
    assert rate["rate"] == 2 / 300  # strictly-after window start excludes the first
    top = top_percent(df, "ExporterName", "Bytes * SamplingRate", 5).collect()
    by_name = {r["Name"]: r["Percent"] for r in top}
    assert by_name["Unknown"] == 60.0 and by_name["b"] == 30.0
    last = last_flow(df, "TimeReceived", ("ExporterName",)).collect()
    assert len(last) == 1 and last[0]["ExporterName"] == ""


def test_complete_mac_and_communities(spark):
    """The data-driven MAC / community completion branches (reference
    console/filter.go:218-283): rendered values from recent flows,
    most-used first, community + large-community families unioned with
    startsWith prefix matching."""
    from akvorado_spark.query.complete import complete_communities, complete_mac

    flows = spark.createDataFrame(
        [
            (0x001122334455, [65000 * 65536 + 100, 65000 * 65536 + 100],
             [{"asn": 65001, "local1": 1, "local2": 2}]),
            (0x001122334455, [65000 * 65536 + 200], []),
            (0xA1B2C3D4E5F6, [65000 * 65536 + 100], []),
        ],
        "SrcMAC long, DstCommunities array<long>, "
        "DstLargeCommunities array<struct<asn:long,local1:long,local2:long>>",
    )
    macs = [(r["label"], r["detail"]) for r in complete_mac(flows, "00:").collect()]
    assert macs == [("00:11:22:33:44:55", "MAC address")]
    all_macs = [r["label"] for r in complete_mac(flows, "").collect()]
    assert all_macs[0] == "00:11:22:33:44:55"  # most used first

    comms = [
        (r["label"], r["detail"])
        for r in complete_communities(flows, "65000:").collect()
    ]
    # 65000:100 seen 3x beats 65000:200 seen once
    assert comms == [("65000:100", "community"), ("65000:200", "community")]
    large = [
        (r["label"], r["detail"])
        for r in complete_communities(flows, "65001").collect()
    ]
    assert large == [("65001:1:2", "large community")]


def test_complete_network_attr_and_icmp(spark):
    from akvorado_spark.query.complete import complete_icmp, complete_network_attr

    networks = spark.createDataFrame(
        [("backbone",), ("customer-a",), ("customer-b",), ("transit",)],
        "Name string",
    )
    got = [r["label"] for r in complete_network_attr(networks, "Name", "cust").collect()]
    assert got == ["customer-a", "customer-b"]

    flows = spark.createDataFrame(
        [(1, "8/0"), (1, "8/0"), (1, "3/1"), (6, "")],
        "Proto int, ICMPv4 string",
    )
    labels = [r["label"] for r in complete_icmp(flows, "").collect()]
    # flows-seen values first (8/0 most used), then dictionary names
    assert labels[0] == "8/0" and labels[1] == "3/1"
    assert any("echo" in l.lower() or "unreachable" in l.lower() for l in labels[2:])
    # dictionary-only when the flows frame lacks the rendered column
    bare = spark.createDataFrame([(1,)], "Proto int")
    dico_only = [r["label"] for r in complete_icmp(bare, "echo").collect()]
    assert dico_only and all("echo" in l.lower() for l in dico_only)


def test_custom_asns_replace_builtins(spark):
    """Reference TestAdditionalASNs + http.go:85: a config-supplied ASN
    name replaces the embedded row for that ASN and adds new ones."""
    from akvorado_spark.sources.dictionaries import ASNS, asns_df

    builtin_asn, _ = ASNS[0]
    got = {
        r["asn"]: r["name"]
        for r in asns_df(
            spark, extra=[(1, "New network"), (builtin_asn, "Renamed")]
        ).collect()
    }
    assert got[1] == "New network"
    assert got[builtin_asn] == "Renamed"
    # no duplicate keys survive the merge
    df = asns_df(spark, extra=[(builtin_asn, "Renamed")])
    assert df.count() == df.select("asn").distinct().count()
