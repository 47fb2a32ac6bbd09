"""Schema registry + fixture tests (SURVEY §1, FIXTURES §1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import array_compact
from akvorado_spark.schema.definition import flows_schema
from akvorado_spark.sources.fixtures import flows_df


def test_direction_symmetry_cloning():
    s = flows_schema()
    names = {c.name for c in s.columns}
    for src in [n for n in names if n.startswith("Src")]:
        assert "Dst" + src[3:] in names, src
    for inif in [n for n in names if n.startswith("InIf")]:
        assert "OutIf" + inif[4:] in names, inif
    assert s.reverse_name("SrcAddr") == "DstAddr"
    assert s.reverse_name("OutIfName") == "InIfName"
    assert s.reverse_name("Proto") == "Proto"


def test_rollup_keys_drop_main_only():
    s = flows_schema()
    keys = set(s.rollup_keys())
    assert "SrcAddr" not in keys and "SrcPort" not in keys  # MainOnly
    assert "Bytes" not in keys and "Packets" not in keys  # summed
    assert {"ExporterAddress", "SrcAS", "InIfName", "EType", "Proto"} <= keys


def test_array_compact(spark):
    df = spark.createDataFrame(
        [([1, 1, 2, 2, 1, 3],), ([5],), ([],), ([7, 7, 7],)], "a array<long>"
    )
    out = [r["c"] for r in df.select(F.expr(array_compact("a")).alias("c")).collect()]
    assert out == [[1, 2, 1, 3], [5], [], [7]]


def test_ingest_generates_first_asns(spark):
    s = flows_schema()
    df = flows_df(spark, n=500)
    enriched = s.ingest(df)
    rows = enriched.select("DstASPath", "Dst1stAS", "Dst2ndAS", "Dst3rdAS").collect()
    for r in rows:
        path = r["DstASPath"]
        compacted = [path[0]] + [x for i, x in enumerate(path[1:], 1) if x != path[i - 1]]
        for pos, col in enumerate(["Dst1stAS", "Dst2ndAS", "Dst3rdAS"]):
            want = compacted[pos] if pos < len(compacted) else None
            assert r[col] == want, (path, compacted, r)


def test_view_packet_size(spark):
    s = flows_schema()
    df = s.view(s.ingest(flows_df(spark, n=500)))
    rows = df.select("Bytes", "Packets", "PacketSize", "PacketSizeBucket").limit(50).collect()
    for r in rows:
        assert r["PacketSize"] == r["Bytes"] // r["Packets"]
        lo, hi = r["PacketSizeBucket"].split("-")
        assert int(lo) <= r["PacketSize"]
        assert hi == "Inf" or r["PacketSize"] <= int(hi)


def test_view_net_prefix(spark):
    import ipaddress

    s = flows_schema()
    df = s.view(s.ingest(flows_df(spark, n=300)))
    rows = df.select("SrcAddr", "SrcNetMask", "EType", "SrcNetPrefix").collect()
    for r in rows:
        addr = ipaddress.IPv6Address(bytes(r["SrcAddr"]))
        if r["EType"] == 0x800:
            v4 = addr.ipv4_mapped
            net = ipaddress.ip_network(f"{v4}/{r['SrcNetMask']}", strict=False)
        else:
            net = ipaddress.ip_network(f"{addr}/{r['SrcNetMask']}", strict=False)
        want = f"{net.network_address}/{r['SrcNetMask']}" if r["SrcNetMask"] else ""
        assert r["SrcNetPrefix"] == want, (str(addr), r["SrcNetMask"], r["SrcNetPrefix"], want)


def test_configure_enable_disable_materialize(spark):
    import pytest

    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.sources.fixtures import flows_df

    base = flows_schema()
    assert "SrcVlan" not in [c.name for c in base.stored()]  # disabled by default

    cfg = base.configure(
        enable=("SrcVlan", "DstVlan"),
        disable=("SrcGeoCity", "DstGeoCity"),
        materialize=("SrcNetPrefix",),
    )
    stored = [c.name for c in cfg.stored()]
    assert "SrcVlan" in stored and "DstVlan" in stored
    assert "SrcGeoCity" not in stored
    assert "SrcNetPrefix" in stored  # alias flipped to stored

    with pytest.raises(ValueError):
        base.configure(disable=("TimeReceived",))  # primary key
    with pytest.raises(ValueError):
        base.configure(materialize=("Bytes",))  # not an alias
    with pytest.raises(ValueError):
        base.configure(enable=("NoSuchColumn",))

    # ingest computes the materialized prefix; view then skips it
    df = cfg.ingest(flows_df(spark, n=50))
    assert "SrcNetPrefix" in df.columns
    rows = cfg.view(df).select("SrcAddr", "SrcNetMask", "SrcNetPrefix").collect()
    ref = base.view(base.ingest(flows_df(spark, n=50))).select("SrcNetPrefix").collect()
    assert [r["SrcNetPrefix"] for r in rows] == [r["SrcNetPrefix"] for r in ref]
    # rollups never carry the materialized MainOnly prefix
    assert "SrcNetPrefix" not in [c.name for c in cfg.rollup_columns()]


def test_optional_registry_columns_enable_and_alias(spark):
    """The disabled registry columns (NAT, MAC, TTL/ToS/fragments,
    TCP flags, ICMP, MPLS, VRF — reference definition.go:436-537) turn
    on via configure() and their alias columns compute from stored
    deps: MPLS label aliases index MPLSLabels, ICMP display aliases
    gate on Proto with the type/code fallback form."""
    from pyspark.sql import functions as F

    from akvorado_spark.schema.definition import flows_schema

    base = flows_schema()
    names = {c.name for c in base.columns}
    assert {
        "SrcAddrNAT", "DstAddrNAT", "SrcPortNAT", "DstPortNAT", "SrcMAC",
        "DstMAC", "IPTTL", "IPTos", "IPFragmentID", "IPFragmentOffset",
        "IPv6FlowLabel", "TCPFlags", "ICMPv4Type", "ICMPv4Code", "ICMPv4",
        "ICMPv6", "MPLSLabels", "MPLS1stLabel", "MPLS4thLabel",
        "IngressVRFID", "EgressVRFID",
    } <= names
    # all disabled by default — the stored schema is unchanged
    assert not any(
        c.name in ("TCPFlags", "MPLSLabels", "SrcMAC") for c in base.stored()
    )

    sch = base.configure(
        enable=("MPLSLabels", "MPLS1stLabel", "MPLS2ndLabel", "TCPFlags",
                "ICMPv4", "ICMPv4Type", "ICMPv4Code", "Proto")
    )
    df = spark.createDataFrame(
        [
            (1, [100, 200], 6, 0, 0),
            (2, [300], 1, 3, 1),
            (3, [], 1, 8, 0),
        ],
        "id long, MPLSLabels array<long>, Proto int, ICMPv4Type int, ICMPv4Code int",
    ).withColumn("TCPFlags", F.lit(16).cast("int"))
    out = {r["id"]: r for r in sch.view(df).collect()}
    assert out[1]["MPLS1stLabel"] == 100 and out[1]["MPLS2ndLabel"] == 200
    assert out[2]["MPLS1stLabel"] == 300 and out[2]["MPLS2ndLabel"] is None
    assert out[1]["ICMPv4"] == ""        # not ICMP
    assert out[2]["ICMPv4"] == "3/1"
    assert out[3]["ICMPv4"] == "8/0"
