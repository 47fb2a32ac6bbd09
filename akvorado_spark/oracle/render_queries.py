"""Oracle-checked dimension-rendering queries (SURVEY §2.2 P11,
§2.3 J1/J2, §2.8 function surface).

The DuckDB side re-derives every display form with LEFT JOINs against
VALUES lists built from the *same* Python dictionaries, so a hash
match certifies the literal-map / bit-twiddling Spark expressions
against an independent implementation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import array_compact
from akvorado_spark.oracle.flows_view import oracle_view_sql, register_spark_view
from akvorado_spark.oracle.registry import register
from akvorado_spark.query.render import (
    icmp_render,
    render_asn,
    render_communities,
    render_communities_dim,
    render_etype,
    render_large_communities,
    render_mac,
    render_as_path,
    render_port,
    render_proto,
    render_tcp_flags,
)
from akvorado_spark.sources.dictionaries import ASNS, ICMP, PROTOCOLS, TCP_PORTS, UDP_PORTS


def _values(pairs) -> str:
    return ", ".join(f"({k}, '{v}')" for k, v in pairs)


# --- 1: protocol + port rendering (dictionary lookups, slash strip) --------


def _spark_proto_port(spark, sf_dir):
    register_spark_view(spark, sf_dir)
    df = spark.table("flows_v")
    return (
        df.groupBy(
            F.expr(render_proto("Proto")).alias("proto_name"),
            F.expr(render_port("DstPort", "Proto")).alias("dst_port"),
        )
        .agg(F.sum("Bytes").alias("bytes"), F.count(F.lit(1)).alias("flows"))
        .orderBy("proto_name", "dst_port")
    )


def _oracle_proto_port() -> str:
    return f"""
WITH source AS (SELECT * FROM {oracle_view_sql()}),
p(proto, name) AS (VALUES {_values(PROTOCOLS)}),
tcp(port, name) AS (VALUES {_values(TCP_PORTS)}),
udp(port, name) AS (VALUES {_values(UDP_PORTS)}),
base AS (
  SELECT COALESCE(p.name, '???') AS proto_name,
         regexp_replace(
           CASE WHEN s.Proto = 6 THEN CAST(s.DstPort AS STRING) || '/' || COALESCE(t.name, '')
                WHEN s.Proto = 17 THEN CAST(s.DstPort AS STRING) || '/' || COALESCE(u.name, '')
                ELSE CAST(s.DstPort AS STRING) END, '/$', '') AS dst_port,
         s.Bytes
  FROM source s
  LEFT JOIN p ON s.Proto = p.proto
  LEFT JOIN tcp t ON s.DstPort = t.port
  LEFT JOIN udp u ON s.DstPort = u.port
)
SELECT proto_name, dst_port, CAST(SUM(Bytes) AS BIGINT) AS bytes, COUNT(*) AS flows
FROM base GROUP BY proto_name, dst_port ORDER BY proto_name, dst_port"""


register("dim_render_proto_port", _spark_proto_port, _oracle_proto_port())


# --- 2: AS + EType + boundary rendering ------------------------------------

_AS_NAMES = ASNS + [(64512, "cust-a"), (64513, "cust-b"), (64514, "cust-c")]


def _spark_asn_etype(spark, sf_dir):
    register_spark_view(spark, sf_dir)
    df = spark.table("flows_v")
    return (
        df.groupBy(
            F.expr(render_asn("SrcAS", _AS_NAMES)).alias("src_as"),
            F.expr(render_etype("EType")).alias("etype"),
            F.col("InIfBoundary").alias("boundary"),
        )
        .agg(F.sum(F.col("Bytes") * F.col("SamplingRate")).alias("bytes"))
        .orderBy("src_as", "etype", "boundary")
    )


def _oracle_asn_etype() -> str:
    return f"""
WITH source AS (SELECT * FROM {oracle_view_sql()}),
a(asn, name) AS (VALUES {_values(_AS_NAMES)}),
base AS (
  SELECT CAST(s.SrcAS AS STRING) || ': ' || COALESCE(a.name, '???') AS src_as,
         CASE WHEN s.EType = 2048 THEN 'IPv4'
              WHEN s.EType = 34525 THEN 'IPv6'
              ELSE '???' END AS etype,
         s.InIfBoundary AS boundary,
         s.Bytes * s.SamplingRate AS w
  FROM source s LEFT JOIN a ON s.SrcAS = a.asn
)
SELECT src_as, etype, boundary, CAST(SUM(w) AS BIGINT) AS bytes
FROM base GROUP BY src_as, etype, boundary ORDER BY src_as, etype, boundary"""


register("dim_render_asn_etype", _spark_asn_etype, _oracle_asn_etype())


# --- 3: TCP flags, MAC, AS-path compact+join, communities, ICMP (J2) -------
#
# These columns don't exist in the flows view, so each engine derives
# them deterministically from view columns with identical arithmetic,
# then renders with its own machinery.


def _spark_flags_mac_path(spark, sf_dir):
    register_spark_view(spark, sf_dir)
    df = (
        spark.table("flows_v")
        # sample: full render coverage at ~1/11 of the output cardinality
        .filter(F.col("SrcPort") % 11 == 0)
        .withColumn("TCPFlags", ((F.col("SrcPort") * 7 + F.col("DstPort")) % 256).cast("int"))
        .withColumn(
            "SrcMAC",
            (((F.col("SrcPort") % 500) * 99991 + 17) % F.lit(281474976710656)).cast("long"),
        )
        .withColumn("DstASPath", F.array("SrcAS", "SrcAS", "DstAS").cast("array<long>"))
        .withColumn(
            "SrcCommunities",
            F.array(
                (F.col("SrcAS").cast("long") * 65536 + 100),
                (F.col("SrcAS").cast("long") * 65536 + 200),
            ),
        )
        .withColumn(
            "SrcLargeCommunities",
            F.array(
                F.struct(
                    F.col("SrcAS").cast("long").alias("asn"),
                    F.lit(1).cast("long").alias("local1"),
                    F.lit(2).cast("long").alias("local2"),
                )
            ),
        )
        .withColumn("IcmpType", (F.when(F.col("SrcPort") % 2 == 0, 0).otherwise(8)).cast("int"))
    )
    return (
        df.groupBy(
            F.expr(render_tcp_flags("TCPFlags")).alias("flags"),
            F.expr(render_mac("SrcMAC")).alias("src_mac"),
            F.expr(render_as_path(array_compact("DstASPath"))).alias("as_path"),
            F.expr(render_communities("SrcCommunities")).alias("communities"),
            F.expr(render_large_communities("SrcLargeCommunities")).alias("large_communities"),
            F.expr(render_communities_dim("SrcCommunities", "SrcLargeCommunities")).alias(
                "communities_dim"
            ),
            F.expr(icmp_render("Proto", "IcmpType", "0")).alias("icmp_name"),
        )
        .agg(F.count(F.lit(1)).alias("flows"))
        .orderBy("flags", "src_mac", "as_path", "communities", "large_communities", "communities_dim", "icmp_name")
    )


def _flag_sql(col: str) -> str:
    from akvorado_spark.query.render import TCP_FLAG_CHARS

    parts = [
        f"CASE WHEN ({col} & {1 << bit}) <> 0 THEN '{ch}' ELSE '' END"
        for bit, ch in enumerate(TCP_FLAG_CHARS)
    ]
    return " || ".join(parts)


def _oracle_flags_mac_path() -> str:
    icmp_vals = ", ".join(f"({p}, {t}, {c}, '{n}')" for p, t, c, n in ICMP)
    mac_octets = " || ':' || ".join(
        f"lpad(lower(hex((SrcMAC >> {shift}) & 255)), 2, '0')"
        for shift in (40, 32, 24, 16, 8, 0)
    )
    return f"""
WITH source AS (SELECT * FROM {oracle_view_sql()} WHERE SrcPort % 11 = 0),
derived AS (
  SELECT (SrcPort * 7 + DstPort) % 256 AS TCPFlags,
         ((SrcPort % 500) * 99991 + 17) % 281474976710656 AS SrcMAC,
         SrcAS, DstAS, Proto,
         CASE WHEN SrcPort % 2 = 0 THEN 0 ELSE 8 END AS IcmpType
  FROM source
),
icmp(proto, typ, code, name) AS (VALUES {icmp_vals}),
base AS (
  SELECT {_flag_sql('TCPFlags')} AS flags,
         {mac_octets} AS src_mac,
         CASE WHEN DstAS <> SrcAS THEN CAST(SrcAS AS STRING) || ' ' || CAST(DstAS AS STRING)
              ELSE CAST(SrcAS AS STRING) END AS as_path,
         CAST(SrcAS AS STRING) || ':100 ' || CAST(SrcAS AS STRING) || ':200' AS communities,
         CAST(SrcAS AS STRING) || ':1:2' AS large_communities,
         CAST(SrcAS AS STRING) || ':100 ' || CAST(SrcAS AS STRING) || ':200 '
           || CAST(SrcAS AS STRING) || ':1:2' AS communities_dim,
         COALESCE(i.name, '') AS icmp_name
  FROM derived d
  LEFT JOIN icmp i ON d.Proto = i.proto AND d.IcmpType = i.typ AND i.code = 0
)
SELECT flags, src_mac, as_path, communities, large_communities, communities_dim,
       icmp_name, COUNT(*) AS flows
FROM base
GROUP BY flags, src_mac, as_path, communities, large_communities, communities_dim, icmp_name
ORDER BY flags, src_mac, as_path, communities, large_communities, communities_dim, icmp_name"""


register("dim_render_flags_mac_path", _spark_flags_mac_path, _oracle_flags_mac_path())
