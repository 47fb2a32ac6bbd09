"""Enum/name dictionaries (SURVEY §2.1 S11, §2.3 J1/J2).

The reference serves ``asns/protocols/icmp/tcp/udp`` CSVs over HTTP
and attaches them as ClickHouse hashed dictionaries
(orchestrator/clickhouse/http.go:28-110, migrations.go:61-135); every
generated query then calls ``dictGetOrDefault``.

Spark-first: a hashed dictionary probe has two idiomatic forms —

- **literal map** (``element_at(map(...), key)``) for the
  small built-in dictionaries (≤ a few hundred entries): the lookup
  compiles into the row expression, stays inside whole-stage codegen,
  and never touches the shuffle or broadcast machinery;
- **broadcast hash join** (``dict_join``) for big user dictionaries
  (a full asns table is ~100k rows): classic J1.

Both end in ``coalesce(value, fallback)`` = ``dictGetOrDefault``.

The built-in data is a compact subset of the public IANA registries
(protocol numbers, well-known ports, ICMP type/codes) plus sample AS
names; ``*_df`` constructors accept user rows to extend/override, the
analog of the reference's custom dictionaries (common/schema/root.go:
107-185).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import sql_literal

# IANA protocol numbers (subset)
PROTOCOLS: list[tuple[int, str]] = [
    (0, "HOPOPT"), (1, "ICMP"), (2, "IGMP"), (4, "IPv4"), (6, "TCP"),
    (8, "EGP"), (9, "IGP"), (17, "UDP"), (41, "IPv6"), (43, "IPv6-Route"),
    (44, "IPv6-Frag"), (46, "RSVP"), (47, "GRE"), (50, "ESP"), (51, "AH"),
    (58, "IPv6-ICMP"), (59, "IPv6-NoNxt"), (60, "IPv6-Opts"), (88, "EIGRP"),
    (89, "OSPFIGP"), (94, "IPIP"), (97, "ETHERIP"), (103, "PIM"),
    (112, "VRRP"), (115, "L2TP"), (132, "SCTP"), (136, "UDPLite"),
    (137, "MPLS-in-IP"),
]

# IANA well-known service names (subset)
TCP_PORTS: list[tuple[int, str]] = [
    (21, "ftp"), (22, "ssh"), (23, "telnet"), (25, "smtp"), (53, "domain"),
    (80, "http"), (110, "pop3"), (119, "nntp"), (123, "ntp"), (143, "imap"),
    (179, "bgp"), (443, "https"), (445, "microsoft-ds"), (465, "submissions"),
    (587, "submission"), (853, "domain-s"), (993, "imaps"), (995, "pop3s"),
    (1935, "macromedia-fcs"), (3306, "mysql"), (5432, "postgresql"),
    (6881, "bittorrent"), (8080, "http-alt"), (8443, "pcsync-https"),
]
UDP_PORTS: list[tuple[int, str]] = [
    (53, "domain"), (67, "bootps"), (68, "bootpc"), (69, "tftp"),
    (123, "ntp"), (161, "snmp"), (162, "snmptrap"), (443, "https"),
    (500, "isakmp"), (514, "syslog"), (1194, "openvpn"), (1900, "ssdp"),
    (4500, "ipsec-nat-t"), (4789, "vxlan"), (5060, "sip"), (6343, "sflow"),
    (51820, "wireguard"),
]

# (proto, type, code) → name (subset; reference data/icmp.csv)
ICMP: list[tuple[int, int, int, str]] = [
    (1, 0, 0, "echo-reply"), (1, 3, 0, "net-unreachable"),
    (1, 3, 1, "host-unreachable"), (1, 3, 3, "port-unreachable"),
    (1, 3, 4, "fragmentation-needed"), (1, 5, 1, "redirect-host"),
    (1, 8, 0, "echo"), (1, 11, 0, "ttl-exceeded"),
    (58, 1, 0, "no-route"), (58, 1, 3, "address-unreachable"),
    (58, 1, 4, "port-unreachable"), (58, 2, 0, "packet-too-big"),
    (58, 3, 0, "ttl-exceeded"), (58, 128, 0, "echo"),
    (58, 129, 0, "echo-reply"), (58, 135, 0, "neighbor-solicitation"),
    (58, 136, 0, "neighbor-advertisement"),
]

# sample AS names (public data); real deployments load a full table
ASNS: list[tuple[int, str]] = [
    (2906, "Netflix"), (8075, "Microsoft"), (13335, "Cloudflare"),
    (15169, "Google"), (16509, "Amazon"), (20940, "Akamai"),
    (32934, "Facebook"),
]


def map_lookup(pairs: list[tuple], key: str, fallback: str) -> str:
    """dictGetOrDefault as a literal-map probe (codegen-resident): SQL
    text probing one ``map(…)`` literal with the SQL operand ``key``,
    the string ``fallback`` when the key is absent."""
    entries = ", ".join(f"{sql_literal(k)}, {sql_literal(v)}" for k, v in pairs)
    return f"coalesce(element_at(map({entries}), {key}), {sql_literal(fallback)})"


def dict_df(spark: SparkSession, pairs: list[tuple], schema: str) -> DataFrame:
    from akvorado_spark.sources.tables import local_df

    return local_df(spark, pairs, schema)


def asns_df(spark: SparkSession, extra: list[tuple[int, str]] | None = None) -> DataFrame:
    """``extra`` REPLACES or adds (reference config.go:26-28: custom
    ASNs override the embedded table — the csv writer skips a built-in
    row whose ASN the custom map defines, http.go:85)."""
    custom = dict(extra or [])
    rows = list(custom.items()) + [(a, n) for a, n in ASNS if a not in custom]
    return dict_df(spark, rows, "asn long, name string")


def dict_join(
    df: DataFrame,
    dim: DataFrame,
    keys: list[tuple[str, str]],
    attr: str,
    out: str,
    fallback: str | Column,
) -> DataFrame:
    """dictGetOrDefault as a broadcast hash join (J1/J2 at scale).

    ``keys`` is [(fact_col, dim_col), ...]; ``out`` receives
    coalesce(dim.attr, fallback).
    """
    fb = F.lit(fallback) if isinstance(fallback, str) else fallback
    cond = None
    for fc, dc in keys:
        c = df[fc] == dim[dc]
        cond = c if cond is None else (cond & c)
    joined = df.join(F.broadcast(dim), cond, "left")
    return joined.select(df["*"], F.coalesce(dim[attr], fb).alias(out))
