"""Dimension display rendering (SURVEY §2.2 P11;
reference console/query/column.go:106-256).

Every dimension type gets the reference's display form, as pure
`pyspark.sql.functions` column expressions (codegen-resident, no
Python UDFs):

- AS numbers   → ``"<n>: <name>"`` with '???' fallback (dictionary)
- EType        → 'IPv4' / 'IPv6' / '???'
- Proto        → dictionary name with '???' fallback
- ports        → ``"<port>/<service>"``, trailing slash dropped when
                 the port has no name; non-TCP/UDP → plain number
- TCP flags    → bit-positional string (F S R P . U E C N)
- MAC          → colon-hex (MACNumToString)
- AS path/MPLS → space-joined array
- communities  → "asn:value" / "asn:v1:v2" strings, space-joined
- boundaries   → the enum label (already stored as label)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from akvorado_spark.sources.dictionaries import (
    PROTOCOLS,
    TCP_PORTS,
    UDP_PORTS,
    map_lookup,
)

ETYPE_IPV4 = 0x800
ETYPE_IPV6 = 0x86DD

# bit position → displayed character (reference column.go:140-162;
# ACK deliberately renders as '.')
TCP_FLAG_CHARS = ["F", "S", "R", "P", ".", "U", "E", "C", "N"]


def render_asn(asn: Column, names: list[tuple[int, str]] | None = None) -> Column:
    """``concat(toString(x), ': ', dictGetOrDefault(asns, name, x, '???'))``"""
    from akvorado_spark.sources.dictionaries import ASNS

    return F.concat(
        asn.cast("string"), F.lit(": "), map_lookup(names or ASNS, asn, "???")
    )


def icmp_render(proto: Column, typ: Column, code: Column) -> Column:
    """Composite-key ICMP name (J2; reference
    common/schema/definition.go:463-484): tuple(proto, type, code)
    probed against the icmp dictionary, '' fallback."""
    from akvorado_spark.sources.dictionaries import icmp_lookup

    return icmp_lookup(proto, typ, code, "")


def render_etype(etype: Column) -> Column:
    return (
        F.when(etype == ETYPE_IPV4, F.lit("IPv4"))
        .when(etype == ETYPE_IPV6, F.lit("IPv6"))
        .otherwise(F.lit("???"))
    )


def render_proto(proto: Column) -> Column:
    return map_lookup(PROTOCOLS, proto, "???")


def render_port(port: Column, proto: Column) -> Column:
    """``multiIf(proto=6, '<p>/<tcp-name>', proto=17, '<p>/<udp-name>',
    toString(p))`` with the trailing slash stripped when unnamed
    (reference column.go:166-185)."""
    named_tcp = F.concat(port.cast("string"), F.lit("/"), map_lookup(TCP_PORTS, port, ""))
    named_udp = F.concat(port.cast("string"), F.lit("/"), map_lookup(UDP_PORTS, port, ""))
    raw = (
        F.when(proto == 6, named_tcp)
        .when(proto == 17, named_udp)
        .otherwise(port.cast("string"))
    )
    return F.regexp_replace(raw, "/$", "")


def render_tcp_flags(flags: Column) -> Column:
    """Bit-positional flag string: set bits contribute their char."""
    parts = [
        F.when(flags.bitwiseAND(F.lit(1 << bit)) != 0, F.lit(ch)).otherwise(F.lit(""))
        for bit, ch in enumerate(TCP_FLAG_CHARS)
    ]
    return F.concat(*parts)


def render_mac(mac: Column) -> Column:
    """MACNumToString: 48-bit int → 'aa:bb:cc:dd:ee:ff'."""
    octets = [
        F.lpad(F.lower(F.hex(F.shiftright(mac, shift).bitwiseAND(F.lit(0xFF)))), 2, "0")
        for shift in (40, 32, 24, 16, 8, 0)
    ]
    return F.concat_ws(":", *octets)


def render_as_path(path: Column) -> Column:
    """arrayStringConcat(path, ' ')"""
    return F.array_join(path.cast("array<string>"), " ")


def compact_path(path: str) -> Column:
    """``arrayCompact`` over the SQL operand ``path``: drop *consecutive*
    duplicates (reference raw→main MV,
    orchestrator/clickhouse/migrations_helpers.go:380-384).  Pure SQL:
    keep element i when i=1 or path[i] != path[i-1]."""
    kept = (
        f"filter(sequence(1, size({path})),"
        f" i -> i = 1 OR element_at({path}, i) != element_at({path}, i - 1))"
    )
    return F.expr(f"transform({kept}, i -> element_at({path}, i))")


def render_community_value(c: str) -> str:
    """One community → 'asn:value' SQL text (reference
    CommunityToString, console/query/column.go:216-223)."""
    return f"concat(CAST(shiftright({c}, 16) AS STRING), ':', CAST({c} & 65535 AS STRING))"


def render_large_community_value(c: str) -> str:
    """One large community struct(asn, local1, local2) → 'asn:l1:l2'
    SQL text (reference LargeCommunityToString, column.go:234-248;
    SURVEY §1.3 recommends the struct form over UInt128)."""
    return (
        f"concat_ws(':', CAST({c}.asn AS STRING), CAST({c}.local1 AS STRING),"
        f" CAST({c}.local2 AS STRING))"
    )


def render_communities(comm: str) -> Column:
    """``arrayMap(c -> concat(toString(shiftright(c,16)), ':',
    toString(bitAnd(c, 0xffff))), comm)`` → space-joined."""
    return F.expr(f"array_join(transform({comm}, c -> {render_community_value('c')}), ' ')")


def render_large_communities(comm: str) -> Column:
    """Large communities → space-joined 'asn:l1:l2' strings."""
    return F.expr(f"array_join(transform({comm}, c -> {render_large_community_value('c')}), ' ')")


def render_communities_dim(comm: str, large: str) -> Column:
    """The ``Communities`` DIMENSION renders regular and large
    communities as ONE space-joined string — ``arrayStringConcat(
    arrayConcat(arrayMap(...,Communities), arrayMap(...,
    LargeCommunities)), ' ')`` (console/query/column_test.go:90-96) —
    so a flow's full community set groups as a single value."""
    return F.expr(
        f"array_join(concat(transform({comm}, c -> {render_community_value('c')}),"
        f" transform({large}, c -> {render_large_community_value('c')})), ' ')"
    )
