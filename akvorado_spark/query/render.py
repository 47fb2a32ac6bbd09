"""Dimension display rendering (SURVEY §2.2 P11;
reference console/query/column.go:106-256).

Every dimension type gets the reference's display form, as Spark SQL
text over SQL operands (codegen-resident, no Python UDFs); callers
splice it into a statement or wrap it in ``F.expr``:

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

from akvorado_spark.sources.dictionaries import (
    ASNS,
    ICMP,
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


def render_asn(asn: str, names: list[tuple[int, str]] | None = None) -> str:
    """``concat(toString(x), ': ', dictGetOrDefault(asns, name, x, '???'))``"""
    return f"concat(CAST({asn} AS STRING), ': ', {map_lookup(names or ASNS, asn, '???')})"


def icmp_render(proto: str, typ: str, code: str) -> str:
    """Composite-key ICMP name (J2; reference
    common/schema/definition.go:463-484): tuple(proto, type, code)
    probed against the icmp dictionary as key proto*65536+type*256+code,
    '' fallback."""
    pairs = [(p * 65536 + t * 256 + c, name) for (p, t, c, name) in ICMP]
    return map_lookup(pairs, f"({proto}) * 65536 + ({typ}) * 256 + ({code})", "")


def render_etype(etype: str) -> str:
    return (
        f"CASE WHEN {etype} = {ETYPE_IPV4} THEN 'IPv4'"
        f" WHEN {etype} = {ETYPE_IPV6} THEN 'IPv6' ELSE '???' END"
    )


def render_proto(proto: str) -> str:
    return map_lookup(PROTOCOLS, proto, "???")


def render_port(port: str, proto: str) -> str:
    """``multiIf(proto=6, '<p>/<tcp-name>', proto=17, '<p>/<udp-name>',
    toString(p))`` with the trailing slash stripped when unnamed
    (reference column.go:166-185)."""
    named_tcp = f"concat(CAST({port} AS STRING), '/', {map_lookup(TCP_PORTS, port, '')})"
    named_udp = f"concat(CAST({port} AS STRING), '/', {map_lookup(UDP_PORTS, port, '')})"
    return (
        f"regexp_replace(CASE WHEN {proto} = 6 THEN {named_tcp}"
        f" WHEN {proto} = 17 THEN {named_udp}"
        f" ELSE CAST({port} AS STRING) END, '/$', '')"
    )


def render_tcp_flags(flags: str) -> str:
    """Bit-positional flag string: set bits contribute their char."""
    parts = [
        f"CASE WHEN ({flags} & {1 << bit}) != 0 THEN '{ch}' ELSE '' END"
        for bit, ch in enumerate(TCP_FLAG_CHARS)
    ]
    return f"concat({', '.join(parts)})"


def render_mac(mac: str) -> str:
    """MACNumToString: 48-bit int → 'aa:bb:cc:dd:ee:ff'."""
    octets = [
        f"lpad(lower(hex(shiftright({mac}, {shift}) & 255)), 2, '0')"
        for shift in (40, 32, 24, 16, 8, 0)
    ]
    return f"concat_ws(':', {', '.join(octets)})"


def render_as_path(path: str) -> str:
    """arrayStringConcat(path, ' ')"""
    return f"array_join(CAST({path} AS ARRAY<STRING>), ' ')"


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


def render_communities(comm: str) -> str:
    """``arrayMap(c -> concat(toString(shiftright(c,16)), ':',
    toString(bitAnd(c, 0xffff))), comm)`` → space-joined."""
    return f"array_join(transform({comm}, c -> {render_community_value('c')}), ' ')"


def render_large_communities(comm: str) -> str:
    """Large communities → space-joined 'asn:l1:l2' strings."""
    return f"array_join(transform({comm}, c -> {render_large_community_value('c')}), ' ')"


def render_communities_dim(comm: str, large: str) -> str:
    """The ``Communities`` DIMENSION renders regular and large
    communities as ONE space-joined string — ``arrayStringConcat(
    arrayConcat(arrayMap(...,Communities), arrayMap(...,
    LargeCommunities)), ' ')`` (console/query/column_test.go:90-96) —
    so a flow's full community set groups as a single value."""
    return (
        f"array_join(concat(transform({comm}, c -> {render_community_value('c')}),"
        f" transform({large}, c -> {render_large_community_value('c')})), ' ')"
    )
