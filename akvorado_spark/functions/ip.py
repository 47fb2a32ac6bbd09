"""IP-as-binary function kit.

The engine stores every IP as a 16-byte binary column, IPv4 as the
v4-mapped form ``::ffff:a.b.c.d`` — mirroring the reference's IPv6
columns (reference: common/schema/clickhouse.go:226-244 and
definition.go:274-281).  Every operation but display is **Spark SQL
text** (whole-stage-codegen'd, no Python UDFs):

- comparisons / BETWEEN work natively: Spark compares BinaryType
  lexicographically byte-wise (unsigned), which on fixed 16-byte
  big-endian addresses is exactly numeric IP order — same for DuckDB
  BLOBs, so oracle parity holds.
- masking / truncation (reference ``IPv6CIDRToRange(addr,bits).1``,
  console/graph.go:44-48) is done on the 32-char hex form with a
  generated nibble-mask CASE chain, then ``unhex`` back.
- display (reference ``IPv6NumToString``, console/query/column.go:208)
  renders v4-mapped as dotted quad and v6 in RFC 5952 compressed form
  through a pandas UDF over the few post-aggregation rows; SQL text
  calls it as ``akvorado_ip_display`` (:func:`register_sql_functions`).

Plan-time literals (prefix → lo/hi bounds) use Python's ``ipaddress``
on the driver — they never touch executor rows.
"""

from __future__ import annotations

import ipaddress
import weakref

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

V4MAPPED_HEX_PREFIX = "00000000000000000000ffff"


# ---------------------------------------------------------------------------
# Plan-time (driver-side) literal helpers
# ---------------------------------------------------------------------------


def ip_bytes(s: str) -> bytes:
    """Parse an IP string to canonical 16 bytes (v4 → v4-mapped)."""
    addr = ipaddress.ip_address(s)
    if addr.version == 4:
        return ipaddress.IPv6Address(f"::ffff:{s}").packed
    return addr.packed


def prefix_range(cidr: str) -> tuple[bytes, bytes]:
    """CIDR → (first, last) 16-byte bounds, v4 prefixes in v4-mapped space."""
    net = ipaddress.ip_network(cidr, strict=False)
    if net.version == 4:
        lo = ipaddress.IPv6Address(f"::ffff:{net.network_address}").packed
        hi = ipaddress.IPv6Address(f"::ffff:{net.broadcast_address}").packed
        return lo, hi
    return net.network_address.packed, net[-1].packed


def prefix_mapped_len(cidr: str) -> int:
    """Prefix length in the 128-bit mapped space (v4 /24 → /120)."""
    net = ipaddress.ip_network(cidr, strict=False)
    return net.prefixlen + 96 if net.version == 4 else net.prefixlen


# ---------------------------------------------------------------------------
# SQL text expressions
# ---------------------------------------------------------------------------


def _mask_nibble_sql(c: str, keep_bits: int) -> str:
    """Mask one hex nibble (a 1-char SQL string) keeping its top bits."""
    if keep_bits <= 0:
        return "'0'"
    if keep_bits >= 4:
        return c
    mask = (0xF << (4 - keep_bits)) & 0xF
    whens = " ".join(f"WHEN '{v:x}' THEN '{v & mask:x}'" for v in range(1, 16))
    return f"CASE {c} {whens} ELSE '0' END"


def ip_truncate(ip: str, bits: int) -> str:
    """SQL text zeroing all but the top ``bits`` bits (128-bit space)
    of the 16-byte address column ``ip``.

    Equivalent of the reference's ``IPv6CIDRToRange(addr, bits).1``
    dimension truncation (console/graph.go:44-48).  ``bits`` is a
    plan-time constant, so the mask compiles to substring/concat —
    no per-row branching beyond one nibble CASE.
    """
    bits = int(bits)
    if bits >= 128:
        return ip
    h = f"lower(hex({ip}))"
    full_nibbles = bits // 4
    rem = bits % 4
    parts = [f"substring({h}, 1, {full_nibbles})"] if full_nibbles else []
    pad = 32 - full_nibbles
    if rem:
        parts.append(_mask_nibble_sql(f"substring({h}, {full_nibbles + 1}, 1)", rem))
        pad -= 1
    parts.append(f"'{'0' * pad}'")
    return f"unhex(concat({', '.join(parts)}))"


def ip_truncate_family(ip: str, v4_bits: int, v6_bits: int) -> str:
    """Family-dependent truncation as SQL text: v4-mapped addresses use
    the v4 prefix length (offset by 96), v6 the v6 length
    (reference console/graph.go:52-88)."""
    return (
        f"CASE WHEN startswith(lower(hex({ip})), '{V4MAPPED_HEX_PREFIX}')"
        f" THEN {ip_truncate(ip, 96 + int(v4_bits))}"
        f" ELSE {ip_truncate(ip, int(v6_bits))} END"
    )


# Display rendering is a *post-aggregation* concern in this engine: queries
# group by the 16-byte binary (injective), then render the few surviving
# rows.  An Arrow-vectorized pandas UDF over python's ipaddress gives exact
# RFC 5952 output; a pure-SQL when-cascade version was tried and blew the
# whole-stage-codegen method-size limit (janino bailout), making everything
# slower — the UDF on tiny post-agg frames is the faster plan.


_UDF_CACHE: dict[str, object] = {}


def _display_udf():
    # pandas_udf needs an active SparkSession to parse its return type,
    # so build lazily at first use and cache.
    if "display" not in _UDF_CACHE:

        def conv_series(s: pd.Series) -> pd.Series:
            def conv(b):
                if b is None:
                    return None
                try:
                    a = ipaddress.IPv6Address(bytes(b))
                except ValueError:
                    return None  # malformed row: render NULL, don't kill the scan
                v4 = a.ipv4_mapped
                return str(v4) if v4 is not None else str(a)

            return s.map(conv)

        _UDF_CACHE["display"] = F.pandas_udf(conv_series, "string")
    return _UDF_CACHE["display"]


def ip_display(ip: Column) -> Column:
    """Human-readable form; v4-mapped → dotted quad (the reference
    strips the ::ffff: prefix with replaceRegexpOne,
    console/query/column.go:208-212).  Use after aggregation."""
    return _display_udf()(ip)


def _net_prefix_udf():
    if "net_prefix" not in _UDF_CACHE:

        def render(ip: pd.Series, mask: pd.Series, etype: pd.Series) -> pd.Series:
            out = []
            for b, m, e in zip(ip, mask, etype):
                if b is None or m is None or int(m) == 0:
                    out.append("")
                    continue
                try:
                    a = ipaddress.IPv6Address(bytes(b))
                except ValueError:
                    out.append("")
                    continue
                m = int(m)
                if int(e) == 0x800 and a.ipv4_mapped is not None:
                    net = ipaddress.ip_network(f"{a.ipv4_mapped}/{m}", strict=False)
                else:
                    net = ipaddress.ip_network(f"{a}/{m}", strict=False)
                out.append(f"{net.network_address}/{m}")
            return pd.Series(out, dtype="object")

        _UDF_CACHE["net_prefix"] = F.pandas_udf(render, "string")
    return _UDF_CACHE["net_prefix"]


_SQL_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def register_sql_functions(spark) -> None:
    """Make the two display UDFs callable from SQL text, once per
    session:

    - ``akvorado_ip_display(ip)`` is :func:`ip_display`;
    - ``akvorado_net_prefix(ip, mask, etype)`` renders 'addr/mask' of
      the network an address belongs to — the SrcNetPrefix/DstNetPrefix
      ALIAS columns (reference common/schema/definition.go:288-299).
      Rows with mask=0 render ''."""
    if spark not in _SQL_SESSIONS:
        spark.udf.register("akvorado_ip_display", _display_udf())
        spark.udf.register("akvorado_net_prefix", _net_prefix_udf())
        _SQL_SESSIONS.add(spark)
