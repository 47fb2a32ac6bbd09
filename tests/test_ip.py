"""IP-as-binary kit tests — oracle is Python's ipaddress module."""

from __future__ import annotations

import ipaddress

import pytest
from pyspark.sql import functions as F

from akvorado_spark.functions.ip import (
    ip_bytes,
    ip_display,
    ip_truncate,
    ip_truncate_family,
    prefix_range,
)

EDGE_ADDRS = [
    "0.0.0.0",
    "255.255.255.255",
    "10.1.2.3",
    "192.0.2.1",
    "::",
    "::1",
    "2001:db8::1",
    "2001:db8:0:1::",
    "2001:db8::1:0:0:2",  # two zero runs, unequal
    "2001:0:0:1:0:0:0:2",  # two zero runs, rightmost longer
    "1:0:0:3:4:0:0:8",  # tied zero runs → leftmost compressed
    "fe80::ffff:ffff:ffff:ffff",
    "2001:db8:a:b:c:d:e:f",  # no zero run
    "0:1:2:3:4:5:6:7",  # leading single zero group (must NOT compress)
]


def _expected_display(s: str) -> str:
    a = ipaddress.ip_address(s)
    return str(a)


@pytest.fixture(scope="module")
def addr_df(spark):
    rows = [(s, ip_bytes(s)) for s in EDGE_ADDRS]
    return spark.createDataFrame(rows, "s string, ip binary")


def test_ip_display_matches_ipaddress(addr_df):
    got = {r["s"]: r["d"] for r in addr_df.select("s", ip_display(F.col("ip")).alias("d")).collect()}
    for s in EDGE_ADDRS:
        assert got[s] == _expected_display(s), s


def test_ip_truncate_matches_supernet(spark):
    cases = [
        ("10.1.2.3", 120, "10.1.2.0"),  # /24 in mapped space
        ("10.1.2.3", 106, "10.0.0.0"),  # /10 → partial nibble
        ("2001:db8:abcd::1", 48, "2001:db8:abcd::"),
        ("2001:db8:abcd::1", 33, "2001:db8:8000::"),  # partial nibble in v6
        ("255.255.255.255", 97, "128.0.0.0"),
    ]
    df = spark.createDataFrame([(s, ip_bytes(s), b) for s, _, b in [(c[0], None, c[1]) for c in cases]],
                               "s string, ip binary, bits int")
    for s, bits, want in cases:
        out = (
            spark.createDataFrame([(ip_bytes(s),)], "ip binary")
            .select(ip_display(F.expr(ip_truncate("ip", bits))).alias("d"))
            .collect()[0]["d"]
        )
        assert out == want, (s, bits, out)


def test_ip_truncate_family(spark):
    df = spark.createDataFrame(
        [(ip_bytes("10.1.2.3"),), (ip_bytes("2001:db8:abcd:1234::1"),)], "ip binary"
    )
    out = [r["d"] for r in df.select(ip_display(F.expr(ip_truncate_family("ip", 24, 48))).alias("d")).collect()]
    assert out == ["10.1.2.0", "2001:db8:abcd::"]


def test_prefix_range_bounds():
    lo, hi = prefix_range("10.0.0.0/8")
    assert lo == ip_bytes("10.0.0.0")
    assert hi == ip_bytes("10.255.255.255")
    lo6, hi6 = prefix_range("2001:db8::/32")
    assert lo6 == ipaddress.ip_address("2001:db8::").packed
    assert hi6 == ipaddress.ip_address("2001:db8:ffff:ffff:ffff:ffff:ffff:ffff").packed


def test_binary_compare_is_ip_order(spark):
    # BinaryType comparison must equal numeric IP order (LPM relies on it)
    lo, hi = prefix_range("10.1.0.0/16")
    df = spark.createDataFrame(
        [(ip_bytes("10.1.2.3"),), (ip_bytes("10.2.0.1"),), (ip_bytes("9.255.255.255"),)],
        "ip binary",
    )
    n = df.filter((F.col("ip") >= F.lit(lo)) & (F.col("ip") <= F.lit(hi))).count()
    assert n == 1
