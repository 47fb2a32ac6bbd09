"""Console builders as SQL text: every builder under
``akvorado_spark/query/`` is one Spark SQL statement (or one SQL
expression), so building it costs a few py4j commands; user prefixes
reach the statement only as literals.
"""

from __future__ import annotations

import ast
import pathlib
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from akvorado_spark.query import complete as C
from akvorado_spark.query import render as R
from akvorado_spark.query.stats import series_stats
from akvorado_spark.sources.dictionaries import ICMP, TCP_PORTS, UDP_PORTS
from akvorado_spark.telemetry import py4j_commands

QUERY_DIR = pathlib.Path(__file__).resolve().parents[1] / "akvorado_spark" / "query"

# user text holding every character that SQL quoting, LIKE patterns,
# the statement formatter's ``{name}`` fields or a byte-wise lower()
# could trip on; each value k appears k+1 times, so counts rank it
VALUES = ["a'\\{}%_é{flows}z", "'\\{}%_é head", "100%", "under_score", "Éclair", "plain", "it's"]
NASTY = "'\\{}%_é"
PREFIXES = [NASTY, "%", "_"]
MACS = [0x001122334455 + k for k in range(len(VALUES))]
COMMS = [(65000 + k) * 65536 + 100 for k in range(len(VALUES))]


@pytest.fixture(scope="module")
def flows(spark):
    now = datetime(2024, 1, 2, tzinfo=timezone.utc)
    rows = [
        (now, v, v, 1, v, 64500 + k, 443, MACS[k], [COMMS[k]], [(65000 + k, 1, 2)], v)
        for k, v in enumerate(VALUES)
        for _ in range(k + 1)
    ]
    return spark.createDataFrame(
        rows,
        "TimeReceived timestamp, ExporterName string, Name string, Proto int,"
        " ICMPv4 string, SrcAS long, DstPort int, SrcMAC long, DstCommunities array<long>,"
        " DstLargeCommunities array<struct<asn:long,local1:long,local2:long>>, Attr string",
    ).cache()


def _has(v: str, p: str) -> bool:
    return p.lower() in v.lower()


def _pos(v: str, p: str) -> int:
    return v.lower().find(p.lower())


def _ranked(seen: list[tuple], from_dict: list[tuple]) -> list[tuple]:
    """The reference's merge of a flows branch (rank 1) and a dictionary
    branch (rank 2): per row MIN(rank), MIN(ord), then the label."""
    best: dict[tuple, tuple[int, int]] = {}
    for rank, rows in ((1, seen), (2, from_dict)):
        for ord_, row in enumerate(rows, 1):
            r, o = best.get(row, (rank, ord_))
            best[row] = (min(r, rank), min(o, ord_))
    return sorted(best, key=lambda row: (*best[row], row[0]))[:20]


def _mac(m: int) -> str:
    return ":".join(f"{(m >> s) & 255:02x}" for s in (40, 32, 24, 16, 8, 0))


def _expected(name: str, p: str) -> list[tuple]:
    count = {v: k + 1 for k, v in enumerate(VALUES)}
    by_count = sorted(VALUES, key=lambda v: (-count[v], v))
    if name == "exporter":
        return [(v, "exporter name") for v in sorted(
            (v for v in VALUES if _has(v, p)), key=lambda v: (_pos(v, p), v))]
    if name == "network_attr":
        return [(v, "network name") for v in sorted(v for v in VALUES if _has(v, p))]
    if name == "dimension_attribute":
        return [(v, "attribute value") for v in sorted(
            v for v in VALUES if v.lower().startswith(p.lower()))]
    if name == "icmp":
        icmp = sorted((_pos(n, p), t, c, n) for pr, t, c, n in ICMP if pr == 1 and _has(n, p))
        return _ranked([(v, "ICMP") for v in by_count if _has(v, p)],
                       [(n, "ICMP") for *_, n in icmp])
    if name == "asn":
        asns = {64500 + k: v for k, v in enumerate(VALUES)}
        seen = sorted((-count[v], a) for a, v in asns.items() if _has(v, p))
        dico = sorted((_pos(v, p), a) for a, v in asns.items() if _has(v, p))
        return _ranked([(f"AS{a}", asns[a]) for _, a in seen],
                       [(f"AS{a}", asns[a]) for _, a in dico])
    if name == "port":
        # no service name holds these characters: both branches are empty
        assert not any(_has(n, p) for _, n in TCP_PORTS + UDP_PORTS)
        return []
    if name == "mac":
        return [(_mac(MACS[VALUES.index(v)]), "MAC address")
                for v in by_count if _has(_mac(MACS[VALUES.index(v)]), p)]
    assert name == "communities"
    labels = [f"{c >> 16}:{c & 65535}" for c in COMMS] + [f"{65000 + k}:1:2" for k in range(len(VALUES))]
    return [(lbl, "community" if lbl.count(":") == 1 else "large community")
            for lbl in labels if lbl.startswith(p)]


def _completions(flows):
    asns = [(64500 + k, v) for k, v in enumerate(VALUES)]
    return {
        "exporter": lambda p: C.complete_exporter(flows, p),
        "network_attr": lambda p: C.complete_network_attr(flows, "Name", p),
        "dimension_attribute": lambda p: C.complete_dimension_attribute(flows, "Attr", p),
        "icmp": lambda p: C.complete_icmp(flows, p),
        "asn": lambda p: C.complete_asn(flows, p, asns=asns),
        "port": lambda p: C.complete_port(flows, p),
        "mac": lambda p: C.complete_mac(flows, p),
        "communities": lambda p: C.complete_communities(flows, p),
    }


@pytest.mark.parametrize("name", list(_completions(None)))
def test_completion_prefix_is_a_literal(flows, name):
    build = _completions(flows)[name]
    for p in PREFIXES:
        got = [(r["label"], r["detail"]) for r in build(p).collect()]
        assert got == _expected(name, p), (name, p, got)
    if name in ("exporter", "network_attr", "icmp", "asn"):
        assert _expected(name, NASTY), name  # the prefix did match something


def test_complete_icmp_counts_and_dictionary(flows):
    """Flows-seen values rank first by count, then the dictionary's
    names for the protocol, by match position then type/code."""
    got = [r["label"] for r in C.complete_icmp(flows, "e").collect()]
    assert got == [lbl for lbl, _ in _expected("icmp", "e")]
    assert got[0] == "under_score" and "echo" in got


def _builds(flows, line):
    def col(sql):
        return lambda: flows.select(F.expr(sql))

    return {
        "complete_exporter": lambda: C.complete_exporter(flows, "ex"),
        "complete_mac": lambda: C.complete_mac(flows, "00"),
        "complete_communities": lambda: C.complete_communities(flows, "65"),
        "complete_network_attr": lambda: C.complete_network_attr(flows, "Name", "a"),
        "complete_icmp": lambda: C.complete_icmp(flows, "ec"),
        "complete_dimension_attribute": lambda: C.complete_dimension_attribute(flows, "Attr", "e"),
        "render_asn": col(R.render_asn("SrcAS")),
        "render_etype": col(R.render_etype("Proto")),
        "render_proto": col(R.render_proto("Proto")),
        "render_port": col(R.render_port("DstPort", "Proto")),
        "render_tcp_flags": col(R.render_tcp_flags("Proto")),
        "render_mac": col(R.render_mac("SrcMAC")),
        "render_as_path": col(R.render_as_path("DstCommunities")),
        "icmp_render": col(R.icmp_render("Proto", "DstPort", "0")),
        "render_communities": col(R.render_communities("DstCommunities")),
        "render_large_communities": col(R.render_large_communities("DstLargeCommunities")),
        "render_communities_dim": col(
            R.render_communities_dim("DstCommunities", "DstLargeCommunities")),
        "series_stats": lambda: series_stats(line, ("d",), 60),
    }


def test_console_builds_are_a_few_py4j_commands(spark, flows):
    line = spark.createDataFrame([("x", 0, 1)], "d string, bucket long, sum_w long")
    # a frame of its own: the first schema read (a completion's) is counted
    for name, build in _builds(flows.select("*"), line).items():
        with py4j_commands(spark) as n:
            build()
        assert n[0] <= 20, (name, n[0])


def _imports(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            yield from (f"{node.module}.{a.name}" for a in node.names)


def test_query_package_builds_no_column_trees():
    """No module under ``query/`` builds Column or Window trees: the
    console's one construction is SQL text."""
    banned = ("pyspark.sql.functions", "pyspark.sql.Window", "pyspark.sql.window")
    for path in sorted(QUERY_DIR.glob("*.py")):
        for name in _imports(ast.parse(path.read_text())):
            assert not name.startswith(banned), (path.name, name)
