"""Filter autocompletion (SURVEY §2.6 O4, §2.7 U2/U3;
reference console/filter.go:240-470).

Completion candidates come from two sources merged flows-first:

1. values seen in recent flows, most-used first (rank 1);
2. the dictionary (asns / tcp+udp service names), prefix-matched on
   the *name*, ordered by match position then key (rank 2).

The reference merges with ``UNION DISTINCT`` then orders by
``MIN(rank), MIN(rowNumberInBlock())``; block numbers are an
engine-internal stable tiebreaker, so this build carries an explicit
per-branch ordering key (count-rank for flows, match position + key
for dictionaries) and orders by ``(min rank, min ord, label)`` —
same ranking, engine-deterministic.

Scale: the flows branch is one groupBy over the recent window
(partition-pruned scan); the dictionary branch is a tiny local frame;
the merge is a union of two ≤limit-row frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import sql_literal
from akvorado_spark.query.sql import run, with_ctes
from akvorado_spark.sources.dictionaries import ASNS, TCP_PORTS, UDP_PORTS


def _match_pos(col, prefix: str):
    """positionCaseInsensitive: 1-based position of the prefix, 0 = no
    match (reference console/filter.go:34-41)."""
    return F.locate(prefix.lower(), F.lower(col))


def _match_pos_sql(col: str, prefix: str) -> str:
    """:func:`_match_pos` as SQL text."""
    return f"locate({sql_literal(prefix.lower())}, lower({col}))"


def _top_with_ord(df: DataFrame, order_exprs, limit: int) -> DataFrame:
    """Top-``limit`` rows of ``df`` under ``order_exprs`` with their
    1-based rank as ``ord``.

    ``orderBy().limit()`` runs as TakeOrderedAndProject — each partition
    keeps its local top-k and the driver merges k-sized heaps — so the
    candidate set is never globally sorted into one partition. The
    row_number window then runs over the ≤limit-row survivor frame,
    where a single-partition sort is a constant-size no-op.
    """
    top = df.orderBy(*order_exprs).limit(limit)
    return top.withColumn("ord", F.row_number().over(Window.orderBy(*order_exprs)))


def _top_sql(relation: str, order: str, limit: int) -> str:
    """:func:`_top_with_ord` as SQL text over ``relation``."""
    return (
        f"SELECT *, CAST(row_number() OVER (ORDER BY {order}) AS BIGINT) AS ord"
        f" FROM (SELECT * FROM {relation} ORDER BY {order} LIMIT {limit})"
    )


def _ranked_union_sql(ctes: dict[str, str], seen: str, from_dict: str, limit: int) -> str:
    """UNION DISTINCT + GROUP BY (label, detail) ORDER BY MIN(rank),
    MIN(ord) LIMIT — the reference's merge shape — over the two
    branches' SELECTs of (label, detail, rank, ord)."""
    return with_ctes(
        ctes,
        f"SELECT label, detail FROM (SELECT label, detail, min(rank) AS __r, min(ord) AS __o"
        f" FROM ({seen} UNION ALL {from_dict}) GROUP BY label, detail)"
        f" ORDER BY __r, __o, label LIMIT {limit}",
    )


def _values(rows, names: str) -> str:
    """Literal rows as a relation with columns ``names``."""
    vals = ", ".join(f"({', '.join(sql_literal(v) for v in r)})" for r in rows)
    return f"SELECT * FROM VALUES {vals} AS __v({names})"


def complete_cached(cache, handler, flows: DataFrame, prefix: str = "", **kw) -> list:
    """Completion with the reference's 1-minute result cache
    (console/root.go:113-117, console/config.go:109): keyed by
    (handler, prefix, kwargs), collected rows cached; build the cache
    with ``ResultCache(ttl_s=60)``."""
    payload = {"complete": handler.__name__, "prefix": prefix,
               # the frame's semantic hash: two different stores sharing
               # one cache must not serve each other's completions
               "frame": flows.semanticHash(),
               **{k: str(v) for k, v in kw.items() if not hasattr(v, "sparkSession")}}
    hit = cache.get(payload)
    if hit is not None:
        return hit
    rows = handler(flows, prefix, **kw).collect()
    cache.put(payload, rows)
    return rows


def complete_asn(
    flows: DataFrame,
    prefix: str = "",
    asns: list[tuple[int, str]] | None = None,
    limit: int = 20,
    column: str = "SrcAS",
) -> DataFrame:
    """AS-number completion (reference console/filter.go:285-340):
    label 'AS<n>', detail = AS name; flows seen recently first."""
    pos = _match_pos_sql("name", prefix)
    ctes = {
        "__dico": f"SELECT CAST(asn AS BIGINT) AS asn, name FROM ({_values(asns or ASNS, 'asn, name')})",
        "__seen": (
            f"SELECT /*+ BROADCAST(d) */ f.`{column}`, d.name, count(1) AS __c FROM {{flows}} f"
            f" LEFT JOIN __dico d ON f.`{column}` = d.asn"
            f" WHERE d.name IS NOT NULL AND {_match_pos_sql('d.name', prefix)} > 0"
            f" GROUP BY f.`{column}`, d.name"
        ),
    }
    seen = (
        f"SELECT concat('AS', CAST(`{column}` AS STRING)) AS label, name AS detail, 1 AS rank, ord"
        f" FROM ({_top_sql('__seen', f'__c DESC, `{column}`', limit)})"
    )
    from_dict = (
        "SELECT concat('AS', CAST(asn AS STRING)) AS label, name AS detail, 2 AS rank, ord"
        f" FROM ({_top_sql(f'(SELECT * FROM __dico WHERE {pos} > 0)', f'{pos}, asn', limit)})"
    )
    text = _ranked_union_sql(ctes, seen, from_dict, limit)
    return run(flows.sparkSession, text, flows=flows)


def complete_exporter(
    exporters: DataFrame,
    prefix: str = "",
    limit: int = 20,
    column: str = "ExporterName",
    detail: str = "exporter name",
) -> DataFrame:
    """Exporter-attribute / interface-name completion (reference
    console/filter.go:489-532): distinct values of ``column`` from the
    recently-seen exporters table, prefix-matched, ordered by match
    position then value — the single-branch flavor of O4 (no
    dictionary union)."""
    base = (
        exporters.select(F.col(column).alias("label"))
        .filter(_match_pos(F.col("label"), prefix) > 0)
        .groupBy("label")
        .agg(F.min(_match_pos(F.col("label"), prefix)).alias("__pos"))
    )
    return (
        base.orderBy("__pos", "label")
        .limit(limit)
        .select("label", F.lit(detail).alias("detail"))
    )


def complete_port(
    flows: DataFrame,
    prefix: str = "",
    limit: int = 20,
    column: str = "DstPort",
) -> DataFrame:
    """Port completion (reference console/filter.go:341-420): ports of
    recent TCP/UDP flows named by their service, then the rest of the
    dictionaries."""
    pos = _match_pos_sql("name", prefix)
    both = [(p, n, 6) for p, n in TCP_PORTS] + [(p, n, 17) for p, n in UDP_PORTS]
    ctes = {
        "__both": (
            f"SELECT CAST(port AS BIGINT) AS port, name, dproto"
            f" FROM ({_values(both, 'port, name, dproto')})"
        ),
        "__named": (
            f"SELECT /*+ BROADCAST(d) */ f.`{column}`, f.Proto, d.name, count(1) AS __c"
            f" FROM {{flows}} f LEFT JOIN __both d ON f.`{column}` = d.port AND f.Proto = d.dproto"
            f" WHERE f.Proto IN (6, 17) AND d.name IS NOT NULL AND {_match_pos_sql('d.name', prefix)} > 0"
            f" GROUP BY f.`{column}`, f.Proto, d.name"
        ),
    }
    named = (
        f"SELECT CAST(`{column}` AS STRING) AS label, name AS detail, 1 AS rank, ord"
        f" FROM ({_top_sql('__named', f'__c DESC, `{column}`, Proto', limit)})"
    )
    known = f"(SELECT DISTINCT port, name FROM __both WHERE {pos} > 0)"
    from_dict = (
        "SELECT CAST(port AS STRING) AS label, name AS detail, 2 AS rank, ord"
        f" FROM ({_top_sql(known, f'{pos}, port', limit)})"
    )
    text = _ranked_union_sql(ctes, named, from_dict, limit)
    return run(flows.sparkSession, text, flows=flows)


# ---------------------------------------------------------------------------
# Static completion contexts (reference console/filter.go:110-240):
# column names, per-column operators, and enum-like values.  These are
# schema-driven driver-side lists — no data scan; the data-driven value
# branches (ASNs, ports, exporters, interface names) are the functions
# above.
# ---------------------------------------------------------------------------

# operator surface per filter-column kind; every entry is asserted
# parseable by tests/test_filter.py::test_completion_operators_all_parse
FILTER_OPERATORS: dict[str, tuple[str, ...]] = {
    "ip": ("=", "!=", "<<", "!<<", "IN (", "NOTIN ("),
    "prefix": ("=", "!="),
    "string": ("=", "!=", "LIKE", "ILIKE", "UNLIKE", "IUNLIKE", "IN (", "NOTIN ("),
    "uint": ("=", "!=", "<", "<=", ">", ">=", "IN (", "NOTIN ("),
    "proto": ("=", "!=", "<", "<=", ">", ">=", "IN (", "NOTIN ("),
    "etype": ("=", "!="),
    "enum": ("=", "!="),
    "array_uint": ("=", "!="),
    "community": ("=", "!="),
    "large_community": ("=", "!="),
    "mac": ("=", "!="),
    "timestamp": ("=", "!=", "<", "<=", ">", ">="),
}


def complete_column(prefix: str, fschema) -> list[dict]:
    """Column-name completion: filterable columns matching the prefix
    case-insensitively, prefix-anchored matches first (reference orders
    by match position), then alphabetical."""
    p = prefix.lower()
    out = []
    for spec in fschema.columns.values():
        pos = spec.name.lower().find(p)
        if pos < 0:
            continue
        out.append((pos, spec.name))
    return [
        {"label": name, "detail": "column"}
        for _, name in sorted(out)
    ]


def complete_operator(column: str, fschema) -> list[dict]:
    """Operators valid for the column's filter kind."""
    spec = fschema.lookup(column)
    if spec is None:
        return []
    return [
        {"label": op, "detail": "comparison operator"}
        for op in FILTER_OPERATORS.get(spec.kind, ())
    ]


_ETYPE_VALUES = ("IPv4", "IPv6")


def complete_static_value(column: str, prefix: str, fschema) -> list[dict]:
    """Enum-like value completion: boundary/direction labels, EType
    names, protocol names — the reference's static `value` branches;
    data-driven branches live in complete_asn/complete_port/
    complete_exporter."""
    spec = fschema.lookup(column)
    if spec is None:
        return []
    p = prefix.lower()
    if spec.kind == "enum" and spec.enum_values:
        vals = [(v, "enum value") for v in sorted(spec.enum_values)]
    elif spec.kind == "etype":
        vals = [(v, "ethernet type") for v in _ETYPE_VALUES]
    elif spec.kind == "proto":
        from akvorado_spark.sources.dictionaries import PROTOCOLS

        vals = [(name, "protocol") for _, name in PROTOCOLS]
    else:
        return []
    return [
        {"label": v, "detail": d} for v, d in vals if p in v.lower()
    ]


def complete_mac(
    flows: DataFrame, prefix: str = "", limit: int = 20, column: str = "SrcMAC"
) -> DataFrame:
    """MAC-address completion (reference console/filter.go:218-243):
    rendered MACs seen in recent flows, most-used first, prefix matched
    on the rendered form."""
    from akvorado_spark.query.render import render_mac

    base = (
        flows.select(render_mac(F.col(column)).alias("label"))
        .filter(_match_pos(F.col("label"), prefix) > 0)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        base.orderBy(F.desc("__n"), "label")
        .limit(limit)
        .select("label", F.lit("MAC address").alias("detail"))
    )


def complete_communities(
    flows: DataFrame, prefix: str = "", limit: int = 20, side: str = "Dst"
) -> DataFrame:
    """Community completion (reference console/filter.go:244-283):
    each community of the recent flows unrolled out of the
    ``<side>Communities`` / ``<side>LargeCommunities`` arrays, rendered
    ("asn:value" / "asn:v1:v2"), most-used first per family, the two
    families unioned, prefix matched with ``startsWith`` like the
    reference."""
    def unrolled(column: str, render, detail: str) -> DataFrame:
        if column not in flows.columns:
            return None
        return (
            flows.select(F.explode(F.col(column)).alias("__c"))
            .groupBy("__c")
            .agg(F.count(F.lit(1)).alias("__n"))
            .select(
                F.expr(f"{render('__c')} AS label"),
                F.lit(detail).alias("detail"),
                "__n",
            )
        )

    from akvorado_spark.query.render import (
        render_community_value,
        render_large_community_value,
    )

    parts = [
        unrolled(f"{side}Communities", render_community_value, "community"),
        unrolled(f"{side}LargeCommunities", render_large_community_value, "large community"),
    ]
    parts = [p for p in parts if p is not None]
    if not parts:
        # neither community column exists on this frame (e.g. a rollup
        # table — both are MainOnly): empty completion, not a crash
        return flows.sparkSession.createDataFrame(
            [], "label string, detail string"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.filter(F.col("label").startswith(prefix))
        .orderBy(F.desc("__n"), "label")
        .limit(limit)
        .select("label", "detail")
    )


def complete_network_attr(
    networks: DataFrame, attribute: str, prefix: str = "", limit: int = 20
) -> DataFrame:
    """Network-attribute completion (reference console/filter.go:
    408-432): DISTINCT values of ``attribute`` (name/role/site/region/
    tenant) from the networks dimension table, prefix-matched
    case-insensitively, ordered by value."""
    col = F.col(attribute).alias("label")
    return (
        networks.select(col)
        .filter(_match_pos(F.col("label"), prefix) > 0)
        .distinct()
        .orderBy("label")
        .limit(limit)
        .select("label", F.lit("network name").alias("detail"))
    )


def complete_icmp(
    flows: DataFrame, prefix: str = "", limit: int = 20, v6: bool = False
) -> DataFrame:
    """ICMP completion (reference console/filter.go:433-489): rendered
    ICMP values seen in recent flows of the right protocol (rank 1,
    most-used first) unioned with the ICMP dictionary's names for that
    protocol (rank 2, prefix position then type/code order)."""
    from akvorado_spark.sources.dictionaries import ICMP
    from akvorado_spark.sources.tables import local_df

    proto = 58 if v6 else 1
    col = "ICMPv6" if v6 else "ICMPv4"
    spark = flows.sparkSession

    seen = None
    if col in flows.columns:
        seen = (
            flows.filter((F.col("Proto") == proto) & (F.col(col) != ""))
            .select(F.col(col).alias("label"))
            .filter(_match_pos(F.col("label"), prefix) > 0)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        seen = _top_with_ord(
            seen, [F.desc("__n"), F.asc("label")], limit
        ).select("label", F.lit(1).alias("rank"), "ord")

    dico_rows = [
        (name, t, c) for (p, t, c, name) in ICMP if p == proto
    ]
    dico = local_df(spark, dico_rows, "label string, t int, c int").filter(
        _match_pos(F.col("label"), prefix) > 0
    )
    dico = _top_with_ord(
        dico, [_match_pos(F.col("label"), prefix).asc(), F.asc("t"), F.asc("c")], limit
    ).select("label", F.lit(2).alias("rank"), "ord")

    u = dico if seen is None else seen.unionByName(dico)
    return (
        u.groupBy("label")
        .agg(F.min("rank").alias("__r"), F.min("ord").alias("__o"))
        .orderBy("__r", "__o", "label")
        .limit(limit)
        .select("label", F.lit("ICMP").alias("detail"))
    )


def complete_comparable_columns(
    column: str, operator: str, prefix: str, fschema
) -> list[dict]:
    """Value-position completion with ANOTHER COLUMN — the reference's
    filterComparableColumns (console/filter.go:580-621): plain uint
    columns pair under all six comparison operators, ASN and string
    columns only under =/!=, nothing else pairs at all; candidates are
    same-parser-type columns (ASN is its own type), excluding the
    column itself, prefix-anchored, alphabetical."""
    from akvorado_spark.filtering.parser import _parser_type

    spec = fschema.lookup(column)
    if spec is None:
        return []
    pt = _parser_type(spec)
    allowed = {
        "uint": ("=", "!=", "<", "<=", ">", ">="),
        "asn": ("=", "!="),
        "string": ("=", "!="),
    }
    if operator not in allowed.get(pt, ()):
        return []
    names = sorted(
        s.name
        for s in fschema.columns.values()
        if _parser_type(s) == pt
        and s.name.lower() != spec.name.lower()
        and s.name.lower().startswith(prefix.lower())
    )
    return [{"label": n, "detail": "column name"} for n in names]


def complete_dimension_attribute(
    flows: DataFrame,
    column: str,
    prefix: str = "",
    limit: int = 20,
    recent: str | None = "10 minutes",
    time_col: str = "TimeReceived",
) -> DataFrame:
    """Generic dimension-attribute value completion — the reference's
    custom-dictionary branch (console/filter.go via
    filter_test.go TestFilterHandlersCustomDict): DISTINCT values of an
    arbitrary string column over RECENT flows (last 10 minutes),
    startsWith-matched, ordered, LIMIT 20.  Serves any generated
    custom-dict attribute column (sources/custom_dict.py) the schema
    exposes."""
    df = flows
    if recent is not None and time_col in flows.columns:
        cutoff = F.max(F.col(time_col)) - F.expr(f"INTERVAL {recent}")
        bound = flows.agg(cutoff.alias("__cut"))
        df = flows.join(F.broadcast(bound)).filter(
            F.col(time_col) > F.col("__cut")
        )
    return (
        df.select(F.col(column).alias("label"))
        .filter(
            F.col("label").isNotNull()
            & F.lower(F.col("label")).startswith(prefix.lower())
        )
        .distinct()
        .orderBy("label")
        .limit(limit)
        .select("label", F.lit("attribute value").alias("detail"))
    )
