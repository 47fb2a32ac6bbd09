"""Sankey query compiler (SURVEY §3.2; reference console/sankey.go:67-147).

Shape (no time axis — traffic averaged over the span of the data):

    WITH source AS (...),
         range  AS (scalar MAX(TimeReceived)-MIN(TimeReceived)),
         rows   AS (top-N dimension tuples by weight)
    SELECT if(d_i IN (SELECT d_i FROM rows), d_i, 'Other') ... AS dims,
           units / range AS xps
    GROUP BY dims ORDER BY xps DESC

Two semantic points carried over from the reference:

- The fold is **per-dimension against the projection of the top-N
  set** (``console/sankey.go:84-91``), not per-tuple as in the line
  query: a row keeps dimension *i* if that value appears in *any*
  top tuple at position *i*.
- The bidirectional (reverse) axis probes the **forward** rows set
  positionally (``console/sankey.go:56-65, 136-147``): reversed
  dimension *i* (e.g. DstAddr) is matched against forward rows
  column *i* (SrcAddr values).  ``compile_sankey`` takes an optional
  pre-built ``rows``/``rows_cols`` for that.

Spark-first: the rows set is ≤ limit (≤50) tuples, so every fold is
a broadcast left join of a ≤50-row distinct projection — the fact
side never shuffles for the probe; the only shuffle is the final
groupBy on the folded (low-cardinality) dimensions.  The range
scalar is a 1-row aggregate cross-joined in (J9 shape).

The per-second rate divides two exact integers (weight sum and
whole-second range), so the resulting double is bit-identical
between Spark and the DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from akvorado_spark.query.sql import cols, epoch_us, run, string_dims, with_ctes

OTHER = "Other"


@dataclass(frozen=True)
class SankeyRequest:
    time_col: str
    dimensions: tuple[str, ...]
    weight_sql: str | None  # per-row weight; SQL valid in Spark SQL and DuckDB
    limit: int
    agg_sql: str | None = None  # aggregate expr overriding SUM(weight)
    base_cols: tuple[str, ...] = ()
    value_type: str = "long"


def _agg_sql(req: SankeyRequest) -> str:
    return f"CAST(({req.agg_sql or 'sum(__w)'}) AS {req.value_type})"


def _base_sql(req: SankeyRequest, src: str) -> str:
    vals = cols(req.base_cols) if req.agg_sql else f"CAST(({req.weight_sql}) AS BIGINT) AS __w"
    return f"SELECT {vals + ', ' if vals else ''}{cols(req.dimensions)} FROM {src}"


def top_rows_sql(req: SankeyRequest, src: str) -> str:
    """The forward top-N tuples over the relation ``src`` (reference
    console/query.go:48-90, avg type)."""
    dcols = cols(req.dimensions)
    order = ", ".join(["__tw DESC"] + [f"`{d}` ASC" for d in req.dimensions])
    return (
        f"SELECT {dcols} FROM (SELECT {dcols}, {_agg_sql(req)} AS __tw"
        f" FROM ({_base_sql(req, src)}) GROUP BY {dcols}) ORDER BY {order} LIMIT {req.limit}"
    )


def range_sql(src: str, time_col: str) -> str:
    """1-row span scalar ``__range_s``: MAX(t)-MIN(t) in whole seconds,
    ≥1 (J9 shape; reference console/sankey.go:110-118)."""
    ts = epoch_us(time_col)
    return (
        f"SELECT greatest(CAST(1 AS BIGINT), CAST((max({ts}) - min({ts})) / 1000000 AS BIGINT))"
        f" AS __range_s FROM {src}"
    )


def sankey_sql(
    req: SankeyRequest,
    src: str,
    passthrough: set[str],
    rows: str | None = None,
    rows_cols: tuple[str, ...] | None = None,
    rng: str | None = None,
) -> str:
    """One Spark SQL statement for a SankeyRequest over the relation
    ``src``.

    Output columns: the dimension columns (folded to 'Other'),
    ``sum_w`` (unit total), ``xps`` (DOUBLE per-second rate over the
    data span).  ``rows``/``rows_cols`` inject the forward top-N set
    for the reverse axis (positional probe); ``rng`` injects the
    forward axis's span scalar (the reference shares the range CTE
    across axes).  ``passthrough`` as in ``line_sql``.
    """
    dims = req.dimensions
    ctes = {"__base": _base_sql(req, src)}
    if rng is None:
        ctes["__rng"] = range_sql(src, req.time_col)
        rng = "__rng"
    if rows is None:
        ctes["__rows"] = top_rows_sql(req, src)
        rows, rows_cols = "__rows", dims
    # Per-dimension fold against the positional projection of rows.
    # The reference folds *rendered* dimensions (console/sankey.go:84-91),
    # so numeric dims become display strings here; string/binary pass
    # through (binary IPs are display-rendered by the caller after the
    # aggregation, with b'Other' as the fold marker).
    vals = cols(req.base_cols) if req.agg_sql else "__w"
    folds, joins = [], []
    for i, (d, rc) in enumerate(zip(dims, rows_cols)):
        kept = f"b.`{d}`" if d in passthrough else f"CAST(b.`{d}` AS STRING)"
        folds.append(f"CASE WHEN __v{i}.__v IS NOT NULL THEN {kept} ELSE '{OTHER}' END AS `{d}`")
        joins.append(
            f" LEFT JOIN (SELECT DISTINCT `{rc}` AS __v FROM {rows}) __v{i} ON b.`{d}` = __v{i}.__v"
        )
    hint = f"/*+ BROADCAST({', '.join(f'__v{i}' for i in range(len(dims)))}) */"
    ctes["__folded"] = (
        f"SELECT {hint} {vals + ', ' if vals else ''}{', '.join(folds)} FROM __base b{''.join(joins)}"
    )
    dcols = cols(dims)
    ctes["__agg"] = f"SELECT {dcols}, {_agg_sql(req)} AS sum_w FROM __folded GROUP BY {dcols}"
    # the folded aggregate is ≤ (limit+1)^dims rows: sorting it in one
    # task skips the range-partitioning exchange and its sampling job
    return with_ctes(
        ctes,
        f"SELECT /*+ BROADCAST(__r), COALESCE(1) */ {dcols}, sum_w,"
        f" CAST(sum_w AS DOUBLE) / __range_s AS xps"
        f" FROM __agg JOIN {rng} __r ORDER BY xps DESC, {dcols}",
    )


def top_rows(df: DataFrame, req: SankeyRequest) -> DataFrame:
    """:func:`top_rows_sql` over ``df``."""
    return run(df.sparkSession, top_rows_sql(req, "{src}"), src=df)


def data_range(df: DataFrame, time_col: str) -> DataFrame:
    """:func:`range_sql` over ``df``."""
    return run(df.sparkSession, range_sql("{src}", time_col), src=df)


def compile_sankey(
    df: DataFrame,
    req: SankeyRequest,
    rows: DataFrame | None = None,
    rows_cols: tuple[str, ...] | None = None,
    rng: DataFrame | None = None,
) -> DataFrame:
    """Compile a SankeyRequest over ``df`` into one SQL statement
    (:func:`sankey_sql`); ``rows``/``rows_cols``/``rng`` are frames
    of the forward axis, as there."""
    frames = {k: v for k, v in (("rows", rows), ("rng", rng)) if v is not None}
    refs = {k: f"{{{k}}}" for k in frames}
    text = sankey_sql(req, "{src}", string_dims(df, req.dimensions), rows_cols=rows_cols, **refs)
    return run(df.sparkSession, text, src=df, **frames)


# ---------------------------------------------------------------------------
# DuckDB oracle emitter
# ---------------------------------------------------------------------------


def oracle_sankey_sql(table_sql: str, req: SankeyRequest) -> str:
    """DuckDB SQL equivalent of ``compile_sankey`` (forward axis)."""
    dims = list(req.dimensions)
    dcols = ", ".join(dims)
    ts = req.time_col
    agg = req.agg_sql if req.agg_sql else "SUM(w)"
    base_vals = (
        ", ".join(req.base_cols)
        if req.agg_sql
        else f"CAST({req.weight_sql} AS BIGINT) AS w"
    )
    otype = {"long": "BIGINT", "double": "DOUBLE", "int": "INTEGER"}[req.value_type]
    fold_sel = ", ".join(
        f"CASE WHEN b.{d} IN (SELECT {d} FROM rows_top) THEN b.{d} ELSE '{OTHER}' END AS {d}"
        for d in dims
    )
    val_names = list(req.base_cols) if req.agg_sql else ["w"]
    fold_vals = "".join(f", b.{v}" for v in val_names)

    return f"""
WITH source AS (SELECT * FROM {table_sql}),
rng AS (
  SELECT GREATEST(1, (MAX(epoch_us({ts})) - MIN(epoch_us({ts}))) // 1000000) AS range_s
  FROM source
),
base AS (SELECT {base_vals + ', ' if base_vals else ''}{dcols} FROM source),
rows_top AS (
  SELECT {dcols} FROM (
    SELECT {dcols}, CAST({agg} AS BIGINT) AS tw FROM base GROUP BY {dcols}
  ) ORDER BY tw DESC, {dcols} LIMIT {req.limit}
),
folded AS (SELECT {fold_sel}{fold_vals} FROM base b),
agg AS (SELECT {dcols}, CAST({agg} AS {otype}) AS sum_w FROM folded GROUP BY {dcols})
SELECT a.{dcols.replace(', ', ', a.')}, a.sum_w, CAST(a.sum_w AS DOUBLE) / r.range_s AS xps
FROM agg a CROSS JOIN rng r
ORDER BY xps DESC, {dcols}"""


def sankey_nodes_links(
    rows: list[tuple[list[str], int, int]],
    dimension_labels: dict[int, list[str]],
) -> tuple[list[dict], list[dict]]:
    """Driver-side node/link assembly (reference console/sankey.go:197-262).

    ``rows`` is the collected query output as (dimension values, xps,
    axis); ``dimension_labels[axis]`` names each dimension position
    (the reverse axis uses reversed column names).  Nodes are labeled
    ``"<dimension>: <value>"`` and deduplicated per axis; links between
    adjacent dimensions aggregate xps per (source, target, axis) —
    client-side link aggregation, since the same adjacent pair can
    appear under many full-tuple rows.  Links sort by (axis, xps desc,
    source) like the reference.

    This is presentation assembly over an already-aggregated ≤limit-row
    result — O(rows × dims) on the driver by design.
    """
    nodes: list[dict] = []
    seen: set[tuple[str, int]] = set()
    links: dict[tuple[int, str, str], int] = {}

    def add_node(name: str, axis: int) -> None:
        if (name, axis) not in seen:
            seen.add((name, axis))
            nodes.append({"name": name, "axis": axis})

    for dims, xps, axis in rows:
        labels = dimension_labels[axis]
        for i in range(len(dims) - 1):
            d1 = f"{labels[i]}: {dims[i]}"
            d2 = f"{labels[i + 1]}: {dims[i + 1]}"
            add_node(d1, axis)
            add_node(d2, axis)
            links[(axis, d1, d2)] = links.get((axis, d1, d2), 0) + int(xps)

    out_links = [
        {"source": s, "target": t, "xps": v, "axis": a}
        for (a, s, t), v in links.items()
    ]
    out_links.sort(key=lambda l: (l["axis"], -l["xps"], l["source"]))
    return nodes, out_links
