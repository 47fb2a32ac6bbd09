"""Flows-native graph-line handler: the /graph/line equivalent
(SURVEY §3.1), over a FlowStore.

Pipeline (reference console/line.go:218-258):
1. parse+compile the filter twice (direct + reversed);
2. route to the best rollup table (or main if any MainOnly column is
   referenced by the filter or the dimensions);
3. per axis, render a LineRequest over the routed table with the
   range filter applied *before* bucketing (partition pruning + parquet
   pushdown handle the scan);
4. union the axes with an ``axis`` literal column.

Like the reference's one ClickHouse query per request (console/query,
common/sqlbuilder), a request is one Spark SQL statement with CTEs over
a known-schema read of the routed table: Catalyst sees every axis.

Previous-period axes shift the scan range back, then shift bucket
timestamps forward to overlay the main time axis
(reference console/line.go:59-117).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame

from akvorado_spark.filtering import compile_filter, flow_filter_schema
from akvorado_spark.functions.ip import ip_truncate_family, register_sql_functions
from akvorado_spark.plans.rollup import FlowStore, Resolution
from akvorado_spark.query.line import LineRequest, line_sql, top_rows_sql
from akvorado_spark.query.sankey import SankeyRequest, range_sql, sankey_sql
from akvorado_spark.query.sankey import top_rows_sql as sankey_rows_sql
from akvorado_spark.query.sql import bigint, run, with_ctes
from akvorado_spark.query.units import UNITS

# only the percentage-of-interface units are directional
# (reference console/graph.go:30-40)
REVERSE_UNITS = {"inl2%": "outl2%", "outl2%": "inl2%"}

PREVIOUS_PERIODS = {
    "hour": timedelta(hours=1),
    "day": timedelta(days=1),
    "week": timedelta(weeks=1),
    "month": timedelta(weeks=4),  # reference uses 4 weeks (console/line.go:81-96)
    "year": None,  # handled specially: same date previous year
}


@dataclass(frozen=True)
class GraphRequest:
    start: datetime
    end: datetime
    dimensions: tuple[str, ...]
    units: str = "l3bps"
    filter: str = ""
    points: int = 86
    limit: int = 10
    limit_type: str = "avg"
    truncate_v4: int = 32
    truncate_v6: int = 128
    bidirectional: bool = False
    previous_period: str | bool | None = None  # True = derive from span (reference API); or hour|day|week|month|year


def _shift_back(req: GraphRequest) -> timedelta:
    from akvorado_spark.query.line import nearest_period, year_shift

    if req.previous_period is True:
        # the reference API: PreviousPeriod is a BOOLEAN and the period
        # derives from the range span (console/line.go:57-96)
        period_s, _ = nearest_period(int((req.end - req.start).total_seconds()))
        if period_s:
            return timedelta(seconds=period_s)
        return year_shift(req.start)
    if req.previous_period == "year":
        return year_shift(req.start)
    return PREVIOUS_PERIODS[req.previous_period]


def _us(dt: datetime) -> int:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


def align_range(
    start: datetime, end: datetime, table_interval_s: int, interval_s: int
) -> tuple[datetime, datetime]:
    """The reference's ``forRange`` (console/clickhouse.go:234-249):
    truncate both ends to the TABLE resolution — a query bucket that
    doesn't start on a stored-rollup boundary would split rollup rows
    (each carries its whole bucket's sum) across query buckets — then
    snap the end so the range is a whole number of intervals (every
    bucket is full-width).  At least one interval survives."""
    t = max(table_interval_s, 1)
    # naive datetimes are UTC instants everywhere in this module (_us);
    # datetime.timestamp() would instead read them in the host TZ
    if start.tzinfo is None:
        start = start.replace(tzinfo=timezone.utc)
    if end.tzinfo is None:
        end = end.replace(tzinfo=timezone.utc)
    s = int(start.timestamp()) // t * t
    e = int(end.timestamp()) // t * t
    e = s + max((e - s) // interval_s * interval_s, interval_s)
    tz = timezone.utc
    return datetime.fromtimestamp(s, tz=tz), datetime.fromtimestamp(e, tz=tz)


def _axis_source(
    store: FlowStore,
    res: Resolution,
    req: GraphRequest,
    filt,
    start: datetime,
    end: datetime,
    dims: tuple[str, ...],
    base_cols: tuple[str, ...],
) -> str:
    """One axis's rows of ``{src}`` (the routed table) as SQL: the
    range, then the alias columns the filter and the axis read, then
    the user filter, then the IP truncation of the dimensions."""
    # part_date predicate first: prunes whole partitions before the
    # row-level TimeReceived filter (pushed to parquet) applies.
    ranged = (
        f"(SELECT * FROM {{src}} WHERE part_date >= DATE '{start.date()}'"
        f" AND part_date <= DATE '{end.date()}'"
        f" AND TimeReceived >= timestamp_micros({_us(start)})"
        f" AND TimeReceived < timestamp_micros({_us(end)}))"
    )
    # alias (computed-on-read) columns must exist BEFORE the user
    # filter runs — PacketSize/NetPrefix etc. are filterable but not
    # stored; stored-column predicates still push through the
    # projection
    present = set(store.table_schema(res).names)
    viewed = store.schema.view_sql(ranged, present, {*filt.columns_used, *dims, *base_cols})
    # IP dimension truncation (P12, reference console/graph.go:44-88)
    truncating = req.truncate_v4 < 32 or req.truncate_v6 < 128
    items = []
    for c in dict.fromkeys(("TimeReceived", *base_cols, *dims)):
        spec = store.schema.by_name.get(c)
        if truncating and c in dims and spec is not None and spec.truncatable_ip:
            items.append(f"{ip_truncate_family(f'`{c}`', req.truncate_v4, req.truncate_v6)} AS `{c}`")
        else:
            items.append(f"`{c}`")
    return f"SELECT {', '.join(items)} FROM ({viewed}) WHERE {filt.spark_sql}"


def _string_dims(store: FlowStore, dims) -> set[str]:
    return {
        d for d in dims
        if store.schema.by_name[d].dtype.simpleString() in ("string", "binary")
    }


def _shown(store: FlowStore, actual: str, name: str) -> str:
    """A folded dimension as the chart shows it, named ``name``.
    Binary IP dimensions render to display strings *after* the
    aggregation (P11): grouping stayed on cheap binary keys; only the
    few surviving rows pay the render.  The 'Other' fold literal
    arrives as the 5-byte b'Other' (no 16-byte collision)."""
    if store.schema.by_name[actual].ip_addr:
        return (
            f"CASE WHEN `{actual}` = X'{b'Other'.hex()}' THEN 'Other'"
            f" ELSE akvorado_ip_display(`{actual}`) END AS `{name}`"
        )
    return f"`{actual}` AS `{name}`"


def _unit(units: str, res: Resolution) -> tuple[str, tuple[str, ...], str]:
    """(aggregate SQL, columns it reads, value type) of a unit."""
    unit = UNITS[units]
    if units == "fps" and res.interval_s > 0:
        return "SUM(Flows)", ("Flows",), unit.value_type  # exact through the rollup merge
    return unit.agg_sql, unit.base_cols, unit.value_type


def _route(store: FlowStore, req: GraphRequest, points: int):
    """(filter schema, direct filter, table, interval, aligned start,
    aligned end) of a request charted on ``points`` points."""
    sch = flow_filter_schema()
    direct = compile_filter(req.filter, sch)
    # main-table analysis over filter + dimensions (P10)
    main_only = store.schema.main_only_names()
    require_main = direct.requires_main_table or any(d in main_only for d in req.dimensions)
    target = max(int((req.end - req.start).total_seconds() // points), 1)
    res, interval_s = store.best_table(req.start, req.end, target, require_main)
    # one aligned range shared by every axis (shifted axes keep its
    # length, so all axes draw the same number of points)
    return (sch, direct, res, interval_s,
            *align_range(req.start, req.end, res.interval_s, interval_s))


def graph_line(store: FlowStore, req: GraphRequest) -> DataFrame:
    """Every axis of a /graph/line request as ONE SQL statement over
    the routed table: one ``line_sql`` subquery per axis, unioned."""
    sch, direct, res, interval_s, a_start, a_end = _route(store, req, req.points)
    reverse = direct.reverse()
    rdims = tuple(sch.reverse_name(d) for d in req.dimensions)
    axes = [(1, direct, req.dimensions, None)]
    if req.bidirectional:
        axes.append((2, reverse, rdims, None))
    if req.previous_period:
        shift = _shift_back(req)
        axes.append((3, direct, req.dimensions, shift))
        if req.bidirectional:
            axes.append((4, reverse, rdims, shift))

    ctes: dict[str, str] = {}
    selects = []
    for axis_no, filt, dims, shift in axes:
        start, end = a_start, a_end
        if shift is not None:
            start, end = start - shift, end - shift
        # a reversed axis measures the opposite traffic direction, so
        # direction-asymmetric units swap (reference reverseUnits,
        # console/graph.go:30-40, applied at console/line.go:120-123)
        units = REVERSE_UNITS.get(req.units, req.units) if axis_no % 2 == 0 else req.units
        agg_sql, base_cols, value_type = _unit(units, res)
        # the previous-period axes chart ONE total series: the reference
        # strips dimensions when shifting (console/line.go:81-86,
        # "dimensions are stripped"), so axes 3/4 aggregate over the
        # whole filtered population and the dimension columns ride
        # along empty for union-schema compatibility
        axis_dims = () if shift is not None else dims
        lreq = LineRequest(
            time_col="TimeReceived",
            dimensions=axis_dims,
            weight_sql=None,
            interval_s=interval_s,
            limit=req.limit,
            limit_type=req.limit_type,
            agg_sql=agg_sql,
            base_cols=base_cols,
            value_type=value_type,
            start_us=_us(start),
            end_us=_us(end),
        )
        src = f"__src{axis_no}"
        ctes[src] = _axis_source(store, res, req, filt, start, end, axis_dims, base_cols)
        rows = None
        if axis_dims:
            # axes 2-4 fold against axis 1's top set (the reference
            # shares the rows CTE across axes via skipWithClause,
            # console/line.go:169-216); renamed positionally, so a
            # reverse pair (SrcAS,DstAS → DstAS,SrcAS) cannot collide
            if axis_no == 1:
                ctes["__rows1"] = top_rows_sql(lreq, src)
            rows = "(SELECT {} FROM __rows1)".format(", ".join(
                f"`{orig}` AS `{actual}`" for orig, actual in zip(req.dimensions, dims)
            ))
        line = line_sql(lreq, src, _string_dims(store, axis_dims), rows=rows)
        if axis_dims:
            # normalize dimension names across axes (reverse swaps them)
            shown = [_shown(store, a, o) for o, a in zip(req.dimensions, axis_dims)]
        else:
            shown = [f"'' AS `{d}`" for d in req.dimensions]
        bucket = "bucket" if shift is None else (
            f"bucket + {bigint(int(shift.total_seconds() * 1_000_000))} AS bucket"
        )
        selects.append(
            f"SELECT {axis_no} AS axis, {', '.join([bucket, *shown, 'sum_w', 'xps'])} FROM (\n{line}\n)"
        )
    register_sql_functions(store.spark)
    text = with_ctes(ctes, "\nUNION ALL\n".join(selects))
    return run(store.spark, text, src=store.read(res))


def graph_sankey(store: FlowStore, req: GraphRequest) -> DataFrame:
    """Flows-native /graph/sankey equivalent (SURVEY §3.2), both axes
    one SQL statement.

    Differences from :func:`graph_line` mirroring the reference:
    no time axis (xps averages over the data span); table routing uses
    a fixed 20-point context (console/sankey.go:124-134); the reverse
    axis probes the *forward* top-N rows positionally
    (console/sankey.go:136-147).
    """
    sch, direct, res, _, a_start, a_end = _route(store, req, 20)

    def unit_req(units: str, dims: tuple[str, ...]) -> SankeyRequest:
        agg_sql, base_cols, value_type = _unit(units, res)
        return SankeyRequest(
            time_col="TimeReceived",
            dimensions=dims,
            weight_sql=None,
            limit=req.limit,
            agg_sql=agg_sql,
            base_cols=base_cols,
            value_type=value_type,
        )

    freq = unit_req(req.units, req.dimensions)
    ctes = {
        "__src1": _axis_source(store, res, req, direct, a_start, a_end, req.dimensions, freq.base_cols),
    }
    ctes["__rows1"] = sankey_rows_sql(freq, "__src1")
    ctes["__rng1"] = range_sql("__src1", "TimeReceived")
    axes = [(1, freq)]
    if req.bidirectional:
        rdims = tuple(sch.reverse_name(d) for d in req.dimensions)
        rreq = unit_req(REVERSE_UNITS.get(req.units, req.units), rdims)
        ctes["__src2"] = _axis_source(
            store, res, req, direct.reverse(), a_start, a_end, rdims, rreq.base_cols
        )
        axes.append((2, rreq))
    selects = []
    for axis_no, sreq in axes:
        sankey = sankey_sql(
            sreq, f"__src{axis_no}", _string_dims(store, sreq.dimensions),
            rows="__rows1", rows_cols=req.dimensions, rng="__rng1",
        )
        # the reverse axis names its dimensions forward, positionally
        shown = [_shown(store, a, o) for o, a in zip(req.dimensions, sreq.dimensions)]
        selects.append(
            f"SELECT {axis_no} AS axis, {', '.join([*shown, 'sum_w', 'xps'])} FROM (\n{sankey}\n)"
        )
    register_sql_functions(store.spark)
    text = with_ctes(ctes, "\nUNION ALL\n".join(selects))
    return run(store.spark, text, src=store.read(res))


def _req_payload(req: GraphRequest) -> dict:
    from dataclasses import asdict

    return asdict(req)


def graph_line_cached(store: FlowStore, req: GraphRequest, cache) -> list:
    """graph_line with the reference's API-layer result cache
    (console/root.go:113-117): collected rows cached 3 h keyed by the
    request body; the engine below stays stateless.  Input validation
    happens here, at the API boundary (console/line.go:24)."""
    from akvorado_spark.query.api import validate_limit, validate_points

    validate_points(req.points)
    validate_limit(req.limit)
    payload = _req_payload(req)
    hit = cache.get(payload)
    if hit is not None:
        return hit
    rows = graph_line(store, req).collect()
    cache.put(payload, rows)
    return rows


def graph_sankey_cached(store: FlowStore, req: GraphRequest, cache) -> list:
    from akvorado_spark.query.api import validate_limit

    validate_limit(req.limit)
    payload = {"sankey": True, **_req_payload(req)}
    hit = cache.get(payload)
    if hit is not None:
        return hit
    rows = graph_sankey(store, req).collect()
    cache.put(payload, rows)
    return rows
