"""Dashboard widgets (SURVEY §2.4 A10/A11, §2.6 O5, §2.3 J9;
reference console/widgets.go).

Each widget is one small SQL statement over the flows frame:

- ``flow_rate``     — COUNT(*)/window over the trailing window
  (reference console/widgets.go:95 — ``COUNT(*)/300`` last 5 min).
- ``top_percent``   — per-group share of a scalar total with an
  'Unknown' fold for empty selector values
  (reference console/widgets.go:213-237).
- ``last_flow``     — the most recent flow, via ``t = (SELECT MAX(t))``
  (reference console/widgets.go:52-58) with a deterministic tiebreak
  so engines agree on which of the simultaneous flows wins.

All scalars are 1-row aggregate frames cross-joined in (the J9
shape) — broadcast, never a shuffle of the fact side.  Rates divide
exact integers so the resulting doubles are engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from akvorado_spark.query.line import LineRequest, line_sql
from akvorado_spark.query.sql import cols, epoch_us, run, with_ctes


def flow_rate(
    df: DataFrame, time_col: str = "TimeReceived", window_s: int = 300
) -> DataFrame:
    """1-row frame ``(rate DOUBLE, period STRING)``: flows per second
    over the trailing ``window_s`` ending at the data's max time.

    The reference anchors at the wall clock; against a static corpus
    the data max is the deterministic equivalent.
    """
    text = (
        f"SELECT /*+ BROADCAST(__b) */ CAST(count(1) AS DOUBLE) / {window_s} AS rate,"
        f" 'second' AS period FROM {{src}}"
        f" JOIN (SELECT max({epoch_us(time_col)}) AS __max_us FROM {{src}}) __b"
        f" WHERE {epoch_us(time_col)} > __max_us - {window_s * 1_000_000}"
    )
    return run(df.sparkSession, text, src=df)


def top_percent(
    df: DataFrame,
    selector: str,
    weight_sql: str = "Bytes * SamplingRate",
    limit: int = 5,
) -> DataFrame:
    """Top-``limit`` groups by share of total weight:
    ``(Name, Percent)`` with empty selector folded to 'Unknown'.

    The caller applies the boundary filter (the reference filters
    ``InIfBoundary = 'external'`` for src-* widgets) before calling.
    """
    sel = f"coalesce(CAST(`{selector}` AS STRING), '')"
    base = (
        f"SELECT CASE WHEN {sel} = '' THEN 'Unknown' ELSE {sel} END AS Name,"
        f" CAST(({weight_sql}) AS BIGINT) AS __w FROM {{src}}"
    )
    text = with_ctes(
        {"__base": base},
        "SELECT /*+ BROADCAST(__t) */ Name,"
        " CAST(__g AS DOUBLE) * 100 / CAST(__total AS DOUBLE) AS Percent"
        " FROM (SELECT Name, sum(__w) AS __g FROM __base GROUP BY Name)"
        " JOIN (SELECT sum(__w) AS __total FROM __base) __t"
        f" ORDER BY Percent DESC, Name LIMIT {limit}",
    )
    return run(df.sparkSession, text, src=df)


def widget_graph(
    df: DataFrame,
    interval_s: int,
    time_col: str = "TimeReceived",
    weight_sql: str = "Bytes * SamplingRate * 8",
) -> DataFrame:
    """Homepage traffic graph (reference console/widgets.go:250-298):
    a dimensionless Gbps time series over the whole range, gap-filled.

    Output ``(bucket BIGINT epoch-µs, gbps DOUBLE)``.  The reference
    divides per-row inside SUM; summing exact integers first and
    dividing once by a constant is the same value with engine-stable
    doubles.  The caller applies the homepage filter (default
    ``InIfBoundary = 'external'``, reference console/config.go:110).

    Scale: one scan + one partial-aggregated shuffle on the bucket;
    it is the dimensionless line statement (``line_sql``), whose
    bounds and fill spine are 1-row/tiny frames broadcast in.
    """
    line = LineRequest(
        time_col=time_col,
        dimensions=(),
        weight_sql=weight_sql,
        interval_s=interval_s,
        limit=0,
    )
    gbps = f"CAST(sum_w AS DOUBLE) / CAST({float(interval_s) * 1e9!r} AS DOUBLE)"
    text = f"SELECT bucket, {gbps} AS gbps FROM ({line_sql(line, '{src}', set())})"
    return run(df.sparkSession, text, src=df)


def last_flow(
    df: DataFrame,
    time_col: str = "TimeReceived",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """The single most recent flow row (all columns).

    ``tiebreak`` columns make the LIMIT 1 deterministic when several
    flows share the max timestamp (the reference's bare LIMIT 1 is
    engine-order-dependent).
    """
    order = f" ORDER BY {cols(tiebreak)}" if tiebreak else ""
    text = (
        f"SELECT /*+ BROADCAST(__l) */ __f.* FROM {{src}} __f"
        f" JOIN (SELECT max({epoch_us(time_col)}) AS __latest_us FROM {{src}}) __l"
        f" WHERE {epoch_us(time_col)} = __latest_us{order} LIMIT 1"
    )
    return run(df.sparkSession, text, src=df)
