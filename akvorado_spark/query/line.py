"""Graph-line query compiler: the engine's flagship query shape.

Re-expresses the reference's ``POST /graph/line`` pipeline
(reference: console/line.go:107-176 and console/query.go:48-90):

    WITH source AS (...),
         rows AS (top-N dimension tuples by weight)
    SELECT time-bucket, fold(dims IN rows ELSE 'Other'), sum(weight)
    GROUP BY bucket, dims
    ORDER BY time WITH FILL FROM start TO end STEP interval

Spark-first design decisions:

- The top-N "rows" set is tiny (limit ≤ 50, reference
  console/config.go:108) → folding joins against it are *broadcast*
  hash joins; no shuffle of the fact side for the membership probe.
- Time bucketing is integer arithmetic on ``unix_micros`` aligned to
  the range start (see functions/time.py) — stays inside
  whole-stage codegen.
- Gap filling (``WITH FILL``) reads the aggregate once more, not the
  data: one row per charted series holds its buckets as a map, and a
  ``sequence`` over the bounds explodes it into the spine with a map
  lookup per bucket (≤ points × (limit+1) rows).
- The main aggregation is a single ``GROUP BY bucket, dims`` —
  partial aggregation map-side, one shuffle on (bucket, dims).
- A request is one SQL statement (``line_sql``): Catalyst sees the
  ranking, the fold and the fill at once, and building it costs one
  ``spark.sql`` call instead of a py4j round trip per operator.

At 100 TB the full-data passes are the scan + partial aggregations of
the ranking and of the chart; rows / bounds / series are tiny frames
derived from them.  The scan should come from a rollup table via the
resolution router (``FlowStore.best_table``) whenever the requested
interval allows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from akvorado_spark.query.sql import bigint, cols, epoch_us, run, string_dims, with_ctes

OTHER = "Other"


@dataclass(frozen=True)
class LineRequest:
    """A graph-line request over an arbitrary fact DataFrame.

    ``weight_sql`` is a per-row weight (summed); alternatively
    ``agg_sql`` gives a full aggregate expression (e.g. ``COUNT(*)``
    or the if-speed percentage form) over ``base_cols`` — both must be
    valid in Spark SQL and DuckDB so the oracle emitter can mirror
    them.  The aggregate value column is named ``sum_w`` either way.
    """

    time_col: str
    dimensions: tuple[str, ...]
    weight_sql: str | None  # per-row weight, SQL expr valid in Spark SQL and DuckDB
    interval_s: int
    limit: int
    fill: bool = True
    limit_type: str = "avg"  # avg | max | last (reference console/query.go:48-90)
    agg_sql: str | None = None  # aggregate expr overriding SUM(weight)
    base_cols: tuple[str, ...] = ()  # raw columns agg_sql reads
    value_type: str = "long"  # Spark cast of the aggregate value
    # Explicit range in epoch-µs; when set, buckets align to start_us and
    # the fill spine spans [start_us, end_us) instead of the data extent.
    start_us: int | None = None
    end_us: int | None = None


def _agg_sql(req: LineRequest) -> str:
    return f"CAST(({req.agg_sql or 'sum(__w)'}) AS {req.value_type})"


def _bucket_sql(time_col: str, step_us: int, start: str = "__start_us") -> str:
    """The bucket of ``time_col``, aligned to ``start`` (epoch-µs)."""
    return (
        f"CAST({start} + floor(({epoch_us(time_col)} - {start})"
        f" / {step_us}) * {step_us} AS BIGINT)"
    )


def _last_bucket_sql(start: str, max_us: str, step_us: int) -> str:
    return f"CAST({start} + floor(({max_us} - {start}) / {step_us}) * {step_us} AS BIGINT)"


def _base_ctes(req: LineRequest, src: str) -> dict[str, str]:
    """``__bounds`` (one row: ``__start_us``, ``__max_us``) and
    ``__base`` (``__bucket``, the value columns, the dimensions) over
    the relation ``src``.  An explicit range is literal: the bucket
    inlines it, so ``__base`` is a projection of ``src``; data-derived
    bounds are a 1-row aggregate broadcast into it (J9 shape)."""
    step_us = req.interval_s * 1_000_000
    vals = [cols(req.base_cols)] if req.agg_sql else [f"CAST(({req.weight_sql}) AS BIGINT) AS __w"]
    sel = ", ".join(p for p in (*vals, cols(req.dimensions)) if p)
    sel = f", {sel}" if sel else ""
    if req.start_us is not None:
        start = bigint(req.start_us)
        return {
            "__bounds": f"SELECT {start} AS __start_us, {bigint(req.end_us - 1)} AS __max_us",
            "__base": f"SELECT {_bucket_sql(req.time_col, step_us, start)} AS __bucket{sel} FROM {src}",
        }
    ts = epoch_us(req.time_col)
    return {
        "__bounds": f"SELECT min({ts}) AS __start_us, max({ts}) AS __max_us FROM {src}",
        "__base": (
            f"SELECT /*+ BROADCAST(__bounds) */ {_bucket_sql(req.time_col, step_us)} AS __bucket{sel}"
            f" FROM {src} JOIN __bounds"
        ),
    }


def _top_rows_sql(req: LineRequest) -> str:
    """Top-N dimension tuples over ``__base``/``__bounds``.

    limit_type mirrors reference console/query.go:50-77:
      avg  — rank by total weight over the whole range
      max  — rank by the peak per-bucket weight
      last — rank by weight within the final bucket only
    Ties are broken by the dimension values themselves so results are
    deterministic across engines.
    """
    dcols = cols(req.dimensions)
    step_us = req.interval_s * 1_000_000
    if req.limit_type == "max":
        ranked = (
            f"SELECT {dcols}, max(__bw) AS __tw FROM (SELECT __bucket, {dcols}, {_agg_sql(req)} AS __bw"
            f" FROM __base GROUP BY __bucket, {dcols}) GROUP BY {dcols}"
        )
    elif req.limit_type == "last":
        # the final bucket is arithmetic over the bounds — NOT a max()
        # over base, which would cost a full data pass
        if req.start_us is not None:
            last = _last_bucket_sql(bigint(req.start_us), bigint(req.end_us - 1), step_us)
            ranked = (
                f"SELECT {dcols}, {_agg_sql(req)} AS __tw FROM __base"
                f" WHERE __bucket = {last} GROUP BY {dcols}"
            )
        else:
            last = _last_bucket_sql("__start_us", "__max_us", step_us)
            ranked = (
                f"SELECT /*+ BROADCAST(__lb) */ {dcols}, {_agg_sql(req)} AS __tw FROM __base"
                f" JOIN (SELECT {last} AS __lb FROM __bounds) __lb ON __bucket = __lb"
                f" GROUP BY {dcols}"
            )
    else:
        ranked = f"SELECT {dcols}, {_agg_sql(req)} AS __tw FROM __base GROUP BY {dcols}"
    order = ", ".join(["__tw DESC"] + [f"`{d}` ASC" for d in req.dimensions])
    return f"SELECT {dcols} FROM ({ranked}) ORDER BY {order} LIMIT {req.limit}"


def top_rows_sql(req: LineRequest, src: str) -> str:
    """The axis-1 ``rows`` CTE as a standalone statement: the top-N
    dimension tuples of THIS request over the relation ``src``.

    The reference emits the rows CTE once and every further axis
    (reverse direction, previous period) references it instead of
    ranking its own population (``skipWithClause``,
    console/line.go:169-216) — the chart's series set stays identical
    across axes.  Pass it (with dimension columns renamed to the other
    axis's names) as ``line_sql(..., rows=...)``."""
    return with_ctes(_base_ctes(req, src), _top_rows_sql(req))


def line_sql(
    req: LineRequest,
    src: str,
    passthrough: set[str],
    rows: str | None = None,
    ordered: bool = True,
) -> str:
    """One Spark SQL statement for a LineRequest over the relation
    ``src`` (a CTE name or a ``{frame}`` reference).

    Output columns: ``bucket`` (BIGINT epoch-µs), the dimension
    columns (folded to 'Other' outside the top-N), ``sum_w`` (the
    unit aggregate), ``xps`` (DOUBLE = sum_w / interval).

    ``passthrough``: the dimensions that fold as they are (string and
    binary); the others fold through their display string, as the
    reference renders dimensions inside the fold.  Binary IPs fold to
    b'Other' and render after aggregation.

    ``rows``: optional relation of precomputed top tuples (columns =
    this request's dimensions) — the shared-CTE multi-axis form (see
    :func:`top_rows_sql`); when omitted the top set is ranked from this
    request's own population.

    ``ordered`` (default True, the public chart contract: rows sorted
    by bucket then dimensions): union suites whose gate hash is
    order-insensitive pass False to skip the per-member range-
    partitioning sort exchange — same rows, no final Sort node.
    """
    dims = req.dimensions
    dcols = cols(dims)
    step_us = req.interval_s * 1_000_000
    ctes = _base_ctes(req, src)
    if not dims:
        # dimensionless request (total-traffic graph; also the
        # previous-period axes, whose dimensions the reference strips —
        # console/line.go:81-86): no ranking, no fold, one series
        ctes["__agg"] = f"SELECT __bucket, {_agg_sql(req)} AS sum_w FROM __base GROUP BY __bucket"
    else:
        shared_rows = rows is not None
        if rows is None:
            ctes["__rows"] = _top_rows_sql(req)
            rows = "__rows"
        # Fold non-top tuples into 'Other' via a broadcast left join (J7).
        fold = ", ".join(
            f"CASE WHEN __top IS NOT NULL THEN {f'`{d}`' if d in passthrough else f'CAST(`{d}` AS STRING)'}"
            f" ELSE '{OTHER}' END AS `{d}`"
            for d in dims
        )
        vals = cols(req.base_cols) if req.agg_sql else "__w"
        ctes["__folded"] = (
            f"SELECT /*+ BROADCAST(__m) */ __bucket, {vals + ', ' if vals else ''}{fold}"
            f" FROM __base LEFT JOIN (SELECT {dcols}, 1 AS __top FROM {rows}) __m USING ({dcols})"
        )
        ctes["__agg"] = (
            f"SELECT __bucket, {dcols}, {_agg_sql(req)} AS sum_w FROM __folded"
            f" GROUP BY __bucket, {dcols}"
        )
    out = ", ".join(["__bucket AS bucket", *(f"`{d}`" for d in dims)])
    if not req.fill:
        body = f"SELECT {out}, sum_w, sum_w / {req.interval_s} AS xps FROM __agg"
    else:
        # Series: one row per charted tuple with its buckets as a map,
        # off the aggregate itself.  Every top tuple appears in agg (it
        # was ranked from the data), and an 'Other' row exists in agg
        # exactly when some non-top tuple existed — so this is "top
        # tuples + Other iff any" (≤ limit+1 rows) with no extra data
        # pass, and the fill is a map lookup per spine bucket instead
        # of a join back to agg.
        entry = "CASE WHEN __bucket IS NOT NULL THEN struct(__bucket, sum_w) END"
        if not dims:
            ctes["__series"] = f"SELECT map_from_entries(collect_list({entry})) AS __m FROM __agg"
        else:
            entries = f"SELECT {dcols}, {entry} AS __e FROM __agg"
            if shared_rows:
                # a shared top tuple can be absent from THIS axis's
                # population; it must still fill with zeros so every
                # axis charts the same series; numeric dims take the
                # display-string form the fold used
                shown = ", ".join(
                    f"`{d}`" if d in passthrough else f"CAST(`{d}` AS STRING) AS `{d}`"
                    for d in dims
                )
                entries += f" UNION ALL SELECT {shown}, NULL FROM {rows}"
            ctes["__series"] = (
                f"SELECT {dcols}, map_from_entries(collect_list(__e)) AS __m"
                f" FROM ({entries}) GROUP BY {dcols}"
            )
        # Bucket spine: a sequence per series row over the bounds (O1 /
        # WITH FILL); literal bounds need no join.
        if req.start_us is not None:
            start, max_us, spine = bigint(req.start_us), bigint(req.end_us - 1), "__series"
        else:
            start, max_us = "__start_us", "__max_us"
            spine = "(SELECT /*+ BROADCAST(__bounds) */ * FROM __series CROSS JOIN __bounds)"
        ctes["__spine"] = (
            f"SELECT *, CAST({start} + __i * {step_us} AS BIGINT) AS __bucket FROM {spine}"
            f" LATERAL VIEW explode(sequence(CAST(0 AS BIGINT),"
            f" CAST(floor(({max_us} - {start}) / {step_us}) AS BIGINT))) __s AS __i"
        )
        filled = f"CAST(coalesce(try_element_at(__m, __bucket), 0) AS {req.value_type})"
        # the filled chart is ≤ buckets × (limit+1) rows: sorting it in
        # one task skips the range-partitioning exchange and its
        # sampling job
        hint = "/*+ COALESCE(1) */ " if ordered else ""
        body = (
            f"SELECT {hint}{out}, {filled} AS sum_w,"
            f" {filled} / {req.interval_s} AS xps FROM __spine"
        )
    if ordered:
        body += f" ORDER BY {cols(['bucket', *dims])}"
    return with_ctes(ctes, body)


def top_rows_frame(df: DataFrame, req: LineRequest) -> DataFrame:
    """:func:`top_rows_sql` over ``df``: the shared rows of
    ``compile_line(..., rows=...)``."""
    return run(df.sparkSession, top_rows_sql(req, "{src}"), src=df)


def compile_line(
    df: DataFrame,
    req: LineRequest,
    rows: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Compile a LineRequest over ``df`` into one SQL statement
    (:func:`line_sql`); ``rows`` is an optional precomputed top-tuple
    frame (see :func:`top_rows_frame`)."""
    frames = {"rows": rows} if rows is not None else {}
    refs = {k: f"{{{k}}}" for k in frames}
    text = line_sql(req, "{src}", string_dims(df.schema, req.dimensions), ordered=ordered, **refs)
    return run(df.sparkSession, text, src=df, **frames)


# ---------------------------------------------------------------------------
# Oracle (DuckDB) SQL emitter — the same semantics as ANSI SQL, used by the
# driver's correctness gate and by tests.
# ---------------------------------------------------------------------------


def oracle_line_sql(
    table_sql: str, req: LineRequest, rows_sql: str | None = None
) -> str:
    """Emit DuckDB SQL equivalent to ``compile_line`` over ``table_sql``.

    ``table_sql`` is a table name or a parenthesized subquery.
    ``rows_sql``: optional standalone SELECT yielding the top tuples
    (columns = this request's dimensions) - the shared-rows-CTE
    multi-axis form, mirroring ``compile_line(..., rows=...)``.
    """
    dims = list(req.dimensions)
    step_us = req.interval_s * 1_000_000
    dcols = ", ".join(dims)
    ts = req.time_col
    agg = req.agg_sql if req.agg_sql else "SUM(w)"
    if not dims:
        return _oracle_line_nodim_sql(table_sql, req)
    val_names = list(req.base_cols) if req.agg_sql else ["w"]
    base_vals = (
        ", ".join(req.base_cols)
        if req.agg_sql
        else f"CAST({req.weight_sql} AS BIGINT) AS w"
    )
    base_sel = (base_vals + ", " if base_vals else "") + dcols
    fold_vals = "".join(f", b.{v}" for v in val_names)
    otype = {"long": "BIGINT", "double": "DOUBLE", "int": "INTEGER"}[req.value_type]

    if req.limit_type == "max":
        ranked = (
            f"SELECT {dcols}, MAX(bw) AS tw FROM ("
            f"SELECT bucket, {dcols}, {agg} AS bw FROM base GROUP BY bucket, {dcols}"
            f") GROUP BY {dcols}"
        )
    elif req.limit_type == "last":
        # the FINAL bucket of the range, arithmetically from bounds —
        # the reference ranks over `end - interval` (line_test.go
        # "limitType by last"), NOT over the last bucket with data;
        # with data-derived bounds the two coincide
        ranked = (
            f"SELECT {dcols}, {agg} AS tw FROM base "
            f"WHERE bucket = (SELECT CAST(start_us + FLOOR((max_us - start_us) / {step_us})"
            f" * {step_us} AS BIGINT) FROM bounds) GROUP BY {dcols}"
        )
    else:
        ranked = f"SELECT {dcols}, {agg} AS tw FROM base GROUP BY {dcols}"

    tie = ", ".join(dims)
    on_fold = " AND ".join(f"b.{d} = r.{d}" for d in dims)
    fold_sel = ", ".join(
        f"CASE WHEN r.{dims[0]} IS NOT NULL THEN b.{d} ELSE '{OTHER}' END AS {d}" for d in dims
    )
    other_tuple = ", ".join(f"'{OTHER}' AS {d}" for d in dims)
    on_spine = " AND ".join(f"s.{d} = a.{d}" for d in dims)
    s_dims = ", ".join(f"s.{d}" for d in dims)

    if req.start_us is not None:
        bounds_sql = (
            f"SELECT CAST({req.start_us} AS BIGINT) AS start_us, "
            f"CAST({req.end_us - 1} AS BIGINT) AS max_us"
        )
    else:
        bounds_sql = (
            f"SELECT MIN(epoch_us({ts})) AS start_us, MAX(epoch_us({ts})) AS max_us FROM source"
        )
    rows_body = (
        rows_sql
        if rows_sql is not None
        else f"SELECT * FROM ({ranked}) ORDER BY tw DESC, {tie} LIMIT {req.limit}"
    )
    sql = f"""
WITH source AS (SELECT * FROM {table_sql}),
bounds AS (
  {bounds_sql}
),
base AS (
  SELECT CAST(b.start_us + FLOOR((epoch_us(s.{ts}) - b.start_us) / {step_us}) * {step_us} AS BIGINT) AS bucket,
         {base_sel}
  FROM source s CROSS JOIN bounds b
),
rows_top AS (
  {rows_body}
),
folded AS (
  SELECT b.bucket, {fold_sel}{fold_vals}
  FROM base b LEFT JOIN rows_top r ON {on_fold}
),
agg AS (
  SELECT bucket, {dcols}, CAST({agg} AS {otype}) AS sum_w FROM folded GROUP BY bucket, {dcols}
)"""
    if not req.fill:
        sql += f"""
SELECT bucket, {dcols}, CAST(sum_w AS {otype}) AS sum_w,
       CAST(sum_w AS {otype}) / {req.interval_s} AS xps
FROM agg ORDER BY bucket, {dcols}"""
        return sql

    sql += f""",
buckets AS (
  -- generate_series needs constant bounds in DuckDB: over-generate, filter
  SELECT CAST(b.start_us + t.i * {step_us} AS BIGINT) AS bucket
  FROM bounds b CROSS JOIN generate_series(0, 2000000) t(i)
  WHERE t.i <= FLOOR((b.max_us - b.start_us) / {step_us})
),
dim_spine AS (
  -- 'Other' exists iff ANY base row folds outside the top set.  Not
  -- "distinct dims > limit": under limit_type=last the ranking
  -- population is only the final bucket, so a tuple missing there
  -- folds to 'Other' even when total cardinality <= limit (found by
  -- the randomized cross-engine sweep in test_line_cross_property).
  SELECT {dcols} FROM rows_top
  UNION ALL
  SELECT {other_tuple}
  WHERE EXISTS (
    SELECT 1 FROM base b LEFT JOIN rows_top r ON {on_fold}
    WHERE r.{dims[0]} IS NULL
  )
),
spine AS (SELECT * FROM buckets CROSS JOIN dim_spine)
SELECT s.bucket, {s_dims}, CAST(COALESCE(a.sum_w, 0) AS {otype}) AS sum_w,
       CAST(COALESCE(a.sum_w, 0) AS {otype}) / {req.interval_s} AS xps
FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket AND {on_spine}
ORDER BY s.bucket, {s_dims}"""
    return sql


# ---------------------------------------------------------------------------
# Previous-period selection (reference console/line.go:57-96)
# ---------------------------------------------------------------------------

_HOUR_S = 3600


def nearest_period(diff_s: int) -> tuple[int, str]:
    """Period length/name for a comparison axis, from the range span.

    Mirrors reference console/line.go:57-73: <2h → hour, <2d → day,
    <2w → week, <2×4w → "month" (4 weeks, not calendar), else year
    (length 0 here — a year has no fixed length, see
    :func:`previous_period`).
    """
    if diff_s < 2 * _HOUR_S:
        return _HOUR_S, "hour"
    if diff_s < 2 * 24 * _HOUR_S:
        return 24 * _HOUR_S, "day"
    if diff_s < 2 * 7 * 24 * _HOUR_S:
        return 7 * 24 * _HOUR_S, "week"
    if diff_s < 2 * 4 * 7 * 24 * _HOUR_S:
        return 4 * 7 * 24 * _HOUR_S, "month"
    return 0, "year"


def previous_period(start_us: int, end_us: int) -> tuple[int, int, int]:
    """Shift a [start, end) range back one period.

    Returns (prev_start_us, prev_end_us, shift_us); the comparison
    axis scans the shifted range and its buckets move forward by
    ``shift_us`` to overlay the main time axis.

    The year case mirrors reference console/line.go:81-96 exactly: the
    shift is measured from the range start (``AddDate(-1, 0, 0)``), so
    BOTH ends move by the same amount — if a leap day sits between the
    periods, an end-measured shift would give the previous period one
    bucket more or less than the main one (reference test
    console/line_test.go TestGraphQueryAxesLeapYear).  Go normalizes
    Feb 29 minus one year to Mar 1; the ``ValueError`` fallback does
    the same.
    """
    from datetime import datetime, timezone

    diff_s = (end_us - start_us) // 1_000_000
    period_s, _name = nearest_period(diff_s)
    if period_s:
        shift_us = period_s * 1_000_000
    else:
        start = datetime.fromtimestamp(start_us // 1_000_000, tz=timezone.utc)
        shift_us = int(year_shift(start).total_seconds() * 1_000_000)
    return start_us - shift_us, end_us - shift_us, shift_us


def year_shift(start):
    """Start-measured one-year shift, Feb 29 normalized to Mar 1 like
    Go's AddDate (the ONE definition shared by the handler and the
    oracle helper — reference console/line.go:81-96)."""
    try:
        prev = start.replace(year=start.year - 1)
    except ValueError:
        prev = start.replace(year=start.year - 1, month=3, day=1)
    return start - prev


def oracle_line_rows_sql(table_sql: str, req: LineRequest) -> str:
    """Standalone SELECT of this request's top-N dimension tuples -
    the DuckDB mirror of :func:`top_rows_frame`, for sharing across
    axes via ``oracle_line_sql(..., rows_sql=...)``."""
    dims = list(req.dimensions)
    step_us = req.interval_s * 1_000_000
    dcols = ", ".join(dims)
    ts = req.time_col
    agg = req.agg_sql if req.agg_sql else "SUM(w)"
    base_vals = (
        ", ".join(req.base_cols)
        if req.agg_sql
        else f"CAST({req.weight_sql} AS BIGINT) AS w"
    )
    base_sel = (base_vals + ", " if base_vals else "") + dcols
    if req.limit_type == "max":
        ranked = (
            f"SELECT {dcols}, MAX(bw) AS tw FROM ("
            f"SELECT bucket, {dcols}, {agg} AS bw FROM base GROUP BY bucket, {dcols}"
            f") GROUP BY {dcols}"
        )
    elif req.limit_type == "last":
        # the FINAL bucket of the range, arithmetically from bounds —
        # the reference ranks over `end - interval` (line_test.go
        # "limitType by last"), NOT over the last bucket with data;
        # with data-derived bounds the two coincide
        ranked = (
            f"SELECT {dcols}, {agg} AS tw FROM base "
            f"WHERE bucket = (SELECT CAST(start_us + FLOOR((max_us - start_us) / {step_us})"
            f" * {step_us} AS BIGINT) FROM bounds) GROUP BY {dcols}"
        )
    else:
        ranked = f"SELECT {dcols}, {agg} AS tw FROM base GROUP BY {dcols}"
    tie = ", ".join(dims)
    if req.start_us is not None:
        bounds_sql = (
            f"SELECT CAST({req.start_us} AS BIGINT) AS start_us, "
            f"CAST({req.end_us - 1} AS BIGINT) AS max_us"
        )
    else:
        bounds_sql = (
            f"SELECT MIN(epoch_us({ts})) AS start_us, MAX(epoch_us({ts})) AS max_us FROM source"
        )
    return f"""
SELECT {dcols} FROM (
  WITH source AS (SELECT * FROM {table_sql}),
  bounds AS ({bounds_sql}),
  base AS (
    SELECT CAST(b.start_us + FLOOR((epoch_us(s.{ts}) - b.start_us) / {step_us}) * {step_us} AS BIGINT) AS bucket,
           {base_sel}
    FROM source s CROSS JOIN bounds b
  )
  SELECT * FROM ({ranked}) ORDER BY tw DESC, {tie} LIMIT {req.limit}
)"""


def _oracle_line_nodim_sql(table_sql: str, req: LineRequest) -> str:
    """Dimensionless oracle form: one total series, no fold."""
    step_us = req.interval_s * 1_000_000
    ts = req.time_col
    agg = req.agg_sql if req.agg_sql else "SUM(w)"
    base_vals = (
        ", ".join(req.base_cols)
        if req.agg_sql
        else f"CAST({req.weight_sql} AS BIGINT) AS w"
    )
    # fps-style units carry no base columns — guard the dangling comma
    base_tail = f",\n         {base_vals}" if base_vals else ""
    otype = {"long": "BIGINT", "double": "DOUBLE", "int": "INTEGER"}[req.value_type]
    if req.start_us is not None:
        bounds_sql = (
            f"SELECT CAST({req.start_us} AS BIGINT) AS start_us, "
            f"CAST({req.end_us - 1} AS BIGINT) AS max_us"
        )
    else:
        bounds_sql = (
            f"SELECT MIN(epoch_us({ts})) AS start_us, MAX(epoch_us({ts})) AS max_us FROM source"
        )
    sql = f"""
WITH source AS (SELECT * FROM {table_sql}),
bounds AS ({bounds_sql}),
base AS (
  SELECT CAST(b.start_us + FLOOR((epoch_us(s.{ts}) - b.start_us) / {step_us}) * {step_us} AS BIGINT) AS bucket{base_tail}
  FROM source s CROSS JOIN bounds b
),
agg AS (SELECT bucket, CAST({agg} AS {otype}) AS sum_w FROM base GROUP BY bucket)"""
    if not req.fill:
        return sql + f"""
SELECT bucket, sum_w, CAST(sum_w AS {otype}) / {req.interval_s} AS xps
FROM agg ORDER BY bucket"""
    return sql + f""",
buckets AS (
  SELECT CAST(b.start_us + t.i * {step_us} AS BIGINT) AS bucket
  FROM bounds b CROSS JOIN generate_series(0, 2000000) t(i)
  WHERE t.i <= FLOOR((b.max_us - b.start_us) / {step_us})
)
SELECT k.bucket, CAST(COALESCE(a.sum_w, 0) AS {otype}) AS sum_w,
       CAST(COALESCE(a.sum_w, 0) AS {otype}) / {req.interval_s} AS xps
FROM buckets k LEFT JOIN agg a ON k.bucket = a.bucket
ORDER BY k.bucket"""
