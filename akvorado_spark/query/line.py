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
- Gap filling (``WITH FILL``) is a generated bucket spine
  (``sequence`` + ``explode`` on a 1-row bounds frame) cross-joined
  with the dimension set, then a left join of the aggregate — the
  spine side is a few thousand rows at most, so the join broadcasts.
- The main aggregation is a single ``groupBy(bucket, dims)`` —
  partial aggregation map-side, one shuffle on (bucket, dims).

At 100 TB the only full-data pass is the scan + partial agg; rows /
bounds / spine are all tiny broadcast frames derived from it.  The
scan should come from a rollup table via the resolution router
(query/router.py) whenever the requested interval allows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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


def _agg_col(req: LineRequest, name: str = "sum_w") -> Column:
    return F.expr(f"CAST(({req.agg_sql or 'sum(__w)'}) AS {req.value_type}) AS {name}")


def _weight_col(req: LineRequest) -> Column:
    return F.expr(f"CAST(({req.weight_sql}) AS BIGINT) AS __w")


def _bucket_col(time_col: str, step_us: int) -> Column:
    """The aligned-bucket expression, named ``__bucket``."""
    return F.expr(
        f"CAST(__start_us + floor((unix_micros(CAST({time_col} AS TIMESTAMP)) - __start_us)"
        f" / {step_us}) * {step_us} AS BIGINT) AS __bucket"
    )


def _bucket_spine(bounds: DataFrame, step_us: int) -> DataFrame:
    """The WITH-FILL bucket spine off the 1-row bounds frame (O1)."""
    return bounds.select(
        F.expr(
            "explode(sequence(CAST(0 AS BIGINT),"
            f" CAST(floor((__max_us - __start_us) / {step_us}) AS BIGINT))) AS __i"
        ),
        "__start_us",
    ).select(F.expr(f"CAST(__start_us + __i * {step_us} AS BIGINT) AS __bucket"))


def _top_rows(base: DataFrame, req: LineRequest, bounds: DataFrame) -> DataFrame:
    """Top-N dimension tuples.

    limit_type mirrors reference console/query.go:50-77:
      avg  — rank by total weight over the whole range
      max  — rank by the peak per-bucket weight
      last — rank by weight within the final bucket only
    Ties are broken by the dimension values themselves so results are
    deterministic across engines.
    """
    dims = list(req.dimensions)
    step_us = req.interval_s * 1_000_000
    if req.limit_type == "max":
        per_bucket = base.groupBy("__bucket", *dims).agg(_agg_col(req, "__bw"))
        ranked = per_bucket.groupBy(*dims).agg(F.max("__bw").alias("__tw"))
    elif req.limit_type == "last":
        # the final bucket is arithmetic over the 1-row bounds frame —
        # NOT a max() over base, which would cost a full data pass
        last_bucket = bounds.select(
            (
                F.col("__start_us")
                + F.floor((F.col("__max_us") - F.col("__start_us")) / step_us) * step_us
            )
            .cast("long")
            .alias("__lb")
        )
        ranked = (
            base.join(F.broadcast(last_bucket), F.col("__bucket") == F.col("__lb"))
            .groupBy(*dims)
            .agg(_agg_col(req, "__tw"))
        )
    else:
        ranked = base.groupBy(*dims).agg(_agg_col(req, "__tw"))
    order = [F.col("__tw").desc()] + [F.col(d).asc() for d in dims]
    return ranked.orderBy(*order).limit(req.limit).drop("__tw")


def _bounds_frame(df: DataFrame, req: LineRequest) -> DataFrame:
    if req.start_us is not None:
        # explicit range: a literal 1-row bounds frame (no data pass)
        return df.sparkSession.range(1).select(
            F.lit(req.start_us).cast("long").alias("__start_us"),
            F.lit(req.end_us - 1).cast("long").alias("__max_us"),
        )
    ts_ltz = F.col(req.time_col).cast("timestamp")  # tolerate TIMESTAMP_NTZ
    return df.agg(
        F.min(F.unix_micros(ts_ltz)).alias("__start_us"),
        F.max(F.unix_micros(ts_ltz)).alias("__max_us"),
    )


def top_rows_frame(df: DataFrame, req: LineRequest) -> DataFrame:
    """The axis-1 ``rows`` CTE as a standalone frame: the top-N
    dimension tuples of THIS request.

    The reference emits the rows CTE once and every further axis
    (reverse direction, previous period) references it instead of
    ranking its own population (``skipWithClause``,
    console/line.go:169-216) — the chart's series set stays identical
    across axes.  Compute this on the direct axis and pass it (with
    dimension columns renamed to the other axis's names) as
    ``compile_line(..., rows=...)``.
    """
    dims = list(req.dimensions)
    step_us = req.interval_s * 1_000_000
    bounds = _bounds_frame(df, req)
    bucket_col = _bucket_col(req.time_col, step_us)
    joined = df.join(F.broadcast(bounds))
    if req.agg_sql:
        base = joined.select(bucket_col, *req.base_cols, *dims)
    else:
        base = joined.select(bucket_col, _weight_col(req), *dims)
    return _top_rows(base, req, bounds)


def compile_line(
    df: DataFrame,
    req: LineRequest,
    rows: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Compile a LineRequest into a DataFrame plan.

    Output columns: ``bucket`` (BIGINT epoch-µs), the dimension
    columns (folded to 'Other' outside the top-N), ``sum_w`` (the
    unit aggregate), ``xps`` (DOUBLE = sum_w / interval).

    ``rows``: optional precomputed top-tuple frame (columns = this
    request's dimensions) — the shared-CTE multi-axis form (see
    :func:`top_rows_frame`); when omitted the top set is ranked from
    this request's own population.

    ``ordered`` (default True, the public chart contract: rows sorted
    by bucket then dimensions): union suites whose gate hash is
    order-insensitive pass False to skip the per-member range-
    partitioning sort exchange — same rows, no final Sort node.
    """
    dims = list(req.dimensions)
    step_us = req.interval_s * 1_000_000

    bounds = _bounds_frame(df, req)

    # single select off the bounds join (one projection node instead of
    # a withColumn chain — each chained op costs an analysis round and
    # py4j round trips; ~870 calls per axis before r13)
    bucket_col = _bucket_col(req.time_col, step_us)
    joined = df.join(F.broadcast(bounds))  # 1-row scalar frame (J9 shape)
    if req.agg_sql:
        base = joined.select(bucket_col, *req.base_cols, *dims)
    else:
        base = joined.select(bucket_col, _weight_col(req), *dims)

    if not dims:
        # dimensionless request (total-traffic graph; also the
        # previous-period axes, whose dimensions the reference strips —
        # console/line.go:81-86): no ranking, no fold, one series
        agg = base.groupBy("__bucket").agg(_agg_col(req))
        if not req.fill:
            out = agg.select(
                F.col("__bucket").alias("bucket"),
                "sum_w",
                (F.col("sum_w") / F.lit(req.interval_s)).alias("xps"),
            )
            return out.orderBy("bucket") if ordered else out
        buckets = _bucket_spine(bounds, step_us)
        filled = F.coalesce(F.col("sum_w"), F.lit(0)).cast(req.value_type)
        out = buckets.join(agg, on="__bucket", how="left").select(
            F.col("__bucket").alias("bucket"),
            filled.alias("sum_w"),
            (filled / F.lit(req.interval_s)).alias("xps"),
        )
        return out.orderBy("bucket") if ordered else out

    shared_rows = rows is not None
    if rows is None:
        rows = _top_rows(base, req, bounds)
    else:
        rows = rows.select(*dims)

    # Fold non-top tuples into 'Other' via a broadcast left join (J7).
    # Numeric dims fold through their display string (the reference
    # renders dimensions inside the fold); string/binary pass through —
    # binary IPs use b'Other' and render after aggregation.
    marker = rows.withColumn("__top", F.lit(1))
    folded = base.join(F.broadcast(marker), on=dims, how="left")
    # dimension dtypes come from the input frame — analyzing `df` is
    # cheaper than analyzing the derived `base` plan
    dtypes = dict(df.dtypes)
    passthrough = tuple(dtypes[d] in ("string", "binary") for d in dims)
    fold_cols = [
        F.expr(
            f"CASE WHEN __top IS NOT NULL THEN {f'`{d}`' if p else f'CAST(`{d}` AS STRING)'}"
            f" ELSE '{OTHER}' END AS `{d}`"
        )
        for d, p in zip(dims, passthrough)
    ]
    value_cols = list(req.base_cols) if req.agg_sql else ["__w"]
    agg = (
        folded.select("__bucket", *value_cols, *fold_cols)
        .groupBy("__bucket", *dims)
        .agg(_agg_col(req))
    )

    if not req.fill:
        out = agg.select(
            F.col("__bucket").alias("bucket"),
            *dims,
            "sum_w",
            (F.col("sum_w") / F.lit(req.interval_s)).alias("xps"),
        )
        return out.orderBy("bucket", *dims) if ordered else out

    # Bucket spine: sequence on the 1-row bounds frame (O1 / WITH FILL).
    buckets = _bucket_spine(bounds, step_us)

    # Dimension spine: the distinct folded tuples of the aggregate
    # itself.  Every top tuple appears in agg (it was ranked from the
    # data), and an 'Other' row exists in agg exactly when some
    # non-top tuple existed — so this equals "top tuples + Other iff
    # any", WITHOUT the extra full-data distinct pass; it's a tiny
    # reuse of agg's shuffle output (≤ limit+1 tuples).
    dim_spine = agg.select(*dims).distinct()
    if shared_rows:
        # a shared top tuple can be absent from THIS axis's population;
        # it must still spine-fill with zeros so every axis charts the
        # same series (with self-ranked rows every top tuple is in agg
        # by construction, so this union would be a no-op there);
        # numeric dims take the same display-string form the fold used
        dim_spine = dim_spine.unionByName(
            rows.select(
                *[
                    F.col(d)
                    if dtypes[d] in ("string", "binary")
                    else F.col(d).cast("string").alias(d)
                    for d in dims
                ]
            )
        ).distinct()

    spine = buckets.crossJoin(F.broadcast(dim_spine))
    filled = F.coalesce(F.col("sum_w"), F.lit(0)).cast(req.value_type)
    out = spine.join(agg, on=["__bucket", *dims], how="left").select(
        F.col("__bucket").alias("bucket"),
        *dims,
        filled.alias("sum_w"),
        (filled / F.lit(req.interval_s)).alias("xps"),
    )
    return out.orderBy("bucket", *dims) if ordered else out


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
