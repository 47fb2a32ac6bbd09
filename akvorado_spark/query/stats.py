"""Per-series summary statistics (SURVEY §2.4 A12;
reference console/line.go:380-447).

The reference computes these in Go after the query, over each row's
gap-filled point vector; here they are one more aggregation over the
line result — distributed, and exact:

- average = floor(sum / point-count)     (integer division, as Go)
- total   = sum × interval seconds
- last    = the second-to-last point (the last is not drawn)
- min     = smallest non-zero point (0 when the series is all zero)
- max     = largest point
- p95     = 95th percentile, linear interpolation on the sorted
            points at index 0.95·(n-1), rounded — exactly Go's
            formula, and exactly SQL ``percentile_cont``.

Input must be a *filled* line frame (every series × every bucket),
which is what ``compile_line(fill=True)`` produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from akvorado_spark.query.sql import cols, run


def series_stats(
    line: DataFrame,
    dims: tuple[str, ...],
    interval_s: int,
    value_col: str = "sum_w",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Aggregate a filled line frame into one stats row per series, as
    one statement."""
    v, b = f"`{value_col}`", f"`{bucket_col}`"
    lead = "".join(f"`{d}`, " for d in dims)
    order = f" ORDER BY {cols(dims)}" if dims else ""
    text = f"""
SELECT {lead}CAST(floor(__sum / __n) AS BIGINT) AS average,
       CAST(__sum * {int(interval_s)} AS BIGINT) AS total,
       min_v, max_v, last_v, p95
FROM (
  SELECT /*+ BROADCAST(mx) */ {lead}count(1) AS __n, sum({v}) AS __sum,
         CAST(coalesce(min(CASE WHEN {v} > 0 THEN {v} END), 0) AS BIGINT) AS min_v,
         CAST(max({v}) AS BIGINT) AS max_v,
         CAST(max_by({v}, CASE WHEN {b} < __maxb THEN {b} ELSE NULL END) AS BIGINT) AS last_v,
         CAST(round(percentile({v}, 0.95)) AS BIGINT) AS p95
  FROM {{line}} JOIN (SELECT max({b}) AS __maxb FROM {{line}}) mx
  GROUP BY ALL
){order}"""
    return run(line.sparkSession, text, line=line)


def oracle_series_stats_sql(
    line_sql: str,
    dims: tuple[str, ...],
    interval_s: int,
    value_col: str = "sum_w",
    bucket_col: str = "bucket",
) -> str:
    """DuckDB equivalent over the same line subquery."""
    dcols = ", ".join(dims)
    return f"""
WITH line AS (SELECT * FROM ({line_sql})),
mx AS (SELECT MAX({bucket_col}) AS maxb FROM line)
SELECT {dcols},
       CAST(FLOOR(SUM({value_col}) / COUNT(*)) AS BIGINT) AS average,
       CAST(SUM({value_col}) * {interval_s} AS BIGINT) AS total,
       CAST(COALESCE(MIN({value_col}) FILTER (WHERE {value_col} > 0), 0) AS BIGINT) AS min_v,
       CAST(MAX({value_col}) AS BIGINT) AS max_v,
       CAST(arg_max({value_col}, CASE WHEN {bucket_col} < mx.maxb
                                      THEN {bucket_col} ELSE NULL END) AS BIGINT) AS last_v,
       CAST(ROUND(quantile_cont({value_col}, 0.95)) AS BIGINT) AS p95
FROM line CROSS JOIN mx
GROUP BY {dcols}, mx.maxb
ORDER BY {dcols}"""
