"""Oracle-checked graph-line queries over the events table (SURVEY
§2.4 A2/A4-A6, §2.3 J7/J9, §2.6 O1-O2, §2.5 gap filling)."""

from __future__ import annotations

from akvorado_spark.oracle.registry import register
from akvorado_spark.query.line import LineRequest, compile_line, oracle_line_sql
from akvorado_spark.sources.tables import load_table

# Integer micro-units so sums are exact in both engines.
EVENTS_WEIGHT = "CAST(ROUND(value * 1000000) AS BIGINT)"

USER_SEG = (
    "CASE WHEN user_id % 3 = 0 THEN 'small' WHEN user_id % 3 = 1 THEN 'mid' "
    "ELSE 'large' END"
)

LINE_REQS = {
    "graph_line_avg": LineRequest(
        time_col="ts", dimensions=("event_type",), weight_sql=EVENTS_WEIGHT,
        interval_s=600, limit=3, fill=True, limit_type="avg",
    ),
    "graph_line_max": LineRequest(
        time_col="ts", dimensions=("event_type",), weight_sql=EVENTS_WEIGHT,
        interval_s=900, limit=2, fill=True, limit_type="max",
    ),
    "graph_line_last": LineRequest(
        time_col="ts", dimensions=("event_type",), weight_sql=EVENTS_WEIGHT,
        interval_s=1800, limit=2, fill=True, limit_type="last",
    ),
    "graph_line_2dims": LineRequest(
        time_col="ts", dimensions=("event_type", "user_seg"), weight_sql=EVENTS_WEIGHT,
        interval_s=3600, limit=5, fill=True, limit_type="avg",
    ),
    "graph_line_nofill": LineRequest(
        time_col="ts", dimensions=("event_type",), weight_sql=EVENTS_WEIGHT,
        interval_s=600, limit=3, fill=False, limit_type="avg",
    ),
}


def events_source(spark, sf_dir: str):
    df = load_table(spark, "events", sf_dir)
    return df.selectExpr("ts", "event_type", "value", f"{USER_SEG} AS user_seg")


# One tagged-UNION suite: every line-compiler mode (avg/max/last top-N,
# two dimensions, fill on/off) stays individually hash-gated while
# spending a single slot of the driver's 50-query correctness budget.
_ORACLE_SRC = f"(SELECT ts, event_type, value, {USER_SEG} AS user_seg FROM events)"


def _graph_suite_spark(spark, sf_dir):
    from dataclasses import replace

    from pyspark.sql import functions as F

    # five compile_line fan-outs share one materialized narrow source
    # (same shared-CTE pattern + measurement as multiaxis_queries)
    src = events_source(spark, sf_dir).localCheckpoint(eager=False)
    # All five members share one source and time column, so the range
    # bounds are collected ONCE (a 2-scalar min/max the parquet footer
    # stats make nearly free) and passed as literals — the per-member
    # bounds subtree would otherwise replicate a broadcast-agg pass
    # five times (measured at sf0.1: 6.1s -> 2.7s cold).  The DuckDB
    # oracle keeps deriving the same bounds from the data, so the
    # results are identical by construction.
    ts = F.col("ts").cast("timestamp")
    row = src.agg(
        F.min(F.unix_micros(ts)).alias("lo"), F.max(F.unix_micros(ts)).alias("hi")
    ).first()
    parts = []
    for name, req in LINE_REQS.items():
        if row["lo"] is not None:
            req = replace(req, start_us=int(row["lo"]), end_us=int(row["hi"]) + 1)
        # ordered=False: the gate hash is order-insensitive and the
        # five members union — skips one range-partitioning sort
        # exchange per member (r14, guide §2.4)
        df = compile_line(src, req, ordered=False)
        dim2 = F.col("user_seg") if "user_seg" in df.columns else F.lit("")
        parts.append(
            df.select(
                F.lit(name).alias("variant"),
                "bucket",
                F.col("event_type").alias("dim1"),
                dim2.alias("dim2"),
                "sum_w",
                "xps",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _graph_suite_oracle() -> str:
    members = []
    for name, req in LINE_REQS.items():
        dim2 = "user_seg" if "user_seg" in req.dimensions else "''"
        members.append(
            f"SELECT '{name}' AS variant, bucket, event_type AS dim1, "
            f"{dim2} AS dim2, sum_w, xps "
            f"FROM ({oracle_line_sql(_ORACLE_SRC, req)})"
        )
    return " UNION ALL ".join(members)


register("graph_line_suite", _graph_suite_spark, _graph_suite_oracle())


# --- bonus operators the reference lacks but Spark gives natively ----------
#
# T9 sessionization (SURVEY §2.9 marks it absent): session_window over
# the events stream — per user, events within a 30-minute gap belong to
# one session.  The DuckDB oracle derives the same sessions with the
# classic gaps-and-islands (lag + cumulative new-session flags),
# a structurally independent implementation.

_GAP_S = 1800


def _spark_sessionize(spark, sf_dir):
    from pyspark.sql import functions as F

    df = load_table(spark, "events", sf_dir).select("ts", "user_id", "value")
    out = (
        df.groupBy("user_id", F.session_window("ts", f"{_GAP_S} seconds").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.unix_micros("first_ts").alias("start_us"),
            F.floor(
                (F.unix_micros("last_ts") - F.unix_micros("first_ts")) / 1_000_000
            ).cast("long").alias("span_s"),
            "n_events",
            "value_cents",
        )
        .orderBy("user_id", "start_us")
    )
    return out


_SESSION_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id ORDER BY ts)
                   > {_GAP_S} * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts, cents,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT user_id,
       epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS start_us,
       CAST(FLOOR((epoch_us(CAST(MAX(ts) AS TIMESTAMP))
             - epoch_us(CAST(MIN(ts) AS TIMESTAMP))) / 1000000) AS BIGINT) AS span_s,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, sid ORDER BY user_id, start_us"""

register("events_sessionize", _spark_sessionize, _SESSION_ORACLE)


# JSON property extraction (SURVEY §2.8 notes the reference keeps JSON
# at the HTTP layer only; an analytics engine needs it in queries):
# get_json_object ↔ json_extract over the events props column.
def _spark_json_props(spark, sf_dir):
    from pyspark.sql import functions as F

    df = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        df.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


_JSON_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type ORDER BY event_type"""



# As-of join (no Spark native; DuckDB's built-in ASOF JOIN is the
# independent oracle): each 'error' event attaches the same user's
# most recent 'click' at or before it.  Right side deduped to one row
# per (user, ts) so both engines resolve equal-timestamp ties
# identically.
def _spark_asof(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from akvorado_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = (
        ev.filter("event_type = 'click'")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
            ),
        )
        .filter("__rn = 1")
        .select("user_id", "ts", "value")
    )
    errors = ev.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    out = asof_join(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="ts", values=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_asof").alias("click_us"),
        F.round(F.col("value_asof") * 100).cast("long").alias("click_cents"),
    ).orderBy("event_id")


_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
),
errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id,
       epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
       CAST(ROUND(c.value * 100) AS BIGINT) AS click_cents
FROM errors e ASOF LEFT JOIN clicks c
  ON e.user_id = c.user_id AND c.ts <= e.ts
ORDER BY e.event_id"""



# Bucketed range join (interval join without the nested loop): clicks
# within an hour of an error by the same user.  DuckDB's oracle is the
# plain inequality join — structurally independent of the bucketing.
_RANGE_GAP_S = 3600


def _spark_range_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from akvorado_spark.operators.rangejoin import range_join

    ev = load_table(spark, "events", sf_dir)
    errors = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    out = range_join(
        errors, clicks, on=["user_id"], left_ts="err_ts", right_ts="click_ts",
        max_gap_s=_RANGE_GAP_S,
    )
    return out.select(
        "err_id",
        "click_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("err_ts")).alias("delta_us"),
    ).orderBy("err_id", "click_id")


_RANGE_ORACLE = f"""
WITH errors AS (
  SELECT event_id AS err_id, user_id, ts AS err_ts FROM events WHERE event_type = 'error'
),
clicks AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT e.err_id, c.click_id, e.user_id,
       epoch_us(CAST(c.click_ts AS TIMESTAMP)) - epoch_us(CAST(e.err_ts AS TIMESTAMP)) AS delta_us
FROM errors e JOIN clicks c
  ON e.user_id = c.user_id
 AND abs(epoch_us(CAST(c.click_ts AS TIMESTAMP))
         - epoch_us(CAST(e.err_ts AS TIMESTAMP))) <= CAST({_RANGE_GAP_S} AS BIGINT) * 1000000
ORDER BY err_id, click_id"""

# json/asof/range fold into ONE gated suite (driver budget: ≤50 queries
# per round; every member stays individually hash-gated via its tag)
def _events_ops_suite(spark, sf_dir):
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")

    jp = _spark_json_props(spark, sf_dir).select(
        F.lit("json").alias("member"),
        F.col("event_type").alias("s"),
        z.alias("k1"),
        z.alias("k2"),
        F.col("n").cast("long").alias("v1"),
        F.col("k_sum").cast("long").alias("v2"),
        F.col("k_min").cast("long").alias("v3"),
        F.col("k_max").cast("long").alias("v4"),
    )
    asof = _spark_asof(spark, sf_dir).select(
        F.lit("asof").alias("member"),
        F.lit("").alias("s"),
        F.col("event_id").cast("long").alias("k1"),
        F.col("user_id").cast("long").alias("k2"),
        F.col("ts_us").cast("long").alias("v1"),
        F.col("click_us").cast("long").alias("v2"),
        F.col("click_cents").cast("long").alias("v3"),
        z.alias("v4"),
    )
    rng = _spark_range_join(spark, sf_dir).select(
        F.lit("range").alias("member"),
        F.lit("").alias("s"),
        F.col("err_id").cast("long").alias("k1"),
        F.col("click_id").cast("long").alias("k2"),
        F.col("user_id").cast("long").alias("v1"),
        F.col("delta_us").cast("long").alias("v2"),
        z.alias("v3"),
        z.alias("v4"),
    )
    return jp.unionByName(asof).unionByName(rng).orderBy("member", "s", "k1", "k2")


_EVENTS_OPS_ORACLE = f"""
SELECT 'json' AS member, event_type AS s, CAST(0 AS BIGINT) AS k1,
       CAST(0 AS BIGINT) AS k2, n AS v1, k_sum AS v2, k_min AS v3, k_max AS v4
FROM ({_JSON_ORACLE})
UNION ALL
SELECT 'asof', '', event_id, user_id, ts_us, click_us, click_cents, CAST(0 AS BIGINT)
FROM ({_ASOF_ORACLE})
UNION ALL
SELECT 'range', '', err_id, click_id, user_id, delta_us, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM ({_RANGE_ORACLE})
ORDER BY member, s, k1, k2
"""

register("events_ops_suite", _events_ops_suite, _EVENTS_OPS_ORACLE)


# Deterministic hash sampling: portable md5-prefix hash of the id
# gives an engine-reproducible pseudo-random 10% sample — the
# training-pipeline sampling primitive (no RNG state, stable across
# reruns and engines, stratifiable by any key expression).  The 'mixed'
# variant drives mix_sources: weighted per-source resampling with
# up-sampling epochs (src0 ×2.5, src1 ×1, src2 ×0.25, rest ×0.05).
_MIX_RATES = {"src0": 2.5, "src1": 1.0, "src2": 0.25}
_MIX_DEFAULT = 0.05


def _spark_hash_sample(spark, sf_dir):
    from pyspark.sql import functions as F

    from akvorado_spark.operators.sampling import mix_sources
    from akvorado_spark.operators.text import portable_word_hash

    docs = load_table(spark, "documents", sf_dir)
    bucket = F.expr(f"pmod({portable_word_hash('CAST(doc_id AS STRING)')}, 100)")
    uniform = (
        docs.filter(bucket < 10)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("uniform").alias("variant"),
            F.col("lang").alias("grp"),
            "n",
            "id_sum",
            F.lit(0).cast("long").alias("epoch_sum"),
        )
    )
    mixed = (
        mix_sources(docs, _MIX_RATES, "source", "doc_id", default_rate=_MIX_DEFAULT)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("epoch").cast("long").alias("epoch_sum"),
        )
        .select(
            F.lit("mixed").alias("variant"), F.col("source").alias("grp"),
            "n", "id_sum", "epoch_sum",
        )
    )
    # train/val/test split variants (operators/sampling.split_dataset):
    # 'split_group' buckets by SOURCE — the leakage guard (a near-dup
    # group never straddles splits; epoch_sum carries distinct sources
    # per split); 'split_row' buckets by doc_id for contrast.
    from akvorado_spark.operators.sampling import split_dataset

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    sp_group = (
        split_dataset(docs, fr, id_col="doc_id", group_col="source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.countDistinct("source").cast("long").alias("epoch_sum"),
        )
        .select(
            F.lit("split_group").alias("variant"), F.col("split").alias("grp"),
            "n", "id_sum", "epoch_sum",
        )
    )
    sp_row = (
        split_dataset(docs, fr, id_col="doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.lit(0).cast("long").alias("epoch_sum"),
        )
        .select(
            F.lit("split_row").alias("variant"), F.col("split").alias("grp"),
            "n", "id_sum", "epoch_sum",
        )
    )
    return (
        uniform.unionByName(mixed).unionByName(sp_group).unionByName(sp_row)
        .orderBy("variant", "grp")
    )


_SAMPLE_ORACLE = """
WITH rates(source, copies, thr) AS (
  VALUES ('src0', 2, 500000), ('src1', 1, 0), ('src2', 0, 250000)
),
d AS (
  SELECT doc_id, lang, source,
         COALESCE(copies, 0) AS copies, COALESCE(thr, 50000) AS thr
  FROM documents LEFT JOIN rates USING (source)
),
mixed AS (
  SELECT d.*, t.epoch FROM d, generate_series(0, 2) t(epoch)
  WHERE t.epoch <= d.copies
    AND (t.epoch < d.copies
         OR ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(t.epoch AS VARCHAR)), 1, 14))::BIGINT
            % 1000000 < d.thr)
)
SELECT 'uniform' AS variant, lang AS grp, COUNT(*) AS n,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS epoch_sum
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 < 10
GROUP BY lang
UNION ALL
SELECT 'mixed', source, COUNT(*), CAST(SUM(doc_id) AS BIGINT), CAST(SUM(epoch) AS BIGINT)
FROM mixed GROUP BY source
UNION ALL
SELECT 'split_group', split, COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(COUNT(DISTINCT source) AS BIGINT)
FROM (
  SELECT *, CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
        FROM documents)
) GROUP BY split
UNION ALL
SELECT 'split_row', split, COUNT(*), CAST(SUM(doc_id) AS BIGINT), CAST(0 AS BIGINT)
FROM (
  SELECT *, CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
        FROM documents)
) GROUP BY split
ORDER BY variant, grp"""

register("docs_hash_sample", _spark_hash_sample, _SAMPLE_ORACLE)


# ---------------------------------------------------------------------------
# sequence packing (pretraining context-window assembly) — the last
# ungated sampling-family operator (r9, filling the 50th budget slot)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


def _docs_pack_bins(spark, sf_dir):
    """pack_documents per (lang): every doc's fixed-budget bin id and
    its token offset inside the bin, integer-exact — gates the portable
    ordering hash, the window cumsum, and the exact floor-div bin
    arithmetic (`operators/sampling.pack_documents`)."""
    from pyspark.sql import functions as F

    from akvorado_spark.operators.sampling import pack_documents
    from akvorado_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir, spread=True).select(
        "lang", "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    out = pack_documents(
        docs, "n_tokens", _PACK_BUDGET, key_cols=("lang",), id_col="doc_id"
    )
    return out.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        F.col("bin_id").cast("long").alias("bin_id"),
        F.col("bin_offset").cast("long").alias("bin_offset"),
    ).orderBy("lang", "doc_id")


_PACK_ORACLE = f"""
WITH t AS (
  SELECT lang, doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS oh
  FROM documents
),
c AS (
  SELECT lang, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY oh, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM t
)
SELECT lang, doc_id, n_tokens,
       CAST(cb // {_PACK_BUDGET} AS BIGINT) AS bin_id,
       CAST(cb % {_PACK_BUDGET} AS BIGINT) AS bin_offset
FROM c ORDER BY lang, doc_id
"""

register("docs_pack_bins", _docs_pack_bins, _PACK_ORACLE)
