"""Oracle gates for the r8 ML-adjacent operators: the logistic quality
classifier's scoring path and the HLL corpus-sketch stats.

Both were pytest-only in round 8 (VERDICT item 6).  The gating trick
for each:

- **Classifier** (`clf` member): training is iterative floating-point
  GD (not oracle-replayable), but SCORING is a linear margin through a
  sigmoid — and a sigmoid's decile bucket is a pure function of the
  margin against 9 fixed logit thresholds.  With micro fixed-point
  integer weights over exact integer features, the margin is BIGINT in
  both engines and the decile histogram per (lang, source) hash-gates
  the whole feature-extraction → linear-margin → monotone-bucketing
  path (operators/classifier.py `margin_micro`/`decile_from_margin`).
  The GD trainer itself stays covered by the python-twin pytest.

- **Sketches** (`sketch` member): HLL estimates are engine-specific,
  so the gate splits: the exact adds (docs, chars, tokens per group)
  from `corpus_sketch_stats` are replayed exactly, and the estimates
  are gated as integer BOUND CHECKS — Spark emits
  ``1 if |estimate − exact| ≤ 6σ+4 else 0`` next to the exact
  distincts it computed itself; the oracle emits the literal 1 the
  bound must produce.  A broken sketch pipeline (wrong column, stale
  merge, lost group) fails rows/hash immediately.

Reference parity: the reference's equivalent accounting lives in its
ClickHouse rollup counts (see SURVEY.md §2 A8 distinct-count paths);
the classifier mirrors the CCNet/Gopher quality-model stage of a
training-data pipeline (public papers), not a reference operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.oracle.registry import register
from akvorado_spark.sources.tables import load_table

# fixed "trained-like" micro weights: bias, per-token, per-char,
# per-'e'.  Chosen so margins span the full decile range over the
# corpus (ntok 10..99, nch 48..553); the VALUES are arbitrary — the
# gate certifies the scoring machinery, not a particular model.
_CLF_W = [500_000, 60_000, -12_000, 15_000]

# HLL standard error at the lg_k=12 default is ~1.63%.  The gate
# allows 6σ + 4: this is a CORRECTNESS gate over a probabilistic
# bound, so the budget must make an unlucky-but-correct estimate
# astronomically unlikely (6σ two-sided ≈ 2e-9 per estimate; ~100s of
# estimates per round ⇒ ~1e-7 per round) while still failing loudly on
# real defects — a lost group, a swapped column, or a stale merge
# misses by far more than 6σ.  The sharper 3σ accuracy claim lives in
# pytest (test_sketches), where a rare boundary flake is cheap to
# adjudicate.
_EST_TOL = 6 * 0.0163
_EST_ABS = 4


def _classifier_sketch_suite(spark, sf_dir):
    """Members (schema: variant, lang, source, metric, val BIGINT):

    - ``clf``    metric = score-decile (0..9), val = doc count in that
      decile per (lang, source), margins integer-exact.
    - ``sketch`` metric ∈ {docs, chars, tokens, doc_est_ok,
      tok_est_ok}: the exact adds from corpus_sketch_stats plus the
      HLL-estimate-within-bound indicators (expected 1).
    """
    from akvorado_spark.operators.classifier import (
        decile_from_margin,
        margin_micro,
    )
    from akvorado_spark.operators.sketches import corpus_sketch_stats
    from akvorado_spark.operators.text import WORDS_SQL

    docs = load_table(spark, "documents", sf_dir, spread=True).select(
        "doc_id", "lang", "source", "text"
    )

    t = F.col("text")
    feats = docs.select(
        "lang",
        "source",
        F.expr(f"CAST(size({WORDS_SQL.format('text')}) AS BIGINT) AS ntok"),
        F.length(t).cast("long").alias("nch"),
        (F.length(t) - F.length(F.replace(t, F.lit("e"), F.lit("")))).cast(
            "long"
        ).alias("ne"),
    )
    z = margin_micro(_CLF_W, ["ntok", "nch", "ne"])
    clf = (
        feats.select("lang", "source", decile_from_margin(z).alias("__b"))
        .groupBy("lang", "source", "__b")
        .agg(F.count(F.lit(1)).alias("val"))
        .select(
            F.lit("clf").alias("variant"),
            "lang",
            "source",
            F.col("__b").cast("string").alias("metric"),
            F.col("val").cast("long").alias("val"),
        )
    )

    # ONE exploded pass: the exact distincts the sketches are judged
    # against ride the operator's own aggregate (extra_aggs) — a
    # second explode+exchange would double the suite's dominant cost
    # for no information (measured: 348 MB of the 522 MB shuffle at
    # the 100× corpus was the duplicated token traffic).
    skj = corpus_sketch_stats(
        docs,
        extra_aggs=(
            F.countDistinct("__tok").alias("__dt"),
            F.countDistinct("doc_id").alias("__dd"),
        ),
    )
    # a degenerate group (zero tokens/docs → all-null sketch) must pass
    # BY DESIGN (exact=0, nothing to estimate) instead of propagating
    # hll_sketch_estimate's NULL into a confusing gate miss (ADVICE r9)
    est_ok = (
        lambda est, ex: F.coalesce(
            (
                F.abs(F.round(F.hll_sketch_estimate(est)) - F.col(ex))
                <= _EST_TOL * F.col(ex) + _EST_ABS
            ).cast("long"),
            (F.col(ex) == 0).cast("long"),
        )
    )
    metrics = [
        ("docs", F.col("n_docs")),
        ("chars", F.col("n_chars")),
        ("tokens", F.col("n_tokens")),
        ("doc_est_ok", est_ok("doc_sketch", "__dd")),
        ("tok_est_ok", est_ok("token_sketch", "__dt")),
    ]
    sketch = skj.select(
        F.lit("sketch").alias("variant"),
        "lang",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"), v.cast("long").alias("val")
                    )
                    for m, v in metrics
                ]
            )
        ).alias("__m"),
    ).select("variant", "lang", "source", "__m.metric", "__m.val")

    return clf.unionByName(sketch).orderBy(
        "variant", "lang", "source", "metric"
    )


def _oracle() -> str:
    from akvorado_spark.operators.classifier import sigmoid_decile_thresholds

    w0, w1, w2, w3 = _CLF_W
    bucket = " + ".join(
        f"(CASE WHEN zm >= {t} THEN 1 ELSE 0 END)"
        for t in sigmoid_decile_thresholds()
    )
    return f"""
WITH f AS (
  SELECT lang, source,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS BIGINT) AS ntok,
         CAST(length(text) AS BIGINT) AS nch,
         CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS ne
  FROM documents
),
z AS (SELECT lang, source, {w0} + {w1} * ntok + {w2} * nch + {w3} * ne AS zm FROM f),
clf AS (
  SELECT 'clf' AS variant, lang, source,
         CAST({bucket} AS VARCHAR) AS metric,
         CAST(COUNT(*) AS BIGINT) AS val
  FROM z GROUP BY 1, 2, 3, 4
),
sk AS (
  SELECT lang, source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs,
         CAST(SUM(length(text)) AS BIGINT) AS chars,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1, 2
),
skl AS (
            SELECT 'sketch' AS variant, lang, source, 'docs' AS metric, docs AS val FROM sk
  UNION ALL SELECT 'sketch', lang, source, 'chars', chars FROM sk
  UNION ALL SELECT 'sketch', lang, source, 'tokens', tokens FROM sk
  UNION ALL SELECT 'sketch', lang, source, 'doc_est_ok', CAST(1 AS BIGINT) FROM sk
  UNION ALL SELECT 'sketch', lang, source, 'tok_est_ok', CAST(1 AS BIGINT) FROM sk
)
SELECT * FROM clf
UNION ALL SELECT * FROM skl
ORDER BY variant, lang, source, metric
"""


register("classifier_sketch_suite", _classifier_sketch_suite, _oracle())
