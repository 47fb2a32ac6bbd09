"""N-gram language-model perplexity scoring and CCNet-style quality
bucketing.

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks web documents by the perplexity of
a language model trained on a trusted corpus and keeps the low-
perplexity "head" of the distribution.  This module is the distributed
equivalent with an add-one-smoothed word-bigram model:

- **training** is two count aggregations (bigram and context counts) —
  the classic map-side-combine shape, output bounded by vocabulary
  size, not corpus size;
- **scoring** re-streams the corpus bigrams through two joins against
  the count tables and one per-document sum;
- **bucketing** splits the scored corpus into head/middle/tail.

Numeric discipline: each bigram's log-probability is rounded to
micro-nats (``round(ln(p)·1e6)`` as BIGINT) *before* the per-document
sum, so the gated score is an order-independent integer — no float
summation-order hazards between engines, partitionings, or retries.
All hot paths are built-in expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from akvorado_spark.operators.text import WORDS_SQL


def _bigram_structs(text_col: str, key_fn=None):
    """``explode`` of the (w1, w2) struct array of ``text_col``, as ``b``."""
    ws = WORDS_SQL.format(text_col)
    if key_fn is not None:
        ws = f"transform({ws}, w -> {key_fn('w')})"
    m = f"greatest(size({ws}) - 1, 1)"
    pairs = f"zip_with(slice({ws}, 1, {m}), slice({ws}, 2, {m}), (a, b) -> named_struct('w1', a, 'w2', b))"
    grams = f"CASE WHEN size({ws}) >= 2 THEN {pairs} ELSE filter({pairs}, p -> false) END"
    return F.expr(f"explode({grams}) AS b")


def doc_bigrams(
    df: DataFrame, text_col: str, id_col: str, key_fn=None
) -> DataFrame:
    """Explode each document into (id, w1, w2) word-bigram rows.

    zip_with over two shifted slices — no element_at, no per-index
    rewalk, safe for 0/1-token documents (they produce no rows).

    ``key_fn`` (word SQL text → key SQL text) hashes each token ONCE in
    the projected array before pairing, so everything downstream —
    count-table groupBys, scoring joins — shuffles 8-byte keys instead
    of word strings.  At corpus scale the bigram stream is the whole
    token stream twice over; keying it is the difference between a
    string shuffle that dwarfs the scan and one ~5× smaller.  Identity
    (None) keeps exact strings; xxhash64 is the production key; the
    oracle gate uses the portable md5-prefix so DuckDB groups the very
    same integers (a 56-bit collision would merge the same pair of
    bigrams in BOTH engines, so the replay stays exact).  ``key_fn``
    may return any orderable type — the 0/1-token empty branch derives
    its element type from the paired array itself (filter-false), so
    the when/otherwise branches can never type-mismatch."""
    return df.select(F.col(id_col), _bigram_structs(text_col, key_fn)).select(
        id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )


def train_bigram_lm(
    bigrams: DataFrame, materialize: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables of an add-one-smoothed bigram LM from an exploded
    (w1, w2) frame: (bigram counts, context counts, 1-row vocab size).

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V) with V = |distinct w2|.
    Train on a TRUSTED corpus and score a crawl against it (the CCNet
    setup), or self-train for in-corpus outlier scoring.

    ONE aggregation pass over the corpus-sized stream: c1 and V are
    exact derivations of the vocabulary-bounded c12 table
    (``c1(w1) = Σ_w2 c12(w1,w2)``; every w2 in the stream appears as a
    c12 key, so ``V = |distinct w2 in c12|``), so training aggregates
    the stream once instead of three times.  ``materialize`` (default)
    localCheckpoints c12 — |bigram vocab| rows, NOT corpus-sized — so
    c1/V and every scoring consumer read the finished table instead of
    re-running the corpus aggregation (guide §2.4: the r13 alternative
    of checkpointing the exploded token stream was corpus-sized and a
    §5 spill risk; this is the "persist only the aggregated tables"
    form, and the fastest of the four shapes in the r14 interleaved
    A/B: 0.95 s vs 1.11 direct / 1.07 stream-ckpt at sf0.1).
    """
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if materialize:
        c12 = c12.localCheckpoint(eager=False)
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c12.agg(F.count_distinct("w2").alias("v"))
    return c12, c1, v


def bigram_lm_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lm: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    key_fn=None,
) -> DataFrame:
    """Per-document LM score: (id, n_bigrams, lp_micro) where lp_micro
    is the sum of per-bigram ``round(ln(P(w2|w1))·1e6)`` micro-nat
    BIGINTs (≤ 0; closer to 0 = more probable = lower perplexity).

    Perplexity in nats is ``exp(-lp_micro / 1e6 / n_bigrams)`` — kept
    out of the frame so every gated column stays integer-exact.

    ``lm=None`` self-trains on ``df``.  Scale shape: two shuffles build
    the count tables (vocabulary-bounded output), the scoring re-stream
    shuffles bigram keys once per join side, and the final sum is a
    per-document partial aggregate.  Unknown contexts cannot occur in
    the self-trained setup; under a foreign LM the joins are left joins
    with c→0 fallbacks so OOV bigrams get the smoothed floor.

    ``key_fn`` keys the whole pipeline on word hashes instead of word
    strings (see :func:`doc_bigrams`) — pass the same key_fn used to
    build an external ``lm``."""
    bg = doc_bigrams(df, text_col, id_col, key_fn=key_fn)
    if lm is None:
        # self-trained: train_bigram_lm materializes the vocabulary-
        # bounded c12 table once and derives c1/v from it, so training
        # costs ONE aggregation of the stream and scoring re-explodes
        # it once — two corpus passes total, nothing corpus-sized
        # materialized.  (r13 instead localCheckpoint'ed the exploded
        # token-level stream — larger than the corpus, pushed into
        # executor memory/disk; slower at sf0.1 in both driver samples
        # and a guide-§5 spill risk at 100 TB.  Reverted in r14.)
        c12, c1, v = train_bigram_lm(bg)
    else:
        c12, c1, v = lm
    p = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    )
    term = F.round(F.log(p) * F.lit(1e6), 0).cast("long")
    return (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(term).alias("lp_micro"),
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    id_col: str,
    names: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet bucketing: rank documents by mean per-bigram log-prob
    (highest = most LM-like first) and ntile into ``names``.

    The global ntile is the exact, oracle-replayable form used at test
    scale; a 100 TB run swaps the single-ordering window for
    ``approxQuantile`` threshold literals on ``lp_micro/n_bigrams``
    (one pass, no global sort) — same buckets up to quantile-sketch
    error at the boundaries.
    """
    avg = F.col("lp_micro") / F.col("n_bigrams")
    tile = F.ntile(len(names)).over(
        Window.orderBy(avg.desc(), F.col(id_col))
    )
    bucket = F.lit(names[-1])
    for i in range(len(names) - 1, 0, -1):
        bucket = F.when(tile == i, F.lit(names[i - 1])).otherwise(bucket)
    return scored.withColumn("bucket", bucket)


def perplexity_buckets_approx(
    scored: DataFrame,
    id_col: str,
    names: tuple[str, ...] = ("head", "middle", "tail"),
    rel_err: float = 0.001,
) -> DataFrame:
    """The 100 TB form of :func:`perplexity_buckets`: bucket thresholds
    come from ``approxQuantile`` (one distributed sketch pass, no
    global sort, driver gets len(names)-1 doubles), then bucketing is
    a codegen CASE chain.  ``rel_err=0`` computes exact quantiles —
    identical buckets to the ntile form up to tied scores.

    The exact window variant stays the oracle-gated twin; this is the
    one to run when `scored` has 10^10 rows.
    """
    n = len(names)
    scored = scored.withColumn(
        "__avg", F.col("lp_micro") / F.col("n_bigrams")
    )
    # descending score = ascending perplexity = head first; quantiles
    # are ascending, so cut from the top
    probs = [1.0 - (i + 1) / n for i in range(n - 1)]
    cuts = scored.approxQuantile("__avg", probs, rel_err)
    bucket = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        # reversed: tightest (head) threshold applied last → wins
        bucket = F.when(F.col("__avg") >= cut, F.lit(name)).otherwise(bucket)
    return scored.withColumn("bucket", bucket).drop("__avg")
