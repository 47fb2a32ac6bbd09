"""Mergeable corpus statistics via Datasketches HLL columns.

The 100 TB accounting problem: "how many distinct tokens / documents
does the corpus have, per language and source, updated as shards land"
— recomputing exact distincts rescans everything, and exact per-shard
counts don't add (distinct is not a sum).  HLL sketches ARE mergeable:
each shard reduces to a few-KB sketch row, and any grouping of shards
unions those rows to the global estimate without touching the data
again.  Spark ships Apache Datasketches natively
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``), so
the whole pattern stays JVM-side whole-stage codegen.

Standard error ≈ 1.04/√2^lg_k per sketch (~1.6% at the lg_k=12
default); the binary sketch column is portable across Spark jobs and
any Datasketches binding (C++/Java/Python), so downstream accounting
systems can keep merging without Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akvorado_spark.operators.text import WORDS_SQL


def corpus_sketch_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] = ("lang", "source"),
    lg_k: int = 12,
    extra_aggs: tuple = (),
) -> DataFrame:
    """Per-group mergeable stats row: exact adds (docs, chars, tokens)
    next to HLL sketches of distinct tokens and distinct doc ids.

    One shuffle to the group grain; token explosion stays map-side
    before the partial aggregate (hll_sketch_agg has a partial-merge
    implementation, so each task ships ONE sketch per group, not its
    token stream).  Chars are attached to the position-0 row of each
    doc's explosion (posexplode) so the per-doc length is added exactly
    once — summing it on every token row would overcount by the token
    count.

    ``extra_aggs``: additional aggregate Columns computed in the SAME
    groupBy over the same exploded stream — callers that also need an
    exact companion statistic (the oracle gate's countDistinct twins,
    a validation sample) ride the one shuffle instead of paying a
    second explode+exchange over the corpus.  They may reference the
    token column as ``__tok`` and the id column by name."""
    toks = df.select(
        *group_cols,
        F.col(id_col),
        F.length(text_col).alias("__chars"),
        F.posexplode_outer(F.expr(WORDS_SQL.format(text_col))).alias("__pos", "__tok"),
    )
    first_row = F.col("__pos").isNull() | (F.col("__pos") == 0)
    return toks.groupBy(*group_cols).agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.sum(
            F.when(first_row, F.col("__chars")).otherwise(F.lit(0))
        ).alias("n_chars"),
        F.count("__tok").alias("n_tokens"),
        F.hll_sketch_agg("__tok", F.lit(lg_k)).alias("token_sketch"),
        F.hll_sketch_agg(id_col, F.lit(lg_k)).alias("doc_sketch"),
        *extra_aggs,
    )


def merge_sketch_stats(
    sketch_df: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Union sketch rows (from :func:`corpus_sketch_stats`, possibly
    computed shard-by-shard across many jobs) to ``group_cols`` grain —
    () for corpus-global.  Adds add, sketches union; the result carries
    BOTH the merged sketches (keep merging later) and their estimates
    (read now)."""
    aggs = [
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_tokens").alias("n_tokens"),
        F.hll_union_agg("token_sketch").alias("token_sketch"),
        F.hll_union_agg("doc_sketch").alias("doc_sketch"),
    ]
    g = (
        sketch_df.groupBy(*group_cols).agg(*aggs)
        if group_cols
        else sketch_df.agg(*aggs)
    )
    return g.withColumn(
        "distinct_tokens_est",
        F.round(F.hll_sketch_estimate("token_sketch")).cast("long"),
    ).withColumn(
        "distinct_docs_est",
        F.round(F.hll_sketch_estimate("doc_sketch")).cast("long"),
    )
