"""Byte-pair-encoding tokenizer training and application.

Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units") learned the Spark-shaped way: the corpus is
scanned ONCE into a word-frequency table (vocabulary-bounded, not
corpus-bounded), and every merge iteration runs on that table — one
pair-count aggregate + a 1-row argmax collect + a narrow symbol
rewrite.  At 100 TB the iteration cost is a function of vocabulary
size only; the corpus-sized work is the single word count up front
and the final (broadcast-joined) application pass.

Determinism: ties in pair counts break lexicographically on the pair,
so training is reproducible across partitionings and engines — the
pytest gate replays the whole trainer against a pure-Python reference.
All per-row work is built-in higher-order functions (no Python UDFs);
the greedy left-to-right merge inside a word is an ``aggregate`` fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import sql_literal
from akvorado_spark.operators.text import WORDS_SQL

END = "</w>"  # end-of-word marker, merged like any other symbol


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) frequency table — the one corpus-sized aggregation."""
    return (
        df.select(F.expr(f"explode({WORDS_SQL.format(text_col)}) AS word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _char_symbols(word: str):
    """word → [c1, c2, ..., END] as array<string> (codegen, no UDF).

    The empty-word branch is explicit: Spark's ``sequence(1, 0)``
    DESCENDS to [1, 0] instead of returning [], which would fabricate
    two empty symbols for a zero-length word."""
    return F.expr(
        f"concat(CASE WHEN length({word}) > 0"
        f" THEN transform(sequence(1, length({word})), i -> substr({word}, i, 1))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END, array({sql_literal(END)}))"
    )


def _merge_expr(syms: str, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) into a+b — an
    aggregate fold; ``get`` (not element_at) keeps the empty-accumulator
    probe null-safe under ANSI.  Symbols render as hex literals."""
    la, lb, lab = sql_literal(a), sql_literal(b), sql_literal(a + b)
    return F.expr(
        f"aggregate({syms}, CAST(array() AS ARRAY<STRING>), (acc, s) ->"
        f" CASE WHEN get(acc, size(acc) - 1) = {la} AND s = {lb}"
        f" THEN concat(slice(acc, 1, size(acc) - 1), array({lab}))"
        " ELSE concat(acc, array(s)) END)"
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = (
        "CASE WHEN size(syms) >= 2 THEN zip_with(slice(syms, 1, greatest(size(syms) - 1, 1)),"
        " slice(syms, 2, greatest(size(syms) - 1, 1)), (x, y) -> named_struct('a', x, 'b', y))"
        " ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"
    )
    return (
        vocab.select(F.col("n"), F.expr(f"explode({pairs}) AS p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("cnt"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    counts: DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges; returns them in rank order.

    Each iteration: pair-count aggregate over the word table (weighted
    by word frequency), argmax with a lexicographic tie-break, then a
    narrow rewrite of the symbol arrays.  The table is locally
    checkpointed per round so plans stay flat across iterations.
    Stops early when no adjacent pair remains.
    """
    wc = counts if counts is not None else word_counts(df, text_col)
    vocab = wc.select(
        "n", _char_symbols("word").alias("syms")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = vocab.select(
            "n", _merge_expr("syms", a, b).alias("syms")
        ).localCheckpoint()
    return merges


def segment_words(
    words_df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "tokens",
    chunk: int = 8,
) -> DataFrame:
    """Apply learned merges (in rank order) to a word table →
    ``out_col`` array<string> of BPE tokens.  Merges nest as folds;
    local checkpoints every ``chunk`` merges keep the expression tree
    bounded.  Run on DISTINCT words and broadcast-join the result back
    to the corpus — application cost is vocabulary-sized."""
    out = words_df.withColumn(out_col, _char_symbols(word_col))
    for i, (a, b) in enumerate(merges):
        out = out.withColumn(out_col, _merge_expr(out_col, a, b))
        if (i + 1) % chunk == 0:
            out = out.localCheckpoint()
    return out


def bpe_token_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
    broadcast_vocab: bool = True,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document BPE token count under a learned merge list:
    segment the DISTINCT words once, join the (word → token count)
    map back, and sum over each document's words — the corpus is
    never re-segmented row by row.

    ``broadcast_vocab`` (default True) is right while the distinct-word
    table fits executor memory; at web-scale vocabularies set False —
    the join key is ``word``, the token stream shuffles on it once,
    and AQE still picks broadcast at runtime when the measured segment
    table allows.

    ``tf`` optionally passes the shared per-document term-frequency
    table (``(id_col, term, tf)`` — the :func:`~akvorado_spark.
    operators.text.term_stats` contract): the vocabulary and the
    per-document sum (``Σ tf·tokens(word)``, exactly the per-occurrence
    sum) then derive from that aggregated table instead of re-exploding
    the corpus."""
    if tf is not None:
        seg = segment_words(
            tf.select(F.col("term").alias("word")).distinct(), merges
        ).select("word", F.size("tokens").alias("__nt"))
        if broadcast_vocab:
            seg = F.broadcast(seg)
        return (
            tf.join(seg, F.col("term") == F.col("word"))
            .groupBy(id_col)
            .agg(F.sum(F.col("tf") * F.col("__nt")).alias("n_bpe_tokens"))
        )
    toks = df.select(F.col(id_col), F.expr(f"explode({WORDS_SQL.format(text_col)}) AS word"))
    seg = segment_words(toks.select("word").distinct(), merges).select(
        "word", F.size("tokens").alias("__nt")
    )
    if broadcast_vocab:
        seg = F.broadcast(seg)
    return (
        toks.join(seg, "word")
        .groupBy(id_col)
        .agg(F.sum("__nt").alias("n_bpe_tokens"))
    )
