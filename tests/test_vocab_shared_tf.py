"""The shared term-frequency table contract (r14): term_stats,
bm25_scores and bpe_token_counts accept a precomputed
``(id, term, tf)`` table and must produce BIT-IDENTICAL rows to their
self-tokenizing paths — the vocab_suite derives all four members from
one corpus tokenize pass on this guarantee (the oracle hash gate would
catch a value drift, but this pins the invariant at the operator
boundary with a case that exercises repeats, empties, and ties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOCS = [
    (1, "hash join hash scan"),
    (2, "merge   column  hash\nhash hash"),
    (3, ""),
    (4, "solo"),
    (5, "join join join scan merge column hash"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def tf(docs):
    from akvorado_spark.operators.text import words

    return (
        docs.select("doc_id", F.explode(words("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_term_stats_tf_path_identical(docs, tf):
    from akvorado_spark.operators.text import term_stats

    base = _rows(term_stats(docs, "text", "doc_id"), "term")
    via_tf = _rows(term_stats(docs, "text", "doc_id", tf=tf), "term")
    assert via_tf == base
    schema_a = term_stats(docs, "text", "doc_id").schema
    schema_b = term_stats(docs, "text", "doc_id", tf=tf).schema
    assert schema_a == schema_b


def test_bm25_tf_path_identical(docs, tf):
    from akvorado_spark.operators.text import bm25_scores

    q = ["hash", "join", "absent"]
    base = _rows(bm25_scores(docs, "text", "doc_id", q), "doc_id")
    via_tf = _rows(bm25_scores(docs, "text", "doc_id", q, tf=tf), "doc_id")
    assert via_tf == base
    assert (
        bm25_scores(docs, "text", "doc_id", q).schema
        == bm25_scores(docs, "text", "doc_id", q, tf=tf).schema
    )


def test_bpe_token_counts_tf_path_identical(docs, tf):
    from akvorado_spark.operators.bpe import bpe_token_counts

    merges = [("h", "a"), ("ha", "s"), ("j", "o")]
    base = _rows(bpe_token_counts(docs, "text", "doc_id", merges), "doc_id")
    via_tf = _rows(
        bpe_token_counts(docs, "text", "doc_id", merges, tf=tf), "doc_id"
    )
    assert via_tf == base
    assert (
        bpe_token_counts(docs, "text", "doc_id", merges).schema
        == bpe_token_counts(docs, "text", "doc_id", merges, tf=tf).schema
    )
