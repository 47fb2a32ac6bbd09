"""Expression construction as Spark SQL text: folds and wide literals
are built as one ``F.expr`` over column names, so a build costs a
handful of py4j commands and the finished expression resolves by name
against whichever frame it is applied to.

Values are pinned against independent Python results, and the build
cost of each SQL-text builder is pinned by counting the py4j commands
it sends, proxy deletes excepted (fresh operands every time, so nothing
built earlier can be reused).
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from akvorado_spark.telemetry import py4j_commands

_FRESH = itertools.count()


def _fresh(prefix: str) -> str:
    return f"{prefix}_{next(_FRESH)}"


def test_dot_norm_values_resolve_by_name_on_any_frame(spark):
    from akvorado_spark.operators.similarity import dot, norm

    c1 = dot("x", "y")
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "x array<double>, y array<double>"
    )
    row = df.select(c1.alias("d"), norm("x").alias("n")).first()
    assert row["d"] == pytest.approx(11.0)
    assert row["n"] == pytest.approx(np.sqrt(5.0))
    # the SAME Column applied to a different frame with the same column
    # names resolves against THAT frame
    df2 = spark.createDataFrame(
        [([2.0, 0.0], [5.0, 7.0])], "x array<double>, y array<double>"
    )
    assert df2.select(c1.alias("d")).first()["d"] == pytest.approx(10.0)


def test_lsh_sketch_deterministic(spark):
    from akvorado_spark.operators.similarity import _hyperplanes, lsh_sketch

    planes = _hyperplanes(4, 6, seed=7)
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, -float(i), 0.5]) for i in range(8)],
        "id long, v array<double>",
    )
    a = [r["s"] for r in df.select("id", lsh_sketch("v", planes).alias("s")).orderBy("id").collect()]
    b = [r["s"] for r in df.select("id", lsh_sketch("v", planes).alias("s")).orderBy("id").collect()]
    assert a == b
    # and it is the sign-bit sketch of the planes, bit i = plane i
    want = [
        sum(1 << i for i, p in enumerate(planes) if float(np.dot(p, [x, 1.0, -x, 0.5])) > 0)
        for x in range(8)
    ]
    assert a == want


def test_pq_assignment_argmin(spark):
    from akvorado_spark.operators.pq import _assign_expr

    book = [[1, 2], [3, 4]]
    df = spark.createDataFrame([([1, 2],), ([3, 5],)], "sv array<int>")
    got = [r["c"] for r in df.select(_assign_expr("sv", book).alias("c")).collect()]
    assert got == [0, 1]  # argmin against the book, ties impossible here


def test_simhash_custom_hash_fn_takes_effect(spark):
    from akvorado_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    fp_xx = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    # identical docs agree, different docs (generically) differ
    assert fp_xx[1] == fp_xx[2]

    custom = lambda c: f"abs(xxhash64({c}, 99))"  # noqa: E731
    fp_c = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs, "text", "doc_id", hash_fn=custom).collect()
    }
    assert fp_c[1] == fp_c[2]
    assert fp_c != fp_xx  # the custom hash actually took effect


def test_doc_bigrams_key_fn_sets_the_keys(spark):
    from akvorado_spark.operators.lm import doc_bigrams
    from akvorado_spark.operators.text import portable_word_hash

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")

    def keys(key_fn):
        return sorted(
            (r["w1"], r["w2"])
            for r in doc_bigrams(df, "text", "doc_id", key_fn=key_fn).collect()
        )

    portable = keys(portable_word_hash)
    xx = keys(lambda c: f"xxhash64({c})")
    assert len(portable) == len(xx) == 2
    assert portable != xx


def _builds():
    from akvorado_spark.operators.bpe import _char_symbols, _merge_expr
    from akvorado_spark.operators.lm import _bigram_structs
    from akvorado_spark.operators.lpm import _probe_cond
    from akvorado_spark.operators.pq import _adc_table_expr, _assign_expr, _int_dot
    from akvorado_spark.operators.similarity import dot, norm
    from akvorado_spark.operators.text import fingerprint
    from akvorado_spark.query.line import _bucket_col

    k = next(_FRESH)
    book = [[k, k + 1], [k + 2, k + 3]]
    return {
        "dot": lambda: dot(_fresh("a"), _fresh("b")),
        "norm": lambda: norm(_fresh("a")),
        "_int_dot": lambda: _int_dot(_fresh("a"), _fresh("b")),
        "_assign_expr": lambda: _assign_expr(_fresh("sv"), book),
        "_adc_table_expr": lambda: _adc_table_expr(_fresh("qv"), book),
        "_merge_expr": lambda: _merge_expr(_fresh("syms"), f"a{k}", f"b{k}"),
        "_char_symbols": lambda: _char_symbols(_fresh("word")),
        "doc_bigrams_grams": lambda: _bigram_structs(_fresh("text"), lambda c: f"xxhash64({c})"),
        "fingerprint": lambda: fingerprint(_fresh("text")),
        "line._bucket_col": lambda: _bucket_col(_fresh("ts"), 60_000_000 + k),
        "lpm_probe_cond": lambda: _probe_cond(_fresh("SrcAddr"), 4, k, _fresh("exp")),
    }


@pytest.mark.parametrize("name", list(_builds()))
def test_sql_text_build_is_a_few_py4j_commands(spark, name):
    build = _builds()[name]
    with py4j_commands(spark) as n:
        build()
    assert n[0] <= 5, (name, n[0])
