"""Distributed logistic regression: gradient parity with the plain-
python twin, objective descent, separable-data sanity, and a realistic
quality-filter fit on text features."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_logistic_matches_python_reference(spark):
    from akvorado_spark.operators.classifier import (
        logistic_train,
        py_reference_train,
    )

    rng = random.Random(5)
    rows = []
    for i in range(400):
        x1 = rng.uniform(-2, 2)
        x2 = rng.uniform(0, 10)
        y = 1.0 if (1.5 * x1 - 0.4 * (x2 - 5) + rng.gauss(0, 0.7)) > 0 else 0.0
        rows.append((i, y, x1, x2))
    df = spark.createDataFrame(rows, "i long, y double, x1 double, x2 double")
    m = logistic_train(df, ["x1", "x2"], "y", iters=40, lr=0.5)
    ref = py_reference_train([(y, [a, b]) for _, y, a, b in rows], iters=40, lr=0.5)
    # distributed float-sum order vs python's sequential sum: tiny drift
    for a, b in zip(m.weights, ref):
        assert abs(a - b) < 1e-6, (m.weights, ref)


def test_logistic_descends_and_separates(spark):
    from akvorado_spark.operators.classifier import (
        log_loss,
        logistic_score,
        logistic_train,
    )

    rows = [(i, 1.0, 5.0 + (i % 7) * 0.1) for i in range(60)] + [
        (100 + i, 0.0, 1.0 + (i % 7) * 0.1) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "i long, y double, x double")
    m5 = logistic_train(df, ["x"], "y", iters=5, lr=0.5)
    m60 = logistic_train(df, ["x"], "y", iters=60, lr=0.5)
    assert log_loss(df, m60, "y") < log_loss(df, m5, "y") < 0.6932
    scored = logistic_score(df, m60)
    got = scored.select("y", (F.col("quality_p") > 0.5).alias("pred")).collect()
    acc = sum(1 for r in got if bool(r["pred"]) == (r["y"] == 1.0)) / len(got)
    assert acc == 1.0  # linearly separable


def test_quality_filter_fit_on_text_features(spark):
    """End-to-end: fit against the Gopher rule as a teacher label on
    real corpus features; the learned scorer must substantially agree
    with the teacher on held-out docs (it is a linear proxy, not a
    perfect reproduction)."""
    from akvorado_spark.operators.classifier import logistic_score, logistic_train
    from akvorado_spark.operators.text import (
        doc_lines,
        gopher_quality_pass,
        quality_metric_fractions,
        words,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    base = docs.withColumn("__ws", words("text")).withColumn("__ls", doc_lines("text"))
    fr = quality_metric_fractions("text", w="__ws", ls="__ls")

    def ratio(key):
        num, den = (F.expr(x) for x in fr[key])
        return num.cast("double") / F.greatest(den.cast("double"), F.lit(1.0))

    feats = base.select(
        "doc_id",
        F.size("__ws").cast("double").alias("f_words"),
        ratio("meanwlen").alias("f_wlen"),
        ratio("alpha").alias("f_alpha"),
        ratio("symratio").alias("f_sym"),
        ratio("bullet").alias("f_bullet"),
        gopher_quality_pass("text", fractions=fr).cast("double").alias("y"),
    )
    pos = feats.filter("y = 1.0").count()
    assert 0 < pos < feats.count()  # both classes present
    train = feats.filter("doc_id % 5 != 0")
    test = feats.filter("doc_id % 5 = 0")
    fcols = ["f_words", "f_wlen", "f_alpha", "f_sym", "f_bullet"]
    m = logistic_train(train, fcols, "y", iters=60, lr=1.0)
    got = logistic_score(test, m).select(
        "y", (F.col("quality_p") > 0.5).alias("pred")
    ).collect()
    acc = sum(1 for r in got if bool(r["pred"]) == (r["y"] == 1.0)) / len(got)
    base_rate = max(
        test.filter("y = 1.0").count(), test.filter("y = 0.0").count()
    ) / test.count()
    assert acc >= min(0.9, base_rate + 0.02), (acc, base_rate)


def test_decile_from_margin_matches_float_sigmoid(spark):
    """The integer decile bucket equals floor(10·σ(z/1e6)) away from
    the exact threshold integers, and ties go UP at them — checked over
    a sweep that includes every threshold ± 1 micro."""
    import math

    from akvorado_spark.operators.classifier import (
        MICRO,
        decile_from_margin,
        sigmoid_decile_thresholds,
    )
    from pyspark.sql import functions as F

    ths = sigmoid_decile_thresholds()
    zs = sorted(
        {t + d for t in ths for d in (-1, 0, 1)}
        | {-5 * MICRO, -123456, 0, 98765, 5 * MICRO}
    )
    df = spark.createDataFrame([(z,) for z in zs], "z long")
    got = {
        r["z"]: r["b"]
        for r in df.select("z", decile_from_margin(F.col("z")).alias("b")).collect()
    }
    for z in zs:
        if z in ths:
            assert got[z] == ths.index(z) + 1, z  # tie goes up
        else:
            p = 1.0 / (1.0 + math.exp(-z / MICRO))
            assert got[z] == min(int(p * 10), 9), (z, p, got[z])


def test_margin_micro_is_integer_exact(spark):
    """margin_micro is BIGINT arithmetic end-to-end — no doubles — and
    reproduces the python dot product exactly at large magnitudes."""
    from akvorado_spark.operators.classifier import margin_micro

    w = [500_000, 60_000, -12_000, 15_000]
    rows = [(99, 553, 80), (10, 48, 0), (1_000_000, 2_000_000, 3_000_000)]
    df = spark.createDataFrame(rows, "ntok long, nch long, ne long")
    out = df.select(margin_micro(w, ["ntok", "nch", "ne"]).alias("z"))
    assert dict(out.dtypes)["z"] == "bigint"
    got = [r["z"] for r in out.collect()]
    want = [w[0] + w[1] * a + w[2] * b + w[3] * c for a, b, c in rows]
    assert got == want
