"""Randomized cross-implementation sweep for the text-quality metrics:
Spark's expression implementations vs a direct pure-Python reference,
over adversarial generated documents (newlines, bullets, ellipses,
symbols, unicode, repeated lines/phrases, empty/whitespace edge cases).

Catches regex- and fold-semantics divergences the fixed corpus can't —
the same posture as test_filter_cross_property / test_line_cross_property.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from akvorado_spark.operators.text import (
    duplicate_ngram_char_stats,
    gopher_quality_pass,
    quality_metric_fractions,
)

WORDS = ["the", "quick", "brown", "fox", "Data", "spark", "x1", "42", "###",
         "…", "naïve", "word", "---", "a"]
LINE_STARTS = ["", "- ", "* ", "• ", "   "]
LINE_ENDS = ["", "...", "…", ".", "!?"]


def _gen_doc(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(0, 8)):
        n = rng.randint(0, 12)
        body = " ".join(rng.choice(WORDS) for _ in range(n))
        lines.append(rng.choice(LINE_STARTS) + body + rng.choice(LINE_ENDS))
    if lines and rng.random() < 0.4:  # seed repeated lines
        lines += [rng.choice(lines)] * rng.randint(1, 3)
    return "\n".join(lines)


def _py_metrics(text: str) -> dict[str, tuple[int, int]]:
    ws = [w for w in re.split(r"\s+", text.lower()) if w != ""]
    ls = [l for l in text.split("\n") if l.strip() != ""]
    nw, nl = len(ws), len(ls)
    return {
        "repline": (nl - len(set(ls)), nl),
        "symratio": (len(re.findall(r"#|\.\.\.|…", text)), nw),
        "bullet": (sum(bool(re.search(r"^[-*•]", l.strip())) for l in ls), nl),
        "ellipsis": (sum(bool(re.search(r"(\.\.\.|…)$", l.strip())) for l in ls), nl),
        "meanwlen": (sum(len(w) for w in ws), nw),
        "alpha": (sum(bool(re.search(r"[a-z]", w)) for w in ws), nw),
    }


def _py_dup2(text: str) -> tuple[int, int]:
    ws = [w for w in re.split(r"\s+", text.lower()) if w != ""]
    grams = (
        [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        if len(ws) >= 2
        else [" ".join(ws)]
    )
    from collections import Counter

    c = Counter(grams)
    dup = sum(len(g) * k for g, k in c.items() if k > 1)
    tot = sum(len(g) * k for g, k in c.items())
    return dup, tot


def test_quality_metrics_match_python_reference(spark):
    rng = random.Random(20260814)
    docs = [(i, _gen_doc(rng)) for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fr = quality_metric_fractions("text")
    cols = [F.col("doc_id")]
    for k, (num, den) in fr.items():
        cols += [F.expr(num).alias(f"{k}_n"), F.expr(den).alias(f"{k}_d")]
    cols.append(gopher_quality_pass("text", fractions=fr).alias("pass"))
    got = {r["doc_id"]: r for r in df.select(*cols).collect()}
    n_checked = 0
    for i, text in docs:
        want = _py_metrics(text)
        for k, (wn, wd) in want.items():
            assert (got[i][f"{k}_n"], got[i][f"{k}_d"]) == (wn, wd), (
                k, repr(text), (got[i][f"{k}_n"], got[i][f"{k}_d"]), (wn, wd),
            )
            n_checked += 1
        # the pass conjunction, replayed in python on exact fractions
        def frac(p):
            return p[0] / max(p[1], 1)

        nwords = want["meanwlen"][1]
        want_pass = (
            50 <= nwords <= 100_000
            and 3 <= frac(want["meanwlen"]) <= 10
            and frac(want["symratio"]) < 0.1
            and frac(want["bullet"]) < 0.9
            and frac(want["ellipsis"]) < 0.3
            and frac(want["alpha"]) >= 0.8
            and frac(want["repline"]) < 0.3
        )
        assert got[i]["pass"] == want_pass, repr(text)
    assert n_checked >= 1800


def test_dup2gram_matches_python_reference(spark):
    rng = random.Random(7)
    docs = [(i, _gen_doc(rng)) for i in range(200)]
    # phrase-repetition docs the generator rarely makes on its own
    docs += [
        (1000, "spam phrase spam phrase spam phrase"),
        (1001, " ".join(["tok"] * 40)),
        (1002, ""),
        (1003, "one"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup_chars"], r["total_chars"])
        for r in duplicate_ngram_char_stats(df, "text", "doc_id", n=2).collect()
    }
    for i, text in docs:
        assert got[i] == _py_dup2(text), (i, repr(text), got[i], _py_dup2(text))


def test_mix_sources_matches_python_replay_random_rates(spark):
    """Random rate maps (incl. >1 up-sampling and 0): the kept
    (id, epoch) set matches an independent python md5 replay exactly."""
    import hashlib
    import math

    from akvorado_spark.operators.sampling import mix_sources

    rng = random.Random(99)
    rows = [(i, f"src{rng.randint(0, 5)}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for trial in range(3):
        rates = {f"src{j}": rng.choice([0.0, 0.2, 0.5, 1.0, 1.7, 3.25])
                 for j in range(4)}
        default = rng.choice([0.0, 0.1])
        got = {
            (r["doc_id"], r["epoch"])
            for r in mix_sources(df, rates, default_rate=default).collect()
        }

        def keep(i, src):
            r = rates.get(src, default)
            copies = int(math.floor(r))
            thr = int(round((r - copies) * 1_000_000))
            out = [(i, e) for e in range(copies)]
            h = int(hashlib.md5(f"{i}#{copies}".encode()).hexdigest()[:14], 16)
            if h % 1_000_000 < thr:
                out.append((i, copies))
            return out

        want = {p for i, src in rows for p in keep(i, src)}
        assert got == want, (trial, rates, len(got), len(want))
