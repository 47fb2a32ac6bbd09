"""Randomized cross-checks of exact-substring dedup against a pure-
Python reimplementation of the same anchored-window semantics —
coverage beyond the single-corpus oracle gate."""

from __future__ import annotations

import pytest

import hashlib
import random

W = 24
S = 5


def _anchors(text: str) -> list[int]:
    # winnowing b+f rule, matching operators.dedup._winnow_select
    n = len(text) - W + 1
    if n <= 0:
        return []
    hs = [
        sum(ord(text[i + o]) * m for o, m in ((0, 3), (1, 5), (2, 7), (3, 11)))
        for i in range(n)
    ]
    out = []
    for i in range(n):
        b = 0
        for o in range(1, S):
            if i - o < 0 or hs[i - o] >= hs[i]:
                b += 1
            else:
                break
        f = 0
        for o in range(1, S):
            if i + o > n - 1 or hs[i + o] > hs[i]:
                f += 1
            else:
                break
        if b + f >= S - 1:
            out.append(i)
    return out


def _py_substring_dedup(docs: dict[int, str]):
    occ = []  # (doc, start, window)
    for d, t in docs.items():
        for s in _anchors(t):
            occ.append((d, s, t[s : s + W]))
    owners: dict[str, int] = {}
    ndocs: dict[str, set] = {}
    for d, s, w in occ:
        owners[w] = min(owners.get(w, d), d)
        ndocs.setdefault(w, set()).add(d)
    per_doc: dict[int, set] = {}
    for d, s, w in occ:
        if len(ndocs[w]) >= 2 and d != owners[w]:
            per_doc.setdefault(d, set()).add(s)
    out = {}
    for d, starts in per_doc.items():
        ss = sorted(starts)
        spans = []
        lo, hi = ss[0], ss[0] + W
        for s in ss[1:]:
            if s - (hi - W) > W and s > hi:
                spans.append((lo, hi))
                lo, hi = s, s + W
            else:
                hi = max(hi, s + W)
        spans.append((lo, hi))
        t = docs[d]
        kept = []
        pos = 0
        for a, b in spans:
            kept.append(t[pos:a])
            pos = b
        kept.append(t[pos:])
        cleaned = "".join(kept)
        out[d] = (
            len(per_doc[d]),
            len(spans),
            sum(b - a for a, b in spans),
            cleaned,
        )
    return out


def _random_corpus(rng: random.Random, n_docs: int):
    alpha = "abcdefgh "
    snippets = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(30, 90)))
        for _ in range(4)
    ]
    docs = {}
    for d in range(n_docs):
        parts = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(snippets))
            else:
                parts.append(
                    "".join(rng.choice(alpha) for _ in range(rng.randint(5, 60)))
                )
        docs[d] = "".join(parts)
    return docs


def _substring_dedup_trials(spark, trials: int):
    from akvorado_spark.operators.dedup import exact_substring_dedup

    rng = random.Random(1234)
    for trial in range(trials):
        docs = _random_corpus(rng, n_docs=rng.randint(4, 10))
        df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
        got = {
            r["doc_id"]: (
                r["n_dup_windows"],
                r["n_spans"],
                r["chars_removed"],
                r["cleaned"],
            )
            for r in exact_substring_dedup(
                df, "text", "doc_id", window=W, stride=S
            ).collect()
        }
        want = _py_substring_dedup(docs)
        assert got == want, f"trial {trial}"


def test_exact_substring_dedup_one_random_corpus(spark):
    _substring_dedup_trials(spark, 1)


@pytest.mark.slow
def test_exact_substring_dedup_random_corpora(spark):
    _substring_dedup_trials(spark, 4)


def test_winnow_anchors_spark_vs_duckdb_random(spark):
    """Cross-ENGINE fuzz of the winnowing rule: the DuckDB occ-CTE
    replica (the exact SQL shape _ES_ORACLE uses: list_position-based
    first-failure folds) agrees with Spark's substring_window_
    occurrences on random and adversarial content — the oracle gate
    only ever sees the fixed corpus; this pins the rule itself."""
    import duckdb

    from akvorado_spark.operators.dedup import substring_window_occurrences

    W, S = 24, 7
    rng = random.Random(99)
    alpha = "abcdefgh XY.,!"
    texts = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 200)))
        for _ in range(25)
    ] + ["a" * 100, "ab" * 60, "".join(chr(33 + i % 90) for i in range(150))]
    rows = [(i, t) for i, t in enumerate(texts)]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i, _ in rows)
        + ") t(doc_id, text)",
        [t for _, t in rows],
    )
    sql = f"""
WITH dh AS (
  SELECT doc_id, text,
    list_transform(range(0, greatest(length(text) - {W} + 1, 0)), i ->
        ascii(substr(text, CAST(i AS INT) + 1, 1)) * 3
      + ascii(substr(text, CAST(i AS INT) + 2, 1)) * 5
      + ascii(substr(text, CAST(i AS INT) + 3, 1)) * 7
      + ascii(substr(text, CAST(i AS INT) + 4, 1)) * 11) AS hs
  FROM documents
),
pos AS (
  SELECT doc_id, text, hs, CAST(t.i AS INT) AS i
  FROM dh, unnest(range(0, len(hs))) AS t(i)
)
SELECT doc_id, i FROM (
    SELECT doc_id, i,
      list_position(list_transform(
        list_reverse(list_slice(hs, greatest(i - {S} + 2, 1), i)),
        x -> x < hs[i + 1]), true) AS pb,
      list_position(list_transform(
        list_slice(hs, i + 2, least(i + {S}, len(hs))),
        x -> x <= hs[i + 1]), true) AS pf
    FROM pos
)
WHERE (CASE WHEN pb = 0 THEN {S} - 1 ELSE pb - 1 END)
    + (CASE WHEN pf = 0 THEN {S} - 1 ELSE pf - 1 END)
    >= {S} - 1
ORDER BY doc_id, i
"""
    duck: dict[int, list[int]] = {i: [] for i, _ in rows}
    for doc_id, i in con.execute(sql).fetchall():
        duck[doc_id].append(i)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, list[int]] = {i: [] for i, _ in rows}
    for r in substring_window_occurrences(df, "text", "doc_id", W, S).collect():
        got[r["doc_id"]].append(r["s"])
    for i, t in rows:
        assert sorted(got[i]) == duck[i], (i, t[:40])


# words carrying SQL quoting hazards (quotes, backslash, backtick) and
# a non-ASCII letter: merge symbols reach the SQL text as literals
_QUOTING_VOCAB = ["it's", 'a"b', "c\\d", "`e", "café", "é'", "a'\\"]


def _bpe_trials(spark, trials: int, vocab: list[str], seed: int = 77):
    from akvorado_spark.operators.bpe import train_bpe
    from tests.test_pipeline_ops import _py_bpe

    rng = random.Random(seed)
    for trial in range(trials):
        rows = []
        words = {}
        for d in range(rng.randint(2, 5)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(3, 12))]
            for w in ws:
                words[w] = words.get(w, 0) + 1
            rows.append((d, " ".join(ws)))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        n = rng.randint(2, 8)
        assert train_bpe(df, "text", n) == _py_bpe(words, n)[0], f"trial {trial}"


_BPE_VOCAB = ["ab", "abc", "bca", "aabb", "cab", "bb", "a"]


def test_bpe_one_random_corpus_matches_reference(spark):
    _bpe_trials(spark, 1, _BPE_VOCAB)


def test_bpe_quoting_hazard_words_match_reference(spark):
    _bpe_trials(spark, 1, _QUOTING_VOCAB, seed=5)


@pytest.mark.slow
def test_bpe_random_corpora_match_reference(spark):
    _bpe_trials(spark, 3, _BPE_VOCAB)


def _py_line_dedup(docs: dict[int, str], min_docs: int, min_len: int, keep_owner: bool):
    from collections import defaultdict

    where = defaultdict(set)
    owner = {}
    for d, t in docs.items():
        for ln in t.split("\n"):
            where[ln].add(d)
            owner[ln] = min(owner.get(ln, d), d)
    out = {}
    for d, t in docs.items():
        kept, removed = [], 0
        for ln in t.split("\n"):
            dup = len(where[ln]) >= min_docs and len(ln) >= min_len
            if dup and keep_owner and d == owner[ln]:
                dup = False
            if dup:
                removed += 1
            else:
                kept.append(ln)
        out[d] = (t.count("\n") + 1, removed, "\n".join(kept))
    return out


def _line_dedup_trials(spark, trials: int):
    from akvorado_spark.operators.dedup import line_dedup

    rng = random.Random(4242)
    lines_pool = [
        "subscribe to our newsletter",
        "all rights reserved worldwide",
        "x",
        "",
        "some unique-ish filler {}",
        "another body line {}",
    ]
    for trial in range(trials):
        docs = {}
        for d in range(rng.randint(3, 8)):
            n = rng.randint(1, 8)
            ls = []
            for _ in range(n):
                t = rng.choice(lines_pool)
                ls.append(t.format(rng.randint(0, 3)) if "{}" in t else t)
            docs[d] = "\n".join(ls)
        df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
        for min_docs, keep_owner in ((2, False), (2, True), (3, False)):
            got = {
                r["doc_id"]: (r["n_lines"], r["n_removed"], r["cleaned"])
                for r in line_dedup(
                    df, "text", "doc_id", min_docs=min_docs,
                    min_len=2, keep_owner=keep_owner,
                ).collect()
            }
            want = _py_line_dedup(docs, min_docs, 2, keep_owner)
            assert got == want, (trial, min_docs, keep_owner)


def test_line_dedup_one_random_corpus(spark):
    _line_dedup_trials(spark, 1)


@pytest.mark.slow
def test_line_dedup_random_corpora(spark):
    _line_dedup_trials(spark, 3)


def _bigram_lm_trials(spark, trials: int, vocab: list[str], seed: int = 909):
    """Randomized corpora through the distributed LM: per-doc micro-nat
    scores equal a plain-python reference bit-for-bit (add-one
    smoothing, self-trained)."""
    import math

    from akvorado_spark.operators.lm import bigram_lm_scores

    rng = random.Random(seed)
    for trial in range(trials):
        rows = []
        for d in range(rng.randint(3, 7)):
            rows.append(
                (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
            )
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: (r["n_bigrams"], r["lp_micro"])
            for r in bigram_lm_scores(docs, "text", "doc_id").collect()
        }
        bigrams, contexts, succ = {}, {}, set()
        per_doc = {}
        for d, t in rows:
            ws = [w for w in t.lower().split() if w]
            bgs = list(zip(ws, ws[1:]))
            per_doc[d] = bgs
            for a, b in bgs:
                bigrams[(a, b)] = bigrams.get((a, b), 0) + 1
                contexts[a] = contexts.get(a, 0) + 1
                succ.add(b)
        v = len(succ)
        for d, bgs in per_doc.items():
            if not bgs:
                assert d not in got
                continue
            lp = sum(
                round(math.log((bigrams[bg] + 1.0) / (contexts[bg[0]] + v)) * 1e6)
                for bg in bgs
            )
            assert got[d] == (len(bgs), lp), (trial, d)


_LM_VOCAB = ["alpha", "beta", "gamma", "delta", "x1", "Y2", "z...", ""]


def test_bigram_lm_one_random_corpus_matches_python(spark):
    _bigram_lm_trials(spark, 1, _LM_VOCAB)


def test_bigram_lm_quoting_hazard_words_match_python(spark):
    _bigram_lm_trials(spark, 1, _QUOTING_VOCAB + ["Ñu", ""], seed=11)


@pytest.mark.slow
def test_bigram_lm_random_corpora_match_python(spark):
    _bigram_lm_trials(spark, 3, _LM_VOCAB)
