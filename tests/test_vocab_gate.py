"""vocab_suite gate machinery (VERDICT r9 items 4–5): the DuckDB
replace-chain BPE replay must equal the Spark greedy-fold segmentation
on the adversarial adjacency cases, and the frozen literal merge list
must stay reproducible from the corpus it was trained on."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from akvorado_spark.operators.bpe import segment_words, train_bpe
from akvorado_spark.oracle.vocab_queries import BPE_MERGES, _wrap

from tests.conftest import SF_DIR

# the cases where a naive single-separator replace diverges from the
# greedy fold: repeated pairs sharing a boundary ('abab'), the pair
# appearing after its own first element ('aab'), self-merges ('aaaa')
TRAP_WORDS = ["abab", "aab", "abb", "aaaa", "xab", "ababab", "ba", "a", ""]
TRAP_MERGES = [("a", "b"), ("ab", "ab"), ("a", "a")]


def _duck_segment(words: list[str], merges) -> dict[str, list[str]]:
    seg = (
        "regexp_replace(word, '(.)', chr(30) || '\\1' || chr(31), 'g')"
        " || chr(30) || '</w>' || chr(31)"
    )
    for a, b in merges:
        seg = f"replace({seg}, {_wrap(a)} || {_wrap(b)}, {_wrap(a + b)})"
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT word, {seg} AS s FROM (SELECT UNNEST(?) AS word)", [words]
    ).fetchall()
    out = {}
    for w, s in rows:
        toks = [t.rstrip(chr(31)) for t in s.split(chr(30)) if t]
        out[w] = toks
    return out


def test_replace_chain_equals_greedy_fold_on_trap_cases(spark):
    df = spark.createDataFrame([(w,) for w in TRAP_WORDS], "word string")
    got = {
        r["word"]: list(r["tokens"])
        for r in segment_words(df, TRAP_MERGES).collect()
    }
    want = _duck_segment(TRAP_WORDS, TRAP_MERGES)
    assert got == want
    # the known single-separator failure mode really is exercised:
    # 'abab' merges BOTH (a,b) pairs, then the stacked (ab,ab) merge
    assert got["abab"] == ["abab", "</w>"]
    assert got["aaaa"] == ["aa", "aa", "</w>"]
    assert got["ababab"] == ["abab", "ab", "</w>"]
    assert got[""] == ["</w>"]  # sequence(1,0) descend-guard in _char_symbols


def test_frozen_merges_segment_real_vocab_identically(spark):
    """Every distinct corpus word segments the same under Spark fold
    and DuckDB replace chain with the FROZEN production merge list."""
    from akvorado_spark.sources.tables import load_table
    from akvorado_spark.operators.text import words as words_fn

    docs = load_table(spark, "documents", SF_DIR)
    vocab = (
        docs.select(F.explode(words_fn("text")).alias("word"))
        .distinct()
        .collect()
    )
    vocab_words = sorted(r["word"] for r in vocab)
    df = spark.createDataFrame([(w,) for w in vocab_words], "word string")
    got = {
        r["word"]: list(r["tokens"])
        for r in segment_words(df, list(BPE_MERGES)).collect()
    }
    want = _duck_segment(vocab_words, BPE_MERGES)
    assert got == want
    assert len(got) > 10


@pytest.mark.slow
def test_frozen_merges_match_fresh_training(spark):
    """BPE_MERGES was trained at sf0.001 and frozen; retraining on the
    same corpus must reproduce it exactly (deterministic tie-break)."""
    from akvorado_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    fresh = train_bpe(docs, "text", len(BPE_MERGES))
    assert tuple(fresh) == BPE_MERGES
