"""Text-analysis operators: token counting, quality scoring, language
identification, document fingerprinting.

All pure Spark SQL expressions over built-ins — these run per-document
in the 100 TB hot path, so no Python UDFs.  The token-array operators
take their ``text`` operand as SQL text (a column name such as
``"text"``) and build one ``F.expr`` each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import sql_literal

# Tiny embedded stopword lists (public, common knowledge) for the
# n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "que", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "von"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "una", "por", "con"],
}

PUNCT_CLASS = "[.,!?;:]"


# lower-cased whitespace tokens of a SQL operand, as SQL text
WORDS_SQL = "filter(split(lower({}), '\\\\s+'), w -> w != '')"


def words(text: str) -> Column:
    return F.expr(WORDS_SQL.format(text))


def token_count(text: str) -> Column:
    """Whitespace token count."""
    return F.expr(f"size({WORDS_SQL.format(text)})")


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish upper bound: runs of letters, runs of digits, and each
    punctuation/symbol char count as one token (the classic
    pre-tokenizer regex shape)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def punct_ratio(text: Column) -> Column:
    n = F.length(F.regexp_replace(text, f"[^{PUNCT_CLASS[1:-1]}]", ""))
    return n / F.greatest(F.length(text), F.lit(1))


def digit_ratio(text: Column) -> Column:
    n = F.length(F.regexp_replace(text, "[^0-9]", ""))
    return n / F.greatest(F.length(text), F.lit(1))


def _stopword_hits(text: str, lang: str) -> str:
    listed = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({WORDS_SQL.format(text)}, x -> x IN ({listed})))"


def stopword_hits(text: str, lang: str) -> Column:
    return F.expr(_stopword_hits(text, lang))


def quality_score(text: str) -> Column:
    """Composite quality heuristic in [0, 1]: long-enough docs with a
    healthy word length, some stopwords, and restrained punctuation /
    digits score high (the usual pretraining-filter shape)."""
    w = WORDS_SQL.format(text)
    mean_wlen = (
        f"CASE WHEN size({w}) > 0 THEN aggregate({w}, CAST(0 AS DOUBLE),"
        f" (acc, x) -> acc + length(x)) / size({w}) ELSE 0D END"
    )
    stop_ratio = f"CASE WHEN size({w}) > 0 THEN {_stopword_hits(text, 'en')} / size({w}) ELSE 0D END"
    chars = f"greatest(length({text}), 1)"
    punct = f"length(regexp_replace({text}, '[^{PUNCT_CLASS[1:-1]}]', '')) / {chars}"
    digit = f"length(regexp_replace({text}, '[^0-9]', '')) / {chars}"
    return F.expr(
        f"CAST(least(size({w}) / 100D, 1D) * 0.3D"
        f" + CASE WHEN ({mean_wlen}) >= 3 AND ({mean_wlen}) <= 10 THEN 0.3D ELSE 0D END"
        f" + least(({stop_ratio}) * 5D, 1D) * 0.2D"
        f" + CASE WHEN {punct} < 0.1D THEN 0.1D ELSE 0D END"
        f" + CASE WHEN {digit} < 0.2D THEN 0.1D ELSE 0D END AS DOUBLE)"
    )


_DOC_LINES_SQL = "filter(split({}, '\\\\n'), l -> trim(l) != '')"


def doc_lines(text: str) -> Column:
    """Non-blank lines of a document."""
    return F.expr(_DOC_LINES_SQL.format(text))


def quality_metric_fractions(
    text: str, w: str | None = None, ls: str | None = None
) -> dict[str, tuple[str, str]]:
    """(numerator, denominator) INTEGER SQL-text pairs for each Gopher
    repetition/shape metric.  Integer pairs are the exactness contract:
    ratios derive as num/den, and micro-precision gates use exact
    integer division (num·10⁶ div den) so no cross-engine double-ROUND
    boundary can flip a digit.

    ``w``/``ls``: optionally name pre-materialized token / line array
    columns — callers evaluating several metrics over the same text
    should split once into real columns instead of letting every
    metric's expression tree re-split (codegen CSE doesn't reliably
    merge the big higher-order trees; measured ~3× on the metric
    suite)."""
    w = w or WORDS_SQL.format(text)
    ls = ls or _DOC_LINES_SQL.format(text)
    nw, nl = f"size({w})", f"size({ls})"
    return {
        "repline": (f"{nl} - size(array_distinct({ls}))", nl),
        "symratio": (f"size(regexp_extract_all({text}, '#|\\\\.\\\\.\\\\.|…', 0))", nw),
        "bullet": (f"size(filter({ls}, l -> trim(l) RLIKE '^[-*\\\\u2022]'))", nl),
        "ellipsis": (f"size(filter({ls}, l -> trim(l) RLIKE '(\\\\.\\\\.\\\\.|…)$'))", nl),
        "meanwlen": (f"aggregate({w}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))", nw),
        "alpha": (f"size(filter({w}, x -> x RLIKE '[a-z]'))", nw),
    }


def _frac(pair: tuple[str, str]) -> str:
    num, den = pair
    return f"({num}) / greatest({den}, 1)"


def repeated_line_fraction(text: str) -> Column:
    """Fraction of lines that are duplicates of an earlier line — the
    Gopher repetition rule (boilerplate/listing pages repeat headers
    and nav lines; prose almost never repeats a full line)."""
    return F.expr(_frac(quality_metric_fractions(text)["repline"]))


def symbol_word_ratio(text: str) -> Column:
    """Gopher's symbol screen: '#', ellipses per word."""
    return F.expr(_frac(quality_metric_fractions(text)["symratio"]))


def bullet_line_fraction(text: str) -> Column:
    return F.expr(_frac(quality_metric_fractions(text)["bullet"]))


def ellipsis_line_fraction(text: str) -> Column:
    return F.expr(_frac(quality_metric_fractions(text)["ellipsis"]))


def mean_word_length(text: str) -> Column:
    return F.expr(_frac(quality_metric_fractions(text)["meanwlen"]))


def alpha_word_fraction(text: str) -> Column:
    """Fraction of words containing at least one alphabetic character
    (Gopher requires >= 80 %)."""
    return F.expr(_frac(quality_metric_fractions(text)["alpha"]))


def gopher_quality_pass(
    text: str,
    min_words: int = 50,
    max_words: int = 100_000,
    fractions: dict[str, tuple[str, str]] | None = None,
) -> Column:
    """The Gopher quality-filter conjunction (Rae et al. 2021, table A1,
    public paper) over pure built-in expressions: word-count window,
    mean word length 3-10, symbol-to-word < 0.1, bullet lines < 90 %,
    ellipsis lines < 30 %, >= 80 % alphabetic words, repeated lines
    < 30 %.  Returns BOOLEAN; at 100 TB this is a narrow projection
    evaluated in whole-stage codegen — no shuffle, no Python.

    ``fractions``: pass :func:`quality_metric_fractions` output built on
    pre-materialized token/line columns to avoid re-splitting the text
    per rule."""
    fr = fractions if fractions is not None else quality_metric_fractions(text)
    n = fr["meanwlen"][1]  # the word count every per-word metric divides by
    return F.expr(
        f"{n} >= {min_words} AND {n} <= {max_words}"
        f" AND {_frac(fr['meanwlen'])} >= 3 AND {_frac(fr['meanwlen'])} <= 10"
        f" AND {_frac(fr['symratio'])} < 0.1D AND {_frac(fr['bullet'])} < 0.9D"
        f" AND {_frac(fr['ellipsis'])} < 0.3D AND {_frac(fr['alpha'])} >= 0.8D"
        f" AND {_frac(fr['repline'])} < 0.3D"
    )


def lang_id(text: str) -> Column:
    """Stopword-vote language guess over the embedded lists; 'und' when
    no list scores a hit (earlier langs win ties)."""
    scores = {lang: _stopword_hits(text, lang) for lang in STOPWORDS}
    best = f"greatest({', '.join(scores.values())})"
    arms = " ".join(f"WHEN {best} > 0 AND {s} = {best} THEN '{lang}'" for lang, s in scores.items())
    return F.expr(f"CASE {arms} ELSE 'und' END")


FP_MOD = 100_000_000_000_000_003  # prime < 2^57: 31*acc + h stays < 2^63 (ANSI-safe)


def portable_word_hash(w: str) -> str:
    """56-bit word hash (SQL text) both Spark and DuckDB can compute
    bit-identically: first 14 hex digits of md5.  Used to oracle-certify
    the rolling fold; the production path keeps xxhash64 (JVM
    intrinsic, no hex round-trip)."""
    return f"CAST(conv(substring(md5(CAST({w} AS BINARY)), 1, 14), 16, 10) AS BIGINT)"


def fingerprint(text: str, word_hash=None) -> Column:
    """Order-sensitive rolling fingerprint: fold word hashes with
    acc = (31*acc + h) mod P.  Modular (not wrapping) arithmetic —
    Spark's ANSI mode rejects long overflow.  ``word_hash`` maps SQL
    operand text to SQL text (default xxhash64)."""
    wh = word_hash or (lambda c: f"xxhash64({c})")
    return F.expr(
        f"aggregate(transform({WORDS_SQL.format(text)}, w -> pmod({wh('w')}, {FP_MOD})),"
        f" CAST(0 AS BIGINT), (acc, h) -> pmod(acc * CAST(31 AS BIGINT) + h, {FP_MOD}))"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pretraining prep step (context-length packing upstream of
    tokenization).  Chunk i covers tokens [i*stride, i*stride+window);
    the final partial window is kept so no tail tokens are lost.

    Pure built-ins: the chunk index spine comes from ``sequence`` over
    the token count, ``slice`` + ``concat_ws`` rebuild each window —
    one narrow projection + explode, no shuffle at all; at 100 TB this
    pipelines straight from scan to sink.
    """
    w = WORDS_SQL.format(text_col)
    n_chunks = f"CAST(greatest(ceil((size({w}) - {window}) / {stride}) + 1, 1) AS INT)"
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1), i -> named_struct("
        "'chunk_ix', CAST(i AS INT),"
        f" 'chunk', concat_ws(' ', slice({w}, i * {stride} + 1, {window})),"
        f" 'n_tokens', CAST(least(size({w}) - i * {stride}, {window}) AS INT)))"
    )
    return df.select(F.col(id_col), F.expr(f"explode({chunks}) AS __c")).select(
        id_col, "__c.chunk_ix", "__c.chunk", "__c.n_tokens"
    )


def analyze(df: DataFrame, text_col: str) -> DataFrame:
    """Attach the full analysis column set."""
    t = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(text_col))
        .withColumn("n_bpe_tokens", bpe_ish_token_count(t))
        .withColumn("punct_ratio", punct_ratio(t))
        .withColumn("digit_ratio", digit_ratio(t))
        .withColumn("quality", quality_score(text_col))
        .withColumn("lang_guess", lang_id(text_col))
        .withColumn("fingerprint", fingerprint(text_col))
    )


# ---------------------------------------------------------------------------
# TF-IDF vocabulary + keyword extraction
# ---------------------------------------------------------------------------


def term_stats(
    df: DataFrame, text_col: str, id_col: str, tf: DataFrame | None = None
) -> DataFrame:
    """Corpus vocabulary with document frequency and smoothed IDF.

    Output: (term, doc_freq, idf) where
    ``idf = ln((N + 1) / (doc_freq + 1)) + 1`` (the sklearn-style
    smooth form; never zero or negative, new terms at serve time get
    the N-doc ceiling).

    Plan shape at 100 TB: one narrow tokenize/explode pass, a map-side
    pre-aggregated groupBy on the term (the only shuffle — term
    cardinality, not token volume, crosses the wire), and the corpus
    size N rides in as a broadcast 1-row frame, not a driver action —
    the whole thing stays lazy and composable.

    ``tf`` optionally passes the shared per-document term-frequency
    table — EXACTLY ``explode(words(text_col))`` grouped by
    ``(id_col, term)`` with a ``tf`` count column — so a caller running
    several vocabulary operators over one corpus tokenizes it once:
    doc_freq is then the per-term row count of that table (one row per
    (doc, term) pair = one containing document), identical values.
    """
    total = df.agg(F.count(F.lit(1)).alias("__N"))
    if tf is not None:
        docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    else:
        toks = df.select(
            F.col(id_col),
            F.expr(f"explode(array_distinct({WORDS_SQL.format(text_col)})) AS term"),
        )
        docfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    return docfreq.join(F.broadcast(total)).select(
        "term",
        "doc_freq",
        (
            F.log((F.col("__N") + F.lit(1.0)) / (F.col("doc_freq") + F.lit(1.0)))
            + F.lit(1.0)
        ).alias("idf"),
    )


def tfidf_topk_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    stats: DataFrame | None = None,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    Output: (id, term, tf BIGINT, weight DOUBLE, term_rank) with ties
    broken by the term text, so ranking is deterministic across
    engines and partitionings.  Pass a precomputed :func:`term_stats`
    frame to amortize the vocabulary across calls; the per-doc ranking
    window partitions by document id, so no single task sees more than
    one document's terms beyond the tf aggregate.

    ``broadcast_stats`` (default True) hints the idf side: right while
    the vocabulary fits executor memory (dictionary-scale corpora).
    At web scale — billions of distinct tokens — set False: the join
    key is ``term`` and the tf side is already term-keyed after its
    aggregate, so the shuffle join co-locates for free and AQE picks
    broadcast at runtime when the measured size allows it.
    """
    from pyspark.sql import Window

    if stats is None:
        stats = term_stats(df, text_col, id_col)
    tf = (
        df.select(F.col(id_col), F.expr(f"explode({WORDS_SQL.format(text_col)}) AS term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats_side = stats.select("term", "idf")
    if broadcast_stats:
        stats_side = F.broadcast(stats_side)
    weighted = tf.join(stats_side, "term").select(
        F.col(id_col),
        "term",
        "tf",
        (F.col("tf") * F.col("idf")).alias("weight"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("weight"), F.asc("term"))
    return (
        weighted.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 document scores for one query (Robertson–Walker BM25
    with the always-positive ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf
    — the Lucene variant), the standard lexical-retrieval scorer for a
    RAG corpus.

    Output: (id, matched_terms BIGINT, qtf BIGINT, bm25_micro BIGINT)
    for every document containing ≥1 query term — ``qtf`` (total
    query-term occurrences) rides along for free from the same hits
    aggregate, so a fusion consumer (:func:`rrf_fuse`) can rank on the
    uncalibrated lexical count without a second corpus scan.  Numeric
    discipline follows the
    perplexity precedent: each (doc, term) contribution is rounded to
    MICRO-units (``round(x·1e6)`` BIGINT) *before* the per-document
    sum, so the gated score is an order-independent integer with no
    float-summation-order hazard across engines or partitionings.

    Plan shape at 100 TB: tokens are filtered to the query terms
    INSIDE the array (``F.filter`` + ``array_contains``) before the
    explode, so the exploded stream carries only query-term hits — the
    (doc, term) aggregate shuffles hit volume, never token volume.
    Corpus scalars (N, total tokens) ride a broadcast 1-row frame
    (scalar-subquery pattern) and per-term document frequencies a
    broadcast |query|-row frame; the only corpus-sized shuffle is the
    final per-document sum over hits.

    ``tf`` optionally passes the shared per-document term-frequency
    table (same contract as :func:`term_stats`): hit counts, document
    lengths (``dl = Σ tf`` per doc) and corpus totals then derive from
    that aggregated table instead of re-tokenizing the corpus — the
    derived integers are identical, so the micro-rounded doubles are
    bit-identical.
    """
    if tf is not None:
        dl = tf.groupBy(id_col).agg(F.sum("tf").alias("__dl"))
        totals = df.agg(F.count(F.lit(1)).alias("__n_docs")).crossJoin(
            tf.agg(F.sum("tf").alias("__tot_toks"))
        )
        hits = (
            tf.filter(F.col("term").isin(list(query_terms)))
            .join(dl, id_col)
            .select(F.col(id_col).alias("__id"), "__dl", "term", "tf")
        )
    else:
        ws = WORDS_SQL.format(text_col)
        toks = df.select(
            F.col(id_col).alias("__id"), F.expr(f"{ws} AS __ws"), F.expr(f"size({ws}) AS __dl")
        )
        # corpus scalars: document count + total token count (avgdl = tot/N)
        totals = toks.agg(
            F.count(F.lit(1)).alias("__n_docs"),
            F.sum("__dl").alias("__tot_toks"),
        )
        qarr = sql_literal(list(query_terms))
        hits = (
            toks.select(
                "__id",
                "__dl",
                F.expr(f"explode(filter(__ws, w -> array_contains({qarr}, w))) AS term"),
            )
            .groupBy("__id", "__dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    docfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    joined = hits.join(F.broadcast(docfreq), "term").join(F.broadcast(totals))
    # the idf/tf-saturation expression — parenthesized EXACTLY as the
    # DuckDB oracle writes it, so both engines evaluate the same IEEE
    # double before the micro rounding
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * (F.col("__dl") * F.col("__n_docs") / F.col("__tot_toks"))
    )
    contrib = F.round(
        ((idf * (F.lit(k1 + 1.0) * F.col("tf"))) / denom) * F.lit(1e6), 0
    ).cast("long")
    return (
        joined.select("__id", "tf", contrib.alias("__c"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("matched_terms"),
            F.sum("tf").alias("qtf"),
            F.sum("__c").alias("bm25_micro"),
        )
        .withColumnRenamed("__id", id_col)
    )


def rrf_fuse(
    rankings: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    top: int = 100,
    k: int = 60,
) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack, Clarke & Buettcher 2009) of
    multiple rankings — the standard hybrid-retrieval combiner (e.g.
    lexical BM25 + dense ANN) because it needs no score calibration:
    each list contributes ``1/(k + rank)`` per document.

    ``rankings`` is a list of (frame, score_col) pairs; each frame is
    truncated to its ``top`` rows by (score DESC, id ASC) — determinism
    under ties — BEFORE ranks are assigned.  The truncation compiles to
    ``TakeOrderedAndProject`` (per-partition top-n + one n-sized
    merge), so no ranking ever global-sorts its corpus; the subsequent
    rank window runs on a bounded ``top``-row frame, which is why the
    single-partition window is NOT a scale hazard here (RRF is defined
    on top lists — fusing full corpora is meaningless and this shape
    forbids it by construction).

    Output: (id, n_sources, rrf_micro) where rrf_micro is the sum of
    ``round(1e6 / (k + rank))`` contributions — integers, so the fused
    ordering is engine/partitioning-independent (same discipline as
    ``bm25_scores``)."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if top <= 0 or k < 0:
        raise ValueError(f"rrf_fuse needs top >= 1 and k >= 0, got {top}/{k}")
    parts = []
    for df, score_col in rankings:
        capped = df.orderBy(F.desc(score_col), F.asc(id_col)).limit(top)
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        parts.append(
            capped.withColumn("__r", F.row_number().over(w)).select(
                F.col(id_col).alias("__id"),
                F.round(F.lit(1e6) / (F.lit(k) + F.col("__r")), 0)
                .cast("long")
                .alias("__c"),
            )
        )
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    return (
        fused.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("__c").alias("rrf_micro"),
        )
        .withColumnRenamed("__id", id_col)
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data redaction)
# ---------------------------------------------------------------------------

# Applied strictly in this order; each stage counts matches on the
# PREVIOUS stage's output, so counts and redactions compose the same
# way in any engine replaying the sequence.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def redact_pii_stages(text: Column) -> tuple[Column, dict[str, Column]]:
    """(redacted_text, {kind: match_count}) — emails, then IPv4
    addresses, then phone-shaped digit runs, each replaced with a typed
    placeholder token.  Pure regexp built-ins: at 100 TB this is a
    narrow codegen projection, no Python, no shuffle."""
    counts: dict[str, Column] = {}
    cur = text
    for kind, pat, token in PII_PATTERNS:
        counts[kind] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, token)
    return cur, counts


def redact_pii(text: Column) -> Column:
    return redact_pii_stages(text)[0]


# translate() maps: curly quotes → straight, en/em dash → '-',
# no-break space → ' '.  Kept as module constants so the DuckDB oracle
# builds its chr()-based twin from the SAME tables (no silent skew).
NORMALIZE_CHAR_FROM = "“”‘’–— "
NORMALIZE_CHAR_TO = "\"\"''-- "


def normalize_text(text: Column) -> Column:
    """Canonical text cleanup, the first stage of a pre-training
    pipeline (the C4/RefinedWeb-style normalization pass):

    1. CRLF / lone CR → LF
    2. strip control chars except TAB and LF
    3. curly quotes → straight, en/em dashes → '-', NBSP → space,
       unicode ellipsis → '...'
    4. collapse horizontal whitespace runs to one space
    5. drop spaces hugging newlines (trailing/leading per line)
    6. collapse 3+ blank-separated newlines to a paragraph break
    7. trim leading/trailing whitespace

    Pure regexp_replace/translate chain — a narrow codegen projection
    at any scale, no Python, no shuffle.  Every rule is engine-portable
    (same RE2/Java regex subset) and the whole chain is replayed by the
    DuckDB oracle in text_stats."""
    x = F.regexp_replace(text, "\\r\\n|\\r", "\n")
    x = F.regexp_replace(x, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    x = F.translate(x, NORMALIZE_CHAR_FROM, NORMALIZE_CHAR_TO)
    x = F.regexp_replace(x, "…", "...")
    x = F.regexp_replace(x, "[ \\t]+", " ")
    x = F.regexp_replace(x, " ?\\n ?", "\n")
    x = F.regexp_replace(x, "\\n{3,}", "\n\n")
    return F.regexp_replace(x, "^[\\n ]+|[\\n ]+$", "")


def duplicate_ngram_char_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Per-document duplicate word-n-gram character mass — the second
    Gopher repetition family (Rae et al. 2021 table A1: 'duplicate
    n-gram character fraction').

    Returns (id, dup_chars, total_chars) as exact integers: for every
    word n-gram occurrence, its string length counts toward
    ``total_chars``; occurrences of grams appearing more than once in
    the document count toward ``dup_chars``.  The fraction
    dup_chars/total_chars is the repetition signal (boilerplate and
    listicle spam repeat phrases; prose doesn't).

    Shape at scale: one explode (narrow) and one aggregation keyed by
    (document, gram) then (document) — partial aggregation absorbs the
    within-doc repetition before the exchange, and the keys are
    document-scoped so hot documents shard by gram first.  The tiny
    id-keyed repartition before the explode matters more than it looks:
    a single-row-group source would otherwise run the whole
    gram-expansion in ONE task (measured 6× on the docs corpus).
    """
    df = df.select(id_col, text_col).repartition(F.col(id_col))
    w = WORDS_SQL.format(text_col)
    # n-grams as a fold of zip_with over n shifted views of the token
    # array: 2 (n-1 zips) vectorized passes total.  The per-index
    # transform(sequence, i -> slice/element_at) alternatives re-walk
    # the array per gram — measured 7× slower on the docs corpus.
    m = f"greatest(size({w}) - {n - 1}, 1)"
    grams = f"slice({w}, 1, {m})"
    for j in range(1, n):
        grams = f"zip_with({grams}, slice({w}, {j + 1}, {m}), (a, b) -> concat_ws(' ', a, b))"
    # docs shorter than n words contribute their whole text as one gram
    grams = f"CASE WHEN size({w}) >= {n} THEN {grams} ELSE array(array_join({w}, ' ')) END"
    g = df.select(F.col(id_col), F.expr(f"explode({grams}) AS __g"))
    per_gram = g.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).alias("__c"), F.length(F.first("__g")).alias("__l")
    )
    return per_gram.groupBy(id_col).agg(
        F.sum(F.when(F.col("__c") > 1, F.col("__c") * F.col("__l")).otherwise(0))
        .cast("long")
        .alias("dup_chars"),
        F.sum(F.col("__c") * F.col("__l")).cast("long").alias("total_chars"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 3,
) -> DataFrame:
    """C4-style duplicated-span removal (Raffel et al. 2020, §2.2 —
    "three-sentence span" dedup, word-window form): the text is cut
    into TUMBLING ``span_words``-word windows (partial tail kept); any
    window text occurring more than once in the whole corpus is
    removed everywhere except its globally FIRST occurrence (ordered
    by (doc_id, window index)); survivors reassemble in order.

    Returns ``(id_col, <text_col>_dedup, n_spans, n_spans_kept)``;
    documents whose every window was removed keep a row with an empty
    string (the caller decides whether to drop them).

    Scale shape: windowing is a narrow projection + posexplode (no
    shuffle); the corpus-wide duplicate test is ONE shuffle keyed by
    window text with both the occurrence count and the first-occurrence
    rank computed in the same sort (no self-join); reassembly is one
    groupBy on the doc id.  The window key is the natural dedup key at
    100 TB — same cardinality class as exact-dedup's content hash.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.expr(f"{WORDS_SQL.format(text_col)} AS __ws"))
    spans = F.expr(
        "CASE WHEN size(__ws) > 0 THEN transform("
        f"sequence(0, CAST(ceil(size(__ws) / {span_words}) AS INT) - 1),"
        f" i -> array_join(slice(__ws, i * {span_words} + 1, {span_words}), ' '))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    wins = toks.select(
        id_col, F.posexplode_outer(spans).alias("__widx", "__w")
    )
    per_w = Window.partitionBy("__w")
    order_w = per_w.orderBy(F.col(id_col).asc(), F.col("__widx").asc())
    marked = wins.withColumn("__c", F.count(F.lit(1)).over(per_w)).withColumn(
        "__rn", F.row_number().over(order_w)
    )
    kept_flag = F.col("__w").isNotNull() & (
        (F.col("__c") == 1) | (F.col("__rn") == 1)
    )
    return (
        marked.withColumn("__keep", kept_flag)
        .groupBy(id_col)
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(CASE WHEN __keep THEN"
                " named_struct('x', __widx, 'w', __w) END)), s -> s.w), ' ')"
                f" AS `{text_col}_dedup`"
            ),
            F.sum(F.when(F.col("__w").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_spans"),
            F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("int").alias("n_spans_kept"),
        )
    )
