"""Oracle-checked LLM-data-pipeline queries over the ``documents`` and
``embeddings`` tables: dedup, text analysis, similarity search.

SQL-expressible semantics get a full DuckDB oracle.  The xxhash64
sketch pipelines (minhash/simhash production path) are registered
without oracle SQL (driver rows-only check) and verified in pytest
against pure-Python reimplementations — AND each has a *certified*
twin (`*_certified`, `ann_lsh_topk`) that swaps in an engine-portable
hash or shared literal hyperplanes so DuckDB replays the entire
pipeline value-for-value.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.oracle.registry import register
from akvorado_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def _dedup_exact(spark, sf_dir):
    from akvorado_spark.operators.dedup import exact_dedup

    docs = load_table(spark, "documents", sf_dir, spread=True)
    groups = exact_dedup(docs, "text", "doc_id")
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("group_size") - 1).alias("n_duplicates"),
        F.sum("doc_id").alias("survivor_id_sum"),
        F.max("group_size").alias("max_group"),
    )


register(
    "dedup_exact_docs",
    _dedup_exact,
    """
SELECT COUNT(*) AS n_groups,
       CAST(SUM(sz - 1) AS BIGINT) AS n_duplicates,
       CAST(SUM(mn) AS BIGINT) AS survivor_id_sum,
       MAX(sz) AS max_group
FROM (SELECT MIN(doc_id) AS mn, COUNT(*) AS sz FROM documents GROUP BY text)
""",
)

# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (the LSH verification primitive)
# ---------------------------------------------------------------------------

_J_SAMPLE = "doc_id % 10 = 0"
_J_THRESHOLD = 0.30


def _jaccard_pairs(spark, sf_dir):
    from akvorado_spark.operators.dedup import corpus_grams, ngram_jaccard_pairs

    docs = load_table(spark, "documents", sf_dir, spread=True).filter(_J_SAMPLE)
    # grams feed both self-join sides and the size aggregate: one scan
    grams = corpus_grams(docs, "text", "doc_id").persist()
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", ngram=3, grams=grams)
    return (
        pairs.filter(F.round("jaccard", 6) >= _J_THRESHOLD)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("pair_id_sum"),
        )
    )


# DuckDB mirrors the relational identity on the same distinct word-3-grams.
_JACCARD_ORACLE = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE {_J_SAMPLE}),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM docs
),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN array_to_string(ws[i:i+2], ' ')
                ELSE array_to_string(ws, ' ') END AS g
    FROM toks, generate_series(1, 100000) t(i)
    WHERE i <= GREATEST(len(ws) - 2, 1)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT COUNT(*) AS n_pairs, CAST(SUM(id_a + id_b) AS BIGINT) AS pair_id_sum
FROM (
  SELECT id_a, id_b,
         ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
WHERE j >= {_J_THRESHOLD}
"""

# (the standalone dedup_ngram_jaccard slot was folded into
# dedup_pipeline_suite below — its machinery is the suite's `pair`
# member; _jaccard_pairs/_JACCARD_ORACLE stay importable for tests)

# ---------------------------------------------------------------------------
# dedup pipeline suite: pair scoring → transitive cluster resolution →
# eval-set decontamination → per-key capped sampling, each member
# individually hash-gated by its `variant` tag.  The DuckDB oracle
# replays the WHOLE pipeline, including the connected-components
# fixpoint (as a recursive CTE) and the portable md5 sampling order.
# ---------------------------------------------------------------------------

_DP_SAMPLE = "doc_id % 10 = 0"
_DP_THR = 0.30
_DP_MIN_OVERLAP = 3
_DP_PER_KEY = 3


def _dedup_pipeline_suite(spark, sf_dir, sample=_DP_SAMPLE, thr=_DP_THR,
                          min_overlap=_DP_MIN_OVERLAP, per_key=_DP_PER_KEY):
    """Members (schema: variant, id_a BIGINT, id_b BIGINT, val DOUBLE):

    - ``pair``       (id_a, id_b, jaccard): word-3-gram Jaccard ≥ 0.30
      over the corpus + two seeded perturbation families (alpha/beta
      tails on every 3rd doc → deliberate 3-cliques orig↔alpha↔beta).
    - ``component``  (doc_id, min-reachable id, cluster size): the
      pairs resolved transitively by :func:`connected_components`.
    - ``decontam``   (train_id, eval_id, shared grams): training docs
      flagged against a synthetic eval set derived from every 5th
      corpus doc (contamination = eval text present in training).
    - ``persample``  (doc_id, rank, 0.0): ≤ 3 docs per (lang, source)
      in portable-md5 order — the per-domain cap of a pretraining mix.
    """
    from akvorado_spark.operators.dedup import (
        connected_components,
        corpus_grams,
        decontaminate,
        ngram_jaccard_pairs,
    )
    from akvorado_spark.operators.sampling import sample_per_key

    docs = load_table(spark, "documents", sf_dir, spread=True)
    base = docs.filter(sample).select("doc_id", "text", "lang", "source")
    # perturbations via a per-row variant array + explode, NOT unionAll:
    # a 3-branch union would triple the mapper partition count (3 × the
    # spread width) and every downstream stage pays the task-scheduling
    # bill; the explode keeps one narrow pass over the spread partitions
    variants = ", ".join(
        ["named_struct('doc_id', doc_id, 'text', text)"]
        + [
            f"CASE WHEN doc_id % 30 = 0 THEN named_struct('doc_id', doc_id + {off},"
            f" 'text', concat(text, ' {tag} near duplicate tail')) END"
            for off, tag in ((40_000_000, "alpha"), (50_000_000, "beta"))
        ]
    )
    corpus = base.select(
        F.expr(f"explode(filter(array({variants}), x -> x IS NOT NULL)) AS __v")
    ).select("__v.doc_id", "__v.text")
    # one shingle pass feeds pair scoring AND the decontamination probe
    grams = corpus_grams(corpus, "text", "doc_id").persist()
    pairs = (
        ngram_jaccard_pairs(corpus, "text", "doc_id", grams=grams)
        .filter(F.round("jaccard", 6) >= thr)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("val"))
        .persist()
    )
    pair_rows = pairs.select(F.lit("pair").alias("variant"), "id_a", "id_b", "val")

    labels = connected_components(pairs)
    csizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("__nc"))
    comp_rows = labels.join(csizes, "comp").select(
        F.lit("component").alias("variant"),
        F.col("id").alias("id_a"),
        F.col("comp").alias("id_b"),
        F.col("__nc").cast("double").alias("val"),
    )

    eval_df = base.filter("doc_id % 50 = 0").select(
        (F.col("doc_id") + 60_000_000).alias("doc_id"),
        F.concat("text", F.lit(" shared eval fragment tail")).alias("text"),
    )
    base_grams = grams.filter("doc_id < 40000000")
    dec = decontaminate(
        base, eval_df, "text", "doc_id",
        min_overlap=min_overlap, train_grams=base_grams,
    )
    dec_rows = dec.select(
        F.lit("decontam").alias("variant"),
        F.col("train_id").alias("id_a"),
        F.col("eval_id").alias("id_b"),
        F.col("overlap").cast("double").alias("val"),
    )

    samp = sample_per_key(base, ("lang", "source"), per_key, "doc_id")
    samp_rows = samp.select(
        F.lit("persample").alias("variant"),
        F.col("doc_id").alias("id_a"),
        F.col("sample_rank").cast("long").alias("id_b"),
        F.lit(0.0).alias("val"),
    )

    return (
        pair_rows.unionByName(comp_rows)
        .unionByName(dec_rows)
        .unionByName(samp_rows)
        .orderBy("variant", "id_a", "id_b")
    )


def dp_oracle_sql(sample=_DP_SAMPLE, thr=_DP_THR, min_overlap=_DP_MIN_OVERLAP,
                  per_key=_DP_PER_KEY) -> str:
    """Parameterized DuckDB mirror of the whole dedup pipeline —
    shared by the registered suite and the randomized cross-engine
    sweep in tests/test_pipeline_ops.py."""
    return f"""
WITH RECURSIVE
base AS (SELECT doc_id, text, lang, source FROM documents WHERE {sample}),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 40000000, text || ' alpha near duplicate tail'
  FROM base WHERE doc_id % 30 = 0
  UNION ALL
  SELECT doc_id + 50000000, text || ' beta near duplicate tail'
  FROM base WHERE doc_id % 30 = 0
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN array_to_string(ws[i:i+2], ' ')
                ELSE array_to_string(ws, ' ') END AS g
    FROM toks, generate_series(1, 100000) t(i)
    WHERE i <= GREATEST(len(ws) - 2, 1)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b,
         ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {thr}
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
csizes AS (SELECT comp, COUNT(*) AS nc FROM comps GROUP BY comp),
eval_docs AS (
  SELECT doc_id + 60000000 AS doc_id, text || ' shared eval fragment tail' AS text
  FROM base WHERE doc_id % 50 = 0
),
etoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM eval_docs
),
egrams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN array_to_string(ws[i:i+2], ' ')
                ELSE array_to_string(ws, ' ') END AS g
    FROM etoks, generate_series(1, 100000) t(i)
    WHERE i <= GREATEST(len(ws) - 2, 1)
  )
),
decont AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS ov
  FROM (SELECT * FROM grams WHERE doc_id < 40000000) t
  JOIN egrams e ON t.g = e.g
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_overlap}
),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM base
)
SELECT 'pair' AS variant, id_a, id_b, j AS val FROM pairs
UNION ALL
SELECT 'component', c.id, c.comp, CAST(s.nc AS DOUBLE)
FROM comps c JOIN csizes s ON c.comp = s.comp
UNION ALL
SELECT 'decontam', train_id, eval_id, CAST(ov AS DOUBLE) FROM decont
UNION ALL
SELECT 'persample', doc_id, rk, 0.0 FROM ranked WHERE rk <= {per_key}
ORDER BY 1, 2, 3"""

register("dedup_pipeline_suite", _dedup_pipeline_suite, dp_oracle_sql())

# ---------------------------------------------------------------------------
# text analysis: token counts + quality components per lang/source
# ---------------------------------------------------------------------------


# exercises every normalize_text rule: CRLF + lone CR, control chars,
# curly quotes, en/em dashes, NBSP, unicode ellipsis, tab + space runs,
# spaces hugging newlines, 3+ blank lines, leading/trailing whitespace
_MESSY = (
    "  “Smart” — quotes’\r\n\tand weird   spacing…"
    "\x07\x01 \nline two \n\n\n\n– end  "
)


def _messy_sql() -> str:
    """The _MESSY constant as a DuckDB literal built with chr() for
    every non-printable/non-ascii char — generated from the SAME python
    constant the Spark side concatenates, so the twins cannot skew."""
    parts: list[str] = []
    buf = ""
    for ch in _MESSY:
        if 32 <= ord(ch) < 127 and ch != "'":
            buf += ch
        else:
            if buf:
                parts.append(f"'{buf}'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
    if buf:
        parts.append(f"'{buf}'")
    return " || ".join(parts)


def _norm_sql(e: str) -> str:
    """DuckDB twin of operators.text.normalize_text applied to SQL
    expression ``e`` — same rule order, same regexes, translate map
    built from the shared NORMALIZE_CHAR_FROM/TO constants."""
    from akvorado_spark.operators.text import (
        NORMALIZE_CHAR_FROM,
        NORMALIZE_CHAR_TO,
    )

    frm = " || ".join(f"chr({ord(c)})" for c in NORMALIZE_CHAR_FROM)
    to = " || ".join(f"chr({ord(c)})" for c in NORMALIZE_CHAR_TO)
    x = f"regexp_replace({e}, '\\r\\n|\\r', chr(10), 'g')"
    x = f"regexp_replace({x}, '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g')"
    x = f"translate({x}, {frm}, {to})"
    x = f"regexp_replace({x}, chr(8230), '...', 'g')"
    x = f"regexp_replace({x}, '[ \\t]+', ' ', 'g')"
    x = f"regexp_replace({x}, ' ?\\n ?', chr(10), 'g')"
    x = f"regexp_replace({x}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    return f"regexp_replace({x}, '^[\\n ]+|[\\n ]+$', '', 'g')"


def _text_stats(spark, sf_dir):
    """Corpus statistics + the Gopher quality-filter rules (Rae et al.
    2021 table A1 — public paper), verified per (lang, source) group.
    A 'degraded' twin set (repeated lines, bullets, ellipses, symbol
    noise) is seeded so every rule discriminates; the degraded docs
    land in their own source group."""
    from akvorado_spark.operators.text import (
        bpe_ish_token_count,
        duplicate_ngram_char_stats,
        gopher_quality_pass,
        normalize_text,
        punct_ratio,
        quality_metric_fractions,
        redact_pii_stages,
    )

    # no spread: the regex aggregate over 5k docs is cheaper than the
    # exchange of full text rows (measured)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "source", "text")
    degraded = docs.filter("doc_id % 4 = 0").select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.col("lang"),
        F.lit("degraded").alias("source"),
        F.concat_ws(
            "\n",
            F.col("text"), F.col("text"),
            F.lit("- bullet one"), F.lit("- bullet two"),
            F.lit("to be continued..."), F.lit("### # # #"),
            F.lit("contact bob.smith@example.com or 10.1.2.3 at +1 555-123-4567"),
            F.lit(_MESSY),
        ).alias("text"),
    )
    corpus = docs.unionByName(degraded)
    t = F.col("text")
    # split ONCE into real columns; every metric below reads these
    # instead of re-deriving the split per rule (measured ~3×)
    from akvorado_spark.operators.text import doc_lines, words

    corpus = (
        corpus.withColumn("__ws", words("text"))
        .withColumn("__ls", doc_lines("text"))
        .withColumn("__norm", normalize_text(t))
    )

    fr = quality_metric_fractions("text", w="__ws", ls="__ls")
    _pii = redact_pii_stages(t)

    def _punct_micro_sum(t):
        # exact integer micro-units, same contract as micro() below
        num = F.length(F.regexp_replace(t, r"[^.,!?;:]", "")).cast("long") * F.lit(
            1000000
        ).cast("long")
        d = F.greatest(F.length(t).cast("long"), F.lit(1).cast("long"))
        return F.sum(((num - num % d) / d).cast("long"))

    def micro(key):
        # exact integer micro-units: num·10⁶ div den (no double ROUND,
        # so no cross-engine half-ulp boundary)
        num, den = (F.expr(x) for x in fr[key])
        num6 = num.cast("long") * F.lit(1000000).cast("long")
        d = F.greatest(den.cast("long"), F.lit(1).cast("long"))
        return F.sum(((num6 - num6 % d) / d).cast("long"))

    # Gopher's duplicate-2-gram char fraction needs a keyed aggregation
    # (counts, not a projection): per-doc exact integers, micro'd with
    # the same integer division, aggregated to the group grain
    dup = duplicate_ngram_char_stats(corpus, "text", "doc_id", n=2)
    num6 = F.col("dup_chars") * F.lit(1000000).cast("long")
    dden = F.greatest(F.col("total_chars"), F.lit(1).cast("long"))
    dup6 = dup.select(
        "doc_id", (((num6 - num6 % dden) / dden).cast("long")).alias("__dup6")
    )
    dup_grp = (
        corpus.select("doc_id", "lang", "source")
        .join(dup6, "doc_id")
        .groupBy("lang", "source")
        .agg(F.sum("__dup6").alias("dup2_micro"))
    )

    main = (
        corpus.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.col("__ws"))).alias("n_tokens"),
            F.sum(bpe_ish_token_count(t)).alias("n_bpe_tokens"),
            F.sum(F.length(t)).alias("n_chars_sum"),
            _punct_micro_sum(t).alias("punct_micro"),
            F.sum(gopher_quality_pass("text", fractions=fr).cast("long")).alias(
                "n_gopher_pass"
            ),
            micro("repline").alias("repline_micro"),
            micro("symratio").alias("symratio_micro"),
            micro("bullet").alias("bullet_micro"),
            micro("ellipsis").alias("ellipsis_micro"),
            micro("meanwlen").alias("meanwlen_micro"),
            micro("alpha").alias("alpha_micro"),
            F.sum(_pii[1]["email"]).alias("n_emails"),
            F.sum(_pii[1]["ip"]).alias("n_ips"),
            F.sum(_pii[1]["phone"]).alias("n_phones"),
            F.sum(F.length(_pii[0])).alias("redacted_chars"),
            F.sum(F.length(F.col("__norm"))).alias("norm_chars_sum"),
            F.sum((F.col("__norm") != t).cast("long")).alias("n_norm_changed"),
        )
    )
    return main.join(dup_grp, ["lang", "source"]).orderBy("lang", "source")


_TEXT_ORACLE = """
WITH corpus AS (
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + 20000000, lang, 'degraded',
         text || chr(10) || text || chr(10) || '- bullet one' || chr(10) ||
         '- bullet two' || chr(10) || 'to be continued...' || chr(10) || '### # # #'
         || chr(10) || 'contact bob.smith@example.com or 10.1.2.3 at +1 555-123-4567'
         || chr(10) || __MESSY__
  FROM documents WHERE doc_id % 4 = 0
),
pii AS (
  SELECT doc_id, lang, source,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_em,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM corpus
),
pii2 AS (
  SELECT doc_id, lang, source, n_em,
         len(regexp_extract_all(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
         regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t2
  FROM pii
),
pii3 AS (
  SELECT doc_id, lang, source, n_em, n_ip,
         len(regexp_extract_all(t2, '\\+?\\d[\\d\\- ]{7,}\\d')) AS n_ph,
         length(regexp_replace(t2, '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g')) AS red_len
  FROM pii2
),
pii_agg AS (
  SELECT lang, source,
         CAST(SUM(n_em) AS BIGINT) AS n_emails, CAST(SUM(n_ip) AS BIGINT) AS n_ips,
         CAST(SUM(n_ph) AS BIGINT) AS n_phones, CAST(SUM(red_len) AS BIGINT) AS redacted_chars
  FROM pii3 GROUP BY lang, source
),
dtoks AS (
  SELECT doc_id, lang, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM corpus
),
dgrams AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(ws) >= 2 THEN array_to_string(ws[i:i+1], ' ')
              ELSE array_to_string(ws, ' ') END AS g
  FROM dtoks, generate_series(1, 100000) t(i)
  WHERE i <= GREATEST(len(ws) - 1, 1)
),
dcnt AS (
  SELECT doc_id, lang, source, g, COUNT(*) AS c, MAX(length(g)) AS l
  FROM dgrams GROUP BY doc_id, lang, source, g
),
ddoc AS (
  SELECT doc_id, lang, source,
         CAST(SUM(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS BIGINT) AS dup,
         CAST(SUM(c * l) AS BIGINT) AS tot
  FROM dcnt GROUP BY doc_id, lang, source
),
dagg AS (
  SELECT lang, source,
         CAST(SUM((dup * 1000000) // GREATEST(tot, 1)) AS BIGINT) AS dup2_micro
  FROM ddoc GROUP BY lang, source
),
feat AS (
  SELECT lang, source, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS ls,
         __NORM__ AS norm
  FROM corpus
),
m AS (
  SELECT lang, source, text, norm,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(GREATEST(len(ws), 1) AS BIGINT) AS dw,
         CAST(GREATEST(len(ls), 1) AS BIGINT) AS dl,
         CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_rep,
         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS n_sym,
         CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bul,
         CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS n_ell,
         CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS n_wchars,
         CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha
  FROM feat
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars_sum,
       CAST(SUM((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) * 1000000)
                // GREATEST(length(text), 1)) AS BIGINT) AS punct_micro,
       CAST(SUM(CASE WHEN n_words >= 50 AND n_words <= 100000
                      AND CAST(n_wchars AS DOUBLE) / dw >= 3 AND CAST(n_wchars AS DOUBLE) / dw <= 10
                      AND CAST(n_sym AS DOUBLE) / dw < 0.1
                      AND CAST(n_bul AS DOUBLE) / dl < 0.9
                      AND CAST(n_ell AS DOUBLE) / dl < 0.3
                      AND CAST(n_alpha AS DOUBLE) / dw >= 0.8
                      AND CAST(n_rep AS DOUBLE) / dl < 0.3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
       CAST(SUM((n_rep * 1000000) // dl) AS BIGINT) AS repline_micro,
       CAST(SUM((n_sym * 1000000) // dw) AS BIGINT) AS symratio_micro,
       CAST(SUM((n_bul * 1000000) // dl) AS BIGINT) AS bullet_micro,
       CAST(SUM((n_ell * 1000000) // dl) AS BIGINT) AS ellipsis_micro,
       CAST(SUM((n_wchars * 1000000) // dw) AS BIGINT) AS meanwlen_micro,
       CAST(SUM((n_alpha * 1000000) // dw) AS BIGINT) AS alpha_micro,
       ANY_VALUE(p.n_emails) AS n_emails,
       ANY_VALUE(p.n_ips) AS n_ips,
       ANY_VALUE(p.n_phones) AS n_phones,
       ANY_VALUE(p.redacted_chars) AS redacted_chars,
       ANY_VALUE(dg.dup2_micro) AS dup2_micro,
       CAST(SUM(length(norm)) AS BIGINT) AS norm_chars_sum,
       CAST(SUM(CASE WHEN norm != text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_norm_changed
FROM m JOIN pii_agg p USING (lang, source) JOIN dagg dg USING (lang, source)
GROUP BY lang, source ORDER BY lang, source
"""

_TEXT_ORACLE = _TEXT_ORACLE.replace("__MESSY__", _messy_sql()).replace(
    "__NORM__", _norm_sql("text")
)

register("text_stats", _text_stats, _TEXT_ORACLE)


# lang-id: stopword votes, checked end-to-end against declared labels
def _lang_id(spark, sf_dir):
    from akvorado_spark.operators.text import lang_id

    docs = load_table(spark, "documents", sf_dir, spread=True)
    return (
        docs.select("lang", lang_id("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guess")
    )


def _lang_oracle() -> str:
    from akvorado_spark.operators.text import STOPWORDS

    score_cols = []
    for lang, stops in STOPWORDS.items():
        terms = " + ".join(
            f"len(list_filter(ws, x -> x = '{s}'))" for s in stops
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    langs = list(STOPWORDS)
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    # earlier langs win ties (same as the Spark cascade)
    guess = "CASE WHEN " + " WHEN ".join(
        f"{best} > 0 AND s_{l} = {best} THEN '{l}'" for l in langs
    ).replace("WHEN", "WHEN", 1)
    guess = (
        "CASE "
        + " ".join(f"WHEN {best} > 0 AND s_{l} = {best} THEN '{l}'" for l in langs)
        + " ELSE 'und' END"
    )
    return f"""
WITH toks AS (
  SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM documents
),
scored AS (SELECT lang, {", ".join(score_cols)} FROM toks)
SELECT lang, {guess} AS guess, COUNT(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY lang, guess
"""


# registered below as a member of text_id_suite (fold, r10: the slot
# freed here pays for vocab_suite in vocab_queries.py)


# document fingerprint: the order-sensitive rolling fold, certified
# per-document on a doc_id sample.  The oracle run swaps xxhash64 for the
# engine-portable md5-prefix word hash so DuckDB folds the very same
# integers through the very same (31*acc + h) mod P recurrence — this
# gates the fold machinery (tokenize → hash → mod → left fold), which is
# hash-function-independent; production keeps xxhash64.
_FP_SAMPLE = "doc_id % 17 = 0"


def _text_fingerprint(spark, sf_dir):
    from akvorado_spark.operators.text import fingerprint, portable_word_hash

    docs = load_table(spark, "documents", sf_dir, spread=True).filter(_FP_SAMPLE)
    return docs.select(
        "doc_id", fingerprint("text", portable_word_hash).alias("fp")
    )


def _fingerprint_oracle() -> str:
    from akvorado_spark.operators.text import FP_MOD

    return f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(
        list_filter(string_split_regex(lower(text), '\\s+'), w -> w != ''),
        w -> ('0x' || substr(md5(w), 1, 14))::BIGINT % {FP_MOD})),
    (acc, h) -> (31 * acc + h) % {FP_MOD}) AS fp
FROM documents WHERE {_FP_SAMPLE}
"""


# lang-id + fingerprint fold into ONE gated suite (r10 — same budget
# discipline as ann_suite/lmdata_suite; both members stay individually
# hash-gated via the member tag, and the standalone fns above remain
# importable for tests and tools/check subsets)
def _text_id_suite(spark, sf_dir):
    lang = _lang_id(spark, sf_dir).select(
        F.lit("lang").alias("member"),
        F.col("lang").alias("s1"),
        F.col("guess").alias("s2"),
        F.lit(0).cast("long").alias("k1"),
        F.col("n").cast("long").alias("v1"),
    )
    fp = _text_fingerprint(spark, sf_dir).select(
        F.lit("fp").alias("member"),
        F.lit("").alias("s1"),
        F.lit("").alias("s2"),
        F.col("doc_id").cast("long").alias("k1"),
        F.col("fp").cast("long").alias("v1"),
    )
    return lang.unionByName(fp).orderBy("member", "s1", "s2", "k1")


def _text_id_suite_oracle() -> str:
    return f"""
SELECT 'lang' AS member, lang AS s1, guess AS s2, CAST(0 AS BIGINT) AS k1,
       CAST(n AS BIGINT) AS v1
FROM ({_lang_oracle()})
UNION ALL
SELECT 'fp', '', '', doc_id, fp
FROM ({_fingerprint_oracle()})
ORDER BY member, s1, s2, k1
"""


register("text_id_suite", _text_id_suite, _text_id_suite_oracle())

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _ann_bruteforce(spark, sf_dir, vecs=None):
    from akvorado_spark.operators.similarity import brute_force_topk

    if vecs is None:
        vecs = load_table(spark, "embeddings", sf_dir, spread=True)
    queries = (
        vecs.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    out = brute_force_topk(vecs.filter(F.col("vec_id") >= 3), queries, k=5)
    return out.select("q_id", "rank", "vec_id", "sim")


_ANN_ORACLE = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
scored AS (
  SELECT q.q_id, v.vec_id,
         ROUND(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))
               / NULLIF(sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))), 0), 6) AS sim
  FROM v CROSS JOIN q
)
SELECT q_id, rank, vec_id, sim FROM (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY q_id, rank
"""

# IVF ANN: with nprobe = every cell the probe degenerates to exact
# brute force, so the full IVF machinery (assignment, probe selection,
# in-cell ranking) is certified against the same SQL oracle; smaller
# nprobe (the production path) is covered by recall tests in pytest.
def _ann_ivf(spark, sf_dir, vecs=None):
    from akvorado_spark.operators.similarity import ivf_topk, seed_centroids

    if vecs is None:
        vecs = load_table(spark, "embeddings", sf_dir, spread=True)
    queries = (
        vecs.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    cents = seed_centroids(vecs, 4)
    out = ivf_topk(vecs.filter(F.col("vec_id") >= 3), queries, cents, k=5, nprobe=4)
    return out.select("q_id", "rank", "vec_id", "sim")


# embedding near-dup pairs: LSH-bucketed in Spark; DuckDB verifies the
# *result* (pairs above threshold found by exact all-pairs in the same
# sampled subset — recall must be exact because buckets only prune).
# Fixed-size certification caps: sf0.1 corpora sit well under them
# (400 vecs / ~667 docs), so driver gates stay full-corpus; at 100×
# (40k vecs / ~67k docs) the quadratic twins run on a constant-size
# deterministic sample instead of the whole corpus.
_EMBED_CERT_CAP = 2_000
_MH_CERT_CAP = 2_000


def _embed_neardup(spark, sf_dir):
    from akvorado_spark.operators.similarity import dot, norm

    # three fan-outs (pair scan, semdedup, semdedup2) share one
    # materialized narrow source (same pattern as the multi-axis suites).
    # The per-vector norm folds INTO the shared checkpoint: the pair
    # member and both semdedup variants each need norm(embedding), and
    # the fold is interpreted (no codegen) — materializing it once
    # replaces three full corpus fold passes with one (the variants
    # copy a double instead of re-folding the array; same expression →
    # bit-identical values, oracle unchanged)
    vecs = (
        load_table(spark, "embeddings", sf_dir, spread=True)
        .filter("vec_id % 5 = 0")
        .select(
            "vec_id", "embedding", norm("embedding").alias("__n")
        )
        .localCheckpoint(eager=False)
    )
    v = vecs
    # The all-pairs member is a CERTIFICATION gate, quadratic by
    # construction — at scale it runs on a fixed-size deterministic
    # sample (constant cost at any corpus size); at driver SFs the
    # corpus is under the cap so the sample IS the full corpus and the
    # DuckDB oracle is unchanged (VERDICT r11 #2).
    from akvorado_spark.operators.sampling import certification_sample

    # localCheckpoint: both self-join sides reuse ONE TakeOrdered pass
    # (cap-sized, so the checkpoint is at most 2,000 rows anywhere)
    cert = certification_sample(v, _EMBED_CERT_CAP, "vec_id").localCheckpoint(
        eager=False
    )
    a, b = cert.alias("a"), cert.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                dot("a.embedding", "b.embedding")
                / F.nullif(F.col("a.__n") * F.col("b.__n"), F.lit(0.0)),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.8)
    )
    bucketed = pairs.agg(
        F.lit("bucketed_pairs").alias("variant"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
    )
    # SemDeDup variant (operators/similarity.py:semdedup): cluster on
    # suggest_cells(N) deterministic seed centroids (corpus-scaled so
    # per-cell pair work stays flat), greedy-prefix drop at cos >= 0.4
    from akvorado_spark.operators.similarity import seed_centroids, semdedup

    # cluster count scales with the corpus (suggest_cells) so pair work
    # stays bounded; the one build-time count() is the same pattern as
    # graph_line_suite's bounds collect, and DuckDB mirrors the rule
    # with a scalar subquery
    from akvorado_spark.operators.similarity import suggest_cells

    k_cells = suggest_cells(vecs.count())
    cents = seed_centroids(vecs, k_cells)

    def sd_variants(prefix, **kw):
        # norm_col="__n": reuse the checkpointed per-vector norms —
        # the single- and two-level variants' assignments differ, the
        # norms do not (Not-yet-optimized #2 of the r13 first pass)
        sd = semdedup(vecs, cents, 0.4, norm_col="__n", **kw)
        return (
            sd.groupBy("kept")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("vec_id").alias("id_sum"),
            )
            .select(
                F.when(F.col("kept"), F.lit(f"{prefix}_kept"))
                .otherwise(F.lit(f"{prefix}_dropped"))
                .alias("variant"),
                "n",
                "id_sum",
            )
        )

    sd_rows = sd_variants("semdedup")
    # two-level coarse quantizer (√k supers broadcast → children via a
    # keyed join): the 100×-scale assignment path, hash-gated against a
    # DuckDB replay of both argmax stages
    sd2_rows = sd_variants("semdedup2", two_level=True)
    # int8 quantization gate: per-vector code sums pin every element's
    # round(x / (max|x|/127)) — the storage-side half of quantized ANN
    from akvorado_spark.operators.similarity import quantize_embeddings

    quant = (
        quantize_embeddings(vecs)
        .select(
            "vec_id",
            F.expr("aggregate(q_code, CAST(0 AS BIGINT), (a, c) -> a + CAST(c AS BIGINT)) AS __cs"),
        )
        .agg(
            F.lit("quant_codes").alias("variant"),
            F.count(F.lit(1)).alias("n"),
            F.sum("__cs").alias("id_sum"),
        )
    )
    return (
        bucketed.unionByName(sd_rows).unionByName(sd2_rows).unionByName(quant)
        .orderBy("variant")
    )


_NEARDUP_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 5 = 0),
-- replay of certification_sample: the all-pairs member runs on the
-- {_EMBED_CERT_CAP}-row md5-ordered sample on BOTH engines, so the gate
-- holds at every SF (identity whenever the corpus is under the cap)
certv AS (SELECT vec_id, e FROM v
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_EMBED_CERT_CAP}),
bucketed AS (
  SELECT 'bucketed_pairs' AS variant, COUNT(*) AS n, CAST(SUM(id_a + id_b) AS BIGINT) AS id_sum FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / NULLIF(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 6) AS sim
    FROM certv a JOIN certv b ON a.vec_id < b.vec_id
  ) WHERE sim >= 0.8
),
cents AS (SELECT c_id, cv FROM (
            SELECT row_number() OVER (ORDER BY vec_id) AS c_id, e AS cv FROM v)
          WHERE c_id <= GREATEST(4, CAST(CEIL((SELECT COUNT(*) FROM v) / 256.0) AS BIGINT))),
sims AS (SELECT v.vec_id, cents.c_id,
         ROUND(list_dot_product(v.e, cents.cv)
               / NULLIF(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cents.cv, cents.cv)), 0), 6) AS s
         FROM v CROSS JOIN cents),
assigned AS (SELECT vec_id, c_id AS cell, s AS csim FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c_id ASC) AS rn FROM sims) WHERE rn = 1),
drp AS (SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b ON a.cell = b.cell
        AND (b.csim > a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
        JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
        WHERE ROUND(list_dot_product(va.e, vb.e)
                    / NULLIF(sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e)), 0), 6) >= 0.4),
sd AS (SELECT a.vec_id, a.vec_id IN (SELECT vec_id FROM drp) AS is_dropped FROM assigned a),
sd_rows AS (
  SELECT CASE WHEN is_dropped THEN 'semdedup_dropped' ELSE 'semdedup_kept' END AS variant,
         COUNT(*) AS n, CAST(SUM(vec_id) AS BIGINT) AS id_sum
  FROM sd GROUP BY 1
),
-- two-level quantizer replay (operators/similarity.py:
-- split_centroids + assign_cells_two_level): supers = the
-- floor(sqrt(k)) lowest-id centroids (min 2); each centroid joins its
-- best super; each vector probes its best LIVE super, then arg-maxes
-- within that super's children.  All decision cosines rounded to 6.
supers AS (
  SELECT c_id AS s_id, cv AS sv FROM cents
  WHERE c_id <= (SELECT GREATEST(2, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM cents)),
children AS (
  SELECT c_id, cv, s_id AS sup FROM (
    SELECT c.c_id, c.cv, s.s_id,
           ROUND(list_dot_product(c.cv, s.sv)
                 / NULLIF(sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(s.sv, s.sv)), 0), 6) AS ss,
           row_number() OVER (PARTITION BY c.c_id ORDER BY ROUND(list_dot_product(c.cv, s.sv)
                 / NULLIF(sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(s.sv, s.sv)), 0), 6) DESC, s.s_id ASC) AS rn
    FROM cents c CROSS JOIN supers s) WHERE rn = 1),
probe AS (
  SELECT vec_id, e, s_id AS sup FROM (
    SELECT v.vec_id, v.e, s.s_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY ROUND(list_dot_product(v.e, s.sv)
                 / NULLIF(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(s.sv, s.sv)), 0), 6) DESC, s.s_id ASC) AS rn
    FROM v CROSS JOIN supers s
    WHERE s.s_id IN (SELECT DISTINCT sup FROM children)) WHERE rn = 1),
assigned2 AS (
  SELECT vec_id, c_id AS cell, cs AS csim FROM (
    SELECT p.vec_id, c.c_id,
           ROUND(list_dot_product(p.e, c.cv)
                 / NULLIF(sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.cv, c.cv)), 0), 6) AS cs,
           row_number() OVER (PARTITION BY p.vec_id ORDER BY ROUND(list_dot_product(p.e, c.cv)
                 / NULLIF(sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.cv, c.cv)), 0), 6) DESC, c.c_id ASC) AS rn
    FROM probe p JOIN children c ON c.sup = p.sup) WHERE rn = 1),
drp2 AS (SELECT DISTINCT a.vec_id FROM assigned2 a JOIN assigned2 b ON a.cell = b.cell
        AND (b.csim > a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
        JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
        WHERE ROUND(list_dot_product(va.e, vb.e)
                    / NULLIF(sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e)), 0), 6) >= 0.4),
sd2 AS (SELECT a.vec_id, a.vec_id IN (SELECT vec_id FROM drp2) AS is_dropped FROM assigned2 a),
sd2_rows AS (
  SELECT CASE WHEN is_dropped THEN 'semdedup2_dropped' ELSE 'semdedup2_kept' END AS variant,
         COUNT(*) AS n, CAST(SUM(vec_id) AS BIGINT) AS id_sum
  FROM sd2 GROUP BY 1
),
-- int8 quantization replay: scale = max|x|/127, code = round(x/scale)
quant AS (
  SELECT 'quant_codes' AS variant, COUNT(*) AS n,
         CAST(SUM(cs) AS BIGINT) AS id_sum
  FROM (
    SELECT vec_id,
           CASE WHEN s = 0 THEN 0
                ELSE (SELECT SUM(CAST(ROUND(u.x / q.s, 0) AS BIGINT))
                      FROM UNNEST(q.e) AS u(x)) END AS cs
    FROM (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) / 127.0 AS s
          FROM v) q
  )
)
SELECT * FROM bucketed UNION ALL SELECT * FROM sd_rows
UNION ALL SELECT * FROM sd2_rows UNION ALL SELECT * FROM quant ORDER BY variant
"""

register("embed_neardup_pairs", _embed_neardup, _NEARDUP_ORACLE)

# ---------------------------------------------------------------------------
# minhash-LSH near-dup + simhash on the PRODUCTION xxhash64 paths.
# Seeded xxhash64 isn't reproducible in DuckDB, so these are gated by
# GROUND-TRUTH EQUALITY instead of hash replay: DuckDB computes the true
# answer directly from the texts (all gram-sharing pairs above the
# threshold; identical-token-multiset pairs), hash-free, and the Spark
# side must produce exactly that set *through* the sketch pipeline.
# Equality certifies end-to-end recall AND precision of the xxhash64
# path; the *_certified twins additionally replay the full sketch
# arithmetic on a portable hash.
# ---------------------------------------------------------------------------


def _minhash_pipeline(spark, sf_dir, hash_fn=None, sample="doc_id % 5 = 0", spread=True,
                      max_bucket=1024, bands=8, thr=0.5, cert_cap=None):
    from akvorado_spark.operators.dedup import (
        corpus_grams,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        seeded_xxhash64,
    )

    # documents.parquet is a single row group: without the spread
    # exchange the whole shingle stage runs in ONE task (cold-session
    # measurement at sf0.1: 11.5s unspread vs 8.0s spread)
    docs = load_table(spark, "documents", sf_dir, spread=spread).filter(sample)
    if cert_cap is not None:
        # full-corpus certification twin: the uncapped-bucket replay is
        # quadratic in degenerate clusters, so above the cap it runs on
        # a fixed-size deterministic base sample (the perturbed twins
        # derive from the sampled base, so the seeded near-dups survive
        # sampling); at driver SFs the corpus is under the cap and the
        # sample is the identity — oracle unchanged (VERDICT r11 #2)
        from akvorado_spark.operators.sampling import certification_sample

        docs = certification_sample(docs, cert_cap, "doc_id")
    # The corpus has no natural near-dups: seed deterministic ones
    # (id + 10^7, text with a short suffix → Jaccard just under 1).
    perturbed = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing marker suffix")).alias("text"),
    ).filter("doc_id % 3 = 0")
    corpus = docs.select("doc_id", "text").unionAll(perturbed)
    fn = hash_fn or seeded_xxhash64
    # The shingle frame feeds the sketch AND both sides of the verify
    # join — materialize it once (spills to disk if it outgrows memory).
    grams = corpus_grams(corpus, "text", "doc_id").persist()
    sigs = minhash_signatures(corpus, "text", "doc_id", n_hashes=32, hash_fn=fn, grams=grams)
    # production path bounds degenerate-bucket pair blowup (a bucket of
    # m near-identical docs would emit m²/2 pairs); the certified twin
    # passes None because its DuckDB oracle mirrors the uncapped join
    cands = lsh_candidate_pairs(
        sigs, "doc_id", bands=bands, n_hashes=32, hash_fn=fn, max_bucket=max_bucket
    )
    verified = ngram_jaccard_pairs(corpus, "text", "doc_id", pairs=cands, grams=grams)
    return verified.filter(F.round("jaccard", 6) >= thr).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# Ground-truth corpus CTEs shared by the truth oracles: sampled docs +
# seeded near-dup twins (suffix-perturbed), word-trigram shingles —
# byte-identical construction to corpus_grams on the Spark side.
_TRUTH_CORPUS = """
docs0 AS (SELECT doc_id, text FROM documents WHERE {sample}),
pert AS (SELECT doc_id + 10000000 AS doc_id, text || ' trailing marker suffix' AS text
         FROM docs0 WHERE (doc_id + 10000000) % 3 = 0),
corpus AS (SELECT * FROM docs0 UNION ALL SELECT * FROM pert),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN array_to_string(ws[i:i+2], ' ')
                ELSE array_to_string(ws, ' ') END AS g
    FROM toks, generate_series(1, 100000) t(i)
    WHERE i <= GREATEST(len(ws) - 2, 1)
  )
)"""


def _minhash_truth_oracle(sample: str, thr: float) -> str:
    """The TRUE near-dup pair set, computed without any hashing: every
    pair of documents sharing at least one shingle, with exact word-
    trigram Jaccard, thresholded.  The registered Spark query must
    reproduce this set exactly *through* the xxhash64 MinHash+LSH
    pipeline — a recall+precision gate on the production sketch at this
    banding (16 bands × 2 rows: miss probability < 1e-10 at J ≥ thr)."""
    return f"""
WITH {_TRUTH_CORPUS.format(sample=sample)},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM grams x JOIN grams y ON y.g = x.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {thr}
ORDER BY id_a, id_b
"""


_MH_LSH_THR = 0.9  # above the 16x2 banding's certain-recall zone


def _minhash_lsh_gated(spark, sf_dir):
    return _minhash_pipeline(spark, sf_dir, bands=16, thr=_MH_LSH_THR)


register(
    "dedup_minhash_lsh",
    _minhash_lsh_gated,
    _minhash_truth_oracle("doc_id % 5 = 0", _MH_LSH_THR),
)


_MH_CERT_SAMPLE = "doc_id % 10 = 0"  # half the demo corpus: oracle rigor, half the cost


def _minhash_certified(spark, sf_dir):
    from akvorado_spark.operators.dedup import portable_seeded_hash

    return _minhash_pipeline(
        spark, sf_dir, hash_fn=portable_seeded_hash, sample=_MH_CERT_SAMPLE, spread=True,
        max_bucket=None,  # exact: the DuckDB oracle mirrors the uncapped join
        cert_cap=_MH_CERT_CAP,
    )


def _minhash_oracle(n: int = 32, bands: int = 8, thr: float = 0.5, sample: str = "doc_id % 5 = 0",
                    cap: int | None = None) -> str:
    """DuckDB mirror of the ENTIRE sketch pipeline — grams → one base
    hash + n affine-mix minima → band buckets → in-bucket candidate
    pairs → exact Jaccard — replaying the portable md5-prefix base hash
    and the exact ``mix_constants`` integer maps, so candidate
    generation itself (not just the verification) is value-checked.

    ``cap`` mirrors the Spark side's ``certification_sample`` (md5-order
    LIMIT on the base docs, BEFORE the perturbed twins are derived), so
    the gate stays valid at any SF — at driver SFs the corpus is under
    the cap and the LIMIT is the identity."""
    from akvorado_spark.operators.dedup import MIX_MOD, _MIX_MASK28, mix_constants

    rpb = n // bands
    mins = ",\n       ".join(
        "MIN(((bh >> 28) * {a1} + (bh & {m}) * {a2} + {b}) % {mod}) AS m{i}".format(
            a1=mix_constants(i)[0],
            a2=mix_constants(i)[1],
            b=mix_constants(i)[2],
            m=_MIX_MASK28,
            mod=MIX_MOD,
            i=i,
        )
        for i in range(n)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, ('0x' || substr(md5('{b}|' || concat_ws(','"
        + "".join(f", m{b * rpb + r}" for r in range(rpb))
        + ")), 1, 14))::BIGINT AS bucket FROM sig"
        for b in range(bands)
    )
    capped = (
        f" ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {cap}"
        if cap is not None
        else ""
    )
    return f"""
WITH docs0 AS (SELECT doc_id, text FROM documents WHERE {sample}{capped}),
pert AS (SELECT doc_id + 10000000 AS doc_id, text || ' trailing marker suffix' AS text
         FROM docs0 WHERE (doc_id + 10000000) % 3 = 0),
corpus AS (SELECT * FROM docs0 UNION ALL SELECT * FROM pert),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN array_to_string(ws[i:i+2], ' ')
                ELSE array_to_string(ws, ' ') END AS g
    FROM toks, generate_series(1, 100000) t(i)
    WHERE i <= GREATEST(len(ws) - 2, 1)
  )
),
based AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 14))::BIGINT AS bh FROM grams),
sig AS (SELECT doc_id, {mins}
        FROM based GROUP BY doc_id),
banded AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT id_a, id_b, COUNT(*) AS i
  FROM cand
  JOIN grams x ON x.doc_id = id_a
  JOIN grams y ON y.doc_id = id_b AND y.g = x.g
  GROUP BY 1, 2
)
SELECT id_a, id_b, j AS jaccard
FROM (
  SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
WHERE j >= {thr}
ORDER BY id_a, id_b
"""


register(
    "dedup_minhash_certified",
    _minhash_certified,
    _minhash_oracle(sample=_MH_CERT_SAMPLE, cap=_MH_CERT_CAP),
)


def _simhash_collisions(spark, sf_dir):
    """The production 64-bit xxhash64 SimHash, gated by its algebraic
    invariant: the fingerprint is a token-multiset function (lowercase
    fold, order-free vote sum), so a twin with the SAME tokens permuted
    and case-mangled must collide exactly — under ANY word hash — while
    64-bit fingerprints keep unrelated docs apart.  Seed such twins
    (reversed token order, uppercased, id + 10^7), fingerprint the
    whole corpus with the real xxhash64 path, and emit every colliding
    pair.  DuckDB states the ground truth hash-free: pairs of documents
    whose sorted lowercased token multisets are identical."""
    from akvorado_spark.operators.dedup import simhash

    docs = load_table(spark, "documents", sf_dir, spread=True).filter("doc_id % 7 = 0")
    twins = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.upper(F.col("text")), r"\s+")), " ").alias(
            "text"
        ),
    ).filter("doc_id % 3 = 0")
    from akvorado_spark.operators.dedup import _bucket_pairs

    corpus = docs.select("doc_id", "text").unionAll(twins)
    fps = simhash(corpus, "text", "doc_id")
    # collision pairs via ONE aggregation over one fingerprint pass
    # (a fp self-join would re-derive the 64-vote aggregate per side)
    buckets = (
        fps.groupBy("simhash")
        .agg(F.collect_set("doc_id").alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    return _bucket_pairs(buckets, None).orderBy("id_a", "id_b")


_SIMHASH_TRUTH = """
WITH docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
twins AS (
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(list_reverse(string_split_regex(upper(text), '\\s+')), ' ') AS text
  FROM docs0 WHERE (doc_id + 10000000) % 3 = 0),
corpus AS (SELECT * FROM docs0 UNION ALL SELECT * FROM twins),
norm AS (
  SELECT doc_id,
         array_to_string(
           list_sort(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')),
           ' ') AS key
  FROM corpus)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM norm a JOIN norm b ON a.key = b.key AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


register("dedup_simhash", _simhash_collisions, _SIMHASH_TRUTH)


_SH_SAMPLE = "doc_id % 7 = 0"
_SH_BITS = 56  # portable hash is 56-bit, so the certified fingerprint is too


def _simhash_certified(spark, sf_dir):
    from akvorado_spark.operators.dedup import simhash
    from akvorado_spark.operators.text import portable_word_hash

    docs = load_table(spark, "documents", sf_dir, spread=True).filter(_SH_SAMPLE)
    return simhash(docs, "text", "doc_id", bits=_SH_BITS, hash_fn=portable_word_hash).orderBy(
        "doc_id"
    )


def _simhash_oracle(bits: int = _SH_BITS) -> str:
    """DuckDB mirror of the full SimHash fold: per-word portable hash →
    per-bit ±1 votes → positive-vote bit reassembly, per document."""
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)" for i in range(bits))
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE {_SH_SAMPLE}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS w
  FROM docs
),
hashed AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 14))::BIGINT AS h FROM toks),
votes AS (SELECT doc_id, {votes}
          FROM hashed GROUP BY doc_id)
SELECT doc_id, {fp} AS simhash
FROM votes ORDER BY doc_id
"""


register("dedup_simhash_certified", _simhash_certified, _simhash_oracle())


# LSH ANN: the sign-sketch bucketing itself is certified by sharing the
# SAME literal hyperplanes with DuckDB — both engines compute the
# 6-bit sketch from identical double literals, join on full-bucket
# equality, and exact-cosine re-rank inside the bucket.  (Sketch signs
# depend on dot products ~O(1); fold-order float noise ~1e-13 cannot
# flip them.)  Production tunes n_planes higher; recall under pruning
# is covered in pytest.
_LSH_PLANES = 6
_LSH_K = 5


def _lsh_planes():
    from akvorado_spark.operators.similarity import _hyperplanes

    return _hyperplanes(64, _LSH_PLANES, seed=42)


def _ann_lsh(spark, sf_dir, vecs=None):
    from akvorado_spark.operators.similarity import lsh_topk

    if vecs is None:
        vecs = load_table(spark, "embeddings", sf_dir, spread=True)
    queries = (
        vecs.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return lsh_topk(
        vecs.filter(F.col("vec_id") >= 3),
        queries,
        k=_LSH_K,
        dim=64,
        n_planes=_LSH_PLANES,
    ).select("q_id", "rank", "vec_id", "sim")


def _ann_lsh_oracle() -> str:
    planes = _lsh_planes()

    def sketch(col: str) -> str:
        terms = []
        for i, plane in enumerate(planes):
            lits = ", ".join(repr(float(x)) for x in plane)
            terms.append(
                f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), [{lits}]) > 0 "
                f"THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
            )
        return " + ".join(terms)

    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec, {sketch('embedding')} AS sk
  FROM embeddings WHERE vec_id < 3
),
v AS (
  SELECT vec_id, embedding, {sketch('embedding')} AS sk
  FROM embeddings WHERE vec_id >= 3
),
scored AS (
  SELECT q.q_id, v.vec_id,
         ROUND(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))
               / NULLIF(sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))), 0), 6) AS sim
  FROM v JOIN q ON v.sk = q.sk
)
SELECT q_id, rank, vec_id, sim FROM (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {_LSH_K} ORDER BY q_id, rank
"""


def _ann_suite(spark, sf_dir):
    """Three ANN strategies over ONE shared narrow source, each member
    individually hash-gated by its ``variant`` tag:

    - ``bf``  exact brute-force cosine top-k (the recall ceiling),
    - ``ivf`` IVF with nprobe = all cells (degenerates to exact, which
      certifies assignment + probe selection + in-cell ranking),
    - ``lsh`` hyperplane-bucketed search re-ranked by exact cosine
      inside the bucket (identical literal planes in both engines).

    Folded from three standalone registry entries in r9 to free driver
    query-budget slots; the per-member plans are unchanged."""
    vecs = load_table(spark, "embeddings", sf_dir, spread=True)
    members = (
        ("bf", _ann_bruteforce),
        ("ivf", _ann_ivf),
        ("lsh", _ann_lsh),
    )
    out = None
    for tag, fn in members:
        part = fn(spark, sf_dir, vecs=vecs).select(
            F.lit(tag).alias("variant"), "q_id", "rank", "vec_id", "sim"
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("variant", "q_id", "rank")


def _ann_suite_oracle() -> str:
    def tag(sql: str, t: str) -> str:
        # each member oracle ends "SELECT q_id, rank, vec_id, sim FROM
        # (...) WHERE ... ORDER BY ..." — wrap it, drop the inner sort
        body = sql.rsplit("ORDER BY", 1)[0]
        return f"SELECT '{t}' AS variant, * FROM ({body})"

    return (
        tag(_ANN_ORACLE, "bf")
        + " UNION ALL "
        + tag(_ANN_ORACLE, "ivf")
        + " UNION ALL "
        + tag(_ann_lsh_oracle(), "lsh")
        + " ORDER BY variant, q_id, rank"
    )


register("ann_suite", _ann_suite, _ann_suite_oracle())


# Document chunking: overlapping token windows (pretraining prep).
# Value-checked per chunk via the portable hash of the rebuilt window
# text — window arithmetic, slicing, and tail handling must all agree.
_CHUNK_SAMPLE = "doc_id % 13 = 0"
_CHUNK_W, _CHUNK_S = 50, 40


def _doc_chunks(spark, sf_dir):
    from akvorado_spark.operators.text import (
        chunk_documents,
        portable_word_hash,
        remove_duplicate_spans,
    )

    docs = load_table(spark, "documents", sf_dir, spread=True).filter(_CHUNK_SAMPLE)
    out = chunk_documents(docs, "text", "doc_id", window=_CHUNK_W, stride=_CHUNK_S)
    chunks = out.select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        "chunk_ix",
        F.expr(f"{portable_word_hash('chunk')} AS chunk_hash"),
        "n_tokens",
    )
    # C4 duplicated-span removal variant: one row per doc — chunk_ix
    # carries the total span count, n_tokens the kept span count, and
    # chunk_hash the portable hash of the REWRITTEN text, so window
    # arithmetic, global first-occurrence choice and reassembly order
    # are all value-gated
    sd = remove_duplicate_spans(docs, "text", "doc_id", span_words=3)
    spans = sd.select(
        F.lit("span").alias("variant"),
        "doc_id",
        F.col("n_spans").alias("chunk_ix"),
        F.expr(f"{portable_word_hash('text_dedup')} AS chunk_hash"),
        F.col("n_spans_kept").alias("n_tokens"),
    )
    return chunks.unionByName(spans).orderBy("variant", "doc_id", "chunk_ix")


def _chunks_oracle() -> str:
    w, s = _CHUNK_W, _CHUNK_S
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
  FROM documents WHERE {_CHUNK_SAMPLE}
),
meta AS (
  SELECT doc_id, ws, len(ws) AS n,
         GREATEST(CAST(CEIL(CAST(len(ws) - {w} AS DOUBLE) / {s}) AS INT) + 1, 1) AS k
  FROM toks
),
chunk_rows AS (
  SELECT 'chunk' AS variant, doc_id, CAST(i AS INT) AS chunk_ix,
         ('0x' || substr(md5(array_to_string(ws[i*{s}+1 : i*{s}+{w}], ' ')), 1, 14))::BIGINT AS chunk_hash,
         CAST(LEAST(n - i*{s}, {w}) AS INT) AS n_tokens
  FROM meta, generate_series(0, 100000) t(i)
  WHERE i < k
),
sp_wins AS (
  SELECT doc_id, i AS widx, array_to_string(ws[i*3+1 : i*3+3], ' ') AS w
  FROM toks, generate_series(0, 100000) t(i) WHERE i*3 < len(ws)
),
sp_marked AS (
  SELECT *, COUNT(*) OVER (PARTITION BY w) AS c,
         row_number() OVER (PARTITION BY w ORDER BY doc_id, widx) AS rn
  FROM sp_wins
),
sp_rows AS (
  SELECT 'span' AS variant, doc_id, CAST(COUNT(*) AS INT) AS chunk_ix,
         ('0x' || substr(md5(COALESCE(string_agg(CASE WHEN c = 1 OR rn = 1 THEN w END, ' ' ORDER BY widx), '')), 1, 14))::BIGINT AS chunk_hash,
         CAST(SUM(CASE WHEN c = 1 OR rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_tokens
  FROM sp_marked GROUP BY doc_id
)
SELECT * FROM chunk_rows UNION ALL SELECT * FROM sp_rows
ORDER BY variant, doc_id, chunk_ix"""


register("docs_chunking", _doc_chunks, _chunks_oracle())


# Multimodal metadata extraction through mapInPandas — the registry's
# one Arrow-batched Pandas-UDF query, so the driver's gate exercises
# that execution path too.  Media bytes derive from md5(text), letting
# DuckDB predict the stub decoder's byte-derived dimensions exactly.
_MM_SAMPLE = "doc_id % 11 = 0"


def _multimodal_meta(spark, sf_dir):
    from collections.abc import Iterator

    from akvorado_spark.operators.multimodal import decode_image

    # no spread: the fake decode is cheap per row, so fanning the
    # batch over 32 Arrow workers costs more than it saves (measured);
    # a real image decode would flip this
    docs = load_table(spark, "documents", sf_dir).filter(_MM_SAMPLE)
    with_media = docs.select(
        "doc_id", F.unhex(F.md5(F.col("text").cast("binary"))).alias("media")
    )
    out = decode_image(with_media, media_col="media", id_col="doc_id", fake=True)
    fake = out.select(
        F.lit("fake").alias("variant"), "*",
        F.lit(None).cast("long").alias("pix_sum"),
    )

    # REAL decode variant: deterministic pixels per doc, encoded with a
    # per-row filter sweep (every unfilter path: (doc_id+y)%5), decoded
    # by the pure-stdlib codec — pix_sum gates the reconstructed bytes
    # against DuckDB's integer replay of the pixel formula.
    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.png import png_decode, png_encode

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 2, d % 3 + 2
                yy, xx, cc = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                # r12 rotations: every 7th doc stores 16-bit samples
                # (different modulus, same DuckDB replay shape); every
                # 4th doc writes Adam7-interlaced (storage order only —
                # pixel values and thus pix_sum are unchanged, so the
                # oracle needs no interlace branch)
                if d % 7 == 3:
                    px = ((d * 7 + 131 * yy + 257 * xx + 313 * cc) % 65536).astype(
                        np.uint16
                    )
                else:
                    px = ((d * 7 + 13 * yy + 17 * xx + 19 * cc) % 256).astype(np.uint8)
                # r12: d%4==3 8-bit docs carry a tRNS chunk naming the
                # (0,0) pixel's RGB triple.  13y+17x < 256 over these
                # dims, so EXACTLY one pixel matches → channels 4 and
                # pix_sum gains 255*(w*h - 1) — both replayable
                transparent = None
                if d % 4 == 3 and d % 7 != 3:
                    transparent = tuple(int(v) for v in px[0, 0])
                blob = png_encode(
                    px,
                    filters=[(d + y) % 5 for y in range(h)],
                    interlace=(d % 4 == 1),
                    transparent=transparent,
                )
                ww, hh, ch, got = png_decode(blob)
                rows.append((
                    "png", d, ww, hh, ch, "PNG",
                    int(got.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    png = docs.select("doc_id").mapInPandas(
        run, "variant string, " + IMAGE_META_SCHEMA_SQL + ", pix_sum long"
    )

    # REAL audio variant: deterministic PCM16 per doc through the
    # stdlib WAV codec; the gated value is the exact integer
    # Σ(s² + s) over all channels (suite columns are reused: width ←
    # sample_rate, height ← n_frames).
    def run_wav(batches: Iterator) -> Iterator:
        import pandas as pd

        from akvorado_spark.operators.wav import wav_decode, wav_encode

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                nc, n = d % 2 + 1, d % 6 + 2
                rate = 8000 + (d % 3) * 4000
                # r12 depth rotation: every 4th doc pair stores 24-bit
                # (x257) or 32-bit-extensible (x65537) samples — the
                # scale keeps values inside each depth's range and the
                # Σ(s²+s) replay exactly integral at every depth
                depth = 16 if d % 4 < 2 else (24 if d % 4 == 2 else 32)
                # r12: d%8==1 docs store IEEE-float32 — the samples are
                # small integers, exactly representable, so Σ(s²+s)
                # stays integral and the same DuckDB formula replays it
                as_float = d % 8 == 1
                scale = {16: 1, 24: 257, 32: 65537}[depth]
                chans = [
                    [(((d * 31 + c * 7 + i * 13) % 2001) - 1000)
                     * (1 if as_float else scale)
                     for i in range(n)]
                    for c in range(nc)
                ]
                if as_float:
                    blob = wav_encode(rate, [[float(s) for s in ch] for ch in chans],
                                      bits=32, float_format=True)
                    fmt = "wav/float32"
                else:
                    blob = wav_encode(rate, chans, bits=depth,
                                      extensible=(depth == 32))
                    fmt = f"wav/pcm{depth}"
                rr, nn, got = wav_decode(blob)
                sig = int(round(sum(x * x + x for ch in got for x in ch)))
                rows.append(("wav", d, rr, nn, len(got), fmt, sig))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    wav = docs.select("doc_id").mapInPandas(
        run_wav, "variant string, doc_id long, width int, height int, "
        "channels int, format string, pix_sum long"
    )

    # REAL JPEG variant (r9): block-uniform grayscale images through the
    # pure-stdlib baseline codec — with all-ones quant tables a
    # DC-only block's IDCT is an exact power-of-two division, so the
    # full marker-parse → Huffman → dequant → IDCT path reconstructs
    # every pixel bit-exactly and DuckDB replays the pixel sum with
    # integer arithmetic.  restart_interval varies per doc (0/1/2) so
    # the RSTn resync path is inside the gate too.
    def run_jpeg(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.jpeg import (
            jpeg_decode,
            jpeg_encode_baseline,
            jpeg_encode_progressive,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                bw_, bh_ = d % 3 + 1, d % 2 + 1
                px = np.zeros((bh_ * 8, bw_ * 8), dtype=np.uint8)
                for by in range(bh_):
                    for bx in range(bw_):
                        px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            d * 11 + 23 * by + 29 * bx
                        ) % 256
                # r12: every other doc stores PROGRESSIVE (SOF2) —
                # same pixels, same quant=1 DC-only exactness, so the
                # DuckDB formula is storage-mode-independent
                if d % 2 == 0:
                    blob = jpeg_encode_progressive(
                        px, quant=1, restart_interval=d % 3
                    )
                else:
                    blob = jpeg_encode_baseline(
                        px, quant=1, restart_interval=d % 3
                    )
                ww, hh, ch, got = jpeg_decode(blob)
                rows.append((
                    "jpeg", d, ww, hh, ch, "JPEG",
                    int(got.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    jpg = docs.select("doc_id").mapInPandas(
        run_jpeg, "variant string, doc_id long, width int, height int, "
        "channels int, format string, pix_sum long"
    )

    # REAL lossless-WebP variant (r10): deterministic pixels through
    # the pure-stdlib VP8L codec — per-doc option rotation walks the
    # decoder's paths (all 14 predictor modes, subtract-green, LZ77
    # runs, color cache) and lossless means DuckDB replays the pixel
    # sum with integer arithmetic, no exactness lever needed.
    def run_webp(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.vp8l import (
            vp8l_decode,
            vp8l_encode_lossless,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 6 + 3, d % 4 + 3
                yy, xx, cc = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                px = ((d * 5 + 7 * yy + 11 * xx + 3 * cc) % 256).astype(np.uint8)
                meta = (2, d % 3 + 2) if d % 7 == 0 else None
                blob = vp8l_encode_lossless(
                    px,
                    subtract_green=bool(d % 2),
                    lz77=bool(d % 3) and meta is None,
                    cache_bits=(d % 4) * 2,
                    predictor_mode=d % 14 if d % 5 else None,
                    meta_groups=meta,
                )
                ww, hh, ch, got = vp8l_decode(blob)
                rows.append((
                    "webp", d, ww, hh, ch, "WEBP/VP8L",
                    int(got.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    webp = docs.select("doc_id").mapInPandas(
        run_webp, "variant string, doc_id long, width int, height int, "
        "channels int, format string, pix_sum long"
    )

    # REAL GIF variant (r11): deterministic palette image through the
    # pure-stdlib LZW codec — per-doc interlace rotation walks both row
    # orders; the palette color for index v is an odd-multiplier mix so
    # distinct indices are distinct colors and DuckDB replays the pixel
    # sum exactly (GIF is lossless).
    def run_gif(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.gif import gif_decode, gif_encode

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 3, d % 3 + 3
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                v = (d * 3 + 5 * yy + 11 * xx) % 256
                px = np.dstack(
                    [(v * 7) % 256, (v * 13) % 256, (v * 3) % 256]
                ).astype(np.uint8)
                blob = gif_encode(px, interlace=bool(d % 2))
                ww, hh, ch, got = gif_decode(blob)
                rows.append((
                    "gif", d, ww, hh, ch, "GIF",
                    int(got.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    gif = docs.select("doc_id").mapInPandas(
        run_gif, "variant string, doc_id long, width int, height int, "
        "channels int, format string, pix_sum long"
    )

    # ANIMATED GIF variant (r13): a three-frame fixture per doc walks
    # every disposal method — F0 full-screen (keep), F1 a partial rect
    # with checkerboard transparency disposing to background (even
    # docs) or to the previous canvas (odd docs), F2 a top-row strip.
    # The gated path is the PRODUCTION operator chain: an encode stage
    # materializes media blobs, `animation_features` (mapInPandas)
    # composes per GIF89a §23 and emits per-frame integer pixel sums,
    # and the member aggregates them per doc — a value DuckDB replays
    # with pure CASE arithmetic (GIF is lossless, the palette map
    # g(i) = 7i%256 + 13i%256 + 3i%256 is a formula).
    def run_gif_anim_encode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.gif import gif_encode_frames

        i = np.arange(256)
        pal = np.stack([(7 * i) % 256, (13 * i) % 256, (3 * i) % 256],
                       axis=1).astype(np.uint8)
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 3, d % 3 + 3
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                # drawn values stay % 254: index 255 is the transparent
                # slot and must never appear as an opaque pixel
                v0 = (d * 3 + 5 * yy + 11 * xx) % 254
                ly, lx = np.meshgrid(
                    np.arange(h - 2), np.arange(w - 2), indexing="ij"
                )
                f1 = (d * 5 + 7 * ly + 13 * lx) % 254
                f1 = np.where((ly + lx) % 2 == 0, 255, f1)
                v2 = ((d * 7 + 11 * np.arange(w)) % 254).reshape(1, w)
                blob = gif_encode_frames(
                    (w, h), pal,
                    [
                        dict(idx=v0, disposal=1),
                        dict(idx=f1, left=1, top=1, transparent=255,
                             disposal=2 if d % 2 == 0 else 3),
                        dict(idx=v2, disposal=0),
                    ],
                    bg_index=(d * 3) % 256,
                )
                rows.append((d, blob))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    from akvorado_spark.operators.multimodal import animation_features

    anim_media = docs.select("doc_id").mapInPandas(
        run_gif_anim_encode, "doc_id long, media binary"
    )
    gif_anim = (
        animation_features(anim_media)
        .groupBy("doc_id", "width", "height")
        .agg(
            F.max("n_frames").alias("__nf"),
            F.sum("px_sum").alias("pix_sum"),
        )
        .select(
            F.lit("gif_anim").alias("variant"),
            "doc_id",
            "width",
            "height",
            # the member pins the frame COUNT through the channels
            # column budget: 3 frames ⇒ 3 (the suite schema is fixed)
            F.col("__nf").cast("int").alias("channels"),
            F.lit("GIF").alias("format"),
            F.col("pix_sum").cast("long").alias("pix_sum"),
        )
    )

    # REAL BMP variant (r11): depth rotation 8-bit-palette / 32-bit /
    # 24-bit with both row orders — every bmp_decode layout gated; the
    # 32-bit branch carries alpha=255 so its pixel sum adds 255·w·h.
    def run_bmp(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.png import bmp_decode, bmp_encode

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 6 + 2, d % 4 + 2
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                if d % 8 == 0:
                    # r12: 4-bit packed palette under the OS/2 core
                    # header — ≤16 distinct grays, values v*17 so the
                    # DuckDB replay stays a plain integer formula
                    px = (((d + 3 * yy + 5 * xx) % 16) * 17).astype(np.uint8)
                    blob = bmp_encode(px, 4, core_header=True)
                elif d % 4 == 0:
                    px = ((d + 3 * yy + 5 * xx) % 256).astype(np.uint8)
                    # r12: d%24==4 docs store BI_RLE8 — storage-only
                    # (identical pixels), so the oracle needs no branch
                    if d % 24 == 4:
                        blob = bmp_encode(px, 8, rle=True)
                    else:
                        blob = bmp_encode(px, 8, top_down=(d % 3 == 0))
                else:
                    yy3, xx3, cc = np.meshgrid(
                        np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                    )
                    px = ((d * 9 + 7 * yy3 + 5 * xx3 + 6 * cc) % 256).astype(np.uint8)
                    blob = bmp_encode(
                        px, 32 if d % 4 == 1 else 24, top_down=(d % 3 == 0)
                    )
                ww, hh, ch, got = bmp_decode(blob)
                rows.append((
                    "bmp", d, ww, hh, ch, "BMP",
                    int(got.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    bmp = docs.select("doc_id").mapInPandas(
        run_bmp, "variant string, doc_id long, width int, height int, "
        "channels int, format string, pix_sum long"
    )

    # REAL TIFF variant (r11): byte order / strip height / photometric
    # / compression (none, TIFF-LZW, PackBits) / predictor rotation per
    # doc.  All three compressions are lossless and the predictor is
    # inverted on decode, so the gated sum is over the LOGICAL pixel
    # values — the DuckDB replay is the same formula regardless of
    # which storage branch a doc rotates through (WhiteIsZero grayscale
    # stores inverted; the decoder un-inverts).
    def run_tiff(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from akvorado_spark.operators.tiff import tiff_decode, tiff_encode

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 7 + 2, d % 5 + 2
                comp = ("none", "lzw", "packbits")[d % 3]
                pred = 2 if d % 5 == 0 else 1
                # r12: every 5th doc (d%5==2) stores the TILED layout —
                # storage-only (16x16 zero-padded tiles crop back to
                # the same pixels), so the oracle needs no branch
                tile = (16, 16) if d % 5 == 2 else None
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                if d % 3 == 0:
                    # r12: every other grayscale doc rotates through the
                    # 16-bit path (uint16 samples, file byte order,
                    # WhiteIsZero inverted against 65535) — still
                    # lossless, so the same DuckDB formula replays it
                    if d % 6 == 0:
                        px = ((d * 13 + 259 * yy + 521 * xx) % 65536).astype(
                            np.uint16
                        )
                    else:
                        px = ((d * 13 + 3 * yy + 7 * xx) % 256).astype(np.uint8)
                    blob = tiff_encode(
                        px, big_endian=bool(d % 2),
                        rows_per_strip=d % 4 + 1, white_is_zero=True,
                        compression=comp, predictor=pred, tile=tile,
                    )
                else:
                    yy3, xx3, cc = np.meshgrid(
                        np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                    )
                    px = ((d * 11 + 5 * yy3 + 3 * xx3 + 9 * cc) % 256).astype(np.uint8)
                    blob = tiff_encode(
                        px, big_endian=bool(d % 2), rows_per_strip=d % 4 + 1,
                        compression=comp, predictor=pred, tile=tile,
                    )
                ww, hh, ch, got = tiff_decode(blob)
                rows.append((
                    "tiff", d, ww, hh, ch, "TIFF",
                    int(got.astype(np.int64).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["variant", "doc_id", "width", "height",
                         "channels", "format", "pix_sum"],
            )

    tif = docs.select("doc_id").mapInPandas(
        run_tiff, "variant string, doc_id long, width int, height int, "
        "channels int, format string, pix_sum long"
    )
    return (
        fake.unionByName(png)
        .unionByName(wav)
        .unionByName(jpg)
        .unionByName(webp)
        .unionByName(gif)
        .unionByName(gif_anim)
        .unionByName(bmp)
        .unionByName(tif)
        .orderBy("variant", "doc_id")
    )


IMAGE_META_SCHEMA_SQL = (
    "doc_id long, width int, height int, channels int, format string"
)

_MM_ORACLE = f"""
SELECT 'fake' AS variant, doc_id,
       CAST(('0x' || substr(md5(text), 1, 2))::INT % 16 + 1 AS INT) AS width,
       CAST(('0x' || substr(md5(text), 3, 2))::INT % 8 + 1 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       'fake/rgb8' AS format,
       CAST(NULL AS BIGINT) AS pix_sum
FROM documents WHERE {_MM_SAMPLE}
UNION ALL
SELECT 'png' AS variant, d.doc_id,
       CAST(d.doc_id % 5 + 2 AS INT) AS width,
       CAST(d.doc_id % 3 + 2 AS INT) AS height,
       CAST(CASE WHEN d.doc_id % 4 = 3 AND d.doc_id % 7 != 3
                 THEN 4 ELSE 3 END AS INT) AS channels,
       'PNG' AS format,
       CAST(SUM(CASE WHEN d.doc_id % 7 = 3
                     THEN (d.doc_id * 7 + 131 * y.i + 257 * x.i + 313 * c.i) % 65536
                     ELSE (d.doc_id * 7 + 13 * y.i + 17 * x.i + 19 * c.i) % 256
                END)
            + CASE WHEN d.doc_id % 4 = 3 AND d.doc_id % 7 != 3
                   THEN 255 * ((d.doc_id % 5 + 2) * (d.doc_id % 3 + 2) - 1)
                   ELSE 0 END AS BIGINT) AS pix_sum
FROM documents d,
     generate_series(0, 4) y(i), generate_series(0, 6) x(i),
     generate_series(0, 2) c(i)
WHERE {_MM_SAMPLE}
  AND y.i < d.doc_id % 3 + 2 AND x.i < d.doc_id % 5 + 2
GROUP BY d.doc_id
UNION ALL
SELECT 'wav' AS variant, d.doc_id,
       CAST(8000 + (d.doc_id % 3) * 4000 AS INT) AS width,
       CAST(d.doc_id % 6 + 2 AS INT) AS height,
       CAST(d.doc_id % 2 + 1 AS INT) AS channels,
       CASE WHEN d.doc_id % 8 = 1 THEN 'wav/float32'
            WHEN d.doc_id % 4 = 2 THEN 'wav/pcm24'
            WHEN d.doc_id % 4 = 3 THEN 'wav/pcm32'
            ELSE 'wav/pcm16' END AS format,
       CAST(SUM(s * s + s) AS BIGINT) AS pix_sum
FROM (
  SELECT d.doc_id,
         (((d.doc_id * 31 + c.i * 7 + i.i * 13) % 2001) - 1000)
         * CASE WHEN d.doc_id % 4 = 2 THEN 257
                WHEN d.doc_id % 4 = 3 THEN 65537
                ELSE 1 END AS s
  FROM documents d, generate_series(0, 1) c(i), generate_series(0, 7) i(i)
  WHERE {_MM_SAMPLE}
    AND c.i < d.doc_id % 2 + 1 AND i.i < d.doc_id % 6 + 2
) d
GROUP BY d.doc_id
UNION ALL
SELECT 'jpeg' AS variant, d.doc_id,
       CAST((d.doc_id % 3 + 1) * 8 AS INT) AS width,
       CAST((d.doc_id % 2 + 1) * 8 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       'JPEG' AS format,
       CAST(SUM(64 * ((d.doc_id * 11 + 23 * by.i + 29 * bx.i) % 256)) AS BIGINT) AS pix_sum
FROM documents d,
     generate_series(0, 2) bx(i), generate_series(0, 1) by(i)
WHERE {_MM_SAMPLE}
  AND bx.i < d.doc_id % 3 + 1 AND by.i < d.doc_id % 2 + 1
GROUP BY d.doc_id
UNION ALL
SELECT 'webp' AS variant, d.doc_id,
       CAST(d.doc_id % 6 + 3 AS INT) AS width,
       CAST(d.doc_id % 4 + 3 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       'WEBP/VP8L' AS format,
       CAST(SUM((d.doc_id * 5 + 7 * y.i + 11 * x.i + 3 * c.i) % 256) AS BIGINT) AS pix_sum
FROM documents d,
     generate_series(0, 5) y(i), generate_series(0, 7) x(i),
     generate_series(0, 2) c(i)
WHERE {_MM_SAMPLE}
  AND y.i < d.doc_id % 4 + 3 AND x.i < d.doc_id % 6 + 3
GROUP BY d.doc_id
UNION ALL
SELECT 'gif' AS variant, g.doc_id,
       CAST(g.doc_id % 5 + 3 AS INT) AS width,
       CAST(g.doc_id % 3 + 3 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       'GIF' AS format,
       CAST(SUM((v * 7) % 256 + (v * 13) % 256 + (v * 3) % 256) AS BIGINT) AS pix_sum
FROM (
  SELECT d.doc_id, (d.doc_id * 3 + 5 * y.i + 11 * x.i) % 256 AS v
  FROM documents d, generate_series(0, 5) y(i), generate_series(0, 7) x(i)
  WHERE {_MM_SAMPLE}
    AND y.i < d.doc_id % 3 + 3 AND x.i < d.doc_id % 5 + 3
) g
GROUP BY g.doc_id
UNION ALL
-- animated-GIF replay: per pixel, the three composed frames' palette
-- indices (v0; F1 overlays a checkerboard rect; F2 overlays row 0 and
-- the canvas under it reflects F1's disposal: background for even
-- docs, the pre-F1 canvas for odd), then the g(i)=7i%256+13i%256+3i%256
-- palette map summed over all three
SELECT 'gif_anim' AS variant, a.doc_id,
       CAST(a.doc_id % 5 + 3 AS INT) AS width,
       CAST(a.doc_id % 3 + 3 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       'GIF' AS format,
       CAST(SUM( (7*p0)%256 + (13*p0)%256 + (3*p0)%256
               + (7*p1)%256 + (13*p1)%256 + (3*p1)%256
               + (7*p2)%256 + (13*p2)%256 + (3*p2)%256 ) AS BIGINT) AS pix_sum
FROM (
  SELECT doc_id, v0 AS p0,
         CASE WHEN in_rect AND ((y - 1) + (x - 1)) % 2 = 1
              THEN (doc_id * 5 + 7 * (y - 1) + 13 * (x - 1)) % 254
              ELSE v0 END AS p1,
         CASE WHEN y = 0 THEN (doc_id * 7 + 11 * x) % 254
              WHEN doc_id % 2 = 1 THEN v0
              WHEN in_rect THEN (doc_id * 3) % 256
              ELSE v0 END AS p2
  FROM (
    SELECT d.doc_id, y.i AS y, x.i AS x,
           (d.doc_id * 3 + 5 * y.i + 11 * x.i) % 254 AS v0,
           y.i BETWEEN 1 AND d.doc_id % 3 + 1
             AND x.i BETWEEN 1 AND d.doc_id % 5 + 1 AS in_rect
    FROM documents d, generate_series(0, 5) y(i), generate_series(0, 7) x(i)
    WHERE {_MM_SAMPLE}
      AND y.i < d.doc_id % 3 + 3 AND x.i < d.doc_id % 5 + 3
  )
) a
GROUP BY a.doc_id
UNION ALL
SELECT 'bmp' AS variant, d.doc_id,
       CAST(d.doc_id % 6 + 2 AS INT) AS width,
       CAST(d.doc_id % 4 + 2 AS INT) AS height,
       CAST(CASE WHEN d.doc_id % 4 = 1 THEN 4 ELSE 3 END AS INT) AS channels,
       'BMP' AS format,
       CAST(SUM(CASE WHEN d.doc_id % 8 = 0
                     THEN ((d.doc_id + 3 * y.i + 5 * x.i) % 16) * 17
                     WHEN d.doc_id % 4 = 0
                     THEN (d.doc_id + 3 * y.i + 5 * x.i) % 256
                     ELSE (d.doc_id * 9 + 7 * y.i + 5 * x.i + 6 * c.i) % 256 END)
            + CASE WHEN d.doc_id % 4 = 1
                   THEN 255 * (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2)
                   ELSE 0 END AS BIGINT) AS pix_sum
FROM documents d,
     generate_series(0, 5) y(i), generate_series(0, 6) x(i),
     generate_series(0, 2) c(i)
WHERE {_MM_SAMPLE}
  AND y.i < d.doc_id % 4 + 2 AND x.i < d.doc_id % 6 + 2
GROUP BY d.doc_id
UNION ALL
SELECT 'tiff' AS variant, d.doc_id,
       CAST(d.doc_id % 7 + 2 AS INT) AS width,
       CAST(d.doc_id % 5 + 2 AS INT) AS height,
       CAST(CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
       'TIFF' AS format,
       CAST(SUM(CASE WHEN d.doc_id % 6 = 0
                     THEN CASE WHEN c.i = 0
                               THEN (d.doc_id * 13 + 259 * y.i + 521 * x.i) % 65536
                               ELSE 0 END
                     WHEN d.doc_id % 3 = 0
                     THEN CASE WHEN c.i = 0
                               THEN (d.doc_id * 13 + 3 * y.i + 7 * x.i) % 256
                               ELSE 0 END
                     ELSE (d.doc_id * 11 + 5 * y.i + 3 * x.i + 9 * c.i) % 256
                END) AS BIGINT) AS pix_sum
FROM documents d,
     generate_series(0, 5) y(i), generate_series(0, 7) x(i),
     generate_series(0, 2) c(i)
WHERE {_MM_SAMPLE}
  AND y.i < d.doc_id % 5 + 2 AND x.i < d.doc_id % 7 + 2
GROUP BY d.doc_id
ORDER BY variant, doc_id"""

register("multimodal_decode_meta", _multimodal_meta, _MM_ORACLE)
