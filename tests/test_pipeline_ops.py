"""LLM-pipeline operator tests: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from akvorado_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)
from akvorado_spark.operators.multimodal import (
    attach_fake_media,
    decode_image,
    frame_sample_plan,
)
from akvorado_spark.operators.similarity import brute_force_topk, lsh_topk, neardup_pairs
from akvorado_spark.operators.text import analyze
from akvorado_spark.sources.tables import load_table

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, "documents", SF_DIR)


@pytest.fixture(scope="module")
def corpus_with_dups(spark, docs):
    base = docs.select("doc_id", "text").filter("doc_id < 60")
    dup = base.filter("doc_id % 4 = 0").select(
        (F.col("doc_id") + 1000).alias("doc_id"), F.col("text")
    )
    near = base.filter("doc_id % 4 = 1").select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" small suffix")).alias("text"),
    )
    return base.unionAll(dup).unionAll(near)


def test_exact_dedup_finds_exact_copies(spark, corpus_with_dups):
    groups = exact_dedup(corpus_with_dups, "text", "doc_id")
    dup_groups = {r["doc_id"]: r["group_size"] for r in groups.filter("group_size > 1").collect()}
    # every doc_id<60 with id%4==0 has one exact copy; survivor is the original id
    expected = {r["doc_id"] for r in corpus_with_dups.filter("doc_id < 60 AND doc_id % 4 = 0").collect()}
    assert set(dup_groups) == expected
    assert all(v == 2 for v in dup_groups.values())


def test_minhash_lsh_finds_seeded_neardups(spark, corpus_with_dups):
    sigs = minhash_signatures(corpus_with_dups, "text", "doc_id", n_hashes=32)
    cands = lsh_candidate_pairs(sigs, "doc_id", bands=16, n_hashes=32)  # 2-row bands → high recall
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    exact_pairs = {
        (r["doc_id"], r["doc_id"] + 1000)
        for r in corpus_with_dups.filter("doc_id < 60 AND doc_id % 4 = 0").collect()
    }
    # identical docs MUST collide in every band
    assert exact_pairs <= got
    near_pairs = {
        (r["doc_id"], r["doc_id"] + 2000)
        for r in corpus_with_dups.filter("doc_id < 60 AND doc_id % 4 = 1").collect()
    }
    assert len(near_pairs & got) >= len(near_pairs) * 0.8  # high-J pairs mostly caught


def test_ngram_jaccard_matches_python(spark, corpus_with_dups):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus_with_dups, "text", "doc_id").collect()
    }
    rows = {r["doc_id"]: r["text"] for r in corpus_with_dups.collect()}

    def py_grams(t, n=3):
        ws = [w for w in t.lower().split() if w]
        if len(ws) >= n:
            return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
        return {" ".join(ws)}

    import itertools

    checked = 0
    for a, b in itertools.islice(
        ((a, b) for a, b in itertools.combinations(sorted(rows), 2)), 0, None
    ):
        ga, gb = py_grams(rows[a]), py_grams(rows[b])
        inter = len(ga & gb)
        if inter == 0:
            assert (a, b) not in out
            continue
        want = inter / len(ga | gb)
        assert abs(out[(a, b)] - want) < 1e-9, (a, b)
        checked += 1
    assert checked > 10


def test_simhash_neardups_close(spark, corpus_with_dups):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(corpus_with_dups, "text", "doc_id").collect()}
    for r in corpus_with_dups.filter("doc_id < 60 AND doc_id % 4 = 0").collect():
        assert fps[r["doc_id"]] == fps[r["doc_id"] + 1000]  # identical text → same fp
    near_ids = [r["doc_id"] for r in corpus_with_dups.filter("doc_id < 60 AND doc_id % 4 = 1").collect()]
    close = sum(
        bin(fps[i] ^ fps[i + 2000]).count("1") <= 12 for i in near_ids
    )
    assert close >= len(near_ids) * 0.8

    cands = simhash_candidate_pairs(
        simhash(corpus_with_dups, "text", "doc_id"), "doc_id", bands=4
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in cands}
    assert all((i, i + 1000) in got for i in fps if i < 60 and i % 4 == 0)


def test_brute_force_vs_lsh_topk(spark):
    vecs = load_table(spark, "embeddings", SF_DIR)
    queries = vecs.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # Plant a scaled copy of each query (cosine exactly 1, identical
    # sign-sketch) — LSH MUST find it as rank 1.  The corpus embeddings
    # are near-random (NN cosine ≈ 0.35), so planted copies are the
    # deterministic recall check.
    planted = queries.select(
        (F.col("q_id") + 100000).alias("vec_id"),
        F.transform(F.col("q_vec"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    rest = vecs.filter("vec_id >= 5").select("vec_id", "embedding").unionAll(planted)
    dim = len(vecs.select("embedding").first()["embedding"])
    exact = brute_force_topk(rest, queries, k=3).collect()
    approx = lsh_topk(rest, queries, k=3, dim=dim, n_planes=6).collect()
    exact_top = {(r["q_id"], r["rank"]): r["vec_id"] for r in exact}
    approx_best = {r["q_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    for q in range(5):
        assert exact_top[(q, 1)] == q + 100000  # brute force finds the copy
        assert approx_best[q] == q + 100000  # LSH bucket contains it
    assert len(exact) == 15  # 5 queries × k=3, exact path complete
    # every LSH sim must agree with the brute-force sim for that pair
    exact_sims = {(r["q_id"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        if (r["q_id"], r["vec_id"]) in exact_sims:
            assert abs(r["sim"] - exact_sims[(r["q_id"], r["vec_id"])]) < 1e-9


def test_neardup_pairs_threshold(spark):
    vecs = load_table(spark, "embeddings", SF_DIR).filter("vec_id % 3 = 0")
    dim = len(vecs.select("embedding").first()["embedding"])
    out = neardup_pairs(vecs, threshold=0.9, dim=dim, n_planes=8)
    for r in out.collect():
        assert r["sim"] >= 0.9
        assert r["id_a"] < r["id_b"]


def test_text_analyze_columns(spark, docs):
    out = analyze(docs.limit(200), "text")
    rows = out.collect()
    for r in rows:
        ws = [w for w in r["text"].lower().split() if w]
        assert r["n_tokens"] == len(ws)
        assert 0.0 <= r["quality"] <= 1.0
        assert r["punct_ratio"] >= 0.0 and r["digit_ratio"] >= 0.0
        assert r["lang_guess"] in ("en", "fr", "de", "es", "und")


def test_fingerprint_order_sensitive(spark):
    from akvorado_spark.operators.text import fingerprint

    df = spark.createDataFrame([("a b c",), ("c b a",), ("a b c",)], "text string")
    fps = [r["fp"] for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]


def test_multimodal_fake_decode_and_frame_plan(spark):
    base = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    media = attach_fake_media(base, "doc_id")
    out = decode_image(media, fake=True).collect()
    assert len(out) == 100
    for r in out:
        assert 1 <= r["width"] <= 256 and 1 <= r["height"] <= 256
        assert r["channels"] == 3 and r["format"] == "fake/rgb8"
    # deterministic: same input → same dims
    again = decode_image(attach_fake_media(base, "doc_id"), fake=True).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    vids = spark.createDataFrame([(1, 10), (2, 3)], "doc_id long, n_frames int")
    plan = frame_sample_plan(vids, every_n_frames=4).collect()
    got = {(r["doc_id"], r["frame_idx"]) for r in plan}
    assert got == {(1, 0), (1, 4), (1, 8), (2, 0)}


def test_multimodal_real_decode_raises_without_pillow(spark):
    base = attach_fake_media(spark.range(0, 4).withColumnRenamed("id", "doc_id"), "doc_id")
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present; stub gate not applicable")
    except ImportError:
        pass
    with pytest.raises(Exception):  # NotImplementedError surfaced through Py4J
        decode_image(base, fake=False).collect()


def test_asof_join_semantics(spark):
    from akvorado_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 205, "b"), (2, 50, "c"), (3, 10, "d")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 200, 2.0), (1, 300, 3.0), (2, 60, 4.0)],
        "k long, t long, v double",
    )
    out = {
        r["tag"]: (r["t_asof"], r["v_asof"])
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="t", values=["v"]
        ).collect()
    }
    assert out["a"] == (100, 1.0)  # equal timestamp matches (<=)
    assert out["b"] == (200, 2.0)  # latest at-or-before, not the later 300
    assert out["c"] == (None, None)  # right row is strictly later
    assert out["d"] == (None, None)  # key has no right rows at all


def test_chunk_documents_tail_and_overlap(spark):
    from akvorado_spark.operators.text import chunk_documents

    txt = " ".join(f"w{i}" for i in range(91))  # 91 tokens → 3 chunks
    df = spark.createDataFrame([(1, txt), (2, "a b"), (3, "")], "doc_id long, text string")
    rows = {
        (r["doc_id"], r["chunk_ix"]): (r["n_tokens"], r["chunk"])
        for r in chunk_documents(df, "text", "doc_id", window=50, stride=40).collect()
    }
    assert rows[(1, 0)][0] == 50 and rows[(1, 0)][1].startswith("w0 ")
    assert rows[(1, 1)][0] == 50 and rows[(1, 1)][1].startswith("w40 ")
    assert rows[(1, 2)][0] == 11 and rows[(1, 2)][1].endswith("w90")  # tail kept
    assert (1, 3) not in rows
    assert rows[(2, 0)] == (2, "a b")  # short doc → one whole chunk
    assert rows[(3, 0)][0] == 0  # empty doc → one empty chunk, not dropped


def test_capped_bucket_pairs_stay_connected(spark):
    """A degenerate near-identical cluster (one bucket of m docs) under
    max_bucket=k must emit (m-1) + C(k,2) pairs — the first-k clique
    plus a star from the bucket minimum — so every member remains
    reachable for transitive dedup, instead of the m²/2 clique."""
    from pyspark.sql import functions as F

    from akvorado_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    m, k = 10, 3
    docs = spark.createDataFrame(
        [(i, "identical text content repeated for every document here") for i in range(m)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, "text", "doc_id", n_hashes=8)
    capped = lsh_candidate_pairs(sigs, "doc_id", bands=4, n_hashes=8, max_bucket=k)
    rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # star: (0, j) for every j; clique on {0,1,2} adds (1,2)
    assert rows == {(0, j) for j in range(1, m)} | {(1, 2)}
    # every doc appears in at least one pair (connectivity)
    touched = {i for p in rows for i in p}
    assert touched == set(range(m))
    # uncapped emits the full clique
    full = lsh_candidate_pairs(sigs, "doc_id", bands=4, n_hashes=8)
    assert full.count() == m * (m - 1) // 2


# ---------------------------------------------------------------------------
# round 3: transitive components, decontamination, per-key sampling
# ---------------------------------------------------------------------------


def test_connected_components_path_graph(spark):
    """A 4-node path has diameter 3 — exercises propagation rounds
    beyond the min-neighbor initialization."""
    from akvorado_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["comp"]) for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_star_and_clique(spark):
    from akvorado_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # star centered at 5 + clique {20,21,22}
        [(5, 6), (5, 7), (5, 8), (20, 21), (20, 22), (21, 22)],
        "id_a long, id_b long",
    )
    labels = connected_components(pairs)
    comp = {r["id"]: r["comp"] for r in labels.collect()}
    assert comp == {5: 5, 6: 5, 7: 5, 8: 5, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty(spark):
    from akvorado_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_nonconvergence_raises(spark):
    """A pair graph with a chain longer than max_iter must raise, not
    silently return split clusters (ADVICE r3: dedup.py max_iter)."""
    from akvorado_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(pairs, max_iter=1)
    # the same chain converges (to one component) with enough rounds
    comp = {
        r["id"]: r["comp"] for r in connected_components(pairs, max_iter=15).collect()
    }
    assert set(comp.values()) == {1}


def test_decontaminate_flags_overlapping_docs(spark):
    from akvorado_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words entirely unrelated to anything"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    got = decontaminate(train, ev, "text", "doc_id", min_overlap=3).collect()
    assert [(r["train_id"], r["eval_id"]) for r in got] == [(1, 100)]
    # raising the bar above the real overlap clears the flag
    n_shared = got[0]["overlap"]
    assert (
        decontaminate(train, ev, "text", "doc_id", min_overlap=n_shared + 1).count() == 0
    )


def test_sample_per_key_cap_and_determinism(spark):
    import hashlib

    from akvorado_spark.operators.sampling import sample_per_key

    rows = [(i, f"k{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sample_per_key(df, ("grp",), 4, "doc_id")
    got = [(r["grp"], r["doc_id"], r["sample_rank"]) for r in out.collect()]
    assert len(got) == 12  # 3 keys × 4
    # mirror the portable hash order in pure Python
    for g in ("k0", "k1", "k2"):
        ids = [i for i, k in rows if k == g]
        expect = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:4]
        mine = sorted(
            [(r[2], r[1]) for r in got if r[0] == g]
        )
        assert [i for _, i in mine] == expect
    # deterministic across evaluations
    again = [(r["grp"], r["doc_id"], r["sample_rank"]) for r in out.collect()]
    assert sorted(again) == sorted(got)


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized cross-check: arbitrary sparse graphs (not just the
    dedup clique/star shapes) against a pure-Python union-find."""
    import random

    from akvorado_spark.operators.dedup import connected_components

    rng = random.Random(42)
    for trial in range(5):
        n = rng.randint(5, 60)
        m = rng.randint(1, n * 2)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {}
        for v in touched:
            root = find(v)
            # min id in the component, matching the operator's contract
            want.setdefault(root, []).append(v)
        expect = {
            v: min(members) for members in want.values() for v in members
        }

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["comp"] for r in connected_components(pairs, max_iter=64).collect()
        }
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


def test_dedup_pipeline_cross_engine_random_params(spark):
    """Randomized cross-engine sweep of the WHOLE dedup pipeline suite:
    random sampling predicates, Jaccard thresholds, decontamination
    overlap bars and per-key caps run through the Spark pipeline and
    the parameterized DuckDB mirror (including the recursive-CTE
    connected-components fixpoint); row multisets must match exactly."""
    import random

    import duckdb

    from akvorado_spark.oracle.pipeline_queries import (
        _dedup_pipeline_suite,
        dp_oracle_sql,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    rng = random.Random(99)
    draws = [
        (
            rng.choice(["doc_id % 7 = 0", "doc_id % 5 = 1", "doc_id % 3 = 2"]),
            rng.choice([0.2, 0.4, 0.6]),
            rng.choice([2, 4]),
            rng.choice([1, 2, 5]),
        )
        for _ in range(3)
    ]
    for sample, thr, min_overlap, per_key in draws:
        got = sorted(
            (r["variant"], r["id_a"], r["id_b"], round(r["val"], 6))
            for r in _dedup_pipeline_suite(
                spark, SF_DIR, sample=sample, thr=thr,
                min_overlap=min_overlap, per_key=per_key,
            ).collect()
        )
        want = sorted(
            (v, a, b, round(x, 6))
            for v, a, b, x in con.execute(
                dp_oracle_sql(sample, thr, min_overlap, per_key)
            ).fetchall()
        )
        assert got == want, (sample, thr, min_overlap, per_key)
        assert got  # the draw produced actual rows


def test_pack_documents_matches_duckdb_cumsum(spark):
    """Sequence packing: the per-key token stream chops into
    budget-sized windows; DuckDB replays the same portable-hash order
    and running total."""
    import duckdb

    from akvorado_spark.operators.sampling import pack_documents
    from akvorado_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
    with_tokens = docs.withColumn(
        "n_tokens", F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != ""))
    )
    got = sorted(
        (r["lang"], r["doc_id"], r["bin_id"], r["bin_offset"])
        for r in pack_documents(
            with_tokens, "n_tokens", 128, key_cols=("lang",)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        con.execute(
            """
WITH t AS (
  SELECT lang, doc_id,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS n
  FROM documents
),
c AS (
  SELECT lang, doc_id,
         COALESCE(SUM(n) OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM t
)
SELECT lang, doc_id, CAST(cb // 128 AS BIGINT), CAST(cb % 128 AS BIGINT) FROM c
"""
        ).fetchall()
    )
    assert got == want
    # every bin except possibly the last per key starts at offset < budget
    assert all(0 <= off < 128 for _, _, _, off in got)


def test_pack_documents_no_keys_bounded_windows(spark):
    from akvorado_spark.operators.sampling import pack_documents

    df = spark.createDataFrame(
        [(i, 10) for i in range(100)], "doc_id long, n_tokens long"
    )
    out = pack_documents(df, "n_tokens", 25)
    rows = out.collect()
    assert len(rows) == 100
    assert "__pack_bucket" not in out.columns
    # 10-token docs in 25-token bins: offsets only reach {0,10,20,5,15...}
    assert all(r["bin_offset"] < 25 for r in rows)


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule (Rae et al. 2021 table A1) trips on its own
    degenerate document while clean prose passes."""
    from akvorado_spark.operators.text import (
        gopher_quality_pass,
        repeated_line_fraction,
        symbol_word_ratio,
    )

    clean = " ".join(["the quick brown fox jumps over lazy dogs daily"] * 8)
    cases = [
        ("clean", clean, True),
        ("too_short", "tiny doc", False),
        ("repeated_lines", "\n".join(["same line of words here"] * 20), False),
        ("symbol_soup", " ".join(["### word"] * 40), False),
        ("bullets", "\n".join(["- item number " + str(i) for i in range(30)]), False),
        ("ellipses", "\n".join([f"trailing off number {i}..." for i in range(30)]), False),
        ("numeric", " ".join(["12345 67890"] * 40), False),
    ]
    df = spark.createDataFrame([(n, t) for n, t, _ in cases], "name string, text string")
    got = {
        r["name"]: r["p"]
        for r in df.select("name", gopher_quality_pass("text").alias("p")).collect()
    }
    assert got == {n: want for n, _, want in cases}
    # the fraction metrics themselves
    vals = df.filter("name = 'repeated_lines'").select(
        repeated_line_fraction("text").alias("r"),
        symbol_word_ratio("text").alias("s"),
    ).first()
    assert vals["r"] == pytest.approx(19 / 20)
    assert vals["s"] == 0.0


def test_mix_sources_rates_and_epochs(spark, docs):
    """Weighted mixing realizes each source's target rate (hash-exact
    determinism, tolerance only from bucket granularity on small
    groups), up-samples via epochs, and never shuffles."""
    from akvorado_spark.operators.sampling import mix_sources

    base = docs.select("doc_id", "source")
    out = mix_sources(
        base, {"src0": 2.5, "src1": 1.0, "src2": 0.25}, default_rate=0.0
    ).persist()
    n_by = {r["source"]: r["n"] for r in base.groupBy("source").count()
            .withColumnRenamed("count", "n").collect()}
    got = {r["source"]: r["n"] for r in out.groupBy("source").count()
           .withColumnRenamed("count", "n").collect()}
    # rate 0 sources vanish entirely
    assert set(got) <= {"src0", "src1", "src2"}
    assert got["src1"] == n_by["src1"]  # rate 1.0 = identity
    assert got["src0"] == pytest.approx(2.5 * n_by["src0"], rel=0.25)
    assert got["src2"] == pytest.approx(0.25 * n_by["src2"], rel=0.5)
    # epochs: rate 2.5 rows carry epochs {0,1,2}; full copies always kept
    epochs = {r["epoch"] for r in out.filter("source = 'src0'").select("epoch").distinct().collect()}
    assert epochs == {0, 1, 2}
    full = out.filter("source = 'src0' AND epoch < 2").count()
    assert full == 2 * n_by["src0"]
    # determinism: same inputs → same sample
    again = mix_sources(base, {"src0": 2.5, "src1": 1.0, "src2": 0.25}, default_rate=0.0)
    assert again.count() == out.count()
    # narrow plan: no exchange anywhere in the operator itself
    plan = mix_sources(base, {"src0": 2.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    out.unpersist()


def test_normalize_text_rules(spark):
    """Each normalize_text rule verified on a targeted input, plus
    idempotence (normalize(normalize(x)) == normalize(x)) on all."""
    from akvorado_spark.operators.text import normalize_text

    cases = [
        ("a\r\nb\rc", "a\nb\nc"),                       # CRLF / CR → LF
        ("a\x00b\x07c\x1fd", "abcd"),                   # control strip
        ("“q” ‘s’", "\"q\" 's'"),    # curly → straight
        ("a – b — c", "a - b - c"),            # dashes
        ("a b", "a b"),                             # NBSP
        ("wait…", "wait..."),                       # ellipsis
        ("a\t\t b   c", "a b c"),                        # ws runs
        ("line \n next", "line\nnext"),                  # spaces at \n
        ("p1\n\n\n\n\np2", "p1\n\np2"),                  # blank collapse
        ("  x  ", "x"),                                  # trim
        ("", ""),
        ("already clean\ntwo lines", "already clean\ntwo lines"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, t string"
    )
    out = df.select("i", normalize_text(F.col("t")).alias("n"))
    got = {r["i"]: r["n"] for r in out.collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, repr(got[i]), repr(want))
    # idempotence
    out2 = out.select(
        "i", (normalize_text(F.col("n")) == F.col("n")).alias("fix")
    )
    assert all(r["fix"] for r in out2.collect())


def test_normalize_text_fuzz_invariants(spark):
    """Randomized invariants: normalized output contains no control
    chars (except LF), no curly quotes/dashes/NBSP/ellipsis, no double
    spaces, no space adjacent to LF, no 3+ LF runs, no leading/trailing
    LF-or-space — and the chain is idempotent."""
    import random

    from akvorado_spark.operators.text import normalize_text

    rng = random.Random(31)
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + ["\t", "\n", "\r", "\x00", "\x07", "\x1b"]
        + ["“", "”", "‘", "’", "–", "—", " ", "…", "ä", "日", "🙂"]
    )
    rows = [
        (i, "".join(rng.choice(pool) for _ in range(rng.randrange(0, 120))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    out = df.select(
        "i",
        normalize_text(F.col("t")).alias("n"),
    ).withColumn("n2", normalize_text(F.col("n")))
    for r in out.collect():
        n = r["n"]
        assert n == r["n2"], r["i"]  # idempotent
        assert not any(ord(c) < 32 and c != "\n" for c in n), r["i"]
        assert not (set("“”‘’–—… ") & set(n)), r["i"]
        assert "  " not in n and " \n" not in n and "\n " not in n, r["i"]
        assert "\n\n\n" not in n, r["i"]
        assert n == n.strip("\n "), r["i"]


def test_redact_pii_stages(spark):
    from akvorado_spark.operators.text import redact_pii_stages

    df = spark.createDataFrame(
        [
            ("mail a.b@example.com and c@d.org here",),
            ("server 192.168.10.1 talked to 10.0.0.7",),
            ("call +1 555-123-4567 now",),
            ("mixed bob@x.io at 10.1.2.3 tel 555-876-5432 1",),
            ("clean text with no identifiers at all",),
        ],
        "text string",
    )
    red, counts = redact_pii_stages(F.col("text"))
    out = df.select(
        red.alias("r"),
        counts["email"].alias("e"),
        counts["ip"].alias("i"),
        counts["phone"].alias("p"),
    ).collect()
    assert out[0]["e"] == 2 and "<EMAIL>" in out[0]["r"] and "@" not in out[0]["r"]
    assert out[1]["i"] == 2 and out[1]["r"].count("<IP>") == 2
    assert out[2]["p"] == 1 and "<PHONE>" in out[2]["r"]
    assert (out[3]["e"], out[3]["i"], out[3]["p"]) == (1, 1, 1)
    assert out[4]["r"] == "clean text with no identifiers at all"
    assert (out[4]["e"], out[4]["i"], out[4]["p"]) == (0, 0, 0)


def test_connected_components_long_chain_pointer_jumps(spark):
    """A 200-node path converges inside the default max_iter: rounds
    past the plain-propagation phase pointer-jump, doubling distance
    per round (O(log d), not O(d))."""
    from akvorado_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {1}
    assert len(comp) == 200


def test_suggest_planes_holds_bucket_occupancy():
    """One extra plane per corpus doubling; expected occupancy stays at
    the target across 6 orders of magnitude."""
    from akvorado_spark.operators.similarity import suggest_planes

    for n in (1_000, 10_000, 100_000, 1_000_000, 10_000_000, 1_000_000_000):
        p = suggest_planes(n, target_bucket=64)
        occupancy = n / (2 ** p)
        assert 32 <= occupancy <= 64, (n, p, occupancy)
    assert suggest_planes(2_000) == suggest_planes(1_000) + 1
    assert suggest_planes(10) == 4  # floor for tiny corpora


def test_duplicate_ngram_char_stats(spark):
    from akvorado_spark.operators.text import duplicate_ngram_char_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),       # grams: 'a b'x2, 'b a', 'b c' → dup 6/12
            (2, "all words distinct here"),
            (3, "same same same same"),  # 'same same'x3 → all duplicated
            (4, "one"),             # shorter than n → single whole-text gram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_chars"], r["total_chars"])
        for r in duplicate_ngram_char_stats(df, "text", "doc_id", n=2).collect()
    }
    assert got[1] == (6, 12)
    assert got[2] == (0, got[2][1]) and got[2][1] > 0
    assert got[3] == (27, 27)
    assert got[4] == (0, 3)


def test_remove_duplicate_spans(spark):
    """C4 span removal: tumbling windows, global first occurrence by
    (doc_id, widx) survives, all later copies vanish; unique windows
    and partial tails pass through; empty docs keep an empty row."""
    from akvorado_spark.operators.text import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c x y z a b c tail"),   # windows: 'a b c','x y z','a b c','tail'
            (2, "a b c q r s"),              # 'a b c' again (later doc) -> removed
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text_dedup"], r["n_spans"], r["n_spans_kept"])
        for r in remove_duplicate_spans(docs, span_words=3).collect()
    }
    # doc 1: first 'a b c' kept (global first), second occurrence dropped
    assert out[1] == ("a b c x y z tail", 4, 3)
    # doc 2: its 'a b c' is occurrence #3 -> dropped
    assert out[2] == ("q r s", 2, 1)
    assert out[3] == ("", 0, 0)


def test_split_dataset_leakage_guard(spark):
    """Group-keyed splitting: every group lands in exactly ONE split
    (the train/test contamination guard); fractions land near target;
    assignment is deterministic across invocations."""
    from akvorado_spark.operators.sampling import split_dataset
    from akvorado_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "source")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_dataset(docs, fr, id_col="doc_id", group_col="source")
    # leakage guard: one split per source
    straddlers = (
        out.groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .filter("k > 1")
        .count()
    )
    assert straddlers == 0
    # row-wise split approximates fractions on the full corpus
    row = split_dataset(docs, fr, id_col="doc_id")
    n = docs.count()
    got = {r["split"]: r["cnt"] for r in row.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert abs(got.get("train", 0) / n - 0.8) < 0.05
    assert set(got) == {"train", "val", "test"}
    # deterministic: re-invocation yields identical assignment
    again = split_dataset(docs, fr, id_col="doc_id")
    assert row.exceptAll(again).count() == 0


def test_split_dataset_validates_fractions(spark):
    import pytest as _pytest

    from akvorado_spark.operators.sampling import split_dataset

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        split_dataset(df, {})
    with _pytest.raises(ValueError):
        split_dataset(df, {"a": 0.9, "b": 0.3})


def test_exact_substring_dedup_hash_and_string_paths_agree(spark):
    """The xxhash64 production keying and the string-exact gate keying
    must excise identical spans (collisions aside, which this corpus
    certifies against)."""
    from pyspark.sql import functions as F

    from akvorado_spark.operators.dedup import exact_substring_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = exact_substring_dedup(docs, "text", "doc_id").orderBy("doc_id")
    b = exact_substring_dedup(
        docs, "text", "doc_id", key_fn=lambda c: f"xxhash64({c})"
    ).orderBy("doc_id")
    assert a.collect() == b.collect()


def test_exact_substring_dedup_semantics(spark):
    """Hand-built corpus: a 200-char run shared by three docs AT
    DIFFERENT OFFSETS is removed from all but the lowest doc_id
    (content-defined anchors make detection alignment-independent);
    short docs and unique docs are untouched."""
    shared = (
        "the quick brown fox jumps over the lazy dog while the "
        "band plays on and the river keeps rolling to the sea; "
        "every duplicated training span like this one should be "
        "excised from all but one canonical document copy."
    )
    rows = [
        (1, "AAAA " + shared + " unique tail one " + "z" * 40),
        (2, "totally different prefix!! " + shared + " other tail"),
        (3, shared),
        (4, "short"),
        (5, "nothing in common with anything else here at all......." * 2),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in __import__(
            "akvorado_spark.operators.dedup", fromlist=["exact_substring_dedup"]
        )
        .exact_substring_dedup(docs, "text", "doc_id", window=40, stride=10)
        .collect()
    }
    # doc 1 owns the shared run (lowest id) → absent from the result
    assert 1 not in out and 4 not in out and 5 not in out
    for d in (2, 3):
        assert out[d]["n_spans"] == 1
        assert shared not in out[d]["cleaned"]
    # doc 3 is entirely the shared run: every window dupes, the whole
    # text collapses to the unaligned tail remainder
    assert out[3]["chars_removed"] >= 40
    # removing never destroys non-duplicated unique markers
    assert "different prefix" in out[2]["cleaned"]


def test_exact_substring_dedup_adjacent_spans_merge(spark):
    """Starts exactly window apart (gap == 0) merge into ONE span."""
    from akvorado_spark.operators.dedup import excise_spans

    docs = spark.createDataFrame([(1, "a" * 100)], ["doc_id", "text"])
    spans = spark.createDataFrame(
        [(1, [0, 40], 2)], ["doc_id", "starts", "n_dup_windows"]
    )
    row = excise_spans(spans, docs, "text", "doc_id", window=40).collect()[0]
    assert row["n_spans"] == 1
    assert row["chars_removed"] == 80
    assert row["cleaned"] == "a" * 20


def _ref_winnow_anchors(text: str, window: int, stride: int) -> list[int]:
    """Plain-python reference of the winnowing b+f anchor rule."""
    n = len(text) - window + 1
    if n <= 0:
        return []
    hs = [
        sum(ord(text[i + o]) * m for o, m in ((0, 3), (1, 5), (2, 7), (3, 11)))
        for i in range(n)
    ]
    out = []
    for i in range(n):
        b = 0
        for o in range(1, stride):
            if i - o < 0 or hs[i - o] >= hs[i]:
                b += 1
            else:
                break
        f = 0
        for o in range(1, stride):
            if i + o > n - 1 or hs[i + o] > hs[i]:
                f += 1
            else:
                break
        if b + f >= stride - 1:
            out.append(i)
    return out


def test_winnow_anchors_match_python_reference(spark):
    """The Spark winnowing expression equals the plain-python b+f rule
    on random and adversarial content (increasing/decreasing hash
    ramps, constant runs, periodic content, short docs)."""
    import random
    import string

    from akvorado_spark.operators.dedup import substring_window_occurrences

    rng = random.Random(11)
    W, S = 24, 7
    texts = [
        "".join(rng.choice(string.ascii_letters + " .,") for _ in range(rng.randrange(0, 300)))
        for _ in range(30)
    ]
    texts += [
        "a" * 120,                        # constant hash (old blind spot)
        "abcdefghijklmnopqrstuvwxyz" * 6,  # periodic
        "".join(chr(33 + i) for i in range(90)),          # rising ramp
        "".join(chr(122 - i) for i in range(90)),         # falling ramp
        "ab" * 70,                        # period-2
        "x" * (W - 1),                    # too short: no candidates
        "x" * W,                          # exactly one candidate
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, list[int]] = {i: [] for i, _ in rows}
    for r in substring_window_occurrences(docs, "text", "doc_id", W, S).collect():
        got[r["doc_id"]].append(r["s"])
    for i, t in rows:
        assert sorted(got[i]) == _ref_winnow_anchors(t, W, S), (i, t[:40])


def test_winnow_anchor_guarantee_every_stride_window(spark):
    """ADVICE r7: the anchor rule must leave no blind spots — every run
    of ``stride`` consecutive candidate positions contains >= 1 anchor,
    for every content class (verified on the reference impl, which the
    Spark parity test above pins)."""
    import random
    import string

    rng = random.Random(23)
    W, S = 24, 7
    cases = [
        "a" * 300,
        "ab" * 150,
        "abc" * 100,
        "".join(chr(33 + (i % 90)) for i in range(300)),
        "".join(rng.choice(string.printable[:94]) for _ in range(300)),
        "the same sentence. " * 20,
    ]
    for t in cases:
        anchors = set(_ref_winnow_anchors(t, W, S))
        n = len(t) - W + 1
        assert anchors, t[:30]
        for start in range(0, n - S + 1):
            assert anchors & set(range(start, start + S)), (t[:30], start)


def test_exact_substring_dedup_repeated_char_runs(spark):
    """The old mod-stride anchors were blind to constant-hash runs
    (e.g. 'a'*N: hash 2522 ≢ 0 mod 10 → zero anchors).  With winnowing
    a long repeated-char run shared at DIFFERENT offsets is excised
    from every doc but the owner."""
    from akvorado_spark.operators.dedup import exact_substring_dedup

    run = "a" * 120
    rows = [
        (1, "unique lead-in text then " + run),
        (2, run + " completely different trailing content here"),
        (3, "no run at all, just ordinary unrelated filler words"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(
            docs, "text", "doc_id", window=40, stride=10
        ).collect()
    }
    assert 1 not in out and 3 not in out  # owner + untouched doc
    assert 2 in out
    assert "a" * 40 not in out[2]["cleaned"]
    assert "different trailing content" in out[2]["cleaned"]


def test_bigram_lm_scores_match_python(spark):
    import math

    from akvorado_spark.operators.lm import bigram_lm_scores

    rows = [
        (1, "a b a b c"),
        (2, "a b"),
        (3, "c c c"),
        (4, "single"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_lm_scores(docs, "text", "doc_id").collect()}

    # reference model in plain python
    bigrams = {}
    contexts = {}
    vocab = set()
    per_doc = {}
    for doc_id, text in rows:
        ws = text.split()
        bgs = list(zip(ws, ws[1:]))
        per_doc[doc_id] = bgs
        for w1, w2 in bgs:
            bigrams[(w1, w2)] = bigrams.get((w1, w2), 0) + 1
            contexts[w1] = contexts.get(w1, 0) + 1
            vocab.add(w2)
    v = len(vocab)
    for doc_id, bgs in per_doc.items():
        if not bgs:
            assert doc_id not in got
            continue
        lp = sum(
            round(math.log((bigrams[b] + 1.0) / (contexts[b[0]] + v)) * 1e6)
            for b in bgs
        )
        assert got[doc_id]["n_bigrams"] == len(bgs)
        assert got[doc_id]["lp_micro"] == lp


def test_bigram_lm_foreign_corpus_oov_floor(spark):
    """Scoring under an LM trained elsewhere: unseen bigrams get the
    add-one floor via the left-join c→0 fallbacks, never a null."""
    from akvorado_spark.operators.lm import (
        bigram_lm_scores,
        doc_bigrams,
        train_bigram_lm,
    )

    train = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    lm = train_bigram_lm(doc_bigrams(train, "text", "doc_id"))
    out = bigram_lm_scores(
        spark.createDataFrame([(9, "x y")], ["doc_id", "text"]),
        "text",
        "doc_id",
        lm=lm,
    ).collect()
    assert len(out) == 1
    import math

    # V = 2 ({a, b} as successors); unseen (x,y) → ln(1/2)
    assert out[0]["lp_micro"] == round(math.log(1.0 / 2.0) * 1e6)


def test_perplexity_buckets_order_and_sizes(spark):
    from akvorado_spark.operators.lm import perplexity_buckets

    scored = spark.createDataFrame(
        [(i, 10, -1000 * i) for i in range(1, 7)],
        ["doc_id", "n_bigrams", "lp_micro"],
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(scored, "doc_id").collect()
    }
    assert got == {1: "head", 2: "head", 3: "middle", 4: "middle", 5: "tail", 6: "tail"}


def test_temperature_rates_properties(spark):
    import pytest as _pytest

    from akvorado_spark.operators.sampling import mix_sources, temperature_rates

    counts = {"web": 8000, "wiki": 1000, "code": 1000}
    # tau=1 → natural mix: every rate 1.0
    assert all(abs(r - 1.0) < 1e-12 for r in temperature_rates(counts, 1.0).values())
    # tau=0 → equalized: every source emits the same expected rows
    r0 = temperature_rates(counts, 0.0)
    emitted = {s: r0[s] * counts[s] for s in counts}
    vals = list(emitted.values())
    assert max(vals) - min(vals) < 1e-6
    # interpolation upsamples small sources monotonically as tau drops
    r_half = temperature_rates(counts, 0.5)
    assert r_half["wiki"] > 1.0 > r_half["web"]
    # expected emitted total ≈ target_total at any tau
    rt = temperature_rates(counts, 0.3, target_total=5000)
    assert abs(sum(rt[s] * counts[s] for s in counts) - 5000) < 1e-6
    with _pytest.raises(ValueError):
        temperature_rates(counts, -0.1)
    with _pytest.raises(ValueError):
        temperature_rates({"a": 0}, 0.5)

    # end-to-end through mix_sources: realized counts track expectation
    docs = spark.createDataFrame(
        [(i, "web" if i < 800 else ("wiki" if i < 900 else "code"))
         for i in range(1000)],
        ["doc_id", "source"],
    )
    got = (
        mix_sources(docs, temperature_rates(
            {"web": 800, "wiki": 100, "code": 100}, 0.0))
        .groupBy("source").count().collect()
    )
    by_src = {r["source"]: r["count"] for r in got}
    for s in by_src:
        assert abs(by_src[s] - 1000 / 3) / (1000 / 3) < 0.25, by_src


def _py_bpe(corpus_words: dict[str, int], n_merges: int):
    """Pure-Python BPE reference (Sennrich), lexicographic tie-break."""
    vocab = {tuple(list(w) + ["</w>"]): n for w, n in corpus_words.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, n in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] = pairs.get((x, y), 0) + n
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p[0], p[1]))
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges, vocab


def test_train_bpe_matches_python_reference(spark):
    from akvorado_spark.operators.bpe import bpe_token_counts, train_bpe

    rows = [
        (1, "low lower lowest low low"),
        (2, "newer newest new new newer"),
        (3, "wider wide widest low"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus_words: dict[str, int] = {}
    for _, t in rows:
        for w in t.split():
            corpus_words[w] = corpus_words.get(w, 0) + 1

    merges = train_bpe(docs, "text", n_merges=12)
    ref_merges, ref_vocab = _py_bpe(corpus_words, 12)
    assert merges == ref_merges

    # re-derive per-word token counts under the reference merges
    word_tokens = {}
    for w in corpus_words:
        syms = list(w) + ["</w>"]
        for a, b in ref_merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        word_tokens[w] = len(syms)
    want = {
        doc_id: sum(word_tokens[w] for w in t.split())
        for doc_id, t in rows
    }
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(docs, "text", "doc_id", merges).collect()
    }
    assert got == want


def test_train_bpe_greedy_overlap_and_early_stop(spark):
    from akvorado_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(1, "aaa aaa")], ["doc_id", "text"])
    merges = train_bpe(docs, "text", n_merges=50)
    # 'aaa</w>' collapses to one symbol in ≤ 3 merges, then training
    # stops early (no pairs left) instead of spinning
    assert len(merges) <= 4
    assert merges[0] == ("a", "a")


def test_perplexity_buckets_approx_matches_exact(spark):
    """The approxQuantile (scale) bucketing agrees with the exact ntile
    form away from boundaries: >= 95% identical labels, and bucket
    ordering is consistent (every head score >= every tail score)."""
    from akvorado_spark.operators.lm import (
        bigram_lm_scores,
        perplexity_buckets,
        perplexity_buckets_approx,
    )

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    scored = bigram_lm_scores(docs, "text", "doc_id").localCheckpoint()
    exact = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(scored, "doc_id").collect()
    }
    approx_rows = perplexity_buckets_approx(scored, "doc_id", rel_err=0.0).collect()
    approx = {r["doc_id"]: r["bucket"] for r in approx_rows}
    same = sum(exact[d] == approx[d] for d in exact)
    assert same / len(exact) >= 0.95, same / len(exact)
    avg = {r["doc_id"]: r["lp_micro"] / r["n_bigrams"] for r in approx_rows}
    heads = [avg[d] for d, b in approx.items() if b == "head"]
    tails = [avg[d] for d, b in approx.items() if b == "tail"]
    assert min(heads) >= max(tails)


def test_line_dedup_boilerplate_semantics(spark):
    from akvorado_spark.operators.dedup import line_dedup

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    rows = [
        (1, "unique alpha\n" + banner + "\nbody one"),
        (2, banner + "\nbody two\n\nbody two b"),
        (3, "body three\n" + banner),
        (4, "no boilerplate here at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    out = {r["doc_id"]: r for r in line_dedup(docs, "text", "doc_id").collect()}
    # the banner vanishes from EVERY doc (boilerplate mode)
    for d in (1, 2, 3):
        assert banner not in out[d]["cleaned"]
        assert out[d]["n_removed"] == 1
    assert out[4]["n_removed"] == 0
    assert out[1]["cleaned"] == "unique alpha\nbody one"
    # blank separator lines survive (shorter than min_len)
    assert out[2]["cleaned"] == "body two\n\nbody two b"
    assert out[2]["n_lines"] == 4

    # keep_owner: the lowest doc keeps its copy
    kept = {
        r["doc_id"]: r
        for r in line_dedup(docs, "text", "doc_id", keep_owner=True).collect()
    }
    assert banner in kept[1]["cleaned"]
    assert banner not in kept[2]["cleaned"] and banner not in kept[3]["cleaned"]

    # min_docs=3: a line shared by only 2 docs survives
    two = spark.createDataFrame(
        [(1, "shared line here\nx"), (2, "shared line here\ny"), (3, "z")],
        ["doc_id", "text"],
    )
    out3 = {
        r["doc_id"]: r
        for r in line_dedup(two, "text", "doc_id", min_docs=3).collect()
    }
    assert all(r["n_removed"] == 0 for r in out3.values())
    out2 = {
        r["doc_id"]: r
        for r in line_dedup(two, "text", "doc_id", min_docs=2).collect()
    }
    assert out2[1]["n_removed"] == 1 and out2[2]["n_removed"] == 1


def test_line_dedup_hash_and_string_paths_agree(spark):
    from akvorado_spark.operators.dedup import line_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = line_dedup(docs, "text", "doc_id", min_len=8).orderBy("doc_id").collect()
    b = (
        line_dedup(docs, "text", "doc_id", min_len=8, key_fn=lambda c: f"xxhash64({c})")
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


def test_line_dedup_identity_key_matches_explicit_identity(spark):
    """``key_fn=None`` must equal an explicit identity ``key_fn`` on
    both the window (min_docs=2) and the aggregate-join (min_docs>2)
    branches — pins that the default path and the caller-supplied-key
    path share semantics (an r13 attempt to shed the ``__k`` alias for
    the None path was measured and reverted; this parity is the
    invariant any future retry must preserve)."""
    from akvorado_spark.operators.dedup import line_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for md in (2, 3):
        a = (
            line_dedup(docs, "text", "doc_id", min_docs=md, min_len=8)
            .orderBy("doc_id")
            .collect()
        )
        b = (
            line_dedup(
                docs, "text", "doc_id", min_docs=md, min_len=8,
                key_fn=lambda c: c,
            )
            .orderBy("doc_id")
            .collect()
        )
        assert a == b


def test_bigram_lm_hash_keyed_scores_equal_string_keyed(spark):
    """Keying the bigram pipeline on word hashes (xxhash64 production /
    md5-prefix gate) yields the EXACT same per-doc (n_bigrams,
    lp_micro) as string keys on the corpus — the shuffle carries 8-byte
    keys instead of word strings with zero result drift (collisions
    would have to occur inside this corpus's vocabulary to differ)."""
    from pyspark.sql import functions as F

    from akvorado_spark.operators.lm import bigram_lm_scores
    from akvorado_spark.operators.text import portable_word_hash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    want = {
        r["doc_id"]: (r["n_bigrams"], r["lp_micro"])
        for r in bigram_lm_scores(docs, "text", "doc_id").collect()
    }
    for key_fn in (portable_word_hash, lambda w: f"xxhash64({w})"):
        got = {
            r["doc_id"]: (r["n_bigrams"], r["lp_micro"])
            for r in bigram_lm_scores(
                docs, "text", "doc_id", key_fn=key_fn
            ).collect()
        }
        assert got == want


def test_pack_documents_bin_arithmetic_exact_past_2_53(spark):
    """The bin id comes from true integer `div`, not a double route: a
    cumulative token count past 2^53 (unrepresentable as a double)
    still lands in the exactly-right bin."""
    from pyspark.sql import functions as F

    from akvorado_spark.operators.sampling import pack_documents

    big = (1 << 53) + 1  # 9007199254740993: rounds to 2^53 as a double
    rows = [("k", 1, big), ("k", 2, 1), ("k", 3, 1)]
    df = spark.createDataFrame(rows, "grp string, doc_id long, n long")
    out = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in pack_documents(
            df, "n", 2, key_cols=("grp",), id_col="doc_id"
        ).collect()
    }
    # reconstruct the python-exact expectation in portable-hash order
    import hashlib

    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[1]).encode()).hexdigest(), r[1])
    )
    cum = 0
    for _, doc_id, n in order:
        # python int // and % are exact at any magnitude — the twin the
        # double route would diverge from past 2^53
        assert out[doc_id] == (cum // 2, cum % 2), (doc_id, cum)
        cum += n


def test_capped_lsh_emits_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate id rows feeding the capped expansion would emit
    id_a == id_b edges via the clique/star window path (the old
    collect_set path never could) — they must be filtered (ADVICE
    r11), and real cross-id pairs must survive."""
    from akvorado_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, "the very same text in every row of this corpus") for i in (1, 1, 1, 2, 3)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, "text", "doc_id", n_hashes=8)
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, "doc_id", bands=4, n_hashes=8, max_bucket=2
        ).collect()
    }
    assert all(a != b for a, b in got)
    assert got == {(1, 2), (1, 3)}


def test_certification_sample_identity_under_cap(spark):
    from akvorado_spark.operators.sampling import certification_sample

    df = spark.range(0, 37).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"] for r in certification_sample(df, 100, "doc_id").collect()}
    assert got == set(range(37))  # cap above the corpus ⇒ identity set


def test_certification_sample_deterministic_and_duckdb_replayable(spark):
    """The capped subset is a pure function of the ids: stable across
    partitionings and reproducible by a DuckDB ORDER BY md5 LIMIT n —
    the property that lets an oracle replay a capped cert twin."""
    import duckdb

    from akvorado_spark.operators.sampling import certification_sample

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = sorted(
        r["doc_id"] for r in certification_sample(df, 40, "doc_id").collect()
    )
    again = sorted(
        r["doc_id"]
        for r in certification_sample(df.repartition(7), 40, "doc_id").collect()
    )
    assert got == again and len(got) == 40
    duck = [
        r[0]
        for r in duckdb.connect().execute(
            "SELECT i FROM generate_series(0, 499) t(i) "
            "ORDER BY md5(CAST(i AS VARCHAR)), i LIMIT 40"
        ).fetchall()
    ]
    assert got == sorted(duck)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        certification_sample(df, 0, "doc_id")
