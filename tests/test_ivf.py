"""IVF approximate-nearest-neighbor tests (SURVEY training-pipeline
ops: similarity search scale path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign,
    ivf_topk,
    seed_centroids,
)
from akvorado_spark.sources.tables import load_table

from tests.conftest import SF_DIR


def _vecs(spark):
    return load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")


def test_ivf_assign_puts_centroid_in_own_cell(spark):
    vecs = _vecs(spark).filter("vec_id < 50")
    cents = seed_centroids(vecs, 4)
    assigned = ivf_assign(vecs, cents)
    # centroid vectors are their own nearest centroid
    cmap = {r["c_id"]: r["c_vec"] for r in cents.collect()}
    rows = {r["vec_id"]: r["__cell"] for r in assigned.collect()}
    ids = sorted(rows)[:4]  # the 4 lowest ids seeded the centroids
    for i, vid in enumerate(ids, start=1):
        assert rows[vid] == i
    assert len(cmap) == 4


def test_ivf_probe_recalls_bucket_neighbors(spark):
    vecs = _vecs(spark).filter("vec_id < 200")
    # planted copy: vec 10's embedding under a new id → must be rank-1
    planted = vecs.filter("vec_id = 10").select(
        F.lit(990_000).alias("vec_id"), "embedding"
    )
    table = vecs.unionAll(planted)
    queries = vecs.filter("vec_id = 10").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = seed_centroids(vecs, 8)
    out = ivf_topk(table.filter("vec_id != 10"), queries, cents, k=3, nprobe=3).collect()
    assert out and out[0]["vec_id"] == 990_000 and out[0]["sim"] == 1.0


def test_ivf_matches_bruteforce_within_probed_cells(spark):
    vecs = _vecs(spark).filter("vec_id < 300")
    queries = vecs.filter("vec_id < 2").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = seed_centroids(vecs, 4)
    table = vecs.filter("vec_id >= 2")
    # with nprobe = all cells, IVF degenerates to exact brute force
    approx = ivf_topk(table, queries, cents, k=5, nprobe=4).collect()
    exact = brute_force_topk(table, queries, k=5).collect()
    assert [(r["q_id"], r["vec_id"]) for r in approx] == [
        (r["q_id"], r["vec_id"]) for r in exact
    ]


def test_kmeans_centroids_separates_blobs(spark):
    """Three well-separated blobs: trained centroids land near the blob
    means and IVF assignment groups blob members together."""
    import random

    from akvorado_spark.operators.similarity import ivf_assign, kmeans_centroids

    rng = random.Random(13)
    blobs = [(10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0)]
    rows = []
    for i in range(90):
        b = blobs[i % 3]
        rows.append(
            (i, [c + rng.uniform(-0.5, 0.5) for c in b])
        )
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_centroids(vecs, 3, iters=6)
    got = {tuple(round(x) for x in r["c_vec"]) for r in cents.collect()}
    assert got == {(10, 0, 0), (0, 10, 0), (0, 0, 10)}

    assigned = ivf_assign(vecs, cents)
    cells = {}
    for r in assigned.collect():
        cells.setdefault(r["vec_id"] % 3, set()).add(r["__cell"])
    # every blob maps to exactly one distinct cell
    assert all(len(c) == 1 for c in cells.values())
    assert len(set().union(*cells.values())) == 3


def test_kmeans_centroids_deterministic(spark):
    from akvorado_spark.operators.similarity import kmeans_centroids

    rows = [(i, [float(i % 7), float(i % 3)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, kmeans_centroids(vecs, 4, iters=3).collect()))
    b = sorted(map(tuple, kmeans_centroids(vecs, 4, iters=3).collect()))
    assert [(c, list(v)) for c, v in a] == [(c, list(v)) for c, v in b]


def test_ann_recall_at_k_measured(spark):
    """Measured recall@10 vs brute force on the real embeddings corpus
    — quantified quality floor for both approximate variants, and the
    IVF nprobe knob demonstrably trades recall for probes."""
    from akvorado_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
        lsh_topk,
        suggest_planes,
    )
    from akvorado_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_MED

    vecs = load_table(spark, "embeddings", SF_DIR_MED).select("vec_id", "embedding")
    queries = vecs.filter("vec_id % 97 = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dim = len(vecs.select("embedding").first()["embedding"])
    n = vecs.count()
    k = 10

    def recall(df) -> float:
        approx = {
            (r["q_id"], r["vec_id"]) for r in df.collect() if r["q_id"] != r["vec_id"]
        }
        hit = len(approx & exact_pairs)
        return hit / len(exact_pairs)

    exact_pairs = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(vecs, queries, k=k).collect()
        if r["q_id"] != r["vec_id"]
    }
    assert exact_pairs

    cents = kmeans_centroids(vecs, n_cells=16, iters=5)
    r_ivf2 = recall(ivf_topk(vecs, queries, cents, k=k, nprobe=2))
    r_ivf6 = recall(ivf_topk(vecs, queries, cents, k=k, nprobe=6))
    assert r_ivf6 >= r_ivf2  # more probes never lose recall
    assert r_ivf6 >= 0.5, (r_ivf2, r_ivf6)

    # the corpus embeddings are near-random (NN cosine ~0.35), the
    # regime where a SINGLE full-sketch bucket probe is bucket-share
    # limited by construction: recall ~ occupancy/n = 1/2^planes.  The
    # honest assertions are (a) it clears that random-bucketing
    # baseline and (b) fewer planes -> bigger buckets -> more recall —
    # the knob works in the measured direction.  (Guaranteed-recall on
    # genuinely similar vectors is covered by the planted-copy test in
    # test_pipeline_ops.)
    planes = suggest_planes(n, target_bucket=256)
    r_lsh = recall(lsh_topk(vecs, queries, k=k, dim=dim, n_planes=planes))
    assert r_lsh >= 0.5 / (2 ** planes), r_lsh
    r_lsh_wide = recall(lsh_topk(vecs, queries, k=k, dim=dim, n_planes=planes - 2))
    assert r_lsh_wide >= r_lsh, (r_lsh, r_lsh_wide)
    # multiprobe: +n_planes 1-bit-flip buckets per query — the recall
    # amplifier that doesn't touch the index
    r_multi = recall(
        lsh_topk(vecs, queries, k=k, dim=dim, n_planes=planes, multiprobe=1)
    )
    assert r_multi >= max(2 * r_lsh, 0.2), (r_lsh, r_multi)


def test_semdedup_greedy_prefix(spark):
    """SemDeDup drop rule: within a cluster, a vector is dropped iff a
    better-ranked member (higher centroid cosine, ties by lower id) is
    similar above threshold — including when that member was itself
    dropped (greedy prefix, no transitive closure)."""
    from akvorado_spark.operators.similarity import semdedup
    import pyspark.sql.types as T

    st = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    # cluster around +x: v1 dead-on, v2 close to v1, v3 close to v2 but
    # not to v1 in cos terms; far -y singleton forms the other cluster
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.95, 0.3122]),   # cos(v1,v2) ~ 0.95
            (3, [0.6, 0.8]),       # cos(v1,v3)=0.6, cos(v2,v3)~0.82
            (9, [0.0, -1.0]),
        ],
        st,
    )
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, -1.0])], "c_id int, c_vec array<double>"
    )
    out = {r["vec_id"]: r["kept"] for r in semdedup(vecs, cents, 0.8).collect()}
    # rank in cluster 1: v1 (csim 1.0) > v2 (~0.95) > v3 (0.6)
    # v2 dropped (sim to v1 >= .8); v3 dropped via v2 even though
    # cos(v1,v3)=0.6 < threshold and v2 itself was dropped
    assert out == {1: True, 2: False, 3: False, 9: True}
    # raising the threshold above the v2–v3 similarity keeps v3
    out2 = {r["vec_id"]: r["kept"] for r in semdedup(vecs, cents, 0.9).collect()}
    assert out2 == {1: True, 2: False, 3: True, 9: True}


def test_semdedup_precomputed_norm_identical(spark):
    """norm_col: a caller-precomputed norm column yields the SAME rows
    and the SAME output schema as the self-computed path, for both the
    single- and two-level assignments (the r13 shared-norm
    optimization must be a pure plan change, never a result change)."""
    from akvorado_spark.operators.similarity import norm, semdedup

    vecs = load_table(spark, "embeddings", SF_DIR).limit(300).select(
        "vec_id", "embedding"
    )
    cents = seed_centroids(vecs, 6)
    withn = vecs.select(
        "vec_id", "embedding", norm("embedding").alias("__n")
    )
    for kw in ({}, {"two_level": True}):
        base = semdedup(vecs, cents, 0.4, **kw)
        shared = semdedup(withn, cents, 0.4, norm_col="__n", **kw)
        assert shared.columns == base.columns
        key = lambda r: r["vec_id"]
        assert sorted(shared.collect(), key=key) == sorted(
            base.collect(), key=key
        )


def test_two_level_assign_no_vector_lost(spark):
    """Every vector gets a cell under the default √k supers — a
    childless super can never win a probe (split_centroids restricts
    stage 1 to live supers)."""
    from akvorado_spark.operators.similarity import (
        assign_cells_two_level,
        seed_centroids,
        split_centroids,
    )

    vecs = load_table(spark, "embeddings", SF_DIR).limit(400).select(
        "vec_id", "embedding"
    )
    cents = seed_centroids(vecs, 16)
    supers, children = split_centroids(cents)
    out = assign_cells_two_level(vecs, supers, children)
    assert out.count() == vecs.count()
    assert out.filter(F.col("__cell").isNull()).count() == 0
    # supers really are ~sqrt(k): the broadcast side shrank
    assert supers.count() <= 4


def test_two_level_assign_exact_when_supers_equal_centroids(spark):
    """With n_super = k each centroid supers ITSELF (cos=1 to itself
    wins), so stage 2 degenerates to the single-level argmax — the
    two-level machinery reproduces single-level assignment exactly."""
    from akvorado_spark.operators.similarity import (
        assign_cells_two_level,
        cosine,
        seed_centroids,
        split_centroids,
    )

    vecs = load_table(spark, "embeddings", SF_DIR).limit(300).select(
        "vec_id", "embedding"
    )
    k = 12
    cents = seed_centroids(vecs, k)
    supers, children = split_centroids(cents, n_super=k)
    two = assign_cells_two_level(vecs, supers, children)

    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "__sim", F.round(cosine("embedding", "c_vec"), 6)
    )
    one = scored.groupBy("vec_id").agg(
        F.expr("max_by(c_id, struct(__sim, -c_id))").alias("__cell"),
        F.max("__sim").alias("__csim"),
    )
    got = {r["vec_id"]: (r["__cell"], r["__csim"]) for r in two.collect()}
    want = {r["vec_id"]: (r["__cell"], r["__csim"]) for r in one.collect()}
    assert got == want


def test_semdedup_two_level_drops_subset_sanity(spark):
    """two_level=True produces a valid kept/dropped partition over the
    same input (every row classified exactly once)."""
    from akvorado_spark.operators.similarity import seed_centroids, semdedup

    vecs = load_table(spark, "embeddings", SF_DIR).limit(400).select(
        "vec_id", "embedding"
    )
    cents = seed_centroids(vecs, 9)
    sd = semdedup(vecs, cents, 0.4, two_level=True)
    assert sd.count() == vecs.count()
    assert sd.select("vec_id").distinct().count() == vecs.count()
    assert set(sd.select("kept").distinct().toPandas()["kept"]) <= {True, False}


def test_kmeans_hierarchical_trains_usable_centroids(spark):
    """The fully distributed two-stage trainer returns k' centroids
    (k' <= requested, >= n_super) with distinct ids that separate the
    corpus at least as well as the seed pick: mean best-cosine over a
    sample is no worse."""
    from akvorado_spark.operators.similarity import (
        cosine,
        kmeans_centroids_hierarchical,
        seed_centroids,
    )

    vecs = load_table(spark, "embeddings", SF_DIR).limit(600).select(
        "vec_id", "embedding"
    )
    cents = kmeans_centroids_hierarchical(vecs, 16, iters=2)
    rows = cents.collect()
    assert 4 <= len(rows) <= 16
    assert len({r["c_id"] for r in rows}) == len(rows)
    dim = len(vecs.first()["embedding"])
    assert all(len(r["c_vec"]) == dim for r in rows)

    def mean_best(cdf):
        scored = vecs.crossJoin(F.broadcast(cdf)).withColumn(
            "__s", cosine("embedding", "c_vec")
        )
        best = scored.groupBy("vec_id").agg(F.max("__s").alias("b"))
        return best.agg(F.avg("b")).collect()[0][0]

    trained = mean_best(cents)
    seeded = mean_best(seed_centroids(vecs, len(rows)))
    assert trained >= seeded - 1e-9


def test_quantize_embeddings_roundtrip_bound(spark):
    """int8 codes reconstruct within scale/2 per element; quantized_dot
    approximates the exact dot; all-zero vectors quantize cleanly."""
    from akvorado_spark.operators.similarity import (
        dequantize_embeddings,
        dot,
        quantize_embeddings,
        quantized_dot,
    )

    vecs = load_table(spark, "embeddings", SF_DIR).limit(200).select(
        "vec_id", "embedding"
    )
    zero = spark.createDataFrame(
        [(10_000_000, [0.0] * len(vecs.first()["embedding"]))],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(vecs.unionByName(zero))
    # codes in int8 range; zero vector → scale 0, codes 0
    rng = q.select(
        F.max(F.array_max("q_code")).alias("hi"),
        F.min(F.array_min("q_code")).alias("lo"),
    ).collect()[0]
    assert rng["hi"] <= 127 and rng["lo"] >= -127
    zrow = q.filter("vec_id = 10000000").collect()[0]
    assert zrow["q_scale"] == 0.0 and set(zrow["q_code"]) == {0}
    # max reconstruction error <= scale/2 (+eps)
    err = q.withColumn("recon", dequantize_embeddings("q_code", "q_scale")).select(
        F.max(
            F.aggregate(
                F.zip_with(
                    "embedding", "recon", lambda a, b: F.abs(a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            - F.col("q_scale") / 2
        ).alias("worst")
    ).collect()[0]["worst"]
    assert err <= 1e-9
    # quantized dot tracks the exact dot within the linearized bound
    a = q.alias("a").filter("vec_id % 7 = 0")
    b = q.alias("b").filter("vec_id % 7 = 1")
    pairs = a.crossJoin(b).limit(300).select(
        dot("a.embedding", "b.embedding").alias("exact"),
        quantized_dot("a.q_code", "b.q_code", "a.q_scale", "b.q_scale").alias("approx"),
    )
    worst = pairs.select(
        F.max(F.abs(F.col("exact") - F.col("approx"))).alias("w"),
        F.max(F.abs("exact")).alias("m"),
    ).collect()[0]
    assert worst["w"] <= max(0.02 * worst["m"], 1e-6)


def test_pq_encode_seed_vectors_reconstruct_themselves(spark):
    """Every codebook seed vector must encode to its own code in every
    subspace (distance 0, tie → lowest index handles duplicates)."""
    from akvorado_spark.operators.pq import (
        global_scale,
        pq_codebooks_from_seeds,
        pq_encode,
        quantize_global,
    )

    vecs = _vecs(spark).filter("vec_id < 100")
    q = quantize_global(vecs, global_scale(vecs))
    books = pq_codebooks_from_seeds(q, m=4, ks=8)
    enc = {r["vec_id"]: r["pq_code"] for r in pq_encode(q, books).collect()}
    seed_ids = sorted(enc)[:8]
    for c, vid in enumerate(seed_ids):
        assert enc[vid] == [c, c, c, c], (vid, enc[vid])


def test_pq_adc_copy_invariants(spark):
    """An exact copy quantizes to identical codes, hence an identical
    ADC score and adjacent ranks (ADC ranks by RECONSTRUCTION dot —
    winning outright is not guaranteed with a coarse book, tying with
    your twin is).  Holds for seeded and trained codebooks."""
    from akvorado_spark.operators.pq import (
        global_scale,
        pq_adc_topk,
        pq_codebooks_from_seeds,
        pq_encode,
        pq_train_codebooks,
        quantize_global,
    )

    vecs = _vecs(spark).filter("vec_id < 200")
    planted = vecs.filter("vec_id = 42").select(
        F.lit(990_000).alias("vec_id"), "embedding"
    )
    corpus = vecs.unionAll(planted)
    q = quantize_global(corpus, global_scale(corpus))
    base = q.filter("vec_id >= 10").select("vec_id", "qv")
    queries = q.filter("vec_id = 42").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    n_base = base.count()
    for books in (
        pq_codebooks_from_seeds(base, m=4, ks=8),
        pq_train_codebooks(base, m=4, ks=8, iters=2),
    ):
        enc = pq_encode(base, books)
        codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
        assert codes[42] == codes[990_000]
        full = {
            r["vec_id"]: (r["adc_score"], r["rank"])
            for r in pq_adc_topk(enc, queries, books, k=n_base).collect()
        }
        assert full[42][0] == full[990_000][0]
        assert full[990_000][1] == full[42][1] + 1  # tie → id order


def test_pq_adc_approximates_exact_ranking(spark):
    """ADC top-5 must overlap the exact int-dot top-5 (recall ≥ 2/5 on
    near-random vectors with a tiny 8-code book; planted structure is
    tested above — this guards against systematic scoring bugs)."""
    from akvorado_spark.operators.pq import (
        global_scale,
        pq_adc_topk,
        pq_codebooks_from_seeds,
        pq_encode,
        quantize_global,
    )

    vecs = _vecs(spark).filter("vec_id < 300")
    q = quantize_global(vecs, global_scale(vecs))
    base = q.filter("vec_id >= 3").select("vec_id", "qv")
    queries = q.filter("vec_id < 3").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    books = pq_codebooks_from_seeds(base, m=8, ks=16)
    got = pq_adc_topk(pq_encode(base, books), queries, books, k=5).collect()
    assert {r["q_id"] for r in got} == {0, 1, 2}
    for r in got:
        assert isinstance(r["adc_score"], int)


def test_random_projection_preserves_distances(spark):
    """JL property: per-pair squared-distance ratios are chi²_d/d
    distributed (std ≈ sqrt(2/d)); with out_dim=32 and ~190 pairs the
    extremes sit within ±4σ of 1 and the median is tight."""
    import itertools

    import numpy as np

    from akvorado_spark.operators.similarity import project_embeddings

    vecs = _vecs(spark).filter("vec_id < 20")
    rows = project_embeddings(vecs, 32, 64).select(
        "vec_id", "embedding", "proj"
    ).collect()
    by_id = {r["vec_id"]: (np.array(r["embedding"]), np.array(r["proj"])) for r in rows}
    ratios = []
    for a, b in itertools.combinations(sorted(by_id), 2):
        dx = float(np.sum((by_id[a][0] - by_id[b][0]) ** 2))
        dy = float(np.sum((by_id[a][1] - by_id[b][1]) ** 2))
        if dx > 0:
            ratios.append(dy / dx)
    assert 0.2 < min(ratios) and max(ratios) < 2.2, (min(ratios), max(ratios))
    # median ratio ≈ 1 (unbiased)
    assert abs(sorted(ratios)[len(ratios) // 2] - 1.0) < 0.2


def test_fixedpoint_projection_matches_float_up_to_scale(spark):
    """The integer JL twin (the oracle-gated path) must agree with the
    float projection up to the constant micro·127·√d/gmax scale plus
    bounded quantization error — pinning that swapping the gate to
    integers did not change the geometry it certifies."""
    import numpy as np

    from akvorado_spark.operators.pq import global_scale, quantize_global
    from akvorado_spark.operators.similarity import (
        project_embeddings,
        project_embeddings_fixedpoint,
    )

    vecs = _vecs(spark).filter("vec_id < 60")
    gmax = float(global_scale(vecs).first()["gmax"])
    fl = {
        r["vec_id"]: np.array(r["proj"])
        for r in project_embeddings(vecs, 8, 64).select("vec_id", "proj").collect()
    }
    q = quantize_global(vecs, global_scale(vecs)).select("vec_id", "qv")
    fx = {
        r["vec_id"]: np.array(r["proj_q"], dtype=np.float64)
        for r in project_embeddings_fixedpoint(q, 8, 64)
        .select("vec_id", "proj_q")
        .collect()
    }
    scale = 1_000_000.0 * 127.0 * np.sqrt(8) / gmax
    errs = [
        np.max(np.abs(fx[v] / scale - fl[v])) for v in fl
    ]
    # per-element int8 quantization error ≤ gmax/254; 64-dim dot of
    # N(0,1) planes → loose deterministic bound well under the signal
    assert max(errs) < 0.25 * max(np.max(np.abs(p)) for p in fl.values()), max(errs)
    # and the two rank the vectors the same way per component
    # (Spearman, not positional equality — near-ties may swap)
    ids = sorted(fl)
    for j in range(8):
        a = np.argsort(np.argsort([fl[v][j] for v in ids]))
        b = np.argsort(np.argsort([fx[v][j] for v in ids]))
        rho = np.corrcoef(a, b)[0, 1]
        assert rho > 0.99, (j, rho)


def test_ivfpq_invariants_and_probe_behavior(spark):
    """IVF-PQ: an exact copy lands in the same cell with the same
    residual codes → identical ADC score, adjacent ranks; probing all
    cells degenerates to plain residual-PQ over the whole base; scores
    are exact integers."""
    from akvorado_spark.operators.pq import (
        global_scale,
        ivfpq_encode,
        ivfpq_topk,
        pq_codebooks_from_seeds,
        quantize_global,
        quantized_cells,
    )

    vecs = _vecs(spark).filter("vec_id < 200")
    planted = vecs.filter("vec_id = 42").select(
        F.lit(990_000).alias("vec_id"), "embedding"
    )
    corpus = vecs.unionAll(planted)
    q = quantize_global(corpus, global_scale(corpus))
    base = q.filter("vec_id >= 10").select("vec_id", "qv")
    cells = quantized_cells(base, 4)
    books = pq_codebooks_from_seeds(base, m=4, ks=8)
    enc = ivfpq_encode(base, cells, books).localCheckpoint()

    rows = {r["vec_id"]: r for r in enc.collect()}
    assert rows[42]["cell"] == rows[990_000]["cell"]
    assert rows[42]["pq_code"] == rows[990_000]["pq_code"]
    assert set(r["cell"] for r in rows.values()) <= {0, 1, 2, 3}

    queries = q.filter("vec_id = 42").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    n_base = base.count()
    full = {
        r["vec_id"]: (r["adc_score"], r["rank"])
        for r in ivfpq_topk(
            enc, queries, cells, books, k=n_base, nprobe=4
        ).collect()
    }
    assert len(full) == n_base  # nprobe=all cells covers the base
    assert full[42][0] == full[990_000][0]
    # ties order by vec_id: every rank between the twins shares the score
    assert full[990_000][1] > full[42][1]
    between = [
        v for v, (s, r) in full.items()
        if full[42][1] < r < full[990_000][1]
    ]
    assert all(full[v][0] == full[42][0] for v in between)
    assert all(42 < v < 990_000 for v in between)
    assert all(isinstance(v[0], int) for v in full.values())

    # nprobe=1 returns only the query cell's members, a strict subset
    probed = ivfpq_topk(enc, queries, cells, books, k=n_base, nprobe=1).collect()
    cells_of = {rows[r["vec_id"]]["cell"] for r in probed}
    assert len(cells_of) == 1
    assert {r["vec_id"] for r in probed} == {
        v for v, r in rows.items() if r["cell"] == rows[42]["cell"]
    }


def test_ivfpq_score_is_exact_reconstruction_dot(spark):
    """ADVICE r7 contract pin: ivfpq_topk's adc_score must equal the
    exact integer <q, cell_centroid + decoded_residual>, recomputed
    independently in numpy from the encoded codes — the same scoring
    family as pq_adc_topk, comparable within and across probed cells."""
    import numpy as np

    from akvorado_spark.operators.pq import (
        global_scale,
        ivfpq_encode,
        ivfpq_topk,
        pq_codebooks_from_seeds,
        quantize_global,
        quantized_cells,
    )

    vecs = _vecs(spark).filter("vec_id < 150")
    q = quantize_global(vecs, global_scale(vecs))
    base = q.filter("vec_id >= 5").select("vec_id", "qv")
    queries = q.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    cells = quantized_cells(base, 4)
    books = pq_codebooks_from_seeds(base, m=4, ks=8)
    enc = ivfpq_encode(base, cells, books).localCheckpoint()

    sub = len(books[0][0])
    recon = {}
    for r in enc.collect():
        c = np.array(cells[r["cell"]], dtype=np.int64)
        rhat = np.concatenate(
            [np.array(books[j][code], dtype=np.int64)
             for j, code in enumerate(r["pq_code"])]
        )
        recon[r["vec_id"]] = c + rhat
    qv = {r["q_id"]: np.array(r["q_qv"], dtype=np.int64)
          for r in queries.collect()}

    got = ivfpq_topk(enc, queries, cells, books, k=9999, nprobe=4).collect()
    assert got
    for r in got:
        want = int(qv[r["q_id"]] @ recon[r["vec_id"]])
        assert r["adc_score"] == want, (r["q_id"], r["vec_id"])
    assert sub * len(books) == len(next(iter(recon.values())))


def test_exact_rerank_degenerates_to_bruteforce_and_lifts_recall(spark):
    """IVFADC-R invariants: (1) with the shortlist = the whole base,
    rerank IS the exact int-dot brute force (score and order); (2) the
    reranked top-k's exact scores are >= the plain IVF-PQ top-k's
    candidates scored exactly (rerank cannot pick worse vectors than
    the ADC order it refines)."""
    import numpy as np

    from akvorado_spark.operators.pq import (
        exact_rerank_topk,
        global_scale,
        ivfpq_encode,
        ivfpq_topk,
        pq_codebooks_from_seeds,
        quantize_global,
        quantized_cells,
    )

    vecs = _vecs(spark).filter("vec_id < 150")
    q = quantize_global(vecs, global_scale(vecs))
    base = q.filter("vec_id >= 5").select("vec_id", "qv").localCheckpoint()
    queries = q.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    ).localCheckpoint()
    cells = quantized_cells(base, 4)
    books = pq_codebooks_from_seeds(base, m=4, ks=8)
    enc = ivfpq_encode(base, cells, books).localCheckpoint()
    k = 7

    # (1) full shortlist → exact brute force
    full_sl = ivfpq_topk(enc, queries, cells, books, k=10**6, nprobe=4)
    got = exact_rerank_topk(full_sl, base, queries, k=k).collect()
    bq = {r["vec_id"]: np.array(r["qv"], dtype=np.int64) for r in base.collect()}
    qq = {r["q_id"]: np.array(r["q_qv"], dtype=np.int64) for r in queries.collect()}
    want = {}
    for qid, qv in qq.items():
        order = sorted(
            ((int(qv @ v), vid) for vid, v in bq.items()),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        want[qid] = [(r + 1, vid, s) for r, (s, vid) in enumerate(order)]
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r["q_id"], []).append(
            (r["rank"], r["vec_id"], r["exact_score"])
        )
    for qid in qq:
        assert sorted(got_by_q[qid]) == want[qid], qid

    # (2) rerank of an R=15 shortlist beats (>=) the raw ADC top-k,
    # measured in exact score sum per query
    sl = ivfpq_topk(enc, queries, cells, books, k=15, nprobe=2)
    rr = exact_rerank_topk(sl, base, queries, k=k).collect()
    adc = ivfpq_topk(enc, queries, cells, books, k=k, nprobe=2).collect()
    def exact_sum(rows):
        out = {}
        for r in rows:
            out[r["q_id"]] = out.get(r["q_id"], 0) + int(
                qq[r["q_id"]] @ bq[r["vec_id"]]
            )
        return out
    es_rr, es_adc = exact_sum(rr), exact_sum(adc)
    for qid in es_adc:
        assert es_rr[qid] >= es_adc[qid], qid


def test_int4_quantize_pack_unpack_roundtrip(spark):
    """int4 tier invariants: q4 = floor(qv/16) ∈ [-8, 7] (matching the
    python floor), packing is 8 nibbles per non-negative word < 16^8,
    and unpack(pack(q4)) == q4 element-for-element."""
    from akvorado_spark.operators.pq import (
        global_scale,
        pack_int4_words,
        quantize_global,
        quantize_int4,
        unpack_int4_words,
    )

    vecs = _vecs(spark).filter("vec_id < 80")
    q = quantize_global(vecs, global_scale(vecs)).select("vec_id", "qv")
    out = unpack_int4_words(
        pack_int4_words(quantize_int4(q)), out_col="q4_rt"
    ).collect()
    assert out
    for r in out:
        want = [x // 16 for x in r["qv"]]  # python // floors, like the op
        assert r["q4"] == want, r["vec_id"]
        assert all(-8 <= x <= 7 for x in r["q4"])
        assert len(r["q4w"]) == len(r["qv"]) // 8
        assert all(0 <= w < 16**8 for w in r["q4w"])
        assert r["q4_rt"] == r["q4"], r["vec_id"]


def test_int4_pack_rejects_non_multiple_of_8_dims(spark):
    """dim % 8 != 0 must FAIL LOUDLY, not silently truncate: a 12-dim
    q4 vector raises in the packing expression (for every odd length
    tried), and the error names the offending size."""
    import pytest

    from akvorado_spark.operators.pq import pack_int4_words

    for dim in (1, 7, 9, 12, 15, 63):
        df = spark.createDataFrame(
            [([i % 16 - 8 for i in range(dim)],)], "q4 array<int>"
        )
        with pytest.raises(Exception, match="multiple of 8"):
            pack_int4_words(df).collect()
    # and the happy path through the same guard still packs
    ok = spark.createDataFrame(
        [([i % 16 - 8 for i in range(16)],)], "q4 array<int>"
    )
    rows = pack_int4_words(ok).collect()
    assert len(rows[0]["q4w"]) == 2


def test_int4_unpack_rejects_out_of_range_words(spark):
    """unpack mirrors the guard: a word outside [0, 16^8) is corrupt
    input and raises instead of decoding garbage nibbles."""
    import pytest

    from akvorado_spark.operators.pq import unpack_int4_words

    for bad in (-1, 16**8, 16**8 + 5):
        df = spark.createDataFrame([([bad],)], "q4w array<long>")
        with pytest.raises(Exception, match="out of"):
            unpack_int4_words(df).collect()
    ok = spark.createDataFrame([([0, 16**8 - 1],)], "q4w array<long>")
    rows = unpack_int4_words(ok).collect()
    assert rows[0]["q4"] == [-8] * 8 + [7] * 8


def test_ann_index_partition_pruning(spark, tmp_path):
    """The persisted IVF-PQ index prunes unprobed cells at the
    DIRECTORY level: the probe filter appears in PartitionFilters and
    only the probed cells' rows are read."""
    from akvorado_spark.operators.pq import (
        global_scale,
        ivfpq_encode,
        pq_codebooks_from_seeds,
        quantize_global,
        quantized_cells,
        read_ann_cells,
        write_ann_index,
    )

    vecs = _vecs(spark).filter("vec_id < 200")
    q = quantize_global(vecs, global_scale(vecs))
    cells = quantized_cells(q, 4)
    books = pq_codebooks_from_seeds(q, m=4, ks=8)
    enc = ivfpq_encode(q, cells, books)
    path = str(tmp_path / "ann_index")
    write_ann_index(enc, path)

    probed = read_ann_cells(spark, path, [1, 3])
    sc = spark.sparkContext
    plan = sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cell" in plan
    got_cells = {r["cell"] for r in probed.select("cell").distinct().collect()}
    assert got_cells <= {1, 3}
    # full read round-trips every encoded row
    assert spark.read.parquet(path).count() == enc.count()


def test_upsert_ann_cells_touches_only_dirty_partitions(spark, tmp_path):
    """Dynamic partition overwrite: upserting an encoding that covers
    only SOME cells replaces those cell directories and leaves the
    rest byte-identical — incremental index maintenance, no full
    rewrite."""
    import glob
    import os

    from akvorado_spark.operators.pq import (
        global_scale,
        ivfpq_encode,
        pq_codebooks_from_seeds,
        quantize_global,
        quantized_cells,
        upsert_ann_cells,
        write_ann_index,
    )

    vecs = _vecs(spark).filter("vec_id < 200")
    q = quantize_global(vecs, global_scale(vecs))
    cells = quantized_cells(q, 4)
    books = pq_codebooks_from_seeds(q, m=4, ks=8)
    enc = ivfpq_encode(q, cells, books).localCheckpoint()
    path = str(tmp_path / "idx")
    write_ann_index(enc, path)

    def snapshot():
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(path + "/cell=*/*.parquet")
        }

    before = snapshot()
    dirty = [r["cell"] for r in enc.select("cell").distinct().collect()][:2]
    patch = enc.filter(F.col("cell").isin(dirty)).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    upsert_ann_cells(patch, path)
    after = snapshot()

    clean_cells = {f"cell={c}" for c in set(r["cell"] for r in enc.select("cell").distinct().collect()) - set(dirty)}
    for f, mtime in before.items():
        if any(cc in f for cc in clean_cells):
            assert after.get(f) == mtime, f  # untouched files survive
    got = spark.read.parquet(path)
    # dirty cells now hold ONLY the patch rows; clean cells unchanged
    assert got.filter(F.col("cell").isin(dirty)).filter(
        F.col("vec_id") < 10_000_000
    ).count() == 0
    orig_clean = enc.filter(~F.col("cell").isin(dirty)).count()
    assert got.filter(~F.col("cell").isin(dirty)).count() == orig_clean


def test_pq_recall_at_k_measured(spark):
    """Measured recall@10 of PQ ADC (and IVF-PQ at nprobe=half) vs the
    exact int-dot ranking on the quantized corpus — the quantified
    quality floor for the code-only index, plus the codebook-size knob
    moving recall in the right direction."""
    from akvorado_spark.operators.pq import (
        global_scale,
        ivfpq_encode,
        ivfpq_topk,
        pq_adc_topk,
        pq_codebooks_from_seeds,
        pq_encode,
        quantize_global,
        quantized_cells,
        _int_dot,
    )
    from akvorado_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_MED

    vecs = load_table(spark, "embeddings", SF_DIR_MED).select("vec_id", "embedding")
    q = quantize_global(vecs, global_scale(vecs))
    base = q.filter("vec_id % 97 != 0").select("vec_id", "qv")
    queries = q.filter("vec_id % 97 = 0").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    k = 10

    # exact integer-dot ranking = ground truth, recomputed OUTSIDE
    # Spark (numpy over the collected int vectors — an independent
    # oracle, and the corpus is codebook-collect sized anyway)
    import numpy as np

    brows = {r["vec_id"]: np.array(r["qv"], dtype=np.int64) for r in base.collect()}
    qrows = {r["q_id"]: np.array(r["q_qv"], dtype=np.int64) for r in queries.collect()}
    exact_pairs = set()
    for qid, qv in qrows.items():
        scored = sorted(
            ((int(qv @ bv), vid) for vid, bv in brows.items()),
            key=lambda t: (-t[0], t[1]),
        )
        exact_pairs |= {(qid, vid) for _, vid in scored[:k]}
    assert exact_pairs

    def recall(df) -> float:
        got = {(r["q_id"], r["vec_id"]) for r in df.collect()}
        return len(got & exact_pairs) / len(exact_pairs)

    books8 = pq_codebooks_from_seeds(base, m=8, ks=8)
    books16 = pq_codebooks_from_seeds(base, m=8, ks=16)
    r8 = recall(pq_adc_topk(pq_encode(base, books8), queries, books8, k=k))
    r16 = recall(pq_adc_topk(pq_encode(base, books16), queries, books16, k=k))
    # random top-k-of-N recall is k/n (~0.02 here); even tiny seeded
    # books on near-random vectors must clear 5× that, and more codes
    # must not collapse recall
    n = base.count()
    assert r8 > 5 * (k / n), (r8, n)
    assert r16 >= r8 * 0.8, (r8, r16)  # bigger book should not collapse

    cells = quantized_cells(base, 8)
    enc = ivfpq_encode(base, cells, books16)
    r_half = recall(ivfpq_topk(enc, queries, cells, books16, k=k, nprobe=4))
    r_all = recall(ivfpq_topk(enc, queries, cells, books16, k=k, nprobe=8))
    # Scores are now the exact <q, reconstruction> (r7-advice fix), so
    # cross-cell ranking is consistent; recall still isn't provably
    # monotone in nprobe (reconstruction is approximate — an extra
    # probed candidate can out-score a true neighbor), so the honest
    # floors stay vs random rather than vs each other
    assert r_half > k / n and r_all > k / n, (r_half, r_all)
    # candidate COVERAGE is monotone: nprobe=all must return full-k
    # result sets for every query (nothing pruned)
    full_rows = ivfpq_topk(enc, queries, cells, books16, k=k, nprobe=8).collect()
    from collections import Counter

    per_q = Counter(r["q_id"] for r in full_rows)
    assert all(c == k for c in per_q.values()), per_q
