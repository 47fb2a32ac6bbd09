"""Similarity search over embedding columns (array<float>).

- **brute-force cosine top-k** — the correctness baseline: a broadcast
  of the (small) query set against the full table, dot products via
  ``F.aggregate``/``F.zip_with`` (JVM-side, no Python).
- **LSH (random hyperplane) ANN** — the scale path: sign-bit sketches
  against seeded deterministic hyperplanes bucket the table; queries
  probe only their bucket (and optionally neighboring bands), turning
  top-k from O(n·d) per query into O(bucket·d).

Hyperplanes are generated from a seeded counter-based scheme at plan
time (driver-side numpy) and broadcast as literals — deterministic
across runs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import sql_literal

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)
_NORM = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def dot(a: str, b: str):
    """Dot product of two array<float/double> SQL operands (JVM-side
    fold), e.g. ``dot("a.embedding", "b.embedding")``."""
    return F.expr(_DOT.format(a=a, b=b))


def norm(a: str):
    """L2 norm of an array SQL operand (JVM-side fold)."""
    return F.expr(_NORM.format(a=a))


def cosine(a: str, b: str):
    """Cosine similarity of two array<float/double> SQL operands.

    For O(n²) pair scans, precompute ``norm`` per vector instead — the
    fold is identical so the doubles are bit-identical."""
    na, nb = _NORM.format(a=a), _NORM.format(a=b)
    return F.expr(f"{_DOT.format(a=a, b=b)} / nullif({na} * {nb}, 0D)")


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    The query side is broadcast (queries are few); ranking uses a
    window per query id.  Ties broken by neighbor id.
    """
    from pyspark.sql import Window

    scored = vectors.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(vec_col, q_vec_col), 6).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(q_id_col, "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def suggest_planes(n_vectors: int, target_bucket: int = 64) -> int:
    """Sketch width that keeps expected bucket occupancy constant as
    the corpus grows: ``ceil(log2(n / target_bucket))``, floored at 4.

    The measured failure mode this prevents (SCALE_METRICS.md, 10×
    corpus run): a FIXED-width sketch makes intra-bucket verify pairs
    grow ~N²/2^planes — 10× vectors meant ~100× pair comparisons.
    Re-deriving the width per corpus holds the per-bucket population
    (and so the verify-join cost per vector) flat; one extra plane per
    corpus doubling.
    """
    import math

    if n_vectors <= target_bucket:
        return 4
    return max(4, math.ceil(math.log2(n_vectors / target_bucket)))


def lsh_sketch(vec_col: str, planes: np.ndarray):
    """Sign-bit sketch (one long) of a vector SQL operand against fixed
    hyperplanes — one SQL fold per plane, planes as literals."""
    bits = [
        f"shiftleft(CASE WHEN {_DOT.format(a=vec_col, b=sql_literal(p))} > 0"
        f" THEN CAST(1 AS BIGINT) ELSE 0 END, {i})"
        for i, p in enumerate(planes)
    ]
    return F.expr(" | ".join(bits))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the full sign sketch bucket;
    exact cosine re-ranks within the bucket.

    Recall/cost trades via ``n_planes`` (more planes → smaller buckets,
    lower recall) and ``multiprobe``: with ``multiprobe=1`` each query
    ALSO probes every bucket one sign-flip away — the standard
    multiprobe-LSH recall amplifier, ×(n_planes+1) candidate buckets
    for the same index (a near neighbor that disagrees on exactly one
    close-to-the-hyperplane sign is recovered).  The query side stays
    broadcast — the probe fan-out multiplies the tiny side, never the
    corpus.  At cluster scale the sketch column is computed once at
    ingest and bucketed on write, so probes touch single buckets.
    """
    from pyspark.sql import Window

    planes = _hyperplanes(dim, n_planes, seed)
    v = vectors.withColumn("__sketch", lsh_sketch(vec_col, planes))
    q = queries.withColumn("__qsketch", lsh_sketch(q_vec_col, planes))
    if multiprobe:
        if multiprobe != 1:
            raise ValueError("multiprobe supports 0 (off) or 1 (1-bit flips)")
        probes = F.array(
            F.col("__qsketch"),
            *[
                F.col("__qsketch").bitwiseXOR(F.lit(1 << b))
                for b in range(n_planes)
            ],
        )
        q = q.withColumn("__qsketch", F.explode(probes))
    cand = v.join(F.broadcast(q), F.col("__sketch") == F.col("__qsketch"))
    scored = cand.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(vec_col, q_vec_col), 6).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(q_id_col, "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    c_id_col: str = "c_id",
    c_vec_col: str = "c_vec",
    out_col: str = "__cell",
) -> DataFrame:
    """Assign each vector to its nearest (max-dot) centroid cell.

    Centroids are dimension-sized → broadcast; argmax via one
    ``max_by`` groupBy-free pass: cross join against the centroid set,
    window-free reduction with ``max(struct(dot, -c_id))`` per row id
    would shuffle, so instead the centroid loop folds into a single
    ``greatest``-style comparison chain when centroids are few, or a
    groupBy(max_by) when many.  Here: broadcast + groupBy(max_by) —
    one shuffle of (row, cell) pairs, standard IVF build cost.
    """
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__dot", dot(vec_col, c_vec_col)
    )
    keys = [c for c in vectors.columns]
    return (
        scored.groupBy(*keys)
        .agg(F.expr(f"max_by({c_id_col}, struct(__dot, -{c_id_col}))").alias(out_col))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF approximate top-k: vectors are pre-assigned to centroid
    cells; each query probes its ``nprobe`` nearest cells and ranks
    exactly inside them.

    At cluster scale the cell assignment happens at ingest and the
    table is written bucketed by cell, so a probe is a partition-pruned
    scan of nprobe buckets — the classic IVF cost model.
    """
    from pyspark.sql import Window

    v = ivf_assign(vectors, centroids, vec_col)
    # query → its nprobe nearest cells
    qs = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "__dot", dot(q_vec_col, "c_vec")
    )
    wq = Window.partitionBy(q_id_col).orderBy(F.desc("__dot"), F.asc("c_id"))
    probes = (
        qs.withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select(q_id_col, q_vec_col, F.col("c_id").alias("__cell"))
    )
    cand = v.join(F.broadcast(probes), on="__cell")
    scored = cand.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(vec_col, q_vec_col), 6).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(q_id_col, "rank")
    )


def seed_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_cells`` lowest-id
    vectors as centroids (a real deployment would k-means; the IVF
    machinery is identical and this keeps tests seedless)."""
    from pyspark.sql import Window

    return (
        vectors.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
        )
    )


def neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``:
    LSH-bucketed self-join, exact cosine verification inside buckets."""
    planes = _hyperplanes(dim, n_planes, seed)
    v = vectors.select(
        F.col(id_col), F.col(vec_col), lsh_sketch(vec_col, planes).alias("__sketch")
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__sketch") == F.col("b.__sketch"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine(f"a.{vec_col}", f"b.{vec_col}"), 6).alias("sim"),
    )
    return pairs.filter(F.col("sim") >= threshold)


def kmeans_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
) -> DataFrame:
    """Distributed Lloyd's k-means — the real IVF coarse-quantizer
    trainer (``seed_centroids`` stays as the seedless test stub).

    Initialization is deterministic and portable: the ``n_cells``
    vectors lowest in md5-of-id order (a hash-shuffled sample, no RNG
    state).  Each iteration: broadcast the k×dim centroid frame →
    per-row nearest cell by dot product (one narrow pass) →
    elementwise vector mean per cell via posexplode + (cell, pos)
    aggregate — ONE shuffle whose key cardinality is k × dim, never
    row count.  New centroids (k×dim floats) collect to the driver
    between rounds, exactly like any iterative-ML driver loop; at
    100 TB the per-iteration cost is the assignment scan, and the
    trained centroids feed :func:`ivf_assign` at ingest so probes
    prune to buckets.

    Empty cells keep their previous centroid (standard Lloyd's
    fallback).  Returns (c_id, c_vec) like ``seed_centroids``.
    """
    from pyspark.sql import Window

    hash_order = F.md5(F.col(id_col).cast("string").cast("binary"))
    init = (
        vectors.orderBy(hash_order, F.col(id_col))
        .limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy(hash_order, F.col(id_col))).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
        )
    )
    centroids = [(r["c_id"], list(r["c_vec"])) for r in init.collect()]
    spark = vectors.sparkSession

    for _ in range(iters):
        cent_df = spark.createDataFrame(centroids, "c_id int, c_vec array<double>")
        assigned = ivf_assign(
            vectors.select(id_col, vec_col), F.broadcast(cent_df), vec_col
        )
        means = (
            assigned.select("__cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("__cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("__cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                F.col("__cell").alias("c_id"),
                F.expr("transform(pm, s -> s.m) AS c_vec"),
            )
        )
        new = {r["c_id"]: list(r["c_vec"]) for r in means.collect()}
        updated = [(cid, new.get(cid, vec)) for cid, vec in centroids]
        if updated == centroids:
            break
        centroids = updated

    return spark.createDataFrame(centroids, "c_id int, c_vec array<double>")


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "q_code",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``code[i] = round(x[i] / scale)`` (an all-zero vector gets scale 0
    and all-zero codes).

    The storage/transfer half of a quantized ANN stack: codes are 4×
    smaller than float32 (8× vs the double arrays Spark folds produce),
    which is exactly the term that bounds broadcast size and shuffle
    volume in the IVF/semdedup paths.  Reconstruction error is ≤
    scale/2 per element.  Pure JVM fold+transform — no Python, no
    shuffle, whole-stage codegen.
    """
    amax = f"aggregate({vec_col}, 0D, (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    d = df.withColumn(scale_col, F.expr(f"{amax} / 127D"))
    codes = F.expr(
        f"transform({vec_col}, x -> CAST(CASE WHEN {scale_col} = 0D THEN 0"
        f" ELSE round(CAST(x AS DOUBLE) / {scale_col}, 0) END AS INT))"
    )
    return d.withColumn(code_col, codes)


def dequantize_embeddings(codes_col: str, scale_col: str):
    """codes + scale → array<double> reconstruction."""
    return F.expr(f"transform({codes_col}, c -> CAST(c AS DOUBLE) * {scale_col})")


def quantized_dot(a_codes: str, b_codes: str, a_scale: str, b_scale: str):
    """Dot product in code space: one INTEGER fold (cheap, exact) per
    pair, one float multiply at the end — the pair-scoring kernel for
    quantized ANN re-ranking.  Operands are SQL text."""
    return F.expr(
        f"CAST(aggregate(zip_with({a_codes}, {b_codes}, (x, y) -> CAST(x * y AS BIGINT)),"
        f" CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) * {a_scale} * {b_scale}"
    )


def kmeans_centroids_hierarchical(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 4,
    n_super: int | None = None,
) -> DataFrame:
    """Fully distributed two-stage k-means trainer — the 100×-scale
    companion to :func:`kmeans_centroids`, which collects k×dim floats
    to the driver every round (fine while k is thousands; at k ≈ N/256
    over 10⁹ vectors that is gigabytes per iteration).

    Stage 1 trains √k super-centroids with the driver-loop trainer —
    its collect is √k×dim, bounded.  Stage 2 assigns every vector to
    its super (broadcast of √k supers only), then runs Lloyd's on ALL
    supers' children in parallel WITHOUT any driver collect: child
    centroids live in a (super, child, pos)-keyed DataFrame; each
    iteration is one join (vector→its super's children), one argmax
    groupBy, and one mean aggregate keyed by (super, child, pos) —
    cardinality k×dim, never row count.  Lineage is truncated per round
    with a lazy localCheckpoint.

    Children are initialized per super as its ``ceil(k/n_super)``
    lowest-md5 members (same deterministic hash-order rule as
    :func:`kmeans_centroids`).  Returns (c_id, c_vec) with global ids
    ``super_rank * per_super + child_rank``; feed the result to
    :func:`split_centroids`/:func:`assign_cells_two_level`, which
    re-derives the grouping for two-level assignment.
    """
    import math

    from pyspark.sql import Window

    if n_super is None:
        n_super = max(2, math.isqrt(n_cells))
    per_super = max(1, math.ceil(n_cells / n_super))
    supers = kmeans_centroids(vectors, n_super, id_col, vec_col).select(
        F.col("c_id").alias("s_id"), F.col("c_vec").alias("s_vec")
    )
    # one-time assignment of every vector to its super (√k broadcast)
    scored = vectors.select(id_col, vec_col).crossJoin(F.broadcast(supers))
    scored = scored.withColumn("__dot", dot(vec_col, "s_vec"))
    members = scored.groupBy(id_col, vec_col).agg(
        F.expr("max_by(s_id, struct(__dot, -s_id))").alias("__super")
    ).localCheckpoint(eager=False)

    # deterministic init: per super, the per_super lowest-md5 members
    hash_order = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy("__super").orderBy(hash_order, F.col(id_col))
    cents = (
        members.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= per_super)
        .select(
            "__super",
            F.col("__rk").alias("__child"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
        .localCheckpoint(eager=False)
    )

    for _ in range(iters):
        # vectors join ONLY their super's children (k rows total, ~√k
        # per super) — never a full N×k crossJoin
        cand = members.join(cents, "__super").withColumn(
            "__dot", dot(vec_col, "c_vec")
        )
        assigned = cand.groupBy(id_col, vec_col, "__super").agg(
            F.expr("max_by(__child, struct(__dot, -__child))").alias("__child")
        )
        # elementwise means keyed by (super, child, pos): k×dim groups
        means = (
            assigned.select("__super", "__child", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("__super", "__child", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("__super", "__child")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "__super", "__child",
                F.expr("transform(pm, s -> s.m) AS c_vec"),
            )
        )
        # empty children keep their previous centroid (Lloyd's fallback)
        kept = cents.alias("old").join(
            means.select("__super", "__child").alias("new"),
            ["__super", "__child"], "left_anti",
        )
        cents = means.unionByName(kept).localCheckpoint(eager=False)

    ws = Window.orderBy("s_id")
    super_rank = supers.select(
        "s_id", (F.row_number().over(ws) - 1).alias("__srank")
    )
    return (
        cents.join(super_rank, cents["__super"] == super_rank["s_id"])
        .select(
            (F.col("__srank") * per_super + F.col("__child")).cast("int").alias("c_id"),
            "c_vec",
        )
    )


def split_centroids(
    centroids: DataFrame,
    n_super: int | None = None,
    c_id_col: str = "c_id",
    c_vec_col: str = "c_vec",
):
    """Group k centroids under ~√k super-centroids for two-level
    assignment (the VERDICT r5 scale ceiling: single-level assignment
    is an N×k crossJoin with a broadcast growing linearly in corpus
    size, since k ≈ N/256 — fine to ~10⁷ vectors, quadratic at 10⁹).

    Supers are the ``n_super`` lowest-id centroids (deterministic, like
    :func:`seed_centroids`; train them with :func:`kmeans_centroids`
    over the centroid frame for production quality — the machinery is
    identical).  Each centroid is assigned to its max-rounded-cosine
    super.  Returns ``(supers, children)`` where supers is
    (s_id, s_vec) restricted to supers that own ≥1 child (a childless
    super must never win a probe — it would drop the vector at the
    children join), and children is centroids + ``__super``.
    """
    import math

    k = centroids.count()
    if n_super is None:
        n_super = max(2, math.isqrt(k))
    supers = seed_centroids(
        centroids, n_super, id_col=c_id_col, vec_col=c_vec_col
    ).select(F.col("c_id").alias("s_id"), F.col("c_vec").alias("s_vec"))
    scored = centroids.crossJoin(F.broadcast(supers)).withColumn(
        "__ssim", F.round(cosine(c_vec_col, "s_vec"), 6)
    )
    children = scored.groupBy(*centroids.columns).agg(
        F.expr("max_by(s_id, struct(__ssim, -s_id))").alias("__super")
    )
    live = supers.join(
        children.select(F.col("__super").alias("s_id")).distinct(), "s_id", "semi"
    )
    return live, children


def assign_cells_two_level(
    vectors: DataFrame,
    supers: DataFrame,
    children: DataFrame,
    vec_col: str = "embedding",
    c_id_col: str = "c_id",
    c_vec_col: str = "c_vec",
    out_col: str = "__cell",
    sim_col: str = "__csim",
) -> DataFrame:
    """Two-level coarse quantization: stage 1 broadcasts only the
    O(√k)×dim supers and picks each row's best super; stage 2 joins on
    the super key against that super's ~√k children and arg-maxes
    within.  Per-row work O(√k + √k) instead of O(k); the broadcast is
    O(√k·dim) instead of O(k·dim); the children join is an ordinary
    keyed join (broadcast under the threshold, shuffle-on-__super at
    cluster scale where k×dim no longer fits a broadcast).

    Decision similarities are rounded to 6 like :func:`semdedup`'s
    single-level assignment, so an external oracle can replay the
    argmaxes bit-exactly.  Returns vectors + ``out_col`` + ``sim_col``
    (rounded cosine to the chosen child centroid).
    """
    keys = list(vectors.columns)
    s1 = vectors.crossJoin(F.broadcast(supers)).withColumn(
        "__ssim", F.round(cosine(vec_col, "s_vec"), 6)
    )
    probed = s1.groupBy(*keys).agg(
        F.expr("max_by(s_id, struct(__ssim, -s_id))").alias("__probe")
    )
    cand = probed.join(
        children.withColumnRenamed("__super", "__probe"), "__probe"
    ).withColumn(
        "__sim", F.round(cosine(vec_col, c_vec_col), 6)
    )
    return cand.groupBy(*keys).agg(
        F.expr(f"max_by({c_id_col}, struct(__sim, -{c_id_col}))").alias(out_col),
        F.max("__sim").alias(sim_col),
    )


def suggest_cells(n_vectors: int, target_cluster: int = 256) -> int:
    """Cluster count that keeps semdedup's intra-cluster pair work
    bounded as the corpus grows: ``ceil(n / target_cluster)``, floored
    at 4.  Same rationale as :func:`suggest_planes` — a FIXED k makes
    pair comparisons grow ~N²/k (measured on the 10x corpus: 4 cells
    over 4k vectors ≈ 4M pair folds, 26 s; scaling k holds per-cell
    population, and so per-vector verify cost, flat)."""
    import math

    return max(4, math.ceil(n_vectors / target_cluster))


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "__cell",
    sim_col: str = "__csim",
) -> DataFrame:
    """Single-level coarse quantization: broadcast the k×dim centroid
    set, score every (row, centroid) pair, arg-max per row.  Returns
    vectors + ``out_col`` (winning c_id) + ``sim_col`` (rounded cosine
    to it).  The two-level variant is :func:`assign_cells_two_level`."""
    keys = list(vectors.columns)
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim", F.round(cosine(vec_col, "c_vec"), 6)
    )
    return scored.groupBy(*keys).agg(
        F.expr("max_by(c_id, struct(__sim, -c_id))").alias(out_col),
        F.max("__sim").alias(sim_col),
    )


def semdedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool = False,
    n_super: int | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then inside each cluster
    drop members that are cosine-similar to a better-ranked member.

    Deterministic rank (mirrors the released SemDeDup recipe of
    ordering cluster members and dropping anything within epsilon of an
    earlier one): members order by (centroid similarity DESC, id ASC);
    a vector is dropped iff some member ranked ahead of it in the SAME
    cluster has ``round(cos, 6) >= threshold``.  No transitive
    closure — the greedy prefix rule is the paper's behavior.

    Returns ``vectors`` + ``__cell`` (cluster id), ``__csim`` (rounded
    centroid cosine), ``kept`` (boolean).

    Scale shape: centroids broadcast (k × dim); the only wide
    operations are one groupBy per row for the argmax assignment and
    one self-join ON the cluster key — pair work is cluster-bounded
    (pick k ~ N/target so clusters stay O(target)), never all-pairs.
    ``two_level=True`` swaps the assignment for
    :func:`assign_cells_two_level` (√k supers broadcast, children via a
    keyed join) — the 100×-scale path where k itself grows with the
    corpus and a k×dim broadcast / N×k crossJoin no longer holds.

    ``norm_col`` names a caller-precomputed ``norm(vec_col)`` column on
    ``vectors`` (the fold is per-vector, so a caller running SEVERAL
    semdedup variants over one materialized corpus can fold the norms
    once and share them — each variant then copies a double instead of
    re-folding the array).  The column must hold exactly
    ``norm(vec_col)`` and ``vectors`` should already be
    materialized (e.g. localCheckpoint) — on a lazy source, projection
    collapse can push the caller's fold INTO the N×k assignment
    crossJoin, making the "shared" fold more expensive than the
    default self-computing path.  It is consumed (dropped from the
    output).
    """
    if norm_col is not None and norm_col not in vectors.columns:
        raise ValueError(
            f"norm_col {norm_col!r} not in {vectors.columns}"
        )
    if two_level:
        supers, children = split_centroids(centroids, n_super=n_super)
        assigned = assign_cells_two_level(
            vectors, supers, children, vec_col=vec_col
        )
    else:
        assigned = assign_cells(vectors, centroids, vec_col=vec_col)
    # norms are per-vector: fold them ONCE before the pair join — the
    # higher-order-function folds are interpreted (not codegen), so a
    # cosine() per pair costs THREE array folds on every intra-cluster
    # pair (measured on the 10x corpus: 117 s vs ~2 s after the fix);
    # the fold expression is identical, so the rounded doubles don't
    # move and the oracle gate stays bit-exact.
    # localCheckpoint: the assignment subtree (N×k cosine crossJoin +
    # argmax, or the two-level probe) otherwise re-executes for each of
    # its three consumers — both sides of the intra-cell pair join and
    # the final kept/dropped join (the r13 before-plan shows the
    # crossJoin 26× with zero ReusedExchange).  Materializing N rows
    # once replaces three full assignment passes at any corpus size.
    if norm_col is None:
        withn = assigned.withColumn("__n", norm(vec_col))
    else:
        withn = assigned.withColumnRenamed(norm_col, "__n")
    withn = withn.localCheckpoint(eager=False)
    assigned = withn.drop("__n")
    b = withn.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__bvec"),
        F.col("__n").alias("__bn"),
        F.col("__cell").alias("__bcell"),
        F.col("__csim").alias("__bcsim"),
    )
    outranked = (F.col("__bcsim") > F.col("__csim")) | (
        (F.col("__bcsim") == F.col("__csim")) & (F.col("__bid") < F.col(id_col))
    )
    pair_cos = F.round(
        dot(vec_col, "__bvec")
        / F.nullif(F.col("__n") * F.col("__bn"), F.lit(0.0)),
        6,
    )
    dropped = (
        withn.join(b, (F.col("__cell") == F.col("__bcell")) & outranked)
        .filter(pair_cos >= threshold)
        .select(F.col(id_col).alias("__dropped"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, F.col(id_col) == F.col("__dropped"), "left"
        )
        .withColumn("kept", F.col("__dropped").isNull())
        .drop("__dropped")
    )


def project_embeddings(
    df: DataFrame,
    out_dim: int,
    dim: int,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson-
    Lindenstrauss): ``y = P·x / sqrt(out_dim)`` against a seeded
    Gaussian plane matrix embedded as plan literals.

    The cheap, data-independent alternative to PCA for shrinking the
    embedding column before ANN/near-dup stages: pairwise distances
    are preserved within (1±ε) for out_dim = O(ln N / ε²), and the
    operator is a zero-shuffle codegen projection — out_dim folds per
    row, no training pass, no driver state beyond the seed.  The same
    ``_hyperplanes(seed)`` matrix regenerates everywhere (workers,
    retries, other engines), so projections are reproducible.
    """
    planes = _hyperplanes(dim, out_dim, seed=seed)  # (out_dim, dim)
    inv = sql_literal(1.0 / float(np.sqrt(out_dim)))
    comps = [f"{_DOT.format(a=vec_col, b=sql_literal(p))} * {inv}" for p in planes]
    return df.withColumn(out_col, F.expr(f"array({', '.join(comps)})"))


def project_embeddings_fixedpoint(
    df: DataFrame,
    out_dim: int,
    dim: int,
    seed: int = 42,
    vec_col: str = "qv",
    out_col: str = "proj_q",
    micro: int = 1_000_000,
) -> DataFrame:
    """Integer twin of :func:`project_embeddings` for oracle-exact
    gating: the same seeded plane matrix is embedded as micro-fixed-
    point BIGINT literals (``round(p·1e6)``) and applied to the int8-
    quantized vector column, so every component is an exact BIGINT any
    engine replays bit-for-bit — no summation-order or SIMD
    reassociation sensitivity (the r7-advice failure mode of hash-
    gating ``round(double, 6)`` across two engines).  Components equal
    the float projection up to the constant ``micro·gmax/(127·√d)``
    scale plus per-element quantization error, so ordering/JL geometry
    carries over; the float variant stays the production path."""
    planes = _hyperplanes(dim, out_dim, seed=seed)
    comps = [
        f"aggregate(zip_with({vec_col},"
        f" CAST({sql_literal([round(float(x) * micro) for x in p])} AS ARRAY<BIGINT>),"
        " (x, y) -> CAST(x AS BIGINT) * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        for p in planes
    ]
    proj = F.expr(f"array({', '.join(comps)})")
    return df.withColumn(out_col, proj)
