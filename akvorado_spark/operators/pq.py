"""Product quantization (PQ) for approximate nearest-neighbor search.

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") is the memory-scale path for billion-vector ANN: split each
vector into ``m`` subspaces, quantize every subvector to one of ``ks``
codebook entries, and rank candidates with asymmetric distance
computation (ADC) — per query, one ``m × ks`` lookup table, then each
candidate costs ``m`` table lookups instead of a ``dim``-wide float
dot.  A 64-dim float32 vector becomes ``m`` single-byte codes (32×
smaller), which is the term that bounds shuffle and broadcast volume
at 100 TB.

Everything here is INTEGER-exact: vectors are first quantized to int8
on a single corpus-wide scale (one max aggregation), codebook
assignment is an integer argmin (ties to the lowest code index), and
ADC scores are BIGINT sums of int products — an oracle engine replays
every value bit-for-bit, and results are independent of partitioning
and summation order.

Codebooks: :func:`pq_codebooks_from_seeds` (deterministic low-id
seeds, the oracle-gated variant — same convention as
``seed_centroids``) or :func:`pq_train_codebooks` (per-subspace
k-means on the quantized corpus, the production variant, pytest-gated
on recall).  Both return plain Python lists, embedded as literals so
encoding runs zero-shuffle inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from akvorado_spark.functions.arrays import sql_literal


def global_scale(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row frame: the corpus-wide max |element| (the shared int8
    quantization denominator).  Broadcast-joined, never collected, so
    quantization stays one distributed plan."""
    return df.agg(
        F.expr(
            f"max(aggregate({vec_col}, 0D,"
            " (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))) AS gmax"
        )
    )


def quantize_global(
    df: DataFrame,
    scale: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qv",
) -> DataFrame:
    """Symmetric int8 quantization on ONE corpus-wide scale:
    ``q[i] = round(x[i] * 127 / gmax)``.

    Unlike the per-vector scale of ``quantize_embeddings`` (optimal
    for storage), a shared scale keeps integer distances comparable
    ACROSS vectors — the property PQ assignment and ADC ranking need.
    """
    q = F.expr(
        f"transform({vec_col}, x -> CAST(CASE WHEN gmax = 0D THEN 0"
        " ELSE round(CAST(x AS DOUBLE) * 127D / gmax, 0) END AS INT))"
    )
    return df.crossJoin(F.broadcast(scale)).withColumn(out_col, q).drop("gmax")


def _subslice(col: str, j: int, sub: int) -> str:
    return f"slice({col}, {j * sub + 1}, {sub})"


def pq_codebooks_from_seeds(
    quantized: DataFrame,
    m: int,
    ks: int,
    id_col: str = "vec_id",
    q_col: str = "qv",
) -> list[list[list[int]]]:
    """Deterministic codebooks: subvector ``j`` of the ``ks`` lowest-id
    quantized vectors (the ``seed_centroids`` convention — seedless,
    oracle-replayable; production trains with
    :func:`pq_train_codebooks`).  Tiny driver collect: m·ks·(dim/m)
    ints total = ks·dim, independent of corpus size."""
    rows = quantized.orderBy(id_col).limit(ks).select(q_col).collect()
    dim = len(rows[0][q_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [list(r[q_col][j * sub : (j + 1) * sub]) for r in rows]
        for j in range(m)
    ]


def pq_train_codebooks(
    quantized: DataFrame,
    m: int,
    ks: int,
    q_col: str = "qv",
    iters: int = 5,
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Production codebooks: independent k-means per subspace over the
    quantized corpus (Lloyd iterations on int vectors, centroids
    re-rounded to ints each round so assignment stays integer-exact).

    Each iteration is one crossJoin against ≤ ks broadcast centroids +
    one (cell)-keyed aggregate per subspace — the same bounded shape as
    the IVF trainer; nothing scales with corpus size except the scans.
    """
    dim = len(quantized.select(q_col).first()[q_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for j in range(m):
        sl = quantized.select(F.expr(f"{_subslice(q_col, j, sub)} AS sv"))
        cents = [
            list(r["sv"])
            for r in quantized.orderBy(id_col).limit(ks).select(
                F.expr(f"{_subslice(q_col, j, sub)} AS sv")
            ).collect()
        ]
        for _ in range(iters):
            assigned = sl.withColumn("c", _assign_expr("sv", cents))
            means = (
                assigned.groupBy("c")
                .agg(
                    *[
                        F.round(F.avg(F.element_at(F.col("sv"), i + 1)), 0)
                        .cast("int")
                        .alias(f"e{i}")
                        for i in range(sub)
                    ]
                )
                .collect()
            )
            new = {r["c"]: [r[f"e{i}"] for i in range(sub)] for r in means}
            cents = [new.get(c, cents[c]) for c in range(ks)]
        books.append(cents)
    return books


_INT_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST((x - y) * (x - y) AS BIGINT)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_INT_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x * y AS BIGINT)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _int_dot(a: str, b: str):
    return F.expr(_INT_DOT.format(a=a, b=b))


def _scored_codes(subvec: str, book) -> str:
    """SQL array of (d, c) structs: the integer L2 distance of
    ``subvec`` to every codeword of the literal ``book``."""
    d = _INT_SQDIST.format(a=subvec, b="cb")
    return f"transform({sql_literal(book)}, (cb, c) -> named_struct('d', {d}, 'c', c))"


def _assign_expr(subvec: str, book):
    """argmin over the codebook literal; (dist, idx) struct min ties to
    the lowest code index.  Pure codegen — no shuffle, no UDF."""
    return F.expr(f"array_min({_scored_codes(subvec, book)}).c")


def _adc_table_expr(qvec: str, book):
    """One query-side ADC table: ⟨q_sub, codeword⟩ per code — a
    transform over the codebook literal."""
    return F.expr(
        f"transform({sql_literal(book)}, cb -> {_INT_DOT.format(a=qvec, b='cb')})"
    )


def pq_encode(
    quantized: DataFrame,
    codebooks: list[list[list[int]]],
    q_col: str = "qv",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector to ``m`` codebook indices (array<int>).
    Zero-shuffle: codebooks are literals, assignment is an integer
    argmin inside whole-stage codegen."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = F.array(
        *[
            _assign_expr(_subslice(q_col, j, sub), codebooks[j])
            for j in range(m)
        ]
    )
    return quantized.withColumn(code_col, codes).drop(q_col)


def pq_adc_topk(
    base_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_col: str = "q_qv",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric distance computation: per query, one ``m × ks``
    integer dot-product table against the codebooks; each candidate is
    then scored with ``m`` table lookups on its codes and ranked.

    Output: (q_id, rank, vec_id, adc_score) — adc_score is the exact
    BIGINT ⟨q, reconstruction(v)⟩ in quantized units.  The join ships
    only ``m`` ints per candidate (never the vectors); the query side
    broadcasts.  The rank window partitions by query — no global sort.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    qt = queries.select(
        q_id_col,
        *[
            _adc_table_expr(_subslice(q_col, j, sub), codebooks[j]).alias(f"__t{j}")
            for j in range(m)
        ],
    )
    score = sum(
        F.element_at(
            F.col(f"__t{j}"), F.element_at(F.col(code_col), j + 1) + 1
        )
        for j in range(m)
    )
    scored = base_codes.crossJoin(F.broadcast(qt)).select(
        q_id_col, id_col, score.alias("adc_score")
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "adc_score")
    )


def quantized_cells(
    quantized: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    q_col: str = "qv",
) -> list[list[int]]:
    """Deterministic coarse centroids in the quantized domain: the
    ``n_cells`` lowest-id quantized vectors (driver-side, n_cells·dim
    ints — same convention as ``seed_centroids``)."""
    rows = quantized.orderBy(id_col).limit(n_cells).select(q_col).collect()
    return [list(r[q_col]) for r in rows]


def ivfpq_encode(
    quantized: DataFrame,
    cells: list[list[int]],
    codebooks: list[list[list[int]]],
    q_col: str = "qv",
    cell_col: str = "cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ index build, the billion-vector layout (Jégou et al.
    2011 §IV): assign each vector to its nearest coarse cell (integer
    L2 argmin over cell literals), PQ-encode the RESIDUAL against the
    cell centroid, keep only (id, cell, m codes).

    Zero shuffle — assignment, residual, and codes are all codegen
    expressions over literals.  At cluster scale the output is written
    bucketed by ``cell`` so a probe is a partition-pruned scan.
    Residuals live in [-254, 254] — still exact 32-bit ints.
    """
    enc = quantized.withColumn(cell_col, _assign_expr(q_col, cells))
    resid = F.expr(
        f"zip_with({q_col}, element_at({sql_literal(cells)}, {cell_col} + 1),"
        " (a, b) -> a - b)"
    )
    enc = enc.withColumn("__rv", resid)
    return pq_encode(enc, codebooks, q_col="__rv", code_col=code_col).drop(q_col)


def ivfpq_topk(
    base_enc: DataFrame,
    queries: DataFrame,
    cells: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_col: str = "q_qv",
    cell_col: str = "cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ search: each query probes its ``nprobe`` nearest cells
    (integer L2 on the quantized centroids) and ranks the probed
    cells' candidates by the EXACT integer ⟨q, reconstruction(v)⟩
    where reconstruction = cell centroid + decoded residual — the same
    scoring contract as :func:`pq_adc_topk`, so scores are comparable
    within a cell, across probed cells, and against the flat-PQ path.
    Expanded: ⟨q, c + r̂⟩ = ⟨q, c⟩ (one per (query, cell)) +
    Σ_j ⟨q_sub_j, codeword_j⟩ (one m×ks ADC table per query, built on
    the FULL query — no residual on the query side).

    The probe frame (n_queries × nprobe rows, m×ks ints each) is
    broadcast; the candidate join is cell-keyed, so only probed
    buckets are scanned — the IVF cost model — and each candidate
    contributes ``m`` lookups plus one constant, never a vector.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    from pyspark.sql import Window

    # nprobe nearest cells per query: array_sort on (d, c) structs IS
    # the L2-then-lowest-cell tie rule — no window, no exchange
    probed = F.expr(f"slice(array_sort({_scored_codes(q_col, cells)}), 1, {nprobe})")
    probes = queries.select(
        q_id_col, q_col, F.explode(probed).alias("x")
    ).select(q_id_col, q_col, F.col("x.c").alias(cell_col))
    # ⟨q, c⟩ correction term per (query, cell) — without it, scores
    # from different probed cells are not comparable (ADVICE r7)
    q_cell_dot = _int_dot(q_col, f"element_at({sql_literal(cells)}, {cell_col} + 1)")
    probes = probes.select(
        q_id_col,
        cell_col,
        q_cell_dot.alias("__qc"),
        *[
            _adc_table_expr(_subslice(q_col, j, sub), codebooks[j]).alias(f"__t{j}")
            for j in range(m)
        ],
    )
    # truncate the broadcast side's lineage: it otherwise shares the
    # quantize subplan with base_enc, and the optimizer's subplan
    # dedup has been observed to mis-bind a pre-rename attribute
    # across the broadcast boundary (INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND on qv); the frame is n_queries × nprobe rows of m small
    # arrays, so materializing it is free
    probes = probes.localCheckpoint()
    score = F.col("__qc") + sum(
        F.element_at(
            F.col(f"__t{j}"), F.element_at(F.col(code_col), j + 1) + 1
        )
        for j in range(m)
    )
    cand = base_enc.join(F.broadcast(probes), on=cell_col).select(
        q_id_col, id_col, score.alias("adc_score")
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "adc_score")
    )


def write_ann_index(
    enc: DataFrame,
    path: str,
    cell_col: str = "cell",
) -> None:
    """Persist an IVF(-PQ) index as parquet PARTITIONED BY cell — the
    physical layout behind the probe cost model: a query that probes
    ``nprobe`` cells reads exactly those directories (partition
    pruning), never the full index.  Codes-only rows keep the index
    ~32× smaller than the float32 vectors it stands for."""
    enc.write.mode("overwrite").partitionBy(cell_col).parquet(path)


def upsert_ann_cells(
    enc: DataFrame,
    path: str,
    cell_col: str = "cell",
) -> None:
    """Incremental index maintenance: replace ONLY the cell partitions
    present in ``enc``, leaving every other cell's files untouched —
    Spark's dynamic partition-overwrite.

    The scale rationale: after new vectors arrive (or a re-quantize of
    one shard), only the affected cells are dirty; rewriting a
    billion-vector index to update 2% of its cells is the difference
    between a nightly job and an always-behind one.  The session-level
    ``partitionOverwriteMode`` conf is set per-write via the
    DataFrameWriter option, so no global state changes."""
    (
        enc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(cell_col)
        .parquet(path)
    )


def read_ann_cells(spark, path: str, cells: list[int], cell_col: str = "cell"):
    """Open an index written by :func:`write_ann_index` restricted to
    ``cells`` — the filter lands in the scan's PartitionFilters (a
    directory-level prune, asserted in tests), which is the IVF probe
    doing I/O proportional to nprobe/n_cells."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).filter(F.col(cell_col).isin(cells))


# ---------------------------------------------------------------------------
# int4 (nibble) quantization: the 8× storage tier below int8
# ---------------------------------------------------------------------------


def quantize_int4(
    df: DataFrame, q_col: str = "qv", out_col: str = "q4"
) -> DataFrame:
    """Requantize the shared-scale int8 column to int4 ([-8, 7]) via
    exact floor division by 16: ``q4[i] = floor(qv[i] / 16)``.

    Integer-exact and engine-portable (floor is expressed as
    ``(x - pmod(x, 16)) / 16`` so no engine's divide-toward-zero rule
    leaks in).  Like the int8 tier, one corpus-wide scale keeps dots
    comparable across vectors; the deliberate precision loss is the
    trade for the 8× smaller packed footprint (see
    :func:`pack_int4_words`)."""
    q4 = F.expr(f"transform({q_col}, x -> CAST((x - pmod(x, 16)) / 16 AS INT))")
    return df.withColumn(out_col, q4)


def pack_int4_words(
    df: DataFrame, col: str = "q4", out_col: str = "q4w"
) -> DataFrame:
    """Pack 8 int4 values per 32-bit word (stored as long):
    ``word_j = Σ_t (q4[8j+t] + 8) · 16^t`` — a 64-dim vector becomes 8
    words (32 bytes) instead of 64 ints (256 B in memory, and 8× fewer
    parquet values).  At 100 TB this is the difference between an
    embedding shuffle that fits and one that spills: the packed column
    is what ships through joins, the nibbles are unpacked on demand
    inside codegen (:func:`unpack_int4_words`).  Dim must be a
    multiple of 8 — enforced in the expression itself (``raise_error``
    branch), so a 12-dim vector fails the job loudly instead of
    silently dropping its last 4 nibbles."""
    word = " + ".join(
        f"CAST(element_at({col}, CAST(j * 8 + {t} + 1 AS INT)) + 8 AS BIGINT) * {16**t}"
        for t in range(8)
    )
    guarded = F.expr(
        f"CASE WHEN size({col}) % 8 != 0 THEN raise_error(concat("
        f"'pack_int4_words: dim must be a multiple of 8, got ', CAST(size({col}) AS STRING)))"
        f" ELSE transform(sequence(0, CAST(size({col}) / 8 AS INT) - 1), j -> {word}) END"
    )
    return df.withColumn(out_col, guarded)


def unpack_int4_words(
    df: DataFrame, col: str = "q4w", out_col: str = "q4"
) -> DataFrame:
    """Inverse of :func:`pack_int4_words`:
    ``q4[8j+t] = ((word_j mod 16^(t+1)) / 16^t) - 8``.  Words are
    non-negative (< 16^8), so the mod/divide pair is exact in 64-bit
    integers on every engine.  Mirrors :func:`pack_int4_words`'s
    loud-failure guard: a word outside [0, 16^8) is corrupt input
    (not something this packer produced) and raises instead of
    decoding garbage nibbles."""
    nibs = ", ".join(
        f"CAST((w % {16 ** (t + 1)}) / {16**t} AS INT) - 8" for t in range(8)
    )
    nib = F.expr(
        f"flatten(transform({col}, w -> CASE WHEN w < 0 OR w >= {16**8} THEN raise_error("
        "concat('unpack_int4_words: word out of [0, 16^8): ', CAST(w AS STRING)))"
        f" ELSE array({nibs}) END))"
    )
    return df.withColumn(out_col, nib)


# ---------------------------------------------------------------------------
# two-stage retrieval: ADC shortlist → exact rerank (IVFADC-R)
# ---------------------------------------------------------------------------


def exact_rerank_topk(
    shortlist: DataFrame,
    base_q: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_col: str = "q_qv",
    base_q_col: str = "qv",
) -> DataFrame:
    """Second stage of IVFADC-R (Jégou et al. 2011 §V): take an ADC
    shortlist (any (q_id, vec_id) candidate frame — typically
    :func:`ivfpq_topk` with k = R >> final k), fetch the R true
    quantized vectors, score them with the EXACT integer dot, and keep
    the top ``k``.

    Scale shape: the shortlist is n_queries × R rows of two ids — it
    broadcasts; the base scan is filtered by the broadcast hash join
    (at cluster scale, by the id-bucketed layout), so full vectors are
    only materialized for R candidates per query, never the corpus.
    With R = corpus size this degenerates to exact brute force — the
    property the tests pin."""
    # sever the shortlist's lineage before re-joining the quantize
    # subplan it came from: the optimizer's subplan dedup mis-binds
    # attributes across the broadcast boundary otherwise (same
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND workaround as ivfpq_topk's
    # probe frame); n_queries × R id pairs, so materializing is free
    sl = (
        shortlist.select(q_id_col, id_col)
        .distinct()
        .localCheckpoint()
    )
    cand = base_q.join(F.broadcast(sl), id_col)
    cand = cand.join(
        F.broadcast(queries.select(q_id_col, q_col)), q_id_col
    )
    scored = cand.select(
        q_id_col,
        id_col,
        _int_dot(base_q_col, q_col).alias("exact_score"),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("exact_score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "exact_score")
    )
