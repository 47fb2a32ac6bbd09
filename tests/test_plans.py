"""Physical-plan health checks — the scale contract, asserted.

Correctness tests prove the operators compute the right rows at small
SF; these prove the *plans* are the ones that survive a 100× scale-up:
filters pushed into the parquet scan, projection pruned to the read
schema, time filters pruned to partitions, dimension lookups broadcast
(never sort-merge), and no accidental cartesian products in the query
compilers.  A regression here is invisible to value checks but fatal
at 100 TB.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from akvorado_spark.plans.rollup import FlowStore
from akvorado_spark.schema.definition import flows_schema
from akvorado_spark.sources.fixtures import flows_df
from akvorado_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planstore"))
    s = FlowStore(spark, root)
    s.write_main(flows_schema().ingest(flows_df(spark, n=5_000)))
    s.build_rollups()
    return s


def test_filter_and_projection_reach_parquet_scan(spark):
    df = (
        load_table(spark, "lineitem", SF_DIR)
        .filter(F.col("l_quantity") < 5)
        .select("l_orderkey", "l_quantity")
    )
    p = plan(df)
    assert "PushedFilters:" in p and "LessThan(l_quantity" in p
    # read schema pruned to the two referenced columns
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "l_orderkey" in schema_line and "l_comment" not in schema_line


def test_time_filter_prunes_rollup_partitions(spark, store):
    """The query layer brackets every range with part_date bounds
    (query/graph.py) — assert those land as PartitionFilters on the
    scan, i.e. whole partitions are skipped before any IO."""
    start = datetime(2024, 1, 1, 3, tzinfo=timezone.utc)
    res = store.resolutions[0]
    df = store.read(res).filter(
        (F.col("part_date") >= F.lit(start.date()))
        & (F.col("TimeReceived") >= F.lit(start))
    )
    p = plan(df)
    pf_line = next(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "part_date" in pf_line and ">= 2024-01-01" in pf_line
    # the row-level time bound is pushed to the reader as well
    assert "PushedFilters:" in p and "GreaterThanOrEqual(TimeReceived" in p


def test_dictionary_lookup_is_broadcast(spark):
    from akvorado_spark.sources.dictionaries import PROTOCOLS, dict_df, dict_join

    flows = load_table(spark, "lineitem", SF_DIR).select(
        (F.col("l_orderkey") % 3 * 11 + 6).cast("int").alias("Proto")
    )
    dim = dict_df(spark, PROTOCOLS, "proto int, name string")
    out = dict_join(flows, dim, [("Proto", "proto")], "name", "ProtoName", "unknown")
    p = plan(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_lpm_cascade_is_broadcast_only(spark):
    from akvorado_spark.operators.lpm import lpm_join
    from akvorado_spark.sources.fixtures import flows_df, networks_df

    flows = flows_df(spark, n=1000).select("SrcAddr")
    out = lpm_join(flows, networks_df(spark), "SrcAddr", attrs=["name"])
    p = plan(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_line_compiler_plan_shape(spark):
    """The graph-line plan: marker/spine joins broadcast, scalar
    bounds as 1-row nested-loop broadcasts, no cartesian product."""
    from akvorado_spark.oracle.registry import QUERIES
    import akvorado_spark.oracle.line_queries  # noqa: F401

    df = QUERIES["graph_line_suite"].spark(spark, SF_DIR)
    p = plan(df)
    assert "CartesianProduct" not in p
    # marker/spine joins broadcast; scalar bounds ride 1-row
    # BroadcastNestedLoopJoins — never a shuffled sort-merge join
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join on
    (key, bucket) — an inequality-only join would fall back to
    BroadcastNestedLoopJoin and touch quadratic row pairs."""
    from akvorado_spark.operators.rangejoin import range_join

    ev = load_table(spark, "events", SF_DIR)
    errors = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    out = range_join(
        errors, clicks, on=["user_id"], left_ts="err_ts", right_ts="click_ts", max_gap_s=3600
    )
    p = plan(out)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Join" in p  # an actual (hash) join on the bucketed key


def test_wire_bridge_interface_joins_are_broadcast(spark):
    from test_wire import EXP
    from test_wire_pipeline import _interfaces

    from akvorado_spark.sources.wire import WIRE_SCHEMA, ip16
    from akvorado_spark.streaming.wire_bridge import wire_to_flows

    wire = spark.createDataFrame([], WIRE_SCHEMA)
    flows = wire_to_flows(wire, interfaces=_interfaces(spark))
    p = plan(flows)
    # both direction lookups broadcast; the fact side never shuffles
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Exchange hashpartitioning" not in p


def test_routed_oracle_member_prunes_partitions(spark, monkeypatch, tmp_path):
    """The rollup_route_suite members bracket their range with
    part_date bounds — assert they land as PartitionFilters on the
    routed scan (whole date directories skipped before any IO)."""
    import akvorado_spark.oracle.rollup_queries as rq

    store = rq.get_store(spark, SF_DIR)
    df = rq._routed_member(store, "t90_1m")
    p = plan(df)
    pf_line = next(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "part_date" in pf_line
    assert ">= 2024-01-05" in pf_line and "<= 2024-01-05" in pf_line


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-set side of decontamination must broadcast: the corpus
    gram stream may be 100 TB-scale and cannot be shuffled for the
    probe join."""
    from akvorado_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(i, f"w{i} common words here") for i in range(100)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(1, "common words here")], "doc_id long, text string")
    p = plan(decontaminate(train, ev, "text", "doc_id"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_sample_per_key_single_shuffle(spark):
    """Per-key sampling is one key-partitioned window — exactly one
    exchange, no extra sort-merge machinery."""
    from akvorado_spark.operators.sampling import sample_per_key

    import re

    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(100)], "doc_id long, grp string"
    )
    p = plan(sample_per_key(df, ("grp",), 4, "doc_id"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "SortMergeJoin" not in p
    # Spark's rank-limit pushdown: a Partial WindowGroupLimit keeps at
    # most n rows per key per map task BEFORE the shuffle, so a hot key
    # never funnels its full row count through one reducer
    assert "row_number(), 4, Partial" in p and "row_number(), 4, Final" in p


def test_connected_components_round_is_one_join_one_agg(spark):
    """Each propagation round's plan: the label frame (checkpointed,
    tiny) joins the edge list and min-aggregates — no cartesian
    product, no nested loop; with a small label side the join may
    broadcast, with a large one it hash-partitions, both fine — what
    must NOT appear is a per-round re-derivation of the upstream pair
    pipeline (the checkpoint truncates lineage, so the plan reads from
    an ExistingRDD/LogicalRDD scan, not from the original source)."""
    from akvorado_spark.operators.dedup import connected_components

    # disjoint edges: the min-neighbor init IS the fixpoint, so the
    # single allowed round is the confirming one (a long chain would
    # now trip the non-convergence guard instead)
    pairs = spark.read.parquet(f"{SF_DIR}/orders.parquet").selectExpr(
        "o_orderkey * 2 AS id_a", "o_orderkey * 2 + 1 AS id_b"
    ).limit(200)
    labels = connected_components(pairs, max_iter=1)
    p = plan(labels)
    # the returned frame is a checkpoint: its lineage must NOT reach
    # back to the parquet source
    assert "parquet" not in p.lower()
    assert "Scan ExistingRDD" in p


def test_semdedup_broadcasts_centroids(spark):
    """semdedup's centroid assignment must broadcast the centroid set
    (k x dim — tiny), and the intra-cluster pair join keys on the
    cluster id: no cartesian product over the corpus.

    r13: semdedup materializes the assignment once (localCheckpoint) so
    the crossJoin subtree no longer appears in the *final* plan — the
    assignment shape is asserted on :func:`assign_cells` directly, and
    the full semdedup plan must read the checkpointed assignment
    (Scan ExistingRDD) instead of re-deriving it per consumer."""
    from akvorado_spark.operators.similarity import assign_cells, semdedup

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "c_id int, c_vec array<double>"
    )
    pa = plan(assign_cells(vecs, cents))
    assert "BroadcastNestedLoopJoin" in pa  # centroid cross join, broadcast side
    assert "CartesianProduct" not in pa
    p = plan(semdedup(vecs, cents, 0.8))
    assert "CartesianProduct" not in p
    # the three assignment consumers read the one materialized pass
    assert "Scan ExistingRDD" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_span_removal_single_window_shuffle(spark):
    """remove_duplicate_spans computes the corpus-wide count AND the
    global first-occurrence rank in ONE window-keyed sort — no
    self-join of the window stream."""
    from akvorado_spark.operators.text import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(i, f"w{i} x y z a b") for i in range(50)], "doc_id long, text string"
    )
    p = plan(remove_duplicate_spans(docs))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # exactly two exchanges: one keyed by window text, one by doc id
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2


def test_split_dataset_zero_shuffle_codegen(spark):
    """The split is one md5 + CASE chain — no exchange, no join, and
    the projection stays inside whole-stage codegen."""
    from akvorado_spark.operators.sampling import split_dataset

    df = spark.createDataFrame(
        [(i, f"s{i % 5}") for i in range(100)], "doc_id long, source string"
    )
    p = plan(split_dataset(df, {"train": 0.8, "val": 0.1, "test": 0.1},
                           group_col="source"))
    assert "Exchange" not in p
    assert "Join" not in p
    # the formatted plan marks codegen stages with "[codegen id : N]"
    assert "codegen id" in p


def test_quantize_embeddings_zero_shuffle(spark):
    from akvorado_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.1, -0.5, 0.9]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    p = plan(quantize_embeddings(df))
    assert "Exchange" not in p and "Join" not in p


def test_two_level_assign_broadcasts_only_supers(spark):
    """Stage 1 of the two-level quantizer broadcasts the SUPER frame;
    the children reach the rows via a join, never a cartesian product."""
    from akvorado_spark.operators.similarity import (
        assign_cells_two_level,
        seed_centroids,
        split_centroids,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    cents = seed_centroids(vecs, 9)
    supers, children = split_centroids(cents)
    p = plan(assign_cells_two_level(vecs, supers, children))
    assert "CartesianProduct" not in p
    # the only nested-loop join is the 1-row-side broadcast of supers
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_pq_encode_zero_shuffle_and_adc_broadcast(spark):
    """PQ: codebooks are plan literals → encode has no exchange/join;
    the ADC scoring join broadcasts the (tiny) query-table side."""
    import re

    from akvorado_spark.operators.pq import (
        global_scale,
        pq_adc_topk,
        pq_codebooks_from_seeds,
        pq_encode,
        quantize_global,
    )

    vecs = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    q = quantize_global(vecs, global_scale(vecs))
    books = pq_codebooks_from_seeds(q, m=4, ks=4)
    # quantize_global's scale crossJoin broadcasts a 1-row aggregate;
    # beyond it the encode path must add NO exchange and NO further join
    enc = pq_encode(q, books)
    p = plan(enc)
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    queries = q.limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    p2 = plan(pq_adc_topk(enc, queries, books, k=3))
    assert "BroadcastNestedLoopJoin" in p2
    # the only hash exchange is the per-query rank window, and the
    # partial WindowGroupLimit prunes to k rows per task BEFORE it
    assert len(re.findall(r"hashpartitioning\(q_id", p2)) >= 1
    assert "SortMergeJoin" not in p2 and "ShuffledHashJoin" not in p2
    assert p2.count("WindowGroupLimit") >= 2


def test_substring_dedup_no_cartesian_and_hash_keys(spark):
    """Exact-substring dedup: window ownership joins on the window key,
    never a cartesian product; production keying shuffles 8-byte
    hashes, not window strings."""
    from akvorado_spark.operators.dedup import duplicate_window_spans

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    p = plan(duplicate_window_spans(docs, "text", "doc_id", key_fn=lambda c: f"xxhash64({c})"))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p


def test_perplexity_vocab_size_is_broadcast(spark):
    """The 1-row vocab-size frame joins as a broadcast, never a
    shuffled join side."""
    from akvorado_spark.operators.lm import bigram_lm_scores

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    p = plan(bigram_lm_scores(docs, "text", "doc_id"))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_line_dedup_plan_shapes(spark):
    """min_docs=2 runs joinless (one line-content window + the per-doc
    regroup); the general threshold's aggregate+join path never
    produces a cartesian product."""
    from akvorado_spark.operators.dedup import line_dedup

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    p2 = plan(line_dedup(docs, "text", "doc_id", key_fn=lambda c: f"xxhash64({c})"))
    assert "Join" not in p2 and "CartesianProduct" not in p2
    p3 = plan(line_dedup(docs, "text", "doc_id", min_docs=3, key_fn=lambda c: f"xxhash64({c})"))
    assert "CartesianProduct" not in p3 and "BroadcastNestedLoopJoin" not in p3


def test_pipeline_funnel_no_cartesian(spark):
    import akvorado_spark.oracle.lmdata_queries as L

    p = plan(L._pipeline_funnel(spark, SF_DIR))
    assert "CartesianProduct" not in p
    # the only nested-loop joins are the broadcast 1-row scalar frames
    assert "SortMergeJoin" not in p


def test_vocab_suite_joins_are_broadcast_with_shuffle_fallback(spark):
    """vocab_suite (r10): the bpe word→count map and the tfidf idf
    side broadcast by default (vocabulary-sized), with the documented
    web-scale fallback to a term/word-keyed shuffle join when the
    hint is disabled — never a cartesian."""
    from akvorado_spark.operators.bpe import bpe_token_counts
    from akvorado_spark.operators.text import tfidf_topk_terms
    from akvorado_spark.oracle.vocab_queries import BPE_MERGES

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    p = plan(bpe_token_counts(docs, "text", "doc_id", list(BPE_MERGES)))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    p2 = plan(tfidf_topk_terms(docs, "text", "doc_id", k=3))
    assert "BroadcastHashJoin" in p2
    assert "CartesianProduct" not in p2
    # web-scale fallback: hint off → equi-join on the key, never a
    # cartesian.  (The BroadcastNestedLoopJoin that remains in the
    # tfidf plan is the HINTED 1-row corpus-total frame from
    # term_stats — bounded by construction, fine at any scale.)
    p3 = plan(
        bpe_token_counts(docs, "text", "doc_id", list(BPE_MERGES),
                         broadcast_vocab=False)
    )
    assert "CartesianProduct" not in p3
    p4 = plan(tfidf_topk_terms(docs, "text", "doc_id", k=3,
                               broadcast_stats=False))
    assert "CartesianProduct" not in p4


def test_certification_sample_is_take_ordered_not_full_sort(spark):
    """The fixed-size cert cap compiles to TakeOrderedAndProject —
    per-task local top-n + one n-sized merge — never a corpus-wide
    Sort + Exchange (which would make the 'bounded cert' cost a full
    shuffle of the corpus it exists to avoid)."""
    from akvorado_spark.operators.sampling import certification_sample

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    p = plan(certification_sample(df, 100, "doc_id"))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()
