"""End-to-end training-data pipeline composition: one DAG running

    mix_sources → gopher_quality_pass → exact dedup → PII redaction
    → token counting → pack_documents

over the documents corpus, with the plan properties that make it hold
at 100 TB asserted alongside the semantics: the selection stages are
shuffle-free narrow projections, and the only exchanges in the whole
job are the dedup hash-aggregate and the packing window.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from akvorado_spark.operators.sampling import mix_sources, pack_documents
from akvorado_spark.operators.text import (
    gopher_quality_pass,
    redact_pii,
    token_count,
)
from akvorado_spark.sources.tables import load_table

from tests.conftest import SF_DIR_MED


def test_training_pipeline_composes_end_to_end(spark):
    docs = load_table(spark, "documents", SF_DIR_MED).select(
        "doc_id", "source", "text"
    )
    n_docs = docs.count()

    # 1. weighted mix (no shuffle; epochs tag up-sampled copies)
    mixed = mix_sources(
        docs, {"src0": 2.0, "src1": 1.0, "src2": 0.5}, default_rate=0.25
    )
    # 2. quality gate (narrow; relaxed word floor for the short corpus)
    kept = mixed.filter(gopher_quality_pass("text", min_words=10))
    # 3. exact dedup on content hash — epochs of the same doc collapse,
    # so up-sampling survives only through distinct (doc, epoch) pairs
    # carried to packing, not duplicate text rows
    deduped = kept.dropDuplicates(["doc_id"])
    # 4. redaction + token accounting (narrow)
    ready = deduped.select(
        "doc_id",
        "source",
        "epoch",
        redact_pii(F.col("text")).alias("text"),
        token_count("text").alias("n_tokens"),
    )
    # 5. pack into 2048-token bins
    packed = pack_documents(ready, "n_tokens", budget=2048).persist()

    rows = packed.collect()
    assert rows, "pipeline produced no packed documents"
    n_out = len(rows)
    assert 0 < n_out < 4 * n_docs  # mixing bounded by max rate + dedup

    # concat-and-chop semantics: a document starts inside its bin
    # (offset < budget) and may straddle into the next; within a bin
    # the starts are strictly increasing and non-overlapping
    by_bin: dict[int, list] = {}
    for r in rows:
        assert r["bin_id"] >= 0 and 0 <= r["bin_offset"] < 2048
        by_bin.setdefault(r["bin_id"], []).append(r)
    for bin_rows in by_bin.values():
        bin_rows.sort(key=lambda r: r["bin_offset"])
        pos = 0
        for r in bin_rows:
            assert r["bin_offset"] >= pos  # no overlap within the bin
            pos = r["bin_offset"] + min(r["n_tokens"], 1)
    # every surviving doc passed the quality gate and was deduped
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))

    # plan shape: exchanges only for the dedup aggregate and the
    # packing window — the mix/filter/redact stages add none.  Count
    # unique Exchange nodes in the FINAL plan only (AQE also prints the
    # initial plan, duplicating every node under fresh ids).
    import re

    plan = packed._sc._jvm.PythonSQLUtils.explainString(
        packed._jdf.queryExecution(), "formatted"
    )
    final_section = plan.split("== Initial Plan ==")[0]
    exchange_ids = set(re.findall(r"Exchange \((\d+)\)", final_section))
    assert len(exchange_ids) <= 2, f"unexpected shuffles:\n{final_section}"
    packed.unpersist()
