"""Measure single-level vs two-level coarse-quantizer assignment at
equal k (VERDICT r5 item 3 done-criterion).

Single-level assignment (semdedup/IVF build) crossJoins N vectors
against a broadcast of ALL k centroids — with k = suggest_cells(N) ≈
N/256 that is N²/256 score evaluations and a broadcast growing
linearly with the corpus.  Two-level (split_centroids +
assign_cells_two_level) broadcasts only ~√k supers and reaches the
winner's ~√k children through a keyed join: per-row work O(√k), flat
broadcast.

Prints one markdown table: N, k, per-variant wall seconds, score
evaluations per row, and broadcast cells (rows × dim) — the broadcast
column is the design number the 100× bar cares about.

Usage: python tools/bench_assign.py [sf_dir ...]
Defaults to /root/testdata/sf0.1 and the 10x corpus if present.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_DIRS = ["/root/testdata/sf0.1", os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata", "sf1")]


def run(sf_dirs: list[str]) -> None:
    from pyspark.sql import functions as F

    from akvorado_spark.operators.similarity import (
        assign_cells_two_level,
        cosine,
        seed_centroids,
        split_centroids,
        suggest_cells,
    )
    from akvorado_spark.session import get_spark
    from akvorado_spark.sources.tables import load_table

    spark = get_spark()
    print("| corpus | N | k | variant | wall s | scores/row | bcast cells |")
    print("|---|---|---|---|---|---|---|")
    for sf_dir in sf_dirs:
        if not os.path.isdir(sf_dir):
            continue
        vecs = (
            load_table(spark, "embeddings", sf_dir, spread=True)
            .select("vec_id", "embedding")
            .localCheckpoint()  # isolate assignment cost from the scan
        )
        n = vecs.count()
        dim = len(vecs.first()["embedding"])
        k = suggest_cells(n)
        cents = seed_centroids(vecs, k).localCheckpoint()

        def timed(fn):
            best = None
            for _ in range(2):
                t0 = time.time()
                out = fn()
                assert out.count() == n
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            return best

        def single():
            scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
                "__sim", F.round(cosine("embedding", "c_vec"), 6)
            )
            return scored.groupBy("vec_id", "embedding").agg(
                F.expr("max_by(c_id, struct(__sim, -c_id))").alias("__cell"),
                F.max("__sim").alias("__csim"),
            )

        supers, children = split_centroids(cents)
        supers = supers.localCheckpoint()
        children = children.localCheckpoint()
        n_super = supers.count()

        def two():
            return assign_cells_two_level(vecs, supers, children)

        t1 = timed(single)
        t2 = timed(two)
        tag = os.path.basename(os.path.normpath(sf_dir))
        print(f"| {tag} | {n} | {k} | single | {t1:.2f} | {k} | {k * dim} |")
        print(
            f"| {tag} | {n} | {k} | two-level | {t2:.2f} | "
            f"{n_super} + ~{math.ceil(k / max(n_super, 1))} | {n_super * dim} |"
        )


if __name__ == "__main__":
    run(sys.argv[1:] or DEFAULT_DIRS)
