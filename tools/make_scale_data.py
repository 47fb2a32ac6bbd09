"""Synthesize a 10x corpus from sf0.1 for scale-headroom measurement.

Writes <checkout>/.scaledata/sf1/*.parquet (gitignored): each row-bearing
table replicated 10x with key offsets so entities stay distinct, and
content permuted per replica so the dedup/ANN workload keeps its organic
structure instead of degenerating into 10-way exact-dup cliques:

- lineitem: l_orderkey offset per replica (the flows view derives its
  synthetic addresses/ports mod small constants, so this reads as a 10x
  traffic increase over the same exporter fleet — the realistic shape);
- documents: doc_id offset 1e8 per replica (clear of the oracle's 1e7
  seeded-twin offset), token sequence ROTATED per replica.  Rotation
  only perturbs the ~4 shingles crossing the cut, so the replicas of a
  doc form a 10-way NEAR-DUP CLIQUE (and, being multiset-identical,
  a 10-way SimHash-collision clique) — deliberately the worst-case
  dedup shape: every base doc contributes 45 true pairs, stressing the
  degenerate-bucket caps and the pair-verify join;
- embeddings: vec_id offset, vector components rotated (norms preserved);
- events: event_id/user_id offsets (10x the user base, same window);
- dimension-ish tables copied as-is.

Usage: python tools/make_scale_data.py [replicas] [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def main() -> int:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata", "sf1"
    )
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    def emit(name: str, per_replica_sql: str) -> None:
        parts = " UNION ALL ".join(
            per_replica_sql.format(k=k, src=f"read_parquet('{SRC}/{name}.parquet')")
            for k in range(replicas)
        )
        con.execute(
            f"COPY ({parts}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out_dir}/{name}.parquet')"
        ).fetchone()[0]
        print(f"{name}: {n} rows")

    emit(
        "lineitem",
        "SELECT l_orderkey + CAST({k} AS BIGINT) * 100000000 AS l_orderkey, l_partkey, l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate FROM {src}",
    )
    emit(
        "documents",
        """
        SELECT doc_id + CAST({k} AS BIGINT) * 100000000 AS doc_id,
               CASE WHEN {k} = 0 THEN text ELSE array_to_string(
                 list_concat(ws[1 + ((7 * {k}) % GREATEST(len(ws), 1)):],
                             ws[1:(7 * {k}) % GREATEST(len(ws), 1)]), ' ')
               END AS text,
               lang, source, n_chars
        FROM (SELECT *, string_split_regex(text, '\\s+') AS ws FROM {src})
        """,
    )
    emit(
        "embeddings",
        """
        SELECT vec_id + CAST({k} AS BIGINT) * 10000000 AS vec_id,
               CASE WHEN {k} = 0 THEN embedding ELSE
                 CAST(list_concat(embedding[1 + ({k} % len(embedding)):],
                                  embedding[1:{k} % len(embedding)]) AS FLOAT[])
               END AS embedding,
               label
        FROM {src}
        """,
    )
    emit(
        "events",
        "SELECT event_id + CAST({k} AS BIGINT) * 1000000000 AS event_id, ts,"
        " user_id + CAST({k} AS BIGINT) * 10000000 AS user_id, event_type, value, props FROM {src}",
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet'))"
            f" TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
