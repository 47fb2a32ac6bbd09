"""A flows-shaped view derived deterministically from the driver's
``lineitem`` table — identical SQL in Spark and DuckDB — so the filter
DSL, IP operators, and dimension queries can be checked through the
driver's DuckDB oracle even though the test corpus has no native flow
table.

Address derivation builds v4-mapped 16-byte binaries with
``unhex(concat(...))`` (hex/lpad/unhex behave identically in both
engines).  Weights are integer "bytes" so sums are exact.
"""

from __future__ import annotations

import shutil
import tempfile
import weakref

# Valid in both Spark SQL and DuckDB.
FLOWS_VIEW_SQL = """
SELECT
  CAST(l_shipdate AS TIMESTAMP) AS TimeReceived,
  unhex(concat('00000000000000000000ffff',
               '0a',
               lpad(hex(l_suppkey % 200), 2, '0'),
               lpad(hex(l_partkey % 250), 2, '0'),
               lpad(hex(l_orderkey % 250), 2, '0'))) AS SrcAddr,
  unhex(concat('00000000000000000000ffff',
               'c6',
               '33',
               lpad(hex(l_partkey % 200), 2, '0'),
               lpad(hex(l_linenumber % 200), 2, '0'))) AS DstAddr,
  concat('router', CAST(l_suppkey % 8 + 1 AS STRING)) AS ExporterName,
  unhex(concat('00000000000000000000ffff', 'c00002',
               lpad(hex(l_suppkey % 8 + 1), 2, '0'))) AS ExporterAddress,
  CAST(CASE WHEN l_linenumber % 3 = 0 THEN 1000
            WHEN l_linenumber % 3 = 1 THEN 10000
            ELSE 100000 END AS INT) AS InIfSpeed,
  CAST(CASE WHEN l_partkey % 3 = 0 THEN 1000
            WHEN l_partkey % 3 = 1 THEN 10000
            ELSE 100000 END AS INT) AS OutIfSpeed,
  concat('Gi0/0/', CAST(l_linenumber % 8 AS STRING)) AS InIfName,
  concat('Gi0/0/', CAST(l_partkey % 8 AS STRING)) AS OutIfName,
  CASE WHEN l_orderkey % 2 = 0 THEN 'external' ELSE 'internal' END AS InIfBoundary,
  CAST(1024 + l_partkey % 60000 AS INT) AS SrcPort,
  CAST(CASE WHEN l_orderkey % 10 < 4 THEN 443
            WHEN l_orderkey % 10 < 6 THEN 80
            WHEN l_orderkey % 10 < 8 THEN 53
            ELSE 123 END AS INT) AS DstPort,
  CAST(CASE WHEN l_orderkey % 10 < 6 THEN 6
            WHEN l_orderkey % 10 < 9 THEN 17
            ELSE 1 END AS INT) AS Proto,
  CAST(2048 AS INT) AS EType,
  CAST(64512 + l_suppkey % 20 AS INT) AS SrcAS,
  CAST(64512 + l_partkey % 20 AS INT) AS DstAS,
  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS Bytes,
  CAST(1 + l_quantity AS BIGINT) AS Packets,
  CAST(1000 AS BIGINT) AS SamplingRate
FROM lineitem
"""


# session → {(sf_dir, view name): finalizer that removes the parquet dir}
_MATERIALIZED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_spark_view(spark, sf_dir: str, name: str = "flows_v") -> None:
    """Register the flows view, materialized once per (session, sf).

    In the reference the ``flows`` table is *stored* (MergeTree); the
    address-derivation arithmetic runs once at ingest, not per query.
    A session-scoped DISK-BACKED parquet table reproduces that (same
    pattern as the rollup FlowStore): the first registration pays the
    derivation and the write, every query reads the columnar table back
    with real pushdown/pruning — the honest 100 TB analog of a stored
    fact table, with no dependence on executor storage memory (an
    in-memory ``persist`` was silently evictable, which bit the r12/r13
    bench, and is not how a stored table behaves at scale).

    The parquet is written fresh per (session, sf) under a tempdir —
    nothing is keyed on the input path across processes, so every run
    still computes from the source parquet.  The tempdir is removed when
    another sf supersedes it, when the session is collected, or at
    interpreter exit.
    """
    per = _MATERIALIZED.setdefault(spark, {})
    if (sf_dir, name) in per:
        return
    from akvorado_spark.sources.tables import load_table

    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    root = tempfile.mkdtemp(prefix="akvorado_flows_")
    cleanup = weakref.finalize(spark, shutil.rmtree, root, True)
    spark.sql(FLOWS_VIEW_SQL).write.mode("overwrite").parquet(root)
    spark.read.parquet(root).createOrReplaceTempView(name)
    # drop stale materializations of other scale factors for this session
    for k in [k for k in per if k[1] == name]:
        per.pop(k)()
    per[(sf_dir, name)] = cleanup


def oracle_view_sql() -> str:
    """The view as an inline subquery for the DuckDB oracle."""
    return f"({FLOWS_VIEW_SQL})"
