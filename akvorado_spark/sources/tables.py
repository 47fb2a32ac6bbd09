"""Loaders for the driver-generated parquet test tables.

These are plain ``spark.read.parquet`` scans — Catalyst handles column
pruning and predicate pushdown into the parquet reader, so callers
should select/filter as early as possible and trust the optimizer
(verify with ``df.explain``: look for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# unique-id column used for deterministic spread partitioning
_SPREAD_KEYS = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
}


# finished scan DataFrames per (session, sf_dir, table, spread) — a
# PLAN memo, never data: the frame is a lazy parquet scan definition;
# every action still reads the files.  Construction costs ~0.1 s of
# py4j (reader setup + schema walk) and query builds call load_table
# 1-4 times each, so a 50-query bench run pays it hundreds of times
# otherwise.  WeakKeyDictionary: entries die with their session, and a
# recycled id() can never alias a new session (VERDICT r13 #5 class).
# A frame's file index is fixed when it is created, so each entry
# carries the file's (mtime, size) stamp: a table rewritten in place
# gets a new frame instead of the old file list.
from weakref import WeakKeyDictionary

_TABLE_MEMO: WeakKeyDictionary = WeakKeyDictionary()


def load_table(
    spark: SparkSession, name: str, sf_dir: str | None = None, spread: bool = False
) -> DataFrame:
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    # The events table stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read nanos as long and convert.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ→LTZ casts (e.g. l_shipdate) must be instant-preserving to
    # match the DuckDB oracle's naive-UTC epoch math, whatever session
    # the caller hands us.  (Conf sets stay OUTSIDE the memo so every
    # call re-asserts them.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        per = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # un-weakref-able session shim → no memo
        per = {}
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:  # not a local path: the read below decides
        stamp = None
    key = (name, sf_dir, bool(spread))
    hit = per.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer `div` — double division would lose precision >2^53
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Parquet naive timestamps surface as TIMESTAMP_NTZ, which
            # strict-typed functions (unix_micros, session_window
            # arithmetic) reject.  With the session tz pinned to UTC
            # above, the NTZ→LTZ cast is instant-preserving and keeps
            # epoch math identical to the DuckDB oracle's naive-UTC.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if spread:
        # The test tables are single-row-group parquet files, so the
        # scan stage is ONE task no matter how many cores the session
        # has — any per-row-heavy stage downstream (shingling, vector
        # math, datagram decode) serializes on it.  An explicit
        # shuffle of the (small) input restores parallelism.  Hash
        # partitioning on the table's unique id beats round-robin
        # here: it is deterministic on retry without the local
        # sort-before-repartition pass over full rows.  Opt-in: at
        # production scale inputs arrive in thousands of splits and
        # the extra exchange would be waste, so only pipelines whose
        # next stage is compute-bound ask.
        skey = _SPREAD_KEYS.get(name, df.columns[0])
        df = df.repartition(spark.sparkContext.defaultParallelism, F.col(skey))
    per[key] = (stamp, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small dimension frame as a JVM LocalRelation.

    ``spark.createDataFrame(list, ...)`` parallelizes pickled rows
    through Python workers — every broadcast build then pays a Python
    round-trip (~seconds of fixed latency per join in this
    environment).  Routing through pandas/Arrow lands the data in a
    LocalRelation evaluated entirely JVM-side; measured ~6× faster per
    broadcast join.  Falls back to the plain path if Arrow conversion
    can't handle a type.
    """
    import pandas as pd

    names = [c.split()[0] for c in schema.split(",")]
    try:
        pdf = pd.DataFrame(rows, columns=[n.strip() for n in names])
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        return spark.createDataFrame(rows, schema)
