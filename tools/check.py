"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` counterpart on DuckDB over the same parquet tables,
then compares row count, schema width, and order-insensitive values.

The value compare goes through pandas on BOTH sides (Spark
``.toPandas()``, DuckDB ``.df()``) with a type-aware per-cell repr.
This models the driver's hash, which is dtype-sensitive: DuckDB's
``SUM(BIGINT)`` yields HUGEINT → float64 in pandas while Spark's long
sum stays int64, so an un-cast integer SUM hash-mismatches even when
``fetchall`` values are equal. Oracle SQL must ``CAST(SUM(x) AS
BIGINT)`` (or to DOUBLE on both sides) to pin matching dtypes.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _strict(v):
    """Pessimistic model of the driver's value hash: type-aware repr.

    bytearray vs bytes, Decimal vs int, 1 vs 1.0, numpy int64 vs numpy
    float64 all count as DIFFERENT — queries must emit identically-typed
    values from both engines after pandas conversion.  numpy scalars are
    keyed by dtype name so np.int64(1) == np.int64(1) but != np.float64(1).
    """
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_strict(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_strict(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_strict(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, np.generic):
        name = v.dtype.name
        v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return f"{name}:NaN"
        return f"{name}:{v!r}"
    if isinstance(v, float) and math.isnan(v):
        return "float64:NaN"
    if v is None:
        return "null"
    try:
        if v != v:  # pandas NaT / NaN-like
            return "null-like"
    except Exception:
        pass
    tname = type(v).__name__
    if tname == "int":
        tname = "int64"  # python int from object-dtype column ≡ int64 cell
    elif tname == "float":
        tname = "float64"
    return f"{tname}:{v!r}"


def normalize_pdf(pdf):
    """Column-name-sorted, row-sorted, type-aware repr of a pandas frame."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(_strict(v) for v in row))
    out.sort()
    return [tuple(cols)] + out


def _float_noise_only(s_norm, o_norm) -> bool:
    """True when every differing cell pair is two floats within 1e-9 rel.

    The verdict stays FAIL (it models the driver's exact hash); this only
    speeds up triage by separating ulp noise from real mismatches.
    """
    if len(s_norm) != len(o_norm):
        return False
    saw_diff = False
    for srow, orow in zip(s_norm[1:], o_norm[1:]):
        for sc, oc in zip(srow, orow):
            if sc == oc:
                continue
            saw_diff = True
            if not (sc.startswith("float") and oc.startswith("float")):
                return False
            try:
                sv = float(sc.split(":", 1)[1])
                ov = float(oc.split(":", 1)[1])
            except (ValueError, IndexError):
                return False
            if not math.isclose(sv, ov, rel_tol=1e-9, abs_tol=1e-12):
                return False
    return saw_diff


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        out.append(tuple(_strict(row[i]) for i in order))
    out.sort()
    return [tuple(colnames[i] for i in order)] + out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from akvorado_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:
            print(f"  {name:40s} ERROR {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"  {name:40s} rows={len(spdf):7d} (no oracle) {spark_t:5.1f}s")
            continue
        t0 = time.time()
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"  {name:40s} ORACLE-ERROR {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        duck_t = time.time() - t0
        s_norm = normalize_pdf(spdf)
        o_norm = normalize_pdf(opdf)
        ok = s_norm == o_norm
        status = "OK " if ok else "FAIL"
        print(
            f"  {name:40s} {status} rows={len(spdf):7d}/{len(opdf):7d} "
            f"spark={spark_t:5.1f}s duck={duck_t:5.1f}s"
        )
        if not ok:
            failures.append(name)
            if s_norm[0] != o_norm[0]:
                print(f"    schema: spark={s_norm[0]} oracle={o_norm[0]}")
            else:
                if _float_noise_only(s_norm, o_norm):
                    print(
                        "    note: all differing cells are floats agreeing "
                        "within 1e-9 relative — likely summation-order ulp "
                        "noise, not a semantic mismatch"
                    )
                shown = 0
                for i in range(1, min(len(s_norm), len(o_norm))):
                    if s_norm[i] != o_norm[i]:
                        print(f"    row {i}: spark={s_norm[i]}")
                        print(f"           oracle={o_norm[i]}")
                        shown += 1
                        if shown >= 3:
                            break
                if len(s_norm) != len(o_norm):
                    print(f"    row counts differ: {len(s_norm)-1} vs {len(o_norm)-1}")
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
