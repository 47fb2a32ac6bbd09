"""Array helpers absent from pyspark.sql.functions, as Spark SQL text.

``array_compact`` removes *consecutive* duplicates — ClickHouse
``arrayCompact``, used by the reference to derive Dst1st/2nd/3rdAS from
the AS path (reference: orchestrator/clickhouse/migrations_helpers.go:380-384).
Implemented with built-in higher-order functions (filter + lag via
element_at on the same array) so it stays JVM-side.

``sql_literal`` renders plan-time constants (codebooks, hyperplanes,
corpus tokens, user text) as Spark SQL literal text for the operators
and query builders that build their expressions as SQL.
"""

from __future__ import annotations

import numbers


def array_compact(arr: str) -> str:
    """Remove consecutive duplicate elements of the SQL operand ``arr``,
    keeping order — null-safe via a not-distinct comparison
    (``element_at`` is 1-based, so ``element_at(arr, i)`` is arr[i-1])."""
    return f"filter({arr}, (x, i) -> i = 0 OR NOT (x <=> element_at({arr}, i)))"


def sql_literal(v) -> str:
    """A Python int, float, str or (nested) list of them as Spark SQL
    literal text.  Floats render exactly (shortest round-trip ``repr``
    with the ``D`` suffix — a bare ``0.0`` would be DECIMAL); strings
    render as UTF-8 hex cast to STRING, so no SQL quoting rule applies
    to corpus-derived text."""
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        return f"{float(v)!r}D"
    return f"array({', '.join(sql_literal(x) for x in v)})"
