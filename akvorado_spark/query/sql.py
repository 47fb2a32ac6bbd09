"""SQL-text helpers of the query compilers.

Each console request is one Spark SQL statement: the compilers render
text and hand Catalyst the whole query in one ``spark.sql`` call, with
the source frames as arguments.  Building a query this way costs a few
py4j commands instead of one round trip per DataFrame operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def bigint(n: int) -> str:
    return f"CAST({int(n)} AS BIGINT)"


def epoch_us(time_col: str) -> str:
    """Epoch-µs of ``time_col`` (TIMESTAMP_NTZ tolerated)."""
    return f"unix_micros(CAST(`{time_col}` AS TIMESTAMP))"


def cols(names) -> str:
    """Backquoted, comma-separated column names."""
    return ", ".join(f"`{n}`" for n in names)


def string_dims(schema: StructType, dims) -> set[str]:
    """The dimensions that fold as they are in a source of ``schema``
    (string and binary); the others fold through their display string."""
    return {d for d in dims if schema[d].dataType.simpleString() in ("string", "binary")}


def with_ctes(ctes: dict[str, str], body: str) -> str:
    """``WITH name AS (query), … body``."""
    if not ctes:
        return body
    defs = ",\n".join(f"{name} AS (\n{query}\n)" for name, query in ctes.items())
    return f"WITH {defs}\n{body}"


def run(spark, text: str, **frames: DataFrame) -> DataFrame:
    """Run one statement over DataFrames, each referenced in ``text`` as
    ``{name}``.  Every other brace is literal (a filter's string
    literal may hold one), so it is escaped for ``spark.sql``'s
    formatter."""
    if not frames:
        return spark.sql(text)
    marks = {f"{{{name}}}": f"\0{name}\0" for name in frames}
    for ref, mark in marks.items():
        text = text.replace(ref, mark)
    text = text.replace("{", "{{").replace("}", "}}")
    for ref, mark in marks.items():
        text = text.replace(mark, ref)
    return spark.sql(text, **frames)
