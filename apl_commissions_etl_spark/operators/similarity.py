"""Vector math over embedding columns (array<float>): ``dot``, ``norm``
and ``cosine``, used by the embedding dedup joins and the logistic
inference query.

All vector math is pure SQL lambda expressions (zip_with/aggregate)
over double-cast arrays: JVM-side, no Python, deterministic
left-to-right accumulation (matches DuckDB's list_dot_product on
DOUBLE[], so results are oracle-checkable bit-exactly).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")
