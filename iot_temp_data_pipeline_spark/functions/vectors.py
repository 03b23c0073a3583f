"""Vector math over array<float>/array<double> columns via higher-order
functions — JVM-side, no UDFs, scales linearly with partition count.

``F.aggregate`` performs a sequential left fold per row, the same
evaluation order DuckDB's list functions use, so double-precision results
match the oracle to ~1 ulp (queries round to stabilize).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
