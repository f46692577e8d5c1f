"""Vector math over ArrayType columns using higher-order functions.

Everything here stays inside Catalyst/Tungsten (F.zip_with,
F.aggregate) — no Python UDF in the hot path, so cosine similarity over
a billion embeddings is a single codegen'd pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array<double> column."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe only insofar as inputs are non-null."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
