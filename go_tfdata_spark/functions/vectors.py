"""Vector functions over array<float> embedding columns.

All JVM-side higher-order functions (`zip_with` + `aggregate`): the dot
product of two 64-dim vectors never touches Python, and predicate
pushdown/codegen survive around it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(u: Column, v: Column) -> Column:
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(u: Column) -> Column:
    return F.sqrt(dot(u, u))


def cosine_similarity(u: Column, v: Column) -> Column:
    return dot(u, v) / (l2_norm(u) * l2_norm(v))

