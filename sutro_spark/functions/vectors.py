"""Vector math over array<float|double> columns — pure Catalyst
higher-order functions (zip_with / aggregate), JVM-side. Sums run in
element order so results are bit-reproducible across engines that do
the same (DuckDB list_dot_product)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(a) -> Column:
    """Cast array<float> → array<double> once, *before* any pair
    blow-up, so per-pair work is pure multiply-add. (An unrolled
    element_at chain was tried and measured 4× slower than the HOF —
    64 interpreted array probes per pair lose to one vectorized pass.)"""
    return F.transform(a, lambda x: x.cast("double"))


def raw_dot(a, b) -> Column:
    """Sequential-order dot product over already-double arrays
    (left-associated sum — bit-identical to any engine that sums in
    element order; init 0.0 + x == x exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def dot(a, b) -> Column:
    return raw_dot(to_double_array(a), to_double_array(b))


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
