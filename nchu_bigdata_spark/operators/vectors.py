"""Dense-vector kernels over ``array<float|double>`` columns.

The reference's distance loop (``hadoop_tutorial/src/Kmeans.java:66-70``)
re-expressed as Catalyst higher-order functions: JVM-side, codegen'd,
no Python in the hot path. All kernels are plain Column→Column functions
so they compose into any query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sq_euclidean(a: Column, b: Column) -> Column:
    """Σ_j (a_j − b_j)² — ref A6 without the abs() quirk."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_euclidean_abs(a: Column, b: Column) -> Column:
    """Σ_j (|a_j| − |b_j|)² — the reference's exact metric, abs() applied
    to both operands before subtracting (``src/Kmeans.java:67-69``).
    Needed for golden parity; identical to sq_euclidean on non-negative
    data like PM2.5."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (F.abs(x) - F.abs(y)) * (F.abs(x) - F.abs(y))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def normalized_sq(a: Column, b: Column) -> Column:
    """Σ_j ((|a_j|−|b_j|)/(|a_j|+|b_j|))² — the draft variant's
    Canberra-like metric (``hadoop_tutorial/Kmeans/kmeans.java:59-71``).
    0/0 terms contribute 0 (the reference never hits them; we define
    them away with a null-safe guard)."""

    def term(x: Column, y: Column) -> Column:
        num = F.abs(x) - F.abs(y)
        den = F.abs(x) + F.abs(y)
        r = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
        return r * r

    return F.aggregate(F.zip_with(a, b, term), F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 when either vector is all-zero."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)
