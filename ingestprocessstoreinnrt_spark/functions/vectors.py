"""Embedding-vector column helpers (array<float>/array<double>).

Dot products and norms via F.aggregate / F.zip_with — sequential
left-to-right accumulation in double, JVM-side, which matches DuckDB's
list_dot_product order of operations; cosine values are additionally
rounded where they feed a correctness gate.  sq_l2 folds quantized
BIGINT vectors instead, exactly, so its ranks cannot flip cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def sq_l2(a: Column | str, b: Column | str) -> Column:
    """Exact squared L2 distance of two BIGINT arrays, as a BIGINT: the
    integer fold every quantized-vector distance (coarse assignment,
    probe ranking, PQ encode and distance tables) shares."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))
