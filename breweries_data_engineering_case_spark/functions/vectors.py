"""Vector expressions over ``array<float>`` embedding columns.

All JVM-side higher-order functions — no UDFs, no data leaves Tungsten. The
fold order of ``F.aggregate`` is the array order, so dot products and norms
are bit-deterministic (and reproducible against any engine that accumulates
in index order — the oracle uses DuckDB's ordered aggregates).

Elements are cast float→double *before* multiplying so every arithmetic op
is an exact IEEE double op on exactly-representable inputs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision."""
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm2(a: Column | str) -> Column:
    """Euclidean norm, sequential-fold sum of squares."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity in double precision (NULL-safe on zero vectors is
    the caller's concern; embeddings here are never zero)."""
    return dot(a, b) / (norm2(a) * norm2(b))

