"""Vector distance/similarity expressions — pure Catalyst, no UDFs.

The reference's core operator is an L2 top-k vector search (IVF_FLAT with
``metric_type="L2"``; /root/reference/src/app.py:105-111, 248-254). Here
distances are Column expressions built from higher-order array functions
(``zip_with`` + ``aggregate``), so they run inside whole-stage codegen on
the JVM — no Python in the hot path, and the expressions vectorize over
Parquet scans.

Numerical determinism note: every element is cast to double *before*
arithmetic and the fold is a strict left-to-right sum in element order, so
results are bit-identical to any other engine that does the same (this is
what makes the DuckDB oracle hash-match possible).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_literal(vec) -> Column:
    """A Python vector (a query, centroid, plane or codebook column) as a
    Catalyst array<double> literal, built in ONE py4j call:
    ``F.expr("array(0.1D, -2.5e-07D, …)")``. A ``F.lit`` per component
    costs about four calls each, over 250 for one 64-dim query. Python's
    ``repr`` of a float is the shortest string that reads back as the same
    double and Spark's parser reads a ``D`` literal with
    ``Double.parseDouble``, which rounds correctly, so every component
    keeps its exact bits, -0.0 and subnormals included
    (tests/test_operators.py). The analyzed expression is the same
    ``array(literal, …)`` as the per-component form. SQL has no literal
    for NaN or ±inf, so a vector holding one keeps the per-component
    ``F.lit`` form."""
    vals = [float(x) for x in vec]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr(f"array({', '.join(f'{v!r}D' for v in vals)})")


def _to_double(x: Column) -> Column:
    return x.cast("double")


def l2_distance_sq(a: Column | str, b: Column | str) -> Column:
    """Sum of squared differences (squared L2), computed in double."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        a, b, lambda x, y: (_to_double(x) - _to_double(y)) * (_to_double(x) - _to_double(y))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean (L2) distance — the reference's search metric."""
    return F.sqrt(l2_distance_sq(a, b))


def dot_product(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: _to_double(x) * _to_double(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def score_from_distance(distance: Column | str) -> Column:
    """The reference's similarity score: ``1 - L2_distance``
    (/root/reference/src/app.py:258). Can go negative for distance > 1."""
    d = F.col(distance) if isinstance(distance, str) else distance
    return F.lit(1.0) - d
