"""Vector math over ``array<float>`` embedding columns.

Pure Catalyst expressions (JVM-side) — no Python UDF in the hot path.
Arrays are cast to double first so both Spark and the DuckDB oracle
fold the same doubles in the same order, making results bit-identical
(see functions.deterministic rationale).

Performance: :func:`dot` and :func:`l2_norm` are higher-order
``aggregate`` folds — one kernel for every dimension, bit-identical to
the oracle's ``list_sum``. Spark evaluates the fold interpreted, so
the cast and the norm belong below a join, once per row, never per
pair (operators.similarity projects each side that way).

At 100 TB the brute-force cosine path is only used after an LSH/IVF
prefilter (operators.similarity); these expressions are the re-rank
kernel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(c: Column) -> Column:
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array columns (double math):
    a left-associated fold from ``0.0``, the order the oracle's
    ``list_sum`` uses."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """L2 norm (double math, same fold order as :func:`dot`)."""
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL).

    For join hot paths prefer :func:`cosine_from_parts` with per-side
    precomputed norms — same value, norms computed once per row.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def cosine_from_parts(dot_col: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from a precomputed dot product and per-side norms —
    bit-identical to :func:`cosine_sim` (same ops, same order), but the
    norm work is O(rows) instead of O(pairs)."""
    denom = norm_a * norm_b
    return F.when(denom != 0, dot_col / denom)


def oracle_dot(a: str, b: str) -> str:
    """DuckDB SQL matching :func:`dot`: same order, same double ops."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def oracle_l2_norm(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )


def oracle_cosine(a: str, b: str) -> str:
    return f"({oracle_dot(a, b)} / ({oracle_l2_norm(a)} * {oracle_l2_norm(b)}))"
