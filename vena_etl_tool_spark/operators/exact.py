"""Exact embedding arithmetic: the scaled-int64 dot, in every engine.

The rule: ⟨x, y⟩ = Σᵢ floor((double(xᵢ) · double(yᵢ)) · 1e12), each term
cast to int64 and summed as int64, the sum cast to double and divided by
1e12. Why every engine (Spark Column or SQL, DuckDB, numpy, Python) agrees:
- each term is two IEEE multiplications in one fixed left-associated order,
  rounded identically everywhere; floor of a double is exact;
- |term| < 2⁵³ makes the floored term exact in a double and its int64 cast
  exact (out of range Java saturates but numpy wraps);
- int64 addition is associative: any merge order gives the same sum;
- |Σ| < 2⁵³ makes the cast back exact, and the division is one IEEE op.
Both bounds hold when dim · max|x| · max|y| · 1e12 < 2⁵³; the numpy kernel
checks that on its inputs (with one bit to spare) and raises otherwise.
Fixture embeddings have |x| < 0.6: a 64-dim norm stays below 2.4e13.

This module is the only code that spells the scale factor. Each builder
emits one fixed text per form, so plans and oracle hashes do not depend on
which call site asks.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_SCALE_SQL = "1e12"
_SCALE = float(_SCALE_SQL)
# dim · max|x| · max|y| · scale must stay below this: 2⁵³ less one bit,
# which covers the two roundings of each term and the floor's step.
_RANGE = 2.0**52


def _term(x: str, y: str) -> str:  # SQL text, Spark and DuckDB alike
    return f"CAST(FLOOR({x} * {y} * {_SCALE_SQL}) AS BIGINT)"


def sql_unscale(scaled: str) -> str:
    """SQL text turning a scaled BIGINT sum back into the real dot."""
    return f"CAST({scaled} AS DOUBLE) / {_SCALE_SQL}"


# -- Spark Column -------------------------------------------------------------


def unscale(scaled: Column) -> Column:
    return scaled.cast("double") / F.lit(_SCALE)


def dot_exact(l: Column, r: Column) -> Column:  # noqa: E741
    """Order-insensitive exact dot product of two float arrays, bit-identical
    to the DuckDB oracle's ``duck_pair_dot``; same determinism as a DECIMAL
    fold at ~3.4× less cost (long adds, no BigDecimal)."""
    return unscale(
        F.aggregate(
            F.zip_with(
                l, r,
                lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(_SCALE)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    )


def with_sq_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("sq_norm", dot_exact(F.col("embedding"), F.col("embedding")))


# -- Spark SQL text (generated strings: one F.expr, not thousands of py4j calls)


def _spark_fold(terms: str) -> str:
    return f"aggregate({terms}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"


def spark_plane_dot(src: str, plane: Iterable[float]) -> str:
    """Scaled BIGINT ⟨src, plane⟩ for a literal plane (LSH, IVF, PQ, JL)."""
    lits = ", ".join(f"{float(v)!r}D" for v in plane)
    return _spark_fold(
        f"zip_with({src}, array({lits}), (x, p) -> {_term('CAST(x AS DOUBLE)', 'p')})"
    )


def spark_sq_dot(src: str, var: str = "x", cast: bool = True) -> str:
    """Scaled BIGINT |src|²; ``cast=False`` when src is already DOUBLE."""
    x = f"CAST({var} AS DOUBLE)" if cast else var
    return _spark_fold(f"transform({src}, {var} -> {_term(x, x)})")


# -- DuckDB SQL text (the oracle side) ---------------------------------------


def duck_sq_norm(arr: str, scaled: bool = False) -> str:
    """|arr|² as DOUBLE, or as the scaled BIGINT sum when ``scaled``."""
    total = f"SUM({_term('CAST(u.x AS DOUBLE)', 'CAST(u.x AS DOUBLE)')})"
    total = f"CAST({total} AS BIGINT)" if scaled else sql_unscale(total)
    return f"(SELECT {total} FROM UNNEST({arr}) AS u(x))"


def duck_pair_dot(a: str, b: str, var: str = "p") -> str:
    """⟨a, b⟩ as DOUBLE for two array columns (DuckDB twin of dot_exact)."""
    x, y = (f"CAST(struct_extract({var}, {i}) AS DOUBLE)" for i in (1, 2))
    return (
        f"(SELECT {sql_unscale(f'SUM({_term(x, y)})')}"
        f" FROM UNNEST(list_zip({a}, {b})) AS t({var}))"
    )


# the plane side is a DOUBLE literal already: no cast, as in Spark's `p`
_DUCK_PLANE_TERM = _term("CAST(struct_extract(p, 1) AS DOUBLE)", "struct_extract(p, 2)")


def duck_plane_dot(src: str, plane: Iterable[float]) -> str:
    """Scaled sum ⟨src, plane⟩ (a subquery); callers compare it with 0 for
    a sign bit or ``sql_unscale`` it. DuckDB twin of spark_plane_dot."""
    lits = ", ".join(repr(float(v)) for v in plane)
    return (
        f"(SELECT SUM({_DUCK_PLANE_TERM})"
        f" FROM UNNEST(list_zip({src}, [{lits}])) AS t(p))"
    )


def duck_plane_dot_list(src: str, plane: Iterable[float]) -> str:
    """``duck_plane_dot`` as a BIGINT list fold, usable inside a list literal."""
    lits = ", ".join(repr(float(v)) for v in plane)
    return (
        f"CAST(list_sum(list_transform(list_zip({src}, [{lits}]),"
        f" p -> {_DUCK_PLANE_TERM})) AS BIGINT)"
    )


def duck_sq_dot_list(src: str, var: str = "r") -> str:
    """Scaled BIGINT |src|² of a DOUBLE list (twin of spark_sq_dot, cast=False)."""
    return f"CAST(list_sum(list_transform({src}, {var} -> {_term(var, var)})) AS BIGINT)"


# -- Python and numpy ----------------------------------------------------------


def py_sq_norm(vec: Iterable[float]) -> int:
    """Scaled int |vec|², for centroid and codebook norms embedded as SQL
    literals in both engines."""
    return int(sum(math.floor(float(c) * float(c) * _SCALE) for c in vec))


def np_dot_scaled(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ floor((a·b)·1e12) over the last axis as int64; a and b broadcast
    (pass ``e[:, None, :]`` and ``e[None, :, :]`` for all pairs).

    Raises ValueError when the inputs leave the range the argument above
    covers (or hold NaN/inf). The check reads the inputs, O(n·d), not the
    O(n²·d) products."""
    dim = np.broadcast_shapes(a.shape, b.shape)[-1]
    if a.size and b.size:
        bound = dim * float(np.abs(a).max()) * float(np.abs(b).max()) * _SCALE
        if not bound < _RANGE:
            raise ValueError(
                f"exact dot out of range: dim·max|a|·max|b|·scale = {bound:.3g}"
                f" is not below {_RANGE:.3g}"
            )
    return np.floor((a * b) * _SCALE).astype(np.int64).sum(axis=-1)


def np_unscale(scaled: np.ndarray) -> np.ndarray:
    return scaled.astype(np.float64) / _SCALE
