"""The scaled-int64 dot (operators/exact.py): one owner, every engine agrees.

- lint: the scale factor is spelled in code only inside exact.py;
- the numpy kernel refuses inputs outside the range its exactness argument
  covers, instead of returning a wrapped int64;
- numpy, the Spark Column fold, the Spark SQL plane fold, the DuckDB text
  and the Python literal form agree bit for bit on random vectors.
"""

from __future__ import annotations

import ast
import math
import pathlib
import re

import duckdb
import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vena_etl_tool_spark.operators import exact

PKG = pathlib.Path(exact.__file__).resolve().parents[1]
_SCALE_TEXT = re.compile(r"(?<![\w.])1e\+?12(?!\d)")


def _docstring_nodes(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if isinstance(body, list):
            for stmt in body:
                if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
                    out.add(id(stmt.value))
    return out


def _scale_factor_uses(path: pathlib.Path) -> list[int]:
    """Lines where code (not comments, not docstrings) spells 1e12."""
    tree = ast.parse(path.read_text())
    docs = _docstring_nodes(tree)
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Constant) or id(node) in docs:
            continue
        v = node.value
        if isinstance(v, str) and _SCALE_TEXT.search(v):
            lines.append(node.lineno)
        elif isinstance(v, float) and v == 1e12:
            lines.append(node.lineno)
    return lines


def test_scale_factor_lives_only_in_exact_module():
    offenders = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "exact.py" and (lines := _scale_factor_uses(p))
    }
    assert offenders == {}
    assert _scale_factor_uses(pathlib.Path(exact.__file__))  # the scan sees it


def test_numpy_kernel_raises_out_of_range():
    a = np.full((2, 64), 0.5)
    assert exact.np_dot_scaled(a, a).tolist() == [16 * 10**12] * 2
    big = np.full((2, 64), 1e3)  # 64 · 1e6 · 1e12 ≫ 2⁵³: int64 would wrap
    with pytest.raises(ValueError, match="out of range"):
        exact.np_dot_scaled(big, a)
    with pytest.raises(ValueError, match="out of range"):
        exact.np_dot_scaled(big[:, None, :], big[None, :, :])
    nan = a.copy()
    nan[1, 3] = np.nan
    with pytest.raises(ValueError, match="out of range"):
        exact.np_dot_scaled(nan, a)
    empty = np.zeros((0, 64))
    assert exact.np_dot_scaled(empty, a[:1]).shape == (0,)


def test_duck_builders_emit_the_operator_text():
    """Pins the oracle text of the three DuckDB forms."""
    assert exact.duck_sq_norm("embedding") == (
        "(SELECT CAST(SUM(CAST(FLOOR(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)"
        " * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 FROM UNNEST(embedding) AS u(x))"
    )
    assert exact.duck_pair_dot("q.e", "c.e", "pp") == (
        "(SELECT CAST(SUM(CAST(FLOOR(CAST(struct_extract(pp, 1) AS DOUBLE)"
        " * CAST(struct_extract(pp, 2) AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)"
        " / 1e12 FROM UNNEST(list_zip(q.e, c.e)) AS t(pp))"
    )
    assert exact.duck_plane_dot("embedding", [0.5, -1.0]) == (
        "(SELECT SUM(CAST(FLOOR(CAST(struct_extract(p, 1) AS DOUBLE)"
        " * struct_extract(p, 2) * 1e12) AS BIGINT))"
        " FROM UNNEST(list_zip(embedding, [0.5, -1.0])) AS t(p))"
    )


_DIM = 16
# float32 components like the fixtures' embeddings (|x| < 0.6), plus a
# wider range up to 4 so terms use more of the int64 headroom
_component = st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32)
_vec = st.lists(_component, min_size=_DIM, max_size=_DIM)


@given(rows=st.lists(st.tuples(_vec, _vec), min_size=1, max_size=8), plane=_vec)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_every_form_agrees_bitwise(spark, rows, plane):
    a = np.asarray([r[0] for r in rows], dtype=np.float32)
    b = np.asarray([r[1] for r in rows], dtype=np.float32)
    p = np.asarray(plane, dtype=np.float32).astype(np.float64)
    a64, b64 = a.astype(np.float64), b.astype(np.float64)

    np_pair = exact.np_unscale(exact.np_dot_scaled(a64, b64)).tolist()
    np_sq = exact.np_dot_scaled(a64, a64).tolist()
    np_plane = exact.np_dot_scaled(a64, p[None, :]).tolist()
    assert np_sq == [exact.py_sq_norm(v) for v in a64]

    pdf = pd.DataFrame(
        {"id": range(len(rows)), "a": a64.tolist(), "b": b64.tolist()}
    )
    df = spark.createDataFrame(pdf, "id long, a array<float>, b array<float>")
    got = df.select(
        "id",
        exact.dot_exact(F.col("a"), F.col("b")).alias("pair"),
        F.expr(exact.spark_sq_dot("a")).alias("sq"),
        F.expr(exact.spark_plane_dot("a", p)).alias("plane"),
    ).orderBy("id").collect()
    assert [r.pair for r in got] == np_pair
    assert [r.sq for r in got] == np_sq
    assert [r.plane for r in got] == np_plane

    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.execute(
        f"""SELECT {exact.duck_pair_dot('CAST(a AS FLOAT[])', 'CAST(b AS FLOAT[])')},
                   {exact.duck_sq_norm('CAST(a AS FLOAT[])', scaled=True)},
                   {exact.duck_plane_dot('CAST(a AS FLOAT[])', p)}
            FROM t ORDER BY id"""
    ).fetchall()
    assert [r[0] for r in duck] == np_pair
    assert [int(r[1]) for r in duck] == np_sq
    assert [int(r[2]) for r in duck] == np_plane
    assert all(math.isfinite(x) for x in np_pair)
