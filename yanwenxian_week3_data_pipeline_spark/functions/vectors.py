"""Vector math over ``array<float>`` embedding columns — pure Spark
higher-order functions (JVM-side), no UDFs.

Floating-point determinism contract (needed for DuckDB-oracle parity): every
element is cast float→double (exact) BEFORE multiplication, and sums are
LEFT-TO-RIGHT sequential folds in both engines (Spark ``aggregate`` /
DuckDB ``list_reduce``), so dot products and norms are bit-identical.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf resolves 'pd.Series' hints here
from pyspark.sql import Column, functions as F


def dot_expr(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_sql(a: str, b: str) -> str:
    prods = f"list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    return f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


# ---------------------------------------------------------------------------
# Random-hyperplane (signed random projection) LSH primitives
# ---------------------------------------------------------------------------

def hyperplane_matrix(n_planes: int, dim: int, seed: int) -> list[list[int]]:
    """±1 plane matrix from the legacy numpy ``RandomState`` bit stream
    (stable across numpy versions). Embedded as LITERALS in both engines'
    expressions, so bucketing is deterministic and cross-engine identical."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return (rs.randint(0, 2, size=(n_planes, dim)) * 2 - 1).tolist()


def signed_projection_expr(vec: Column, plane: list[int]) -> Column:
    """dot(vec, plane) ≥ 0 as a 0/1 long. Same float→double cast and
    sequential left-to-right fold as ``dot_expr`` — the DuckDB twin folds in
    the same order, so even a dot product within 1 ulp of zero gets the
    same sign in both engines."""
    prods = F.zip_with(
        vec,
        F.array(*[F.lit(float(p)) for p in plane]),
        lambda x, y: x.cast("double") * y,
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    return (dot >= 0).cast("long")


def signed_projection_sql(vec: str, plane: list[int]) -> str:
    lits = ", ".join(f"{float(p)!r}" for p in plane)
    prods = (
        f"list_transform(range(1, len({vec}) + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ([{lits}])[i])"
    )
    dot = f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"
    return f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END)"


def band_value_sql(vec: str, planes: list[list[int]]) -> str:
    terms = " + ".join(
        f"({signed_projection_sql(vec, plane)} * {1 << j})" for j, plane in enumerate(planes)
    )
    return f"CAST({terms} AS BIGINT)"


def embedding_band_vals_udf(planes: list[list[int]], bands: int, bits: int):
    """Arrow-batched hyperplane band values: n x dim matmul against the
    plane matrix, sign bits packed per band. ONE shared implementation for
    the batch LSH operator and its streaming twin — their equivalence test
    is structural, not copy-paste. Ties at projection exactly 0 count as
    bit 1 (>= 0), matching signed_projection_expr/sql."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    plane_mat = np.asarray(planes, dtype=np.float64)
    powers = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def _band_vals(vecs: pd.Series) -> pd.Series:
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        sign_bits = (x @ plane_mat.T >= 0).astype(np.int64)
        vals = np.stack(
            [sign_bits[:, b * bits : (b + 1) * bits] @ powers for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(vals))

    return _band_vals


def l2sq_expr(a: Column, b: Column) -> Column:
    """Squared L2 distance under the same determinism contract as
    ``dot_expr``: float→double cast per element, LEFT-TO-RIGHT sequential
    fold — bit-identical to the DuckDB twin."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2sq_sql(a: str, b: str) -> str:
    diffs = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))"
    )
    return f"list_reduce(list_prepend(0.0, {diffs}), (acc, x) -> acc + x)"
