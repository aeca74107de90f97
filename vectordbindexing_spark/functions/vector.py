"""Vector distance kernels as Catalyst Column expressions.

Re-expresses the reference's distance surface (cosine `hnsw_cosine.py:13-30`,
L2 `hnsw_cosine_status.py:14-31`, inner product `roargraph_python.py:108-126`,
unit-norm `hnsw_cosine.py:32-36`) as pure SQL expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. The reference hard-codes
d=200 in its batch kernel (`hnsw_cosine.py:24`); these are dimension-generic.

All arithmetic is float64 over a float32-stored vector column, with the
accumulation running sequentially left-to-right — the same formula and
order DuckDB's ``list_inner_product`` uses, so oracle comparisons agree to
~1 ulp. The numpy twins live here too: :func:`dist_matrix` (query block ×
base block) and :func:`pair_dist` (row i against row i) are the one
home of the metric formulas every Arrow kernel calls.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

METRICS = ("cosine", "l2", "ip")


def to_double_array(v: Column | str) -> Column:
    """Cast array<float> → array<double> so all kernels accumulate in f64."""
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-sum dot product: aggregate(zip_with(a, b, *), 0.0, +)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def unit_norm(a: Column | str, eps: float = 1e-12) -> Column:
    """L2-normalize with an epsilon guard (reference `hnsw_cosine.py:32-36`).
    Returns array<double> on both branches (float→double cast is exact), so
    a string column name resolves as a column, not a string literal.
    The norm is computed over the DOUBLE-cast array: on a float32 column
    zip_with's x*x would round each term to float32 before accumulating,
    diverging from every other engine's double arithmetic."""
    arr = to_double_array(a)
    n = l2_norm(arr)
    return F.when(n > eps, F.transform(arr, lambda x: x / n)).otherwise(arr)


def cosine_dist(a: Column | str, b: Column | str) -> Column:
    """1 - dot(a,b) / (||a||·||b||) — works on non-normalized inputs too.
    A zero vector has no direction: its distance is +inf (it ranks
    last), the value the numpy kernels give its NaN, where ANSI
    division would raise DIVIDE_BY_ZERO."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den == 0, F.lit(float("inf"))).otherwise(
        F.lit(1.0) - dot(a, b) / den
    )


def l2_dist(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance via direct sum of squared differences."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def ip_dist(a: Column | str, b: Column | str) -> Column:
    """Negative inner product (MIPS ordering; reference roargraph_python.py:112)."""
    return -dot(a, b)


def weighted_l2_dist(a: Column | str, b: Column | str, inv_weights: Column) -> Column:
    """Per-dimension scaled squared-L2:  Σ (a_k-b_k)² · w_k  with
    w_k = 1/(α·σ²_mod1,k + (1-α)·σ²_mod2,k + ε) — the LC-CMD distance the
    reference designs but never implements (Idea-1023.md:72-82).
    ``inv_weights`` is the precomputed array<double> of w_k.
    """
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(
        F.zip_with(sq, inv_weights, lambda s, w: s * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def metric_dist(a: Column | str, b: Column | str, metric: str) -> Column:
    if metric == "cosine":
        return cosine_dist(a, b)
    if metric == "l2":
        return l2_dist(a, b)
    if metric == "ip":
        return ip_dist(a, b)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def dist_matrix(
    Q: np.ndarray, B: np.ndarray, metric: str, weights: np.ndarray | None = None
) -> np.ndarray:
    """(n_q, d) × (n_b, d) → (n_q, n_b) float64 distance matrix."""
    if metric == "weighted_l2":
        # Σ w_k (q_k-b_k)² = (Q²·w) + (B²·w) - 2 (Q∘w)Bᵀ  (Idea-1023.md:72-82)
        qw = np.sum(Q * Q * weights, axis=1)
        bw = np.sum(B * B * weights, axis=1)
        cross = (Q * weights) @ B.T
        return np.maximum(qw[:, None] + bw[None, :] - 2.0 * cross, 0.0)
    if metric == "cosine":
        qn = np.linalg.norm(Q, axis=1)
        bn = np.linalg.norm(B, axis=1)
        return 1.0 - (Q @ B.T) / np.outer(qn, bn)
    if metric == "l2":
        # ||q-b||² = ||q||² + ||b||² - 2·q·b ; clamp tiny negatives from cancellation
        d2 = (
            np.sum(Q * Q, axis=1)[:, None]
            + np.sum(B * B, axis=1)[None, :]
            - 2.0 * (Q @ B.T)
        )
        return np.sqrt(np.maximum(d2, 0.0))
    if metric == "ip":
        return -(Q @ B.T)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def pair_dist(A: np.ndarray, B: np.ndarray, metric: str) -> np.ndarray:
    """Row-wise distance: row i of ``A`` against row i of ``B`` (n,)."""
    if metric == "cosine":
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return 1.0 - num / den
    if metric == "l2":
        diff = A - B
        return np.sqrt(np.einsum("ij,ij->i", diff, diff))
    if metric == "ip":
        return -np.einsum("ij,ij->i", A, B)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def pair_dist_udf(metric: str):
    """Arrow-vectorized pairwise distance: same math as ``metric_dist`` but
    evaluated a batch at a time in numpy/BLAS instead of the interpreted
    higher-order-function expression tree. Use on candidate-scoring joins
    where each row carries its own (query, neighbor) vector pair — the
    expr path re-interprets zip_with/aggregate per element there, this one
    streams Arrow batches through :func:`pair_dist`."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")

    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit SCALAR type: the deferred-annotation future makes the type
    # hints strings pyspark can't resolve against this closure's globals
    @pandas_udf("double", PandasUDFType.SCALAR)
    def dist(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(pair_dist(A, B, metric))

    return dist
