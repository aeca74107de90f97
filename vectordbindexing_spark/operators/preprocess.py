"""Whitening / centering preprocessing — the reference's "Norm" method
(`hnsw_cosine_norm.py:117-335`): fit mean+covariance on a sample, SVD,
PCA or ZCA whitening transform, optional per-modality scaling.

Spark formulation (SURVEY §2.10): distributed moment aggregation
(mapInPandas partial sums — one data pass, (d + d²) floats per partition to
the driver), driver-side SVD (d ≤ ~1024), broadcast (μ, W) matmul
transform. Matches the reference's eigenvalue floor and α-blend options.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import to_double_array

EPS_EIG = 1e-12  # eigenvalue floor, hnsw_cosine_norm.py:226


@dataclass
class WhiteningModel:
    mean: np.ndarray          # (d,)
    W: np.ndarray             # (d_out, d) whitening matrix
    mode: str                 # 'pca' | 'zca'
    modality_scale: dict[str, float] | None = None
    # per-modality (mean, W) pairs — the reference's sub-modality whitening
    # (hnsw_cosine_norm.py:203-219); keys are str(modality value)
    per_modality: dict[str, tuple[np.ndarray, np.ndarray]] | None = None

    def transform_np(self, X: np.ndarray, modality: str | None = None) -> np.ndarray:
        mean, W = self.mean, self.W
        if self.per_modality is not None and modality is not None:
            mean, W = self.per_modality.get(str(modality), (mean, W))
        out = (X - mean) @ W.T
        if self.modality_scale and modality in self.modality_scale:
            out = out * self.modality_scale[modality]
        return out


def _moments(df: DataFrame, vec_col: str) -> tuple[np.ndarray, np.ndarray, int]:
    """One-pass distributed (Σx, ΣxxT, n)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = None
        ss = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if s is None:
                d = X.shape[1]
                s = np.zeros(d)
                ss = np.zeros((d, d))
            s += X.sum(axis=0)
            ss += X.T @ X
            n += len(X)
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = (
        df.filter(F.col(vec_col).isNotNull()).select(F.col(vec_col).alias("v"))
        .mapInPandas(partials, schema="n long, s array<double>, ss array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    d = len(s)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in parts], axis=0)
    return s, ss, n


def _moments_by(
    df: DataFrame, vec_col: str, group_col: str
) -> dict[str, tuple[np.ndarray, np.ndarray, int]]:
    """One-pass distributed per-group (Σx, ΣxxT, n) — the grouped twin of
    :func:`_moments` (partial sums per partition per group; (d + d²)
    floats per (partition, group) to the driver)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[str, list] = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g"):
                X = np.stack([np.asarray(v, dtype=np.float64) for v in sub["v"]])
                cur = acc.get(g)
                if cur is None:
                    d = X.shape[1]
                    cur = acc.setdefault(g, [np.zeros(d), np.zeros((d, d)), 0])
                cur[0] += X.sum(axis=0)
                cur[1] += X.T @ X
                cur[2] += len(X)
        rows = [
            {"g": g, "n": n, "s": s.tolist(), "ss": ss.ravel().tolist()}
            for g, (s, ss, n) in acc.items()
        ]
        if rows:
            yield pd.DataFrame(rows)

    parts = (
        df.select(
            F.col(group_col).cast("string").alias("g"), F.col(vec_col).alias("v")
        )
        .mapInPandas(partials, schema="g string, n long, s array<double>, ss array<double>")
        .collect()
    )
    out: dict[str, tuple[np.ndarray, np.ndarray, int]] = {}
    for r in parts:
        s = np.asarray(r["s"])
        d = len(s)
        ss = np.asarray(r["ss"]).reshape(d, d)
        if r["g"] in out:
            s0, ss0, n0 = out[r["g"]]
            out[r["g"]] = (s0 + s, ss0 + ss, n0 + r["n"])
        else:
            out[r["g"]] = (s, ss, r["n"])
    return out


def _whitening_matrix(
    cov: np.ndarray, mode: str, n_components: int | None
) -> np.ndarray:
    """cov → whitening matrix via SVD with the reference's eigenvalue floor
    (hnsw_cosine_norm.py:226)."""
    U, sv, _ = np.linalg.svd(cov, hermitian=True)
    sv = np.maximum(sv, EPS_EIG)
    if n_components is not None:
        U, sv = U[:, :n_components], sv[:n_components]
    if mode == "pca":
        return (U / np.sqrt(sv)).T                 # (d_out, d)
    if mode == "zca":
        return U @ np.diag(1.0 / np.sqrt(sv)) @ U.T
    raise ValueError(f"unknown whitening mode {mode!r}")


def whitening_fit(
    df: DataFrame,
    vec_col: str = "vec",
    mode: str = "pca",
    n_components: int | None = None,
    sample_fraction: float | None = None,
    seed: int = 42,
    modality_col: str | None = None,
    per_modality_cov: bool = False,
) -> WhiteningModel:
    """Fit mean + covariance → SVD → whitening matrix
    (hnsw_cosine_norm.py:164-239). ``sample_fraction`` mirrors the
    reference's sample_size bound; per-modality scaling equalizes mean
    norms (:241-260). ``per_modality_cov=True`` (requires
    ``modality_col``) fits a separate (mean, cov → W) per modality — the
    reference's sub-modality whitening (:203-219) — in ONE data pass via
    grouped moment aggregation; the global (mean, W) is still fitted (from
    the summed group moments) as the fallback for unseen modalities."""
    data = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    per: dict[str, tuple[np.ndarray, np.ndarray]] | None = None
    if per_modality_cov:
        if modality_col is None:
            raise ValueError("per_modality_cov requires modality_col")
        groups = _moments_by(data, vec_col, modality_col)
        per = {}
        for g, (gs, gss, gn) in groups.items():
            gmean = gs / gn
            gcov = gss / gn - np.outer(gmean, gmean)
            per[g] = (gmean, _whitening_matrix(gcov, mode, n_components))
        # global moments = sum of the group moments (no second pass)
        s = np.sum([gs for gs, _, _ in groups.values()], axis=0)
        ss = np.sum([gss for _, gss, _ in groups.values()], axis=0)
        n = sum(gn for _, _, gn in groups.values())
    else:
        s, ss, n = _moments(data, vec_col)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    W = _whitening_matrix(cov, mode, n_components)
    model = WhiteningModel(mean=mean, W=W, mode=mode, per_modality=per)
    if modality_col is not None and not per_modality_cov:
        # mean whitened norm per modality → scale each to the global mean
        norms = whitening_transform(df, model, vec_col).select(
            F.col(modality_col).alias("m"),
            F.sqrt(
                F.aggregate("wvec", F.lit(0.0), lambda a, x: a + x * x)
            ).alias("nrm"),
        )
        rows = norms.groupBy("m").agg(F.avg("nrm").alias("avg_nrm")).collect()
        overall = np.mean([r["avg_nrm"] for r in rows])
        model.modality_scale = {
            r["m"]: float(overall / r["avg_nrm"]) for r in rows if r["avg_nrm"] > 0
        }
    return model


def whitening_transform(
    df: DataFrame,
    model: WhiteningModel,
    vec_col: str = "vec",
    modality_col: str | None = None,
    out_col: str = "wvec",
) -> DataFrame:
    """Broadcast (μ, W) matmul over Arrow batches
    (hnsw_cosine_norm.py:262-335). Appends ``out_col`` array<double>."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(model)
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m: WhiteningModel = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if m.per_modality is not None and modality_col is not None:
                # sub-modality whitening: each group through its own (μ, W)
                out = np.empty((len(X), m.W.shape[0]), dtype=np.float64)
                mods = np.array([str(x) for x in pdf[modality_col]])
                for g in np.unique(mods):
                    sel = mods == g
                    gmean, gW = m.per_modality.get(g, (m.mean, m.W))
                    out[sel] = (X[sel] - gmean) @ gW.T
            else:
                out = (X - m.mean) @ m.W.T
            if m.modality_scale and modality_col is not None:
                scale = np.array(
                    [m.modality_scale.get(x, 1.0) for x in pdf[modality_col]]
                )
                out = out * scale[:, None]
            pdf = pdf.copy()
            pdf[out_col] = [row.tolist() for row in out]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema += f", {out_col} array<double>"
    return df.mapInPandas(run, schema=schema)


def pool_embeddings(
    df: DataFrame,
    group_col: str = "doc_id",
    vec_col: str = "vec",
    normalize: bool = False,
    round_to: int | None = 6,
    order_col: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Mean-pool embeddings per group — the doc-level aggregation step
    after chunk-level encoding (doc embedding = mean of its chunks'
    embeddings; ``normalize=True`` re-unit-norms the mean, the usual
    retrieval convention).

    Pure JVM expressions: collect_list per group, then a zip_with fold
    over the list — ONE shuffle of the vectors to their groups, no
    Python, no per-dimension explode (the posexplode formulation
    shuffles n·d rows; this moves n rows of d floats). Per-group memory
    is chunks-per-group × d — bounded by construction for chunked
    documents. ``order_col`` fixes the summation order (collect_list
    order is partition-dependent; float addition isn't associative, so
    ordered folds make the pooled values run-deterministic — required
    for oracle-pinned paths). ``weight_col`` switches to a weighted mean
    (Σ wᵢ·vᵢ / Σ wᵢ — e.g. weight chunks by token count so a short
    trailing chunk doesn't count as much as a full window; a group whose
    weights sum to 0 pools to a NULL vector via try_divide rather than
    erroring under ANSI mode). Rows with NULL vectors are excluded
    up front (the KNN-family contract) so the counts and weight sums
    always describe exactly the vectors that entered the fold.
    Output: (group_col, n_pooled, vec_col)."""
    df = df.filter(F.col(vec_col).isNotNull())
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    scaled = F.transform(
        to_double_array(F.col(vec_col)), lambda x: x * w
    )
    if order_col is not None:
        pairs = F.array_sort(
            F.collect_list(
                F.struct(F.col(order_col).alias("o"), scaled.alias("v"))
            )
        )
        vecs = F.transform(pairs, lambda p: p["v"]).alias("_vs")
    else:
        vecs = F.collect_list(scaled).alias("_vs")
    grouped = df.groupBy(group_col).agg(
        vecs,
        F.count(F.lit(1)).cast("long").alias("n_pooled"),
        F.sum(w).alias("_wsum"),
    )
    zero = F.transform(F.element_at("_vs", 1), lambda _: F.lit(0.0))
    summed = F.aggregate(
        "_vs", zero, lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b)
    )
    mean = F.transform(summed, lambda s: F.try_divide(s, F.col("_wsum")))
    if normalize:
        norm = F.sqrt(
            F.aggregate(mean, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        mean = F.transform(mean, lambda x: x / F.greatest(norm, F.lit(1e-12)))
    if round_to is not None:
        mean = F.transform(mean, lambda x: F.round(x, round_to))
    return grouped.select(F.col(group_col), F.col("n_pooled"), mean.alias(vec_col))
