"""Silhouette coefficients — the standard internal cluster-quality
score (Rousseeuw 1987) for the engine's clustering consumers: k-means
cells (IVF/IVF-PQ), SemDeDup buckets, modality splits. s(i) =
(b(i) − a(i)) / max(a(i), b(i)) with a = mean intra-cluster distance
and b = the best (lowest-mean) other cluster; s near 1 = tight,
near 0 = boundary, negative = probably mis-assigned.

Spark-first shape: the pair generator is points ⨝ points restricted by
a theta condition — exact and O(n²), which is the DEFINITION of
silhouette, not an implementation shortcut. That caps the exact
operator at sample scale (the standard practice: score a deterministic
sample, not the corpus — sklearn's silhouette_score(sample_size=...)
contract). At 100 TB you silhouette a per-cluster hash sample this
operator accepts as its input; the heavy clustering itself stays in
the distributed k-means / IVF builders.

Cross-engine exactness: per-pair cosine distances use the proven
list_inner_product expression family; per-(point, cluster) means are
the integer-count division of an id-ORDERED float fold
(`F.aggregate(array_sort(collect_list(struct(id, d))))` == DuckDB
`list_sum(list(d ORDER BY id))`), argmin-b ties break on cluster id,
and s rounds once at output (`oracles.silhouette_sql`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import dot, l2_norm


def silhouette(
    points: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Per-point silhouette over cosine distance. Returns
    ``(id, cluster, a_intra, b_inter, silhouette)`` (rounded 6).
    Points in singleton clusters get a = 0 and s = 0 by the standard
    convention; a valid score needs ≥ 2 clusters (rows keep b = NULL
    and s = 0 when no other cluster exists). EXACT and O(n²) — score a
    sample; :func:`simplified_silhouette` is the O(n·k) corpus-scale
    variant."""
    pts = points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(cluster_col).cast("long").alias("cluster"),
    ).where(F.col("v").isNotNull() & F.col("cluster").isNotNull())
    a, b = pts.alias("pa"), pts.alias("pb")
    cos = (
        F.lit(1.0)
        - dot(F.col("pa.v"), F.col("pb.v"))
        / (l2_norm(F.col("pa.v")) * l2_norm(F.col("pb.v")))
    )
    pairs = (
        a.join(b, F.col("pa.id") != F.col("pb.id"))
        .select(
            F.col("pa.id").alias("id"),
            F.col("pa.cluster").alias("cluster"),
            F.col("pb.id").alias("oid"),
            F.col("pb.cluster").alias("ocluster"),
            cos.alias("d"),
        )
    )
    fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("oid", "d"))),
        F.lit(0.0),
        lambda acc, x: acc + x["d"],
    )
    means = pairs.groupBy("id", "cluster", "ocluster").agg(
        (fold / F.count(F.lit(1)).cast("double")).alias("m")
    )
    intra = means.where(F.col("cluster") == F.col("ocluster")).select(
        "id", F.col("m").alias("a_raw")
    )
    w = Window.partitionBy("id").orderBy(F.col("m"), F.col("ocluster"))
    inter = (
        means.where(F.col("cluster") != F.col("ocluster"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id", F.col("m").alias("b_raw"))
    )
    csize = pts.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("_csz")
    )
    base = pts.select("id", "cluster").join(csize, "cluster")
    out = (
        base.join(intra, "id", "left")
        .join(inter, "id", "left")
        .select(
            "id",
            "cluster",
            "_csz",
            F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("a_raw"),
            F.col("b_raw"),
        )
    )
    # Rousseeuw convention: singleton clusters score exactly 0
    s = F.when(
        (F.col("_csz") > 1)
        & F.col("b_raw").isNotNull()
        & (F.greatest(F.col("a_raw"), F.col("b_raw")) > 0),
        (F.col("b_raw") - F.col("a_raw"))
        / F.greatest(F.col("a_raw"), F.col("b_raw")),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        "cluster",
        F.round("a_raw", 6).alias("a_intra"),
        F.round(F.coalesce(F.col("b_raw"), F.lit(0.0)), 6).alias("b_inter"),
        F.round(s, 6).alias("silhouette"),
    )


#: auto exact_mean: past this many exploded (point, dimension) values
#: the id-ordered centroid-mean fold switches to plain avg() — the
#: same fold-cost trap/fix as retrieval.FOLD_QT_LIMIT and
#: pagerank.PR_FOLD_EDGE_LIMIT; the probe is a bounded limit().count()
SIMPLIFIED_FOLD_CELL_LIMIT = 2_000_000


def simplified_silhouette(
    points: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    cluster_col: str = "cluster",
    exact_mean: bool | None = None,
) -> DataFrame:
    """Simplified silhouette (Hruschka et al. 2004; sklearn's
    davies-bouldin-adjacent centroid variant): a(i) and b(i) are
    cosine distances to cluster CENTROIDS instead of mean pairwise
    distances — O(n·k) instead of the exact operator's O(n²), the
    100 TB route. One aggregation builds the k centroids (k·d rows,
    broadcast back), one scan of the points scores them; no pair
    generator exists at any scale.

    Same output schema and conventions as :func:`silhouette`
    (``(id, cluster, a_intra, b_inter, silhouette)`` rounded 6;
    singleton clusters score exactly 0; b ties break on cluster id).
    Values differ from the exact operator by construction (centroid
    distance ≠ mean pairwise distance) — use it as the scale-path
    score, not as a drop-in for the oracle-pinned exact query.

    ``exact_mean=True`` folds each centroid dimension in point-id
    order — bit-identical to the DuckDB oracle
    (`oracles.simplified_silhouette_sql`), required for the hash gate.
    ``False`` uses plain ``avg()`` (partition-order float sum, last-ulp
    drift). The default (``None``) picks automatically: fold while the
    exploded (point, dimension) cell count stays under
    SIMPLIFIED_FOLD_CELL_LIMIT (bounded probe), avg past it."""
    pts = points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(cluster_col).cast("long").alias("cluster"),
    ).where(F.col("v").isNotNull() & F.col("cluster").isNotNull())
    if exact_mean is None:
        dim = len(pts.select("v").first()["v"]) if not pts.isEmpty() else 1
        probe = max(1, SIMPLIFIED_FOLD_CELL_LIMIT // max(1, dim))
        exact_mean = pts.limit(probe + 1).count() <= probe
    if exact_mean:
        mean_agg = F.aggregate(
            F.array_sort(F.collect_list(F.struct("id", "x"))),
            F.lit(0.0),
            lambda acc, s: acc + s["x"],
        ) / F.count(F.lit(1)).cast("double")
    else:
        mean_agg = F.avg("x")
    # centroids: per-dimension mean via posexplode — k·d narrow rows,
    # map-side combinable (avg path), re-assembled in dimension order
    cents = (
        pts.select("id", "cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(mean_agg.alias("mx"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                lambda s: s["mx"],
            ).alias("cv")
        )
    )
    csize = pts.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("_csz")
    )
    cent_b = F.broadcast(
        cents.join(F.broadcast(csize), "cluster").select(
            F.col("cluster").alias("ocluster"), "cv", "_csz"
        )
    )
    cos = (
        F.lit(1.0)
        - dot(F.col("v"), F.col("cv"))
        / (l2_norm(F.col("v")) * l2_norm(F.col("cv")))
    )
    scored = pts.crossJoin(cent_b).select(
        "id", "cluster", "ocluster", "_csz", cos.alias("d")
    )
    same = F.col("cluster") == F.col("ocluster")
    # one map-side-combinable aggregate extracts a (the single own-
    # centroid row), the own cluster size, and b with its (d, cluster)
    # lexicographic tie-break — no self-join, no window, no shuffle
    # beyond this groupBy
    out = scored.groupBy("id", "cluster").agg(
        F.min(F.when(same, F.col("d"))).alias("a_raw"),
        F.min(F.when(same, F.col("_csz"))).alias("_ocsz"),
        F.min(
            F.when(~same, F.struct(F.col("d"), F.col("ocluster")))
        ).alias("_b"),
    )
    b_raw = F.col("_b")["d"]
    s = F.when(
        (F.col("_ocsz") > 1)
        & b_raw.isNotNull()
        & (F.greatest(F.col("a_raw"), b_raw) > 0),
        (b_raw - F.col("a_raw")) / F.greatest(F.col("a_raw"), b_raw),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        "cluster",
        F.round("a_raw", 6).alias("a_intra"),
        F.round(F.coalesce(b_raw, F.lit(0.0)), 6).alias("b_inter"),
        F.round(s, 6).alias("silhouette"),
    )
