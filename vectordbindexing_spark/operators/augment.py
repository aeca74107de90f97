"""Cross-distribution edge augmentation (SURVEY §2.8).

The reference improves OOD/cross-modal search by adding edges derived from
an offline query→top-k table:

- ``star``: top-1 ↔ rest of the top-k (hnsw_cosine.py:687-880 strategy
  'star')
- ``clique``: all pairs among the top-k ('clique')
- ``projection``: occlusion-pruned (RoarGraph AcquireNeighbors rule —
  keep c iff ∀ already-picked r: α·d(c,r) ≥ d(c,pivot);
  hnsw_cosine.py:561-684)
- layer-1 clique ("High" method): top-k restricted to level≥1 nodes,
  connect all missing pairs (hnsw_cosine_status_high.py:1080-1193)

Edges carry ``edge_type='cross_distribution'`` (reference edge_flags,
hnsw_cosine.py:89-95) and respect a per-node new-edge budget
(max_new_edges_per_node). Counters = a groupBy away (§2.5 cross-edge
counters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import dist_matrix
from vectordbindexing_spark.operators.topk import topk_per_group

EDGE_TYPE_CROSS = "cross_distribution"


def augment_from_query_topk(
    query_topk: DataFrame,
    base: DataFrame,
    strategy: str = "projection",
    layer: int = 0,
    max_new_edges_per_node: int = 4,
    occlude_alpha: float = 1.0,
    metric: str = "cosine",
    b_id: str = "id",
    b_vec: str = "vec",
    chain_extra: int = 0,
) -> DataFrame:
    """query_topk (qid, nbr_rank, neighbor_id[, dist]) → new edge table
    (layer, src, dst, dist, edge_type).

    Per query group the strategy runs in an ``applyInPandas`` kernel
    (occlusion pruning is order-dependent, SURVEY §4); the global per-node
    budget is applied afterwards as a rank window — the declarative version
    of the reference's edges_added_per_node counters (hnsw_cosine.py:598,
    793-802). ``chain_extra`` (projection strategy only) additionally
    links up to that many consecutive picked pairs (picked[i]↔picked[i+1])
    per query — the reference's reachability chain enhancement
    (hnsw_cosine.py:671-681).
    """
    if strategy not in ("star", "clique", "projection"):
        raise ValueError(f"unknown strategy {strategy!r}")
    bvec = base.select(
        F.col(b_id).cast("long").alias("neighbor_id"), F.col(b_vec).alias("_nv")
    )
    enriched = query_topk.join(bvec, "neighbor_id").select(
        "qid", "nbr_rank", "neighbor_id", "_nv"
    )

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("nbr_rank")
        ids = pdf["neighbor_id"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_nv"]])
        D = dist_matrix(V, V, metric)
        src, dst, dd = [], [], []

        def add(i: int, j: int) -> None:
            src.append(int(ids[i])); dst.append(int(ids[j])); dd.append(float(D[i, j]))
            src.append(int(ids[j])); dst.append(int(ids[i])); dd.append(float(D[i, j]))

        if strategy == "star":
            for j in range(1, len(ids)):
                add(0, j)
        elif strategy == "clique":
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    add(i, j)
        else:  # projection: occlusion-pruned star around the top-1 pivot
            picked: list[int] = []
            for c in np.argsort(D[0], kind="stable"):
                if c == 0:
                    continue
                # same occlusion orientation as graph.roargraph_build:
                # r occludes c when d(c,r) <= α·d(c,pivot)
                if all(D[c, r] > occlude_alpha * D[c, 0] for r in picked):
                    picked.append(int(c))
            for j in picked:
                add(0, j)
            # chain enhancement: consecutive picked pairs, at most
            # chain_extra links (hnsw_cosine.py:671-681)
            for i in range(min(chain_extra, len(picked) - 1)):
                add(picked[i], picked[i + 1])
        return pd.DataFrame({"src": src, "dst": dst, "dist": dd})

    raw = enriched.groupBy("qid").applyInPandas(
        per_query, schema="src long, dst long, dist double"
    ).dropDuplicates(["src", "dst"])
    budgeted = (
        topk_per_group(raw, ["src"], "dist", max_new_edges_per_node,
                       tie_col="dst", rank_name="_rn")
        .drop("_rn")
    )
    return budgeted.select(
        F.lit(layer).alias("layer"), "src", "dst", "dist",
        F.lit(EDGE_TYPE_CROSS).alias("edge_type"),
    )


def augment_layer1_clique(
    queries: DataFrame,
    base_leveled: DataFrame,
    top_k: int = 10,
    max_new_edges_per_node: int = 4,
    metric: str = "cosine",
    q_id: str = "qid",
    q_vec: str = "vec",
    b_id: str = "id",
    b_vec: str = "vec",
) -> DataFrame:
    """"High" method: for each train query, find top-k nearest *layer-1*
    nodes (level ≥ 1) and clique-connect them
    (hnsw_cosine_status_high.py:1080-1193 — rationale: upper-layer edges
    steer the whole search). ``base_leveled`` must carry a ``level`` column
    (operators.graph.assign_levels)."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn

    upper = base_leveled.filter(F.col("level") >= 1)
    topk = exact_knn(
        queries, upper, k=top_k, metric=metric, impl="blocked",
        q_id=q_id, q_vec=q_vec, b_id=b_id, b_vec=b_vec,
    )
    return augment_from_query_topk(
        topk, base_leveled, strategy="clique", layer=1,
        max_new_edges_per_node=max_new_edges_per_node, metric=metric,
        b_id=b_id, b_vec=b_vec,
    )


def merge_augmented(edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Union base edges (edge_type='base') with augmentation edges, keeping
    first occurrence per (layer, src, dst) — base edges win, mirroring the
    reference's 'already connected' skip (hnsw_cosine.py:316)."""
    base_tagged = edges.select(
        "layer", "src", "dst", "dist", F.lit("base").alias("edge_type")
    )
    merged = base_tagged.unionByName(
        new_edges.select("layer", "src", "dst", "dist", "edge_type")
    )
    w_first = topk_per_group(
        merged.withColumn(
            "_prio", F.when(F.col("edge_type") == "base", 0).otherwise(1)
        ),
        ["layer", "src", "dst"], "_prio", 1, tie_col="edge_type", rank_name="_rn",
    )
    return w_first.drop("_rn", "_prio")


def cross_edge_counters(edges: DataFrame) -> DataFrame:
    """Per-type edge counts (reference counters, hnsw_cosine.py:882-897)."""
    return (
        edges.groupBy("layer", "edge_type")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy("layer", "edge_type")
    )
