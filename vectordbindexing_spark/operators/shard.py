"""Sharded ANN index artifact — the serving path past executor memory.

The broadcast ``CompactIndex`` (operators.search) is the low-latency unit
for indexes that fit one executor; this module is the scale-out form the
reference's single-node design cannot express (SURVEY §4): the corpus is
hash-partitioned into shards, each shard gets an independent two-layer
graph built *inside* the executors (``applyInPandas`` — the reference's
bulk build, `hnsw.cpp:52-118`, run per shard in parallel), the artifact
persists as one parquet row per node, and queries search every shard in
parallel with a final global top-k merge. The driver never materializes
vectors or edges — at 1000 executors the build is embarrassingly parallel
in the shard count and search cost is shards × beam.

Artifact schema (one row per node):
  shard INT, id LONG, vec ARRAY<FLOAT>, level INT,
  entry_rank INT (NULL unless a shard entry point),
  nbrs0 ARRAY<LONG>, nbrs1 ARRAY<LONG>   -- neighbor ids per layer
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from vectordbindexing_spark.plans.partitioning import local_rows_df

from vectordbindexing_spark.functions.hashing import det_hash64
from vectordbindexing_spark.operators.exact_knn import blocked_self_knn
from vectordbindexing_spark.operators.graph import assign_level_py
from vectordbindexing_spark.operators.search import CompactIndex, batch_search
from vectordbindexing_spark.operators.topk import topk_per_group

SHARD_SCHEMA = (
    "shard int, id long, vec array<float>, level int, entry_rank int, "
    "nbrs0 array<long>, nbrs1 array<long>"
)


def _build_shard(
    ids: np.ndarray,
    V: np.ndarray,
    M0: int,
    M1: int,
    M_level: int,
    metric: str,
    num_entry_points: int,
) -> pd.DataFrame:
    """Two-layer bulk build for one shard, pure numpy (levels → kNN graphs
    → mutualize with min-dist dedup and 2·max(M0,M1) cap → entry points).
    Same formulas as graph.build_two_layer_index, executed on one group."""
    n = len(ids)
    level = np.array([assign_level_py(i, M_level) for i in ids], dtype=np.int64)

    def knn_edges(sub_idx: np.ndarray, kk: int) -> list[tuple[int, int, float]]:
        sid, sV = ids[sub_idx], V[sub_idx]
        src, dst, dist = blocked_self_knn(sid, sV, sid, sV, kk, metric)
        return list(zip(src.tolist(), dst.tolist(), dist.tolist()))

    layers = {0: knn_edges(np.arange(n), M0)}
    um = np.flatnonzero(level >= 1)
    if len(um) >= 2:
        layers[1] = knn_edges(um, M1)
    cap = 2 * max(M0, M1)
    adj: dict[int, dict[int, dict[int, float]]] = {}
    for layer, edges in layers.items():
        per: dict[int, dict[int, float]] = {}
        for s, d, dist in edges:
            for a, b in ((s, d), (d, s)):
                cur = per.setdefault(a, {})
                if b not in cur or dist < cur[b]:
                    cur[b] = dist
        adj[layer] = per
    nbrs_sorted = {
        layer: {
            s: [d for _, d in sorted((dist, d) for d, dist in p.items())[:cap]]
            for s, p in per.items()
        }
        for layer, per in adj.items()
    }
    top_layer = max(nbrs_sorted)
    ep = sorted((-len(v), s) for s, v in nbrs_sorted[top_layer].items())
    entry_rank = {s: r + 1 for r, (_, s) in enumerate(ep[:num_entry_points])}
    return pd.DataFrame(
        {
            "id": ids,
            "vec": [row.astype(np.float32) for row in V],
            "level": level,
            "entry_rank": [entry_rank.get(int(i)) for i in ids],
            "nbrs0": [nbrs_sorted[0].get(int(i), []) for i in ids],
            "nbrs1": [nbrs_sorted.get(1, {}).get(int(i), []) for i in ids],
        }
    )


def build_sharded_index(
    base: DataFrame,
    num_shards: int = 4,
    M0: int = 16,
    M1: int = 8,
    M_level: int = 16,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
    num_entry_points: int = 3,
) -> DataFrame:
    """Artifact DataFrame: deterministic hash sharding (md5 of id — balanced
    regardless of id distribution), one independent graph per shard built
    executor-side. Memory per task is O(block · n/num_shards) — the
    build kernel computes distances in row blocks — so ``num_shards``
    is sized by COMPUTE: each shard costs O((n/num_shards)²·d) BLAS
    (the planner's SHARD_TARGET_ROWS keeps that to minutes/core)."""
    src = base.filter(F.col(vec_col).isNotNull()).select(
        F.pmod(det_hash64(F.col(id_col).cast("string")), F.lit(num_shards))
        .cast("int")
        .alias("shard"),
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vec"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        out = _build_shard(ids, V, M0, M1, M_level, metric, num_entry_points)
        out.insert(0, "shard", pdf["shard"].iloc[0])
        return out

    return src.groupBy("shard").applyInPandas(build, schema=SHARD_SCHEMA)


def save_sharded_index(index_df: DataFrame, path: str) -> None:
    """Persist the artifact partitioned by shard — each shard is its own
    parquet directory, loadable/searchable independently."""
    index_df.write.mode("overwrite").partitionBy("shard").parquet(path)


def load_sharded_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_npy_dir(path: str) -> str | None:
    """Local filesystem location of the raw-numpy fast sidecar inside a
    compact artifact, or None when ``path`` lives on a non-local scheme
    (hdfs://, s3a:// … — the sidecar is written by driver-side np.save,
    so it only exists where the artifact dir is a mounted filesystem;
    parquet stays the canonical, scheme-agnostic layout). The underscore
    prefix keeps Spark's parquet reader from touching the sidecar."""
    import os

    if "://" in path and not path.startswith("file:"):
        return None
    local = path[len("file:"):] if path.startswith("file:") else path
    return os.path.join(local, "_compact_npy")


def save_compact_npy(index: CompactIndex, artifact_dir: str) -> None:
    """Write the CompactIndex arrays as raw .npy files + meta.json — the
    mmap-able serving form :func:`operators.search.load_compact_npy`
    opens in O(metadata). Layout: ids/vecs/norms/entry_points.npy,
    indptr_L/indices_L.npy per layer, edge_cross_L.npy when present."""
    import json
    import os

    os.makedirs(artifact_dir, exist_ok=True)
    np.save(os.path.join(artifact_dir, "ids.npy"), index.ids)
    np.save(
        os.path.join(artifact_dir, "vecs.npy"),
        np.ascontiguousarray(index.vecs, dtype=np.float32),
    )
    np.save(os.path.join(artifact_dir, "norms.npy"), index.norms)
    np.save(
        os.path.join(artifact_dir, "entry_points.npy"), index.entry_points
    )
    for layer in index.indptr:
        np.save(
            os.path.join(artifact_dir, f"indptr_{layer}.npy"),
            index.indptr[layer],
        )
        np.save(
            os.path.join(artifact_dir, f"indices_{layer}.npy"),
            index.indices[layer],
        )
        if index.edge_cross and layer in index.edge_cross:
            np.save(
                os.path.join(artifact_dir, f"edge_cross_{layer}.npy"),
                index.edge_cross[layer],
            )
    with open(os.path.join(artifact_dir, "meta.json"), "w") as f:
        json.dump(
            {
                "metric": index.metric,
                "layers": sorted(int(x) for x in index.indptr),
                "n": int(len(index.ids)),
                "dim": int(index.vecs.shape[1]) if index.vecs.size else 0,
            },
            f,
        )


def load_compact_index(
    spark: SparkSession, path: str, metric: str = "cosine",
    mmap: bool = True,
) -> CompactIndex:
    """Load a :func:`save_compact_index` artifact back into the
    in-memory CompactIndex the low-latency compact route serves from —
    the save → load → search round-trip production deployments run
    instead of rebuilding the graph per session. Prefers the raw-numpy
    sidecar when present (memory-mapped open — measured r07 at 100k×128:
    2 ms vs 6.6 s for the parquet→pandas rebuild; 360 ms eager); falls
    back to the single-shard parquet layout, which is also what
    :func:`search_sharded` serves."""
    import os

    from vectordbindexing_spark.operators.search import load_compact_npy

    d = compact_npy_dir(path)
    if d is not None and os.path.exists(os.path.join(d, "meta.json")):
        return load_compact_npy(d, mmap=mmap)
    pdf = spark.read.parquet(path).toPandas()
    return _index_from_rows(pdf, metric)


def _index_from_rows(pdf: pd.DataFrame, metric: str) -> CompactIndex:
    """Reassemble one shard's rows into a CompactIndex (CSR per layer)."""
    order = np.argsort(pdf["id"].to_numpy(), kind="stable")
    pdf = pdf.iloc[order]
    ids = pdf["id"].to_numpy()
    vecs = np.stack([np.asarray(v, dtype=np.float32) for v in pdf["vec"]])
    pos_of = {int(i): p for p, i in enumerate(ids)}
    n = len(ids)
    indptr: dict[int, np.ndarray] = {}
    indices: dict[int, np.ndarray] = {}
    for layer, col in ((0, "nbrs0"), (1, "nbrs1")):
        ptr = np.zeros(n + 1, dtype=np.int64)
        idx: list[int] = []
        any_edge = False
        for p, nbrs in enumerate(pdf[col]):
            if nbrs is not None and len(nbrs):
                any_edge = True
                idx.extend(pos_of[int(d)] for d in nbrs)
            ptr[p + 1] = len(idx)
        if any_edge:
            indptr[layer] = ptr
            indices[layer] = np.array(idx, dtype=np.int64)
    ep = pdf[pdf["entry_rank"].notna()].sort_values("entry_rank")
    ep_pos = np.array([pos_of[int(i)] for i in ep["id"]], dtype=np.int64)
    if len(ep_pos) == 0:
        ep_pos = np.array([0], dtype=np.int64)
    return CompactIndex(ids, vecs, indptr, indices, ep_pos, metric)


def search_sharded(
    queries: DataFrame,
    index_df: DataFrame,
    k: int = 10,
    ef_search: int = 64,
    metric: str = "cosine",
    num_entry_points: int = 3,
    layer1_ef_multiplier: int = 2,
    q_id: str = "qid",
    q_vec: str = "vec",
) -> DataFrame:
    """Search every shard in parallel (queries broadcast — the small side
    in batch serving), merge with one global per-query top-k window.
    Output (qid, nbr_rank, neighbor_id, dist) like graph_search. The index
    side stays a DataFrame end-to-end: recall is a union bound over shards
    (each true neighbor lives in exactly one shard's graph)."""
    from vectordbindexing_spark.operators.exact_knn import (
        _BLOCKED_THRESHOLD_QUERIES,
    )

    spark = queries.sparkSession
    qrows = queries.select(
        F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("v")
    ).limit(_BLOCKED_THRESHOLD_QUERIES + 1).toPandas()
    if len(qrows) > _BLOCKED_THRESHOLD_QUERIES:
        raise ValueError(
            f"query batch exceeds {_BLOCKED_THRESHOLD_QUERIES} rows — split "
            "the serving batch; the index side is unbounded, the query "
            "broadcast is not"
        )
    qids = qrows["qid"].to_numpy()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qrows["v"]])
    bc = spark.sparkContext.broadcast((qids, Q))

    def search_one(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = _index_from_rows(pdf, metric)
        bqids, bQ = bc.value
        D, P, _ = batch_search(
            idx, bQ, k, ef_search, num_entry_points, layer1_ef_multiplier
        )
        r, c = np.nonzero(P >= 0)
        return pd.DataFrame(
            {"qid": bqids[r], "neighbor_id": idx.ids[P[r, c]], "dist": D[r, c]}
        )

    per_shard = index_df.groupBy("shard").applyInPandas(
        search_one, schema="qid long, neighbor_id long, dist double"
    )
    ranked = topk_per_group(per_shard, ["qid"], "dist", k, tie_col="neighbor_id")
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")


def save_compact_index(
    index: CompactIndex, spark: SparkSession, path: str
) -> None:
    """Persist a driver-built CompactIndex as a single-shard artifact —
    same schema/loader as the sharded path, so a serving deployment
    memory-maps parquet instead of re-collecting the build DataFrames."""
    n = len(index.ids)
    pos_levels = np.zeros(n, dtype=np.int64)
    if 1 in index.indptr:
        ptr = index.indptr[1]
        pos_levels[(ptr[1:] - ptr[:-1]) > 0] = 1
    rows = []
    er = {int(p): r + 1 for r, p in enumerate(index.entry_points)}
    for p in range(n):
        nbrs = {}
        for layer in (0, 1):
            if layer in index.indptr:
                ptr = index.indptr[layer]
                nbrs[layer] = [
                    int(index.ids[d])
                    for d in index.indices[layer][ptr[p] : ptr[p + 1]]
                ]
        rows.append(
            (
                0,
                int(index.ids[p]),
                [float(x) for x in index.vecs[p]],
                int(pos_levels[p]),
                er.get(p),
                nbrs.get(0, []),
                nbrs.get(1, []),
            )
        )
    local_rows_df(spark, rows, SHARD_SCHEMA).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(path)
    # raw-numpy mmap sidecar (AFTER the parquet write — overwrite mode
    # clears the directory); local/mounted paths only, parquet canonical
    d = compact_npy_dir(path)
    if d is not None:
        save_compact_npy(index, d)
