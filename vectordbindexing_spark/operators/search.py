"""Graph ANN search (SURVEY §2.9) — the serving path.

The reference searches one query at a time over in-memory dicts
(`hnsw_cosine.py:445-527`) or C++ arrays (`hnsw.cpp:631-815`). Spark
formulation: compact the edge DataFrame into a CSR adjacency + vector
matrix ("index artifact"), broadcast it, and run the beam search inside
``mapInPandas`` over the *query* DataFrame — queries stream through
executors in Arrow batches, each executor holds one shared read-only copy
of the index. This is the batch-serving unit the reference's
``batch_search`` loops over (`hnsw.cpp:817-828`).

For indexes larger than executor memory the build-side tables stay
DataFrames and search becomes iterative frontier joins (not needed at the
driver's scale factors; the compact path covers ≤ tens of GB per executor).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import METRICS


@dataclass
class CompactIndex:
    """CSR adjacency per layer + row-aligned vector matrix."""

    ids: np.ndarray            # (n,) int64 original ids
    vecs: np.ndarray           # (n, d) float32
    indptr: dict[int, np.ndarray]
    indices: dict[int, np.ndarray]
    entry_points: np.ndarray   # (m,) positions (not ids)
    metric: str = "cosine"
    # optional, CSR-parallel to indices: True where the edge is a
    # cross-distribution augmentation edge (reference edge_flags)
    edge_cross: dict[int, np.ndarray] | None = None

    def __post_init__(self):
        # checked once here so the hot ``dist`` keeps no fallback branch
        if self.metric not in METRICS:
            raise ValueError(
                f"unknown metric {self.metric!r}; expected one of {METRICS}"
            )

    def dist(self, q: np.ndarray, pos: np.ndarray) -> np.ndarray:
        V = self.vecs[pos].astype(np.float64)
        if self.metric == "cosine":
            qn = np.linalg.norm(q)
            vn = np.linalg.norm(V, axis=1)
            return 1.0 - (V @ q) / (vn * qn)
        if self.metric == "l2":
            d = V - q
            return np.sqrt(np.sum(d * d, axis=1))
        return -(V @ q)


def compact_index(
    edges: DataFrame,
    base: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    metric: str = "cosine",
    num_entry_points: int = 3,
) -> CompactIndex:
    """Collect edge + vector DataFrames into a CompactIndex artifact.

    Driver-side collect — the artifact is the thing you broadcast.
    Production deployments persist it with shard.save_compact_index and
    reload with shard.load_compact_index (the planner's compact route
    does both when given artifact_path), so serving sessions never
    re-collect the build DataFrames.
    """
    vec_pdf = (
        base.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .toPandas()  # Arrow transfer — much faster than Row collect()
    )
    ids = vec_pdf["id"].to_numpy()
    vecs = np.stack([np.asarray(v, dtype=np.float32) for v in vec_pdf["v"]])
    pos_lookup = np.full(int(ids.max()) + 1 if len(ids) else 1, -1, dtype=np.int64)
    pos_lookup[ids] = np.arange(len(ids))
    pos_of = {int(i): p for p, i in enumerate(ids)}

    has_type = "edge_type" in edges.columns
    cols = ["layer", "src", "dst"] + (["edge_type"] if has_type else [])
    # ONE consumer since the entry points moved driver-side: the Arrow
    # transfer below executes the (possibly expensive) upstream build
    # exactly once, so the eager checkpoint that used to shield a
    # second consumer is pure overhead now — dropped (one job fewer)
    edge_pdf = edges.select(*cols).toPandas()
    indptr, indices = {}, {}
    edge_cross: dict[int, np.ndarray] = {}
    n = len(ids)
    max_id = int(ids.max()) if len(ids) else -1
    for layer, grp in edge_pdf.groupby("layer"):
        src_ids = grp["src"].to_numpy()
        dst_ids = grp["dst"].to_numpy()
        if (
            (src_ids > max_id).any() or (dst_ids > max_id).any()
            or (src_ids < 0).any() or (dst_ids < 0).any()
        ):
            raise ValueError(
                f"layer {layer}: edge references id outside base id range "
                f"[0, {max_id}]"
            )
        src_p = pos_lookup[src_ids]
        dst_p = pos_lookup[dst_ids]
        if (src_p < 0).any() or (dst_p < 0).any():
            raise ValueError(
                f"layer {layer}: edge references id missing from base"
            )
        cross = (
            (grp["edge_type"] == "cross_distribution").to_numpy()
            if has_type
            else np.zeros(len(grp), dtype=bool)
        )
        order = np.argsort(src_p, kind="stable")
        src_p, dst_p, cross = src_p[order], dst_p[order], cross[order]
        counts = np.bincount(src_p, minlength=n)
        ptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=ptr[1:])
        indptr[int(layer)] = ptr
        indices[int(layer)] = dst_p.astype(np.int64)
        edge_cross[int(layer)] = cross

    # entry points: degree-top-n of the top layer, computed from the
    # ALREADY-collected edge table with the same (degree desc, src asc)
    # order entry_points' rank window applies — one fewer Spark window
    # job per compact (compact_index fronts every serving query path)
    top_layer = max(indptr) if indptr else 0
    grp = edge_pdf[edge_pdf["layer"] == top_layer]
    deg = grp.groupby("src").size()
    eps = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))
    ep_pos = np.array(
        [
            pos_of[int(s)]
            for s, _ in eps[:num_entry_points]
            if int(s) in pos_of
        ],
        dtype=np.int64,
    )
    if len(ep_pos) == 0:
        ep_pos = np.array([0], dtype=np.int64)
    return CompactIndex(
        ids, vecs, indptr, indices, ep_pos, metric,
        edge_cross=edge_cross if has_type else None,
    )


def _beam_search_layer(
    index: CompactIndex,
    q: np.ndarray,
    layer: int,
    entries: np.ndarray,
    ef: int,
    max_paths: int = 1,
    max_hops: int = 500,
    max_search_nodes: int | None = None,
    stats_out: dict | None = None,
) -> list[tuple[float, int]]:
    """Best-first beam search with candidate min-heap + result max-heap and
    early exit (reference `_search_layer` hnsw_cosine.py:445-473; hop cap
    from roargraph_python.py:376; ``max_search_nodes`` visit budget from
    hnsw_cosine_norm.py:349,697-720). ``max_paths`` > 1 is the multi-path
    variant (reference `_search_layer_multi_path`,
    hnsw_cosine_status_high.py:965-1077, max_paths=3): each round expands
    the ``max_paths`` best frontier heads together — the paths share one
    visited set and one result beam, so this widens exploration without
    revisits. Stats: ``visited``, ``hops`` (rounds) and ``path_pops``
    (heads expanded; equals ``hops`` at ``max_paths=1``)."""
    indptr = index.indptr.get(layer)
    indices = index.indices.get(layer)
    if indptr is None:
        return [(float(d), int(p)) for d, p in
                zip(index.dist(q, entries), entries)]
    visited = np.zeros(len(index.ids), dtype=bool)
    entries = np.unique(entries)
    d0 = index.dist(q, entries)
    cand = [(float(d), int(p)) for d, p in zip(d0, entries)]
    heapq.heapify(cand)
    result = [(-d, p) for d, p in cand]
    heapq.heapify(result)
    while len(result) > ef:
        heapq.heappop(result)
    visited[entries] = True
    n_visited = len(entries)
    hops = 0
    extra_pops = 0  # heads expanded beyond one per round
    while cand and hops < max_hops:
        if max_search_nodes is not None and n_visited >= max_search_nodes:
            break
        if max_paths == 1:
            d, p = heapq.heappop(cand)
            if d > -result[0][0] and len(result) >= ef:
                break
            nbrs = indices[indptr[p] : indptr[p + 1]]
            nbrs = nbrs[~visited[nbrs]]
        else:
            heads = [heapq.heappop(cand)
                     for _ in range(min(max_paths, len(cand)))]
            if heads[0][0] > -result[0][0] and len(result) >= ef:
                break  # even the best head cannot improve the beam
            extra_pops += len(heads) - 1
            chunks = []
            for _, h in heads:
                nb = indices[indptr[h] : indptr[h + 1]]
                nb = nb[~visited[nb]]
                visited[nb] = True  # later heads skip earlier heads' nbrs
                chunks.append(nb)
            nbrs = np.concatenate(chunks)
        hops += 1
        if len(nbrs) == 0:
            continue
        visited[nbrs] = True
        n_visited += len(nbrs)
        dn = index.dist(q, nbrs)
        for dd, pp in zip(dn, nbrs):
            if len(result) < ef or dd < -result[0][0]:
                heapq.heappush(cand, (float(dd), int(pp)))
                heapq.heappush(result, (-float(dd), int(pp)))
                if len(result) > ef:
                    heapq.heappop(result)
    if stats_out is not None:
        stats_out["visited"] = stats_out.get("visited", 0) + n_visited
        stats_out["hops"] = stats_out.get("hops", 0) + hops
        stats_out["path_pops"] = (
            stats_out.get("path_pops", 0) + hops + extra_pops
        )
    return [(-d, p) for d, p in result]


def _layered_search(
    index: CompactIndex,
    q: np.ndarray,
    k: int,
    ef_search: int,
    num_entry_points: int,
    layer1_ef_multiplier: int,
    max_paths: int = 1,
    max_search_nodes: int | None = None,
    stats_out: dict | None = None,
) -> list[tuple[float, int]]:
    """One query's layered descent, shared by the broadcast and sharded
    routes (like the C++ multi-entry search, hnsw.cpp:769-815): beam each
    upper layer at ``layer1_ef_multiplier``·max(ef, k) and keep its top
    ``num_entry_points`` as the next seeds, then beam layer 0 at
    max(ef, k). Returns the layer-0 beam sorted by (dist, id)."""
    entries = index.entry_points
    for layer in sorted(index.indptr, reverse=True):
        if layer == 0:
            continue
        up = _beam_search_layer(
            index, q, layer, entries,
            layer1_ef_multiplier * max(ef_search, k), max_paths=max_paths,
            max_search_nodes=max_search_nodes, stats_out=stats_out,
        )
        up.sort()
        entries = np.array(
            [p for _, p in up[:num_entry_points]], dtype=np.int64
        )
    # ALWAYS beam on layer 0 (an index with only upper layers degrades
    # gracefully: no layer-0 CSR scores just the entries)
    res = _beam_search_layer(
        index, q, 0, entries, max(ef_search, k), max_paths=max_paths,
        max_search_nodes=max_search_nodes, stats_out=stats_out,
    )
    res.sort(key=lambda t: (t[0], index.ids[t[1]]))
    return res


def load_compact_npy(artifact_dir: str, mmap: bool = True) -> CompactIndex:
    """Load the raw-numpy fast artifact written by
    :func:`operators.shard.save_compact_index` (the ``_compact_npy``
    sidecar). With ``mmap=True`` the big arrays (vectors, CSR indices)
    are memory-mapped read-only: every python worker PROCESS on a box
    maps the same pages, so N workers share ONE physical copy through
    the OS page cache and "loading" is O(metadata) instead of a
    parquet→pandas→python-loop rebuild."""
    import json
    import os

    with open(os.path.join(artifact_dir, "meta.json")) as f:
        meta = json.load(f)
    mm = "r" if mmap else None

    def arr(name, m=mm):
        return np.load(os.path.join(artifact_dir, name), mmap_mode=m)

    indptr, indices = {}, {}
    edge_cross: dict[int, np.ndarray] = {}
    for layer in meta["layers"]:
        indptr[layer] = arr(f"indptr_{layer}.npy", None)  # small
        indices[layer] = arr(f"indices_{layer}.npy")
        p = os.path.join(artifact_dir, f"edge_cross_{layer}.npy")
        if os.path.exists(p):
            edge_cross[layer] = np.load(p, mmap_mode=mm)
    return CompactIndex(
        arr("ids.npy", None),
        arr("vecs.npy"),
        indptr,
        indices,
        arr("entry_points.npy", None),
        meta["metric"],
        edge_cross or None,
    )


# per worker-process artifact singleton: tasks reusing the worker skip
# even the mmap open; keyed by realpath so relative/absolute spellings
# share the entry, PLUS meta.json (mtime_ns, size) so a rebuild over
# the same path invalidates the entry — long-lived Python workers must
# not keep serving a stale CompactIndex after save_compact_index
# rewrites the artifact in place (build-then-rebuild sessions)
_ARTIFACT_CACHE: dict[tuple[str, int, int], CompactIndex] = {}


def _artifact_cached(artifact_dir: str) -> CompactIndex:
    import os

    path = os.path.realpath(artifact_dir)
    st = os.stat(os.path.join(path, "meta.json"))
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _ARTIFACT_CACHE:
        # drop superseded builds of the same path before loading the new
        # one — the worker would otherwise hold every generation's mmaps
        for old in [k for k in _ARTIFACT_CACHE if k[0] == path]:
            del _ARTIFACT_CACHE[old]
        _ARTIFACT_CACHE[key] = load_compact_npy(path)
    return _ARTIFACT_CACHE[key]


def graph_search(
    queries: DataFrame,
    index: CompactIndex | str,
    k: int = 10,
    ef_search: int = 64,
    num_entry_points: int = 3,
    q_id: str = "qid",
    q_vec: str = "vec",
    max_search_nodes: int | None = None,
    layer1_ef_multiplier: int = 2,
    with_stats: bool = False,
    max_paths: int = 1,
) -> DataFrame:
    """Batch ANN search: broadcast the index, stream query batches through
    a mapInPandas kernel running the layered beam search per query.

    Two-phase like the C++ multi-entry search (hnsw.cpp:769-815): beam on
    the top layer to pick entry seeds, then beam on layer 0. The upper-layer
    beam runs at ``layer1_ef_multiplier``×ef (the "High" method's enhanced
    layer-1 search, hnsw_cosine_status_high.py:524-734 layer1_ef=2*ef);
    ``max_search_nodes`` caps visited nodes per layer (Norm method budget);
    ``max_paths`` is the number of frontier heads the beam expands per
    round (reference `_search_layer_multi_path` uses 3; the default 1 is
    the single-path search).
    Output: (qid, nbr_rank, neighbor_id, dist) like exact_knn;
    ``with_stats`` appends per-query (visited_count, hops, latency_us,
    path_pops) — the reference batch_search output dict
    (hnsw_with_bridges_optimized.py:185-237).

    ``index`` may be a ``_compact_npy`` artifact DIRECTORY instead of an
    in-memory CompactIndex: then only the path string is broadcast and
    each worker process memory-maps the artifact from shared storage
    (:func:`load_compact_npy`, per-process cached) — no driver-side
    load, no N-copies-per-box broadcast deserialization.
    """
    import time as _time
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(index)

    def run(batches):
        idx = bc.value
        if isinstance(idx, str):
            idx = _artifact_cached(idx)
        for pdf in batches:
            qids, ranks, nids, dists = [], [], [], []
            svis, shops, slat, spaths = [], [], [], []
            for qid, v in zip(pdf["qid"], pdf["v"]):
                q = np.asarray(v, dtype=np.float64)
                stats: dict = {}
                t0 = _time.perf_counter()
                res = _layered_search(
                    idx, q, k, ef_search, num_entry_points,
                    layer1_ef_multiplier, max_paths=max_paths,
                    max_search_nodes=max_search_nodes, stats_out=stats,
                )
                lat_us = int((_time.perf_counter() - t0) * 1e6)
                for r, (d, p) in enumerate(res[:k], start=1):
                    qids.append(qid); ranks.append(r)
                    nids.append(int(idx.ids[p])); dists.append(float(d))
                    svis.append(stats.get("visited", 0))
                    shops.append(stats.get("hops", 0))
                    slat.append(lat_us)
                    spaths.append(stats.get("path_pops", 0))
            out = {"qid": qids, "nbr_rank": ranks, "neighbor_id": nids,
                   "dist": dists}
            if with_stats:
                out.update(
                    {"visited_count": svis, "hops": shops,
                     "latency_us": slat, "path_pops": spaths}
                )
            yield pd.DataFrame(out)

    from vectordbindexing_spark.plans.partitioning import repartition_for_compute

    q = repartition_for_compute(
        queries.filter(F.col(q_vec).isNotNull())
        .select(F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("v"))
    )
    schema = "qid long, nbr_rank long, neighbor_id long, dist double"
    if with_stats:
        schema += (
            ", visited_count long, hops long, latency_us long, path_pops long"
        )
    return q.mapInPandas(run, schema=schema)


def _frontier_expand_round(
    best: DataFrame, e: DataFrame, visited: DataFrame
) -> DataFrame:
    """One frontier expansion: frontier ⨝ edges → visited anti-join →
    per-(qid, neighbor) dedup. Extracted so the plan shape is pinnable
    (tests/test_plans.py): the anti-join must survive as a real join
    (never a cartesian), which is what bounds each round's candidate
    volume on a 100 TB graph."""
    return (
        best.withColumnRenamed("neighbor_id", "src")
        .join(e, "src")
        .select("qid", F.col("dst").alias("neighbor_id"))
        .join(visited, ["qid", "neighbor_id"], "left_anti")  # visited filter
        .dropDuplicates(["qid", "neighbor_id"])
    )


def frontier_search(
    queries: DataFrame,
    edges: DataFrame,
    base: DataFrame,
    k: int = 10,
    rounds: int = 4,
    beam: int = 32,
    layer: int = 0,
    metric: str = "cosine",
    q_id: str = "qid",
    q_vec: str = "vec",
    b_id: str = "id",
    b_vec: str = "vec",
    entry_df: DataFrame | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Distributed graph search via iterative frontier joins — the
    giant-index path (SURVEY §4 item 2): the adjacency and vector tables
    stay DataFrames (nothing broadcast), and one BFS/beam round is

      frontier ⨝ edges → neighbor candidates → score → per-query top-beam

    with an accumulated visited/result table. ``localCheckpoint`` every few
    rounds truncates lineage (iteration on Spark grows plans otherwise).
    O(rounds) shuffle stages; use the broadcast ``graph_search`` kernel
    whenever the index fits in executor memory — this path trades latency
    for unbounded index size.
    """
    from vectordbindexing_spark.operators.lsh import _score_candidates
    from vectordbindexing_spark.operators.topk import topk_per_group

    # materialize once: every round's expansion joins e, and the upstream
    # edge build (kNN-graph kernels) must not re-run per round
    e = (
        edges.filter(F.col("layer") == layer)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    bv = base.filter(F.col(b_vec).isNotNull()).select(
        F.col(b_id).cast("long").alias("neighbor_id"), F.col(b_vec).alias("_bv")
    )
    qv = queries.filter(F.col(q_vec).isNotNull()).select(
        F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("_qv")
    ).localCheckpoint(eager=True)

    if entry_df is None:
        from vectordbindexing_spark.operators.graph import entry_points

        # derive the entry points from the CHECKPOINTED layer slice:
        # ``edges`` is typically an un-materialized kNN-graph build, and
        # reading it here re-executed the whole build lineage a second
        # time (measured: the dominant cost of the frontier_knn bench
        # row — the worst line in BENCH_r12). ``e`` holds exactly the
        # filter(layer)+select rows entry_points would scan, so the
        # degree top-k is unchanged.
        entry_df = entry_points(
            e.select(F.lit(layer).alias("layer"), "src", "dst"),
            layer=layer, n=3,
        ).select(F.col("node_id").alias("neighbor_id"))
    # seed: every query starts at the entry points
    frontier = qv.select("qid", "_qv").crossJoin(F.broadcast(entry_df))
    scored = _score_candidates(frontier.join(bv, "neighbor_id"), metric)
    best = topk_per_group(scored, ["qid"], "dist", beam,
                          tie_col="neighbor_id", rank_name="_rn").drop("_rn")
    visited = best.select("qid", "neighbor_id").localCheckpoint(eager=True)
    best = best.localCheckpoint(eager=True)

    for r in range(rounds):
        expand = (
            _frontier_expand_round(best, e, visited)
            # lazy checkpoint: the count() below is the ONE action that
            # both materializes it (consumed by the candidate join — the
            # round must not run twice) and answers the emptiness probe;
            # an eager checkpoint + isEmpty() was two jobs per round
            .localCheckpoint(eager=False)
        )
        if expand.count() == 0:
            break
        cand = expand.join(qv, "qid").join(bv, "neighbor_id")
        new_scored = _score_candidates(cand, metric)
        best = topk_per_group(
            best.unionByName(new_scored), ["qid"], "dist", beam,
            tie_col="neighbor_id", rank_name="_rn",
        ).drop("_rn")
        # no dedup needed: expand was anti-joined against visited and is
        # internally distinct, so the union is disjoint by construction
        visited = visited.unionByName(expand.select("qid", "neighbor_id"))
        if (r + 1) % checkpoint_every == 0 or r == rounds - 1:
            best = best.localCheckpoint(eager=True)
            visited = visited.localCheckpoint(eager=True)

    return (
        topk_per_group(best, ["qid"], "dist", k, tie_col="neighbor_id")
        .select("qid", "nbr_rank", "neighbor_id", "dist")
    )


def allowed_topk(got: DataFrame, allowed: DataFrame, k: int) -> DataFrame:
    """Post-filter + re-rank tail of the overfetch filtered-ANN recipe:
    LEFT SEMI join the (qid, nbr_rank, neighbor_id, dist) candidates
    against the allowed id set, then re-rank to k (the filtered route
    of plans.knn_planner.graph_knn)."""
    from vectordbindexing_spark.operators.topk import topk_per_group

    kept = got.join(
        allowed.select(F.col("id").cast("long").alias("neighbor_id")),
        "neighbor_id", "semi",
    )
    return (
        topk_per_group(
            kept.select("qid", "neighbor_id", "dist"),
            ["qid"], "dist", k, tie_col="neighbor_id",
        )
        .select("qid", "nbr_rank", "neighbor_id", "dist")
    )
