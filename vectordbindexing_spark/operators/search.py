"""Graph ANN search (SURVEY §2.9) — the serving path.

The reference searches one query at a time over in-memory dicts
(`hnsw_cosine.py:445-527`) or C++ arrays (`hnsw.cpp:631-815`). Spark
formulation: compact the edge DataFrame into a CSR adjacency + vector
matrix ("index artifact"), broadcast it, and run the beam search inside
``mapInPandas`` over the *query* DataFrame — queries stream through
executors in Arrow batches, each executor holds one shared read-only copy
of the index. This is the batch-serving unit the reference's
``batch_search`` loops over (`hnsw.cpp:817-828`).

The kernel (:func:`batch_search`) searches an Arrow batch in lockstep
chunks of at most 64 queries (SURVEY.md:227 — the batch, not the query,
is the unit). Each round, every query of a chunk still searching
expands the best unexpanded entry of its beam; the CSR neighbours of all
those heads are gathered, filtered against the visited words, scored
with one batched dot product and merged into the ``(queries, ef)`` beams
in one numpy pass per round. Visited state is one ``uint64`` per node,
kept per worker process: bit b belongs to query b of the chunk (hence
the 64-query chunk), and a layer clears the words it set when it ends
(the O(1)-reset visited list of ``hnsw.h:219-222``, SURVEY.md:344).

For indexes larger than executor memory the build-side tables stay
DataFrames and search becomes iterative frontier joins (not needed at the
driver's scale factors; the compact path covers ≤ tens of GB per executor).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import METRICS

# rows per norm block: bounds the float64 copy of the vectors
_NORM_BLOCK_ROWS = 1 << 16


def _row_norms(vecs: np.ndarray) -> np.ndarray:
    """Per-row L2 norms, computed exactly as ``np.linalg.norm(V.astype(
    float64), axis=1)`` (each row's value does not depend on the block
    it is computed in), one block of rows at a time."""
    out = np.empty(len(vecs), dtype=np.float64)
    for lo in range(0, len(vecs), _NORM_BLOCK_ROWS):
        block = np.asarray(vecs[lo : lo + _NORM_BLOCK_ROWS], dtype=np.float64)
        out[lo : lo + len(block)] = np.linalg.norm(block, axis=1)
    return out


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
    # (n,) float64 row norms of ``vecs``; computed here when not given
    # (save_compact_npy persists them, load_compact_npy maps them)
    norms: np.ndarray | None = None

    def __post_init__(self):
        # checked once here so the hot ``dist`` keeps no fallback branch
        if self.metric not in METRICS:
            raise ValueError(
                f"unknown metric {self.metric!r}; expected one of {METRICS}"
            )
        if self.norms is None:
            self.norms = _row_norms(self.vecs)

    def dist(self, q: np.ndarray, pos: np.ndarray) -> np.ndarray:
        V = self.vecs[pos].astype(np.float64)
        if self.metric == "cosine":
            return 1.0 - (V @ q) / (self.norms[pos] * np.linalg.norm(q))
        if self.metric == "l2":
            d = V - q
            return np.sqrt(np.sum(d * d, axis=1))
        return -(V @ q)

    def pair_dist(
        self, Q: np.ndarray, qn: np.ndarray, owner: np.ndarray, pos: np.ndarray
    ) -> np.ndarray:
        """Row-wise distance of query ``Q[owner[i]]`` (norm ``qn``) to
        node ``pos[i]``: one batched dot product for a whole round."""
        V = np.asarray(self.vecs)[pos].astype(np.float64)
        Qg = Q[owner]
        if self.metric == "l2":
            d = V - Qg
            return np.sqrt(np.einsum("ij,ij->i", d, d))
        dot = np.einsum("ij,ij->i", V, Qg)
        if self.metric == "cosine":
            return 1.0 - dot / (np.asarray(self.norms)[pos] * qn[owner])
        return -dot


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


# Lockstep batch kernel. A chunk holds at most 64 queries: query b of a
# chunk owns bit b of every node's visited word.
_CHUNK = 64
_BITS = np.left_shift(np.uint64(1), np.arange(_CHUNK, dtype=np.uint64))
_PAD = np.iinfo(np.int64).max  # empty beam slot; sorts after every position
_MAX_HOPS = 500  # expansion rounds per query per layer (roargraph_python.py:376)

# visited words, one per node, reused by every search a (worker) thread
# runs; all zero between layers, since each layer clears what it set
_scratch = threading.local()


def _visited_words(n: int) -> np.ndarray:
    words = getattr(_scratch, "visited", None)
    if words is None or len(words) < n:
        words = _scratch.visited = np.zeros(n, dtype=np.uint64)
    return words


def _merge(D, P, X, owner, d, pos):
    """Merge candidates (``owner`` ascending) into the sorted beams in
    place: each row keeps its ``ef`` smallest (dist, position) pairs,
    the candidates unexpanded. A NaN distance sorts after the empty
    slots, so it never enters a beam."""
    ef = D.shape[1]
    starts = np.concatenate(([0], np.flatnonzero(owner[1:] != owner[:-1]) + 1))
    rows = owner[starts]
    cnt = np.diff(starts, append=len(owner))
    r = np.repeat(np.arange(len(rows)), cnt)
    c = ef + np.arange(len(owner)) - np.repeat(starts, cnt)
    shape = (len(rows), ef + int(cnt.max()))
    Dm = np.full(shape, np.inf)
    Pm = np.full(shape, _PAD)
    Xm = np.ones(shape, dtype=bool)
    Dm[:, :ef], Pm[:, :ef], Xm[:, :ef] = D[rows], P[rows], X[rows]
    Dm[r, c], Pm[r, c], Xm[r, c] = d, pos, False
    o = Dm.argsort(1)
    ri = np.arange(len(rows))[:, None]
    Ds, Ps = Dm[ri, o], Pm[ri, o]
    tie = ((Ds[:, 1:] == Ds[:, :-1]) & (Ps[:, 1:] != _PAD)).any(1)
    if tie.any():  # exact distance ties: order them by position
        t = np.flatnonzero(tie)
        o[t] = np.lexsort((Pm[t], Dm[t]), axis=-1)
        Ds, Ps = Dm[ri, o], Pm[ri, o]
    D[rows], P[rows], X[rows] = Ds[:, :ef], Ps[:, :ef], Xm[ri, o[:, :ef]]


def _seed(index, Q, qn, entries, ef):
    """(D, P, X) beams of width ``ef`` holding each row's scored
    ``entries`` (``_PAD``-padded positions), best first."""
    b = len(Q)
    D = np.full((b, ef), np.inf)
    P = np.full((b, ef), _PAD)
    X = np.ones((b, ef), dtype=bool)
    r, c = np.nonzero(entries != _PAD)
    if len(r):
        pos = entries[r, c]
        _merge(D, P, X, r, index.pair_dist(Q, qn, r, pos), pos)
    return D, P, X


def _beam_layer(index, layer, Q, qn, entries, ef, max_paths,
                max_search_nodes, stats):
    """One layer's beam search for a chunk, in lockstep rounds. A row
    stops where the per-query heap beam stops (reference `_search_layer`
    hnsw_cosine.py:445-473): when its beam holds no unexpanded entry —
    with a full beam the heap's next head would be farther than the
    worst kept entry — after ``_MAX_HOPS`` rounds, or once it has
    visited ``max_search_nodes`` nodes (hnsw_cosine_norm.py:349,697-720).
    A neighbour enters a full beam only when strictly nearer than its
    worst entry. Returns (D, P) sorted by (dist, position)."""
    b, n = len(Q), len(index.ids)
    indptr = index.indptr[layer]
    indices = np.asarray(index.indices[layer])
    bits = _BITS[:b]
    vis = _visited_words(n)
    D, P, X = _seed(index, Q, qn, entries, ef)
    er, ec = np.nonzero(entries != _PAD)
    touched = [entries[er, ec]]
    visited = np.bincount(er, minlength=b)
    hops = np.zeros(b, dtype=np.int64)
    pops = np.zeros(b, dtype=np.int64)
    alive = np.ones(b, dtype=bool)
    try:
        np.bitwise_or.at(vis, touched[0], bits[er])
        while True:
            alive &= hops < _MAX_HOPS
            if max_search_nodes is not None:
                alive &= visited < max_search_nodes
            act = np.flatnonzero(alive)
            if len(act) == 0:
                break
            U = ~X[act]
            if max_paths == 1:
                hc = U.argmax(1)
                has = U[np.arange(len(act)), hc]
                hr, hc = act[has], hc[has]
                npop = has
            else:  # the max_paths best unexpanded entries of each row
                take = U & (np.cumsum(U, 1) <= max_paths)
                r, hc = np.nonzero(take)
                hr = act[r]
                npop = take.sum(1)
            alive[act[npop == 0]] = False
            if len(hr) == 0:
                break
            hops[act] += npop > 0
            pops[act] += npop
            X[hr, hc] = True
            # every head's CSR row, one gather for the whole chunk
            heads = P[hr, hc]
            start = indptr[heads]
            cnt = indptr[heads + 1] - start
            offs = np.repeat(start - (np.cumsum(cnt) - cnt), cnt)
            node = indices[offs + np.arange(len(offs))]
            owner = np.repeat(hr, cnt)
            fresh = (vis[node] & bits[owner]) == 0
            node, owner = node[fresh], owner[fresh]
            if max_paths > 1:  # heads of one row may share neighbours
                key = np.unique(owner * n + node)
                owner, node = key // n, key % n
            if len(node) == 0:
                continue
            np.bitwise_or.at(vis, node, bits[owner])
            touched.append(node)
            visited += np.bincount(owner, minlength=b)
            d = index.pair_dist(Q, qn, owner, node)
            keep = (P[owner, -1] == _PAD) | (d < D[owner, -1])
            if keep.any():
                _merge(D, P, X, owner[keep], d[keep], node[keep])
    finally:
        vis[np.concatenate(touched)] = 0
    stats["visited_count"] += visited
    stats["hops"] += hops
    stats["path_pops"] += pops
    return D, P


def _search_chunk(index, Q, k, ef_search, num_entry_points,
                  layer1_ef_multiplier, max_paths, max_search_nodes, stats):
    """Layered descent for ≤ 64 queries (like the C++ multi-entry
    search, hnsw.cpp:769-815): beam each upper layer at
    ``layer1_ef_multiplier``·max(ef, k) and keep each row's best
    ``num_entry_points`` as its next seeds, then beam layer 0 at
    max(ef, k). Returns the best k (dist, position) per row in
    (dist, id) order, ``_PAD`` where a row has fewer."""
    qn = np.linalg.norm(Q, axis=1)
    ep = np.unique(index.entry_points)
    entries = np.broadcast_to(ep, (len(Q), len(ep)))
    ef = max(ef_search, k)
    for layer in sorted(index.indptr, reverse=True):
        if layer == 0:
            continue
        _, P = _beam_layer(
            index, layer, Q, qn, entries, layer1_ef_multiplier * ef,
            max_paths, max_search_nodes, stats,
        )
        entries = P[:, :num_entry_points]
    if 0 in index.indptr:
        D, P = _beam_layer(
            index, 0, Q, qn, entries, ef, max_paths, max_search_nodes, stats
        )
    else:  # only upper layers: the entries, scored
        D, P, _ = _seed(index, Q, qn, entries, entries.shape[1])
    ids = np.where(P == _PAD, _PAD, index.ids[np.minimum(P, len(index.ids) - 1)])
    o = np.lexsort((ids, D), axis=-1)[:, :k]
    return np.take_along_axis(D, o, 1), np.take_along_axis(P, o, 1)


def batch_search(
    index: CompactIndex,
    Q: np.ndarray,
    k: int,
    ef_search: int,
    num_entry_points: int,
    layer1_ef_multiplier: int,
    max_paths: int = 1,
    max_search_nodes: int | None = None,
) -> tuple[np.ndarray, np.ndarray, dict[str, np.ndarray]]:
    """Search the (nq, d) queries ``Q`` in chunks of ≤ 64, the kernel of
    :func:`graph_search` and :func:`operators.shard.search_sharded`.

    Returns (D, P, stats): (nq, k) distances and positions of each
    query's result in (dist, id) order, P = -1 past a short result, and
    per-query int64 arrays ``visited_count``, ``hops`` (rounds that
    expanded a head, over all layers), ``latency_us`` (chunk time ÷
    chunk size) and ``path_pops`` (heads expanded: the ``max_paths``
    best unexpanded beam entries per round; equals ``hops`` at
    ``max_paths=1``)."""
    Q = np.asarray(Q, dtype=np.float64)
    nq = len(Q)
    D = np.full((nq, k), np.inf)
    P = np.full((nq, k), -1, dtype=np.int64)
    stats = {
        name: np.zeros(nq, dtype=np.int64)
        for name in ("visited_count", "hops", "latency_us", "path_pops")
    }
    for lo in range(0, nq, _CHUNK):
        t0 = time.perf_counter()
        sl = slice(lo, min(lo + _CHUNK, nq))
        d, p = _search_chunk(
            index, Q[sl], k, ef_search, num_entry_points,
            layer1_ef_multiplier, max_paths, max_search_nodes,
            {name: v[sl] for name, v in stats.items()},
        )
        w = d.shape[1]
        D[sl, :w] = d
        P[sl, :w] = np.where(p == _PAD, -1, p)
        stats["latency_us"][sl] = int(
            (time.perf_counter() - t0) * 1e6 / (sl.stop - lo)
        )
    return D, P, stats


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
        # an artifact saved without norms gets them computed at load
        arr("norms.npy") if os.path.exists(
            os.path.join(artifact_dir, "norms.npy")
        ) else None,
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
    a mapInPandas kernel (:func:`batch_search`) that searches each Arrow
    batch in lockstep chunks of ≤ 64 queries.

    Two-phase like the C++ multi-entry search (hnsw.cpp:769-815): beam on
    the top layer to pick entry seeds, then beam on layer 0. The upper-layer
    beam runs at ``layer1_ef_multiplier``×ef (the "High" method's enhanced
    layer-1 search, hnsw_cosine_status_high.py:524-734 layer1_ef=2*ef);
    ``max_search_nodes`` caps visited nodes per layer (Norm method budget);
    ``max_paths`` is the number of beam heads each query expands per
    round: its ``max_paths`` best unexpanded entries, which share one
    visited set and one beam (reference `_search_layer_multi_path`,
    hnsw_cosine_status_high.py:965-1077, uses 3; the default 1 is the
    single-path search).
    Output: (qid, nbr_rank, neighbor_id, dist) like exact_knn, ranked by
    (dist, neighbor_id); ``with_stats`` appends per-query (visited_count,
    hops, latency_us, path_pops) — the reference batch_search output dict
    (hnsw_with_bridges_optimized.py:185-237). ``latency_us`` is the
    query's chunk time divided by the chunk size.

    The beam keeps the ``ef`` smallest (dist, id) pairs it admitted: a
    neighbour enters a full beam only when strictly nearer than its worst
    entry, an entry the beam drops is never expanded, and on an exact
    distance tie the smaller id stays. On distinct distances this is the
    per-query heap beam (``oracles._np_serve``) result for result.

    ``index`` may be a ``_compact_npy`` artifact DIRECTORY instead of an
    in-memory CompactIndex: then only the path string is broadcast and
    each worker process memory-maps the artifact from shared storage
    (:func:`load_compact_npy`, per-process cached) — no driver-side
    load, no N-copies-per-box broadcast deserialization.
    """
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(index)

    def run(batches):
        idx = bc.value
        if isinstance(idx, str):
            idx = _artifact_cached(idx)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            D, P, stats = batch_search(
                idx, Q, k, ef_search, num_entry_points, layer1_ef_multiplier,
                max_paths=max_paths, max_search_nodes=max_search_nodes,
            )
            r, c = np.nonzero(P >= 0)
            out = {
                "qid": pdf["qid"].to_numpy()[r],
                "nbr_rank": c + 1,
                "neighbor_id": idx.ids[P[r, c]],
                "dist": D[r, c],
            }
            if with_stats:
                out.update({name: v[r] for name, v in stats.items()})
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
