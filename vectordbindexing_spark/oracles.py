"""DuckDB oracle SQL for the driver's t2 correctness gate.

Every generator mirrors the corresponding Spark operator *exactly*
(same formulas, same deterministic hashes, same tie-breaks, same
rounding) so order-insensitive value hashes match. See
functions.hashing for the cross-engine hash/LCG primitives.
"""

from __future__ import annotations

import functools
import glob
import os

from vectordbindexing_spark.functions.hashing import (
    DET_HASH60_SQL,
    minhash_signature_sql,
    simhash_bits_sql,
)
from vectordbindexing_spark.functions.text import WORDS_SQL, word_ngrams_sql

_TESTDATA_GLOB = os.environ.get("SPARK_GRAFT_TESTDATA_GLOB", "/root/testdata/sf*")

# Integer fingerprint telling the embeddings datasets apart AT SQL RUNTIME
# (sf0.001 and sf0.01 share ids and row count, so count(*) alone is not
# enough; the first-dimension sign count is integer arithmetic — immune to
# float summation order — and differs across the generated datasets).
EMB_DISCRIMINATOR_SQL = (
    "(SELECT count(*) * 1000000 + "
    "sum(CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) FROM embeddings)"
)


@functools.lru_cache(maxsize=None)
def _embedding_datasets() -> tuple:
    """(disc_key, ids int64[n], V float64[n,d]) per testdata scale factor.

    Data-dependent oracles (whitening's SVD, the graph-search recall pin)
    embed one literal per dataset and let ``EMB_DISCRIMINATOR_SQL`` select
    the right arm when the driver runs the SQL — the oracle string works
    unchanged at every sf.
    """
    import numpy as np
    import pyarrow.parquet as pq

    out = []
    for d in sorted(glob.glob(_TESTDATA_GLOB)):
        path = os.path.join(d, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        t = pq.read_table(path, columns=["vec_id", "embedding"])
        ids = np.asarray(t["vec_id"].to_numpy(), dtype=np.int64)
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in t["embedding"].to_numpy()]
        )
        key = len(ids) * 1_000_000 + int((V[:, 0] >= 0).sum())
        out.append((key, ids, V))
    keys = [k for k, _, _ in out]
    if len(set(keys)) != len(keys):
        raise RuntimeError(
            f"embedding dataset discriminator collision across {_TESTDATA_GLOB}: "
            f"{keys} — extend EMB_DISCRIMINATOR_SQL with more dimensions"
        )
    return tuple(out)


def _list_lit(xs) -> str:
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"

KNN_DIST_SQL = {
    "cosine": (
        "1.0 - list_inner_product(q.v, b.v) / "
        "(sqrt(list_inner_product(q.v,q.v)) * sqrt(list_inner_product(b.v,b.v)))"
    ),
    "l2": (
        "sqrt(greatest(list_inner_product(q.v,q.v) + list_inner_product(b.v,b.v) "
        "- 2*list_inner_product(q.v,b.v), 0.0))"
    ),
    "ip": "-list_inner_product(q.v, b.v)",
}


def knn_exact_sql(
    metric: str, k: int = 10, base_where: str = "vec_id % 10 <> 0"
) -> str:
    """``base_where`` narrows the base split — the filtered-ANN contract
    queries replay their allowed-set restriction by tightening it."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE {base_where}),
         d AS (SELECT q.qid, b.id, {KNN_DIST_SQL[metric]} AS dist FROM q, b),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
               FROM d)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM r WHERE rnk <= {k}
    """


def simhash_buckets_sql(num_bits: int = 16) -> str:
    return f"""
    SELECT vec_id AS id,
           {simhash_bits_sql('embedding::DOUBLE[]', num_bits)} AS bucket
    FROM embeddings
    """


def lsh_knn_sql(
    num_bits: int = 6,
    num_tables: int = 8,
    k: int = 10,
    bucket_cap: int | None = None,
) -> str:
    """Mirrors operators.lsh.lsh_knn (cosine). ``bucket_cap`` keeps the
    cap-smallest ids per bucket like simhash_buckets."""
    cap_sql = (
        ""
        if bucket_cap is None
        else f" QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id)"
        f" <= {bucket_cap}"
    )
    base_arms = "\n      UNION ALL ".join(
        f"SELECT id, v, ({simhash_bits_sql('v', num_bits, t)})"
        f" + {t * (1 << num_bits)} AS bucket FROM b{cap_sql}"
        for t in range(num_tables)
    )
    flips = ", ".join(f"xor(bkt, {1 << j})" for j in range(num_bits))
    query_arms = "\n      UNION ALL ".join(
        f"SELECT qid, unnest([bkt, {flips}]) AS bucket FROM "
        f"(SELECT qid, ({simhash_bits_sql('v', num_bits, t)})"
        f" + {t * (1 << num_bits)} AS bkt FROM q)"
        for t in range(num_tables)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         bt AS ({base_arms}),
         qt AS ({query_arms}),
         cand AS (SELECT DISTINCT qt.qid, bt.id FROM qt JOIN bt USING (bucket)),
         d AS (SELECT c.qid, c.id, {KNN_DIST_SQL['cosine']} AS dist
               FROM cand c JOIN q ON q.qid = c.qid JOIN b ON b.id = c.id),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
               FROM d)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM r WHERE rnk <= {k}
    """


def ivf_knn_sql(
    nlist: int = 16, nprobe: int = 4, k: int = 10, iters: int = 3
) -> str:
    """Mirrors operators.ivf.ivf_knn end-to-end IN SQL: the Lloyd fit is
    unrolled as ``iters`` CTE rounds (assign → per-dim mean → empty-cluster
    keep-old), init = the ``nlist`` smallest base ids, then final
    assignment, nprobe centroid probing, candidate cosine scoring, top-k.

    Valid while |base| ≤ kmeans_fit's sample_size (the Spark fit samples
    hash-ordered rows only above 100k — below that the sample is the whole
    base and the two engines see identical inputs). Assignment/probe
    tie-breaks: lowest cid, like np.argmin.
    """
    # same expansion formula as kmeans_fit/ivf_assign: ||x||² - 2x·c + ||c||²
    d2 = (
        "(list_inner_product(b.v,b.v) - 2*list_inner_product(b.v,c.cv)"
        " + list_inner_product(c.cv,c.cv))"
    )
    ctes = [
        f"""c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
               FROM b ORDER BY id LIMIT {nlist})"""
    ]
    for t in range(iters):
        ctes.append(
            f"""a{t} AS (
           SELECT id, v, cid FROM (
             SELECT b.id, b.v, c.cid,
                    row_number() OVER (PARTITION BY b.id
                                       ORDER BY {d2}, c.cid) AS rnk
             FROM b, c{t} c) WHERE rnk = 1)"""
        )
        ctes.append(
            f"""m{t} AS (
           SELECT cid, list(xm ORDER BY i) AS mv FROM (
             SELECT cid, i, avg(x) AS xm FROM (
               SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i
               FROM a{t})
             GROUP BY cid, i) GROUP BY cid)"""
        )
        ctes.append(
            f"""c{t + 1} AS (
           SELECT c.cid, coalesce(m.mv, c.cv) AS cv
           FROM c{t} c LEFT JOIN m{t} m USING (cid))"""
        )
    cte_sql = ",\n         ".join(ctes)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         {cte_sql},
         af AS (
           SELECT id, cid FROM (
             SELECT b.id, c.cid,
                    row_number() OVER (PARTITION BY b.id
                                       ORDER BY {d2}, c.cid) AS rnk
             FROM b, c{iters} c) WHERE rnk = 1),
         pr AS (
           SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      sqrt(list_sum(list_transform(q.v,
                        (x, i) -> (x - c.cv[i]) * (x - c.cv[i])))),
                      c.cid) AS rnk
             FROM q, c{iters} c) WHERE rnk <= {nprobe}),
         cand AS (SELECT pr.qid, af.id FROM pr JOIN af USING (cid)),
         d AS (SELECT cand.qid, cand.id, {KNN_DIST_SQL['cosine']} AS dist
               FROM cand JOIN q ON q.qid = cand.qid JOIN b ON b.id = cand.id),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
               FROM d)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM r WHERE rnk <= {k}
    """


def whitening_norms_sql(round_to: int = 4) -> str:
    """Mirrors the whitening_pca_norms contract query: PCA-whitened L2 norm
    per vector. The SVD itself is not SQL-expressible, but the *norm* only
    needs the pseudo-inverse covariance:  ||W(x-μ)||² = (x-μ)ᵀ Σ⁺ (x-μ)
    with Σ⁺ = U diag(1/max(sv, ε)) Uᵀ — a (d,d) matrix this generator
    computes in numpy per testdata dataset (same moments + SVD formulas as
    operators.preprocess.whitening_fit) and embeds as a literal; the
    discriminator CASE picks the dataset's arm at SQL runtime.
    """
    import numpy as np

    eps_eig = 1e-12  # preprocess.EPS_EIG
    mu_arms, a_arms = [], []
    for key, _ids, V in _embedding_datasets():
        n = len(V)
        mean = V.sum(axis=0) / n
        cov = V.T @ V / n - np.outer(mean, mean)
        U, sv, _ = np.linalg.svd(cov, hermitian=True)
        sv = np.maximum(sv, eps_eig)
        A = (U / sv) @ U.T
        mu_arms.append(f"WHEN {key} THEN {_list_lit(mean)}::DOUBLE[]")
        a_lit = "[" + ", ".join(_list_lit(row) for row in A) + "]::DOUBLE[][]"
        a_arms.append(f"WHEN {key} THEN {a_lit}")
    mu_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(mu_arms) + " END"
    a_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(a_arms) + " END"
    return f"""
    WITH p AS (SELECT {mu_case} AS mu, {a_case} AS a),
         c AS (SELECT vec_id,
                      list_transform(embedding::DOUBLE[],
                                     (x, i) -> x - p.mu[i]) AS cv,
                      p.a AS a
               FROM embeddings, p)
    SELECT vec_id,
           round(sqrt(greatest(list_sum(list_transform(cv,
                 (x, i) -> x * list_inner_product(a[i], cv))), 0.0)),
                 {round_to}) AS whitened_norm
    FROM c
    """


def _np_cosine_matrix(A, C):
    """functions.vector.dist_matrix cosine formula, one batch."""
    import numpy as np

    return 1.0 - (A @ C.T) / np.outer(
        np.linalg.norm(A, axis=1), np.linalg.norm(C, axis=1)
    )


def _np_two_layer_topk(
    bids,
    B,
    Q,
    k: int = 10,
    M0: int = 16,
    M1: int = 8,
    M_level: int = 16,
    ef_search: int = 64,
    num_entry_points: int = 3,
    layer1_ef_multiplier: int = 2,
    cross_check: bool = False,
):
    """Per-query top-k [(dist, neighbor_id), ...] — numpy twin of the
    two-layer pipeline (deterministic level assignment → layer-1/layer-0
    exact kNN graphs with (dist, id) ties → mutualize with min-dist dedup
    and 2·max(M0,M1) cap → max-degree entry points → per-query heap
    beam search, which the lockstep kernel operators.search.batch_search
    reproduces result for result on distinct distances).
    """
    import heapq
    import math

    import numpy as np

    from vectordbindexing_spark.functions.hashing import det_hash64_py

    bits = int(math.log2(M_level))
    n = len(bids)
    h = np.array([det_hash64_py(str(int(i))) for i in bids], dtype=np.int64)
    level = np.zeros(n, dtype=np.int64)
    for lv in range(1, 8):
        if 32 - bits * lv > 0:
            level += (h < 2 ** (32 - bits * lv)).astype(np.int64)

    def knn_edges(sub_ids, sub_V, kk):
        D = _np_cosine_matrix(sub_V, sub_V)
        np.fill_diagonal(D, np.inf)
        edges = []
        for i in range(len(sub_ids)):
            for j in np.lexsort((sub_ids, D[i]))[:kk]:
                if np.isfinite(D[i, j]):
                    edges.append(
                        (int(sub_ids[i]), int(sub_ids[j]), float(D[i, j]))
                    )
        return edges

    layers = {0: knn_edges(bids, B, M0)}
    um = level >= 1
    if int(um.sum()) >= 2:
        layers[1] = knn_edges(bids[um], B[um], M1)
    adj = _np_mutualize(layers, cap=2 * max(M0, M1))
    kwargs = dict(
        k=k, ef_search=ef_search, num_entry_points=num_entry_points,
        layer1_ef_multiplier=layer1_ef_multiplier,
    )
    served = _np_serve(adj, bids, B, Q, **kwargs)
    if cross_check:
        # second derivation from the published algorithm (Malkov &
        # Yashunin Alg. 2, sorted lists, written independently of the
        # heap twin above AND of operators/search.py): the pin is only
        # trusted when both agree per query
        alg2 = _np_serve_algo2(adj, bids, B, Q, **kwargs)
        for qi, (a, b2) in enumerate(zip(served, alg2)):
            if {nid for _, nid in a} != {nid for _, nid in b2}:
                raise RuntimeError(
                    f"two-layer pin cross-check diverged at query {qi}: "
                    f"heap-twin {sorted(n for _, n in a)} vs algo2 "
                    f"{sorted(n for _, n in b2)}"
                )
    return served


def _np_mutualize(layers: dict, cap: int) -> dict:
    """graph.mutualize semantics: bidirectional, min-dist per (src, dst),
    (dist, dst) sort, degree cap."""
    adj: dict = {}
    for layer, edges in layers.items():
        per: dict = {}
        for s, d, dist in edges:
            for a, bb in ((s, d), (d, s)):
                cur = per.setdefault(a, {})
                if bb not in cur or dist < cur[bb]:
                    cur[bb] = dist
        adj[layer] = {
            s: sorted((dist, dd) for dd, dist in p.items())[:cap]
            for s, p in per.items()
        }
    return adj


def _np_compact(adj: dict, bids, B, num_entry_points: int = 3):
    """(pos_ids, PVi, csr, ep_pos) — numpy twin of search.compact_index
    over a prebuilt adjacency (id-ascending positions, float32 vectors,
    max-degree entry points of the top layer)."""
    import numpy as np

    n = len(bids)
    # CSR over id-ascending positions; vectors stored float32 like
    # search.CompactIndex (testdata is float32 so the cast is exact)
    order = np.argsort(bids, kind="stable")
    pos_ids = bids[order]
    PVi = B[order].astype(np.float32)
    pos_of = {int(i): p for p, i in enumerate(pos_ids)}
    csr = {}
    for layer, per in adj.items():
        indptr = np.zeros(n + 1, dtype=np.int64)
        idx_list: list[int] = []
        for p in range(n):
            for _, d in per.get(int(pos_ids[p]), ()):
                idx_list.append(pos_of[d])
            indptr[p + 1] = len(idx_list)
        if idx_list:
            csr[layer] = (indptr, np.array(idx_list, dtype=np.int64))
    top_layer = max(adj)
    ep_ids = [
        s for _, s in sorted((-len(v), s) for s, v in adj[top_layer].items())
    ][:num_entry_points]
    ep_pos = np.array([pos_of[s] for s in ep_ids], dtype=np.int64)
    if len(ep_pos) == 0:
        # degenerate single-node/edge-free graph: CompactIndex defaults to
        # position 0 as the entry (search.compact_index / shard loader)
        ep_pos = np.array([0], dtype=np.int64)
    return pos_ids, PVi, csr, ep_pos


def _np_serve(
    adj: dict,
    bids,
    B,
    Q,
    k: int,
    ef_search: int,
    num_entry_points: int,
    layer1_ef_multiplier: int,
    max_search_nodes: int | None = None,
    stats: list | None = None,
):
    """CSR build + entry points + layered beam search per query — numpy
    twin of compact_index + graph_search over a prebuilt adjacency.
    ``max_search_nodes`` caps visited nodes per layer like graph_search's;
    ``stats``, when given, receives one (visited, hops) pair per query,
    summed over layers."""
    import heapq

    import numpy as np

    n = len(bids)
    pos_ids, PVi, csr, ep_pos = _np_compact(adj, bids, B, num_entry_points)

    def idist(q, pos):
        # CompactIndex.dist cosine formula
        Vv = PVi[pos].astype(np.float64)
        return 1.0 - (Vv @ q) / (np.linalg.norm(Vv, axis=1) * np.linalg.norm(q))

    def beam(q, layer, entries, ef, count, max_hops=500):
        indptr_a, indices_a = csr.get(layer, (None, None))
        if indptr_a is None:
            return [
                (float(d), int(p)) for d, p in zip(idist(q, entries), entries)
            ]
        visited = np.zeros(n, dtype=bool)
        entries = np.unique(entries)
        d0 = idist(q, entries)
        cand = [(float(d), int(p)) for d, p in zip(d0, entries)]
        heapq.heapify(cand)
        result = [(-d, p) for d, p in cand]
        heapq.heapify(result)
        while len(result) > ef:
            heapq.heappop(result)
        visited[entries] = True
        n_visited = len(entries)
        hops = 0
        while cand and hops < max_hops:
            if max_search_nodes is not None and n_visited >= max_search_nodes:
                break
            d, p = heapq.heappop(cand)
            worst = -result[0][0]
            if d > worst and len(result) >= ef:
                break
            hops += 1
            nbrs = indices_a[indptr_a[p] : indptr_a[p + 1]]
            nbrs = nbrs[~visited[nbrs]]
            if len(nbrs) == 0:
                continue
            visited[nbrs] = True
            n_visited += len(nbrs)
            dn = idist(q, nbrs)
            for dd, pp in zip(dn, nbrs):
                if len(result) < ef or dd < -result[0][0]:
                    heapq.heappush(cand, (float(dd), int(pp)))
                    heapq.heappush(result, (-float(dd), int(pp)))
                    if len(result) > ef:
                        heapq.heappop(result)
        count[0] += n_visited
        count[1] += hops
        return [(-d, p) for d, p in result]

    out = []
    for qi in range(len(Q)):
        q = Q[qi]
        entries = ep_pos
        count = [0, 0]
        for layer in sorted(csr, reverse=True):
            if layer == 0:
                continue
            up = beam(
                q, layer, entries, layer1_ef_multiplier * max(ef_search, k),
                count,
            )
            up.sort()
            entries = np.array(
                [p for _, p in up[:num_entry_points]], dtype=np.int64
            )
        res = beam(q, 0, entries, max(ef_search, k), count)
        res.sort(key=lambda t: (t[0], pos_ids[t[1]]))
        out.append([(float(d), int(pos_ids[p])) for d, p in res[:k]])
        if stats is not None:
            stats.append(tuple(count))
    return out


def _np_serve_algo2(
    adj: dict,
    bids,
    B,
    Q,
    k: int,
    ef_search: int,
    num_entry_points: int,
    layer1_ef_multiplier: int,
):
    """Second, independently-structured serve stage: a literal
    transcription of SEARCH-LAYER from Malkov & Yashunin, "Efficient and
    robust approximate nearest neighbor search using HNSW" (TPAMI 2018),
    Algorithm 2 — candidate set C and dynamic result list W kept as
    bisect-sorted lists, no heaps, visited as a Python set. Written from
    the paper, not from operators/search.py, so the two-layer recall pin
    is the agreement of two independent derivations rather than a replay
    of one implementation (a bug shared with the Spark kernel would have
    to be reproduced twice from different sources to self-confirm).

    Only exact-tie eviction order could differ from the heap twin (the
    paper leaves "remove furthest" ties unspecified); the generated
    Gaussian datasets have no duplicate vectors, so any divergence is a
    real bug and the caller raises on it.
    """
    import bisect

    import numpy as np

    pos_ids, PVi, csr, ep_pos = _np_compact(adj, bids, B, num_entry_points)

    def dists(q, pos_arr):
        Vv = PVi[np.asarray(pos_arr, dtype=np.int64)].astype(np.float64)
        return 1.0 - (Vv @ q) / (np.linalg.norm(Vv, axis=1) * np.linalg.norm(q))

    def search_layer(q, layer, entries, ef, max_hops=500):
        got = csr.get(layer)
        entries = np.unique(np.asarray(entries, dtype=np.int64))
        seed = sorted(
            (float(d), int(p)) for d, p in zip(dists(q, entries), entries)
        )
        if got is None:
            return seed
        indptr_a, indices_a = got
        visited = {int(p) for p in entries}
        C = list(seed)  # candidates, ascending (dist, pos)
        W = list(seed)[:ef]  # dynamic result list, ascending
        hops = 0
        while C and hops < max_hops:
            d, p = C.pop(0)  # extract nearest candidate
            if len(W) >= ef and d > W[-1][0]:
                break  # all remaining candidates are further than W's worst
            hops += 1
            for pp in indices_a[indptr_a[p] : indptr_a[p + 1]]:
                pp = int(pp)
                if pp in visited:
                    continue
                visited.add(pp)
                dd = float(dists(q, [pp])[0])
                if len(W) < ef or dd < W[-1][0]:
                    bisect.insort(C, (dd, pp))
                    bisect.insort(W, (dd, pp))
                    del W[ef:]
        return W

    out = []
    for qi in range(len(Q)):
        q = Q[qi]
        entries = ep_pos
        for layer in sorted(csr, reverse=True):
            if layer == 0:
                continue
            up = search_layer(
                q, layer, entries, layer1_ef_multiplier * max(ef_search, k)
            )
            entries = np.array(
                [p for _, p in up[:num_entry_points]], dtype=np.int64
            )
        res = search_layer(q, 0, entries, max(ef_search, k))
        res.sort(key=lambda t: (t[0], pos_ids[t[1]]))
        out.append([(float(d), int(pos_ids[p])) for d, p in res[:k]])
    return out


def _recall_pin(total_m: int, n_q: int, k: int) -> str:
    """HALF_UP round of total_m/(n_q·k) at 4dp in exact arithmetic."""
    num, den = total_m * 10**4, n_q * k
    scaled = (2 * num + den) // (2 * den)
    return f"{scaled // 10**4}.{scaled % 10**4:04d}"


@functools.lru_cache(maxsize=None)
def _two_layer_recall_pins(
    k: int = 10, M0: int = 16, M1: int = 8, ef_search: int = 64
) -> tuple:
    """(disc_key, n_queries, recall_4dp_string) per testdata dataset —
    full numpy replication (independent of the Spark runtime) of the
    ann_two_layer_recall pipeline, recall@k vs the exact kNN. The recall
    is exact at 4dp by construction (10⁴·Σ|p∩g| divisible by n_q·k for
    the generated datasets), so the pin is stable across engines."""
    import numpy as np

    out = []
    for key, ids, V in _embedding_datasets():
        qm = ids % 10 == 0
        qids, Q = ids[qm], V[qm]
        bids, B = ids[~qm], V[~qm]
        topk = _np_two_layer_topk(bids, B, Q, k=k, M0=M0, M1=M1,
                                  ef_search=ef_search, cross_check=True)
        D_exact = _np_cosine_matrix(Q, B)
        total_m = 0
        for qi in range(len(qids)):
            pred = {nid for _, nid in topk[qi]}
            exact = {int(bids[j]) for j in np.lexsort((bids, D_exact[qi]))[:k]}
            total_m += len(pred & exact)
        n_q = int(len(qids))
        out.append((key, n_q, _recall_pin(total_m, n_q, k)))
    return tuple(out)


@functools.lru_cache(maxsize=None)
def _sharded_recall_pins(
    k: int = 10,
    num_shards: int = 2,
    M0: int = 16,
    M1: int = 8,
    ef_search: int = 64,
) -> tuple:
    """(disc_key, n_queries, recall_4dp_string) per dataset for the
    sharded serving path (operators.shard): md5-hash shard assignment,
    independent per-shard two-layer build+search, global (dist, id)
    top-k merge, recall@k vs the exact kNN over the whole base."""
    import numpy as np

    from vectordbindexing_spark.functions.hashing import det_hash64_py

    out = []
    for key, ids, V in _embedding_datasets():
        qm = ids % 10 == 0
        qids, Q = ids[qm], V[qm]
        bids, B = ids[~qm], V[~qm]
        shard = np.array(
            [det_hash64_py(str(int(i))) % num_shards for i in bids]
        )
        merged = [[] for _ in range(len(qids))]
        for s in range(num_shards):
            m = shard == s
            if not m.any():
                continue
            topk = _np_two_layer_topk(bids[m], B[m], Q, k=k, M0=M0, M1=M1,
                                      ef_search=ef_search, cross_check=True)
            for qi in range(len(qids)):
                merged[qi].extend(topk[qi])
        D_exact = _np_cosine_matrix(Q, B)
        total_m = 0
        for qi in range(len(qids)):
            pred = {nid for _, nid in sorted(merged[qi])[:k]}
            exact = {int(bids[j]) for j in np.lexsort((bids, D_exact[qi]))[:k]}
            total_m += len(pred & exact)
        n_q = int(len(qids))
        out.append((key, n_q, _recall_pin(total_m, n_q, k)))
    return tuple(out)


@functools.lru_cache(maxsize=None)
def _roargraph_recall_pins(
    k: int = 10,
    k_nn: int = 50,
    n_targets: int = 10,
    M_pjbp: int = 16,
    ef_search: int = 64,
    occlude_alpha: float = 1.0,
) -> tuple:
    """(disc_key, n_queries, recall_4dp_string) per dataset for the
    RoarGraph pipeline: train-query→base exact top-k_nn, per-query
    occlusion-pruned projection edges (reference prune_candidates
    orientation: r occludes c when d(c,r) ≤ α·d(c,t)), reverse edges with
    the 2·M_pjbp cap, beam-search serve for the test queries, recall@k vs
    the exact kNN."""
    import numpy as np

    out = []
    for key, ids, V in _embedding_datasets():
        mod = ids % 10
        train_m, test_m = mod == 5, mod == 0
        base_m = ~(train_m | test_m)
        Qtr = V[train_m]
        Qte, qte_ids = V[test_m], ids[test_m]
        bids, B = ids[base_m], V[base_m]

        D_tr = _np_cosine_matrix(Qtr, B)
        edges: dict[tuple[int, int], float] = {}
        for qi in range(len(Qtr)):
            top = np.lexsort((bids, D_tr[qi]))[:k_nn]
            nb_ids = bids[top]
            Vn = B[top]
            # graph.roargraph_build prune_group: pairwise among the top-k
            nn = np.linalg.norm(Vn, axis=1)
            D2 = 1.0 - (Vn @ Vn.T) / np.outer(nn, nn)
            n_t = min(n_targets, len(nb_ids))
            for t in range(n_t):
                order = np.argsort(D2[t], kind="stable")
                picked: list[int] = []
                for c in order:
                    if c == t:
                        continue
                    if all(
                        D2[c, r] > occlude_alpha * D2[c, t] for r in picked
                    ):
                        picked.append(int(c))
                    if len(picked) >= M_pjbp:
                        break
                for c in picked:
                    pair = (int(nb_ids[t]), int(nb_ids[c]))
                    d = float(D2[t, c])
                    if pair not in edges or d < edges[pair]:
                        edges[pair] = d
        adj = _np_mutualize(
            {0: [(s, d, dist) for (s, d), dist in edges.items()]},
            cap=2 * M_pjbp,
        )
        serve_kw = dict(k=k, ef_search=ef_search, num_entry_points=3,
                        layer1_ef_multiplier=2)
        topk = _np_serve(adj, bids, B, Qte, **serve_kw)
        # independent-derivation cross-check (see _np_serve_algo2): the
        # roargraph pin shares the serve stage, so it gets the same
        # two-implementations-must-agree guarantee
        alg2 = _np_serve_algo2(adj, bids, B, Qte, **serve_kw)
        for qi, (a, b2) in enumerate(zip(topk, alg2)):
            if {nid for _, nid in a} != {nid for _, nid in b2}:
                raise RuntimeError(
                    f"roargraph pin cross-check diverged at query {qi}"
                )
        D_te = _np_cosine_matrix(Qte, B)
        total_m = 0
        for qi in range(len(qte_ids)):
            pred = {nid for _, nid in topk[qi]}
            exact = {int(bids[j]) for j in np.lexsort((bids, D_te[qi]))[:k]}
            total_m += len(pred & exact)
        n_q = int(len(qte_ids))
        out.append((key, n_q, _recall_pin(total_m, n_q, k)))
    return tuple(out)


def roargraph_recall_sql() -> str:
    """Pinned-literal oracle for roargraph_recall (see
    :func:`_roargraph_recall_pins`)."""
    pins = _roargraph_recall_pins()
    nq_arms = " ".join(f"WHEN {key} THEN {nq}" for key, nq, _ in pins)
    rc_arms = " ".join(f"WHEN {key} THEN {rc}" for key, _, rc in pins)
    return f"""
    SELECT (CASE {EMB_DISCRIMINATOR_SQL} {nq_arms} END)::BIGINT AS n_queries,
           (CASE {EMB_DISCRIMINATOR_SQL} {rc_arms} END)::DOUBLE AS recall_at_10
    """


def _np_traced_algo2(q, PVi, indptr, indices, ep_pos, target_pos, max_hops):
    """Second, independently-structured greedy trace — written from the
    documented contract of evaluate.traced_search (greedy best-first
    expansion of the nearest pending node, ties → lowest position; one
    step per expansion; top1 counted on strict improvement of the expanded
    node's distance; stop on expanding the target, empty pool, or
    max_hops; the trace records the entry points then every newly
    discovered neighbor in adjacency order), NOT from its implementation.
    Pool is a bisect-sorted list and visited a Python set (the heap twin
    uses heapq + a bool array), so a convention-level bug in the trace
    bookkeeping would have to be reproduced twice from different sources
    to self-confirm. Returns (steps, found, trace_len, top1_changes)."""
    import bisect

    import numpy as np

    def dist_of(pos_arr):
        Vv = PVi[np.asarray(pos_arr, dtype=np.int64)].astype(np.float64)
        return 1.0 - (Vv @ q) / (
            np.linalg.norm(Vv, axis=1) * np.linalg.norm(q)
        )

    pending = sorted(
        (float(d), int(p)) for d, p in zip(dist_of(ep_pos), ep_pos)
    )
    visited = {int(p) for p in ep_pos}
    trace_len = len(ep_pos)
    steps, top1 = 0, 0
    found = False
    best = float("inf")
    while pending and steps < max_hops:
        d, p = pending.pop(0)
        steps += 1
        if d < best:
            best = d
            top1 += 1
        if p == target_pos:
            found = True
            break
        for pp in indices[indptr[p] : indptr[p + 1]]:
            pp = int(pp)
            if pp in visited:
                continue
            visited.add(pp)
            dd = float(dist_of([pp])[0])
            bisect.insort(pending, (dd, pp))
            trace_len += 1
    return steps, found, trace_len, top1


@functools.lru_cache(maxsize=None)
def _traced_steps_pins(
    M0: int = 16, M1: int = 8, max_hops: int = 2000
) -> tuple:
    """Per-dataset integer aggregates of the greedy traced search
    (evaluate.traced_search) over the two-layer index, target = each
    query's exact nearest neighbor: (disc_key, n_queries, sum_steps,
    max_steps, n_found, sum_trace_len, sum_top1_changes). All-integer
    outputs — no float rounding in the pin at all."""
    import heapq
    import math

    import numpy as np

    from vectordbindexing_spark.functions.hashing import det_hash64_py

    out = []
    for key, ids, V in _embedding_datasets():
        qm = ids % 10 == 0
        qids, Q = ids[qm], V[qm]
        bids, B = ids[~qm], V[~qm]
        n = len(bids)
        # two-layer adjacency (same build as _np_two_layer_topk)
        bits = int(math.log2(16))
        h = np.array([det_hash64_py(str(int(i))) for i in bids], dtype=np.int64)
        level = np.zeros(n, dtype=np.int64)
        for lv in range(1, 8):
            if 32 - bits * lv > 0:
                level += (h < 2 ** (32 - bits * lv)).astype(np.int64)

        def knn_edges(sub_ids, sub_V, kk):
            D = _np_cosine_matrix(sub_V, sub_V)
            np.fill_diagonal(D, np.inf)
            edges = []
            for i in range(len(sub_ids)):
                for j in np.lexsort((sub_ids, D[i]))[:kk]:
                    if np.isfinite(D[i, j]):
                        edges.append(
                            (int(sub_ids[i]), int(sub_ids[j]), float(D[i, j]))
                        )
            return edges

        layers = {0: knn_edges(bids, B, M0)}
        um = level >= 1
        if int(um.sum()) >= 2:
            layers[1] = knn_edges(bids[um], B[um], M1)
        adj = _np_mutualize(layers, cap=2 * max(M0, M1))
        pos_ids, PVi, csr, ep_pos = _np_compact(adj, bids, B)
        pos_of = {int(i): p for p, i in enumerate(pos_ids)}
        indptr, indices = csr[0]

        def idist(q, pos):
            Vv = PVi[pos].astype(np.float64)
            return 1.0 - (Vv @ q) / (
                np.linalg.norm(Vv, axis=1) * np.linalg.norm(q)
            )

        D_exact = _np_cosine_matrix(Q, B)
        sum_steps = max_steps = n_found = sum_trace = sum_top1 = 0
        for qi in range(len(qids)):
            qv = Q[qi]
            # target = exact nearest neighbor (rank 1)
            tgt = int(bids[np.lexsort((bids, D_exact[qi]))[0]])
            target_pos = pos_of.get(tgt, -1)
            visited = np.zeros(n, dtype=bool)
            entries = ep_pos
            d0 = idist(qv, entries)
            cand = [(float(d), int(p)) for d, p in zip(d0, entries)]
            heapq.heapify(cand)
            visited[entries] = True
            steps = 0
            found = False
            best = float("inf")
            top1 = 0
            order = list(np.asarray(entries))
            while cand and steps < max_hops:
                d, p = heapq.heappop(cand)
                steps += 1
                if d < best:
                    best = d
                    top1 += 1
                if p == target_pos:
                    found = True
                    break
                nbrs = indices[indptr[p] : indptr[p + 1]]
                nbrs = nbrs[~visited[nbrs]]
                if len(nbrs) == 0:
                    continue
                visited[nbrs] = True
                for dd, pp in zip(idist(qv, nbrs), nbrs):
                    heapq.heappush(cand, (float(dd), int(pp)))
                order.extend(int(x) for x in nbrs)
            # independent-derivation cross-check (see _np_traced_algo2):
            # the bisect/set transcription of the trace contract must agree
            # per-query with the heap/bool-array derivation above
            alg2 = _np_traced_algo2(
                qv, PVi, indptr, indices, ep_pos, target_pos, max_hops
            )
            if alg2 != (steps, found, len(order), top1):
                raise RuntimeError(
                    f"traced-steps pin derivations diverged for {key} "
                    f"qid={int(qids[qi])}: heap={(steps, found, len(order), top1)} "
                    f"algo2={alg2}"
                )
            sum_steps += steps
            max_steps = max(max_steps, steps)
            n_found += int(found)
            sum_trace += len(order)
            sum_top1 += top1
        out.append(
            (key, int(len(qids)), sum_steps, max_steps, n_found,
             sum_trace, sum_top1)
        )
    return tuple(out)


def traced_steps_sql() -> str:
    """Pinned-literal oracle for traced_steps_summary (see
    :func:`_traced_steps_pins`) — all-integer, no float rounding."""
    pins = _traced_steps_pins()
    cols = (
        "n_queries", "sum_steps", "max_steps", "n_found",
        "sum_trace_len", "sum_top1_changes",
    )
    arms = []
    for ci, col in enumerate(cols, start=1):
        case = " ".join(f"WHEN {p[0]} THEN {p[ci]}" for p in pins)
        arms.append(
            f"(CASE {EMB_DISCRIMINATOR_SQL} {case} END)::BIGINT AS {col}"
        )
    return "SELECT " + ",\n       ".join(arms)


def ann_sharded_recall_sql() -> str:
    """Pinned-literal oracle for ann_sharded_recall (see
    :func:`_sharded_recall_pins`)."""
    pins = _sharded_recall_pins()
    nq_arms = " ".join(f"WHEN {key} THEN {nq}" for key, nq, _ in pins)
    rc_arms = " ".join(f"WHEN {key} THEN {rc}" for key, _, rc in pins)
    return f"""
    SELECT (CASE {EMB_DISCRIMINATOR_SQL} {nq_arms} END)::BIGINT AS n_queries,
           (CASE {EMB_DISCRIMINATOR_SQL} {rc_arms} END)::DOUBLE AS recall_at_10
    """


@functools.lru_cache(maxsize=None)
def _bucketed_recall_pins(
    k: int = 10, M0: int = 16, M1: int = 8, ef_search: int = 64
) -> tuple:
    """(disc_key, n_queries, recall_4dp_string) per dataset for the r07
    SCALE build pipeline: salt-bounded bucketed kNN layer 0
    (graph._knn_graph_bucketed — occupancy-scaled SimHash buckets,
    hash-salted groups, in-group exact top-k, min-dist cross-table
    merge), exact blocked layer 1 (the tiny upper layer stays under the
    blocked probe) + 3 random-matching long links, mutualize, compact
    serve. Group membership and every kernel expression are replicated
    with the SAME shared functions the Spark kernels call
    (simhash_bits_np, dist_matrix, batch_topk_by_dist_id), so dists
    are bit-identical; the serve twin is cross-checked against the
    independent Algorithm-2 implementation like the two-layer pin."""
    import math

    import numpy as np

    from vectordbindexing_spark.functions.hashing import (
        det_hash64_py,
        simhash_bits_np,
    )
    from vectordbindexing_spark.operators.lsh import scaled_num_bits
    from vectordbindexing_spark.functions.vector import dist_matrix
    from vectordbindexing_spark.operators.topk import batch_topk_by_dist_id

    GROUP_CAP, TABLES, MATCH_ROUNDS = 4096, 4, 3
    out = []
    for key, ids, V in _embedding_datasets():
        qm = ids % 10 == 0
        qids, Q = ids[qm], V[qm]
        bids, B = ids[~qm], V[~qm]
        n = len(bids)
        # levels: assign_levels twin, M_level=16
        h = np.array([det_hash64_py(str(int(i))) for i in bids], np.int64)
        level = np.zeros(n, np.int64)
        for lv in range(1, 8):
            if 32 - 4 * lv > 0:
                level += (h < 2 ** (32 - 4 * lv)).astype(np.int64)
        um = level >= 1

        # ---- layer 0: bucketed in-kernel build twin
        nb = scaled_num_bits(n, target_bucket=GROUP_CAP // 2)
        pair_min: dict = {}
        for t in range(TABLES):
            buckets = simhash_bits_np(B, nb, t) + t * (1 << nb)
            uq, cnt = np.unique(buckets, return_counts=True)
            nsalt = {
                int(u): int(math.ceil(c / GROUP_CAP))
                for u, c in zip(uq, cnt)
                if c > GROUP_CAP
            }
            groups: dict = {}
            for i in range(n):
                bkt = int(buckets[i])
                s = nsalt.get(bkt)
                salt = (
                    det_hash64_py(f"{int(bids[i])}:{bkt}") % s if s else 0
                )
                groups.setdefault((bkt, salt), []).append(i)
            for mem in groups.values():
                if len(mem) < 2:
                    continue
                mi = np.array(mem)
                gids = bids[mi]
                order = np.argsort(gids, kind="stable")
                gids, GV = gids[order], B[mi][order]
                m = len(gids)
                D = dist_matrix(GV, GV, "cosine")
                np.fill_diagonal(D, np.inf)
                nbr, dv = batch_topk_by_dist_id(D, gids, min(M0, m - 1))
                for r in range(m):
                    src = int(gids[r])
                    fin = np.isfinite(dv[r])
                    for nid, dd in zip(nbr[r][fin], dv[r][fin]):
                        pk = (src, int(nid))
                        if pk not in pair_min or dd < pair_min[pk]:
                            pair_min[pk] = float(dd)
        per_src: dict = {}
        for (s, d2), dd in pair_min.items():
            per_src.setdefault(s, []).append((dd, d2))
        l0 = [
            (s, d2, dd)
            for s, lst in per_src.items()
            for dd, d2 in sorted(lst)[:M0]
        ]

        # ---- layer 1: exact kNN (blocked twin) + random matchings
        uids, UV = bids[um], B[um]
        l1 = []
        if len(uids) >= 2:
            D1 = _np_cosine_matrix(UV, UV)
            np.fill_diagonal(D1, np.inf)
            for i in range(len(uids)):
                for j in np.lexsort((uids, D1[i]))[:M1]:
                    if np.isfinite(D1[i, j]):
                        l1.append(
                            (int(uids[i]), int(uids[j]), float(D1[i, j]))
                        )
        n1 = len(uids)
        if n1 >= 4:
            gcount = max(2, n1 // 2)
            seen: set = set()
            pair_rows = []
            for j in range(MATCH_ROUNDS):
                gk = np.array(
                    [det_hash64_py(f"{j}:{int(i)}") % gcount for i in uids]
                )
                hh = np.array([det_hash64_py(f"{j}#{int(i)}") for i in uids])
                gd: dict = {}
                for p in range(n1):
                    gd.setdefault(int(gk[p]), []).append(p)
                for mem in gd.values():
                    mem = sorted(mem, key=lambda p: (hh[p], uids[p]))
                    for a, b2 in zip(mem, mem[1:]):
                        sd = (int(uids[a]), int(uids[b2]))
                        if sd[0] != sd[1] and sd not in seen:
                            seen.add(sd)
                            pair_rows.append((a, b2))
            if pair_rows:
                A = UV[[a for a, _ in pair_rows]]
                Bm = UV[[b2 for _, b2 in pair_rows]]
                d = np.einsum("ij,ij->i", A, Bm)
                d = 1.0 - d / (
                    np.linalg.norm(A, axis=1) * np.linalg.norm(Bm, axis=1)
                )
                for (a, b2), dd in zip(pair_rows, d):
                    l1.append((int(uids[a]), int(uids[b2]), float(dd)))

        layers = {0: l0}
        if l1:
            layers[1] = l1
        adj = _np_mutualize(layers, cap=2 * max(M0, M1))
        kwargs = dict(
            k=k, ef_search=ef_search, num_entry_points=3,
            layer1_ef_multiplier=2,
        )
        served = _np_serve(adj, bids, B, Q, **kwargs)
        alg2 = _np_serve_algo2(adj, bids, B, Q, **kwargs)
        for qi, (a, b2) in enumerate(zip(served, alg2)):
            if {nid for _, nid in a} != {nid for _, nid in b2}:
                raise RuntimeError(
                    f"bucketed pin cross-check diverged at query {qi}"
                )
        D_exact = _np_cosine_matrix(Q, B)
        total_m = 0
        for qi in range(len(qids)):
            pred = {nid for _, nid in served[qi]}
            exact = {
                int(bids[j]) for j in np.lexsort((bids, D_exact[qi]))[:k]
            }
            total_m += len(pred & exact)
        out.append((key, int(len(qids)), _recall_pin(total_m, len(qids), k)))
    return tuple(out)


def ann_bucketed_recall_sql() -> str:
    """Pinned-literal oracle for ann_bucketed_recall (r07 scale-build
    pipeline) — numpy replication selected by the embeddings
    discriminator, like ann_two_layer_recall_sql."""
    pins = _bucketed_recall_pins()
    nq_arms = " ".join(f"WHEN {key} THEN {nq}" for key, nq, _ in pins)
    rc_arms = " ".join(f"WHEN {key} THEN {rc}" for key, _, rc in pins)
    return f"""
    SELECT (CASE {EMB_DISCRIMINATOR_SQL} {nq_arms} END)::BIGINT AS n_queries,
           (CASE {EMB_DISCRIMINATOR_SQL} {rc_arms} END)::DOUBLE AS recall_at_10
    """


def ann_two_layer_recall_sql() -> str:
    """Pinned-literal oracle for ann_two_layer_recall: the deterministic
    build+search is replicated in numpy (``_two_layer_recall_pins``) and
    the resulting scalar is embedded per dataset, selected at SQL runtime
    by the embeddings discriminator."""
    pins = _two_layer_recall_pins()
    nq_arms = " ".join(f"WHEN {key} THEN {nq}" for key, nq, _ in pins)
    rc_arms = " ".join(f"WHEN {key} THEN {rc}" for key, _, rc in pins)
    return f"""
    SELECT (CASE {EMB_DISCRIMINATOR_SQL} {nq_arms} END)::BIGINT AS n_queries,
           (CASE {EMB_DISCRIMINATOR_SQL} {rc_arms} END)::DOUBLE AS recall_at_10
    """


def hnsw_levels_sql(M: int = 16) -> str:
    import math

    bits = int(math.log2(M))
    h = "(('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT)"
    terms = " + ".join(
        f"(CASE WHEN {h} < {2 ** (32 - bits * l)} THEN 1 ELSE 0 END)"
        for l in range(1, 8)
        if 32 - bits * l > 0
    )
    return f"SELECT vec_id AS id, ({terms}) AS level FROM embeddings"


def _knn_graph_ctes(M: int, cap: int, n_entries: int) -> list[str]:
    """Shared CTE prefix: exact kNN graph over the base split b(id, v) →
    mutualize (min-dist dedup + degree cap) → max-degree entry points.
    Used by frontier_knn_sql and khop_reachability_sql."""
    cos = KNN_DIST_SQL["cosine"]
    return [
        f"""d0 AS (SELECT a.id AS src, c.id AS dst,
                      {cos.replace('q.v', 'a.v').replace('b.v', 'c.v')} AS dist
               FROM b a, b c WHERE a.id <> c.id)""",
        f"""knn AS (SELECT src, dst, dist FROM (
              SELECT src, dst, dist,
                     row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
              FROM d0) WHERE rnk <= {M})""",
        """uniq AS (SELECT src, dst, min(dist) AS dist FROM (
              SELECT src, dst, dist FROM knn
              UNION ALL SELECT dst AS src, src AS dst, dist FROM knn)
            GROUP BY src, dst)""",
        f"""edges AS (SELECT src, dst FROM (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
              FROM uniq) WHERE rnk <= {cap})""",
        f"""eps AS (SELECT src AS id FROM
              (SELECT src, count(*) AS degree FROM edges GROUP BY src)
            ORDER BY degree DESC, src LIMIT {n_entries})""",
    ]


def khop_reachability_sql(
    M: int = 16, cap: int = 32, n_entries: int = 3, max_hops: int = 3
) -> str:
    """Mirrors graph.khop_reachability over mutualize(knn_graph(b, M), cap)
    from the top-``n_entries`` entry points: BFS as a bounded recursive
    CTE, min hop count per (root, node) — all-integer output."""
    ctes = ",\n         ".join(_knn_graph_ctes(M, cap, n_entries))
    return f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         {ctes},
         reach(root, node, h) AS (
             SELECT id, id, 0 FROM eps
             UNION
             SELECT r.root, ed.dst, r.h + 1
             FROM reach r JOIN edges ed ON ed.src = r.node
             WHERE r.h < {max_hops})
    SELECT root::BIGINT AS root, node::BIGINT AS node,
           min(h)::BIGINT AS hops
    FROM reach GROUP BY root, node
    """


def frontier_knn_sql(
    k: int = 10,
    rounds: int = 3,
    beam: int = 32,
    M: int = 16,
    cap: int = 32,
    n_entries: int = 3,
) -> str:
    """Fully-SQL oracle for the DISTRIBUTED graph search: the kNN graph
    build (exact top-M, mutualize with min-dist dedup + degree cap) AND
    every frontier round (expand best ⨝ edges → visited anti-join →
    score → re-beam) are unrolled as DuckDB CTEs — row-level checking for
    the iterative path, no pinned literals. Mirrors
    search.frontier_search over mutualize(knn_graph(base, M), cap)."""
    cos = KNN_DIST_SQL["cosine"]
    ctes = [
        *_knn_graph_ctes(M, cap, n_entries),
        f"""s0 AS (SELECT q.qid, b.id AS nbr, {cos} AS dist
              FROM q, eps JOIN b ON b.id = eps.id)""",
        f"""best0 AS (SELECT qid, nbr, dist FROM (
              SELECT qid, nbr, dist,
                     row_number() OVER (PARTITION BY qid ORDER BY dist, nbr) AS rnk
              FROM s0) WHERE rnk <= {beam})""",
        "vis0 AS (SELECT qid, nbr FROM best0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""ex{r} AS (SELECT DISTINCT t.qid, e.dst AS nbr
               FROM best{p} t JOIN edges e ON e.src = t.nbr
               WHERE NOT EXISTS (SELECT 1 FROM vis{p} v
                                 WHERE v.qid = t.qid AND v.nbr = e.dst))"""
        )
        ctes.append(
            f"""ns{r} AS (SELECT x.qid, x.nbr, {cos} AS dist
               FROM ex{r} x JOIN q ON q.qid = x.qid JOIN b ON b.id = x.nbr)"""
        )
        ctes.append(
            f"""best{r} AS (SELECT qid, nbr, dist FROM (
               SELECT qid, nbr, dist,
                      row_number() OVER (PARTITION BY qid ORDER BY dist, nbr) AS rnk
               FROM (SELECT * FROM best{p} UNION ALL SELECT * FROM ns{r}))
             WHERE rnk <= {beam})"""
        )
        ctes.append(
            f"""vis{r} AS (SELECT qid, nbr FROM vis{p}
               UNION SELECT qid, nbr FROM ex{r})"""
        )
    cte_sql = ",\n         ".join(ctes)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         {cte_sql}
    SELECT qid, rnk AS nbr_rank, nbr AS neighbor_id, round(dist, 6) AS dist
    FROM (SELECT qid, nbr, dist,
                 row_number() OVER (PARTITION BY qid ORDER BY dist, nbr) AS rnk
          FROM best{rounds}) WHERE rnk <= {k}
    """


def graph_upsert_pipeline_sql(
    M0: int = 8, M1: int = 4, M_level: int = 16
) -> str:
    """Fully-SQL oracle for the streaming graph-upsert pipeline: the
    entry query runs init(base) → incremental upsert(inserts + negated
    updates) → refresh-triggered REBUILD(second batch), and after a
    rebuild the artifact is EXACTLY ``build_two_layer_index`` of the
    union corpus (the upsert≡rebuild anchor, pinned in
    tests/test_streaming_graph_ingest.py). The oracle therefore replays
    the deterministic two-layer build — md5 level assignment, per-layer
    exact kNN with (dist, dst) ties, mutualize with min-dist dedup and
    2·max(M0, M1) cap — over the unioned input with batch-wins update
    semantics, as plain CTEs: row-level checking, no pinned literals.
    Integer-only output (layer, src, dst), so no float-hash exposure.
    Sensitive to a silently dropped incremental batch too: the rebuild
    unions the STORED state, so missing batch-1 rows change the edge
    set."""
    from vectordbindexing_spark.operators.graph import assign_levels_sql

    cos = (
        KNN_DIST_SQL["cosine"]
        .replace("q.v", "a.v")
        .replace("b.v", "c.v")
    )
    cap = 2 * max(M0, M1)
    lv = assign_levels_sql("b", "id, v", "id", M=M_level)
    return f"""
    WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         sli AS (SELECT id, v FROM e WHERE id < 160),
         updids AS (SELECT id FROM sli WHERE id % 8 <> 0 AND id % 17 = 1),
         b AS (
           SELECT s.id,
                  CASE WHEN u.id IS NULL THEN s.v
                       ELSE list_transform(s.v, x -> -x) END AS v
           FROM sli s LEFT JOIN updids u USING (id)
           UNION ALL
           SELECT id, v FROM e WHERE id >= 160 AND id < 200),
         lv AS {lv},
         up AS (SELECT id, v FROM lv WHERE level >= 1),
         d0 AS (SELECT a.id AS src, c.id AS dst, {cos} AS dist
                FROM b a, b c WHERE a.id <> c.id),
         k0 AS (SELECT src, dst, dist FROM (
                  SELECT src, dst, dist, row_number() OVER (
                    PARTITION BY src ORDER BY dist, dst) AS rnk
                  FROM d0) WHERE rnk <= {M0}),
         d1 AS (SELECT a.id AS src, c.id AS dst, {cos} AS dist
                FROM up a, up c WHERE a.id <> c.id),
         k1 AS (SELECT src, dst, dist FROM (
                  SELECT src, dst, dist, row_number() OVER (
                    PARTITION BY src ORDER BY dist, dst) AS rnk
                  FROM d1) WHERE rnk <= {M1}),
         alle AS (SELECT 0 AS layer, src, dst, dist FROM k0
                  UNION ALL SELECT 1, src, dst, dist FROM k1),
         bidir AS (SELECT layer, src, dst, dist FROM alle
                   UNION ALL SELECT layer, dst AS src, src AS dst, dist
                   FROM alle),
         uniq AS (SELECT layer, src, dst, min(dist) AS dist FROM bidir
                  GROUP BY layer, src, dst)
    SELECT layer::INTEGER AS layer, src::BIGINT AS src, dst::BIGINT AS dst
    FROM (SELECT layer, src, dst, row_number() OVER (
            PARTITION BY layer, src ORDER BY dist, dst) AS rnk
          FROM uniq) WHERE rnk <= {cap}
    """


def augment_star_sql(k: int = 8, budget: int = 4) -> str:
    """Mirrors augment.augment_from_query_topk(strategy='star'): per-query
    exact top-k, pivot = rank-1, bidirectional pivot↔rest edges with the
    pairwise cosine distance, cross-query dedup per (src, dst), per-node
    budget as a (dist, dst) rank window."""
    cos = KNN_DIST_SQL["cosine"]
    pair_cos = cos.replace("q.v", "p.pv").replace("b.v", "o.ov")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         r AS (SELECT qid, id, rnk FROM (
                 SELECT q.qid, b.id, {cos} AS dist,
                        row_number() OVER (PARTITION BY q.qid
                                           ORDER BY {cos}, b.id) AS rnk
                 FROM q, b) WHERE rnk <= {k}),
         rv AS (SELECT r.qid, r.id, r.rnk, b.v FROM r JOIN b USING (id)),
         p AS (SELECT qid, id AS pid, v AS pv FROM rv WHERE rnk = 1),
         o AS (SELECT qid, id AS oid, v AS ov FROM rv WHERE rnk > 1),
         pairs AS (
           SELECT p.pid AS src, o.oid AS dst, {pair_cos} AS dist
           FROM p JOIN o USING (qid)
           UNION ALL
           SELECT o.oid AS src, p.pid AS dst, {pair_cos} AS dist
           FROM p JOIN o USING (qid)),
         ded AS (SELECT src, dst, min(dist) AS dist
                 FROM pairs GROUP BY src, dst),
         budg AS (SELECT src, dst, dist FROM (
                    SELECT src, dst, dist,
                           row_number() OVER (PARTITION BY src
                                              ORDER BY dist, dst) AS rnk
                    FROM ded) WHERE rnk <= {budget})
    SELECT 0 AS layer, src, dst, round(dist, 6) AS dist,
           'cross_distribution' AS edge_type
    FROM budg
    """


def knn_graph_degree_stats_sql(k: int = 10, max_degree: int = 16) -> str:
    """Mirrors knn_graph(k) → mutualize(max_degree) → degree_stats on the
    full embeddings table (cosine)."""
    return f"""
    WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         d AS (SELECT q.id AS src, b.id AS dst,
                      {KNN_DIST_SQL['cosine'].replace('q.v', 'q.v').replace('b.v', 'b.v')} AS dist
               FROM e q, e b WHERE q.id <> b.id),
         knn AS (SELECT src, dst, dist,
                        row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
                 FROM d),
         g AS (SELECT src, dst, dist FROM knn WHERE rnk <= {k}),
         sym AS (SELECT DISTINCT src, dst, dist FROM
                   (SELECT src, dst, dist FROM g
                    UNION ALL SELECT dst AS src, src AS dst, dist FROM g)),
         capped AS (SELECT src, dst FROM
                      (SELECT src, dst,
                              row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rnk
                       FROM sym) WHERE rnk <= {max_degree}),
         deg AS (SELECT src, count(*) AS degree FROM capped GROUP BY src)
    SELECT 0 AS layer,
           count(*)::BIGINT AS n_nodes,
           sum(degree)::BIGINT AS n_edges,
           round(avg(degree), 4) AS avg_degree,
           max(degree)::BIGINT AS max_degree,
           min(degree)::BIGINT AS min_degree
    FROM deg
    """


def minhash_neardup_sql(
    n: int = 3, num_hashes: int = 16, bands: int = 8,
    threshold: float = 0.5, hashed_grams: bool = False,
) -> str:
    """``hashed_grams`` replays the streaming maintainer's persisted
    layout: the exact-Jaccard verify runs over SORTED distinct
    det_hash60 gram hashes (what the artifact stores) instead of the
    raw n-gram strings — identical arithmetic to
    operators.dedup.grams_to_ghash, so the parity is over the very
    representation the engine persists."""
    from vectordbindexing_spark.functions.hashing import DET_HASH60_SQL

    rows_per_band = num_hashes // bands
    grams = word_ngrams_sql("text", n)
    sig = minhash_signature_sql("grams", num_hashes)
    if hashed_grams:
        gram_set = (
            "list_sort(list_distinct(list_transform(grams, g -> "
            + DET_HASH60_SQL.format(s="g")
            + ")))"
        )
    else:
        gram_set = "grams"
    return f"""
    WITH g AS (SELECT doc_id AS did, list_distinct({grams}) AS grams
               FROM documents),
         s AS (SELECT did, {gram_set} AS gset, {sig} AS sig FROM g),
         banded AS (
           SELECT did, gset, band_idx,
                  array_to_string(list_transform(
                      list_slice(sig, band_idx*{rows_per_band} + 1,
                                 band_idx*{rows_per_band} + {rows_per_band}),
                      x -> x::VARCHAR), '_') AS band_key
           FROM s, unnest(range(0, {bands})) AS t(band_idx)),
         cand AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b,
                         a.gset AS ga, b.gset AS gb
                  FROM banded a JOIN banded b
                    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.did < b.did),
         j AS (SELECT id_a, id_b,
                      round(len(list_intersect(ga, gb))::DOUBLE /
                        (len(ga) + len(gb) - len(list_intersect(ga, gb))), 6)
                        AS jaccard
               FROM cand)
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold}
    """


def neardup_upsert_pipeline_sql(
    n: int = 3, num_hashes: int = 16, bands: int = 8, threshold: float = 0.5
) -> str:
    """Oracle for the streaming near-dup maintainer contract
    (streaming/neardup.py): the union of all micro-batches' detected
    pairs equals the batch operator over the FINAL corpus restricted
    to pairs touching ≥1 upserted doc — here the upserted set is
    doc_id % 4 == 0 (the two batches b1 = %8==0, b2 = %8==4). The
    verify replays the maintainer's PERSISTED representation
    (det_hash60 gram-hash sets), not the raw strings."""
    inner = minhash_neardup_sql(
        n, num_hashes, bands, threshold, hashed_grams=True
    )
    return f"""
    SELECT id_a, id_b, jaccard FROM ({inner})
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
    """


def jaccard_pairs_sql(n: int = 3, threshold: float = 0.2) -> str:
    grams = word_ngrams_sql("text", n)
    return f"""
    WITH g AS (SELECT doc_id AS did, list_distinct({grams}) AS grams
               FROM documents),
         p AS (SELECT a.did AS id_a, b.did AS id_b,
                      round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                        (len(a.grams) + len(b.grams)
                         - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
               FROM g a, g b WHERE a.did < b.did)
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= {threshold}
    """


def embedding_neardup_sql(threshold: float = 0.4) -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      round(list_inner_product(a.v, b.v) /
                        (sqrt(list_inner_product(a.v, a.v))
                         * sqrt(list_inner_product(b.v, b.v))), 6) AS cos_sim
               FROM e a, e b WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= {threshold}
    """


def embedding_neardup_lsh_sql(
    threshold: float = 0.4, num_bits: int = 8, num_tables: int = 8
) -> str:
    """Mirrors dedup.embedding_neardup_lsh (bucket equi-join candidates +
    exact cosine verify; same LCG plane family as the Spark kernel)."""
    arms = "\n      UNION ALL ".join(
        f"SELECT vec_id AS id, ({simhash_bits_sql('v', num_bits, t)})"
        f" + {t * (1 << num_bits)} AS bucket FROM e"
        for t in range(num_tables)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         bt AS ({arms}),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM bt a JOIN bt b USING (bucket) WHERE a.id < b.id),
         p AS (SELECT id_a, id_b,
                      round(list_inner_product(a.v, b.v) /
                        (sqrt(list_inner_product(a.v, a.v))
                         * sqrt(list_inner_product(b.v, b.v))), 6) AS cos_sim
               FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b)
    SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= {threshold}
    """


def simhash_text_fp_sql(num_bits: int = 32) -> str:
    """Mirrors dedup.simhash_text_fingerprints (token-frequency SimHash)."""
    toks = WORDS_SQL.format(t="text")
    h = "(('0x' || substr(md5(t), 1, 8))::BIGINT)"
    return f"""
    WITH d AS (SELECT doc_id AS did, {toks} AS toks FROM documents)
    SELECT did,
           list_sum(list_transform(range(0, {num_bits}), j ->
             CASE WHEN coalesce(list_sum(list_transform(toks, t ->
                         (({h} >> j) & 1) * 2 - 1)), 0) >= 0
                  THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS fingerprint
    FROM d
    """


def simhash_text_neardup_sql(
    num_bits: int = 32, max_hamming: int = 3, bands: int = 4
) -> str:
    bits_per_band = num_bits // bands
    mask = (1 << bits_per_band) - 1
    fp = simhash_text_fp_sql(num_bits)
    return f"""
    WITH fp AS ({fp}),
         banded AS (
           SELECT did, fingerprint, band_idx,
                  (fingerprint >> (band_idx * {bits_per_band})) & {mask} AS band_key
           FROM fp, unnest(range(0, {bands})) AS t(band_idx)),
         cand AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b,
                         a.fingerprint AS fp_a, b.fingerprint AS fp_b
                  FROM banded a JOIN banded b
                    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.did < b.did)
    SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


def modality_stats_sql(M: int = 16) -> str:
    """Per-modality (label) count + level stats — reference modality stats
    (hnsw_cosine_norm.py:855-874) with deterministic levels."""
    levels = hnsw_levels_sql(M)
    return f"""
    WITH lv AS ({levels}),
         e AS (SELECT label, level FROM embeddings JOIN lv ON vec_id = lv.id)
    SELECT label,
           count(*) AS n_vectors,
           round(avg(level), 4) AS avg_level,
           max(level)::BIGINT AS max_level,
           min(level)::BIGINT AS min_level
    FROM e GROUP BY label
    """


TRAIN_TEST_SPLIT_SQL = """
SELECT CASE WHEN vec_id % 6 = 0 THEN 'test' ELSE 'train' END AS split,
       count(*) AS n,
       min(vec_id) AS min_id,
       max(vec_id) AS max_id
FROM embeddings GROUP BY 1
"""


def lsh_entry_num_bits() -> int:
    """The num_bits the lsh_knn contract query's "auto" sizing resolves to
    on the testdata (same scaled_num_bits formula, base = vec_id%10≠0)."""
    from vectordbindexing_spark.operators.lsh import scaled_num_bits

    bits = {
        scaled_num_bits(int((ids % 10 != 0).sum()))
        for _, ids, _ in _embedding_datasets()
    }
    if len(bits) != 1:
        raise RuntimeError(
            f"datasets resolve to different num_bits {bits}: emit "
            "per-dataset oracle arms behind EMB_DISCRIMINATOR_SQL"
        )
    return next(iter(bits))


def recall_lsh_vs_exact_sql(
    num_bits: int = 6,
    num_tables: int = 8,
    k: int = 10,
    bucket_cap: int | None = None,
) -> str:
    """Mean recall@k of the LSH KNN against the exact KNN, entirely in SQL —
    the reference's recall evaluation (roargraph_python.py:451-458) with
    both sides reproduced."""
    lsh = lsh_knn_sql(num_bits, num_tables, k, bucket_cap=bucket_cap)
    exact = knn_exact_sql("cosine", k)
    return f"""
    WITH lshr AS ({lsh}),
         exr AS ({exact}),
         lp AS (SELECT qid, list(neighbor_id) AS p FROM lshr GROUP BY qid),
         ep AS (SELECT qid, list(neighbor_id) AS g FROM exr GROUP BY qid),
         r AS (SELECT ep.qid,
                      coalesce(len(list_intersect(lp.p, ep.g)), 0)::DOUBLE / {k} AS rec
               FROM ep LEFT JOIN lp ON ep.qid = lp.qid)
    SELECT count(*) AS n_queries, round(avg(rec), 4) AS recall_at_k FROM r
    """


EVENTS_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.1), 6) AS p10,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def weighted_l2_knn_sql(k: int = 10, eps: float = 1e-6) -> str:
    """Mirrors the Idea-1023 variance-scaled L2 KNN: per-dim population
    variance over the whole table → w_k = 1/(σ²_k+ε) → Σ (q-b)²·w."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ex AS (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
         var AS (SELECT i, avg(x*x) - avg(x)*avg(x) AS variance
                 FROM ex GROUP BY i),
         w AS (SELECT list(1.0/(variance + {eps}) ORDER BY i) AS wts FROM var),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         d AS (SELECT q.qid, b.id,
                      list_sum(list_transform(q.v, (x, i) ->
                        (x - b.v[i]) * (x - b.v[i]) * w.wts[i])) AS dist
               FROM q, b, w),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
               FROM d)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 4) AS dist
    FROM r WHERE rnk <= {k}
    """


def gt_clean_sql(k: int = 10, cap: int = 250) -> str:
    knn = knn_exact_sql("cosine", k)
    return f"""
    WITH knn AS ({knn}),
         lists AS (SELECT qid,
                          list(neighbor_id ORDER BY nbr_rank) AS ids
                   FROM knn GROUP BY qid),
         c AS (SELECT qid, ids,
                      list_filter(ids, x -> x < {cap}) AS clean
               FROM lists)
    SELECT qid,
           len(ids)::BIGINT AS n_raw,
           len(clean)::BIGINT AS n_clean,
           coalesce(list_min(clean), -1)::BIGINT AS min_clean,
           coalesce(list_max(clean), -1)::BIGINT AS max_clean
    FROM c
    """


def quality_score_sql(stopwords: tuple[str, ...]) -> str:
    toks = WORDS_SQL.format(t="text")
    stop_list = "[" + ", ".join(f"'{s}'" for s in stopwords) + "]"
    return f"""
    WITH t AS (SELECT doc_id, text, {toks} AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks)::BIGINT AS n_tokens,
           round(len(list_filter(toks, x -> list_contains({stop_list}, x)))::DOUBLE
                 / len(toks), 6) AS stopword_ratio,
           round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                 / length(text), 6) AS punct_ratio,
           round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                 / length(text), 6) AS upper_ratio,
           round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS type_token_ratio,
           (len(list_filter(toks, x -> list_contains({stop_list}, x))) > 0)
               AS has_stopwords
    FROM t
    """


def lang_id_sql(markers: dict[str, tuple[str, ...]]) -> str:
    toks = WORDS_SQL.format(t="lower(text)")
    arms = "\n      UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang, "
        f"len(list_filter(toks, t -> list_contains("
        f"[{', '.join(repr(m) for m in ms)}], t)))::BIGINT AS score FROM t"
        for lang, ms in sorted(markers.items())
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
         s AS ({arms}),
         r AS (SELECT doc_id, lang, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, lang DESC) AS rnk
               FROM s)
    SELECT doc_id,
           CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
           score AS marker_hits
    FROM r WHERE rnk = 1
    """


def _np_kmeans_fit_like_spark(ids, V, k: int, max_iter: int):
    """Bit-exact numpy replication of ivf.kmeans_fit below the sample
    bound: rows visited in the operator's (md5-hash, id) sample order
    (the mean is summation-order dependent), init = k smallest ids,
    expansion-formula d², ties → lowest cid, empty clusters keep the old
    centroid, allclose(1e-12) early break."""
    import numpy as np

    from vectordbindexing_spark.functions.hashing import det_hash64_py

    h = np.array([det_hash64_py(str(int(i))) for i in ids], dtype=np.int64)
    order = np.lexsort((ids, h))
    ids_s, X = ids[order], V[order]
    C = X[np.argsort(ids_s, kind="stable")[:k]].copy()
    for _ in range(max_iter):
        d2 = (
            np.sum(X * X, axis=1)[:, None]
            - 2 * X @ C.T
            + np.sum(C * C, axis=1)[None, :]
        )
        a = np.argmin(d2, axis=1)
        newC = C.copy()
        for cid in range(len(C)):
            mask = a == cid
            if mask.any():
                newC[cid] = X[mask].mean(axis=0)
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    return C


def _np_unit_norm_seq(V):
    """Bit-exact numpy replication of functions.vector.unit_norm: the
    squared norm accumulates SEQUENTIALLY left-to-right (Spark's
    aggregate() order — numpy's pairwise-summation np.sum would round
    differently and could flip downstream k-means argmin near-ties),
    epsilon guard 1e-12, elementwise x / sqrt(n2)."""
    import math

    import numpy as np

    out = np.asarray(V, dtype=np.float64).copy()
    for r in range(len(out)):
        n2 = 0.0
        for x in out[r]:
            n2 += float(x) * float(x)
        n = math.sqrt(n2)
        if n > 1e-12:
            out[r] = out[r] / n
    return out


def ivfpq_knn_sql(
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    k: int = 10,
    iters: int = 3,
) -> str:
    """Mirrors operators.ivfpq.ivfpq_knn: coarse centroids AND PQ
    codebooks embedded as per-dataset literals (both replicating the
    Spark fits on the base split), probe/assignment via the ivf
    expansion-formula d² with lowest-cid ties, encode + ADC via the pq
    elementwise/ordered-sum conventions, candidates restricted to the
    probed cells."""
    return _ivfpq_sql(
        lambda n_q, n_b: (nlist, nprobe), m, ks, k, iters, normalize=False
    )


def planner_ivfpq_knn_sql(k: int = 10, m: int = 8, ks: int = 16,
                          iters: int = 3) -> str:
    """Mirrors plans.knn_planner.knn routed to ivfpq with
    metric='cosine' (approximate_ok + repeated_queries + memory_tight,
    exact_base_limit=0): both sides unit-normalized (sequential-sum norm
    — :func:`_np_unit_norm_seq` for the fits, list ops in SQL), nlist /
    nprobe sized per dataset by plan_knn's own formula, then the ivfpq
    replay with those parameters."""
    from vectordbindexing_spark.plans.knn_planner import plan_knn

    def sizing(n_q, n_b):
        plan = plan_knn(
            n_q, n_b, k, approximate_ok=True, repeated_queries=True,
            memory_tight=True, exact_base_limit=0,
        )
        if plan.strategy != "ivfpq":
            raise RuntimeError(f"expected ivfpq route, got {plan}")
        return plan.params["nlist"], plan.params["nprobe"]

    # the planner's cosine route rescales ADC squared-L2 to the cosine
    # scale (on unit vectors ||q-b||^2 = 2(1-cos), so x0.5) so every
    # route returns dist on the same scale
    return _ivfpq_sql(sizing, m, ks, k, iters, normalize=True,
                      dist_scale=0.5)


def ivfpq_rerank_knn_sql(
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    k: int = 10,
    iters: int = 3,
    rerank: int = 50,
) -> str:
    """Mirrors ivfpq_knn(rerank=R): the ADC replay keeps a shortlist of
    R rows per query (ties → id), then re-scores it with exact L2
    (sqrt of the ordered squared-difference sum — pair_dist_udf's
    formula) and re-ranks to top k."""
    return _ivfpq_sql(
        lambda n_q, n_b: (nlist, nprobe), m, ks, k, iters,
        normalize=False, rerank=rerank,
    )


def _ivfpq_sql(sizing, m, ks, k, iters, normalize: bool,
               rerank: int | None = None,
               dist_scale: float = 1.0) -> str:
    """Shared IVF-PQ oracle builder. ``sizing(n_q, n_b) -> (nlist,
    nprobe)`` is evaluated per dataset (nprobe becomes a CASE arm);
    ``normalize`` unit-normalizes both engines' inputs before fit and
    replay; ``rerank=R`` appends the exact-L2 shortlist re-score stage
    (operators.pq.exact_rerank's two-stage serving plan)."""
    from vectordbindexing_spark.operators.pq import pq_fit_arrays

    book_arms, cent_arms, nprobe_arms = [], [], []
    dsub = None
    for key, ids, V in _embedding_datasets():
        bmask = ids % 10 != 0
        Vd = _np_unit_norm_seq(V) if normalize else V
        nlist, nprobe = sizing(int((~bmask).sum()), int(bmask.sum()))
        books = pq_fit_arrays(ids[bmask], Vd[bmask], m, ks, iters)
        dsub = books.shape[2]
        flat = books.reshape(m * ks, dsub)
        book_arms.append(
            f"WHEN {key} THEN ["
            + ", ".join(_list_lit(row) for row in flat)
            + "]::DOUBLE[][]"
        )
        C = _np_kmeans_fit_like_spark(ids[bmask], Vd[bmask], nlist, iters)
        cent_arms.append(
            f"WHEN {key} THEN ["
            + ", ".join(_list_lit(row) for row in C)
            + "]::DOUBLE[][]"
        )
        nprobe_arms.append(f"WHEN {key} THEN {nprobe}")
    books_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(book_arms) + " END"
    cents_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(cent_arms) + " END"
    nprobe_sql = (
        f"(CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(nprobe_arms) + " END)"
    )
    if normalize:
        e_cte = """e AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 1e-12
                       THEN list_transform(
                                v0, x -> x / sqrt(list_inner_product(v0, v0)))
                       ELSE v0 END AS v
           FROM (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings)),"""
    else:
        e_cte = (
            "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        )
    pd2 = (
        "list_sum(list_transform(list_slice(v, j*{d}+1, (j+1)*{d}), "
        "(x, i) -> (x - cv[i]) * (x - cv[i])))"
    ).format(d=dsub)
    d2c = (
        "(list_inner_product(v, v) - 2*list_inner_product(v, c.cv)"
        " + list_inner_product(c.cv, c.cv))"
    )
    if rerank is None:
        rerank_ctes = ""
        final_select = (
            "SELECT qid, rnk AS nbr_rank, id AS neighbor_id, "
            f"round(dist * {dist_scale!r}, 6) AS dist"
            f"\n    FROM r WHERE rnk <= {k}"
        )
    else:
        shortlist = max(k, rerank)
        rerank_ctes = f""",
         short AS (SELECT qid, id FROM r WHERE rnk <= {shortlist}),
         rr AS (SELECT s.qid, s.id,
                       sqrt(list_sum(list_transform(
                           qv.v, (x, i) -> (x - bv.v[i]) * (x - bv.v[i])
                       ))) AS dist
                FROM short s
                JOIN q qv USING (qid)
                JOIN b bv ON bv.id = s.id),
         rfin AS (SELECT qid, id, dist,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY dist, id) AS rnk
                  FROM rr)"""
        final_select = (
            "SELECT qid, rnk AS nbr_rank, id AS neighbor_id, "
            f"round(dist, 6) AS dist\n    FROM rfin WHERE rnk <= {k}"
        )
    return f"""
    WITH {e_cte}
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         p AS (SELECT {books_case} AS books),
         cb AS (SELECT (i - 1) // {ks} AS j, (i - 1) % {ks} AS c, cv
                FROM (SELECT unnest(books) AS cv,
                             generate_subscripts(books, 1) AS i
                      FROM p)),
         cp AS (SELECT {cents_case} AS cvs),
         cents AS (SELECT (i - 1) AS cid, cv
                   FROM (SELECT unnest(cvs) AS cv,
                                generate_subscripts(cvs, 1) AS i
                         FROM cp)),
         probe AS (
           SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                                       ORDER BY {d2c}, c.cid) AS rnk
             FROM q, cents c) WHERE rnk <= {nprobe_sql}),
         assign AS (
           SELECT id, cid FROM (
             SELECT b.id, c.cid,
                    row_number() OVER (PARTITION BY b.id
                                       ORDER BY {d2c}, c.cid) AS rnk
             FROM b, cents c) WHERE rnk = 1),
         benc AS (
           SELECT id, j, c AS code FROM (
             SELECT b.id, cb.j, cb.c,
                    row_number() OVER (PARTITION BY b.id, cb.j
                                       ORDER BY {pd2}, cb.c) AS rnk
             FROM b, cb) WHERE rnk = 1),
         qtab AS (SELECT q.qid, cb.j, cb.c, {pd2} AS pdist
                  FROM q, cb),
         candpair AS (SELECT DISTINCT probe.qid, assign.id
                      FROM probe JOIN assign USING (cid)),
         adc AS (SELECT cand.qid, cand.id,
                        list_sum(list(pdist ORDER BY qtab.j)) AS dist
                 FROM candpair cand
                 JOIN benc ON benc.id = cand.id
                 JOIN qtab ON qtab.qid = cand.qid
                          AND qtab.j = benc.j AND qtab.c = benc.code
                 GROUP BY cand.qid, cand.id),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY dist, id) AS rnk
               FROM adc){rerank_ctes}
    {final_select}
    """


def bpe_token_stats_sql(pattern: str) -> str:
    """Mirrors textops.bpe_token_stats (regexp_extract_all piece count
    next to the whitespace token count)."""
    toks = WORDS_SQL.format(t="text")
    return f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{pattern}'))::BIGINT AS n_bpe_tokens,
           len({toks})::BIGINT AS n_word_tokens,
           round(len(regexp_extract_all(text, '{pattern}'))::DOUBLE
                 / greatest(len({toks}), 1), 6) AS tokens_per_word
    FROM documents
    """


def char_trigram_logprob_sql(k: float = 0.5) -> str:
    """Mirrors textops.char_trigram_logprob with NO literals: trigram /
    prefix counts, add-k smoothing with V = distinct trigrams, and the
    per-doc mean −ln P — the log-sum folds in POSITION order
    (``list_sum(list(... ORDER BY pos))`` = Spark's sorted-array
    aggregate), so only per-log ulp drift remains, absorbed by
    round(·, 6)."""
    return f"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
         pos AS (SELECT doc_id, t,
                        unnest(range(1, greatest(length(t) - 2, 0) + 1))
                            AS pos
                 FROM d),
         occ AS (SELECT doc_id, pos,
                        substr(t, pos::INT, 3) AS tri,
                        substr(t, pos::INT, 2) AS bi
                 FROM pos),
         tric AS (SELECT tri, count(*) AS ct FROM occ GROUP BY tri),
         bic AS (SELECT bi, count(*) AS cb FROM occ GROUP BY bi),
         vv AS (SELECT count(*) AS v FROM tric),
         sc AS (SELECT occ.doc_id, occ.pos,
                       ln((ct + {k}) / (cb + {k} * vv.v)) AS logp
                FROM occ
                JOIN tric USING (tri)
                JOIN bic USING (bi), vv),
         agg AS (SELECT doc_id,
                        count(*)::BIGINT AS n_trigrams,
                        list_sum(list(logp ORDER BY pos)) AS s
                 FROM sc GROUP BY doc_id)
    SELECT doc_id, n_trigrams,
           round(-s / n_trigrams, 6) AS avg_neg_logp
    FROM agg
    """


def pack_token_windows_sql(seq_len: int = 512, n_shards: int = 8) -> str:
    """Mirrors textops.pack_token_windows: md5-hash sharding, per-shard
    hash-ordered running token sum, fixed-window coordinates. All
    integer arithmetic — exact in both engines."""
    toks = WORDS_SQL.format(t="coalesce(text, '')")
    return f"""
    WITH t AS (SELECT doc_id,
                      len({toks})::BIGINT AS n_tokens,
                      ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
               FROM documents),
         c AS (SELECT doc_id, h % {n_shards} AS shard, n_tokens,
                      -- ::BIGINT: DuckDB sum(BIGINT) promotes to HUGEINT,
                      -- which the driver hasher serializes differently from
                      -- Spark LONG (r06 red row). Values are far below 2^63.
                      (sum(n_tokens) OVER (PARTITION BY h % {n_shards}
                                           ORDER BY h, doc_id
                                           ROWS UNBOUNDED PRECEDING))::BIGINT
                          AS tok_end
               FROM t)
    SELECT doc_id, shard, n_tokens,
           tok_end - n_tokens AS tok_start,
           tok_end,
           (tok_end - n_tokens) // {seq_len} AS seq_first,
           CASE WHEN n_tokens > 0 THEN (tok_end - 1) // {seq_len}
                ELSE (tok_end - n_tokens) // {seq_len} END AS seq_last,
           (CASE WHEN n_tokens > 0 THEN (tok_end - 1) // {seq_len}
                 ELSE (tok_end - n_tokens) // {seq_len} END
            > (tok_end - n_tokens) // {seq_len})::BIGINT AS crosses_boundary
    FROM c
    """


PII_SALT_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'"
    " || (doc_id % 256)::VARCHAR || '.7 call 555-123-'"
    " || lpad((doc_id % 10000)::VARCHAR, 4, '0') || '.'"
)


def pii_redact_sql(salted: bool = True) -> str:
    """Mirrors textops.pii_redact over the entry query's salted text
    (deterministic synthetic email/IP/phone appended per doc_id — the raw
    synthetic corpus contains no PII, so redacting it verifies nothing).
    Counts are taken on the progressively-redacted text, exactly as the
    Spark operator chains them."""
    from vectordbindexing_spark.operators.textops import PII_RULES

    text = PII_SALT_SQL if salted else "text"
    sql = f"WITH r0 AS (SELECT doc_id, {text} AS t0 FROM documents)"
    carried: list[str] = []
    for i, (name, pat, repl) in enumerate(PII_RULES):
        prev = ", ".join(carried) + ", " if carried else ""
        sql += f""",
    r{i + 1} AS (SELECT doc_id, {prev}
                 len(regexp_extract_all(t{i}, '{pat}'))::BIGINT AS n_{name},
                 regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1}
                 FROM r{i})"""
        carried.append(f"n_{name}")
    cols = ", ".join(carried)
    return sql + f"""
    SELECT doc_id, {cols}, t{len(PII_RULES)} AS redacted
    FROM r{len(PII_RULES)}
    """


def repetition_stats_sql(
    ns: tuple[int, ...] = (2, 3), line_token: str = " a ", round_to: int = 6
) -> str:
    """Mirrors textops.repetition_stats over the entry query's lined text
    (the synthetic corpus is single-line, so the entry splits it into
    lines by replacing the literal ``line_token`` with newlines — both
    engines use literal non-overlapping left-to-right replace)."""
    lines = "string_split(t, chr(10))"
    per_n = []
    joins = []
    for n in ns:
        grams = word_ngrams_sql("t", n)
        per_n.append(f"""
    g{n} AS (SELECT doc_id, unnest({grams}) AS gram FROM t),
    c{n} AS (SELECT doc_id, gram, count(*) AS c FROM g{n} GROUP BY 1, 2),
    a{n} AS (SELECT doc_id,
                    round(max(c)::DOUBLE / sum(c), {round_to})
                        AS top_{n}gram_frac,
                    round(1.0 - count(*)::DOUBLE / sum(c), {round_to})
                        AS dup_{n}gram_frac
             FROM c{n} GROUP BY doc_id)""")
        joins.append(
            f"JOIN a{n} USING (doc_id)"
        )
    body = ",".join(per_n)
    gram_cols = ", ".join(
        f"top_{n}gram_frac, dup_{n}gram_frac" for n in ns
    )
    return f"""
    WITH t AS (SELECT doc_id, replace(text, '{line_token}', chr(10)) AS t
               FROM documents),
    l AS (SELECT doc_id,
                 len({lines})::BIGINT AS n_lines,
                 round(1.0 - len(list_distinct({lines}))::DOUBLE
                       / len({lines}), {round_to}) AS dup_line_frac
          FROM t),{body}
    SELECT doc_id, n_lines, dup_line_frac, {gram_cols}
    FROM l {' '.join(joins)}
    """


def pool_embeddings_sql(group_mod: int = 250, round_to: int = 6) -> str:
    """Mirrors preprocess.pool_embeddings over the entry grouping
    (vec_id % group_mod as the simulated doc key), pooled vector exploded
    to (doc_id, pos, val) scalar rows so the hash check covers every
    dimension. DuckDB's avg summation order differs from the Spark
    ordered fold by ~1 ulp — absorbed by the shared 1e-6 rounding, the
    same contract every float oracle here uses."""
    return f"""
    WITH g AS (SELECT vec_id % {group_mod} AS doc_id, embedding
               FROM embeddings),
         n AS (SELECT doc_id, count(*)::BIGINT AS n_pooled
               FROM g GROUP BY doc_id),
         s AS (SELECT doc_id,
                      unnest(range(1, len(embedding) + 1)) AS i,
                      embedding
               FROM g),
         a AS (SELECT doc_id, i,
                      round(avg(embedding[i]), {round_to}) AS val
               FROM s GROUP BY doc_id, i)
    SELECT a.doc_id, n.n_pooled, (a.i - 1)::BIGINT AS pos, a.val
    FROM a JOIN n USING (doc_id)
    """


def remove_boilerplate_sql(min_df: int = 50, line_token: str = " a ") -> str:
    """Mirrors textops.remove_boilerplate over the entry salting: docs
    are split into lines by replacing ``line_token`` with newlines, then
    a constant footer line (in every doc → boilerplate) and a per-doc
    line (unique → kept) are appended on both engines."""
    text = (
        f"replace(text, '{line_token}', chr(10))"
        " || chr(10) || 'Subscribe to our newsletter'"
        " || chr(10) || 'doc ' || doc_id::VARCHAR"
    )
    return f"""
    WITH t AS (SELECT doc_id, {text} AS text FROM documents),
         ex AS (SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line,
                       generate_subscripts(string_split(text, chr(10)), 1) - 1
                           AS pos
                FROM t),
         bp AS (SELECT line FROM ex GROUP BY line
                HAVING count(DISTINCT doc_id) >= {min_df}),
         kept AS (SELECT ex.* FROM ex ANTI JOIN bp USING (line)),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                        array_to_string(list(line ORDER BY pos), chr(10))
                            AS clean_text
                 FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id,
                        len(string_split(text, chr(10)))::BIGINT AS n_total
                 FROM t)
    SELECT tot.doc_id,
           coalesce(agg.n_kept, 0) AS n_kept,
           tot.n_total - coalesce(agg.n_kept, 0) AS n_dropped,
           coalesce(agg.clean_text, '') AS clean_text
    FROM tot LEFT JOIN agg USING (doc_id)
    """


def quota_sample_sql(quota: int = 10) -> str:
    """Mirrors sampling.quota_sample over (documents, strata=source):
    md5-hash-ordered row_number per stratum, prefix ≤ quota."""
    from vectordbindexing_spark.functions.hashing import DET_HASH64_SQL

    h = DET_HASH64_SQL.format(s="doc_id::VARCHAR")
    return f"""
    SELECT doc_id, source, sample_rank FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY {h}, doc_id) AS sample_rank
        FROM documents)
    WHERE sample_rank <= {quota}
    """


def token_budget_sample_sql(budget_tokens: int = 600) -> str:
    """Mirrors sampling.token_budget_sample: inclusive running token sum
    per stratum in hash order, keep cum ≤ budget plus the first row."""
    from vectordbindexing_spark.functions.hashing import DET_HASH64_SQL

    h = DET_HASH64_SQL.format(s="doc_id::VARCHAR")
    # coalesce: the Spark operator (sampling.py token_budget_sample) counts
    # NULL text as 0 tokens; tokenizing raw text would diverge on NULLs.
    toks = WORDS_SQL.format(t="coalesce(text, '')")
    return f"""
    WITH b AS (SELECT doc_id, source, len({toks})::BIGINT AS n_tokens
               FROM documents),
         w AS (SELECT doc_id, source, n_tokens,
                      -- ::BIGINT: avoid DuckDB HUGEINT promotion (r06 red)
                      (sum(n_tokens) OVER (PARTITION BY source
                                           ORDER BY {h}, doc_id
                                           ROWS UNBOUNDED PRECEDING))::BIGINT
                          AS cum_tokens,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY {h}, doc_id) AS rn
               FROM b)
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM w WHERE cum_tokens <= {budget_tokens} OR rn = 1
    """


URL_SALT_SQL = (
    "text || ' see https://site' || (doc_id % 7)::VARCHAR"
    " || '.example.com/p/' || doc_id::VARCHAR"
    " || ' and http://ref' || (doc_id % 3)::VARCHAR || '.org.'"
)


def domain_stats_sql() -> str:
    """Mirrors textops.domain_stats over the entry query's URL-salted
    text (the synthetic corpus has no URLs; two deterministic URLs per
    doc_id are appended on both engines — one with a trailing period to
    exercise the no-trailing-punctuation match rule)."""
    from vectordbindexing_spark.operators.textops import (
        DOMAIN_PATTERN,
        URL_PATTERN,
    )

    return f"""
    WITH t AS (SELECT doc_id, {URL_SALT_SQL} AS text FROM documents),
         u AS (SELECT doc_id,
                      unnest(regexp_extract_all(text, '{URL_PATTERN}'))
                          AS url
               FROM t),
         d AS (SELECT doc_id,
                      regexp_extract(url, '{DOMAIN_PATTERN}', 1) AS domain
               FROM u)
    SELECT domain,
           count(*)::BIGINT AS n_urls,
           count(DISTINCT doc_id)::BIGINT AS n_docs
    FROM d GROUP BY domain
    """


def chunk_documents_sql(window: int = 64, stride: int = 48) -> str:
    """Mirrors textops.chunk_documents: sliding-window token chunks,
    starts 1, 1+stride, … ≤ max(n_tokens, 1), final chunk may be short;
    chunk_id = (start−1)/stride."""
    toks = WORDS_SQL.format(t="text")
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(range(1, greatest(len(toks), 1) + 1, {stride}))
                          AS start
               FROM t)
    SELECT doc_id,
           ((start - 1) / {stride})::BIGINT AS chunk_id,
           array_to_string(list_slice(toks, start, start + {window} - 1), ' ')
               AS chunk_text,
           len(list_slice(toks, start, start + {window} - 1))::BIGINT
               AS n_chunk_tokens
    FROM s
    """


# Documents-table twin of EMB_DISCRIMINATOR_SQL: row count + total text
# length (exact integers on both engines; sf0.001/sf0.01 share the row
# count, the length sum separates them).
DOC_DISCRIMINATOR_SQL = (
    "(SELECT count(*) * 1000000 + "
    "sum(length(coalesce(text, ''))) % 1000000 FROM documents)"
)


@functools.lru_cache(maxsize=None)
def _document_datasets() -> tuple:
    """(disc_key, ids int64[n], texts list[str|None]) per testdata scale
    factor — corpus-dependent trained-state pins (BPE merges) embed one
    literal arm per dataset, selected by DOC_DISCRIMINATOR_SQL."""
    import pyarrow.parquet as pq

    out = []
    for d in sorted(glob.glob(_TESTDATA_GLOB)):
        path = os.path.join(d, "documents.parquet")
        if not os.path.exists(path):
            continue
        t = pq.read_table(path, columns=["doc_id", "text"])
        ids = t["doc_id"].to_pylist()
        texts = t["text"].to_pylist()
        key = len(ids) * 1_000_000 + sum(
            len(x or "") for x in texts
        ) % 1_000_000
        out.append((key, ids, texts))
    keys = [k for k, _, _ in out]
    if len(set(keys)) != len(keys):
        raise RuntimeError(
            f"documents dataset discriminator collision across {_TESTDATA_GLOB}: "
            f"{keys} — extend DOC_DISCRIMINATOR_SQL with more dimensions"
        )
    return tuple(out)


def _np_word_counts(texts, top_v: int, min_count: int):
    """Python twin of bpe.corpus_word_counts: single-space split, drop
    empties, (cnt desc, word asc) canonical order, min_count floor,
    top-V cut. ASCII corpus ⇒ Python str order == Spark's UTF-8 binary
    order, so the tie-break agrees."""
    counts: dict[str, int] = {}
    for t in texts:
        for w in (t or "").split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    ranked = sorted(
        ((w, c) for w, c in counts.items() if c >= min_count),
        key=lambda wc: (-wc[1], wc[0]),
    )
    return ranked[:top_v]


@functools.lru_cache(maxsize=None)
def bpe_train_merges_sql(
    top_v: int = 10_000, min_count: int = 2, num_merges: int = 150
) -> str:
    """Pinned trained-state oracle for bpe_train: the merge table is
    recomputed per dataset with the SAME shared fit (`bpe_merge_loop`)
    over Python-counted words, so the gate checks Spark's word counting
    + top-V canonicalization end-to-end (a count or tie-break drift
    changes the merge sequence)."""
    from vectordbindexing_spark.operators.bpe import bpe_merge_loop

    arms = []
    for key, _ids, texts in _document_datasets():
        for rank, lhs, rhs, freq in bpe_merge_loop(
            _np_word_counts(texts, top_v, min_count), num_merges
        ):
            arms.append(f"({key}, {rank}, {lhs!r}, {rhs!r}, {freq})")
    vals = ", ".join(arms)
    return f"""
    WITH expected(disc, merge_rank, lhs, rhs, freq) AS (VALUES {vals})
    SELECT merge_rank::BIGINT AS merge_rank, lhs::VARCHAR AS lhs,
           rhs::VARCHAR AS rhs, freq::BIGINT AS freq
    FROM expected WHERE disc = {DOC_DISCRIMINATOR_SQL}
    """


@functools.lru_cache(maxsize=None)
def bpe_encode_stats_sql(
    top_v: int = 10_000,
    min_count: int = 2,
    num_merges: int = 150,
    id_mod: int = 10,
) -> str:
    """Pinned oracle for bpe_encode_stats over the doc_id % id_mod == 0
    sample: per-doc (n_words, n_bpe_tokens, tok_hash) computed by the
    SAME shared encode (`bpe_encode_word`) + det_hash60_py; row
    membership still comes from the documents table (media-pin
    technique)."""
    from vectordbindexing_spark.functions.hashing import det_hash60_py
    from vectordbindexing_spark.operators.bpe import (
        bpe_encode_word,
        bpe_merge_loop,
    )

    arms = []
    for key, ids, texts in _document_datasets():
        merges = bpe_merge_loop(
            _np_word_counts(texts, top_v, min_count), num_merges
        )
        ranks = {(l, r): k for k, l, r, _ in merges}
        memo: dict[str, list[str]] = {}
        for did, text in zip(ids, texts):
            if did % id_mod != 0:
                continue
            toks = [t for t in (text or "").split(" ") if t]
            enc: list[str] = []
            for w in toks:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = bpe_encode_word(w, ranks)
                enc.extend(got)
            th = det_hash60_py(" ".join(enc))
            arms.append(f"({key}, {did}, {len(toks)}, {len(enc)}, {th})")
    vals = ", ".join(arms)
    return f"""
    WITH expected(disc, doc_id, n_words, n_bpe_tokens, tok_hash)
         AS (VALUES {vals})
    SELECT e.doc_id::BIGINT AS doc_id, e.n_words::BIGINT AS n_words,
           e.n_bpe_tokens::BIGINT AS n_bpe_tokens,
           e.tok_hash::BIGINT AS tok_hash
    FROM expected e
    JOIN (SELECT doc_id FROM documents WHERE doc_id % {id_mod} = 0) d
      ON d.doc_id = e.doc_id
    WHERE e.disc = {DOC_DISCRIMINATOR_SQL}
    """


def hll_registers_sql(
    col: str = "event_id", table: str = "events", p: int = 10
) -> str:
    """Mirrors sketch.hll_registers: det_hash60 of the stringified
    value, top-p-bit bucket, rho from length(bin(rest)) — pure integer
    arithmetic, so the register table is bit-identical cross-engine."""
    rest_bits = 60 - p
    mask = (1 << rest_bits) - 1
    h = f"(('0x' || substr(md5({col}::VARCHAR), 1, 15))::BIGINT)"
    return f"""
    WITH h AS (SELECT {h} AS h FROM {table} WHERE {col} IS NOT NULL),
         b AS (SELECT h >> {rest_bits} AS bucket,
                      CASE WHEN (h & {mask}) = 0 THEN {rest_bits + 1}
                           ELSE {rest_bits} - length(bin(h & {mask})) + 1
                      END AS rho
               FROM h)
    SELECT bucket::BIGINT AS bucket, max(rho)::BIGINT AS max_rho
    FROM b GROUP BY bucket
    """


def kmv_sketch_sql(
    col: str = "user_id",
    group_col: str = "event_type",
    table: str = "events",
    k: int = 64,
) -> str:
    """Mirrors sketch.kmv_sketch grouped: distinct (group, det_hash60)
    pairs, per-group k smallest. hval is unique within a group post-
    distinct, so the rank order is total — no tie-break needed."""
    h = f"(('0x' || substr(md5({col}::VARCHAR), 1, 15))::BIGINT)"
    return f"""
    WITH h AS (SELECT DISTINCT {group_col}, {h} AS hval
               FROM {table} WHERE {col} IS NOT NULL),
         r AS (SELECT {group_col}, hval,
                      row_number() OVER (PARTITION BY {group_col}
                                         ORDER BY hval) AS rank
               FROM h)
    SELECT {group_col}, rank::BIGINT AS rank, hval
    FROM r WHERE rank <= {k}
    """


def editdist_neardup_sql(d: int = 2, key_len: int = 80) -> str:
    """BRUTE-FORCE oracle for dedup.editdist_neardup_pairs over the
    same salted corpus — deliberately not a replay: the Spark side
    prunes with q-gram prefix filtering, so a green gate PROVES the
    filter lossless. DuckDB levenshtein is byte-based vs Spark's
    char-based — equal here because every testdata corpus is pure
    ASCII (asserted in tests); length-band prefilter keeps the cross
    join cheap at the sf0.01 gate scale."""
    return f"""
    WITH k0 AS (SELECT doc_id, substr(coalesce(text, ''), 1, {key_len}) AS k
                FROM documents),
         s AS (SELECT doc_id, k FROM k0
               UNION ALL
               SELECT doc_id + 1000000, substr(k, 2)
               FROM k0 WHERE doc_id % 7 = 0
               UNION ALL
               SELECT doc_id + 2000000, k || ' q'
               FROM k0 WHERE doc_id % 11 = 0),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      levenshtein(a.k, b.k) AS dist
               FROM s a JOIN s b
                 ON a.doc_id < b.doc_id
                AND abs(length(a.k) - length(b.k)) <= {d})
    SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, dist::BIGINT AS dist
    FROM p WHERE dist <= {d}
    """


RANGE_JOIN_SQL = """
WITH pts AS (SELECT event_id, ts FROM events
             WHERE event_type = 'purchase'),
     iv AS (SELECT ts AS start_ts, ts + INTERVAL 10 MINUTE AS end_ts
            FROM events WHERE event_type = 'error'),
     hits AS (SELECT p.event_id, count(*)::BIGINT AS n
              FROM pts p JOIN iv
                ON p.ts BETWEEN iv.start_ts AND iv.end_ts
              GROUP BY p.event_id)
SELECT pts.event_id, coalesce(hits.n, 0)::BIGINT AS n_outages
FROM pts LEFT JOIN hits ON pts.event_id = hits.event_id
"""


def asof_join_sql() -> str:
    """Mirrors events.asof_join (purchases ← latest click at-or-before,
    per user): the SAME union-timeline + running last_value(IGNORE
    NULLS) construction, so tie semantics are replayed, not
    re-derived. Build rows sort before probe rows at an equal ts
    (side 0 < 1); same-instant clicks order by click_id (probe rows'
    NULL click_id can sort anywhere among themselves — no build row
    separates them, so the carried value is unaffected)."""
    return """
    WITH b AS (SELECT user_id, ts, event_id AS click_id, ts AS click_ts,
                      0 AS side, NULL::BIGINT AS pe
               FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, NULL::BIGINT AS click_id,
                      NULL::TIMESTAMP AS click_ts, 1 AS side,
                      event_id AS pe
               FROM events WHERE event_type = 'purchase'),
         u AS (SELECT * FROM b UNION ALL BY NAME SELECT * FROM p),
         m AS (SELECT user_id, ts, side, pe,
                      last_value(click_id IGNORE NULLS) OVER wnd AS click_id,
                      last_value(click_ts IGNORE NULLS) OVER wnd AS click_ts
               FROM u
               WINDOW wnd AS (PARTITION BY user_id
                              ORDER BY ts, side, click_id
                              ROWS UNBOUNDED PRECEDING))
    SELECT pe AS event_id, user_id, click_id::BIGINT AS click_id,
           date_diff('second', click_ts, ts)::BIGINT AS secs_since
    FROM m WHERE side = 1
    """


def cms_counters_sql(depth: int = 4, width: int = 1024) -> str:
    """Mirrors sketch.cms_counters over document token OCCURRENCES:
    row j's bucket is det_hash60('j|' || token) % width — exact
    integers end-to-end, so the counter table is bit-identical
    cross-engine (same contract as hll_registers_sql)."""
    toks = WORDS_SQL.format(t="coalesce(text, '')")
    rows = ", ".join(str(j) for j in range(depth))
    return f"""
    WITH t AS (SELECT unnest({toks}) AS v FROM documents),
         e AS (SELECT v, unnest([{rows}]) AS sketch_row FROM t),
         b AS (SELECT sketch_row,
                      (('0x' || substr(md5(sketch_row::VARCHAR || '|' || v),
                                       1, 15))::BIGINT) % {width} AS bucket
               FROM e)
    SELECT sketch_row::BIGINT AS sketch_row, bucket::BIGINT AS bucket,
           count(*)::BIGINT AS cnt
    FROM b GROUP BY sketch_row, bucket
    """


def cms_heavy_hitters_sql(
    depth: int = 4, width: int = 1024, top: int = 20
) -> str:
    """Mirrors _cms_heavy_hitters: top-N true tokens (count desc, tok)
    point-queried against the replayed counter table — min over the
    depth rows. LIMIT under a total order is deterministic."""
    toks = WORDS_SQL.format(t="coalesce(text, '')")
    rows = ", ".join(str(j) for j in range(depth))
    return f"""
    WITH t AS (SELECT unnest({toks}) AS v FROM documents),
         truth AS (SELECT v AS tok, count(*)::BIGINT AS true_count
                   FROM t GROUP BY v
                   ORDER BY true_count DESC, tok LIMIT {top}),
         e AS (SELECT v, unnest([{rows}]) AS sketch_row FROM t),
         counters AS (SELECT sketch_row,
                             (('0x' || substr(md5(sketch_row::VARCHAR
                                                  || '|' || v), 1, 15))
                              ::BIGINT) % {width} AS bucket,
                             count(*)::BIGINT AS cnt
                      FROM e GROUP BY 1, 2),
         probes AS (SELECT truth.tok, j.j AS sketch_row,
                           (('0x' || substr(md5(j.j::VARCHAR || '|'
                                                || truth.tok), 1, 15))
                            ::BIGINT) % {width} AS bucket
                    FROM truth, (SELECT unnest([{rows}]) AS j) j),
         est AS (SELECT p.tok,
                        min(coalesce(c.cnt, 0))::BIGINT AS est_count
                 FROM probes p LEFT JOIN counters c
                   ON c.sketch_row = p.sketch_row AND c.bucket = p.bucket
                 GROUP BY p.tok)
    SELECT truth.tok, truth.true_count, est.est_count
    FROM truth JOIN est ON truth.tok = est.tok
    """


def log_histogram_quantiles_sql(
    qs: tuple = (0.5, 0.9, 0.99), scale: int = 1000,
    col: str = "value", table: str = "events",
) -> str:
    """Mirrors sketch.log_histogram_quantiles: integer bit-length
    buckets of round(value·scale) (length(bin(n)) — the proven rho
    trick, never float log2), integer cumsum, midpoint estimate with
    the identical IEEE expression tree. q literals cast ::DOUBLE —
    bare 0.9 is DECIMAL in DuckDB and would multiply differently."""
    qlits = ", ".join(f"{q!r}::DOUBLE" for q in qs)
    return f"""
    WITH v AS (SELECT round({col} * {float(scale)!r}, 0)::BIGINT AS iv
               FROM {table} WHERE {col} IS NOT NULL),
         b AS (SELECT CASE WHEN iv = 0 THEN 0
                           WHEN iv > 0 THEN length(bin(iv))
                           ELSE -length(bin(-iv)) END AS bucket FROM v),
         h AS (SELECT bucket, count(*)::BIGINT AS n FROM b GROUP BY bucket),
         c AS (SELECT bucket, n,
                      sum(n) OVER (ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
                      sum(n) OVER ()::BIGINT AS total
               FROM h),
         q AS (SELECT unnest([{qlits}]) AS q),
         p AS (SELECT q.q, c.total, min(c.bucket) AS bucket
               FROM q JOIN c ON c.cum >= ceil(q.q * c.total)
               GROUP BY q.q, c.total)
    SELECT q, bucket::BIGINT AS bucket,
           round(CASE WHEN bucket = 0 THEN 0.0
                      WHEN bucket > 0
                      THEN ((1::BIGINT << (bucket - 1))
                            + (1::BIGINT << bucket) - 1) / 2.0
                      ELSE -(((1::BIGINT << (-bucket - 1))
                              + (1::BIGINT << (-bucket)) - 1) / 2.0)
                 END / {float(scale)!r}, 6) AS est_value,
           total::BIGINT AS n_total
    FROM p
    """


def hll_estimate_sql(
    col: str = "user_id", table: str = "events", p: int = 10
) -> str:
    """Mirrors sketch.hll_estimate on top of the register CTE: the
    harmonic sum folds 2^-max_rho terms in bucket order (each term an
    exact binary power, fold order identical to Spark's sorted-struct
    aggregate), alpha is embedded as the repr of the SAME python
    float, and the linear-counting branch uses ln whose final-ulp
    drift is absorbed by round(·, 6)."""
    rest_bits = 60 - p
    mask = (1 << rest_bits) - 1
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = f"(('0x' || substr(md5({col}::VARCHAR), 1, 15))::BIGINT)"
    return f"""
    WITH hh AS (SELECT {h} AS h FROM {table} WHERE {col} IS NOT NULL),
         b AS (SELECT h >> {rest_bits} AS bucket,
                      CASE WHEN (h & {mask}) = 0 THEN {rest_bits + 1}
                           ELSE {rest_bits} - length(bin(h & {mask})) + 1
                      END AS rho
               FROM hh),
         regs AS (SELECT bucket, max(rho) AS max_rho FROM b GROUP BY bucket),
         agg AS (SELECT count(*)::BIGINT AS n_obs,
                        list_sum(list(pow(2.0, -max_rho)
                                      ORDER BY bucket)) AS hsum
                 FROM regs),
         est AS (SELECT n_obs, ({m} - n_obs) AS v,
                        {alpha!r}::DOUBLE * {m} * {m}
                            / (hsum + ({m} - n_obs)::DOUBLE) AS raw
                 FROM agg)
    SELECT {m}::BIGINT AS m, v::BIGINT AS zero_registers,
           round(CASE WHEN raw <= {2.5 * m!r}::DOUBLE AND v > 0
                      THEN {float(m)!r}::DOUBLE
                           * ln({float(m)!r}::DOUBLE / v::DOUBLE)
                      ELSE raw END, 6) AS distinct_estimate
    FROM est
    """


def kmv_pairwise_overlap_sql(k: int = 64, n: int = 5) -> str:
    """Mirrors sketch.kmv_pairwise_overlap over word-n-gram shingles
    grouped by documents.source: per-source k-min sketches, per-pair
    k-min of the union, shared fraction. Integer set algebra; the one
    float (jaccard) is a ratio of the same two BIGINTs both sides."""
    shingles = word_ngrams_sql("coalesce(text, '')", n)
    return f"""
    WITH sh AS (SELECT source, unnest({shingles}) AS v FROM documents),
         h AS (SELECT DISTINCT source,
                      (('0x' || substr(md5(v), 1, 15))::BIGINT) AS hval
               FROM sh WHERE v IS NOT NULL),
         r AS (SELECT source, hval,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY hval) AS rank
               FROM h),
         sk AS (SELECT source, hval FROM r WHERE rank <= {k}),
         g AS (SELECT DISTINCT source FROM sk),
         p AS (SELECT a.source AS group_a, b.source AS group_b
               FROM g a, g b WHERE a.source < b.source),
         vals AS (SELECT p.group_a, p.group_b, s.hval,
                         max(CASE WHEN s.source = p.group_a
                                  THEN 1 ELSE 0 END) AS in_a,
                         max(CASE WHEN s.source = p.group_b
                                  THEN 1 ELSE 0 END) AS in_b
                  FROM p JOIN sk s
                    ON s.source IN (p.group_a, p.group_b)
                  GROUP BY 1, 2, 3),
         t AS (SELECT *, row_number() OVER (PARTITION BY group_a, group_b
                                            ORDER BY hval) AS r
               FROM vals)
    SELECT group_a, group_b,
           count(*)::BIGINT AS n_union,
           (count(*) FILTER (in_a = 1 AND in_b = 1))::BIGINT AS n_shared,
           round((count(*) FILTER (in_a = 1 AND in_b = 1))::DOUBLE
                 / count(*)::DOUBLE, 6) AS jaccard
    FROM t WHERE r <= {k}
    GROUP BY group_a, group_b
    """


def nb_quality_scores_sql(min_tokens: int = 50, k: float = 0.5) -> str:
    """Mirrors classify.quality_classifier_scores with NO pinned model:
    the SQL retrains the multinomial NB (word×class counts, add-k
    smoothing) and rescores every doc, folding per-word log-ratios in
    position order (`list_sum(list(... ORDER BY pos))` == Spark's
    sorted-struct aggregate). pred thresholds the ROUNDED log-odds."""
    toks = WORDS_SQL.format(t="coalesce(text, '')")
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS t FROM documents),
         lab AS (SELECT doc_id,
                        CASE WHEN len(t) >= {min_tokens} THEN 1 ELSE 0 END
                            AS label, t
                 FROM d),
         occ AS (SELECT doc_id, label,
                        generate_subscripts(t, 1) AS pos, unnest(t) AS w
                 FROM lab),
         wc AS (SELECT w,
                       sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
                       sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS c0
                FROM occ GROUP BY w),
         tot AS (SELECT sum(c1)::BIGINT AS t1, sum(c0)::BIGINT AS t0,
                        count(*)::BIGINT AS v
                 FROM wc),
         dc AS (SELECT sum(label)::BIGINT AS d1,
                       sum(1 - label)::BIGINT AS d0
                FROM lab),
         lw AS (SELECT occ.doc_id, occ.pos,
                       ln((wc.c1 + {k}) / (tot.t1 + {k} * tot.v))
                     - ln((wc.c0 + {k}) / (tot.t0 + {k} * tot.v)) AS lw
                FROM occ JOIN wc ON occ.w = wc.w CROSS JOIN tot),
         s AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                      list_sum(list(lw ORDER BY pos)) AS sm
               FROM lw GROUP BY doc_id),
         scored AS (SELECT lab.doc_id,
                           coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
                           round(coalesce(s.sm, 0.0)
                                 + ln((dc.d1 + {k}) / (dc.d0 + {k})),
                                 6) AS log_odds
                    FROM lab LEFT JOIN s ON lab.doc_id = s.doc_id
                    CROSS JOIN dc)
    SELECT doc_id, n_tokens, log_odds,
           (CASE WHEN log_odds >= 0 THEN 1 ELSE 0 END)::BIGINT AS pred
    FROM scored
    """


def zorder_layout_stats_sql(bits: int = 16, bucket_bits: int = 6) -> str:
    """Mirrors io.zorder.layout_span_stats over orders clustered on
    (o_custkey, epoch-day(o_orderdate)): exact-integer min/max rescale
    (``//`` == Spark ``div`` on the non-negative numerator), Morton
    interleave as a bit-term sum, bucket = top bucket_bits of the
    z-value, per-bucket row count + per-dimension span. No floats, no
    pins — the whole curve replays in SQL."""
    top = (1 << bits) - 1
    shift = bits * 2 - bucket_bits
    terms = (
        f"((s0 >> i) & 1) * (1::BIGINT << (i * 2)) + "
        f"((s1 >> i) & 1) * (1::BIGINT << (i * 2 + 1))"
    )
    return f"""
    WITH src AS (SELECT o_custkey::BIGINT AS c0,
                        date_diff('day', DATE '1970-01-01',
                                  o_orderdate::DATE)::BIGINT AS c1
                 FROM orders),
         r AS (SELECT min(c0) mn0, max(c0) mx0,
                      min(c1) mn1, max(c1) mx1 FROM src),
         s AS (SELECT c0, c1,
                      CASE WHEN mx0 > mn0
                           THEN ((c0 - mn0) * {top}) // (mx0 - mn0)
                           ELSE 0 END AS s0,
                      CASE WHEN mx1 > mn1
                           THEN ((c1 - mn1) * {top}) // (mx1 - mn1)
                           ELSE 0 END AS s1
               FROM src, r),
         z AS (SELECT c0, c1,
                      list_sum(list_transform(range(0, {bits}),
                                              i -> {terms}))::BIGINT AS zval
               FROM s)
    SELECT (zval >> {shift})::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           (max(c0) - min(c0))::BIGINT AS span_0,
           (max(c1) - min(c1))::BIGINT AS span_1
    FROM z GROUP BY bucket
    """


def _span_cover_sql(src: str, window: int, out_col: str) -> str:
    """Interval-union token cover of [pos, pos+window) hits per doc —
    the lag-island formulation `spandedup._interval_cover` uses, so both
    engines merge overlapping windows identically."""
    return f"""
        (SELECT doc_id, sum(_len)::BIGINT AS {out_col}
         FROM (SELECT doc_id, _isl,
                      max(pos) - min(pos) + {window} AS _len
               FROM (SELECT doc_id, pos,
                            sum(_brk) OVER (PARTITION BY doc_id ORDER BY pos
                                            ROWS UNBOUNDED PRECEDING) AS _isl
                     FROM (SELECT doc_id, pos,
                                  CASE WHEN lag(pos) OVER (PARTITION BY doc_id
                                                           ORDER BY pos) IS NULL
                                         OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                                 ORDER BY pos) >= {window}
                                       THEN 1 ELSE 0 END AS _brk
                           FROM {src}))
               GROUP BY doc_id, _isl)
         GROUP BY doc_id)"""


def duplicated_spans_sql(window: int = 15) -> str:
    """Mirrors spandedup.duplicated_spans: rolling window-token span
    hashes (det_hash60 of the space-joined slice), corpus-wide occurrence
    count, canonical = min packed (doc_id, pos) key, per-doc interval
    union of duplicated / removable windows. All-BIGINT output."""
    from vectordbindexing_spark.operators.spandedup import POS_LIMIT

    w = window
    toks = WORDS_SQL.format(t="coalesce(text, '')")
    h = (
        "(('0x' || substr(md5(array_to_string("
        f"t[i : i + {w - 1}], ' ')), 1, 15))::BIGINT)"
    )
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS t FROM documents),
         docs AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
                         CASE WHEN len(t) >= {w}
                              THEN list_transform(range(1, len(t) - {w} + 2),
                                                  i -> {h})
                              ELSE []::BIGINT[] END AS wh
                  FROM d),
         stats0 AS (SELECT doc_id, n_tokens, len(wh)::BIGINT AS n_windows
                    FROM docs),
         ck AS (SELECT doc_id,
                       generate_subscripts(wh, 1) - 1 AS pos,
                       unnest(wh) AS whash,
                       doc_id * {POS_LIMIT}
                         + generate_subscripts(wh, 1) - 1 AS ckey
                FROM docs),
         agg AS (SELECT whash, min(ckey) AS ckey_min
                 FROM ck GROUP BY whash HAVING count(*) >= 2),
         dup AS (SELECT ck.doc_id, ck.pos, ck.ckey, agg.ckey_min
                 FROM ck JOIN agg USING (whash)),
         rm AS (SELECT * FROM dup WHERE ckey <> ckey_min),
         ndup AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
                  FROM dup GROUP BY doc_id),
         dcov AS {_span_cover_sql("dup", w, "dup_cover")},
         rcov AS {_span_cover_sql("rm", w, "removable_cover")}
    SELECT s.doc_id, s.n_tokens, s.n_windows,
           coalesce(n.n_dup_windows, 0)::BIGINT AS n_dup_windows,
           coalesce(dc.dup_cover, 0)::BIGINT AS dup_cover,
           coalesce(rc.removable_cover, 0)::BIGINT AS removable_cover
    FROM stats0 s
    LEFT JOIN ndup n USING (doc_id)
    LEFT JOIN dcov dc USING (doc_id)
    LEFT JOIN rcov rc USING (doc_id)
    """


def benchmark_contamination_sql(
    n: int = 3, min_overlap: int = 5, bench_mod: int = 20
) -> str:
    """Mirrors textops.benchmark_contamination over the entry split
    (doc_id % bench_mod == 0 → benchmark, rest → corpus): distinct
    n-gram overlap counts, strongest benchmark match per doc (ties →
    lowest benchmark_id)."""
    grams = word_ngrams_sql("text", n)
    return f"""
    WITH g AS (SELECT doc_id, list_distinct({grams}) AS grams FROM documents),
         d AS (SELECT doc_id, unnest(grams) AS gram FROM g
               WHERE doc_id % {bench_mod} <> 0),
         b AS (SELECT doc_id AS benchmark_id, unnest(grams) AS gram FROM g
               WHERE doc_id % {bench_mod} = 0),
         o AS (SELECT d.doc_id, b.benchmark_id, count(*) AS n_shared
               FROM d JOIN b USING (gram)
               GROUP BY d.doc_id, b.benchmark_id
               HAVING count(*) >= {min_overlap}),
         r AS (SELECT doc_id, benchmark_id, n_shared,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n_shared DESC, benchmark_id)
                          AS rnk
               FROM o)
    SELECT doc_id, benchmark_id, n_shared FROM r WHERE rnk = 1
    """


def corpus_filter_gate_sql(
    markers: dict[str, tuple[str, ...]],
    stopwords: tuple[str, ...],
    lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    max_punct_ratio: float = 0.2,
) -> str:
    """Mirrors textops.corpus_filter_gate: same lang argmax (score DESC,
    lang DESC tie-break = Spark's struct array_max), same md5-window
    keeper, same rule priority, comparisons on the ROUNDED punct ratio."""
    toks = WORDS_SQL.format(t="text")
    ltoks = WORDS_SQL.format(t="lower(text)")
    stop_list = "[" + ", ".join(f"'{s}'" for s in stopwords) + "]"
    arms = "\n      UNION ALL ".join(
        f"SELECT doc_id, '{lg}' AS lang, "
        f"len(list_filter(ltoks, t -> list_contains("
        f"[{', '.join(repr(m) for m in ms)}], t)))::BIGINT AS score FROM t"
        for lg, ms in sorted(markers.items())
    )
    return f"""
    WITH t AS (SELECT doc_id, text, {toks} AS toks, {ltoks} AS ltoks
               FROM documents),
         s AS ({arms}),
         lr AS (SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, lang DESC) AS rnk
                FROM s),
         lid AS (SELECT doc_id,
                        CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
                 FROM lr WHERE rnk = 1),
         f AS (SELECT doc_id,
                      len(toks)::BIGINT AS n_tokens,
                      round((length(text) - length(
                              regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                            / length(text), 6) AS punct_ratio,
                      (len(list_filter(toks, x ->
                           list_contains({stop_list}, x))) > 0) AS has_stop,
                      (row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) = 1) AS is_keeper
               FROM t),
         g AS (SELECT f.doc_id, lid.pred_lang, f.n_tokens, f.punct_ratio,
                      f.is_keeper,
                      CASE WHEN NOT f.is_keeper THEN 'duplicate'
                           WHEN lid.pred_lang <> '{lang}' THEN 'lang'
                           WHEN f.n_tokens < {min_tokens} THEN 'too_short'
                           WHEN f.n_tokens > {max_tokens} THEN 'too_long'
                           WHEN f.punct_ratio > {max_punct_ratio} THEN 'high_punct'
                           WHEN NOT f.has_stop THEN 'no_stopwords'
                           ELSE 'keep' END AS reason
               FROM f JOIN lid USING (doc_id))
    SELECT doc_id, pred_lang, n_tokens, punct_ratio,
           is_keeper::BIGINT AS is_keeper,
           (reason = 'keep')::BIGINT AS keep,
           reason
    FROM g
    """


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(text) AS fingerprint,
       ('0x' || substr(md5(text), 1, 8))::BIGINT AS fingerprint64
FROM documents
"""


EVENTS_HOURLY_SQL = """
SELECT event_type,
       date_trunc('hour', ts::TIMESTAMP) AS hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY event_type, date_trunc('hour', ts::TIMESTAMP)
"""


PIVOT_USER_TYPES_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'view')::BIGINT AS n_view,
       count(*) FILTER (event_type = 'click')::BIGINT AS n_click,
       count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
       count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup,
       count(*) FILTER (event_type = 'error')::BIGINT AS n_error
FROM events GROUP BY user_id
"""


MOVING_AVG_SQL = """
SELECT event_id, user_id,
       round(value, 6) AS value,
       round(sum(value) OVER w / count(*) OVER w, 6) AS mov_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


FUNNEL_STEPS_SQL = """
WITH s1 AS (SELECT user_id, min(ts) AS step_1_ts FROM events
            WHERE event_type = 'view' GROUP BY 1),
     s2 AS (SELECT e.user_id, min(e.ts) AS step_2_ts
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts >= s1.step_1_ts
            GROUP BY 1),
     s3 AS (SELECT e.user_id, min(e.ts) AS step_3_ts
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts >= s2.step_2_ts
            GROUP BY 1)
SELECT s1.user_id,
       s1.step_1_ts::TIMESTAMP AS step_1_ts,
       s2.step_2_ts::TIMESTAMP AS step_2_ts,
       s3.step_3_ts::TIMESTAMP AS step_3_ts,
       (s3.step_3_ts IS NOT NULL)::BIGINT AS completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


SNAPSHOT_DIFF_SQL = """
WITH old AS (SELECT * FROM orders WHERE o_orderkey % 89 <> 0),
     new AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                    CASE WHEN o_orderkey % 31 = 0
                         THEN o_totalprice * 2.0
                         ELSE o_totalprice END AS o_totalprice,
                    o_orderdate, o_orderpriority
             FROM orders WHERE o_orderkey % 97 <> 0),
     j AS (SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
                  CASE WHEN old.o_orderkey IS NULL THEN 'added'
                       WHEN new.o_orderkey IS NULL THEN 'removed'
                       WHEN (old.o_custkey IS DISTINCT FROM new.o_custkey)
                         OR (old.o_orderstatus
                             IS DISTINCT FROM new.o_orderstatus)
                         OR (old.o_totalprice
                             IS DISTINCT FROM new.o_totalprice)
                         OR (old.o_orderdate
                             IS DISTINCT FROM new.o_orderdate)
                         OR (old.o_orderpriority
                             IS DISTINCT FROM new.o_orderpriority)
                       THEN 'changed' ELSE 'unchanged' END AS change
           FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
SELECT o_orderkey::BIGINT AS o_orderkey, change
FROM j WHERE change <> 'unchanged'
"""


def bloom_join_prune_sql(
    m_bits: int = 4096, k_hashes: int = 3, acctbal: int = 9000
) -> str:
    """Mirrors sketch.bloom_bits + bloom_might_contain end-to-end:
    same row-salted md5 bit positions, all-k-bits membership, and the
    four-count pruning ledger. Pure integers throughout."""
    js = ", ".join(str(j) for j in range(k_hashes))
    h = "(('0x' || substr(md5(j.j::VARCHAR || '|' || {v}::VARCHAR), 1, 15))::BIGINT)"
    return f"""
    WITH dim AS (SELECT DISTINCT c_custkey AS k FROM customer
                 WHERE c_acctbal > {acctbal}),
         j AS (SELECT unnest([{js}]) AS j),
         bits AS (SELECT DISTINCT {h.format(v="dim.k")} % {m_bits} AS bit
                  FROM dim, j),
         probe AS (SELECT DISTINCT o_custkey AS k FROM orders
                   WHERE o_custkey IS NOT NULL),
         ph AS (SELECT probe.k, {h.format(v="probe.k")} % {m_bits} AS bit
                FROM probe, j),
         hits AS (SELECT k, count(*) AS c FROM ph
                  JOIN bits USING (bit) GROUP BY k),
         pass AS (SELECT k FROM hits WHERE c = {k_hashes})
    SELECT (SELECT count(*) FROM probe)::BIGINT AS n_probe_keys,
           (SELECT count(*) FROM pass)::BIGINT AS n_pass,
           (SELECT count(*) FROM probe JOIN dim USING (k))::BIGINT
               AS n_member,
           ((SELECT count(*) FROM pass)
            - (SELECT count(*) FROM probe JOIN dim USING (k)))::BIGINT
               AS n_false_pos
    """


MULTIRES_ROLLUP_SQL = """
WITH h AS (SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hb,
                  count(*)::BIGINT AS n, round(sum(value), 4) AS sv
           FROM events GROUP BY 1, 2),
     d AS (SELECT event_type, date_trunc('day', hb) AS db,
                  sum(n)::BIGINT AS n,
                  round(list_sum(list(sv ORDER BY hb)), 4) AS sv
           FROM h GROUP BY 1, 2),
     w AS (SELECT event_type, date_trunc('week', db) AS wb,
                  sum(n)::BIGINT AS n,
                  round(list_sum(list(sv ORDER BY db)), 4) AS sv
           FROM d GROUP BY 1, 2)
SELECT 'hour' AS resolution, hb AS bucket, event_type,
       n AS n_events, sv AS sum_value FROM h
UNION ALL
SELECT 'day', db, event_type, n, sv FROM d
UNION ALL
SELECT 'week', wb, event_type, n, sv FROM w
"""


def attribution_sql(max_delay_hours: int = 6) -> str:
    """Mirrors __spark_entry__._events_attribution: the interval join of
    streaming/attribution.attribution_pairs (batch twin) + last_touch.
    Join comparisons are on raw microsecond timestamps (exact in both
    engines); delay uses boundary-count date_diff matching Spark's
    second-truncated timestampdiff; last-touch ties → lowest
    exposure_id."""
    return f"""
    WITH x AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click'),
         c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
         pairs AS (SELECT x.user_id,
                          x.event_id AS exposure_id,
                          c.event_id AS conversion_id,
                          date_diff('second', x.ts, c.ts)::BIGINT
                              AS delay_seconds
                   FROM x JOIN c
                     ON x.user_id = c.user_id
                    AND x.ts <= c.ts
                    AND c.ts <= x.ts + INTERVAL {max_delay_hours} HOUR),
         lt AS (SELECT *,
                       row_number() OVER (PARTITION BY conversion_id
                                          ORDER BY delay_seconds,
                                                   exposure_id) AS rn
                FROM pairs)
    SELECT user_id, exposure_id, conversion_id, delay_seconds
    FROM lt WHERE rn = 1
    """


def sessionize_sql(gap_minutes: int = 30) -> str:
    return f"""
    WITH o AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
                      lag(ts::TIMESTAMP) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM events),
         f AS (SELECT user_id, event_id, ts,
                      CASE WHEN prev_ts IS NULL
                             OR date_diff('second', prev_ts, ts) > {gap_minutes * 60}
                           THEN 1 ELSE 0 END AS new_sess
               FROM o),
         s AS (SELECT user_id, event_id,
                      sum(new_sess) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS sess_id
               FROM f),
         per_sess AS (SELECT user_id, sess_id, count(*) AS sess_events
                      FROM s GROUP BY user_id, sess_id)
    SELECT user_id,
           count(*)::BIGINT AS n_sessions,
           sum(sess_events)::BIGINT AS n_events,
           max(sess_events)::BIGINT AS max_session_events
    FROM per_sess GROUP BY user_id
    """


EVENTS_PROPS_JSON_SQL = """
SELECT event_type,
       count(*) AS n,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


EVENTS_VALUE_HISTOGRAM_SQL = """
WITH b AS (SELECT floor(value / 5.0)::BIGINT AS bin, count(*) AS n
           FROM events GROUP BY 1),
     t AS (SELECT count(*)::DOUBLE AS total FROM events)
SELECT bin,
       (bin * 5.0)::DOUBLE AS bin_low,
       n,
       round(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) / t.total, 6)
           AS cdf
FROM b, t
"""


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


TPCH_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


TPCH_Q3_SQL = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


TPCH_Q10_SQL = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


TPCH_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


TPCH_Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY r_name, n_name
"""


TOP_ORDERS_PER_CUSTOMER_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
  FROM orders)
SELECT o_custkey, price_rank, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice
FROM r WHERE price_rank <= 3
"""


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


TEXT_TOKEN_STATS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       n_chars,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 4)
           AS avg_token_len
FROM t
"""


def dedup_groups_sql(
    num_bits: int = 32, max_hamming: int = 3, bands: int = 4
) -> str:
    """Mirrors components.dedup_groups over simhash_text_neardup pairs.

    The Spark side runs O(log n) large-star/small-star rounds; the oracle
    computes the same fixed point as a recursive-CTE transitive closure
    (min label over everything reachable) — tractable at sf0.01 scale,
    engine-independent (all-integer output).
    """
    pairs = simhash_text_neardup_sql(num_bits, max_hamming, bands)
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
         edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
             SELECT DISTINCT s, s FROM edges
             UNION
             SELECT e.t, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
         comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
         labeled AS (
             SELECT d.doc_id AS did,
                    coalesce(c.component, d.doc_id) AS group_id
             FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         sizes AS (SELECT group_id, count(*) AS group_size
                   FROM labeled GROUP BY group_id)
    SELECT l.did::BIGINT AS doc_id,
           l.group_id::BIGINT AS group_id,
           s.group_size::BIGINT AS group_size,
           (CASE WHEN l.did = l.group_id THEN 1 ELSE 0 END)::BIGINT AS is_keeper
    FROM labeled l JOIN sizes s USING (group_id)
    """


def ann_ladder_recall_sql() -> str:
    """Mirrors __spark_entry__._ann_ladder_recall: every method's
    contract-parameter oracle replay embedded as a subquery (DuckDB
    allows WITH inside derived tables), joined against the exact-L2
    replay, hits counted as integers, one division per method."""
    ex = knn_exact_sql("l2", k=10)
    subs = {
        "sq8": sq8_knn_sql(k=10),
        "pq": pq_knn_sql(m=8, ks=16, k=10, iters=3),
        "ivfpq": ivfpq_knn_sql(nlist=16, nprobe=4, m=8, ks=16, k=10,
                               iters=3),
        "bq": bq_knn_sql(k=10, shortlist=60),
    }
    arms = []
    for name, sql in subs.items():
        arms.append(f"""
    SELECT '{name}' AS method,
           (SELECT count(*) FROM ({sql}) m
            JOIN ({ex}) x
              ON m.qid = x.qid AND m.neighbor_id = x.neighbor_id
           )::BIGINT AS n_hits""")
    union = " UNION ALL ".join(arms)
    nq = "(SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)"
    return f"""
    SELECT method, n_hits,
           round(n_hits / ({nq} * 10.0), 6) AS recall
    FROM ({union})
    """


def semantic_dedup_sql(
    n_clusters: int = 8, threshold: float = 0.4, iters: int = 3
) -> str:
    """Mirrors operators.semdedup.semantic_dedup over the embeddings
    table: k-means centroids (same numpy fit the Spark operator runs on
    the full corpus, embedded as literals behind the dataset
    discriminator), nearest-cell assignment (expansion-formula d²,
    ties → lowest cid), within-cell cosine pairs at the threshold, and
    the recursive-CTE transitive closure with min-id groups — the same
    closure the text dedup_groups oracle uses."""
    arms = []
    for key, ids, V in _embedding_datasets():
        C = _np_kmeans_fit_like_spark(ids, V, n_clusters, iters)
        arms.append(
            f"WHEN {key} THEN ["
            + ", ".join(_list_lit(row) for row in C)
            + "]::DOUBLE[][]"
        )
    cents_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(arms) + " END"
    d2c = (
        "(list_inner_product(v, v) - 2*list_inner_product(v, c.cv)"
        " + list_inner_product(c.cv, c.cv))"
    )
    return f"""
    WITH RECURSIVE
         e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
               FROM embeddings),
         cp AS (SELECT {cents_case} AS cvs),
         cents AS (SELECT (i - 1) AS cid, cv
                   FROM (SELECT unnest(cvs) AS cv,
                                generate_subscripts(cvs, 1) AS i
                         FROM cp)),
         assign AS (
           SELECT id, cid FROM (
             SELECT e.id, c.cid,
                    row_number() OVER (PARTITION BY e.id
                                       ORDER BY {d2c}, c.cid) AS rnk
             FROM e, cents c) WHERE rnk = 1),
         sided AS (SELECT a.id, a.cid, e.v
                   FROM assign a JOIN e USING (id)),
         pairs AS (
           SELECT x.id AS id_a, y.id AS id_b
           FROM sided x JOIN sided y
             ON x.cid = y.cid AND x.id < y.id
           WHERE round(1.0 - list_inner_product(x.v, y.v)
                 / (sqrt(list_inner_product(x.v, x.v))
                    * sqrt(list_inner_product(y.v, y.v))), 6)
                 <= {1.0 - threshold!r}),
         edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
             SELECT DISTINCT s, s FROM edges
             UNION
             SELECT ed.t, r.lbl FROM reach r JOIN edges ed ON ed.s = r.id),
         comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
         labeled AS (
             SELECT e.id AS did,
                    coalesce(c.component, e.id) AS group_id
             FROM e LEFT JOIN comp c ON c.id = e.id),
         sizes AS (SELECT group_id, count(*) AS group_size
                   FROM labeled GROUP BY group_id)
    SELECT l.did::BIGINT AS vec_id,
           l.group_id::BIGINT AS group_id,
           s.group_size::BIGINT AS group_size,
           (CASE WHEN l.did = l.group_id THEN 1 ELSE 0 END)::BIGINT
               AS is_keeper
    FROM labeled l JOIN sizes s USING (group_id)
    """


def pq_knn_sql(m: int = 8, ks: int = 16, k: int = 10, iters: int = 3) -> str:
    """Mirrors operators.pq.pq_knn (ADC, no rerank). The per-subspace
    Lloyd fit is the SAME numpy routine the Spark operator runs
    (pq.pq_fit_arrays on the base split — below the sample bound the two
    engines see identical inputs), embedded as a codebook literal behind
    the dataset discriminator. Encoding (argmin sub-centroid, ties →
    lowest code) and the ADC scan (ordered partial-distance sum, ties →
    lowest id) are replayed in SQL with the same elementwise arithmetic
    and summation order, so equal-code rows tie bit-exactly.
    """
    from vectordbindexing_spark.operators.pq import pq_fit_arrays

    arms = []
    dsub = None
    for key, ids, V in _embedding_datasets():
        bmask = ids % 10 != 0
        books = pq_fit_arrays(ids[bmask], V[bmask], m, ks, iters)
        dsub = books.shape[2]
        flat = books.reshape(m * ks, dsub)
        lit = "[" + ", ".join(_list_lit(row) for row in flat) + "]::DOUBLE[][]"
        arms.append(f"WHEN {key} THEN {lit}")
    books_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(arms) + " END"
    pd2 = (
        "list_sum(list_transform(list_slice(v, j*{d}+1, (j+1)*{d}), "
        "(x, i) -> (x - cv[i]) * (x - cv[i])))"
    ).format(d=dsub)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         p AS (SELECT {books_case} AS books),
         cb AS (SELECT (i - 1) // {ks} AS j, (i - 1) % {ks} AS c, cv
                FROM (SELECT unnest(books) AS cv,
                             generate_subscripts(books, 1) AS i
                      FROM p)),
         benc AS (
           SELECT id, j, c AS code FROM (
             SELECT b.id, cb.j, cb.c,
                    row_number() OVER (PARTITION BY b.id, cb.j
                                       ORDER BY {pd2}, cb.c) AS rnk
             FROM b, cb) WHERE rnk = 1),
         qtab AS (SELECT q.qid, cb.j, cb.c, {pd2} AS pdist
                  FROM q, cb),
         adc AS (SELECT qid, id,
                        list_sum(list(pdist ORDER BY qtab.j)) AS dist
                 FROM benc JOIN qtab
                   ON qtab.j = benc.j AND qtab.c = benc.code
                 GROUP BY qid, id),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY dist, id) AS rnk
               FROM adc)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM r WHERE rnk <= {k}
    """


def planner_sq8_knn_sql(k: int = 10) -> str:
    """Mirrors plans.knn_planner.knn routed to sq8 with metric='cosine'
    (approximate_ok + repeated_queries + memory_tight +
    recall_target=0.95, exact_base_limit=0): both sides unit-normalized
    (same list-ops normalization as the planner ivfpq oracle), the SQ8
    fit/encode/decode replayed from the normalized base with NO
    literals, the plan's rerank shortlist re-scored with exact L2, and
    the final distance rescaled to the cosine scale (dist²/2 on unit
    vectors) exactly as the planner branch computes it."""
    from vectordbindexing_spark.plans.knn_planner import plan_knn

    plan = plan_knn(
        1, 10**9, k, approximate_ok=True, repeated_queries=True,
        memory_tight=True, exact_base_limit=0, recall_target=0.95,
    )
    if plan.strategy != "sq8":
        raise RuntimeError(f"expected sq8 route, got {plan}")
    shortlist = max(k, plan.params["rerank"])
    return f"""
    WITH e AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 1e-12
                       THEN list_transform(
                                v0, x -> x / sqrt(list_inner_product(v0, v0)))
                       ELSE v0 END AS v
           FROM (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings)),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         dims AS (SELECT pos, min(x) AS mn, max(x) AS mx
                  FROM (SELECT unnest(v) AS x,
                               generate_subscripts(v, 1) AS pos
                        FROM b)
                  GROUP BY pos),
         p AS (SELECT list(mn ORDER BY pos) AS mns,
                      list(CASE WHEN mx > mn THEN 255.0 / (mx - mn)
                           ELSE 0.0 END ORDER BY pos) AS scales,
                      list(CASE WHEN mx > mn THEN (mx - mn) / 255.0
                           ELSE 0.0 END ORDER BY pos) AS invs
               FROM dims),
         dec AS (SELECT b.id,
                        list_transform(range(1, len(b.v) + 1),
                          i -> p.mns[i]
                               + least(greatest(floor((b.v[i] - p.mns[i])
                                                      * p.scales[i] + 0.5),
                                                0.0), 255.0)
                                 * p.invs[i]) AS dv
                 FROM b, p),
         d AS (SELECT q.qid, dec.id,
                      sqrt(greatest(
                        list_inner_product(q.v, q.v)
                        + list_inner_product(dec.dv, dec.dv)
                        - 2 * list_inner_product(q.v, dec.dv), 0.0)) AS dist
               FROM q, dec),
         sl AS (SELECT qid, id FROM (
                  SELECT qid, id,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY dist, id) AS rnk
                  FROM d) WHERE rnk <= {shortlist}),
         rr AS (SELECT s.qid, s.id,
                       sqrt(list_sum(list_transform(
                           qv.v, (x, i) -> (x - bv.v[i]) * (x - bv.v[i])
                       ))) AS dist
                FROM sl s
                JOIN q qv USING (qid)
                JOIN b bv ON bv.id = s.id),
         rfin AS (SELECT qid, id, dist,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY dist, id) AS rnk
                  FROM rr)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id,
           round(dist * dist / 2, 6) AS dist
    FROM rfin WHERE rnk <= {k}
    """


def bq_knn_sql(
    k: int = 10, shortlist: int = 100, bits_per_word: int = 32
) -> str:
    """Mirrors operators.bq.bq_knn with NO literals: per-dim midrange
    thresholds (min+max)/2 from the base split, packed sign-bit encode,
    Hamming shortlist via xor+bit_count (integer distances — exact tie
    semantics in both engines), then the exact-L2 rerank stage. The only
    float comparison is x >= thr on exactly-equal doubles; everything
    until the final rerank is integer arithmetic."""
    bpw = bits_per_word
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         dims AS (SELECT pos, min(x) AS mn, max(x) AS mx
                  FROM (SELECT unnest(v) AS x,
                               generate_subscripts(v, 1) AS pos
                        FROM b)
                  GROUP BY pos),
         p AS (SELECT list((mn + mx) / 2.0 ORDER BY pos) AS thr,
                      ((count(*) + {bpw} - 1) // {bpw})::BIGINT AS nwords
               FROM dims),
         benc AS (SELECT b.id,
                         list_transform(range(0, p.nwords), w ->
                           list_sum(list_transform(range(1, {bpw} + 1), i ->
                             CASE WHEN w * {bpw} + i <= len(b.v)
                                   AND b.v[(w * {bpw} + i)::INT]
                                       >= p.thr[(w * {bpw} + i)::INT]
                                  THEN (1::BIGINT << (i - 1)::INT)
                                  ELSE 0 END))) AS words
                  FROM b, p),
         qenc AS (SELECT q.qid,
                         list_transform(range(0, p.nwords), w ->
                           list_sum(list_transform(range(1, {bpw} + 1), i ->
                             CASE WHEN w * {bpw} + i <= len(q.v)
                                   AND q.v[(w * {bpw} + i)::INT]
                                       >= p.thr[(w * {bpw} + i)::INT]
                                  THEN (1::BIGINT << (i - 1)::INT)
                                  ELSE 0 END))) AS words
                  FROM q, p),
         ham AS (SELECT qe.qid, be.id,
                        list_sum(list_transform(
                          range(1, len(qe.words) + 1),
                          w -> bit_count(xor(qe.words[w::INT],
                                             be.words[w::INT]))::BIGINT
                        )) AS hd
                 FROM qenc qe, benc be),
         sl AS (SELECT qid, id FROM (
                  SELECT qid, id,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY hd, id) AS rnk
                  FROM ham) WHERE rnk <= {shortlist}),
         rr AS (SELECT s.qid, s.id,
                       sqrt(list_sum(list_transform(
                           qv.v, (x, i) -> (x - bv.v[i]) * (x - bv.v[i])
                       ))) AS dist
                FROM sl s
                JOIN q qv USING (qid)
                JOIN b bv ON bv.id = s.id),
         rfin AS (SELECT qid, id, dist,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY dist, id) AS rnk
                  FROM rr)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM rfin WHERE rnk <= {k}
    """


def opq_knn_sql(
    m: int = 8, ks: int = 16, k: int = 10,
    opq_iters: int = 3, pq_iters: int = 3,
) -> str:
    """Mirrors operators.opq.opq_knn (ADC, no rerank): the rotation R
    and the codebooks — both produced by the SAME opq_fit_arrays the
    Spark operator runs on the base split — embed as literals behind
    the dataset discriminator; SQL then rotates every vector
    (rotated_j = list_inner_product(v, R_col_j)) and replays the PQ
    encode + ADC pipeline on the rotated space. Rotated values differ
    from numpy's BLAS matmul only in final-ulp summation order,
    absorbed by round(dist, 6)."""
    from vectordbindexing_spark.operators.opq import opq_fit_arrays

    book_arms, rot_arms = [], []
    dsub = None
    for key, ids, V in _embedding_datasets():
        bmask = ids % 10 != 0
        R, books = opq_fit_arrays(
            ids[bmask], V[bmask], m, ks, opq_iters, pq_iters
        )
        dsub = books.shape[2]
        flat = books.reshape(m * ks, dsub)
        blit = "[" + ", ".join(_list_lit(row) for row in flat) + "]::DOUBLE[][]"
        rlit = (
            "["
            + ", ".join(_list_lit(R[:, j]) for j in range(R.shape[1]))
            + "]::DOUBLE[][]"
        )
        book_arms.append(f"WHEN {key} THEN {blit}")
        rot_arms.append(f"WHEN {key} THEN {rlit}")
    books_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(book_arms) + " END"
    rot_case = f"CASE {EMB_DISCRIMINATOR_SQL} " + " ".join(rot_arms) + " END"
    pd2 = (
        "list_sum(list_transform(list_slice(v, j*{d}+1, (j+1)*{d}), "
        "(x, i) -> (x - cv[i]) * (x - cv[i])))"
    ).format(d=dsub)
    return f"""
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         rot AS (SELECT {rot_case} AS rc),
         e AS (SELECT vec_id,
                      list_transform(range(1, len(v0) + 1),
                                     j -> list_inner_product(v0, rc[j])) AS v
               FROM e0, rot),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         p AS (SELECT {books_case} AS books),
         cb AS (SELECT (i - 1) // {ks} AS j, (i - 1) % {ks} AS c, cv
                FROM (SELECT unnest(books) AS cv,
                             generate_subscripts(books, 1) AS i
                      FROM p)),
         benc AS (
           SELECT id, j, c AS code FROM (
             SELECT b.id, cb.j, cb.c,
                    row_number() OVER (PARTITION BY b.id, cb.j
                                       ORDER BY {pd2}, cb.c) AS rnk
             FROM b, cb) WHERE rnk = 1),
         qtab AS (SELECT q.qid, cb.j, cb.c, {pd2} AS pdist
                  FROM q, cb),
         adc AS (SELECT qid, id,
                        list_sum(list(pdist ORDER BY qtab.j)) AS dist
                 FROM benc JOIN qtab
                   ON qtab.j = benc.j AND qtab.c = benc.code
                 GROUP BY qid, id),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY dist, id) AS rnk
               FROM adc)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM r WHERE rnk <= {k}
    """


def sq8_knn_sql(k: int = 10) -> str:
    """Mirrors operators.sq.sq8_knn (no rerank) with NO literals: SQ8
    has no trained codebook, so the oracle recomputes the whole pipeline
    from the raw table — per-dim min/max over the base split, the
    encode transform clip(floor((x-min)*255/(max-min)+0.5), 0, 255),
    decode min + code*(max-min)/255, and asymmetric L2 in the same
    expanded form as the exact-KNN oracle. Codes and decoded values are
    the same IEEE expression tree in both engines (bit-exact); only the
    inner-product summation order differs, absorbed by round(dist, 6).
    """
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 10 <> 0),
         dims AS (SELECT pos, min(x) AS mn, max(x) AS mx
                  FROM (SELECT unnest(v) AS x,
                               generate_subscripts(v, 1) AS pos
                        FROM b)
                  GROUP BY pos),
         p AS (SELECT list(mn ORDER BY pos) AS mns,
                      list(CASE WHEN mx > mn THEN 255.0 / (mx - mn)
                           ELSE 0.0 END ORDER BY pos) AS scales,
                      list(CASE WHEN mx > mn THEN (mx - mn) / 255.0
                           ELSE 0.0 END ORDER BY pos) AS invs
               FROM dims),
         dec AS (SELECT b.id,
                        list_transform(range(1, len(b.v) + 1),
                          i -> p.mns[i]
                               + least(greatest(floor((b.v[i] - p.mns[i])
                                                      * p.scales[i] + 0.5),
                                                0.0), 255.0)
                                 * p.invs[i]) AS dv
                 FROM b, p),
         d AS (SELECT q.qid, dec.id,
                      sqrt(greatest(
                        list_inner_product(q.v, q.v)
                        + list_inner_product(dec.dv, dec.dv)
                        - 2 * list_inner_product(q.v, dec.dv), 0.0)) AS dist
               FROM q, dec),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY dist, id) AS rnk
               FROM d)
    SELECT qid, rnk AS nbr_rank, id AS neighbor_id, round(dist, 6) AS dist
    FROM r WHERE rnk <= {k}
    """


def _values_lit(v) -> str:
    """SQL literal for a pinned media value: ints verbatim, floats via
    repr (17-sig-digit round-trip, so DuckDB parses the exact double
    the Spark kernel produced)."""
    if isinstance(v, bool):
        raise TypeError("no boolean media columns")
    if isinstance(v, int):
        return str(v)
    return repr(float(v))


def _pinned_media_sql(rows, cols, types, id_col, id_limit) -> str:
    """Pinned-literal oracle for a media contract query: the expected
    rows (precomputed driver-side by the SAME pure codec code the
    executors run — operators/media_demo.py) join to the documents ids
    the Spark query reads, so row membership still comes from the
    table and the values come from the pin. This is the trained-state
    technique of EMB_DISCRIMINATOR_SQL applied to codec outputs; it
    upgrades the media queries from rows-only to full hash gates."""
    vals = ", ".join(
        "(" + ", ".join(_values_lit(r[c]) for c in cols) + ")"
        for r in rows
    )
    proj = ", ".join(
        f"e.{c}::{t} AS {c}" for c, t in zip(cols, types)
    )
    return f"""
    WITH expected({", ".join(cols)}) AS (VALUES {vals})
    SELECT {proj}
    FROM expected e
    JOIN (SELECT doc_id FROM documents WHERE doc_id < {id_limit}) d
      ON d.doc_id = e.{id_col}
    """


@functools.lru_cache(maxsize=None)
def media_jpeg_sql() -> str:
    from vectordbindexing_spark.operators.media_demo import jpeg_demo_stats

    rows = [jpeg_demo_stats(i) for i in range(64)]
    return _pinned_media_sql(
        rows,
        ["doc_id", "width", "height", "mean_intensity", "jpeg_bytes"],
        ["BIGINT", "INT", "INT", "DOUBLE", "INT"],
        "doc_id",
        64,
    )


@functools.lru_cache(maxsize=None)
def media_wav_sql() -> str:
    from vectordbindexing_spark.operators.media_demo import wav_demo_stats

    rows = [wav_demo_stats(i) for i in range(64)]
    return _pinned_media_sql(
        rows,
        ["media_id", "sample_rate", "n_samples", "duration_s", "rms",
         "zero_cross_rate", "spectral_centroid_hz"],
        ["BIGINT", "BIGINT", "BIGINT", "DOUBLE", "DOUBLE", "DOUBLE",
         "DOUBLE"],
        "media_id",
        64,
    )


@functools.lru_cache(maxsize=None)
def media_video_sql() -> str:
    from vectordbindexing_spark.operators.media_demo import video_demo_stats

    rows = [video_demo_stats(i) for i in range(32)]
    return _pinned_media_sql(
        rows,
        ["media_id", "n_frames", "fps", "duration_s", "width", "height",
         "mean_luma", "motion"],
        ["BIGINT", "BIGINT", "DOUBLE", "DOUBLE", "INT", "INT", "DOUBLE",
         "DOUBLE"],
        "media_id",
        32,
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bm25_sql_ctes(
    queries: list[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    docs_src: str = "documents",
) -> str:
    """CTE block computing per-(query, doc) BM25 scores — the exact
    expression-tree twin of ``operators.retrieval.bm25_topk`` (same
    left-associated double arithmetic, term-ordered float fold, float
    constants as python-repr ``::DOUBLE`` literals). Emits CTE ``bm_sc``
    (query_id, doc_id, score, n_terms)."""
    from vectordbindexing_spark.operators.retrieval import _query_terms

    qterms = _query_terms(queries)
    terms = sorted({t for _, t in qterms})
    term_in = ", ".join(_sql_str(t) for t in terms)
    qt_vals = ", ".join(f"({qid}, {_sql_str(t)})" for qid, t in qterms)
    toks = WORDS_SQL.format(t="lower(coalesce(text, ''))")
    k1p1, k1r, br = repr(k1 + 1.0), repr(k1), repr(b)
    return f"""
    bm_d AS (SELECT doc_id, {toks} AS toks FROM {docs_src}),
    bm_s AS (SELECT count(*)::BIGINT AS n_docs,
                    sum(len(toks))::BIGINT AS sum_dl FROM bm_d),
    bm_occ AS (SELECT doc_id, len(toks)::BIGINT AS dl,
                      unnest(toks) AS term FROM bm_d),
    bm_tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
              FROM bm_occ WHERE term IN ({term_in})
              GROUP BY doc_id, term),
    bm_df AS (SELECT term, count(*)::BIGINT AS df FROM bm_tf GROUP BY term),
    bm_qt AS (SELECT query_id::BIGINT AS query_id, term
              FROM (VALUES {qt_vals}) AS q(query_id, term)),
    bm_c AS (SELECT bm_qt.query_id, bm_tf.doc_id, bm_tf.term,
                    ln(1.0::DOUBLE + (bm_s.n_docs::DOUBLE - bm_df.df
                                      + 0.5::DOUBLE)
                                   / (bm_df.df::DOUBLE + 0.5::DOUBLE))
                    * (bm_tf.tf::DOUBLE * {k1p1}::DOUBLE)
                    / (bm_tf.tf::DOUBLE
                       + {k1r}::DOUBLE
                         * (1.0::DOUBLE - {br}::DOUBLE
                            + {br}::DOUBLE * bm_tf.dl::DOUBLE
                              * bm_s.n_docs::DOUBLE / bm_s.sum_dl::DOUBLE))
                    AS cv
             FROM bm_tf JOIN bm_df USING (term) JOIN bm_qt USING (term)
             CROSS JOIN bm_s),
    bm_sc AS (SELECT query_id, doc_id,
                     round(list_sum(list(cv ORDER BY term)), 6) AS score,
                     count(*)::BIGINT AS n_terms
              FROM bm_c GROUP BY query_id, doc_id)"""


def bm25_topk_sql(
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Full-replay oracle for retrieval.bm25_topk on ``documents``."""
    return f"""
    WITH {bm25_sql_ctes(queries, k1, b)},
    bm_r AS (SELECT query_id, doc_id, score, n_terms,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id)::BIGINT
                      AS rank
             FROM bm_sc)
    SELECT query_id, rank, doc_id, score, n_terms
    FROM bm_r WHERE rank <= {k}
    """


def rrf_fuse_sql(ranklists_cte: str, k_rrf: int = 60, topk: int = 10) -> str:
    """Fusion tail over a CTE ``{ranklists_cte}`` (query_id, src, rank,
    doc_id): score = Σ 1/(k_rrf + rank) folded in SOURCE order, exactly
    like retrieval.rrf_fuse."""
    return f"""
    rrf_c AS (SELECT query_id, doc_id, src,
                     1.0::DOUBLE / ({repr(float(k_rrf))}::DOUBLE
                                    + rank::DOUBLE) AS cv
              FROM {ranklists_cte}),
    rrf_f AS (SELECT query_id, doc_id,
                     round(list_sum(list(cv ORDER BY src)), 6) AS rrf_score,
                     count(*)::BIGINT AS n_sources
              FROM rrf_c GROUP BY query_id, doc_id),
    rrf_r AS (SELECT query_id, doc_id, rrf_score, n_sources,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf_score DESC,
                                                 doc_id)::BIGINT AS rank
              FROM rrf_f)"""


def pagerank_sql(
    edges_sql: str,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """Full-replay oracle for ``operators.pagerank.pagerank``:
    ``edges_sql`` is a SELECT producing (src, dst). Unrolls the same
    fixed rounds with source-id-ordered contribution folds and the
    identical repr-literal damping constants — per-node ranks are
    bit-exact before the final round(·, 6)."""
    base, d = repr(1.0 - damping), repr(damping)
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f"""
    pr_inc{k} AS (SELECT e.dst,
                     list_sum(list(r.rank / r.out_deg::DOUBLE ORDER BY r.id))
                       AS s
              FROM pr_e e JOIN pr_r{k - 1} r ON e.src = r.id
              GROUP BY e.dst),
    pr_r{k} AS MATERIALIZED (SELECT r.id, r.out_deg, r.n,
                   {base}::DOUBLE / r.n::DOUBLE
                   + {d}::DOUBLE * coalesce(i.s, 0.0::DOUBLE) AS rank
            FROM pr_r{k - 1} r LEFT JOIN pr_inc{k} i ON r.id = i.dst)""")
    return f"""
    WITH pr_e0 AS MATERIALIZED (SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst
                   FROM ({edges_sql})
                   WHERE src IS NOT NULL AND dst IS NOT NULL),
    pr_nodes AS (SELECT src AS id FROM pr_e0
                 UNION SELECT dst FROM pr_e0),
    pr_e AS MATERIALIZED (SELECT * FROM pr_e0
             UNION ALL
             SELECT id, id FROM pr_nodes
             WHERE id NOT IN (SELECT src FROM pr_e0)),
    pr_deg AS (SELECT src, count(*)::BIGINT AS out_deg
               FROM pr_e GROUP BY src),
    pr_n AS (SELECT count(*)::BIGINT AS n FROM pr_nodes),
    pr_r0 AS (SELECT d.src AS id, d.out_deg, pr_n.n,
                     1.0::DOUBLE / pr_n.n::DOUBLE AS rank
              FROM pr_deg d CROSS JOIN pr_n),
    {",".join(rounds)}
    SELECT id, round(rank * n::DOUBLE, 6) AS rank_x_n, out_deg
    FROM pr_r{iters}
    """


def weighted_sample_sql(
    n: int,
    weight_sql: str,
    id_sql: str = "doc_id",
    temperature: float = 1.0,
    strata_sql: str | None = None,
    docs_src: str = "documents",
) -> str:
    """Full-replay oracle for ``sampling.weighted_sample``: identical
    A-ES key expression (md5₆₀ pseudo-uniform, ln/pow through one
    shared tree, repr ::DOUBLE literals, round-6 before ranking)."""
    inv_t = repr(1.0 / temperature)
    two60 = repr(2.0**60)
    h = DET_HASH60_SQL.format(s=f"({id_sql})::VARCHAR")
    key = (
        f"round(ln(-ln(({h} + 1)::DOUBLE / {two60}::DOUBLE))"
        f" - {inv_t}::DOUBLE * ln(({weight_sql})::DOUBLE), 6)"
    )
    strata_out = f", {strata_sql} AS stratum" if strata_sql else ""
    part = f"PARTITION BY {strata_sql} " if strata_sql else ""
    return f"""
    WITH ws AS (SELECT {id_sql}{strata_out},
                       ({weight_sql})::DOUBLE AS weight,
                       {key} AS sample_key
                FROM {docs_src}
                WHERE {weight_sql} IS NOT NULL AND {weight_sql} > 0),
    wr AS (SELECT *, row_number() OVER ({part}ORDER BY sample_key,
                                        {id_sql})::BIGINT AS sample_rank
           FROM ws)
    SELECT * FROM wr WHERE sample_rank <= {n}
    """


def knn_mutual_edges_cte(
    k: int = 8, max_degree: int = 12, id_limit: int = 1200
) -> str:
    """CTE body producing the capped mutual-kNN edge set (src, dst) over
    the ``vec_id < id_limit`` embeddings slice — the same construction
    as :func:`knn_graph_degree_stats_sql` (knn_graph → mutualize),
    reused as the deterministic input graph of the graph-analytics
    oracles (triangles, k-core). Returned string is a parenthesized
    SELECT usable as a subquery."""
    return f"""(
    WITH tg_e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id < {id_limit}),
         tg_d AS (SELECT q.id AS src, b.id AS dst,
                         1.0 - list_inner_product(q.v, b.v) /
                         (sqrt(list_inner_product(q.v,q.v)) *
                          sqrt(list_inner_product(b.v,b.v))) AS dist
                  FROM tg_e q JOIN tg_e b ON q.id <> b.id),
         tg_knn AS (SELECT src, dst, dist,
                           row_number() OVER (PARTITION BY src
                                              ORDER BY dist, dst) AS rnk
                    FROM tg_d),
         tg_g AS (SELECT src, dst, dist FROM tg_knn WHERE rnk <= {k}),
         tg_sym AS (SELECT src, dst, min(dist) AS dist FROM
                      (SELECT src, dst, dist FROM tg_g
                       UNION ALL SELECT dst AS src, src AS dst, dist FROM tg_g)
                    GROUP BY src, dst),
         tg_cap AS (SELECT src, dst FROM
                      (SELECT src, dst,
                              row_number() OVER (PARTITION BY src
                                                 ORDER BY dist, dst) AS rnk
                       FROM tg_sym) WHERE rnk <= {max_degree})
    SELECT src, dst FROM tg_cap
    )"""


def triangle_counts_sql(edges_sql: str) -> str:
    """Full-replay oracle for ``operators.triangles.triangle_counts``:
    identical canonicalization, (degree, id) orientation, wedge close,
    and the single final IEEE division — all-integer until round(·,6)."""
    return f"""
    WITH tr_raw AS (SELECT src::BIGINT AS s, dst::BIGINT AS d
                    FROM ({edges_sql})
                    WHERE src IS NOT NULL AND dst IS NOT NULL
                      AND src <> dst),
    tr_und AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
               FROM tr_raw),
    tr_sym AS MATERIALIZED (SELECT a AS u, b AS v FROM tr_und
               UNION ALL SELECT b, a FROM tr_und),
    tr_deg AS MATERIALIZED (SELECT u AS id, count(*)::BIGINT AS degree
               FROM tr_sym GROUP BY u),
    tr_rank AS (SELECT t.a, t.b, da.degree AS dega, db.degree AS degb
                FROM tr_und t
                JOIN tr_deg da ON t.a = da.id
                JOIN tr_deg db ON t.b = db.id),
    tr_or AS MATERIALIZED (SELECT
                CASE WHEN (dega < degb) OR (dega = degb AND a < b)
                     THEN a ELSE b END AS src,
                CASE WHEN (dega < degb) OR (dega = degb AND a < b)
                     THEN b ELSE a END AS dst,
                CASE WHEN (dega < degb) OR (dega = degb AND a < b)
                     THEN degb ELSE dega END AS ddeg
              FROM tr_rank),
    tr_wedge AS MATERIALIZED (SELECT e1.src AS tu, e1.dst AS tv, e2.dst AS tw
                 FROM tr_or e1 JOIN tr_or e2 ON e1.src = e2.src
                 WHERE (e1.ddeg < e2.ddeg)
                    OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
    tr_tri AS MATERIALIZED (SELECT tu, tv, tw FROM tr_wedge w
               WHERE EXISTS (SELECT 1 FROM tr_or e3
                             WHERE e3.src = w.tv AND e3.dst = w.tw)),
    tr_corner AS (SELECT tu AS id FROM tr_tri
                  UNION ALL SELECT tv FROM tr_tri
                  UNION ALL SELECT tw FROM tr_tri),
    tr_cnt AS (SELECT id, count(*)::BIGINT AS triangles
               FROM tr_corner GROUP BY id)
    SELECT g.id, g.degree,
           coalesce(c.triangles, 0)::BIGINT AS triangles,
           CASE WHEN g.degree >= 2
                THEN round((2 * coalesce(c.triangles, 0))::DOUBLE
                           / (g.degree * (g.degree - 1))::DOUBLE, 6)
                ELSE 0.0::DOUBLE END AS clustering
    FROM tr_deg g LEFT JOIN tr_cnt c ON g.id = c.id
    """


def kcore_sql(edges_sql: str, k: int, rounds: int = 16) -> str:
    """Fixed-unroll oracle for ``operators.triangles.kcore``: ``rounds``
    peel rounds (idempotent past the fixed point, so it equals Spark's
    early-exit result whenever the peel converges within ``rounds``).
    All-integer.

    Every round CTE is ``AS MATERIALIZED``: each round references its
    predecessor twice (degree probe + edge filter), so DuckDB's default
    CTE inlining would expand the chain into 2^rounds copies of the
    base scan — measured as a "too many open files" blowup at 16
    rounds before materialization pinned each round to run once."""
    parts = []
    for r in range(1, rounds + 1):
        parts.append(f"""
    kc_keep{r} AS MATERIALIZED (SELECT u AS id FROM kc_s{r - 1}
                   GROUP BY u HAVING count(*) >= {k}),
    kc_s{r} AS MATERIALIZED (SELECT s.u, s.v FROM kc_s{r - 1} s
                WHERE s.u IN (SELECT id FROM kc_keep{r})
                  AND s.v IN (SELECT id FROM kc_keep{r}))""")
    return f"""
    WITH kc_raw AS (SELECT src::BIGINT AS s, dst::BIGINT AS d
                    FROM ({edges_sql})
                    WHERE src IS NOT NULL AND dst IS NOT NULL
                      AND src <> dst),
    kc_und AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a,
                                   greatest(s, d) AS b
               FROM kc_raw),
    kc_s0 AS MATERIALIZED (SELECT a AS u, b AS v FROM kc_und
              UNION ALL SELECT b, a FROM kc_und),
    {",".join(parts)}
    SELECT u AS id, count(*)::BIGINT AS core_degree
    FROM kc_s{rounds} GROUP BY u
    """


def maxsim_topk_sql(
    k: int = 10,
    n_queries: int = 4,
    n_qtokens: int = 4,
    n_docs: int = 250,
    doc_sql: str | None = None,
    query_sql: str | None = None,
) -> str:
    """Full-replay oracle for ``retrieval.maxsim_topk`` (late-interaction
    MaxSim). Defaults mirror the contract harness: doc tokens are the
    embeddings table grouped ``vec_id % n_docs``; query tokens are the
    ``vec_id < n_queries·n_qtokens`` slice (query_id = vec_id %
    n_queries, qpos = vec_id // n_queries). Each dot product is the
    position-ordered sequential fold (`list_sum(list_transform(...))`
    == Spark `aggregate(zip_with(·,·,*), 0.0, +)`), MAX is selection,
    the qpos fold is ordered, one round(·, 6) after the fold."""
    dsql = doc_sql or (
        f"SELECT (vec_id % {n_docs})::BIGINT AS doc_id, "
        f"embedding::DOUBLE[] AS v FROM embeddings"
    )
    qsql = query_sql or (
        f"SELECT (vec_id % {n_queries})::BIGINT AS query_id, "
        f"(vec_id // {n_queries})::BIGINT AS qpos, "
        f"embedding::DOUBLE[] AS v FROM embeddings "
        f"WHERE vec_id < {n_queries * n_qtokens}"
    )
    return f"""
    WITH ms_d AS ({dsql}),
         ms_q AS ({qsql}),
         ms_dot AS (SELECT q.query_id, q.qpos, d.doc_id,
                           list_sum(list_transform(q.v,
                             (x, i) -> x * d.v[i])) AS dp
                    FROM ms_q q, ms_d d),
         ms_max AS (SELECT query_id, qpos, doc_id, max(dp) AS m
                    FROM ms_dot GROUP BY query_id, qpos, doc_id),
         ms_sc AS (SELECT query_id, doc_id,
                          round(list_sum(list(m ORDER BY qpos)), 6) AS score
                   FROM ms_max GROUP BY query_id, doc_id),
         ms_r AS (SELECT query_id, doc_id, score,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY score DESC, doc_id)
                           AS rank
                  FROM ms_sc)
    SELECT query_id, rank, doc_id, score FROM ms_r WHERE rank <= {k}
    """


COHORT_RETENTION_SQL = """
WITH cr_f AS (SELECT user_id AS uid, min(ts::DATE) AS cohort_day
              FROM events WHERE event_type = 'purchase' GROUP BY user_id),
     cr_j AS (SELECT e.user_id AS uid, e.ts::DATE AS day, f.cohort_day
              FROM events e JOIN cr_f f ON e.user_id = f.uid)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, day)::BIGINT AS offset_days,
       count(DISTINCT uid)::BIGINT AS n_users
FROM cr_j
WHERE date_diff('day', cohort_day, day) >= 0
GROUP BY cr_j.cohort_day, date_diff('day', cr_j.cohort_day, day)
"""


TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


TPCH_Q13_SQL = """
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority = '1-URGENT'
  GROUP BY c.c_custkey)
SELECT c_count, count(*)::BIGINT AS custdist
FROM c_orders GROUP BY c_count
"""


TPCH_Q22_SQL = """
WITH thr AS (SELECT round(sum(c_acctbal) / count(*), 6) AS t
             FROM customer WHERE c_acctbal > 0.0::DOUBLE)
SELECT c_nationkey::BIGINT AS c_nationkey,
       count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c, thr
WHERE c.c_acctbal > thr.t
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def mmr_rerank_sql(cand_sql: str, k: int = 5, lam: float = 0.5) -> str:
    """Full-replay oracle for ``operators.mmr.mmr_rerank``: the k greedy
    selections unroll as CTEs. ``cand_sql`` must produce (query_id,
    doc_id, rel, v DOUBLE[]). Rank 1 = argmax rel; each later step
    scores λ·rel − (1−λ)·max-cosine-to-selected through the identical
    expression tree as the Spark kernel (sequential list_sum folds,
    repr ::DOUBLE literals, raw-double ordering, doc-id ties),
    round(·, 6) only at output."""
    lam_r = repr(float(lam))
    sim = (
        "list_sum(list_transform(r.v, (x, i) -> x * s.v[i])) / "
        "(sqrt(list_sum(list_transform(r.v, (x, i) -> x * x))) * "
        "sqrt(list_sum(list_transform(s.v, (x, i) -> x * x))))"
    )
    score = f"{lam_r}::DOUBLE * rel - (1.0::DOUBLE - {lam_r}::DOUBLE) * msim"
    parts = [f"""
    mmr_c AS ({cand_sql}),
    mmr_sel1 AS (SELECT query_id, doc_id, rel, v, rel AS score,
                        1::BIGINT AS rank
                 FROM (SELECT c.*, row_number() OVER (
                         PARTITION BY query_id ORDER BY rel DESC, doc_id)
                         AS rn FROM mmr_c c) WHERE rn = 1),
    mmr_u1 AS (SELECT * FROM mmr_sel1)"""]
    for t in range(2, k + 1):
        parts.append(f""",
    mmr_ms{t} AS (SELECT r.query_id, r.doc_id, r.rel, r.v,
                    (SELECT max({sim}) FROM mmr_u{t - 1} s
                     WHERE s.query_id = r.query_id) AS msim
                  FROM mmr_c r
                  WHERE NOT EXISTS (SELECT 1 FROM mmr_u{t - 1} u
                                    WHERE u.query_id = r.query_id
                                      AND u.doc_id = r.doc_id)),
    mmr_sel{t} AS (SELECT query_id, doc_id, rel, v, {score} AS score,
                          {t}::BIGINT AS rank
                   FROM (SELECT m.*, row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY {score} DESC, doc_id) AS rn
                         FROM mmr_ms{t} m) WHERE rn = 1),
    mmr_u{t} AS (SELECT * FROM mmr_u{t - 1}
                 UNION ALL SELECT * FROM mmr_sel{t})""")
    return (
        "\n    WITH " + "".join(parts)
        + f"""
    SELECT query_id, rank, doc_id, round(score, 6) AS mmr_score
    FROM mmr_u{k}
    """
    )


def label_propagation_sql(
    edges_sql: str, seeds_sql: str, iters: int = 3
) -> str:
    """Fixed-unroll oracle for ``operators.labelprop.label_propagation``:
    ``seeds_sql`` produces (id, label). Same canonicalization, clamped
    seeds, neighbor-mode update with (count DESC, label ASC) ties —
    all-integer. Round CTEs are MATERIALIZED (each is referenced by
    the count join AND the carry-forward of the next round)."""
    parts = []
    for r in range(1, iters + 1):
        parts.append(f""",
    lp_cnt{r} AS (SELECT e.u AS nid, c.label AS nlabel,
                         count(*)::BIGINT AS c
                  FROM lp_sym e JOIN lp_c{r - 1} c ON e.v = c.id
                  WHERE c.label >= 0
                  GROUP BY e.u, c.label),
    lp_mode{r} AS (SELECT nid AS id, nlabel AS mode_l FROM (
                     SELECT nid, nlabel,
                            row_number() OVER (PARTITION BY nid
                                               ORDER BY c DESC, nlabel) AS rn
                     FROM lp_cnt{r}) WHERE rn = 1),
    lp_c{r} AS MATERIALIZED (
        SELECT c.id, c.seed_label,
               coalesce(c.seed_label, m.mode_l, c.label) AS label
        FROM lp_c{r - 1} c LEFT JOIN lp_mode{r} m USING (id))""")
    return f"""
    WITH lp_raw AS (SELECT src::BIGINT AS s, dst::BIGINT AS d
                    FROM ({edges_sql})
                    WHERE src IS NOT NULL AND dst IS NOT NULL
                      AND src <> dst),
    lp_und AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a,
                                   greatest(s, d) AS b FROM lp_raw),
    lp_sym AS MATERIALIZED (SELECT a AS u, b AS v FROM lp_und
                            UNION ALL SELECT b, a FROM lp_und),
    lp_seed AS MATERIALIZED (SELECT id::BIGINT AS id,
                                    label::BIGINT AS seed_label
                             FROM ({seeds_sql}) WHERE label IS NOT NULL),
    lp_c0 AS MATERIALIZED (
        SELECT n.id, s.seed_label,
               coalesce(s.seed_label, (-1)::BIGINT) AS label
        FROM (SELECT DISTINCT u AS id FROM lp_sym) n
        LEFT JOIN lp_seed s USING (id))
    {"".join(parts)}
    SELECT id, label,
           (CASE WHEN seed_label IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS is_seed
    FROM lp_c{iters}
    """


def mine_triplets_sql(k_neg: int = 5, metric: str = "cosine") -> str:
    """Full-replay oracle for ``operators.mining.mine_triplets`` on the
    embeddings table: same-label nearest positive (self excluded),
    different-label top-k negatives, margin from RAW dists through one
    shared tree, round(·, 6) at output only."""
    d = KNN_DIST_SQL[metric]
    return f"""
    WITH mt_e AS MATERIALIZED (
           SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                  label::BIGINT AS label
           FROM embeddings
           WHERE label IS NOT NULL AND embedding IS NOT NULL),
    mt_p AS (SELECT q.id AS anchor_id, q.label AS anchor_label,
                    b.id AS pos_id, {d.replace('q.v', 'q.v')} AS dist,
                    row_number() OVER (PARTITION BY q.id
                                       ORDER BY {d}, b.id) AS rn
             FROM mt_e q JOIN mt_e b
               ON q.label = b.label AND q.id <> b.id),
    mt_pos AS (SELECT anchor_id, anchor_label, pos_id, dist
               FROM mt_p WHERE rn = 1),
    mt_n AS (SELECT q.id AS anchor_id, b.id AS neg_id, {d} AS dist,
                    row_number() OVER (PARTITION BY q.id
                                       ORDER BY {d}, b.id) AS rn
             FROM mt_e q JOIN mt_e b ON q.label <> b.label),
    mt_neg AS (SELECT anchor_id, neg_id, dist, rn
               FROM mt_n WHERE rn <= {k_neg})
    SELECT p.anchor_id, p.anchor_label, p.pos_id,
           round(p.dist, 6) AS pos_dist,
           n.rn AS neg_rank, n.neg_id,
           round(n.dist, 6) AS neg_dist,
           round(n.dist - p.dist, 6) AS margin
    FROM mt_pos p JOIN mt_neg n USING (anchor_id)
    """


def random_walks_sql(
    edges_sql: str, walk_len: int = 8, walks_per_node: int = 1
) -> str:
    """Full-replay oracle for ``operators.walks.random_walks``: identical
    canonicalization, dst-ordered neighbor ranking, and per-step
    md5(walk_id:step:node) mod degree choice. Step CTEs MATERIALIZED
    (each feeds both the output union and the next step)."""
    from vectordbindexing_spark.functions.hashing import DET_HASH64_SQL

    parts, outs = [], ["SELECT walk_id, 0::BIGINT AS step, node FROM wk_c0"]
    for t in range(1, walk_len + 1):
        h = DET_HASH64_SQL.format(
            s=f"c.walk_id::VARCHAR || ':{t}:' || c.node::VARCHAR"
        )
        parts.append(f""",
    wk_c{t} AS MATERIALIZED (
        SELECT c.walk_id, n.v AS node
        FROM wk_c{t - 1} c JOIN wk_nbr n
          ON n.u = c.node AND n.rnk = 1 + ({h} % n.deg))""")
        outs.append(
            f"SELECT walk_id, {t}::BIGINT AS step, node FROM wk_c{t}"
        )
    return f"""
    WITH wk_raw AS (SELECT src::BIGINT AS s, dst::BIGINT AS d
                    FROM ({edges_sql})
                    WHERE src IS NOT NULL AND dst IS NOT NULL
                      AND src <> dst),
    wk_und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
               FROM wk_raw),
    wk_sym AS (SELECT a AS u, b AS v FROM wk_und
               UNION ALL SELECT b, a FROM wk_und),
    wk_nbr AS MATERIALIZED (
        SELECT u, v,
               row_number() OVER (PARTITION BY u ORDER BY v)::BIGINT AS rnk,
               count(*) OVER (PARTITION BY u)::BIGINT AS deg
        FROM wk_sym),
    wk_c0 AS MATERIALIZED (
        SELECT (u * {walks_per_node} + w.w)::BIGINT AS walk_id, u AS node
        FROM (SELECT DISTINCT u FROM wk_nbr) n,
             unnest(range(0, {walks_per_node})) AS w(w))
    {"".join(parts)}
    {" UNION ALL ".join(outs)}
    """


def tfidf_top_terms_sql(k: int = 5, docs_src: str = "documents") -> str:
    """Full-replay oracle for ``retrieval.tfidf_top_terms``: same
    tokenizer (WORDS_SQL), df as a window over the distinct (doc, term)
    tf rows, identical score tree, round(·, 6), (score DESC, term)
    ranking."""
    toks = WORDS_SQL.format(t="lower(coalesce(text, ''))")
    return f"""
    WITH ti_d AS (SELECT doc_id, {toks} AS toks FROM {docs_src}),
    ti_n AS (SELECT count(*)::BIGINT AS n_docs FROM ti_d),
    ti_occ AS (SELECT doc_id, unnest(toks) AS term FROM ti_d),
    ti_tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
              FROM ti_occ GROUP BY doc_id, term),
    ti_w AS (SELECT doc_id, term, tf,
                    count(*) OVER (PARTITION BY term)::BIGINT AS df
             FROM ti_tf),
    ti_sc AS (SELECT doc_id, term, tf, df,
                     round(tf::DOUBLE * ln(1.0::DOUBLE
                           + n.n_docs::DOUBLE / df::DOUBLE), 6) AS score
              FROM ti_w, ti_n n),
    ti_r AS (SELECT doc_id, term, tf, df, score,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term)::BIGINT
                      AS rank
             FROM ti_sc)
    SELECT doc_id, rank, term, score, tf, df FROM ti_r WHERE rank <= {k}
    """


def personalized_pagerank_sql(
    edges_sql: str,
    seeds_sql: str,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """Full-replay oracle for ``pagerank.personalized_pagerank``:
    ``seeds_sql`` produces (id). Same fixed rounds, seed-only teleport,
    source-ordered folds, repr damping literals; MATERIALIZED round
    CTEs (each feeds the contribution join and the carry)."""
    base, d = repr(1.0 - damping), repr(damping)
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f"""
    ppr_inc{k} AS (SELECT e.dst,
                      list_sum(list(r.rank / r.out_deg::DOUBLE ORDER BY r.id))
                        AS s
               FROM ppr_e e JOIN ppr_r{k - 1} r ON e.src = r.id
               GROUP BY e.dst),
    ppr_r{k} AS MATERIALIZED (
        SELECT r.id, r.out_deg, r.ns, r.is_seed,
               {base}::DOUBLE * (CASE WHEN r.is_seed = 1
                                 THEN 1.0::DOUBLE / r.ns::DOUBLE
                                 ELSE 0.0::DOUBLE END)
               + {d}::DOUBLE * coalesce(i.s, 0.0::DOUBLE) AS rank
        FROM ppr_r{k - 1} r LEFT JOIN ppr_inc{k} i ON r.id = i.dst)""")
    return f"""
    WITH ppr_e0 AS (SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst
                    FROM ({edges_sql})
                    WHERE src IS NOT NULL AND dst IS NOT NULL),
    ppr_nodes AS MATERIALIZED (SELECT src AS id FROM ppr_e0
                               UNION SELECT dst FROM ppr_e0),
    ppr_e AS MATERIALIZED (
        SELECT * FROM ppr_e0
        UNION ALL
        SELECT id, id FROM ppr_nodes
        WHERE id NOT IN (SELECT src FROM ppr_e0)),
    ppr_seed AS MATERIALIZED (
        SELECT DISTINCT s.id::BIGINT AS id FROM ({seeds_sql}) s
        JOIN ppr_nodes n ON n.id = s.id),
    ppr_ns AS (SELECT count(*)::BIGINT AS ns FROM ppr_seed),
    ppr_deg AS (SELECT src, count(*)::BIGINT AS out_deg
                FROM ppr_e GROUP BY src),
    ppr_r0 AS MATERIALIZED (
        SELECT d.src AS id, d.out_deg, ppr_ns.ns,
               (CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS is_seed,
               CASE WHEN s.id IS NOT NULL
                    THEN 1.0::DOUBLE / ppr_ns.ns::DOUBLE
                    ELSE 0.0::DOUBLE END AS rank
        FROM ppr_deg d
        LEFT JOIN ppr_seed s ON d.src = s.id
        CROSS JOIN ppr_ns),
    {",".join(rounds)}
    SELECT id, round(rank * ns::DOUBLE, 6) AS rank_x_s, out_deg, is_seed
    FROM ppr_r{iters}
    """


TPCH_ROLLUP_SQL = """
SELECT coalesce(r_name, 'ALL') AS r_name,
       coalesce(n_name, 'ALL') AS n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lineitems,
       (GROUPING(r_name) * 2 + GROUPING(n_name))::BIGINT AS lvl
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY ROLLUP (r_name, n_name)
"""


def silhouette_sql(points_sql: str) -> str:
    """Full-replay oracle for ``operators.silhouette.silhouette``:
    ``points_sql`` produces (id, v DOUBLE[], cluster). Identical pair
    distances (list_inner_product cosine), id-ordered mean folds,
    (m, ocluster) argmin-b ties, singleton-zero convention."""
    # sequential position-ordered folds == Spark functions.vector.dot
    # (aggregate over zip_with), NOT list_inner_product — the pair
    # distance feeds an ordered mean fold, so both engines must build
    # it from the identical expression tree
    cos = (
        "1.0 - list_sum(list_transform(pa.v, (x, i) -> x * pb.v[i])) / "
        "(sqrt(list_sum(list_transform(pa.v, (x, i) -> x * x))) * "
        "sqrt(list_sum(list_transform(pb.v, (x, i) -> x * x))))"
    )
    return f"""
    WITH sl_p AS MATERIALIZED (
           SELECT id::BIGINT AS id, v, cluster::BIGINT AS cluster
           FROM ({points_sql})
           WHERE v IS NOT NULL AND cluster IS NOT NULL),
    sl_pairs AS (SELECT pa.id, pa.cluster, pb.id AS oid,
                        pb.cluster AS ocluster, {cos} AS d
                 FROM sl_p pa JOIN sl_p pb ON pa.id <> pb.id),
    sl_means AS MATERIALIZED (
        SELECT id, cluster, ocluster,
               list_sum(list(d ORDER BY oid)) / count(*)::DOUBLE AS m
        FROM sl_pairs GROUP BY id, cluster, ocluster),
    sl_a AS (SELECT id, m AS a_raw FROM sl_means WHERE cluster = ocluster),
    sl_b AS (SELECT id, m AS b_raw FROM (
               SELECT id, m, row_number() OVER (PARTITION BY id
                                                ORDER BY m, ocluster) AS rn
               FROM sl_means WHERE cluster <> ocluster) WHERE rn = 1),
    sl_sz AS (SELECT cluster, count(*)::BIGINT AS csz
              FROM sl_p GROUP BY cluster),
    sl_out AS (SELECT p.id, p.cluster, z.csz,
                      coalesce(a.a_raw, 0.0::DOUBLE) AS a_raw, b.b_raw
               FROM sl_p p
               JOIN sl_sz z ON p.cluster = z.cluster
               LEFT JOIN sl_a a ON p.id = a.id
               LEFT JOIN sl_b b ON p.id = b.id)
    SELECT id, cluster,
           round(a_raw, 6) AS a_intra,
           round(coalesce(b_raw, 0.0::DOUBLE), 6) AS b_inter,
           round(CASE WHEN csz > 1 AND b_raw IS NOT NULL
                       AND greatest(a_raw, b_raw) > 0.0::DOUBLE
                      THEN (b_raw - a_raw) / greatest(a_raw, b_raw)
                      ELSE 0.0::DOUBLE END, 6) AS silhouette
    FROM sl_out
    """


EVENTS_TRANSITION_SQL = """
WITH tr_pairs AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
tr_cnt AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
           FROM tr_pairs WHERE prev_type IS NOT NULL
           GROUP BY prev_type, next_type)
SELECT prev_type, next_type, n,
       sum(n) OVER (PARTITION BY prev_type)::BIGINT AS row_total,
       round(n::DOUBLE
             / (sum(n) OVER (PARTITION BY prev_type))::DOUBLE, 6) AS p
FROM tr_cnt
"""


def bm25_pop_rrf_sql(
    queries: list[tuple[int, str]],
    fetch_k: int = 10,
    topk: int = 10,
    k_rrf: int = 60,
) -> str:
    """Hybrid-fusion oracle for the staged rrf contract query: BM25
    top-``fetch_k`` fused (RRF) with a deterministic popularity prior
    (documents ranked by n_chars DESC, doc_id) — two genuinely
    different rankers over the real corpus, fully SQL-replayable."""
    return f"""
    WITH {bm25_sql_ctes(queries)},
    hy_kw0 AS (SELECT query_id, doc_id, score,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC,
                                                  doc_id)::BIGINT AS rank
               FROM bm_sc),
    hy_kw AS (SELECT query_id, 'kw' AS src, rank, doc_id
              FROM hy_kw0 WHERE rank <= {fetch_k}),
    hy_pop0 AS (SELECT doc_id,
                       row_number() OVER (ORDER BY n_chars DESC,
                                                   doc_id)::BIGINT AS rank
                FROM documents),
    hy_q AS (SELECT DISTINCT query_id FROM hy_kw),
    hy_pop AS (SELECT q.query_id, 'pop' AS src, p.rank, p.doc_id
               FROM hy_q q, hy_pop0 p WHERE p.rank <= {fetch_k}),
    hy_rl AS (SELECT * FROM hy_kw UNION ALL SELECT * FROM hy_pop),
    {rrf_fuse_sql('hy_rl', k_rrf=k_rrf, topk=topk)}
    SELECT query_id, rank, doc_id, rrf_score, n_sources
    FROM rrf_r WHERE rank <= {topk}
    """


def simplified_silhouette_sql(points_sql: str) -> str:
    """Full-replay oracle for
    ``operators.silhouette.simplified_silhouette`` (exact_mean fold
    path): centroids are id-ORDERED per-dimension mean folds
    (`list_sum(list(x ORDER BY id)) / count` == the Spark
    array_sort+aggregate fold), the point→centroid cosine reuses the
    sequential expression tree of :func:`silhouette_sql`, b ties break
    on cluster id, and singleton clusters score exactly 0."""
    cos = (
        "1.0 - list_sum(list_transform(p.v, (x, i) -> x * c.cv[i])) / "
        "(sqrt(list_sum(list_transform(p.v, (x, i) -> x * x))) * "
        "sqrt(list_sum(list_transform(c.cv, (x, i) -> x * x))))"
    )
    return f"""
    WITH ss_p AS MATERIALIZED (
           SELECT id::BIGINT AS id, v, cluster::BIGINT AS cluster
           FROM ({points_sql})
           WHERE v IS NOT NULL AND cluster IS NOT NULL),
    ss_cells AS (SELECT id, cluster, unnest(v) AS x,
                        generate_subscripts(v, 1) AS pos
                 FROM ss_p),
    ss_dim AS MATERIALIZED (
        SELECT cluster, pos,
               list_sum(list(x ORDER BY id)) / count(*)::DOUBLE AS mx
        FROM ss_cells GROUP BY cluster, pos),
    ss_cent AS MATERIALIZED (
        SELECT cluster, list(mx ORDER BY pos) AS cv
        FROM ss_dim GROUP BY cluster),
    ss_sz AS (SELECT cluster, count(*)::BIGINT AS csz
              FROM ss_p GROUP BY cluster),
    ss_scored AS MATERIALIZED (
        SELECT p.id, p.cluster, c.cluster AS ocluster, z.csz, {cos} AS d
        FROM ss_p p CROSS JOIN ss_cent c
        JOIN ss_sz z ON c.cluster = z.cluster),
    ss_a AS (SELECT id, cluster, d AS a_raw, csz
             FROM ss_scored WHERE cluster = ocluster),
    ss_b AS (SELECT id, d AS b_raw FROM (
               SELECT id, d, row_number() OVER (PARTITION BY id
                                                ORDER BY d, ocluster) AS rn
               FROM ss_scored WHERE cluster <> ocluster) WHERE rn = 1)
    SELECT a.id, a.cluster,
           round(a.a_raw, 6) AS a_intra,
           round(coalesce(b.b_raw, 0.0::DOUBLE), 6) AS b_inter,
           round(CASE WHEN a.csz > 1 AND b.b_raw IS NOT NULL
                       AND greatest(a.a_raw, b.b_raw) > 0.0::DOUBLE
                      THEN (b.b_raw - a.a_raw) / greatest(a.a_raw, b.b_raw)
                      ELSE 0.0::DOUBLE END, 6) AS silhouette
    FROM ss_a a LEFT JOIN ss_b b ON a.id = b.id
    """


def kmeans_sql(points_sql: str, k: int = 8, iters: int = 3) -> str:
    """Full-replay oracle for ``operators.kmeans.kmeans`` (exact_mean
    fold path): deterministic (md5-hash, id) seed order with 0-based
    ordinal labels, squared-L2 assignment from the shared sequential
    expression tree with (d, cluster) argmin ties, id-ORDERED
    per-dimension centroid-mean folds, empty clusters carrying their
    previous centroid — the fixed rounds unrolled as materialized CTEs
    (the pagerank oracle convention)."""
    h = "(('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT)"
    sq = (
        "list_sum(list_transform(p.v, (x, i) -> "
        "(x - c.cv[i]) * (x - c.cv[i])))"
    )

    def assign(cent, name):
        return f"""
    {name}_sc AS (SELECT p.id, p.v, c.cluster, {sq} AS d
                  FROM km_p p CROSS JOIN {cent} c),
    {name} AS MATERIALIZED (
        SELECT id, v, cluster, d FROM (
          SELECT id, v, cluster, d,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY d, cluster) AS rn
          FROM {name}_sc) WHERE rn = 1)"""

    def update(asg, prev, name):
        return f"""
    {name}_cells AS (SELECT cluster, id, unnest(v) AS x,
                            generate_subscripts(v, 1) AS pos
                     FROM {asg}),
    {name}_dim AS (SELECT cluster, pos,
                          list_sum(list(x ORDER BY id))
                          / count(*)::DOUBLE AS mx
                   FROM {name}_cells GROUP BY cluster, pos),
    {name}_new AS (SELECT cluster, list(mx ORDER BY pos) AS nv
                   FROM {name}_dim GROUP BY cluster),
    {name} AS MATERIALIZED (
        SELECT pc.cluster, coalesce(n.nv, pc.cv) AS cv
        FROM {prev} pc LEFT JOIN {name}_new n ON pc.cluster = n.cluster)"""

    parts = [
        f"""km_p AS MATERIALIZED (
           SELECT id::BIGINT AS id, v
           FROM ({points_sql}) WHERE v IS NOT NULL),
    km_c0 AS MATERIALIZED (
        SELECT (rn - 1)::BIGINT AS cluster, v AS cv FROM (
          SELECT id, v,
                 row_number() OVER (ORDER BY {h}, id) AS rn
          FROM km_p) WHERE rn <= {k})"""
    ]
    prev = "km_c0"
    for r in range(1, iters + 1):
        parts.append(assign(prev, f"km_a{r}"))
        parts.append(update(f"km_a{r}", prev, f"km_c{r}"))
        prev = f"km_c{r}"
    parts.append(assign(prev, "km_final"))
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT id, cluster, round(d, 6) AS dist FROM km_final
    """
