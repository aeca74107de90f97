"""IVF (inverted-file) approximate KNN — the scale path for similarity
search over embedding columns (north-star operator; complements the
graph index with a shuffle-free partition-pruned search).

Build: Lloyd k-means fit on a bounded deterministic sample (driver-side
numpy — iteration count never multiplies corpus scans), then one
distributed assignment pass producing the (cid, id) inverted table.
Search: probe the ``nprobe`` nearest centroids per query and score only
those cells — candidate volume n·nprobe/k, scored by the Arrow-vectorized
pair kernel.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import pair_dist_udf, to_double_array
from vectordbindexing_spark.operators.topk import topk_per_group
from vectordbindexing_spark.plans.partitioning import local_rows_df

# Default training-sample budget for the driver-side Lloyd fit. Exposed as
# a module constant so sizing logic (plans.knn_planner) can cap nlist
# against it — past ~sample/MIN_POINTS_PER_CENTROID centroids the fit
# degenerates toward one sample point per centroid.
KMEANS_SAMPLE_SIZE = 100_000
MIN_POINTS_PER_CENTROID = 40
# Cap on the dense (rows × nlist) d² scratch block in the Lloyd loop and
# the assignment kernel: at the planner's capped nlist (2.5k) a full
# 100k-row sample would otherwise allocate a 2 GB matrix per iteration.
# Blocking changes nothing — argmin is per-row.
_ASSIGN_BLOCK_TARGET_BYTES = 128 * 1024 * 1024


def _argmin_d2_blocked(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row-blocked expansion-formula argmin assignment (ties → lowest
    cid via argmin). Identical values/decisions to the dense computation;
    scratch is bounded at ``_ASSIGN_BLOCK_TARGET_BYTES``."""
    c_sq = np.sum(C * C, axis=1)[None, :]
    out = np.empty(len(X), dtype=np.int64)
    blk = max(1, _ASSIGN_BLOCK_TARGET_BYTES // (max(len(C), 1) * 8))
    for r0 in range(0, len(X), blk):
        r1 = min(r0 + blk, len(X))
        Xb = X[r0:r1]
        d2 = np.sum(Xb * Xb, axis=1)[:, None] - 2 * Xb @ C.T + c_sq
        out[r0:r1] = np.argmin(d2, axis=1)
    return out


def kmeans_fit(
    df: DataFrame,
    k: int,
    max_iter: int = 5,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = KMEANS_SAMPLE_SIZE,
) -> np.ndarray:
    """Lloyd k-means on a deterministic sample, fit driver-side. Returns a
    (k, d) float64 centroid matrix.

    The standard 100 TB recipe: centroids are trained on a bounded sample
    (hash-ordered take — one scan, no full sort) and only the *assignment*
    touches the full corpus. Replaces a per-iteration distributed job with
    pure numpy on ≤``sample_size`` rows, so max_iter no longer multiplies
    scan count. Init = the k smallest ids, sampling order = md5 hash of id
    — both engine-independent and reproducible.

    The take goes through plans.partitioning.hash_ordered_sample —
    cutoff-filtered so the driver transfer is bounded at ~1.3·K rows
    instead of TakeOrdered's min(K, partition rows) × partitions (which
    was the whole corpus at 2M rows and blew
    spark.driver.maxResultSize; measured, r11). The selected sample is
    bit-identical to the unfiltered take."""
    from vectordbindexing_spark.plans.partitioning import (
        hash_ordered_sample,
    )

    rows = hash_ordered_sample(df, sample_size, id_col, vec_col)
    order = np.argsort(rows["i"].to_numpy(), kind="stable")[:k]
    X = np.stack([np.asarray(v, dtype=np.float64) for v in rows["v"]])
    C = X[order].copy()
    for _ in range(max_iter):
        a = _argmin_d2_blocked(X, C)
        newC = C.copy()
        for cid in range(len(C)):
            m = a == cid
            if m.any():
                newC[cid] = X[m].mean(axis=0)
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    return C


def kmeans_fit_distributed(
    df: DataFrame,
    k: int,
    max_iter: int = 5,
    id_col: str = "id",
    vec_col: str = "vec",
    init: np.ndarray | None = None,
    sample_size: int = KMEANS_SAMPLE_SIZE,
) -> np.ndarray:
    """Lloyd k-means with DISTRIBUTED update steps — the fit for nlist
    beyond the driver-sample budget (``kmeans_fit`` degenerates past
    ~sample/40 centroids; the planner caps nlist there, and this lifts
    the cap: at 10¹¹ rows and nlist = √n ≈ 3·10⁵ every centroid still
    trains on the full corpus).

    Per iteration: ONE corpus scan (broadcast-centroid blocked argmin,
    the exact ivf_assign convention — ties → lowest cid) emitting
    per-batch (cid, partial vector sum, count) rows via np.unique
    segment sums, then a groupBy(cid) with d element-wise SUM columns —
    map-side combined, shuffle ∝ occupied cells × partitions, never ∝
    corpus rows. New centroid = sum/count collected driver-side (k·d
    floats — the size of the result itself); empty cells keep their old
    centroid and convergence breaks early, both matching kmeans_fit.

    Init defaults to the same bounded hash-ordered sample rule as
    kmeans_fit, so at n ≤ sample_size the two fits start identically and
    agree to summation-order float drift (pinned by test). Caveat: the
    cross-partition sum order is not run-deterministic, so this fit is
    allclose-reproducible, not bit-reproducible — oracle-pinned paths
    keep using the driver fit.
    """
    v = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("i"), F.col(vec_col).alias("v")
    )
    if init is None:
        from vectordbindexing_spark.plans.partitioning import (
            hash_ordered_sample,
        )

        rows = hash_ordered_sample(v, sample_size, id_col="i", vec_col="v")
        order = np.argsort(rows["i"].to_numpy(), kind="stable")[:k]
        X0 = np.stack([np.asarray(x, dtype=np.float64) for x in rows["v"]])
        C = X0[order].copy()
    else:
        C = np.asarray(init, dtype=np.float64).copy()
    d = C.shape[1]
    spark = df.sparkSession
    v = v.localCheckpoint(eager=True)  # scanned once per iteration

    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(C)

        def partial_sums(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            Cb = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
                )
                a = _argmin_d2_blocked(X, Cb)
                uniq, inv = np.unique(a, return_inverse=True)
                sums = np.zeros((len(uniq), d), dtype=np.float64)
                np.add.at(sums, inv, X)
                counts = np.bincount(inv, minlength=len(uniq))
                yield pd.DataFrame(
                    {
                        "cid": uniq,
                        "s": list(sums),
                        "n": counts.astype(np.int64),
                    }
                )

        agg = (
            v.mapInPandas(
                partial_sums, schema="cid long, s array<double>, n long"
            )
            .groupBy("cid")
            .agg(
                *[F.sum(F.col("s").getItem(i)).alias(f"s{i}") for i in range(d)],
                F.sum("n").alias("n"),
            )
            .toPandas()
        )
        newC = C.copy()
        cids = agg["cid"].to_numpy()
        counts = agg["n"].to_numpy().astype(np.float64)
        sums = agg[[f"s{i}" for i in range(d)]].to_numpy(dtype=np.float64)
        newC[cids] = sums / counts[:, None]
        bc.destroy()
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    return C


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """(cid, id) inverted-list assignment via broadcast centroid matmul."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            yield pd.DataFrame(
                {"cid": _argmin_d2_blocked(X, C), "id": pdf["i"].to_numpy()}
            )

    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("i"), F.col(vec_col).alias("v")
    ).mapInPandas(assign, schema="cid long, id long")


def ivf_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    metric: str = "cosine",
    max_iter: int = 5,
    q_id: str = "qid",
    q_vec: str = "vec",
    b_id: str = "id",
    b_vec: str = "vec",
    centroids: np.ndarray | None = None,
    impl: str = "auto",
) -> DataFrame:
    """IVF search end-to-end: fit (or reuse) centroids, probe nprobe
    cells per query, exact-score candidates, per-query top-k.

    Output: (qid, nbr_rank, neighbor_id, dist) like exact_knn.

    ``impl``: "kernel" scores in ONE broadcast Arrow pass over the raw
    base (per batch: blocked-argmin cell assignment, then each row is
    scored against only the broadcast queries probing its cell; the
    exchange carries (qid, neighbor_id, dist) per-batch top-k partials
    only). "join" is the declarative formulation (assignment table ⨝
    probe table ⨝ vectors): it materializes every (query, candidate)
    pair WITH both vectors through a shuffle — measured at 2M base ×
    1000 queries (nprobe/nlist = 1/8): ~250M candidate rows × ~1 KB
    ≈ >100 GB of shuffle spill, which filled the disk (r11). "auto"
    takes the kernel whenever the query side fits the same broadcast
    budget as the exact blocked path, else the join."""
    # one narrow materialization of (id, vec): the centroid fit, the
    # assignment pass, and the candidate scoring all reuse these blocks
    # instead of re-scanning the source. NULL vectors are dropped HERE so
    # both impls (kernel np.stack would crash on a ragged batch; join is
    # already guarded inside ivf_assign) see the identical corpus.
    base = (
        base.filter(F.col(b_vec).isNotNull())
        .select(F.col(b_id).cast("long").alias(b_id), F.col(b_vec).alias(b_vec))
        .localCheckpoint(eager=True)
    )
    if centroids is None:
        centroids = kmeans_fit(base, nlist, max_iter, b_id, b_vec)

    q = queries.filter(F.col(q_vec).isNotNull()).select(
        F.col(q_id).cast("long").alias("qid"), to_double_array(q_vec).alias("_qv")
    )
    if impl not in ("auto", "kernel", "join"):
        raise ValueError(f"unknown impl {impl!r}")
    if impl in ("auto", "kernel"):
        from vectordbindexing_spark.operators.exact_knn import (
            _BLOCKED_THRESHOLD_QUERIES,
        )

        qrows = q.limit(_BLOCKED_THRESHOLD_QUERIES + 1).toPandas()
        if 0 < len(qrows) <= _BLOCKED_THRESHOLD_QUERIES:
            return _ivf_knn_kernel(
                base, qrows, centroids, k, nprobe, metric, b_id, b_vec
            )
        if impl == "kernel":
            raise ValueError(
                "impl='kernel' requires a non-empty query side within "
                f"the broadcast budget ({_BLOCKED_THRESHOLD_QUERIES})"
            )
    return _ivf_knn_join(
        q, base, centroids, k, nprobe, metric, b_id, b_vec
    )


def probe_cells(
    Q: np.ndarray, C: np.ndarray, nprobe: int
) -> dict[int, np.ndarray]:
    """Driver-side probe selection: per-query l2 to every centroid (the
    join path scores centroids with pair_dist_udf("l2")) with
    lowest-cid tie break, blocked so the scratch stays bounded.
    Returns {cell: int64 array of query INDICES probing it} — the
    broadcast payload every kernel scorer masks against."""
    from vectordbindexing_spark.operators.exact_knn import (
        _BLOCK_TARGET_BYTES,
    )

    npb = min(nprobe, len(C))
    cell_to_qidx: dict[int, list[int]] = {}
    chunk = max(1, _BLOCK_TARGET_BYTES // max(1, 8 * C.size))
    cid_range = np.arange(len(C))
    for s in range(0, len(Q), chunk):
        diff = Q[s : s + chunk, None, :] - C[None, :, :]
        cd = np.sqrt(np.einsum("qcd,qcd->qc", diff, diff))
        for r in range(cd.shape[0]):
            for c in np.lexsort((cid_range, cd[r]))[:npb]:
                cell_to_qidx.setdefault(int(c), []).append(s + r)
    return {c: np.asarray(v, dtype=np.int64) for c, v in cell_to_qidx.items()}


def ivf_cells_knn(
    cand: DataFrame,
    qids: np.ndarray,
    Q: np.ndarray,
    centroids: np.ndarray,
    k: int,
    nprobe: int,
    metric: str,
    id_col: str = "id",
    vec_col: str = "vec",
    cell_col: str = "cell",
) -> DataFrame:
    """Broadcast-kernel IVF scoring over PRE-ASSIGNED cells — the search
    half of a maintained IVF artifact (persisted centroids +
    cell-partitioned vectors). ``cand`` already carries each row's cell,
    so the caller can partition-prune the scan to the probed cells and
    the kernel skips the per-row argmin re-assignment that made the
    fit-per-call path O(corpus·nlist) flops per batch. Selection
    conventions match _ivf_knn_kernel exactly: probe ties break to the
    lowest cid, result ties to the lowest neighbor_id, distances come
    from the same batch kernels — so on identical centroids +
    assignments the two return the same rows. Queries are
    driver-resident (|batch|-bounded callers like the streaming graph
    upsert); the exchange carries (qid, neighbor_id, dist) per-batch
    top-k partials only."""
    from vectordbindexing_spark.functions.vector import dist_matrix
    from vectordbindexing_spark.operators.exact_knn import _BLOCK_TARGET_BYTES
    from vectordbindexing_spark.operators.topk import (
        batch_topk_by_dist_id,
        topk_per_group,
    )

    spark = cand.sparkSession
    Q = np.asarray(Q, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    qids = np.asarray(qids, dtype=np.int64)
    cq_np = probe_cells(Q, C, nprobe)
    bc = spark.sparkContext.broadcast((qids, Q, cq_np))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bqids, bQ, cq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bids = pdf["bid"].to_numpy()
            cids = pdf["cell"].to_numpy()
            order = np.argsort(cids, kind="stable")
            B, bids, cids = B[order], bids[order], cids[order]
            ucells, starts = np.unique(cids, return_index=True)
            ends = np.append(starts[1:], len(cids))
            cq_chunks, ci_chunks, cd_chunks = [], [], []
            for c, s0, s1 in zip(ucells, starts, ends):
                qidx = cq.get(int(c))
                if qidx is None:
                    continue
                rows = s1 - s0
                kk = min(k, rows)
                qch = max(1, _BLOCK_TARGET_BYTES // max(1, 8 * rows))
                for qs in range(0, len(qidx), qch):
                    sub = qidx[qs : qs + qch]
                    D = dist_matrix(bQ[sub], B[s0:s1], metric)
                    nbr, dd = batch_topk_by_dist_id(D, bids[s0:s1], kk)
                    cq_chunks.append(np.repeat(sub, nbr.shape[1]))
                    ci_chunks.append(nbr.ravel())
                    cd_chunks.append(dd.ravel())
            if not cq_chunks:
                continue
            qi = np.concatenate(cq_chunks)
            ii = np.concatenate(ci_chunks)
            di = np.concatenate(cd_chunks)
            o = np.lexsort((ii, di, qi))
            qi, ii, di = qi[o], ii[o], di[o]
            grp_start = np.r_[True, qi[1:] != qi[:-1]]
            pos = np.arange(len(qi))
            rank = pos - np.maximum.accumulate(np.where(grp_start, pos, 0))
            keep = rank < k
            yield pd.DataFrame(
                {
                    "qid": bqids[qi[keep]],
                    "neighbor_id": ii[keep],
                    "dist": di[keep],
                }
            )

    b = cand.select(
        F.col(id_col).cast("long").alias("bid"),
        F.col(vec_col).alias("v"),
        F.col(cell_col).cast("long").alias("cell"),
    )
    partial = b.mapInPandas(
        score, schema="qid long, neighbor_id long, dist double"
    )
    ranked = topk_per_group(partial, ["qid"], "dist", k, tie_col="neighbor_id")
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")


def _ivf_knn_kernel(
    base: DataFrame,
    qrows,
    centroids: np.ndarray,
    k: int,
    nprobe: int,
    metric: str,
    b_id: str,
    b_vec: str,
) -> DataFrame:
    """Broadcast-kernel IVF scoring (see ivf_knn docstring). Selection
    conventions are identical to the join path: probe ties break to the
    lowest cid, result ties to the lowest neighbor_id, distances come
    from the same batch kernels as the exact blocked scan — so the two
    impls return the same rows (pinned by test)."""
    from vectordbindexing_spark.functions.vector import dist_matrix
    from vectordbindexing_spark.operators.exact_knn import _BLOCK_TARGET_BYTES
    from vectordbindexing_spark.operators.topk import (
        batch_topk_by_dist_id,
        topk_per_group,
    )
    from vectordbindexing_spark.plans.partitioning import (
        repartition_for_compute,
    )

    spark = base.sparkSession
    qids = qrows["qid"].to_numpy()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qrows["_qv"]])
    C = np.asarray(centroids, dtype=np.float64)
    cq_np = probe_cells(Q, C, nprobe)
    bc = spark.sparkContext.broadcast((qids, Q, C, cq_np))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bqids, bQ, bC, cq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bids = pdf["bid"].to_numpy()
            cids = _argmin_d2_blocked(B, bC)  # the ivf_assign convention
            order = np.argsort(cids, kind="stable")
            B, bids, cids = B[order], bids[order], cids[order]
            ucells, starts = np.unique(cids, return_index=True)
            ends = np.append(starts[1:], len(cids))
            cq_chunks, ci_chunks, cd_chunks = [], [], []
            for c, s0, s1 in zip(ucells, starts, ends):
                qidx = cq.get(int(c))
                if qidx is None:
                    continue
                rows = s1 - s0
                kk = min(k, rows)
                qch = max(1, _BLOCK_TARGET_BYTES // max(1, 8 * rows))
                for qs in range(0, len(qidx), qch):
                    sub = qidx[qs : qs + qch]
                    D = dist_matrix(bQ[sub], B[s0:s1], metric)
                    nbr, dd = batch_topk_by_dist_id(D, bids[s0:s1], kk)
                    cq_chunks.append(np.repeat(sub, nbr.shape[1]))
                    ci_chunks.append(nbr.ravel())
                    cd_chunks.append(dd.ravel())
            if not cq_chunks:
                continue
            qi = np.concatenate(cq_chunks)
            ii = np.concatenate(ci_chunks)
            di = np.concatenate(cd_chunks)
            # per-query top-k across this batch's cells: (dist, id) lex
            # within each query — the same convention as the global merge
            o = np.lexsort((ii, di, qi))
            qi, ii, di = qi[o], ii[o], di[o]
            grp_start = np.r_[True, qi[1:] != qi[:-1]]
            pos = np.arange(len(qi))
            rank = pos - np.maximum.accumulate(np.where(grp_start, pos, 0))
            keep = rank < k
            yield pd.DataFrame(
                {
                    "qid": bqids[qi[keep]],
                    "neighbor_id": ii[keep],
                    "dist": di[keep],
                }
            )

    b = repartition_for_compute(
        base.select(
            F.col(b_id).cast("long").alias("bid"), F.col(b_vec).alias("v")
        )
    )
    partial = b.mapInPandas(
        score, schema="qid long, neighbor_id long, dist double"
    )
    ranked = topk_per_group(partial, ["qid"], "dist", k, tie_col="neighbor_id")
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")


def _ivf_knn_join(
    q: DataFrame,
    base: DataFrame,
    centroids: np.ndarray,
    k: int,
    nprobe: int,
    metric: str,
    b_id: str,
    b_vec: str,
) -> DataFrame:
    """Declarative IVF scoring — the over-broadcast-budget fallback
    (see ivf_knn docstring for the shuffle-volume caveat)."""
    assign = ivf_assign(base, centroids, b_id, b_vec)

    # query → nprobe nearest centroids (tiny: k×d broadcast matmul on driver
    # side expressed declaratively via a centroid literal table)
    spark = base.sparkSession
    cent_df = local_rows_df(
        spark,
        [(int(i), [float(x) for x in row]) for i, row in enumerate(centroids)],
        "cid long, cvec array<double>",
    )
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "cdist", pair_dist_udf("l2")("_qv", "cvec")
    )
    probes = (
        topk_per_group(qc, ["qid"], "cdist", nprobe, tie_col="cid", rank_name="_pr")
        .select("qid", "_qv", "cid")
    )
    cand = probes.join(assign, "cid").select(
        "qid", "_qv", F.col("id").alias("neighbor_id")
    )
    bv = base.select(
        F.col(b_id).cast("long").alias("neighbor_id"),
        to_double_array(b_vec).alias("_bv"),
    )
    scored = cand.join(bv, "neighbor_id").withColumn(
        "dist", pair_dist_udf(metric)("_qv", "_bv")
    )
    ranked = topk_per_group(
        scored.select("qid", "neighbor_id", "dist"), ["qid"], "dist", k,
        tie_col="neighbor_id",
    )
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")
