"""Exact k-nearest-neighbor join (the brute-force KNN of SURVEY §2.4).

Reference semantics: all-pairs distance then per-query top-k
(`roargraph_python.py:155-162` — full distance matrix + argsort[:k];
FAISS IndexFlat in the notebooks). Two Spark physical strategies:

* ``impl="expr"``  — declarative theta join: crossJoin + distance
  expression + rank window. Catalyst handles broadcast of the small side
  and AQE coalescing. This is the oracle-matching formulation and is also
  what you want when *both* sides are large but the candidate set was
  already pruned (e.g. after an LSH bucket join).

* ``impl="blocked"`` — broadcast the query matrix (queries are the small
  side in batch serving), stream the base table through a numpy matmul
  kernel with ``mapInPandas``, emitting only a *partial top-k per Arrow
  batch* (k·n_q rows per batch, never the full distance matrix), then a
  final global top-k window. This is the 100 TB path: one scan of base,
  no shuffle of vectors, shuffle volume O(batches · n_q · k).

Rows already on the driver can skip Spark: :func:`blocked_self_knn` is
the same (dist, id) top-k over driver-held arrays. Executors run it on
the groups of the sharded and bucketed graph builds; the driver runs
it for the streaming upsert's batch kNN while :func:`driver_knn_fits`.
Graph builds over a whole node set keep the ``mapInPandas`` kernel,
which spreads the blocks over the executor cores.

Either kernel ranks a NaN distance (cosine of a zero vector) as +inf.

All accumulate in float64 so results agree with the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.vector import (
    METRICS,
    dist_matrix,
    metric_dist,
    to_double_array,
)
from vectordbindexing_spark.operators.topk import (
    batch_topk_by_dist_id,
    topk_per_group,
)

_BLOCKED_THRESHOLD_QUERIES = 100_000  # above this, queries don't broadcast
# Per-task byte target for the blocked kernel's distance matrices; the
# query axis chunks to fit (memory O(target), not O(n_q · batch)).
_BLOCK_TARGET_BYTES = 128 * 1024 * 1024
# Row-block target for the in-group self-kNN build kernel (O(block·m)
# memory instead of O(m²); same per-pair arithmetic).
_BUILD_BLOCK_TARGET_BYTES = 256 * 1024 * 1024


def exact_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    impl: str = "auto",
    q_id: str = "qid",
    q_vec: str = "vec",
    b_id: str = "id",
    b_vec: str = "vec",
    weights: list[float] | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k nearest base rows per query.

    Returns ``(qid, nbr_rank, neighbor_id, dist)`` with rank 1..k ordered
    by (dist asc, neighbor_id asc). ``metric='weighted_l2'`` (requires
    ``weights``, blocked impl only) is the Idea-1023 variance-scaled
    squared distance. ``exclude_self`` drops base rows whose id equals the
    query id *before* ranking (self-join graph builds) — cheaper than a
    post-filter, which would need a second ranking pass to repair ranks.
    Rows with NULL vectors (missing embeddings) are excluded on both
    sides — they cannot participate in a distance computation.
    """
    queries = queries.filter(F.col(q_vec).isNotNull())
    base = base.filter(F.col(b_vec).isNotNull())
    if metric == "weighted_l2":
        if weights is None:
            raise ValueError("weighted_l2 requires weights")
        return _exact_knn_blocked(
            queries, base, k, metric, q_id, q_vec, b_id, b_vec,
            weights=np.asarray(weights, dtype=np.float64),
            exclude_self=exclude_self,
        )
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}")
    if impl == "auto":
        impl = "blocked"
    if impl == "expr":
        return _exact_knn_expr(
            queries, base, k, metric, q_id, q_vec, b_id, b_vec,
            exclude_self=exclude_self,
        )
    if impl == "blocked":
        return _exact_knn_blocked(
            queries, base, k, metric, q_id, q_vec, b_id, b_vec,
            exclude_self=exclude_self,
        )
    raise ValueError(f"unknown impl {impl!r}")


def _exact_knn_expr(
    queries, base, k, metric, q_id, q_vec, b_id, b_vec, exclude_self=False,
    weights=None,
) -> DataFrame:
    q = queries.select(
        F.col(q_id).cast("long").alias("qid"), to_double_array(q_vec).alias("_qv")
    )
    b = base.select(
        F.col(b_id).cast("long").alias("neighbor_id"), to_double_array(b_vec).alias("_bv")
    )
    if metric == "weighted_l2":
        from vectordbindexing_spark.functions.vector import weighted_l2_dist

        w_lit = F.array(*[F.lit(float(w)) for w in weights])
        dist = weighted_l2_dist("_qv", "_bv", w_lit)
    else:
        dist = metric_dist("_qv", "_bv", metric)
    # crossJoin: Catalyst broadcasts the smaller side (BroadcastNestedLoopJoin)
    pairs = q.crossJoin(b).withColumn("dist", dist)
    if exclude_self:
        # as in the blocked kernel: a graph edge needs a finite distance
        pairs = pairs.filter(
            (F.col("qid") != F.col("neighbor_id"))
            & (F.col("dist") != float("inf"))
        )
    ranked = topk_per_group(
        pairs.select("qid", "neighbor_id", "dist"),
        ["qid"],
        "dist",
        k,
        tie_col="neighbor_id",
    )
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")


def _exact_knn_blocked(
    queries, base, k, metric, q_id, q_vec, b_id, b_vec, weights=None,
    exclude_self=False,
) -> DataFrame:
    qsel = queries.select(
        F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("v")
    )
    # bounded collect: limit(N+1) caps what can ever reach the driver, and
    # N+1 rows coming back IS the probe result ("too big — don't
    # broadcast") — one job instead of a count-probe plus a collect
    qrows = qsel.limit(_BLOCKED_THRESHOLD_QUERIES + 1).toPandas()
    if len(qrows) == 0 or len(qrows) > _BLOCKED_THRESHOLD_QUERIES:
        # empty, or query side too big to broadcast → declarative join
        return _exact_knn_expr(
            queries, base, k, metric, q_id, q_vec, b_id, b_vec,
            exclude_self=exclude_self,
            weights=None if weights is None else list(weights),
        )
    qids = qrows["qid"].to_numpy()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qrows["v"]])
    return exact_knn_local_queries(
        qids, Q, base, k, metric, b_id=b_id, b_vec=b_vec,
        weights=weights, exclude_self=exclude_self,
    )


def exact_knn_local_queries(
    qids: np.ndarray,
    Q: np.ndarray,
    base: DataFrame,
    k: int,
    metric: str,
    b_id: str = "id",
    b_vec: str = "vec",
    weights: np.ndarray | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """The blocked kernel with DRIVER-LOCAL queries — for callers that
    already hold (and bounded-probed) the query rows, so they skip the
    per-call query-collect job (e.g. build_two_layer_index collects the
    node set ONCE and feeds both layers' kernels from it). Identical
    kernel, chunking and merge conventions as :func:`exact_knn`'s
    blocked impl — the refactor point is only where the (qids, Q)
    arrays come from. ``base`` rows with NULL vectors are excluded, as
    in exact_knn."""
    spark = base.sparkSession
    base = base.filter(F.col(b_vec).isNotNull())
    bc = spark.sparkContext.broadcast((qids, Q, weights))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bqids, bQ, bw = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bids = pdf["bid"].to_numpy()
            kk = min(k, len(bids))
            # chunk the QUERY axis so the distance matrix stays under a
            # fixed byte target: a full n_q × batch matrix is 8 GB/task
            # at 100k broadcast queries × 10k-row batches — enough to
            # OOM a 32-task executor even though the math is fine. Each
            # query's per-batch top-k is independent, so chunking the
            # rows changes nothing downstream.
            cq = max(1, _BLOCK_TARGET_BYTES // max(1, 8 * len(bids)))
            for s in range(0, len(bqids), cq):
                with np.errstate(invalid="ignore", divide="ignore"):
                    D = dist_matrix(bQ[s : s + cq], B, metric, weights=bw)
                # NaN (cosine of a zero vector) → +inf: it ranks last
                # instead of poisoning the selector's boundary distance
                D[np.isnan(D)] = np.inf
                if exclude_self:
                    D[np.equal.outer(bqids[s : s + cq], bids)] = np.inf
                # exact per-batch (dist, id) selection — duplicate
                # vectors tie exactly, and an argpartition cut at a tie
                # boundary would keep/drop them by batch position
                # instead of the lowest-id convention the merge window
                # and oracle use
                nbr, rows_d = batch_topk_by_dist_id(D, bids, kk)
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(bqids[s : s + cq], kk),
                        "neighbor_id": nbr.ravel(),
                        "dist": rows_d.ravel(),
                    }
                )

    from vectordbindexing_spark.plans.partitioning import repartition_for_compute

    b = repartition_for_compute(
        base.select(F.col(b_id).cast("long").alias("bid"), F.col(b_vec).alias("v"))
    )
    partial = b.mapInPandas(
        partial_topk, schema="qid long, neighbor_id long, dist double"
    )
    if exclude_self:
        # masked self-distances (and NaN ones) are +inf; drop any that
        # survived a small batch — a graph edge needs a finite distance
        partial = partial.filter(F.col("dist") != float("inf"))
    ranked = topk_per_group(partial, ["qid"], "dist", k, tie_col="neighbor_id")
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")


def driver_knn_fits(n_q: int, n_b: int) -> bool:
    """Whether :func:`blocked_self_knn` scores ``n_q`` queries against
    ``n_b`` corpus rows in ONE block (n_q·n_b doubles ≤
    ``_BUILD_BLOCK_TARGET_BYTES``: 100 queries against 335k rows) —
    one BLAS call and one selection, the bound under which the
    streaming upsert scores its batch on the driver. Past it the blocks
    run one after another in the driver process while the Spark kernel
    runs them on every executor core."""
    return n_q * n_b * 8 <= _BUILD_BLOCK_TARGET_BYTES


def blocked_self_knn(
    qids: np.ndarray,
    Q: np.ndarray,
    bids: np.ndarray,
    B: np.ndarray,
    k: int,
    metric: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact kNN edges of driver-held query rows against driver-held
    corpus rows: per query the top-k corpus rows by (dist, id),
    excluding every corpus row whose id EQUALS the query's id
    (``exact_knn(exclude_self=True)``'s rule) — ``(src, dst, dist)``
    arrays in query row order, non-finite distances (a zero vector
    under cosine) dropped. The self case — a node set's kNN graph —
    passes the same arrays as both sides.

    The distance matrix is computed in QUERY ROW BLOCKS under
    ``_BUILD_BLOCK_TARGET_BYTES``: the full matrix is n_q·n_b doubles
    (2 TB at 500k rows) while blocks keep memory at O(block·n_b) with
    identical per-pair arithmetic; up to ~5.8k corpus rows one block
    spans every query of a self graph. Shared by the sharded build and
    the bucketed graph build (in-executor groups) and by the streaming
    upsert's batch kNN on the driver (:func:`driver_knn_fits`)."""
    nq, nb = len(qids), len(bids)
    if nq == 0 or nb == 0:
        return (
            np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64)
        )
    blk = max(1, min(nq, _BUILD_BLOCK_TARGET_BYTES // max(1, 8 * nb)))
    src, dst, dist = [], [], []
    for s in range(0, nq, blk):
        # NaN (cosine of a zero vector) → +inf: it must rank last and
        # drop, not poison the selector's boundary distance
        with np.errstate(invalid="ignore", divide="ignore"):
            D = dist_matrix(Q[s : s + blk], B, metric)
        D[np.isnan(D) | np.equal.outer(qids[s : s + blk], bids)] = np.inf
        nbr, dv = batch_topk_by_dist_id(D, bids, min(k, nb))
        fin = np.isfinite(dv)
        src.append(np.repeat(qids[s : s + blk], fin.sum(axis=1)))
        dst.append(nbr[fin])
        dist.append(dv[fin])
    return (
        np.concatenate(src).astype(np.int64),
        np.concatenate(dst).astype(np.int64),
        np.concatenate(dist),
    )
