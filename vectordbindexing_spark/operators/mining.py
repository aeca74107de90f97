"""Triplet / hard-negative mining over a labeled embedding table — the
data-curation step of contrastive embedding training (FaceNet
semi-hard mining, Schroff 2015; SBERT/SimCSE hard negatives): for each
anchor, the nearest SAME-label point is the positive and the nearest
DIFFERENT-label points are the hard negatives; margin = d(a, neg) −
d(a, pos) measures triplet hardness (negative margin = the triplet the
loss actually learns from).

Spark-first shape: the label-mismatch constraint cannot be pushed into
the blocked top-k kernel as a post-filter (a wave of same-label
neighbors would silently evict true hard negatives from the top-k), so
the mining runs as per-label split passes over the SAME
`operators.exact_knn` kernel the serving path uses: for each of the L
distinct labels, queries = anchors with that label, base = the
complement (negatives) or the same-label split minus self (positives).
L is bounded and collected once (the repo's trained-state pattern —
centroids, codebooks, vocab literals); each pass is the broadcast
blocked kernel, so the total work is exactly one full kNN sweep split
into L disjoint slices — no extra pairs, no lost exactness.

At corpus scale the exact sweep is O(n²/L) per slice — ``impl="auto"``
routes every slice through plans.knn_planner.knn instead (same output
schema), which sizes each slice with bounded probes and picks
exact-blocked / exact-expr / IVF / IVF-PQ / SQ8 per the measured
thresholds: total work drops to L index builds (O(n) scans each) plus
pruned probes, the difference between n² and L·n at 10⁸ rows. The
positive pass under the planner asks k=2 and drops the self match
(equivalent to the exact kernel's exclude_self — self sits at dist 0
and the post-filter takes the min over (dist, id), so duplicate
vectors resolve to the same lowest-id positive either way). The
default stays ``impl="exact"`` because approximate routes trade recall
for scan bytes — the oracle-pinned contract path must stay bit-stable.

Cross-engine: distances rank raw and round once at output like every
kNN query; margin is computed from the RAW dists then rounded through
one shared expression tree (`oracles.mine_triplets_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.operators.exact_knn import exact_knn

MAX_LABELS = 64


def _planner_pos_knn(q: DataFrame, same: DataFrame, metric: str,
                     planner_kwargs: dict) -> DataFrame:
    """Planner-routed nearest same-label positive: ask k=2 (self rides
    along at dist 0), drop self, keep the min over (dist, neighbor_id)
    — equivalent to the exact kernel's exclude_self for every
    duplicate-vector layout (see module docstring)."""
    from pyspark.sql import Window

    from vectordbindexing_spark.plans.knn_planner import knn as planner_knn

    raw = planner_knn(
        q, same, k=2, metric=metric,
        q_id="id", q_vec="vec", b_id="id", b_vec="vec",
        **planner_kwargs,
    ).where(F.col("neighbor_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy("dist", "neighbor_id")
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "nbr_rank")
    )


def _mine_triplets_fused(base: DataFrame, k_neg: int, metric: str):
    """All labels in ONE blocked pass: anchors broadcast with their
    labels, each Arrow batch computes its pairwise distance block once
    and emits two label-masked partial top-ks — positive (same label,
    self masked, top-1) and negative (different label, top-``k_neg``).
    The per-batch selector and the global (dist, neighbor_id) merge are
    exactly the split path's conventions, so the surviving rows are the
    same triplets the 2·L per-label kernel passes produce — for one
    corpus scan instead of ~2·L, and one collect instead of 2·L+1.

    Returns ``None`` when the anchor side exceeds the broadcast budget
    (caller falls back to the per-label split passes)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from vectordbindexing_spark.functions.vector import dist_matrix
    from vectordbindexing_spark.operators.exact_knn import (
        _BLOCK_TARGET_BYTES,
        _BLOCKED_THRESHOLD_QUERIES,
    )
    from vectordbindexing_spark.operators.topk import batch_topk_by_dist_id
    from vectordbindexing_spark.plans.partitioning import (
        repartition_for_compute,
    )

    spark = base.sparkSession
    arows = base.limit(_BLOCKED_THRESHOLD_QUERIES + 1).toPandas()
    if len(arows) == 0 or len(arows) > _BLOCKED_THRESHOLD_QUERIES:
        return None
    qids = arows["id"].to_numpy()
    qlabs = arows["label"].to_numpy()
    # same bounded-label contract as the split path — checked on the
    # already-collected anchors, no extra probe job
    if len(np.unique(qlabs)) > MAX_LABELS:
        raise ValueError(
            f"more than MAX_LABELS={MAX_LABELS} distinct labels: triplet "
            "mining assumes a bounded label set"
        )
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in arows["vec"]])
    # session-lifetime broadcast (same retention as the exact_knn
    # kernel's query broadcast): the returned frame's checkpoint slices
    # still reference it lazily via the join recompute path, so an
    # eager unpersist here could stall a late consumer; Spark's
    # ContextCleaner reclaims it when the frame is GC'd.
    bc = spark.sparkContext.broadcast((qids, qlabs, Q))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bqids, bqlabs, bQ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            bids = pdf["id"].to_numpy()
            blabs = pdf["label"].to_numpy()
            # chunk the query axis to a fixed byte target, exactly as
            # the exact_knn kernel does (memory O(target), not O(n_q·n))
            cq = max(1, _BLOCK_TARGET_BYTES // max(1, 8 * len(bids)))
            for s in range(0, len(bqids), cq):
                D = dist_matrix(bQ[s : s + cq], B, metric)
                same = np.equal.outer(bqlabs[s : s + cq], blabs)
                # positive: same label minus self, per-batch top-1
                Dp = np.where(
                    same & ~np.equal.outer(bqids[s : s + cq], bids),
                    D,
                    np.inf,
                )
                nbr, dd = batch_topk_by_dist_id(Dp, bids, 1)
                yield pd.DataFrame(
                    {
                        "qid": bqids[s : s + cq],
                        "alab": bqlabs[s : s + cq],
                        "kind": np.zeros(len(nbr), dtype=np.int32),
                        "neighbor_id": nbr.ravel(),
                        "dist": dd.ravel(),
                    }
                )
                # negative: different label, per-batch top-k_neg
                kk = min(k_neg, len(bids))
                nbr, dd = batch_topk_by_dist_id(
                    np.where(same, np.inf, D), bids, kk
                )
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(bqids[s : s + cq], kk),
                        "alab": np.repeat(bqlabs[s : s + cq], kk),
                        "kind": np.ones(kk * len(dd), dtype=np.int32),
                        "neighbor_id": nbr.ravel(),
                        "dist": dd.ravel(),
                    }
                )

    partials = (
        repartition_for_compute(base)
        .mapInPandas(
            partial,
            schema=(
                "qid long, alab long, kind int, neighbor_id long, "
                "dist double"
            ),
        )
        # masked entries (no same-label peer / all-same-label batch).
        # inf is the MASK sentinel for both kinds here, so this also
        # drops a hypothetical genuinely-infinite real distance — which
        # the split path's negative pass would keep. That input class
        # (vectors with inf/nan components; cosine yields nan, not inf,
        # there anyway) is OUT OF CONTRACT for both implementations:
        # keeping masked negative sentinels instead would fabricate
        # dist=inf "negatives" whenever an anchor has fewer than k_neg
        # different-label batch peers, a worse degenerate divergence.
        .filter(F.col("dist") != float("inf"))
    )
    w = Window.partitionBy("qid", "kind").orderBy("dist", "neighbor_id")
    ranked = (
        partials.withColumn("_rk", F.row_number().over(w))
        .filter(
            ((F.col("kind") == 0) & (F.col("_rk") == 1))
            | ((F.col("kind") == 1) & (F.col("_rk") <= k_neg))
        )
        # tiny (≤ anchors·(1+k_neg) rows) and consumed by both join
        # sides below — cut the scan subtree instead of running it twice
        .localCheckpoint(eager=True)
    )
    pos = ranked.filter(F.col("kind") == 0).select(
        F.col("qid").alias("anchor_id"),
        F.col("alab").alias("anchor_label"),
        F.col("neighbor_id").alias("pos_id"),
        F.col("dist").alias("_pos_raw"),
    )
    neg = ranked.filter(F.col("kind") == 1).select(
        F.col("qid").alias("anchor_id"),
        F.col("_rk").alias("neg_rank"),
        F.col("neighbor_id").alias("neg_id"),
        F.col("dist").alias("_neg_raw"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "pos_id",
        F.round("_pos_raw", 6).alias("pos_dist"),
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "neg_id",
        F.round("_neg_raw", 6).alias("neg_dist"),
        F.round(F.col("_neg_raw") - F.col("_pos_raw"), 6).alias("margin"),
    )


def mine_triplets(
    emb: DataFrame,
    k_neg: int = 5,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
    label_col: str = "label",
    impl: str = "exact",
    planner_kwargs: dict | None = None,
) -> DataFrame:
    """Per anchor: nearest same-label positive + top-``k_neg``
    different-label negatives + triplet margins.

    Returns ``(anchor_id, anchor_label, pos_id, pos_dist, neg_rank,
    neg_id, neg_dist, margin)`` — one row per (anchor, negative), the
    positive columns repeated; anchors with no same-label peer or no
    negative are dropped (no triplet exists). ``margin =
    round(neg_dist − pos_dist, 6)`` on the raw distances.

    ``impl``: ``"exact"`` (default — oracle-pinned brute force; one
    fused label-masked blocked scan when the anchors fit the broadcast
    budget, per-label split passes otherwise), ``"split"`` (force the
    per-label passes — the fused path's parity twin), or ``"auto"`` —
    every slice dispatches through plans.knn_planner.knn, which picks
    exact/IVF/IVF-PQ/SQ8 from the slice sizes, the corpus-scale route
    (module docstring).
    ``planner_kwargs`` forwards planner options (approximate_ok,
    memory_tight, recall_target, threshold overrides for tests).
    """
    if impl not in ("exact", "auto", "split"):
        raise ValueError(
            f"impl must be 'exact', 'auto' or 'split', got {impl!r}"
        )
    pk = {"approximate_ok": True, "repeated_queries": True}
    pk.update(planner_kwargs or {})
    base = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(label_col).cast("long").alias("label"),
    ).where(F.col("label").isNotNull() & F.col("vec").isNotNull())
    if impl == "exact":
        # fused single-scan route: the L per-label slice passes each
        # re-scanned ~the whole corpus (2·L scans + 2·L broadcast-collect
        # jobs for L labels); one label-masked blocked kernel computes
        # every slice's pairwise block in a single pass (selection and
        # tie conventions unchanged, so the merged output is the same
        # rows). Falls back to the split passes when the anchor side
        # exceeds the broadcast budget — the split slices then route
        # through exact_knn's own expr fallback.
        fused = _mine_triplets_fused(base, k_neg, metric)
        if fused is not None:
            return fused
        impl = "split"
    # bounded probe: limit(MAX_LABELS+1) caps the driver collect even
    # when the label column is high-cardinality — the overflow raises
    # without ever pulling the full distinct set to the driver
    labels = sorted(
        r["label"]
        for r in base.select("label").distinct().limit(MAX_LABELS + 1).collect()
    )
    if len(labels) > MAX_LABELS:
        raise ValueError(
            f"more than MAX_LABELS={MAX_LABELS} distinct labels: per-label "
            "split passes assume a bounded label set"
        )
    if impl == "auto":
        from vectordbindexing_spark.plans.knn_planner import knn as planner_knn
    pos_parts, neg_parts = [], []
    for lab in labels:
        q = base.where(F.col("label") == lab)
        same = q
        other = base.where(F.col("label") != lab)
        if impl == "auto":
            pos_knn = _planner_pos_knn(q, same, metric, pk)
            neg_knn = planner_knn(
                q, other, k=k_neg, metric=metric,
                q_id="id", q_vec="vec", b_id="id", b_vec="vec", **pk,
            )
        else:
            pos_knn = exact_knn(
                q, same, k=1, metric=metric,
                q_id="id", q_vec="vec", b_id="id", b_vec="vec",
                exclude_self=True,
            )
            neg_knn = exact_knn(
                q, other, k=k_neg, metric=metric,
                q_id="id", q_vec="vec", b_id="id", b_vec="vec",
            )
        pos_parts.append(
            pos_knn.select(
                F.col("qid").alias("anchor_id"),
                F.lit(lab).cast("long").alias("anchor_label"),
                F.col("neighbor_id").alias("pos_id"),
                F.col("dist").alias("_pos_raw"),
            )
        )
        neg_parts.append(
            neg_knn.select(
                F.col("qid").alias("anchor_id"),
                F.col("nbr_rank").alias("neg_rank"),
                F.col("neighbor_id").alias("neg_id"),
                F.col("dist").alias("_neg_raw"),
            )
        )
    pos = pos_parts[0]
    for p in pos_parts[1:]:
        pos = pos.unionByName(p)
    neg = neg_parts[0]
    for p in neg_parts[1:]:
        neg = neg.unionByName(p)
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "pos_id",
        F.round("_pos_raw", 6).alias("pos_dist"),
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "neg_id",
        F.round("_neg_raw", 6).alias("neg_dist"),
        F.round(F.col("_neg_raw") - F.col("_pos_raw"), 6).alias("margin"),
    )
