"""Graph-index construction operators (SURVEY §2.8), DataFrame-native.

The reference's sequential HNSW insert (`hnsw_cosine.py:264-311`) is
order-dependent and unparallelizable; we adopt the bulk-build formulation of
its own C++ core (`hnsw.cpp:52-118`: assign levels first, then build each
layer's kNN graph) which is embarrassingly parallel. Acceptance is recall
parity, not edge-for-edge equality (SURVEY §7 "What's hard").

Edge tables are ``(layer INT, src BIGINT, dst BIGINT, dist DOUBLE)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.hashing import det_hash64
from vectordbindexing_spark.functions.vector import dist_matrix, pair_dist
from vectordbindexing_spark.operators.exact_knn import blocked_self_knn, exact_knn
from vectordbindexing_spark.operators.lsh import _score_candidates
from vectordbindexing_spark.operators.topk import topk_per_group

MAX_LEVEL = 7


def assign_levels(
    df: DataFrame, id_col: str = "id", M: int = 16
) -> DataFrame:
    """Geometric level column: P(level ≥ l) = M^-l  (hnsw_cosine.py:102-109,
    hnsw.cpp:44-50 clamps to 2 layers with P=1/M).

    Deterministic: u = md5-hash(id)/2^32 instead of seeded rand(), and the
    floor(-ln u / ln M) is re-expressed as exact integer threshold counts
    (u < M^-l) so any engine reproduces it bit-for-bit. Requires M a power
    of two (default 16 → thresholds 2^(32-4l)).
    """
    import math

    bits = int(math.log2(M))
    if 2**bits != M:
        raise ValueError("M must be a power of two for exact thresholds")
    # via long, so string/double ids hash the digits assign_level_py hashes
    h = det_hash64(F.col(id_col).cast("long").cast("string"))
    level = sum(
        (h < F.lit(2 ** (32 - bits * l)).cast("long")).cast("int")
        for l in range(1, MAX_LEVEL + 1)
        if 32 - bits * l > 0
    )
    return df.withColumn("level", level)


def assign_level_py(i: int, M: int = 16) -> int:
    """Python twin of :func:`assign_levels` for one integer id — the
    build fold (one bounded node collect feeding both layers' blocked
    kernels) derives the layer-1 subset driver-side instead of paying
    a second filtered collect. Pinned against the Column expression in
    tests/test_graph_search.py."""
    import math

    from vectordbindexing_spark.functions.hashing import det_hash64_py

    bits = int(math.log2(M))
    if 2**bits != M:
        raise ValueError("M must be a power of two for exact thresholds")
    h = det_hash64_py(str(int(i)))
    return sum(
        1
        for level in range(1, MAX_LEVEL + 1)
        if 32 - bits * level > 0 and h < 2 ** (32 - bits * level)
    )


ASSIGN_LEVELS_SQL_TEMPLATE = (
    "(SELECT {cols}, ({terms}) AS level FROM {table})"
)


def assign_levels_sql(table: str, cols: str, id_col: str, M: int = 16) -> str:
    import math

    bits = int(math.log2(M))
    h = f"(('0x' || substr(md5({id_col}::VARCHAR), 1, 8))::BIGINT)"
    terms = " + ".join(
        f"(CASE WHEN {h} < {2 ** (32 - bits * l)} THEN 1 ELSE 0 END)"
        for l in range(1, MAX_LEVEL + 1)
        if 32 - bits * l > 0
    )
    return ASSIGN_LEVELS_SQL_TEMPLATE.format(cols=cols, terms=terms, table=table)


def _knn_graph_bucketed(
    df: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    layer: int,
    num_bits: int | str = "auto",
    num_tables: int = 4,
    group_cap: int = 4096,
) -> DataFrame:
    """Corpus-scale kNN-graph build with BOUNDED work per node: SimHash
    bucket the nodes (occupancy-scaled bits), SALT any bucket past
    ``group_cap`` into hash-assigned subgroups, and run the blocked
    exact top-k kernel INSIDE each (table, bucket, salt) group — edges
    exist only as kernel output (n·tables·k rows), never as a
    candidate-pair join.

    Why not the equi-join path (`lsh_knn` self-join): on a
    distance-concentrated corpus the buckets collapse (measured r07: a
    500k two-blob corpus put ~250k rows per bucket at 8 bits) and the
    probes⨝buckets join materializes n_q × bucket_size candidate ROWS —
    10^11 at 500k, a hang/OOM. Here a mega-bucket instead becomes
    ceil(m/cap) independent ≤~cap-row kernels: per node per table the
    candidate set is a deterministic hash-random ≈cap-subset of its
    bucket — for graph NAVIGABILITY that is the NSW recipe (near edges
    within the subset + long-range links from other tables' subsets),
    and total work is ≤ n · tables · cap pairs whatever the skew.

    Group membership is deterministic (md5 id salts, seeded planes), so
    the build is reproducible across runs/partitionings.
    """
    from vectordbindexing_spark.operators.lsh import (
        scaled_num_bits,
        simhash_buckets,
    )

    nodes = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_nid"), F.col(vec_col).alias("_nv")
    )
    if num_bits == "auto":
        num_bits = scaled_num_bits(nodes.count(), target_bucket=group_cap // 2)
    bk = simhash_buckets(
        nodes, "_nid", "_nv", num_bits, num_tables, bucket_cap=None
    ).withColumnRenamed("id", "_nid")
    # salt factor per OVERFULL bucket only (≤ n/cap entries — small
    # relative to n; broadcast join). Hash-salting needs no global sort
    # and keeps groups ≈cap in expectation.
    salts = (
        bk.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > group_cap)
        .select(
            "bucket",
            F.ceil(F.col("_m") / group_cap).cast("long").alias("_nsalt"),
        )
    )
    salted = (
        bk.join(F.broadcast(salts), "bucket", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(
                    det_hash64(
                        F.concat_ws(":", F.col("_nid"), F.col("bucket"))
                    ),
                    F.col("_nsalt"),
                ),
            ).otherwise(F.lit(0)),
        )
        .select("bucket", "_salt", "_nid")
        .join(nodes, "_nid")
    )

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_nid"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_nv"]])
        order = np.argsort(ids, kind="stable")
        ids, V = ids[order], V[order]
        src, dst, dist = blocked_self_knn(ids, V, ids, V, k, metric)
        return pd.DataFrame({"src": src, "dst": dst, "dist": dist})

    per_table = salted.groupBy("bucket", "_salt").applyInPandas(
        build_group, schema="src long, dst long, dist double"
    )
    # one neighbor = one slot: min-dist canonicalization across tables
    # (group compositions differ, so BLAS low bits can differ) before the
    # global per-node top-k
    uniq = per_table.groupBy("src", "dst").agg(F.min("dist").alias("dist"))
    edges = topk_per_group(
        uniq, ["src"], "dist", k, tie_col="dst", rank_name="_rn"
    ).drop("_rn")
    return edges.select(F.lit(layer).alias("layer"), "src", "dst", "dist")


def knn_graph(
    df: DataFrame,
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
    impl: str = "blocked",
    layer: int = 0,
    num_bits: int | str = "auto",
    num_tables: int = 8,
) -> DataFrame:
    """Directed kNN graph: each node → its k nearest others (self excluded).

    ``impl='blocked'`` broadcasts the node set as the query side — exact,
    right up to ~100k nodes. ``impl='bucketed'`` is the corpus-scale
    build (:func:`_knn_graph_bucketed`): in-kernel exact top-k inside
    salt-bounded SimHash groups — work ≤ n·tables·cap pairs however
    skewed the bucket occupancy. ``impl='lsh'`` is the equi-join
    candidate retrieval (`lsh_knn` self-join; candidates ∝ collisions)
    — fine on well-spread corpora, degenerates on concentrated ones
    (see the bucketed docstring); kept for parity with the serving-path
    LSH and tuned by (num_bits, num_tables). Recall parity, not
    edge-for-edge equality, is the graph-quality criterion (SURVEY §7).
    """
    if impl == "bucketed":
        return _knn_graph_bucketed(
            df, k, metric, id_col, vec_col, layer,
            num_bits=num_bits, num_tables=min(num_tables, 4),
        )
    if impl == "lsh":
        from vectordbindexing_spark.operators.lsh import lsh_knn

        knn = lsh_knn(
            df, df, k=k + 1, metric=metric,
            num_bits=num_bits, num_tables=num_tables,
            q_id=id_col, q_vec=vec_col, b_id=id_col, b_vec=vec_col,
        )
        # self-match can land anywhere in the top-(k+1); filter then re-rank
        edges = knn.filter(F.col("neighbor_id") != F.col("qid"))
        edges = topk_per_group(
            edges.select(
                F.col("qid").alias("src"), F.col("neighbor_id").alias("dst"),
                "dist",
            ),
            ["src"], "dist", k, tie_col="dst", rank_name="_rn",
        ).drop("_rn")
    else:
        # self excluded inside the kernel → ranks are already 1..k and the
        # second ranking shuffle the post-filter would need disappears
        knn = exact_knn(
            df, df, k=k, metric=metric, impl=impl,
            q_id=id_col, q_vec=vec_col, b_id=id_col, b_vec=vec_col,
            exclude_self=True,
        )
        edges = knn.select(
            F.col("qid").alias("src"), F.col("neighbor_id").alias("dst"), "dist"
        )
    return edges.select(F.lit(layer).alias("layer"), "src", "dst", "dist")


def random_matching_edges(
    nodes: DataFrame,
    rounds: int = 3,
    layer: int = 1,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Deterministic random long-range edges: ``rounds`` independent
    hash-random matchings over the node set (union ≈ a random
    2·rounds-regular graph — connected w.h.p. for rounds ≥ 2), with
    exact distances. The NSW ingredient a pure kNN graph lacks: on a
    clustered corpus every kNN edge is intra-cluster, so the two-layer
    graph decomposes into one component per cluster and a beam from any
    entry point can never reach the other clusters' nodes (measured
    r07: 500k×128, 64 Gaussian clusters — serving recall 0.06, exactly
    the ~3 entry-covered clusters out of 64). Long links let the
    upper-layer beam hop clusters: visiting ~ef nodes samples
    ~ef·rounds uniform nodes, so any cluster of mass 1/B is hit w.h.p.
    once ef ≳ B, after which the local kNN edges take over.

    Dataflow: per round, nodes get a hash key into ~n/2 groups; each
    group (Poisson mean 2) emits a path over its hash-ordered members —
    pure groupBy, no global sort, no driver state. Distances come from
    one vector join + Arrow pair kernel over the O(n·rounds) edge rows.
    Output (layer, src, dst, dist) like knn_graph."""
    nv = nodes.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_nid"), F.col(vec_col).alias("_nv")
    )
    n = nv.count()
    if n < 4:
        return nv.sparkSession.createDataFrame(
            [], "layer int, src long, dst long, dist double"
        )
    groups = max(2, n // 2)
    pairs = None
    for j in range(rounds):
        key = F.pmod(
            det_hash64(F.concat_ws(":", F.lit(j), F.col("_nid"))),
            F.lit(groups),
        )
        hh = det_hash64(F.concat_ws("#", F.lit(j), F.col("_nid")))
        members = nv.select(
            "_nid", key.alias("_g"), hh.alias("_h")
        )
        # path over hash-ordered group members: lead() within the group
        from pyspark.sql import Window

        w = Window.partitionBy("_g").orderBy("_h", "_nid")
        p = (
            members.withColumn("_nxt", F.lead("_nid").over(w))
            .filter(F.col("_nxt").isNotNull() & (F.col("_nid") != F.col("_nxt")))
            .select(F.col("_nid").alias("src"), F.col("_nxt").alias("dst"))
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.dropDuplicates(["src", "dst"])
    paired = (
        pairs.join(nv.select(F.col("_nid").alias("src"),
                             F.col("_nv").alias("_qv")), "src")
        .join(nv.select(F.col("_nid").alias("dst"),
                        F.col("_nv").alias("_bv")), "dst")
    )

    scored = _score_candidates(paired, metric, "src long, dst long")
    return scored.select(
        F.lit(layer).alias("layer"), "src", "dst", "dist"
    )


REFINE_BROADCAST_LIMIT = 2_000_000  # vecs broadcast ≈ n·d·4B ≤ ~1 GB


def refine_knn_graph(
    edges: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "cosine",
    rounds: int = 1,
    sample: int = 8,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """NN-descent refinement (Dong, Moses & Li, WWW'11) of an
    approximate kNN edge table: each round proposes every node's
    neighbors-of-neighbors (via the ``sample`` closest in-/out-edges per
    node), re-scores proposals exactly, and keeps the per-node top-k of
    current ∪ proposed. The local-closure principle — a neighbor of a
    neighbor is likely a neighbor — moves approximate graphs toward the
    exact kNN graph; use it when the EDGE TABLE is the product (kNN
    graph export for clustering/dedup/downstream ML). For graph-ANN
    *serving* it is usually unnecessary: measured r07, the bucketed
    build's hash-random links navigate as well or better un-refined
    (SCALE.md), and on distance-concentrated corpora the per-round gain
    is bounded by proposals/|near-tie set| (measured 0.308→0.353 over
    two rounds at 100k two-blob vs 0.836→0.882 at 64-blob).

    Dataflow per round: the proposal join is narrow id triples
    (n·sample² rows ≈ 32M at 500k, sample=8); scoring streams proposals
    through a mapInPandas kernel against the BROADCAST (n×d float32)
    vector matrix — no vector shuffle at all (guarded by
    REFINE_BROADCAST_LIMIT; past it score via the pair-join kernel like
    lsh_knn, shuffle ∝ proposals·d). Input/output schema
    (layer, src, dst, dist); multi-layer tables refine per layer."""
    from collections.abc import Iterator

    nodes = base.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_nid"), F.col(vec_col).alias("_nv")
    )
    n = nodes.limit(REFINE_BROADCAST_LIMIT + 1).count()
    use_broadcast = n <= REFINE_BROADCAST_LIMIT
    bc = None
    if use_broadcast:
        pdf = nodes.toPandas()
        ids = pdf["_nid"].to_numpy()
        V = np.stack(
            [np.asarray(v, dtype=np.float32) for v in pdf["_nv"]]
        )
        order = np.argsort(ids, kind="stable")
        ids, V = ids[order], V[order]
        # id -> row position via searchsorted on the SORTED ids array: a
        # dense max(id)+1 lookup table would allocate ~2^60 entries for
        # sparse/hashed 64-bit ids (OOM at tiny node counts) and index
        # from the tail for negative ids silently
        bc = edges.sparkSession.sparkContext.broadcast((ids, V))

    def _positions(ids_sorted: np.ndarray, want: np.ndarray) -> np.ndarray:
        p = np.searchsorted(ids_sorted, want)
        if np.any(p >= len(ids_sorted)) or np.any(ids_sorted[p] != want):
            missing = want[
                (p >= len(ids_sorted))
                | (ids_sorted[np.minimum(p, len(ids_sorted) - 1)] != want)
            ]
            raise KeyError(
                f"edge endpoints not in the vector table: {missing[:5]}"
            )
        return p

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_l, Vb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = Vb[_positions(ids_l, pdf["src"].to_numpy())].astype(np.float64)
            B = Vb[_positions(ids_l, pdf["dst"].to_numpy())].astype(np.float64)
            d = pair_dist(A, B, metric)
            yield pd.DataFrame(
                {
                    "layer": pdf["layer"].to_numpy(),
                    "src": pdf["src"].to_numpy(),
                    "dst": pdf["dst"].to_numpy(),
                    "dist": d,
                }
            )

    def score(cand: DataFrame) -> DataFrame:
        if use_broadcast:
            from vectordbindexing_spark.plans.partitioning import (
                repartition_for_compute,
            )

            return repartition_for_compute(cand).mapInPandas(
                score_batches,
                schema="layer int, src long, dst long, dist double",
            )
        qv = nodes.select(F.col("_nid").alias("src"), F.col("_nv").alias("_qv"))
        bv = nodes.select(F.col("_nid").alias("dst"), F.col("_nv").alias("_bv"))
        paired = cand.join(qv, "src").join(bv, "dst")
        return _score_candidates(paired, metric, "layer int, src long, dst long")

    for _ in range(max(0, rounds)):
        rev = edges.select(
            "layer", F.col("dst").alias("src"), F.col("src").alias("dst"),
            "dist",
        )
        und = edges.unionByName(rev).groupBy("layer", "src", "dst").agg(
            F.min("dist").alias("dist")
        )
        samp = topk_per_group(
            und, ["layer", "src"], "dist", sample, tie_col="dst",
            rank_name="_rn",
        ).drop("_rn").localCheckpoint(eager=True)  # feeds both join sides
        nn2 = (
            samp.select("layer", "src", F.col("dst").alias("_mid"))
            .join(
                samp.select(
                    "layer", F.col("src").alias("_mid"),
                    F.col("dst").alias("_cand"),
                ),
                ["layer", "_mid"],
            )
            .filter(F.col("src") != F.col("_cand"))
            .select("layer", "src", F.col("_cand").alias("dst"))
        )
        proposals = (
            nn2.unionByName(und.select("layer", "src", "dst"))
            .dropDuplicates(["layer", "src", "dst"])
        )
        scored = score(proposals)
        edges = topk_per_group(
            scored, ["layer", "src"], "dist", k, tie_col="dst",
            rank_name="_rn",
        ).drop("_rn").select("layer", "src", "dst", "dist")
        # materialize per round: the next round's und/samp AND the
        # caller's downstream consumers would otherwise re-execute the
        # whole lineage once per reference (measured 10× build blowup)
        edges = edges.localCheckpoint(eager=True)
    return edges


def mutualize(edges: DataFrame, max_degree: int) -> DataFrame:
    """Make edges bidirectional, then cap each node's out-degree at
    ``max_degree`` keeping nearest (reference `_add_link` prune,
    hnsw_cosine.py:313-332; reverse-edge cap roargraph_python.py:284-293)."""
    rev = edges.select(
        "layer", F.col("dst").alias("src"), F.col("src").alias("dst"), "dist"
    )
    alle = edges.unionByName(rev)
    # Canonicalize one dist per (src, dst) FIRST: an edge and its reverse
    # are mathematically equal but the batched distance kernel can produce
    # low-bit-different floats for d(i,j) vs d(j,i) (BLAS accumulation
    # differs across batch shapes), which would defeat struct-equality
    # dedup and burn degree-cap slots on duplicate neighbors. Both
    # aggregations are map-side combinable; shuffle volume is O(E) narrow
    # rows either way.
    uniq = alle.groupBy("layer", "src", "dst").agg(F.min("dist").alias("dist"))
    # sort by (dist, dst) = the rank window's (dist asc, tie dst) order;
    # slice caps the degree
    nbrs = F.slice(
        F.sort_array(F.collect_list(F.struct("dist", "dst"))), 1, max_degree
    )
    return (
        uniq.groupBy("layer", "src")
        .agg(nbrs.alias("_nbrs"))
        .select(
            "layer", "src", F.explode("_nbrs").alias("_e")
        )
        .select("layer", "src", F.col("_e.dst").alias("dst"),
                F.col("_e.dist").alias("dist"))
    )


def diversify_edges(
    edges: DataFrame,
    base: DataFrame,
    max_degree: int,
    alpha: float = 1.0,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """HNSW select-neighbors heuristic (Malkov & Yashunin TPAMI 2018
    Alg. 4; the C++ core's neighbor selection, hnsw.cpp _add_link
    prune family) applied per (layer, src) to a CANDIDATE edge list:
    scanning candidates nearest-first, keep c only if
    ``alpha · d(src, c) < d(c, u)`` for every already-kept u, stopping
    at ``max_degree``. A pure kNN graph points every edge into the
    local cluster; RNG-style diversification adds the long-range exits
    greedy routing needs. Measured effect is data-dependent: on a
    distance-concentrated corpus (100k×128 two-blob synthetic, where
    within-blob pairs are near-equidistant) it is recall-neutral —
    there the beam width is the binding lever (see SCALE.md measured
    serving) — while on separated manifolds it is the standard
    navigability fix.

    Dataflow: one join to fetch candidate vectors (shuffle ∝ E·d, the
    roargraph_build enriched-join class), then an applyInPandas group
    kernel computing the C×C candidate distance matrix per node
    (C = candidate count, small). Opt-in from
    :func:`build_two_layer_index(heuristic=True)`; the plain kNN build
    stays the default because the recall-pin oracles replay it."""
    from vectordbindexing_spark.functions.vector import to_double_array

    bvec = base.select(
        F.col(id_col).cast("long").alias("dst"),
        to_double_array(vec_col).alias("_dv"),
    )
    enr = edges.join(bvec, "dst")

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["dist", "dst"], kind="mergesort"
        ).reset_index(drop=True)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_dv"]])
        Dc = dist_matrix(V, V, metric)
        d_src = pdf["dist"].to_numpy()
        kept: list[int] = []
        for i in range(len(pdf)):
            if len(kept) >= max_degree:
                break
            if all(alpha * d_src[i] < Dc[i, j] for j in kept):
                kept.append(i)
        out = pdf.iloc[kept]
        return pd.DataFrame(
            {
                "layer": out["layer"].astype("int32"),
                "src": out["src"].astype("int64"),
                "dst": out["dst"].astype("int64"),
                "dist": out["dist"].astype("float64"),
            }
        )

    return enr.groupBy("layer", "src").applyInPandas(
        prune, schema="layer int, src long, dst long, dist double"
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-layer degree statistics (roargraph_python.py:421-434)."""
    deg = edges.groupBy("layer", "src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("layer")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("degree").alias("n_edges"),
            F.round(F.avg("degree"), 4).alias("avg_degree"),
            F.max("degree").alias("max_degree"),
            F.min("degree").alias("min_degree"),
        )
        .orderBy("layer")
    )


def entry_points(edges: DataFrame, layer: int = 0, n: int = 1) -> DataFrame:
    """Top-n max-degree nodes of a layer (roargraph_python.py:164-175;
    top-3 variant :344-351). Ties broken by smaller id."""
    deg = (
        edges.filter(F.col("layer") == layer)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        topk_per_group(
            deg.withColumn("_g", F.lit(1)), ["_g"], "degree", n,
            tie_col="src", rank_name="ep_rank", ascending=False,
        )
        .select(F.col("ep_rank"), F.col("src").alias("node_id"), "degree")
    )


BLOCKED_BUILD_LIMIT = 100_000  # above this, layer-0 builds go through LSH


def _knn_graphs_from_local(
    qpdf, base, upper, k0, k1, metric, id_col, vec_col, M_level
):
    """Both layers' blocked kNN-graph edges from the ONE collected node
    set (``qpdf`` — (qid, v) in scan order, ≤ BLOCKED_BUILD_LIMIT rows).
    Exactly knn_graph(impl='blocked') per layer — same null filter,
    query order, kernel, exclude-self and rank conventions — with the
    two per-layer query collects replaced by driver-side slicing. The
    layer-1 query subset filter (assign_level_py) is the Python twin of
    the assign_levels column the distributed path filters on."""
    import numpy as np

    from vectordbindexing_spark.operators.exact_knn import (
        exact_knn_local_queries,
    )

    def _edges(sub, k, layer, b_df):
        if len(sub) == 0:
            # no queries: same empty frame the expr fallback returns
            return knn_graph(
                b_df.limit(0), k, metric, id_col, vec_col,
                impl="blocked", layer=layer,
            )
        qids = sub["qid"].to_numpy()
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in sub["v"]])
        knn = exact_knn_local_queries(
            qids, Q, b_df, k, metric, b_id=id_col, b_vec=vec_col,
            exclude_self=True,
        )
        return knn.select(
            F.lit(layer).alias("layer"),
            F.col("qid").alias("src"),
            F.col("neighbor_id").alias("dst"),
            "dist",
        )

    nn = qpdf[qpdf["v"].notna()]  # exact_knn's query-side null filter
    up = nn[[assign_level_py(i, M_level) >= 1 for i in nn["qid"]]]
    return _edges(up, k1, 1, upper), _edges(nn, k0, 0, base)


def build_two_layer_index(
    base: DataFrame,
    M0: int = 32,
    M1: int = 16,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
    M_level: int = 16,
    impl: str = "auto",
    heuristic: bool = False,
    alpha: float = 1.0,
    candidate_factor: int = 3,
    refine_rounds: int | str = "auto",
) -> DataFrame:
    """Two-layer bulk build mirroring the C++ core's 3 passes
    (hnsw.cpp:52-118): deterministic level assignment → layer-1 kNN graph
    over level≥1 nodes → layer-0 kNN graph over all nodes; both mutualized.

    ``impl='auto'`` sizes the strategy: exact blocked kernel while the
    node set broadcasts, the salt-bounded in-kernel bucketed build
    (:func:`_knn_graph_bucketed`) beyond BLOCKED_BUILD_LIMIT (the
    layer-1 subset is ~n/M_level and is probed separately — it usually
    stays exact far longer).

    ``refine_rounds`` runs NN-descent rounds (:func:`refine_knn_graph`)
    on each layer's raw kNN edges before mutualizing — for callers that
    export the edge table itself; ``"auto"`` = 0 (measured
    serving-recall-neutral, see refine_knn_graph / SCALE.md r07).

    ``heuristic=True`` applies the HNSW select-neighbors heuristic
    (:func:`diversify_edges`) to a ``candidate_factor``× oversampled
    candidate list before mutualizing — the standard navigability fix
    for pure kNN graphs (data-dependent gain; recall-neutral on
    distance-concentrated corpora, never worse — pinned by test).
    Opt-in: the recall-pin oracles replay the plain build.
    """
    # ONE bounded collect serves the auto strategy probe AND (when the
    # blocked route wins) BOTH layers' blocked-kernel query sets: N+1
    # rows coming back IS the "too big — go bucketed" answer (the old
    # limit(N+1).count() probe), otherwise the rows are exactly what
    # exact_knn's blocked impl would have collected per layer — two
    # more full-scan query collects per build (three jobs → one). The
    # layer-1 subset is derived driver-side (assign_level_py ≡ the
    # assign_levels column, pinned by test); row order/content — and
    # therefore every kernel chunk and BLAS call — are unchanged, so
    # the edge set stays bit-identical to the per-layer collects.
    qpdf = None
    if impl in ("auto", "blocked"):
        qpdf = (
            base.select(
                F.col(id_col).cast("long").alias("qid"),
                F.col(vec_col).alias("v"),
            )
            .limit(BLOCKED_BUILD_LIMIT + 1)
            .toPandas()
        )
        if impl == "auto":
            impl = (
                "bucketed" if len(qpdf) > BLOCKED_BUILD_LIMIT else "blocked"
            )
        if impl != "blocked" or len(qpdf) > BLOCKED_BUILD_LIMIT:
            qpdf = None  # forced-blocked past the gate: exact_knn's own
            # probe/fallback (expr join) handles it as before
    leveled = assign_levels(base, id_col=id_col, M=M_level)
    upper = leveled.filter(F.col("level") >= 1)
    # upper layer is ~n/M_level — usually back under the blocked limit;
    # probe rather than assume (at 10M nodes layer-1 is ~625k)
    if impl in ("lsh", "bucketed"):
        up_probe = upper.limit(BLOCKED_BUILD_LIMIT + 1).count()
        l1_impl = impl if up_probe > BLOCKED_BUILD_LIMIT else "blocked"
    else:
        l1_impl = impl
    cf = max(1, candidate_factor) if heuristic else 1
    if qpdf is not None:
        l1, l0 = _knn_graphs_from_local(
            qpdf, base, upper, M0 * cf, M1 * cf, metric, id_col, vec_col,
            M_level,
        )
    else:
        l1 = knn_graph(upper, M1 * cf, metric, id_col, vec_col,
                       impl=l1_impl, layer=1)
        l0 = knn_graph(base, M0 * cf, metric, id_col, vec_col,
                       impl=impl, layer=0)
    # "auto" = 0: measured r07 (100k×128 two-blob, ef 256/512) — the
    # bucketed build's hash-random long-range links already navigate
    # BETTER than the exact blocked graph (0.950/0.986 vs the r06
    # blocked 0.874/0.944), and two NN-descent rounds were
    # serving-recall-neutral (0.946/0.985) at ~6× the build cost.
    # refine_rounds is the knob for callers whose PRODUCT is the edge
    # table itself (kNN-graph export), where edge recall is the metric.
    if refine_rounds == "auto":
        refine_rounds = 0
    if refine_rounds:
        if l1_impl in ("lsh", "bucketed"):
            l1 = refine_knn_graph(
                l1, upper, M1 * cf, metric, rounds=refine_rounds,
                id_col=id_col, vec_col=vec_col,
            )
        if impl in ("lsh", "bucketed"):
            l0 = refine_knn_graph(
                l0, base, M0 * cf, metric, rounds=refine_rounds,
                id_col=id_col, vec_col=vec_col,
            )
    if impl in ("lsh", "bucketed"):
        # scale builds add hash-random long links on the top layer —
        # without them a clustered corpus yields one component per
        # cluster and serving recall collapses to the entry-covered
        # clusters (random_matching_edges docstring; measured r07).
        # The blocked build keeps its pinned-oracle edge set unchanged;
        # at blocked scales multi-entry search already covers the
        # contract corpora.
        l1 = l1.unionByName(
            random_matching_edges(
                upper, rounds=3, layer=1, metric=metric,
                id_col=id_col, vec_col=vec_col,
            )
        )
    cand = l1.unionByName(l0)
    if heuristic:
        div1 = diversify_edges(
            cand.filter(F.col("layer") == 1), base, M1, alpha, metric,
            id_col, vec_col,
        )
        div0 = diversify_edges(
            cand.filter(F.col("layer") == 0), base, M0, alpha, metric,
            id_col, vec_col,
        )
        cand = div1.unionByName(div0)
    return mutualize(cand, max_degree=2 * max(M0, M1))


def roargraph_build(
    queries: DataFrame,
    base: DataFrame,
    k_nn: int = 100,
    n_targets: int = 10,
    M_pjbp: int = 32,
    occlude_alpha: float = 1.0,
    metric: str = "ip",
    q_id: str = "qid",
    q_vec: str = "vec",
    b_id: str = "id",
    b_vec: str = "vec",
) -> DataFrame:
    """RoarGraph projection-graph build (roargraph_python.py:295-323):

    1. exact query→base KNN(k_nn)  (build_learn_base_knn :155-162)
    2. per query: pivot targets = top-``n_targets``; remaining top-k are
       occlusion-pruned as that target's neighbors (prune_candidates
       :177-231, α=1.0) — order-dependent scan → applyInPandas per query
    3. reverse edges, degree cap 2·M_pjbp (:284-293)

    Returns edge table (layer=0, src, dst, dist).
    """
    import numpy as np
    import pandas as pd

    knn = exact_knn(
        queries, base, k=k_nn, metric=metric, impl="blocked",
        q_id=q_id, q_vec=q_vec, b_id=b_id, b_vec=b_vec,
    )
    bvec = base.select(
        F.col(b_id).cast("long").alias("neighbor_id"),
        F.col(b_vec).alias("_nv"),
    )
    enriched = knn.join(bvec, "neighbor_id").select(
        "qid", "nbr_rank", "neighbor_id", "dist", "_nv"
    )

    def prune_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("nbr_rank")
        ids = pdf["neighbor_id"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_nv"]])
        D = dist_matrix(V, V, metric)
        src, dst, dd = [], [], []
        n_t = min(n_targets, len(ids))
        for t in range(n_t):
            # candidates: all other top-k members, nearest-to-target first
            order = np.argsort(D[t], kind="stable")
            picked: list[int] = []
            for c in order:
                if c == t:
                    continue
                # occlusion rule (reference prune_candidates orientation,
                # roargraph_python.py:177-231): r occludes c when
                # d(c,r) <= α·d(c,t) — larger α prunes MORE; ties prune
                if all(
                    D[c, r] > occlude_alpha * D[c, t] for r in picked
                ):
                    picked.append(int(c))
                if len(picked) >= M_pjbp:
                    break
            for c in picked:
                src.append(int(ids[t])); dst.append(int(ids[c])); dd.append(float(D[t, c]))
        return pd.DataFrame({"src": src, "dst": dst, "dist": dd})

    edges = enriched.groupBy("qid").applyInPandas(
        prune_group, schema="src long, dst long, dist double"
    ).dropDuplicates(["src", "dst"])
    capped = mutualize(
        edges.select(F.lit(0).alias("layer"), "src", "dst", "dist"),
        max_degree=2 * M_pjbp,
    )
    return capped


def khop_reachability(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    id_col: str = "id",
) -> DataFrame:
    """Multi-source bounded BFS: (root, node, hops) for every node
    reachable from each source within ``max_hops`` edge traversals
    (hops = BFS distance, 0 for the source itself).

    Distributed form of the reference's k-hop reachability pre-check
    (hnsw_cosine.py:733-783 — driver-side queue walk before augmenting an
    edge): each round is one frontier ⨝ adjacency equi-join plus a
    visited anti-join, with an early exit when the frontier drains.
    Rounds are localCheckpoint-ed (iterative lineage would otherwise
    re-execute the prefix per action). Per-round volume is bounded by
    |roots| × |reached| — keep the source set bounded (entry points,
    candidate endpoints), not the whole corpus.
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("_es"),
            F.col("dst").cast("long").alias("_ed"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # re-joined every round
    )
    reached = (
        sources.select(F.col(id_col).cast("long").alias("root"))
        .distinct()
        .select("root", F.col("root").alias("node"), F.lit(0).alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = reached
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_es"])
            .select("root", F.col("_ed").alias("node"), F.lit(h).alias("hops"))
            .distinct()
        )
        # lazy checkpoint: the count() materializes it and doubles as the
        # drain probe (eager + limit(1).count() was two jobs per round);
        # the union checkpoint materializes inside the NEXT round's probe
        new = nxt.join(
            reached.select("root", "node"), ["root", "node"], "left_anti"
        ).localCheckpoint(eager=False)
        if new.count() == 0:
            break
        reached = reached.union(new).localCheckpoint(eager=False)
        frontier = new
    return reached


def drop_redundant_pairs(
    edges: DataFrame,
    cand_pairs: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Filter candidate augmentation pairs whose dst is already reachable
    from src within ``max_hops`` hops — the reference's can_add BFS gate
    (hnsw_cosine.py:744-780) as one reachability build + one anti-join,
    instead of a per-pair queue walk."""
    roots = cand_pairs.select(F.col(src_col).alias("id"))
    reach = khop_reachability(edges, roots, max_hops).select(
        F.col("root").alias(src_col), F.col("node").alias(dst_col)
    )
    return cand_pairs.join(reach, [src_col, dst_col], "left_anti")
