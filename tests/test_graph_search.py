"""Graph build + ANN search: invariants and recall floors vs exact oracle."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


def test_assign_levels_distribution(spark, emb):
    from vectordbindexing_spark.operators.graph import assign_levels

    lv = assign_levels(emb, id_col="vec_id", M=16)
    counts = {r["level"]: r["cnt"] for r in
              lv.groupBy("level").agg(F.count("*").alias("cnt")).collect()}
    n = sum(counts.values())
    assert counts[0] > 0.85 * n  # P(level>=1) = 1/16
    assert max(counts) <= 7
    # deterministic: same result twice
    lv2 = {r["vec_id"]: r["level"] for r in
           assign_levels(emb, id_col="vec_id", M=16).collect()}
    lv1 = {r["vec_id"]: r["level"] for r in lv.collect()}
    assert lv1 == lv2


def test_knn_graph_invariants(spark, emb):
    from vectordbindexing_spark.operators.graph import degree_stats, knn_graph, mutualize

    g = knn_graph(emb.limit(200), k=5, metric="cosine",
                  id_col="vec_id", vec_col="embedding")
    rows = g.collect()
    assert all(r["src"] != r["dst"] for r in rows)  # no self-loops
    deg = degree_stats(g).collect()[0]
    assert deg["max_degree"] == 5 and deg["min_degree"] == 5
    m = mutualize(g, max_degree=8)
    mdeg = degree_stats(m).collect()[0]
    assert mdeg["max_degree"] <= 8
    # mutualize keeps edge set symmetric-before-cap: spot check no dup pairs
    assert m.groupBy("layer", "src", "dst").count().filter("count > 1").count() == 0


def test_two_layer_search_recall(spark, emb):
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    edges = build_two_layer_index(b, M0=16, M1=8, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    got = graph_search(q, idx, k=10, ef_search=64,
                       q_id="vec_id", q_vec="embedding")
    ex = exact_knn(q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    rec = (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(F.avg("r"))
        .collect()[0][0]
    )
    assert rec >= 0.9, f"graph search recall@10 too low: {rec}"


def test_roargraph_build_and_search_recall(spark, emb):
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import degree_stats, roargraph_build
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    train_q = emb.filter(F.col("vec_id") % 10 == 5)  # train queries
    test_q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter((F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 5))
    edges = roargraph_build(
        train_q, b, k_nn=50, n_targets=10, M_pjbp=16, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    st = degree_stats(edges).collect()[0]
    assert st["avg_degree"] > 2  # reference sanity floor (README.md:101-121)
    assert st["max_degree"] <= 32
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    got = graph_search(test_q, idx, k=10, ef_search=64,
                       q_id="vec_id", q_vec="embedding")
    ex = exact_knn(test_q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    epx = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    rec = (
        gp.join(epx, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(F.avg("r"))
        .collect()[0][0]
    )
    # reference band for python RoarGraph: 0.60-0.85 (hnsw_optimization/README.md:97)
    assert rec >= 0.6, f"roargraph recall@10 too low: {rec}"


def test_graph_search_with_stats(spark, emb):
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search
    from vectordbindexing_spark.operators.metrics import percentiles

    q = emb.filter(F.col("vec_id") % 10 == 0).limit(10)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    edges = build_two_layer_index(b, M0=12, M1=6, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding")
    got = graph_search(q, idx, k=5, ef_search=32, with_stats=True,
                       q_id="vec_id", q_vec="embedding")
    rows = got.collect()
    assert {"visited_count", "hops", "latency_us"} <= set(got.columns)
    assert all(r["visited_count"] > 0 and r["hops"] > 0 for r in rows)
    assert all(r["latency_us"] >= 0 for r in rows)
    # stats aggregate (reference batch_search mean/std of visited+latency)
    summary = percentiles(
        got.filter("nbr_rank = 1"), "visited_count"
    ).collect()[0]
    assert summary["mean"] > 0


def test_occlusion_alpha_orientation(spark):
    """Pin the reference prune orientation (roargraph_python.py:177-231):
    r occludes c when d(c,r) <= alpha*d(c,t) — larger alpha prunes MORE.

    Collinear L2 layout: t=(0,0), r=(1,0), c=(2,0); query at (0.1,0) so the
    top-3 ranks are [t, r, c] and the single pivot is t. With picked={r},
    c survives iff d(c,r)=1 > alpha*d(c,t)=2*alpha, i.e. iff alpha < 0.5.
    """
    from vectordbindexing_spark.operators.graph import roargraph_build

    base = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0])],
        "id long, vec array<double>",
    )
    q = spark.createDataFrame([(100, [0.1, 0.0])], "qid long, vec array<double>")

    def tc_edges(alpha):
        e = roargraph_build(
            q, base, k_nn=3, n_targets=1, M_pjbp=5,
            occlude_alpha=alpha, metric="l2",
        )
        return {(r["src"], r["dst"]) for r in e.collect()}

    assert (1, 3) in tc_edges(0.4)      # alpha < 0.5 keeps c
    assert (1, 3) not in tc_edges(1.0)  # default alpha prunes c
    assert (1, 3) not in tc_edges(1.5)  # larger alpha prunes at least as much


def test_multi_path_search(spark, emb):
    """max_paths=1 must reduce to the single-path beam exactly; larger
    max_paths emits path counts and keeps the recall contract."""
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    q = emb.filter(F.col("vec_id") % 10 == 0).limit(20)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    edges = build_two_layer_index(b, M0=12, M1=6, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding")

    base = sorted(tuple(r) for r in graph_search(
        q, idx, k=5, ef_search=32, q_id="vec_id", q_vec="embedding").collect())
    one = sorted(tuple(r) for r in graph_search(
        q, idx, k=5, ef_search=32, max_paths=1,
        q_id="vec_id", q_vec="embedding").collect())
    assert one == base  # popping 1 head per round == single-path search
    one_stats = graph_search(q, idx, k=5, ef_search=32, max_paths=1,
                             with_stats=True, q_id="vec_id",
                             q_vec="embedding").collect()
    assert all(r["path_pops"] == r["hops"] for r in one_stats)

    multi = graph_search(q, idx, k=5, ef_search=32, max_paths=3,
                         with_stats=True, q_id="vec_id", q_vec="embedding")
    rows = multi.collect()
    assert "path_pops" in multi.columns
    assert all(r["path_pops"] > 0 for r in rows)
    # multi-path explores at least as much per round as single-path
    assert all(r["path_pops"] >= r["hops"] for r in rows)


def test_graph_paths_exclude_null_vectors(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.graph import (
        build_two_layer_index,
        knn_graph,
        mutualize,
    )
    from vectordbindexing_spark.operators.search import (
        compact_index,
        frontier_search,
        graph_search,
    )

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    df = spark.createDataFrame(rows + [(99, None)], "id long, vec array<double>")
    q = spark.createDataFrame(
        [(9, [float(x) for x in rng.normal(size=8)]), (8, None)],
        "qid long, vec array<double>",
    )
    edges = build_two_layer_index(df, M0=4, M1=2, metric="cosine",
                                  id_col="id", vec_col="vec")
    idx = compact_index(edges, df, id_col="id", vec_col="vec", metric="cosine")
    out = graph_search(q, idx, k=3, ef_search=16, q_id="qid", q_vec="vec").collect()
    e2 = mutualize(knn_graph(df, 4, "cosine", "id", "vec"), max_degree=8)
    out2 = frontier_search(
        q, e2, df, k=3, rounds=2, beam=8, metric="cosine",
        q_id="qid", q_vec="vec", b_id="id", b_vec="vec",
    ).collect()
    for rows_ in (out, out2):
        assert rows_ and all(r["qid"] == 9 for r in rows_)
        assert all(r["neighbor_id"] != 99 for r in rows_)


def test_diversify_edges_rng_rule(spark):
    """Select-neighbors heuristic: a candidate closer to an already-kept
    neighbor than to the source is occluded; farther-but-diverse
    candidates survive."""
    import math

    from vectordbindexing_spark.operators.graph import diversify_edges

    pts = {0: (0.0, 0.0), 1: (1.0, 0.0), 2: (1.2, 0.1), 3: (0.0, 1.5)}
    base = spark.createDataFrame(
        [(i, list(v)) for i, v in pts.items()],
        schema="id long, vec array<double>",
    )

    def d(a, b):
        return math.dist(pts[a], pts[b])

    edges = spark.createDataFrame(
        [(0, 0, j, d(0, j)) for j in (1, 2, 3)],
        schema="layer int, src long, dst long, dist double",
    )
    out = diversify_edges(edges, base, max_degree=3, alpha=1.0, metric="l2")
    kept = sorted(r["dst"] for r in out.collect())
    # 2 is occluded by 1 (d(0,2)=1.204 > d(2,1)=0.224); 3 is diverse
    assert kept == [1, 3]


def test_heuristic_build_recall_not_worse(spark, tables):
    """The diversified build must not lose recall vs the plain kNN build
    at the same (M, ef) — at corpus scale it gains dramatically
    (0.61→… at 100k); at test scale non-degradation is the invariant."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import (
        compact_index,
        graph_search,
    )

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    b = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    exact = exact_knn(q, b, k=10, metric="cosine", impl="blocked"
                      ).select("qid", "neighbor_id").localCheckpoint(True)
    n_ex = exact.count()

    def rec(heuristic):
        edges = build_two_layer_index(b, M0=8, M1=4, metric="cosine",
                                      heuristic=heuristic)
        idx = compact_index(edges, b, metric="cosine")
        got = graph_search(q, idx, k=10, ef_search=16)
        return got.select("qid", "neighbor_id").join(
            exact, ["qid", "neighbor_id"]
        ).count() / n_ex

    r_plain, r_heur = rec(False), rec(True)
    assert r_heur >= r_plain - 1e-9, (r_plain, r_heur)


def test_bucketed_build_recall_and_bounds(spark):
    """r07 scale build: the salt-bounded in-kernel bucketed kNN graph.
    On a corpus whose buckets fit one group it matches the exact blocked
    edges almost everywhere; under a tiny forced group_cap it still
    emits exactly k edges per node (bounded work, never a candidate-join
    explosion) and the two-layer graph it feeds still serves."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.io.synthetic import (
        synthetic_queries,
        synthetic_vectors,
    )
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import (
        _knn_graph_bucketed,
        build_two_layer_index,
        knn_graph,
    )
    from vectordbindexing_spark.operators.search import (
        compact_index,
        graph_search,
    )

    b = synthetic_vectors(spark, 3000, 32).select("id", "vec")
    b = b.localCheckpoint(eager=True)
    exact = knn_graph(b, 8, impl="blocked")
    bucketed = knn_graph(b, 8, impl="bucketed")
    hit = exact.select("src", "dst").intersect(
        bucketed.select("src", "dst")
    ).count()
    assert hit / exact.count() >= 0.95
    # structural bound: k edges per node regardless of group_cap
    tiny = _knn_graph_bucketed(
        b, 8, "cosine", "id", "vec", layer=0, group_cap=256
    )
    per = tiny.groupBy("src").agg(F.count(F.lit(1)).alias("m"))
    assert per.agg(F.max("m")).first()[0] == 8
    assert per.count() == 3000

    # end-to-end: bucketed two-layer build still navigates
    edges = build_two_layer_index(b, M0=16, M1=8, impl="bucketed")
    idx = compact_index(edges, b)
    q = synthetic_queries(spark, 200, 32).select("qid", "vec")
    got = graph_search(q, idx, k=10, ef_search=128)
    ex = exact_knn(q, b, 10, "cosine")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    rec = (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(F.avg("r"))
        .first()[0]
    )
    assert rec >= 0.9, rec


def test_refine_knn_graph_improves_edges(spark):
    """NN-descent rounds must (a) keep exactly k edges per node, (b)
    never lose edge recall, and (c) strictly improve it from a
    deliberately poor starting graph on a spread corpus."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.io.synthetic import synthetic_vectors
    from vectordbindexing_spark.operators.graph import (
        knn_graph,
        refine_knn_graph,
    )

    b = synthetic_vectors(spark, 2000, 16, n_modalities=16).select(
        "id", "vec"
    ).localCheckpoint(eager=True)
    exact = knn_graph(b, 6, impl="blocked").localCheckpoint(eager=True)
    ex_n = exact.count()

    # genuinely poor start: a deterministic RANDOM 6-regular graph
    # (dist placeholder 0 — refine rescores every proposal exactly)
    start = (
        b.select(F.col("id").alias("src"))
        .select(
            "src",
            F.explode(F.sequence(F.lit(1), F.lit(6))).alias("_j"),
        )
        .select(
            F.lit(0).alias("layer"),
            "src",
            F.pmod(F.col("src") * 7919 + F.col("_j") * 104729, F.lit(2000))
            .alias("dst"),
            F.lit(0.0).alias("dist"),
        )
        .filter(F.col("src") != F.col("dst"))
    )

    def rec(g):
        return exact.select("src", "dst").intersect(
            g.select("src", "dst")
        ).count() / ex_n

    r0 = rec(start)
    refined = refine_knn_graph(start, b, 6, rounds=3)
    r2 = rec(refined)
    assert r0 < 0.2, r0
    assert r2 > r0 + 0.1, (r0, r2)
    per = refined.groupBy("src").agg(F.count(F.lit(1)).alias("m"))
    assert per.agg(F.max("m")).first()[0] == 6
    # every kept dist is the true distance up to the float32 broadcast
    # matrix (same storage convention as CompactIndex serving)
    j = refined.alias("a").join(
        exact.alias("b"),
        (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") == F.col("b.dst")),
    ).select(
        (F.abs(F.col("a.dist") - F.col("b.dist")) < 1e-5).alias("ok")
    )
    assert j.filter(~F.col("ok")).count() == 0


def test_clustered_corpus_stays_connected_and_serves(spark):
    """r07 navigability cliff regression: on a many-cluster corpus a
    pure kNN two-layer graph decomposes into one component per cluster
    (serving recall = entry-covered clusters / clusters). The scale
    builds must union random-matching long links on the top layer: the
    candidate graph becomes ONE component and serving recall recovers."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.io.synthetic import (
        synthetic_queries,
        synthetic_vectors,
    )
    from vectordbindexing_spark.operators.components import (
        connected_components,
    )
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import (
        build_two_layer_index,
        random_matching_edges,
    )
    from vectordbindexing_spark.operators.search import (
        compact_index,
        graph_search,
    )

    b = synthetic_vectors(spark, 4000, 32, n_modalities=16).select(
        "id", "vec"
    ).localCheckpoint(eager=True)

    # the long-link union makes the top layer one component
    edges = build_two_layer_index(b, impl="bucketed").localCheckpoint(
        eager=True
    )
    l1 = edges.filter(F.col("layer") == 1).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    comp = connected_components(l1)
    n_comp = comp.select("component").distinct().count()
    assert n_comp == 1, f"top layer split into {n_comp} components"

    # and the index actually serves across clusters
    idx = compact_index(edges, b)
    q = synthetic_queries(spark, 200, 32, n_modalities=16).select(
        "qid", "vec"
    )
    got = graph_search(q, idx, k=10, ef_search=128)
    gt = exact_knn(q, b, 10, "cosine").groupBy("qid").agg(
        F.collect_set("neighbor_id").alias("g")
    )
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    rec = (
        gp.join(gt, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(F.avg("r"))
        .first()[0]
    )
    assert rec >= 0.9, rec

    # matching-edge invariants: deterministic, exact dists, no loops
    m1 = random_matching_edges(b, rounds=3)
    m2 = random_matching_edges(b, rounds=3)
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))
    assert m1.filter(F.col("src") == F.col("dst")).count() == 0


def test_refine_knn_graph_sparse_64bit_ids(spark):
    """Sparse/hashed huge ids must not allocate a dense max(id)+1
    lookup table (2^40 ids would OOM instantly): the broadcast path
    maps ids via searchsorted. Same tiny graph, ids shifted by 2^40."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.io.synthetic import synthetic_vectors
    from vectordbindexing_spark.operators.graph import (
        knn_graph,
        refine_knn_graph,
    )

    OFF = 1 << 40
    b = synthetic_vectors(spark, 300, 8, n_modalities=4).select(
        (F.col("id") + OFF).alias("id"), "vec"
    ).localCheckpoint(eager=True)
    exact = knn_graph(b, 4, impl="blocked")
    start = (
        b.select(F.col("id").alias("src"))
        .select("src", F.explode(F.sequence(F.lit(1), F.lit(4))).alias("_j"))
        .select(
            F.lit(0).alias("layer"),
            "src",
            (F.pmod((F.col("src") - OFF) * 7919 + F.col("_j") * 104729,
                    F.lit(300)) + OFF).alias("dst"),
            F.lit(0.0).alias("dist"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    refined = refine_knn_graph(start, b, 4, rounds=2)
    assert refined.count() > 0
    assert refined.agg(F.min("src")).first()[0] >= OFF
    ex = exact.select("src", "dst")

    def rec(g):
        return ex.intersect(g.select("src", "dst")).count() / ex.count()

    r0, r2 = rec(start), rec(refined)
    assert r2 > r0, (r0, r2)  # refinement worked on the shifted ids


def test_build_fold_matches_per_layer_collects(spark):
    """r13 fold: build_two_layer_index's ONE bounded collect feeding
    both layers' blocked kernels must yield the bit-identical edge set
    the per-layer knn_graph collects produced — including the
    driver-side layer-1 subset (assign_level_py ≡ the assign_levels
    column) and exact_knn's query-side NULL filter."""
    import numpy as np

    from vectordbindexing_spark.operators.graph import (
        assign_level_py,
        assign_levels,
        build_two_layer_index,
        knn_graph,
        mutualize,
    )

    rng = np.random.default_rng(7)
    n, d, M0, M1, M_level = 150, 8, 6, 3, 16
    rows = [(int(i), [float(x) for x in rng.normal(size=d)])
            for i in range(n)]
    base = spark.createDataFrame(
        rows + [(10_000, None)], "id long, vec array<double>"
    )

    lv = {
        r["id"]: r["level"]
        for r in assign_levels(base, id_col="id", M=M_level).collect()
    }
    assert all(assign_level_py(i, M_level) == lv[i] for i in lv)
    # string and double ids: both twins hash the integer's digits
    # ("007" and 7.0 level like 7)
    for ddl, as_id in (("string", lambda i: f"{i:03d}"), ("double", float)):
        other = spark.createDataFrame(
            [(as_id(i),) for i in range(n)], f"id {ddl}"
        )
        lv_other = {
            r["id"]: r["level"]
            for r in assign_levels(other, id_col="id", M=M_level).collect()
        }
        assert all(assign_level_py(i, M_level) == lv_other[i]
                   for i in lv_other), ddl

    leveled = assign_levels(base, id_col="id", M=M_level)
    upper = leveled.filter(F.col("level") >= 1)
    old = sorted(
        (r["layer"], r["src"], r["dst"], r["dist"])
        for r in mutualize(
            knn_graph(upper, M1, "cosine", "id", "vec",
                      impl="blocked", layer=1).unionByName(
                knn_graph(base, M0, "cosine", "id", "vec",
                          impl="blocked", layer=0)
            ),
            max_degree=2 * max(M0, M1),
        ).collect()
    )
    new = sorted(
        (r["layer"], r["src"], r["dst"], r["dist"])
        for r in build_two_layer_index(
            base, M0=M0, M1=M1, metric="cosine", M_level=M_level
        ).select("layer", "src", "dst", "dist").collect()
    )
    assert old == new


def test_blocked_kernel_excludes_self_by_id_and_drops_non_finite(spark):
    """The driver-held kernel (blocked_self_knn) and the Spark blocked
    kernel behind knn_graph(impl='blocked') and the blocked build share
    two rules: a corpus row is excluded when its ID equals the query's
    (so neither copy of a duplicated id links to the other), and
    non-finite distances — a zero vector under cosine — drop instead
    of ranking (the Spark kernel raised on them before). On the
    unique-id rows both kernels give the same edges."""
    import math

    import numpy as np

    from vectordbindexing_spark.operators.exact_knn import blocked_self_knn
    from vectordbindexing_spark.operators.graph import (
        build_two_layer_index,
        knn_graph,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(12)]
    rows.append((5, [float(x) for x in rng.normal(size=4)]))  # duplicate id
    rows.append((99, [0.0] * 4))  # cosine NaN against everything
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    ids = np.array([i for i, _ in rows], dtype=np.int64)
    V = np.array([v for _, v in rows], dtype=np.float64)
    src, dst, dist = blocked_self_knn(ids, V, ids, V, 4, "cosine")
    assert not np.any(src == dst) and np.all(np.isfinite(dist))
    assert 99 not in src and 99 not in dst
    assert np.sum(src == 5) == 2 * 4  # both copies keep a full list

    knn = knn_graph(df, 4, "cosine", impl="blocked").collect()
    built = build_two_layer_index(df, M0=4, M1=2, metric="cosine").collect()
    assert knn and built
    for r in knn + built:
        assert r["src"] != r["dst"]
        assert 99 not in (r["src"], r["dst"])
        assert math.isfinite(r["dist"])
    got = sorted((r["src"], r["dst"], r["dist"]) for r in knn if r["src"] != 5)
    want = sorted(
        (a, b, c) for a, b, c in zip(src.tolist(), dst.tolist(), dist.tolist())
        if a != 5
    )
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert max(abs(g[2] - w[2]) for g, w in zip(got, want)) <= 1e-12


def test_expr_knn_graph_ranks_zero_vector_like_blocked(spark):
    """Under cosine a zero vector has no distance to anything. The
    Column-expression kernel (knn_graph(impl='expr'), exact_knn's
    declarative join) gives it +inf instead of raising ANSI's
    DIVIDE_BY_ZERO, and under exclude_self drops it as the blocked
    kernel does, so both impls give the same graph on the other rows."""
    import numpy as np

    from vectordbindexing_spark.operators.graph import knn_graph

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(13)]
    rows.append((99, [0.0] * 4))
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    def edges(impl):
        return sorted(
            (r["src"], r["dst"], r["dist"])
            for r in knn_graph(df, 4, "cosine", impl=impl).collect()
        )

    expr, blocked = edges("expr"), edges("blocked")
    assert all(99 not in (s, d) for s, d, _ in expr)
    assert [e[:2] for e in expr] == [b[:2] for b in blocked]
    assert max(abs(e[2] - b[2]) for e, b in zip(expr, blocked)) <= 1e-12


def _oracle_index(seed, n=400, d=12, dup_every=None):
    """A two-layer adjacency built by the numpy twins (kNN with (dist, id)
    ties → mutualize → CSR over id-ascending positions), the CompactIndex
    over exactly that CSR, and the twin's inputs. ``dup_every`` copies
    the vector of every ``dup_every``-th row onto the next row, so exact
    distance ties occur."""
    import numpy as np

    from vectordbindexing_spark.operators.search import CompactIndex
    from vectordbindexing_spark.oracles import (
        _np_compact,
        _np_cosine_matrix,
        _np_mutualize,
    )

    rng = np.random.default_rng(seed)
    bids = np.arange(n, dtype=np.int64) * 3 + 1
    B = rng.normal(size=(n, d)).astype(np.float32)
    if dup_every:
        B[1::dup_every] = B[0::dup_every][: len(B[1::dup_every])]

    def knn_edges(sub, kk):
        D = _np_cosine_matrix(B[sub].astype(np.float64),
                              B[sub].astype(np.float64))
        np.fill_diagonal(D, np.inf)
        return [(int(bids[sub[i]]), int(bids[sub[j]]), float(D[i, j]))
                for i in range(len(sub))
                for j in np.lexsort((bids[sub], D[i]))[:kk]]

    adj = _np_mutualize(
        {0: knn_edges(np.arange(n), 8), 1: knn_edges(np.arange(0, n, 9), 4)},
        cap=16,
    )
    pos_ids, PVi, csr, ep = _np_compact(adj, bids, B, 3)
    idx = CompactIndex(
        pos_ids, PVi, {L: c[0] for L, c in csr.items()},
        {L: c[1] for L, c in csr.items()}, ep, "cosine",
    )
    return adj, bids, B, idx


def _one_partition_queries(spark, Q):
    """All queries in ONE partition (the others empty, so graph_search's
    repartition leaves the layout alone): one Arrow batch of len(Q)."""
    sc = spark.sparkContext
    rows = [(i, [float(x) for x in q]) for i, q in enumerate(Q)]
    rdd = sc.parallelize(rows, 1).union(
        sc.parallelize([], max(1, sc.defaultParallelism - 1))
    )
    return spark.createDataFrame(rdd, "qid long, vec array<double>")


def _serve_both(spark, adj, bids, B, idx, Q, **kw):
    """(graph_search rows by qid, oracle rows by qid, stats by qid)."""
    from collections import defaultdict

    from vectordbindexing_spark.operators.search import graph_search
    from vectordbindexing_spark.oracles import _np_serve

    twin_stats: list = []
    twin = _np_serve(adj, bids, B, Q, k=10, ef_search=32,
                     num_entry_points=3, layer1_ef_multiplier=2,
                     stats=twin_stats, **kw)
    got, stats = defaultdict(list), {}
    for r in graph_search(_one_partition_queries(spark, Q), idx, k=10,
                          ef_search=32, with_stats=True, **kw).collect():
        got[r["qid"]].append((r["nbr_rank"], r["dist"], r["neighbor_id"]))
        stats[r["qid"]] = (r["visited_count"], r["hops"], r["latency_us"])
    return got, twin, twin_stats, stats


@pytest.mark.parametrize("budget", [None, 40])
def test_lockstep_kernel_matches_heap_twin(spark, budget):
    """On distinct distances the lockstep batch kernel is the per-query
    heap beam result for result: the same ranked neighbours (distances
    to the last ulps: the kernel scores a round with one batched dot
    product) and the same visited_count and hops, with and without the
    max_search_nodes budget. 130 queries in one partition make one
    Arrow batch that the kernel splits into chunks of 64 + 64 + 2."""
    import numpy as np

    adj, bids, B, idx = _oracle_index(3)
    Q = np.random.default_rng(4).normal(size=(130, B.shape[1]))
    got, twin, twin_stats, stats = _serve_both(
        spark, adj, bids, B, idx, Q, max_search_nodes=budget
    )
    assert sorted(got) == list(range(130))
    for qi in range(130):
        rows = sorted(got[qi])
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert [r[2] for r in rows] == [nid for _, nid in twin[qi]], qi
        assert np.allclose([r[1] for r in rows], [d for d, _ in twin[qi]],
                           rtol=0, atol=1e-12)
        assert stats[qi][:2] == twin_stats[qi], qi
    if budget is not None:  # the budget really cut the search short
        assert max(v for v, _, _ in stats.values()) < 3 * budget
    # one latency per chunk: the batch was searched as 64 + 64 + 2
    from collections import Counter

    sizes = sorted(Counter(s[2] for s in stats.values()).values())
    assert sum(sizes) == 130 and 2 in sizes and set(sizes) <= {2, 64, 128}


def test_duplicate_vectors_differ_from_heap_twin_only_among_ties(spark):
    """Duplicated vectors give exact distance ties. The kernel scores a
    pair the same whatever else its round scores, so a duplicate pair
    ties exactly and ranks by id; the heap twin scores a hop's
    neighbours with one matrix-vector product whose last ulps move
    with a row's place in the hop. Ranked distances agree, and a
    neighbour id differs from the twin's only where the two ids carry
    the same vector."""
    import numpy as np

    adj, bids, B, idx = _oracle_index(5, dup_every=3)
    vec_of = {int(i): B[p] for p, i in enumerate(bids)}
    Q = np.random.default_rng(6).normal(size=(130, B.shape[1]))
    got, twin, _, _ = _serve_both(spark, adj, bids, B, idx, Q)
    n_tied = 0
    for qi in range(130):
        rows = sorted(got[qi])
        assert np.allclose([r[1] for r in rows], [d for d, _ in twin[qi]],
                           rtol=0, atol=1e-12)
        for (_, d, nid), (_, tid) in zip(rows, twin[qi]):
            if nid != tid:
                assert np.array_equal(vec_of[nid], vec_of[tid]), qi
                n_tied += 1
        # exact ties rank by id
        assert rows == sorted(rows, key=lambda r: (r[1], r[2]))
    assert n_tied > 0  # the corpus really exercises ties


def test_tie_rule_full_beam_keeps_smaller_id(spark):
    """Pin the kernel's tie rule on a 5-node layer-0 graph (cosine,
    query (1, 0), ef = k = 2). B (id 2) and C (id 3) tie exactly at
    1 - 1/√2. Expanding the entry E fills the beam with B and C;
    expanding B finds A, which is nearer, so the full beam drops one
    of the tied pair. The kernel keeps the smaller id (B) and never
    expands the dropped C, so F, reachable only through C, stays
    unseen. The heap twin drops B instead, still expands C (its
    distance equals the worst kept one) and finds F."""
    import numpy as np

    from vectordbindexing_spark.operators.search import CompactIndex, graph_search
    from vectordbindexing_spark.oracles import _np_compact, _np_serve

    #              E        A        B        C         F
    B = np.array([[0, 1], [2, 1], [1, 1], [1, -1], [4, 1]], dtype=np.float32)
    bids = np.arange(5, dtype=np.int64)
    E, A, Bn, C, F = range(5)
    adj = {0: {E: [(0.0, Bn), (0.0, C)], A: [(0.0, Bn)],
               Bn: [(0.0, E), (0.0, A)], C: [(0.0, E), (0.0, F)],
               F: [(0.0, C)]}}
    pos_ids, PVi, csr, ep = _np_compact(adj, bids, B, 1)
    assert list(ep) == [E]
    idx = CompactIndex(pos_ids, PVi, {0: csr[0][0]}, {0: csr[0][1]}, ep)
    q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, vec array<double>")
    rows = graph_search(q, idx, k=2, ef_search=2, num_entry_points=1,
                        with_stats=True).collect()
    assert [r["neighbor_id"] for r in rows] == [A, Bn]
    assert (rows[0]["visited_count"], rows[0]["hops"]) == (4, 3)

    twin_stats: list = []
    twin = _np_serve(adj, bids, B, np.array([[1.0, 0.0]]), k=2,
                     ef_search=2, num_entry_points=1,
                     layer1_ef_multiplier=2, stats=twin_stats)
    assert [nid for _, nid in twin[0]] == [F, A]
    assert twin_stats == [(5, 5)]


def test_row_norms_persist_and_match_gathered_norms(tmp_path, monkeypatch):
    """The index's row norms are the values ``CompactIndex.dist`` used to
    compute per hop (np.linalg.norm of the gathered float64 rows), bit
    for bit, whatever the norm block size; save_compact_npy persists
    them and load_compact_npy maps them."""
    import numpy as np

    from vectordbindexing_spark.operators import search
    from vectordbindexing_spark.operators.shard import save_compact_npy

    rng = np.random.default_rng(8)
    V = rng.normal(size=(1000, 37)).astype(np.float32)
    pos = rng.integers(0, 1000, 300)
    monkeypatch.setattr(search, "_NORM_BLOCK_ROWS", 64)
    norms = search._row_norms(V)
    assert np.array_equal(
        norms[pos], np.linalg.norm(V[pos].astype(np.float64), axis=1)
    )
    ptr = np.zeros(1001, dtype=np.int64)
    idx = search.CompactIndex(
        np.arange(1000, dtype=np.int64), V, {0: ptr},
        {0: np.zeros(0, dtype=np.int64)}, np.array([0]),
    )
    assert np.array_equal(idx.norms, norms)
    save_compact_npy(idx, str(tmp_path))
    loaded = search.load_compact_npy(str(tmp_path))
    assert isinstance(loaded.norms, np.memmap)
    assert np.array_equal(loaded.norms, norms)
