"""Distributed frontier search + weighted-L2 kernel + search knobs."""

from pyspark.sql import functions as F


def test_frontier_search_recall(spark, tables):
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import knn_graph, mutualize
    from vectordbindexing_spark.operators.search import frontier_search

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0).limit(15)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    edges = mutualize(
        knn_graph(b, k=10, metric="cosine", id_col="vec_id", vec_col="embedding"),
        max_degree=16,
    )
    got = frontier_search(
        q, edges, b, k=10, rounds=5, beam=48, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    ex = exact_knn(q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    rec = (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(F.avg("r")).collect()[0][0]
    )
    assert rec >= 0.8, f"frontier search recall too low: {rec}"


def test_max_search_nodes_budget(spark, tables):
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0).limit(10)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    edges = build_two_layer_index(b, M0=12, M1=6, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding")
    tight = graph_search(q, idx, k=10, ef_search=64, max_search_nodes=16,
                         q_id="vec_id", q_vec="embedding")
    # budget caps exploration but search still returns rows
    assert tight.count() > 0


def test_weighted_l2_favours_low_variance_dims(spark):
    import numpy as np

    from vectordbindexing_spark.functions.vector import weighted_l2_dist

    # dim0 high variance (weight ~0), dim1 low variance (weight 1):
    # b2 is nearer than b1 under weighted distance despite larger dim0 gap
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [0.1, 5.0]), (2, [0.0, 0.0], [9.0, 0.2])],
        schema="id long, q array<double>, b array<double>",
    )
    w = F.array(F.lit(0.0), F.lit(1.0))
    rows = {r["id"]: r["d"] for r in
            df.select("id", weighted_l2_dist("q", "b", w).alias("d")).collect()}
    assert rows[2] < rows[1]
