"""exact_knn correctness: both impls vs a DuckDB oracle on real testdata."""

import duckdb
import pytest


def _oracle(sf_dir, metric, k=10):
    dist = {
        "cosine": (
            "1.0 - list_inner_product(q.v, b.v) / "
            "(sqrt(list_inner_product(q.v,q.v)) * sqrt(list_inner_product(b.v,b.v)))"
        ),
        "l2": "sqrt(list_inner_product(q.v,q.v) + list_inner_product(b.v,b.v) "
        "- 2*list_inner_product(q.v,b.v))",
        "ip": "-list_inner_product(q.v, b.v)",
    }[metric]
    con = duckdb.connect()
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
               FROM '{sf_dir}/embeddings.parquet'),
         q AS (SELECT vec_id qid, v FROM e WHERE vec_id % 10 = 0),
         b AS (SELECT vec_id id, v FROM e WHERE vec_id % 10 <> 0),
         d AS (SELECT q.qid, b.id, {dist} AS dist FROM q, b),
         r AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid ORDER BY dist, id) rnk
               FROM d)
    SELECT qid, rnk, id, round(dist, 6) dist FROM r WHERE rnk <= {k}
    ORDER BY qid, rnk
    """
    return con.sql(sql).fetchall()


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
@pytest.mark.parametrize("impl", ["expr", "blocked"])
def test_exact_knn_vs_duckdb(spark, sf_dir, tables, metric, impl):
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.exact_knn import exact_knn

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    got = (
        exact_knn(
            q, b, k=10, metric=metric, impl=impl,
            q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
        )
        .withColumn("dist", F.round("dist", 6))
        .orderBy("qid", "nbr_rank")
        .collect()
    )
    want = _oracle(sf_dir, metric)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g["qid"], g["nbr_rank"], g["neighbor_id"]) == (w[0], w[1], w[2])
        assert abs(g["dist"] - w[3]) < 2e-6


def test_recall_of_exact_is_one(spark, tables):
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.metrics import mean_recall_at_k

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0).limit(20)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    knn = exact_knn(q, b, k=5, metric="cosine", impl="blocked",
                    q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding")
    lists = knn.groupBy("qid").agg(
        F.sort_array(F.collect_list(F.struct("nbr_rank", "neighbor_id"))).alias("s")
    ).select("qid", F.col("s.neighbor_id").alias("pred_ids"))
    truth = lists.select("qid", F.col("pred_ids").alias("gt_ids"))
    assert mean_recall_at_k(lists, truth, 5) == 1.0


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_pair_dist_udf_matches_expr(spark, tables, metric):
    """The Arrow-vectorized pair kernel must agree with the interpreted
    expression kernel (the oracle-parity reference) to float64 noise."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.functions.vector import (
        metric_dist,
        pair_dist_udf,
        to_double_array,
    )

    emb = tables["embeddings"].limit(200)
    pairs = (
        emb.select(F.col("vec_id").alias("qid"), to_double_array("embedding").alias("a"))
        .crossJoin(
            emb.select(
                F.col("vec_id").alias("nid"), to_double_array("embedding").alias("b")
            ).limit(5)
        )
    )
    got = (
        pairs.withColumn("d_expr", metric_dist("a", "b", metric))
        .withColumn("d_np", pair_dist_udf(metric)("a", "b"))
        .select(F.max(F.abs(F.col("d_expr") - F.col("d_np"))).alias("mx"))
        .collect()[0]["mx"]
    )
    assert got < 1e-9


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_pair_dist_is_the_dist_matrix_diagonal(metric):
    """The row-wise kernel and the matrix kernel are one formula: row i
    of pair_dist(A, B) is cell (i, i) of dist_matrix(A, B)."""
    import numpy as np

    from vectordbindexing_spark.functions.vector import dist_matrix, pair_dist

    rng = np.random.default_rng(3)
    A, B = rng.normal(size=(50, 16)), rng.normal(size=(50, 16))
    diff = pair_dist(A, B, metric) - np.diag(dist_matrix(A, B, metric))
    assert np.max(np.abs(diff)) < 1e-12


def _unknown_metric_entry(spark, entry):
    """Run ``entry`` with metric="euclidean" (not in METRICS) to the
    point where its kernel sees the metric."""
    import numpy as np

    rng = np.random.default_rng(0)
    V = rng.normal(size=(40, 8))
    if entry == "dist_matrix":
        from vectordbindexing_spark.functions.vector import dist_matrix

        return dist_matrix(V, V, "euclidean")
    if entry == "pair_dist":
        from vectordbindexing_spark.functions.vector import pair_dist

        return pair_dist(V, V, "euclidean")
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "id long, vec array<double>",
    )
    if entry == "knn_graph_bucketed":
        from vectordbindexing_spark.operators.graph import knn_graph

        return knn_graph(df, 4, "euclidean", impl="bucketed").collect()
    if entry == "build_sharded_index":
        from vectordbindexing_spark.operators.shard import build_sharded_index

        return build_sharded_index(df, num_shards=2, M0=4, M1=2,
                                   metric="euclidean").collect()
    if entry == "roargraph_build":
        from vectordbindexing_spark.operators.graph import roargraph_build

        q = df.withColumnRenamed("id", "qid").limit(5)
        return roargraph_build(q, df, k_nn=8, n_targets=2, M_pjbp=4,
                               metric="euclidean").collect()
    assert entry == "compact_index"
    from vectordbindexing_spark.operators.search import compact_index

    edges = spark.createDataFrame(
        [(0, i, (i + 1) % len(V), 0.0) for i in range(len(V))],
        "layer int, src long, dst long, dist double",
    )
    return compact_index(edges, df, metric="euclidean")


@pytest.mark.parametrize(
    "entry",
    ["dist_matrix", "pair_dist", "knn_graph_bucketed",
     "build_sharded_index", "roargraph_build", "compact_index"],
)
def test_unknown_metric_raises(spark, entry):
    """An unknown metric name must fail loudly, never fall through to
    the inner-product branch. Executor-side errors arrive wrapped, so
    match on the message."""
    with pytest.raises(Exception, match="unknown metric"):
        _unknown_metric_entry(spark, entry)


def test_null_vectors_are_excluded_everywhere(spark):
    """Rows with NULL embeddings (missing vectors) are excluded on both
    sides of every KNN family member instead of crashing the Arrow
    kernels or polluting top-k with null distances."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.ivf import ivf_knn
    from vectordbindexing_spark.operators.ivfpq import ivfpq_knn
    from vectordbindexing_spark.operators.pq import pq_knn

    base = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
        + [(99, None), (98, None)],
        "id long, vec array<double>",
    )
    q = spark.createDataFrame(
        [(9, [1.0, 0.0]), (8, None)], "qid long, vec array<double>"
    )
    kw = dict(q_id="qid", q_vec="vec", b_id="id", b_vec="vec")
    outs = {
        "exact_blocked": exact_knn(q, base, k=3, metric="l2",
                                   impl="blocked", **kw),
        "exact_expr": exact_knn(q, base, k=3, metric="l2", impl="expr", **kw),
        "ivf": ivf_knn(q, base, k=3, nlist=4, nprobe=4, metric="l2", **kw),
        "pq": pq_knn(q, base, k=3, m=2, ks=4, **kw),
        "ivfpq": ivfpq_knn(q, base, k=3, nlist=4, nprobe=4, m=2, ks=4, **kw),
    }
    for name, df in outs.items():
        rows = df.collect()
        assert rows, name
        assert {r["qid"] for r in rows} == {9}, name
        assert all(r["neighbor_id"] not in (98, 99) for r in rows), name
        assert all(r["dist"] is not None for r in rows), name


def test_null_vectors_excluded_in_builds(spark):
    from pyspark.sql import functions as F
    import numpy as np

    from vectordbindexing_spark.operators import dedup
    from vectordbindexing_spark.operators.shard import build_sharded_index

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    df = spark.createDataFrame(
        rows + [(99, None)], "id long, vec array<double>"
    )
    pairs = dedup.embedding_neardup_pairs(
        df, id_col="id", vec_col="vec", threshold=0.4
    )
    assert pairs.filter((F.col("id_a") == 99) | (F.col("id_b") == 99)).count() == 0
    idx = build_sharded_index(df, num_shards=2, id_col="id", vec_col="vec",
                              M0=4, M1=2)
    assert idx.filter(F.col("id") == 99).count() == 0
    assert idx.select("id").distinct().count() == 60
