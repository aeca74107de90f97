"""IVF KNN recall + whitening numerical correctness vs numpy."""

import numpy as np
from pyspark.sql import functions as F


def test_ivf_knn_recall(spark, tables):
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.ivf import ivf_knn

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    got = ivf_knn(q, b, k=10, nlist=8, nprobe=4, metric="cosine",
                  q_id="vec_id", q_vec="embedding",
                  b_id="vec_id", b_vec="embedding")
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
    assert rec >= 0.5, f"ivf recall too low: {rec}"  # nprobe=nlist/2


def test_ivf_full_probe_equals_exact(spark, tables):
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.ivf import ivf_knn

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0).limit(10)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    got = ivf_knn(q, b, k=5, nlist=4, nprobe=4, metric="cosine",
                  q_id="vec_id", q_vec="embedding",
                  b_id="vec_id", b_vec="embedding")
    ex = exact_knn(q, b, k=5, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    g = {(r["qid"], r["nbr_rank"]): r["neighbor_id"] for r in got.collect()}
    e = {(r["qid"], r["nbr_rank"]): r["neighbor_id"] for r in ex.collect()}
    assert g == e  # probing every cell must reproduce exact KNN


def test_whitening_matches_numpy(spark, tables):
    from vectordbindexing_spark.operators.preprocess import (
        whitening_fit,
        whitening_transform,
    )

    emb = tables["embeddings"].limit(200)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])

    model = whitening_fit(emb, vec_col="embedding", mode="pca")
    # fit parity
    assert np.allclose(model.mean, X.mean(axis=0), atol=1e-9)
    got = whitening_transform(emb, model, vec_col="embedding")
    out = {
        r["vec_id"]: np.asarray(r["wvec"]) for r in got.select("vec_id", "wvec").collect()
    }
    want = model.transform_np(X)
    for i, r in enumerate(rows):
        assert np.allclose(out[r["vec_id"]], want[i], atol=1e-9)
    # whitened covariance ≈ identity (pca mode, full rank)
    W = np.stack([out[r["vec_id"]] for r in rows])
    cov = np.cov(W.T, bias=True)
    assert np.allclose(np.diag(cov), 1.0, atol=1e-6)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-6


def test_whitening_modality_scaling(spark, tables):
    from vectordbindexing_spark.operators.preprocess import (
        whitening_fit,
        whitening_transform,
    )

    emb = tables["embeddings"].withColumn(
        "modality", F.when(F.col("label") < 5, "text").otherwise("image")
    )
    model = whitening_fit(emb, vec_col="embedding", mode="zca",
                          modality_col="modality")
    assert set(model.modality_scale) == {"text", "image"}
    got = whitening_transform(emb, model, vec_col="embedding",
                              modality_col="modality")
    norms = (
        got.select(
            "modality",
            F.sqrt(F.aggregate("wvec", F.lit(0.0), lambda a, x: a + x * x)).alias("n"),
        )
        .groupBy("modality").agg(F.avg("n").alias("avg_n")).collect()
    )
    vals = [r["avg_n"] for r in norms]
    assert abs(vals[0] - vals[1]) / max(vals) < 0.05  # equalized mean norms


def test_per_modality_whitening_matches_numpy(spark, tables):
    """per_modality_cov fits each label's own (mean, cov -> W); parity vs a
    direct numpy fit per subset, and the transform routes rows through
    their modality's pair."""
    import numpy as np

    from vectordbindexing_spark.operators.preprocess import (
        whitening_fit,
        whitening_transform,
    )

    emb = tables["embeddings"].filter(F.col("label") < 3)
    model = whitening_fit(
        emb, vec_col="embedding", mode="pca",
        modality_col="label", per_modality_cov=True,
    )
    rows = emb.select("vec_id", "label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.asarray(r["embedding"], dtype=np.float64)
        )
    assert set(model.per_modality) == {str(lbl) for lbl in by_label}
    for lbl, vecs in by_label.items():
        X = np.stack(vecs)
        mean = X.mean(axis=0)
        cov = X.T @ X / len(X) - np.outer(mean, mean)
        U, sv, _ = np.linalg.svd(cov, hermitian=True)
        W = (U / np.sqrt(np.maximum(sv, 1e-12))).T
        gmean, gW = model.per_modality[str(lbl)]
        assert np.allclose(gmean, mean, atol=1e-9)
        # W column signs are SVD-convention dependent but W^T W must agree
        assert np.allclose(gW.T @ gW, W.T @ W, rtol=1e-6, atol=1e-8)

    out = whitening_transform(
        emb, model, vec_col="embedding", modality_col="label"
    ).select("vec_id", "label", "wvec").collect()
    for r in out[:50]:
        x = None
        for rr in rows:
            if rr["vec_id"] == r["vec_id"]:
                x = np.asarray(rr["embedding"], dtype=np.float64)
                break
        gmean, gW = model.per_modality[str(r["label"])]
        expect = (x - gmean) @ gW.T
        assert np.allclose(np.asarray(r["wvec"]), expect, atol=1e-8)


def test_assignment_blocking_is_invisible(monkeypatch):
    """Blocked (rows × nlist) assignment must equal the dense computation
    even with a degenerate 1-row block budget — same expansion-formula
    arithmetic, per-row argmin."""
    import numpy as np

    import vectordbindexing_spark.operators.ivf as ivfmod

    rng = np.random.default_rng(3)
    X = rng.normal(size=(257, 16))
    C = rng.normal(size=(23, 16))
    dense = np.argmin(
        np.sum(X * X, axis=1)[:, None] - 2 * X @ C.T
        + np.sum(C * C, axis=1)[None, :],
        axis=1,
    )
    full = ivfmod._argmin_d2_blocked(X, C)
    monkeypatch.setattr(ivfmod, "_ASSIGN_BLOCK_TARGET_BYTES", 1)
    tiny = ivfmod._argmin_d2_blocked(X, C)
    np.testing.assert_array_equal(full, dense)
    np.testing.assert_array_equal(tiny, dense)


def test_kmeans_fit_distributed_matches_driver_fit(spark, tables):
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.ivf import (
        ivf_knn,
        kmeans_fit,
        kmeans_fit_distributed,
    )

    emb = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    # n <= sample budget: both fits see every row and share the init,
    # so centroids agree to cross-partition summation-order drift
    C_driver = kmeans_fit(emb, 8, max_iter=4, id_col="id", vec_col="vec")
    C_dist = kmeans_fit_distributed(
        emb, 8, max_iter=4, id_col="id", vec_col="vec"
    )
    assert C_dist.shape == C_driver.shape
    assert np.allclose(C_dist, C_driver, atol=1e-9)

    # the distributed fit slots into the same downstream serving path
    q = emb.filter(F.col("id") < 10).select(F.col("id").alias("qid"), "vec")
    got = ivf_knn(
        q, emb, k=5, nlist=8, nprobe=8, metric="l2", centroids=C_dist
    )
    assert got.count() == 10 * 5


def test_kmeans_fit_distributed_accepts_precomputed_init(spark, tables):
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.ivf import kmeans_fit_distributed

    emb = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    rows = emb.filter(F.col("id") < 6).orderBy("id").collect()
    init = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in rows])
    C = kmeans_fit_distributed(emb, 6, max_iter=2, id_col="id",
                               vec_col="vec", init=init)
    assert C.shape == init.shape
    assert not np.allclose(C, init)  # the update steps actually moved it


def test_pool_embeddings_mean_and_normalize(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.preprocess import pool_embeddings

    df = spark.createDataFrame(
        [
            (1, 10, [1.0, 0.0, 3.0]),
            (1, 11, [3.0, 2.0, 1.0]),
            (2, 12, [0.0, 5.0, 0.0]),
        ],
        "doc_id long, cid long, vec array<double>",
    )
    out = {r["doc_id"]: r for r in pool_embeddings(
        df, group_col="doc_id", vec_col="vec", order_col="cid",
        round_to=None,
    ).collect()}
    assert out[1]["n_pooled"] == 2 and out[1]["vec"] == [2.0, 1.0, 2.0]
    assert out[2]["vec"] == [0.0, 5.0, 0.0]

    normed = {r["doc_id"]: np.asarray(r["vec"]) for r in pool_embeddings(
        df, group_col="doc_id", vec_col="vec", normalize=True,
        round_to=None,
    ).collect()}
    for v in normed.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9


def test_pool_embeddings_numpy_parity(spark, tables):
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.preprocess import pool_embeddings

    emb = tables["embeddings"].filter(F.col("vec_id") < 100)
    chunks = emb.select((F.col("vec_id") % 10).alias("g"), "vec_id",
                        "embedding")
    got = {r["g"]: np.asarray(r["embedding"]) for r in pool_embeddings(
        chunks, group_col="g", vec_col="embedding", order_col="vec_id",
        round_to=None,
    ).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["vec_id"] % 10, []).append(
            np.asarray(r["embedding"], dtype=np.float64)
        )
    for g, vs in groups.items():
        np.testing.assert_allclose(got[g], np.mean(vs, axis=0), atol=1e-12)


def test_pool_embeddings_weighted(spark):
    import numpy as np

    from vectordbindexing_spark.operators.preprocess import pool_embeddings

    df = spark.createDataFrame(
        [(1, 10, 3.0, [1.0, 0.0]), (1, 11, 1.0, [0.0, 4.0])],
        "doc_id long, cid long, w double, vec array<double>",
    )
    r = pool_embeddings(
        df, group_col="doc_id", vec_col="vec", order_col="cid",
        weight_col="w", round_to=None,
    ).collect()[0]
    # (3*[1,0] + 1*[0,4]) / 4 = [0.75, 1.0]
    np.testing.assert_allclose(r["vec"], [0.75, 1.0], atol=1e-12)
    # weight None keeps the plain mean
    r2 = pool_embeddings(
        df, group_col="doc_id", vec_col="vec", order_col="cid",
        round_to=None,
    ).collect()[0]
    np.testing.assert_allclose(r2["vec"], [0.5, 2.0], atol=1e-12)


def test_kmeans_driver_fit_degenerates_past_sample_budget(spark, tables):
    """The reason the planner's distributed-fit escape exists: ask for
    more centroids than sample/MIN_POINTS_PER_CENTROID supports and the
    driver-sample fit trains each centroid on a couple of points, while
    the distributed fit keeps using the full corpus — measurably lower
    full-corpus quantization error."""
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators import ivf as ivfmod
    from vectordbindexing_spark.operators.ivf import (
        kmeans_fit,
        kmeans_fit_distributed,
    )

    emb = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    X = np.stack([
        np.asarray(r["vec"], dtype=np.float64)
        for r in emb.orderBy("id").collect()
    ])
    k, sample = 32, 64  # k >> sample/MIN_POINTS_PER_CENTROID
    C_driver = kmeans_fit(
        emb, k, max_iter=4, id_col="id", vec_col="vec", sample_size=sample
    )
    C_dist = kmeans_fit_distributed(
        emb, k, max_iter=4, id_col="id", vec_col="vec", sample_size=sample
    )

    def qerr(C):
        a = ivfmod._argmin_d2_blocked(X, C)
        return float(np.mean(np.sum((X - C[a]) ** 2, axis=1)))

    # same init (the 64-row sample), but the distributed update steps
    # see every corpus row — the 64-point driver fit must be clearly
    # worse on the full corpus
    assert qerr(C_dist) < qerr(C_driver)


def test_ivf_kernel_and_join_impls_agree(spark):
    """The broadcast-kernel scoring path (the r11 fix for the join
    formulation's fat candidate shuffle — >100 GB spill at 2M base ×
    1000 queries) must select exactly the same neighbors with the same
    ranks as the declarative join, with distances equal to kernel-vs-
    UDF float drift."""
    import numpy as np

    from vectordbindexing_spark.operators.ivf import ivf_knn

    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, rng.normal(size=16).tolist()) for i in range(400)],
        "id long, vec array<double>",
    ).localCheckpoint(eager=True)
    qs = spark.createDataFrame(
        [(i, rng.normal(size=16).tolist()) for i in range(25)],
        "qid long, vec array<double>",
    ).localCheckpoint(eager=True)
    for metric in ("cosine", "l2", "ip"):
        a = ivf_knn(qs, base, k=5, nlist=8, nprobe=3, metric=metric,
                    q_id="qid", q_vec="vec", impl="kernel")
        b = ivf_knn(qs, base, k=5, nlist=8, nprobe=3, metric=metric,
                    q_id="qid", q_vec="vec", impl="join")
        ra = {(r.qid, r.nbr_rank): (r.neighbor_id, r.dist)
              for r in a.collect()}
        rb = {(r.qid, r.nbr_rank): (r.neighbor_id, r.dist)
              for r in b.collect()}
        assert ra.keys() == rb.keys() and len(ra) == 25 * 5, metric
        for key, (ida, da) in ra.items():
            idb, db = rb[key]
            assert ida == idb and abs(da - db) < 1e-9, (metric, key)
