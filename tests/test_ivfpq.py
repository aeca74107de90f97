"""IVF-PQ composite tests: full-probe equivalence with plain PQ (pruning
and compression are orthogonal), pruning-bounds-candidates, recall floor
vs exact KNN."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordbindexing_spark.io.tables import load_table
from vectordbindexing_spark.operators.exact_knn import exact_knn
from vectordbindexing_spark.operators.ivfpq import ivfpq_knn
from vectordbindexing_spark.operators.pq import pq_fit, pq_knn


@pytest.fixture(scope="module")
def emb_split(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    return q, b


KW = dict(q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding")


def test_full_probe_equals_plain_pq(spark, emb_split):
    """nprobe == nlist admits every cell, so the result must be IDENTICAL
    to the plain PQ ADC scan with the same codebooks — the coarse
    quantizer only prunes, it never changes distances."""
    q, b = emb_split
    books = pq_fit(b, m=8, ks=16, max_iter=2, id_col="vec_id",
                   vec_col="embedding")
    full = ivfpq_knn(q, b, k=10, nlist=8, nprobe=8, m=8, ks=16,
                     max_iter=2, codebooks=books, **KW).toPandas()
    plain = pq_knn(q, b, k=10, codebooks=books, **KW).toPandas()
    key = ["qid", "nbr_rank"]
    full = full.sort_values(key).reset_index(drop=True)
    plain = plain.sort_values(key).reset_index(drop=True)
    assert full["neighbor_id"].tolist() == plain["neighbor_id"].tolist()
    np.testing.assert_array_equal(
        full["dist"].to_numpy(), plain["dist"].to_numpy()
    )


def test_pruning_bounds_candidates_and_recall(spark, emb_split):
    q, b = emb_split
    pruned = ivfpq_knn(q, b, k=10, nlist=16, nprobe=4, m=8, ks=16,
                       max_iter=3, **KW)
    ex = exact_knn(q, b, k=10, metric="l2", impl="blocked", **KW)
    gp = pruned.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    r = (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(F.avg("r").alias("r"))
        .collect()[0]["r"]
    )
    # 4/16 cells probed + 32-bit codes: lossy twice over, but must stay
    # far above chance (10/|base| ≈ 0.02)
    assert r > 0.15
    # every query still gets k rows (probed cells hold >= k rows here)
    counts = pruned.groupBy("qid").count().select("count").distinct().collect()
    assert [c["count"] for c in counts] == [10]


def test_results_come_only_from_probed_cells(spark, emb_split):
    """Structural pruning invariant: every returned neighbor lives in a
    cell its query probed — verified against an independent numpy
    computation of the probe sets and cell assignments. (Recall is NOT
    monotone in nprobe under ADC distances — extra candidates can
    displace true neighbors with closer-by-ADC impostors — so the
    invariant to pin is membership, not recall.)"""
    from vectordbindexing_spark.operators.ivf import ivf_assign, kmeans_fit

    q, b = emb_split
    cents = kmeans_fit(
        b, 16, max_iter=3, id_col="vec_id", vec_col="embedding"
    )
    got = ivfpq_knn(q, b, k=10, nlist=16, nprobe=2, m=8, ks=16,
                    max_iter=3, centroids=cents, **KW).collect()
    cell_of = {
        r["id"]: r["cid"]
        for r in ivf_assign(
            b, cents, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    qrows = q.select("vec_id", "embedding").collect()
    probes = {}
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        d2 = ((qv[None, :] - cents) ** 2).sum(axis=1)
        probes[r["vec_id"]] = set(
            np.lexsort((np.arange(len(cents)), d2))[:2].tolist()
        )
    assert got
    for row in got:
        assert cell_of[row["neighbor_id"]] in probes[row["qid"]], row


def test_persisted_artifact_matches_inmemory_and_prunes(
    spark, emb_split, tmp_path
):
    """save -> ivfpq_search_index must equal the in-memory ivfpq_knn with
    the same arrays, and the codes scan must partition-prune to the
    probed cells (PartitionFilters with cid IN (...) in the plan)."""
    from vectordbindexing_spark.operators.ivf import kmeans_fit
    from vectordbindexing_spark.operators.ivfpq import (
        ivfpq_search_index,
        save_ivfpq_index,
    )

    q, b = emb_split
    cents = kmeans_fit(b, 16, max_iter=2, id_col="vec_id", vec_col="embedding")
    books = pq_fit(b, m=8, ks=16, max_iter=2, id_col="vec_id",
                   vec_col="embedding")
    path = str(tmp_path / "ivfpq_idx")
    save_ivfpq_index(b, cents, books, path, b_id="vec_id", b_vec="embedding")

    mem = ivfpq_knn(q, b, k=10, nprobe=4, centroids=cents, codebooks=books,
                    **KW).toPandas()
    art_df = ivfpq_search_index(q, path, k=10, nprobe=4,
                                q_id="vec_id", q_vec="embedding")
    art = art_df.toPandas()
    key = ["qid", "nbr_rank"]
    mem = mem.sort_values(key).reset_index(drop=True)
    art = art.sort_values(key).reset_index(drop=True)
    assert mem["neighbor_id"].tolist() == art["neighbor_id"].tolist()
    np.testing.assert_array_equal(mem["dist"].to_numpy(), art["dist"].to_numpy())

    plan = art_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


def test_planner_routes_memory_tight_to_ivfpq(spark, emb_split, monkeypatch):
    import vectordbindexing_spark.plans.knn_planner as kp

    p = kp.plan_knn(100, 5_000_000, 10, approximate_ok=True,
                    repeated_queries=True, memory_tight=True)
    assert p.strategy == "ivfpq"
    # dispatch end-to-end with shrunken thresholds
    monkeypatch.setattr(kp, "EXACT_BASE_LIMIT", 10)
    q, b = emb_split
    out = kp.knn(q.limit(5), b, k=3, approximate_ok=True,
                 repeated_queries=True, memory_tight=True,
                 q_id="vec_id", q_vec="embedding",
                 b_id="vec_id", b_vec="embedding")
    assert out.count() == 15
    assert set(out.columns) == {"qid", "nbr_rank", "neighbor_id", "dist"}


def test_blocked_probe_selection_matches_lexsort_reference():
    """The blocked/vectorized probe path must reproduce the original
    convention exactly: d² by the expansion formula, nprobe nearest cells,
    ties → lowest cid (independently transcribed per-query lexsort here),
    and cell→sorted-query-positions inversion."""
    from vectordbindexing_spark.operators.ivfpq import _probes_and_luts

    rng = np.random.default_rng(7)
    n_q, nlist, d, m, ks = 137, 23, 16, 4, 8
    Q = rng.normal(size=(n_q, d))
    cents = rng.normal(size=(nlist, d))
    # force ties: several centroids duplicated exactly
    cents[5] = cents[1]
    cents[17] = cents[1]
    books = rng.normal(size=(m, ks, d // m))
    nprobe = 4
    probes_of, luts = _probes_and_luts(Q, cents, books, nprobe)

    # reference: per-query lexsort probe selection (the pre-blocking code)
    d2 = (
        np.sum(Q * Q, axis=1)[:, None]
        - 2 * Q @ cents.T
        + np.sum(cents * cents, axis=1)[None, :]
    )
    ref_cids = np.stack([
        np.lexsort((np.arange(nlist), d2[qi]))[:nprobe] for qi in range(n_q)
    ])
    ref_probes = {
        int(c): np.flatnonzero((ref_cids == c).any(axis=1))
        for c in np.unique(ref_cids)
    }
    assert set(probes_of) == set(ref_probes)
    for c in ref_probes:
        np.testing.assert_array_equal(probes_of[c], ref_probes[c])
    # LUT arithmetic: elementwise (q-c)² sums, same as pq_knn
    dsub = d // m
    for j in range(m):
        qs = Q[:, j * dsub : (j + 1) * dsub]
        np.testing.assert_array_equal(
            luts[:, j, :],
            ((qs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2),
        )


def test_probe_selection_is_blocked(monkeypatch):
    """With the block budget shrunk below one row of d², the path must
    still produce identical output — proving no dense (n_q × nlist)
    allocation is required."""
    import vectordbindexing_spark.operators.ivfpq as mod

    rng = np.random.default_rng(11)
    Q = rng.normal(size=(64, 12))
    cents = rng.normal(size=(9, 12))
    books = rng.normal(size=(3, 4, 4))
    full_p, full_l = mod._probes_and_luts(Q, cents, books, 3)
    monkeypatch.setattr(mod, "_ADC_BLOCK_TARGET_BYTES", 1)
    blk_p, blk_l = mod._probes_and_luts(Q, cents, books, 3)
    assert set(full_p) == set(blk_p)
    for c in full_p:
        np.testing.assert_array_equal(full_p[c], blk_p[c])
    np.testing.assert_array_equal(full_l, blk_l)


def test_planner_nlist_respects_kmeans_sample_budget():
    """plan_knn at 10¹⁰ base rows must pick an nlist the bounded-sample
    k-means fit can actually support (≥ MIN_POINTS_PER_CENTROID training
    points per centroid), not √n ≈ 100k."""
    from vectordbindexing_spark.operators.ivf import (
        KMEANS_SAMPLE_SIZE,
        MIN_POINTS_PER_CENTROID,
    )
    from vectordbindexing_spark.plans.knn_planner import plan_knn

    for n_base in (10**8, 10**10, 10**12):
        p = plan_knn(100_000, n_base, 10, approximate_ok=True,
                     repeated_queries=True, memory_tight=True)
        assert p.strategy == "ivfpq"
        nlist = p.params["nlist"]
        assert nlist * MIN_POINTS_PER_CENTROID <= KMEANS_SAMPLE_SIZE
        assert p.params["nprobe"] >= 1
    # under the cap, √n sizing is unchanged
    p = plan_knn(100_000, 4_000_000, 10, approximate_ok=True,
                 repeated_queries=True, memory_tight=True)
    assert p.params["nlist"] == 2000


def test_planner_cosine_route_normalizes(spark, emb_split, monkeypatch):
    """Planner-dispatched cosine→ivfpq must rank like ivfpq_knn on
    pre-unit-normalized input (‖q−b‖² = 2(1−cos) on unit vectors), not
    silently score raw-vector L2."""
    import vectordbindexing_spark.plans.knn_planner as kp
    from vectordbindexing_spark.functions.vector import unit_norm

    monkeypatch.setattr(kp, "EXACT_BASE_LIMIT", 10)
    q, b = emb_split
    q5 = q.limit(5).localCheckpoint(eager=True)
    routed = kp.knn(q5, b, k=5, metric="cosine", approximate_ok=True,
                    repeated_queries=True, memory_tight=True,
                    q_id="vec_id", q_vec="embedding",
                    b_id="vec_id", b_vec="embedding").toPandas()
    qn = q5.withColumn("embedding", unit_norm("embedding"))
    bn = b.withColumn("embedding", unit_norm("embedding"))
    nlist = kp.plan_knn(5, b.count(), 5, True, True, True).params["nlist"]
    direct = ivfpq_knn(qn, bn, k=5, nlist=nlist,
                       nprobe=max(1, nlist // 8), **KW).toPandas()
    key = ["qid", "nbr_rank"]
    routed = routed.sort_values(key).reset_index(drop=True)
    direct = direct.sort_values(key).reset_index(drop=True)
    assert routed["neighbor_id"].tolist() == direct["neighbor_id"].tolist()
    # the planner rescales ADC squared L2 to the cosine-distance scale
    # every other route returns (||q-b||^2 = 2(1-cos) on unit vectors)
    np.testing.assert_allclose(
        routed["dist"].to_numpy(), direct["dist"].to_numpy() / 2
    )


def test_planner_rejects_inexpressible_metric(spark, emb_split, monkeypatch):
    import vectordbindexing_spark.plans.knn_planner as kp

    monkeypatch.setattr(kp, "EXACT_BASE_LIMIT", 10)
    q, b = emb_split
    with pytest.raises(ValueError, match="ADC-L2"):
        kp.knn(q.limit(2), b, k=3, metric="ip", approximate_ok=True,
               repeated_queries=True, memory_tight=True,
               q_id="vec_id", q_vec="embedding",
               b_id="vec_id", b_vec="embedding")


def test_rerank_recovers_adc_loss(spark, emb_split):
    """Mirrors test_pq.py::test_adc_recall_and_rerank_improvement for the
    composite index: the exact-rerank stage over the ADC shortlist must
    lift recall above the ADC-only path's floor."""
    q, b = emb_split
    adc = ivfpq_knn(q, b, k=10, nlist=16, nprobe=8, m=8, ks=16,
                    max_iter=3, **KW)
    rr = ivfpq_knn(q, b, k=10, nlist=16, nprobe=8, m=8, ks=16,
                   max_iter=3, rerank=50, **KW)
    ex = exact_knn(q, b, k=10, metric="l2", impl="blocked", **KW)

    def recall(approx):
        gp = approx.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
        ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
        return (
            gp.join(ep, "qid")
            .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
            .agg(F.avg("r").alias("r"))
            .collect()[0]["r"]
        )

    r_adc, r_rr = recall(adc), recall(rr)
    assert r_adc > 0.2
    assert r_rr >= r_adc
    assert r_rr > 0.5
    # rerank distances are exact L2, so within the probed candidate set
    # they are the true distances — monotone non-decreasing per rank
    counts = rr.groupBy("qid").count().select("count").distinct().collect()
    assert [c["count"] for c in counts] == [10]


def test_artifact_rerank_requires_base_and_matches_inmemory(
    spark, emb_split, tmp_path
):
    from vectordbindexing_spark.operators.ivf import kmeans_fit
    from vectordbindexing_spark.operators.ivfpq import (
        ivfpq_search_index,
        save_ivfpq_index,
    )

    q, b = emb_split
    cents = kmeans_fit(b, 16, max_iter=2, id_col="vec_id", vec_col="embedding")
    books = pq_fit(b, m=8, ks=16, max_iter=2, id_col="vec_id",
                   vec_col="embedding")
    path = str(tmp_path / "ivfpq_rr")
    save_ivfpq_index(b, cents, books, path, b_id="vec_id", b_vec="embedding")
    with pytest.raises(ValueError, match="codes only"):
        ivfpq_search_index(q, path, k=5, nprobe=4, rerank=20,
                           q_id="vec_id", q_vec="embedding")
    art = ivfpq_search_index(
        q, path, k=5, nprobe=4, rerank=20, base=b,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).toPandas()
    mem = ivfpq_knn(q, b, k=5, nprobe=4, centroids=cents, codebooks=books,
                    rerank=20, **KW).toPandas()
    key = ["qid", "nbr_rank"]
    art = art.sort_values(key).reset_index(drop=True)
    mem = mem.sort_values(key).reset_index(drop=True)
    assert art["neighbor_id"].tolist() == mem["neighbor_id"].tolist()
    np.testing.assert_array_equal(art["dist"].to_numpy(), mem["dist"].to_numpy())


def test_filtered_search_equals_prefiltered_build(spark, tables, tmp_path):
    """allowed-subset restriction == building over the filtered base with
    the same frozen quantizers (cell assignment and codes are per-row)."""
    import numpy as np
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.ivf import kmeans_fit
    from vectordbindexing_spark.operators.ivfpq import (
        ivfpq_knn,
        ivfpq_search_index,
        save_ivfpq_index,
    )
    from vectordbindexing_spark.operators.pq import pq_fit

    emb = tables["embeddings"].select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").alias("vec"),
    )
    q = emb.filter(F.col("id") < 20).select(F.col("id").alias("qid"), "vec")
    cents = kmeans_fit(emb, 8, max_iter=3, id_col="id", vec_col="vec")
    books = pq_fit(emb, m=8, ks=16, max_iter=3, id_col="id", vec_col="vec")
    allowed = emb.filter(F.col("id") % 2 == 0).select("id")

    got = ivfpq_knn(
        q, emb, k=5, nlist=8, nprobe=3, centroids=cents, codebooks=books,
        allowed=allowed,
    )
    want = ivfpq_knn(
        q, emb.filter(F.col("id") % 2 == 0), k=5, nlist=8, nprobe=3,
        centroids=cents, codebooks=books,
    )
    rows_got = sorted(tuple(r) for r in got.collect())
    rows_want = sorted(tuple(r) for r in want.collect())
    assert rows_got == rows_want
    assert all(r["neighbor_id"] % 2 == 0 for r in got.collect())

    # same contract through the persisted artifact
    path = str(tmp_path / "fidx")
    save_ivfpq_index(emb, cents, books, path, b_id="id", b_vec="vec")
    got2 = ivfpq_search_index(q, path, k=5, nprobe=3, allowed=allowed)
    assert sorted(tuple(r) for r in got2.collect()) == rows_want


def test_artifact_path_helpers(spark):
    """The metadata-IO routing helpers decide whether pyarrow (driver-
    local) or Spark (distributed) reads/writes the artifact's metadata —
    a wrong decision splits the artifact across filesystems."""
    from vectordbindexing_spark.operators.ivfpq import (
        _metadata_local,
        _strip_file_scheme,
    )

    assert _strip_file_scheme("/tmp/x") == "/tmp/x"
    assert _strip_file_scheme("file:/tmp/x") == "/tmp/x"
    assert _strip_file_scheme("file:///tmp/x") == "/tmp/x"
    assert _metadata_local(spark, "file:///tmp/x")
    assert not _metadata_local(spark, "hdfs://nn/indexes/x")
    assert not _metadata_local(spark, "s3a://bucket/x")
    # scheme-less resolves against fs.defaultFS — local[*] sessions
    # default to file:, so a bare path is local here
    assert _metadata_local(spark, "/tmp/x")


def test_save_load_accepts_file_scheme(spark, emb_split, tmp_path):
    from vectordbindexing_spark.operators.ivf import kmeans_fit
    from vectordbindexing_spark.operators.ivfpq import (
        load_ivfpq_arrays,
        save_ivfpq_index,
    )

    q, b = emb_split
    cents = kmeans_fit(b, 4, max_iter=1, id_col="vec_id", vec_col="embedding")
    books = pq_fit(b, m=4, ks=8, max_iter=1, id_col="vec_id",
                   vec_col="embedding")
    path = "file://" + str(tmp_path / "scheme_idx")
    save_ivfpq_index(b, cents, books, path, b_id="vec_id", b_vec="embedding")
    c2, b2 = load_ivfpq_arrays(spark, path)
    np.testing.assert_array_equal(cents, c2)
    np.testing.assert_array_equal(books, b2)
