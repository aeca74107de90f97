"""Sharded index artifact: build/persist/load/search + recall parity with
the broadcast CompactIndex path."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def split(tables):
    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    return q, b


def _recall_vs_exact(spark, got, q, b, k=10):
    from vectordbindexing_spark.operators.exact_knn import exact_knn

    ex = exact_knn(
        q, b, k=k, metric="cosine", impl="blocked",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / float(k)).alias("r"))
        .agg(F.avg("r"))
        .collect()[0][0]
    )


def test_sharded_build_search_recall(spark, split):
    from vectordbindexing_spark.operators.shard import (
        build_sharded_index,
        search_sharded,
    )

    q, b = split
    art = build_sharded_index(
        b, num_shards=2, M0=16, M1=8, metric="cosine",
        id_col="vec_id", vec_col="embedding",
    ).localCheckpoint(eager=True)
    # every base row lands in exactly one shard
    assert art.count() == b.count()
    assert art.select("shard").distinct().count() == 2
    per_shard = {r["shard"]: r["n"] for r in
                 art.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert all(n > 0 for n in per_shard.values())

    got = search_sharded(q, art, k=10, ef_search=64,
                         q_id="vec_id", q_vec="embedding")
    assert got.columns == ["qid", "nbr_rank", "neighbor_id", "dist"]
    rec = _recall_vs_exact(spark, got, q, b)
    # union bound over shards: each true neighbor is searchable in its own
    # shard's graph, so sharding should not cost recall vs one big graph
    assert rec >= 0.9, f"sharded recall@10 too low: {rec}"


def test_sharded_roundtrip_identical(spark, split, tmp_path):
    from vectordbindexing_spark.operators.shard import (
        build_sharded_index,
        load_sharded_index,
        save_sharded_index,
        search_sharded,
    )

    q, b = split
    art = build_sharded_index(
        b, num_shards=2, M0=12, M1=6, metric="cosine",
        id_col="vec_id", vec_col="embedding",
    )
    path = str(tmp_path / "shards")
    save_sharded_index(art, path)
    back = load_sharded_index(spark, path)
    r1 = sorted(tuple(r) for r in search_sharded(
        q, art, k=5, q_id="vec_id", q_vec="embedding").collect())
    r2 = sorted(tuple(r) for r in search_sharded(
        q, back, k=5, q_id="vec_id", q_vec="embedding").collect())
    assert r1 == r2


def test_compact_index_persistence_matches_live_search(spark, split, tmp_path):
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search
    from vectordbindexing_spark.operators.shard import (
        load_sharded_index,
        save_compact_index,
        search_sharded,
    )

    q, b = split
    edges = build_two_layer_index(b, M0=16, M1=8, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    path = str(tmp_path / "artifact")
    save_compact_index(idx, spark, path)
    live = sorted(tuple(r) for r in graph_search(
        q, idx, k=10, ef_search=64, q_id="vec_id", q_vec="embedding").collect())
    served = sorted(tuple(r) for r in search_sharded(
        q, load_sharded_index(spark, path), k=10, ef_search=64,
        q_id="vec_id", q_vec="embedding").collect())
    assert live == served


def test_planner_compact_route_serves_from_artifact(spark, split, tmp_path):
    """graph_knn with artifact_path on the compact route must persist
    the index, reload it (load_compact_index), and return exactly what
    the in-memory route returns."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.plans.knn_planner import graph_knn

    q, b = split
    kw = dict(k=5, q_id="vec_id", q_vec="embedding",
              b_id="vec_id", b_vec="embedding")
    live = sorted(tuple(r) for r in graph_knn(q, b, **kw).collect())
    path = str(tmp_path / "compact_artifact")
    served = sorted(
        tuple(r) for r in graph_knn(q, b, artifact_path=path, **kw).collect()
    )
    assert live == served
    # the artifact is really on disk and independently loadable
    from vectordbindexing_spark.operators.shard import load_compact_index

    idx = load_compact_index(spark, path)
    assert len(idx.ids) == b.filter(F.col("embedding").isNotNull()).count()


def test_build_shard_blocked_matches_unblocked(monkeypatch):
    """The row-blocked distance computation in _build_shard must produce
    the IDENTICAL edge set (selection, tie-breaks, order) as the
    single-block path — the numpy oracle pins replay the unblocked
    math, so any divergence would break ann_sharded_recall."""
    import importlib

    import numpy as np

    from vectordbindexing_spark.operators import shard as shmod

    # the module, not the exact_knn function the package re-exports
    ekmod = importlib.import_module("vectordbindexing_spark.operators.exact_knn")

    rng = np.random.default_rng(11)
    ids = np.sort(rng.permutation(5000)[:200]).astype(np.int64)
    V = rng.normal(size=(200, 16))
    # duplicate a few vectors so distance ties actually occur
    V[7] = V[3]
    V[11] = V[3]
    for metric in ("cosine", "l2", "ip"):
        full = shmod._build_shard(ids, V, 8, 4, 16, metric, 3)
        monkeypatch.setattr(ekmod, "_BUILD_BLOCK_TARGET_BYTES", 8 * 200 * 7)
        blocked = shmod._build_shard(ids, V, 8, 4, 16, metric, 3)
        monkeypatch.undo()
        assert full.equals(blocked), metric


def test_compact_npy_sidecar_roundtrip_and_path_serving(spark, split, tmp_path):
    """r07 mmap sidecar: save_compact_index also writes _compact_npy;
    load prefers it (mmap) and must equal both the in-memory index and
    the parquet rebuild; graph_search accepts the sidecar DIR and must
    return exactly the in-memory results (only the path is broadcast)."""
    import os

    import numpy as np

    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import (
        compact_index,
        graph_search,
        load_compact_npy,
    )
    from vectordbindexing_spark.operators.shard import (
        _index_from_rows,
        compact_npy_dir,
        load_compact_index,
        save_compact_index,
    )

    q, b = split
    edges = build_two_layer_index(b, M0=16, M1=8, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    path = str(tmp_path / "artifact")
    save_compact_index(idx, spark, path)
    d = compact_npy_dir(path)
    assert d is not None and os.path.exists(os.path.join(d, "meta.json"))

    loaded = load_compact_index(spark, path)  # takes the npy branch
    parquet = _index_from_rows(spark.read.parquet(path).toPandas(), "cosine")
    for other in (loaded, parquet):
        assert np.array_equal(idx.ids, other.ids)
        assert np.array_equal(idx.vecs, np.asarray(other.vecs))
        assert set(idx.indptr) == set(other.indptr)
        for layer in idx.indptr:
            assert np.array_equal(idx.indptr[layer], other.indptr[layer])
            assert np.array_equal(
                np.asarray(idx.indices[layer]),
                np.asarray(other.indices[layer]),
            )
    # mmap really engaged on the big arrays
    assert isinstance(load_compact_npy(d).vecs, np.memmap)

    kw = dict(k=10, ef_search=64, q_id="vec_id", q_vec="embedding")
    live = sorted(tuple(r) for r in graph_search(q, idx, **kw).collect())
    via_path = sorted(tuple(r) for r in graph_search(q, d, **kw).collect())
    assert live == via_path

    # non-local schemes: no sidecar attempt
    assert compact_npy_dir("s3a://bucket/idx") is None
    assert compact_npy_dir("hdfs://nn/idx") is None


def test_artifact_cache_invalidates_on_rebuild(spark, split, tmp_path):
    """_artifact_cached must not serve a stale CompactIndex after
    save_compact_index rewrites the same path (iterative
    build-then-rebuild sessions keep long-lived Python workers)."""
    import numpy as np

    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import (
        _ARTIFACT_CACHE,
        _artifact_cached,
        compact_index,
    )
    from vectordbindexing_spark.operators.shard import (
        compact_npy_dir,
        save_compact_index,
    )

    q, b = split
    path = str(tmp_path / "artifact")
    half = b.limit(300)
    edges = build_two_layer_index(half, M0=8, M1=4, metric="cosine",
                                  id_col="vec_id", vec_col="embedding")
    idx1 = compact_index(edges, half, id_col="vec_id",
                         vec_col="embedding", metric="cosine")
    save_compact_index(idx1, spark, path)
    d = compact_npy_dir(path)
    first = _artifact_cached(d)
    assert _artifact_cached(d) is first  # same build: cached
    n_first = len(first.ids)

    edges2 = build_two_layer_index(b, M0=8, M1=4, metric="cosine",
                                   id_col="vec_id", vec_col="embedding")
    idx2 = compact_index(edges2, b, id_col="vec_id",
                         vec_col="embedding", metric="cosine")
    save_compact_index(idx2, spark, path)
    second = _artifact_cached(d)
    assert len(second.ids) == len(idx2.ids) != n_first
    # superseded generation evicted, not accumulated
    assert len([k for k in _ARTIFACT_CACHE if k[0].endswith("_compact_npy")
                and k[0] == __import__("os").path.realpath(d)]) == 1
