"""Caption CSV ingestion, JSON results sink, plus hypothesis property
tests over the hashing/vector kernels."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def test_caption_csv_ingestion(spark, tmp_path):
    from vectordbindexing_spark.io.captions import read_captions_csv

    p = str(tmp_path / "caps.csv")
    with open(p, "w") as f:
        f.write("image,caption\n")
        f.write("b.jpg,second image\n")
        f.write("a.jpg,za caption\n")
        f.write("a.jpg,aa caption\n")
        f.write("c.jpg,third\n")
    df = read_captions_csv(spark, p, limit=2)
    rows = df.collect()
    assert [(r["image"], r["caption"]) for r in rows] == [
        ("a.jpg", "aa caption"), ("b.jpg", "second image"),
    ]


def test_results_json_roundtrip(spark, tables, tmp_path):
    from vectordbindexing_spark.io.captions import (
        load_results_json,
        save_results_json,
    )
    from vectordbindexing_spark.operators.exact_knn import exact_knn

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0).limit(10)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    knn = exact_knn(q, b, k=5, impl="blocked", q_id="vec_id",
                    q_vec="embedding", b_id="vec_id", b_vec="embedding")
    p = str(tmp_path / "results")
    save_results_json(knn, p)
    back = load_results_json(spark, p)
    a = {(r["qid"], r["nbr_rank"]): r["neighbor_id"] for r in knn.collect()}
    c = {(r["qid"], r["nbr_rank"]): r["neighbor_id"] for r in back.collect()}
    assert a == c


# ---------------------------------------------------------------- properties

@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(-1e3, 1e3), min_size=2, max_size=64),
       st.lists(st.floats(-1e3, 1e3), min_size=2, max_size=64))
def test_pairwise_l2_triangle_and_symmetry(a, b):
    from vectordbindexing_spark.functions.vector import dist_matrix

    n = min(len(a), len(b))
    A = np.array([a[:n]], dtype=np.float64)
    B = np.array([b[:n]], dtype=np.float64)
    dab = dist_matrix(A, B, "l2")[0, 0]
    dba = dist_matrix(B, A, "l2")[0, 0]
    assert dab >= 0
    assert abs(dab - dba) < 1e-6 * max(1.0, dab)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 64))
def test_minhash_signature_range_and_determinism(h, n):
    from vectordbindexing_spark.functions.hashing import (
        MERSENNE31,
        minhash_signature_np,
    )

    s1 = minhash_signature_np([h], n)
    s2 = minhash_signature_np([h], n)
    assert (s1 == s2).all()
    assert ((0 <= s1) & (s1 < MERSENNE31)).all()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(0, 2**31), min_size=1, max_size=50),
       st.lists(st.integers(0, 2**31), min_size=1, max_size=50))
def test_minhash_superset_minima_dominate(h1, h2):
    # signature of a union is the elementwise min of the signatures
    from vectordbindexing_spark.functions.hashing import minhash_signature_np

    su = minhash_signature_np(h1 + h2, 16)
    s1 = minhash_signature_np(h1, 16)
    s2 = minhash_signature_np(h2, 16)
    assert (su == np.minimum(s1, s2)).all()


@settings(max_examples=20, deadline=None)
@given(st.integers(2, 64), st.integers(1, 128), st.integers(0, 7))
def test_lcg_planes_bounded_and_deterministic(bits, dim, table):
    from vectordbindexing_spark.functions.hashing import lcg_planes_np

    P = lcg_planes_np(bits, dim, table)
    assert P.shape == (bits, dim)
    assert (P >= -0.5).all() and (P < 0.5).all()
    assert (P == lcg_planes_np(bits, dim, table)).all()
