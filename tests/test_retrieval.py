"""BM25 keyword ranking + RRF hybrid fusion: hand-computed pins,
python-reference parity, and the full DuckDB replay that the r08
contract registration will reuse."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from vectordbindexing_spark import oracles
from vectordbindexing_spark.io.tables import load_table
from vectordbindexing_spark.operators.retrieval import bm25_topk, rrf_fuse

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick fox"),
    (2, "lorem ipsum dolor sit amet"),
    (3, "quick quick quick brown"),
    (4, "a dog and a dog and a dog"),
    (5, None),
]


def _py_bm25(docs, queries, k1=1.2, b=0.75):
    """Independent reference implementation (dict-based)."""
    toks = {d: (t or "").lower().split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, q in queries:
        terms = sorted(dict.fromkeys(q.lower().split()))
        for d, tk in toks.items():
            s, matched = 0.0, 0
            for t in terms:
                tf = tk.count(t)
                if not tf:
                    continue
                df = sum(1 for v in toks.values() if t in v)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tk) / avgdl))
                matched += 1
            if matched:
                out[(qid, d)] = (round(s, 6), matched)
    return out


def test_bm25_matches_python_reference(spark):
    queries = [(1, "quick fox"), (2, "dog"), (3, "the dolor")]
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["n_terms"])
        for r in bm25_topk(df, queries, k=10).collect()
    }
    want = _py_bm25(DOCS, queries)
    assert set(got) == set(want)
    for key in want:
        assert got[key][1] == want[key][1]
        assert got[key][0] == pytest.approx(want[key][0], abs=2e-6)


def test_bm25_ranking_properties(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = bm25_topk(df, [(1, "quick")], k=3).collect()
    # doc 3 has tf=3 of a rare-ish term and is short -> top rank
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])][0] == 3
    # ranks are 1..n dense per query
    assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    # unmatched docs (2, 5) never appear
    assert {r["doc_id"] for r in rows}.isdisjoint({2, 5})


def test_bm25_idf_downweights_common_terms(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(df, [(1, "the")], k=10).collect()
    }
    # 'the' appears in 3 of 6 docs -> idf = ln(1 + 3.5/3.5) = ln 2, small
    assert all(s < math.log(2) * 2.2 + 1e-9 for s in rows.values())


def test_bm25_duckdb_replay_real_corpus(spark, sf_dir):
    """Full-replay parity on the real documents table — exactly the
    comparison the driver gate runs, so r08 registration is green by
    construction."""
    queries = [(1, "the model data"), (2, "training set results"),
               (3, "zzz-unmatched-term data")]
    docs = load_table(spark, sf_dir, "documents")
    sdf = bm25_topk(docs, queries, k=10)
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    drows = sorted(
        tuple(r)
        for r in con.sql(oracles.bm25_topk_sql(queries, k=10)).fetchall()
    )
    assert len(srows) == len(drows) > 0
    assert srows == drows


def test_rrf_fuse_hand_computed(spark):
    ranks = [
        # query 1: doc 7 is rank 1 in vec and rank 2 in kw -> top fused
        (1, "vec", 1, 7), (1, "vec", 2, 8), (1, "vec", 3, 9),
        (1, "kw", 1, 8), (1, "kw", 2, 7),
        # query 2: single source passes through in rank order
        (2, "vec", 1, 5), (2, "vec", 2, 6),
    ]
    df = spark.createDataFrame(
        ranks, "query_id long, src string, rank long, doc_id long"
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["rrf_score"], r["n_sources"])
        for r in rrf_fuse(df, k_rrf=60, topk=10).collect()
    }
    s7 = round(1 / 61 + 1 / 62, 6)   # vec rank1 + kw rank2
    s8 = round(1 / 62 + 1 / 61, 6)
    assert got[(1, 1)][0] in (7, 8) and got[(1, 2)][0] in (7, 8)
    # identical scores -> tie broken by lowest doc id
    assert s7 == s8 and got[(1, 1)] == (7, s7, 2)
    assert got[(1, 3)] == (9, round(1 / 63, 6), 1)
    assert got[(2, 1)] == (5, round(1 / 61, 6), 1)
    assert got[(2, 2)] == (6, round(1 / 62, 6), 1)


def test_rrf_duckdb_replay(spark):
    """Fusion tail parity through oracles.rrf_fuse_sql."""
    ranks = [
        (1, "vec", r, d) for r, d in enumerate([3, 1, 4, 1 + 4, 9], 1)
    ] + [
        (1, "kw", r, d) for r, d in enumerate([2, 7, 1, 8, 3], 1)
    ] + [
        (2, "vec", r, d) for r, d in enumerate([10, 11], 1)
    ]
    df = spark.createDataFrame(
        ranks, "query_id long, src string, rank long, doc_id long"
    )
    srows = sorted(tuple(r) for r in rrf_fuse(df, k_rrf=60, topk=4).collect())
    vals = ", ".join(f"({q}, '{s}', {r}, {d})" for q, s, r, d in ranks)
    sql = f"""
    WITH rl AS (SELECT * FROM (VALUES {vals})
                AS t(query_id, src, rank, doc_id)),
    {oracles.rrf_fuse_sql('rl', k_rrf=60, topk=4)}
    SELECT query_id, rank, doc_id, rrf_score, n_sources
    FROM rrf_r WHERE rank <= 4
    """
    con = duckdb.connect()
    drows = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert srows == drows and len(srows) > 0


def test_bm25_plan_filters_before_shuffle(spark):
    """The query-term isin filter must sit below the tf aggregation —
    the 100 TB contract (shuffle ∝ matched occurrences)."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = bm25_topk(df, [(1, "quick fox")], k=5)._jdf.queryExecution().toString()
    agg_pos = plan.find("Aggregate")
    filt_pos = plan.rfind("Filter")
    assert agg_pos != -1 and filt_pos != -1
    assert "quick" in plan  # literal pushdown of the term set


def test_bm25_dataframe_queries_match_literal_path(spark):
    queries = [(1, "quick fox"), (2, "dog the"), (3, "Quick QUICK")]
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, text string")
    lit_rows = sorted(tuple(r) for r in bm25_topk(df, queries, k=10).collect())
    df_rows = sorted(tuple(r) for r in bm25_topk(df, qdf, k=10).collect())
    assert lit_rows == df_rows and len(lit_rows) > 0


def test_bm25_plain_sum_matches_fold_after_rounding(spark):
    queries = [(1, "quick fox dog the brown"), (2, "lorem dog")]
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = sorted(tuple(r) for r in bm25_topk(df, queries, k=10).collect())
    c = sorted(
        tuple(r)
        for r in bm25_topk(df, queries, k=10, exact_fold=False).collect()
    )
    assert a == c


def test_bm25_auto_fold_switch(spark):
    """exact_fold=None folds at contract scale (few query terms; must
    stay hash-identical to exact_fold=True) and switches to plain sum
    for vocabulary-scale batch queries (the 29M-struct degenerate
    case)."""
    from vectordbindexing_spark.operators.retrieval import FOLD_QT_LIMIT

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma tok"), (F.col("id") % 40).cast("string")
        ).alias("text"),
    )
    small_q = [(1, "alpha tok3"), (2, "beta tok7")]
    auto = sorted(map(tuple, bm25_topk(docs, small_q, k=5).collect()))
    fold = sorted(
        map(tuple, bm25_topk(docs, small_q, k=5, exact_fold=True).collect())
    )
    assert auto == fold  # small auto == deterministic fold, bit-exact

    # vocabulary-scale batch queries: > FOLD_QT_LIMIT (query,term) pairs
    # must resolve to the plain-sum path without error
    big_q = spark.range(FOLD_QT_LIMIT // 2 + 100).select(
        F.col("id").alias("query_id"),
        F.concat(
            F.lit("tok"), (F.col("id") % 40).cast("string"),
            F.lit(" tok"), ((F.col("id") + 1) % 40).cast("string"),
            F.lit(" alpha"),
        ).alias("text"),
    )
    out = bm25_topk(docs, big_q, k=1)
    assert out.count() == FOLD_QT_LIMIT // 2 + 100
