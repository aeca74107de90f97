"""Physical-plan regression gates: the properties that make these queries
scale (predicate pushdown to the parquet scan, column pruning, broadcast
dimension joins, map-side partial aggregation) must stay visible in
explain output — a plan that silently loses them still returns correct
rows at sf0.001 but falls over at 100 TB."""

import contextlib
import io

import pytest

import __spark_entry__ as entrymod


def _plan(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    q = entrymod.queries()
    return {
        name: _plan(q[name](spark, sf_dir))
        for name in (
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "tpch_q5_local_supplier",
            "knn_exact_cosine",
            "top_orders_per_customer",
        )
    }


def test_filters_reach_the_parquet_scan(plans):
    p3 = plans["tpch_q3_shipping_priority"]
    assert "EqualTo(c_mktsegment,BUILDING)" in p3
    assert "LessThan(o_orderdate" in p3
    assert "GreaterThan(l_shipdate" in p3
    p1 = plans["tpch_q1_pricing_summary"]
    assert "LessThanOrEqual(l_shipdate" in p1


def test_dimension_joins_broadcast(plans):
    # every join in the star queries should resolve to a broadcast hash
    # join at these dimension sizes — a SortMergeJoin here means a full
    # shuffle of the fact table per dimension
    for name in ("tpch_q3_shipping_priority", "tpch_q5_local_supplier"):
        assert "BroadcastHashJoin" in plans[name], name
        assert "SortMergeJoin" not in plans[name], name


def test_knn_scan_prunes_columns(plans):
    # the KNN path must read only (vec_id, embedding) — dragging `label`
    # through the scan is wasted IO on every vector row
    scans = [
        ln for ln in plans["knn_exact_cosine"].splitlines()
        if "ReadSchema" in ln
    ]
    assert scans, "no parquet scan found"
    for ln in scans:
        assert "label" not in ln, ln


def test_aggregations_partial_before_shuffle(plans):
    # TPC-H Q1: HashAggregate below AND above the exchange (map-side
    # combine) — a single post-shuffle aggregate ships every row
    p1 = plans["tpch_q1_pricing_summary"]
    assert p1.count("HashAggregate") >= 2
    assert "Exchange" in p1


def test_window_topk_single_logical_shuffle(plans):
    # rank-window top-k needs exactly one hash partitioning by the group
    # key (AQE may add a read-side node, so bound loosely)
    pt = plans["top_orders_per_customer"]
    assert "hashpartitioning(o_custkey" in pt
    assert pt.count("Exchange") <= 2, pt.count("Exchange")


def test_scan_local_text_ops_have_no_exchange(spark, sf_dir):
    """chunking, PII redaction and URL extraction are pure projections —
    a shuffle appearing in their plans means an accidental wide
    transform crept in (at 10^10 docs that shuffle IS the job cost)."""
    q = entrymod.queries()
    for name in ("text_chunk_documents", "text_pii_redact",
                 "text_url_domains"):
        plan = _plan(q[name](spark, sf_dir), "simple")
        if name == "text_url_domains":
            # one aggregation exchange (groupBy domain) and nothing else
            assert plan.count("Exchange") <= 2, plan
        else:
            assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"


def test_sampler_single_shuffle(spark, sf_dir):
    """Both mixing samplers are one stratum shuffle + window; a second
    data shuffle would mean the window lost its partitioning reuse."""
    q = entrymod.queries()
    for name in ("mix_quota_sample", "mix_token_budget_sample"):
        plan = _plan(q[name](spark, sf_dir), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_graph_knn_allowed_filters_both_routes(spark, tables, monkeypatch):
    import vectordbindexing_spark.plans.knn_planner as kp
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    b = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    q = emb.filter(F.col("vec_id") % 10 == 0).limit(10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    allowed = b.filter(F.col("id") % 2 == 0).select("id")
    out = kp.graph_knn(q, b, k=5, q_id="qid", q_vec="vec",
                       b_id="id", b_vec="vec", allowed=allowed)
    rows = out.collect()
    assert rows and all(r["neighbor_id"] % 2 == 0 for r in rows)
    # force the sharded route and repeat
    monkeypatch.setattr(kp, "COMPACT_INDEX_LIMIT", 10)
    out2 = kp.graph_knn(q, b, k=5, M0=8, M1=4, q_id="qid", q_vec="vec",
                        b_id="id", b_vec="vec", allowed=allowed)
    rows2 = out2.collect()
    assert rows2 and all(r["neighbor_id"] % 2 == 0 for r in rows2)


def test_planner_distributed_fit_escape(spark, tables, monkeypatch):
    """√n sizing past MAX_NLIST: without the opt-in the plan caps nlist
    at the driver-sample budget; with distributed_fit_ok=True it keeps
    the uncapped nlist and routes the fit to kmeans_fit_distributed.
    The dispatch is exercised end-to-end with a shrunken MAX_NLIST."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.plans import knn_planner as kp

    # pure decision at 100 TB sizing: √(10¹⁰) = 100k > MAX_NLIST (2500)
    capped = kp.plan_knn(
        1000, 10_000_000_000, 10, approximate_ok=True,
        repeated_queries=True,
    )
    assert capped.params["nlist"] == kp.MAX_NLIST
    assert "fit" not in capped.params
    escaped = kp.plan_knn(
        1000, 10_000_000_000, 10, approximate_ok=True,
        repeated_queries=True, distributed_fit_ok=True,
    )
    assert escaped.params["nlist"] == int(10_000_000_000 ** 0.5)
    assert escaped.params["fit"] == "distributed"

    # end-to-end dispatch at test scale: shrink MAX_NLIST so the escape
    # triggers, then the ivf route must train distributed and still
    # return k rows per query
    monkeypatch.setattr(kp, "MAX_NLIST", 4)
    emb = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    q = emb.filter(F.col("id") < 5).select(F.col("id").alias("qid"), "vec")
    got = kp.knn(
        q, emb, k=5, metric="l2", approximate_ok=True,
        repeated_queries=True, exact_base_limit=10,
        distributed_fit_ok=True, q_id="qid", q_vec="vec",
        b_id="id", b_vec="vec",
    )
    rows = got.groupBy("qid").count().collect()
    assert len(rows) == 5 and all(r["count"] == 5 for r in rows)


def test_graph_knn_low_selectivity_falls_back(spark, tables):
    """A ~1% filter is far below the 1/overfetch breakeven, so the
    overfetch recipe would under-return; the planner must fall back to
    a filter-first plan — exact on the semi-joined base when the
    allowed set is brute-forceable, IVF-PQ filtered with
    selectivity-scaled nprobe past that limit — and every query must
    still get its full k allowed rows on BOTH tiers."""
    from pyspark.sql import functions as F

    import vectordbindexing_spark.plans.knn_planner as kp

    emb = tables["embeddings"]
    b = emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("vec"))
    q = b.filter(F.col("id") % 7 == 3).limit(8).select(
        F.col("id").alias("qid"), "vec"
    )
    allowed = b.filter(F.col("id") % 100 == 0).select("id")  # ~1%
    n_allowed = allowed.count()
    k = min(3, n_allowed)

    import numpy as np

    vecs = {r["id"]: np.asarray(r["vec"], dtype=np.float64)
            for r in b.collect()}

    def cos_dist(a, bb):
        return 1.0 - float(
            vecs[a] @ vecs[bb]
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[bb]))
        )

    def check(out):
        per_q = {}
        for r in out.collect():
            assert r["neighbor_id"] % 100 == 0
            per_q[r["qid"]] = per_q.get(r["qid"], 0) + 1
            # dist VALUES must be on the cosine-distance scale, not just
            # rank-monotone in it (r07: the tier-2 rerank emits root-L2,
            # which must rescale as dist²/2, not dist/2)
            assert abs(r["dist"] - cos_dist(r["qid"], r["neighbor_id"])) < 1e-6
        # the whole point of the fallback: k rows per query despite
        # the filter, which the overfetch recipe cannot guarantee at 1%
        assert len(per_q) == 8 and all(c == k for c in per_q.values())

    # tier 1: allowed set within the brute-force limit → exact
    check(kp.graph_knn(q, b, k=k, q_id="qid", q_vec="vec",
                       b_id="id", b_vec="vec", allowed=allowed))
    # tier 2: force the IVF-PQ filtered route (limit 0) — the scaled
    # nprobe must reach the allowed rows' cells
    check(kp.graph_knn(q, b, k=k, q_id="qid", q_vec="vec",
                       b_id="id", b_vec="vec", allowed=allowed,
                       filtered_exact_limit=0))


def test_bm25_plan_shape(spark, sf_dir):
    """BM25 over the documents table: corpus stats come back as a
    broadcast (never a sort-merge shuffle of the scored side), and the
    docs relation is scanned a bounded number of times — a regression
    that re-derives stats per term would multiply the scans."""
    p = _plan(entrymod.queries()["bm25_keyword_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("Scan parquet") <= 4, p.count("Scan parquet")


def test_exact_knn_blocked_plan_shape(spark, sf_dir):
    """The blocked exact-kNN route must stay a single Arrow kernel pass
    over the base (broadcast queries inside the kernel): MapInPandas in
    the plan, never a join materializing the q x base pairs."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.io.tables import load_table
    from vectordbindexing_spark.operators.exact_knn import exact_knn

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    q = emb.limit(20).select(F.col("id").alias("qid"), "vec")
    p = _plan(exact_knn(q, emb, 5, "cosine"))
    assert "MapInPandas" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_kmeans_seed_init_is_take_ordered_not_global_window(spark):
    """The k-means seed selection must be TakeOrdered (per-partition
    top-k + driver merge), never an unpartitioned row_number Window
    that sorts the WHOLE corpus through one task; the rank window may
    only run over the k seed survivors (post-limit)."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.kmeans import _seed_centroids

    pts = spark.range(10_000).select(
        F.col("id"), F.array(F.col("id").cast("double")).alias("v")
    )
    p = _plan(_seed_centroids(pts, 8))
    assert "TakeOrderedAndProject" in p, p
    # the only Window must sit ABOVE the take-ordered limit — i.e. the
    # plan never feeds the full scan into a global sort for the window
    assert p.index("TakeOrderedAndProject") > p.index("Window"), p


def test_frontier_expand_round_plan_keeps_anti_join(spark):
    """One frontier round: the visited filter must survive as a real
    LeftAnti join and the edge expansion as an equi-join — a plan that
    degrades either to a cartesian stops bounding per-round candidate
    volume on a large graph."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.search import (
        _frontier_expand_round,
    )

    best = spark.range(50).select(
        (F.col("id") % 5).alias("qid"), F.col("id").alias("neighbor_id")
    )
    e = spark.range(500).select(
        (F.col("id") % 50).alias("src"), (F.col("id") % 37).alias("dst")
    )
    visited = best.select("qid", "neighbor_id")
    p = _plan(_frontier_expand_round(best, e, visited))
    assert "LeftAnti" in p, p
    assert "Cartesian" not in p, p
    assert "HashJoin" in p or "SortMergeJoin" in p, p


def test_pagerank_sum_route_round_plan_has_partial_agg(spark):
    """The pagerank scale route (plain sum past PR_FOLD_EDGE_LIMIT)
    must keep a partial aggregate below the shuffle — the map-side
    combine is what makes each round's shuffle O(nodes) instead of
    O(edges) — and the contribution join must never be a cartesian."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.pagerank import _round_incoming

    e = spark.range(1000).select(
        (F.col("id") % 100).alias("src"), (F.col("id") % 83).alias("dst")
    )
    ranks = spark.range(100).select(
        F.col("id"),
        F.lit(4).cast("long").alias("out_deg"),
        F.lit(100).cast("long").alias("n"),
        F.lit(0.01).alias("rank"),
    )
    p = _plan(_round_incoming(e, ranks, exact_fold=False))
    assert "partial_sum" in p, p
    assert "Cartesian" not in p, p


def test_local_rows_df_plans_as_jvm_local_relation(spark):
    """local_rows_df must plan as a JVM-only LocalTableScan, never the
    pickled-Python-RDD ``Scan ExistingRDD`` that re-runs Python workers
    on EVERY downstream action (measured 6-9 s of fixed latency per
    tiny write at local[32] — the r12 streaming-upsert discovery). The
    helper falls back silently on ANY conversion error, so a pandas/
    Arrow regression would otherwise re-introduce the tax with no test
    tripping: this pin makes that failure loud. NO rows (an insert-only
    upsert's replaced-id list) is one of those shapes: an empty pickled
    RDD still starts a Python worker per partition on every scan. The
    rows go through one Arrow table, so the plan holds in a session
    without ``spark.sql.execution.arrow.pyspark.enabled`` (a vanilla
    session, like the one ``__spark_entry__`` is driven with) too."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from vectordbindexing_spark.plans.partitioning import local_rows_df

    row_schema = StructType([
        StructField("id", LongType(), False),
        StructField("vec", ArrayType(FloatType(), True), True),
    ])
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    was = spark.conf.get(arrow, None)
    try:
        for enabled in ("true", "false"):
            spark.conf.set(arrow, enabled)
            # the maintainers' hot shapes: narrow ids, band rows, vectors
            for rows, schema in [
                ([(1,), (2,)], "did long"),
                ([(1, 0, "3_4"), (2, 1, "5_6")],
                 "did long, band_idx int, band_key string"),
                ([(1, [0.5, 1.5]), (2, [2.5, 3.5])],
                 "id long, vec array<double>"),
                ([(1, [0.1, 1.0 / 3.0])], row_schema),
                ([], "did long"),
                ([], row_schema),
            ]:
                df = local_rows_df(spark, rows, schema)
                p = _plan(df)
                assert "LocalTableScan" in p, (enabled, p)
                assert "ExistingRDD" not in p, (enabled, p)
                if isinstance(schema, StructType):
                    assert df.schema == schema
                # bit-identical to the pickled route's JVM coercion
                # (float32 rounding included)
                want = spark.createDataFrame(rows, schema).collect()
                assert df.collect() == want
                if schema != row_schema:
                    assert [tuple(r) for r in want] == rows
    finally:
        if was is None:
            spark.conf.unset(arrow)
        else:
            spark.conf.set(arrow, was)
