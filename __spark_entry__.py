"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(plus the north-star LLM-pipeline operators); ``oracle_sql()`` gives the
DuckDB-equivalent SQL the driver hash-compares against at sf=0.01.
Oracle generators live in vectordbindexing_spark.oracles — each mirrors the
Spark operator exactly (same formulas, deterministic cross-engine hashes,
same tie-breaks and rounding; measured float drift ~1 ulp vs the 1e-6
rounding granularity).

Every query has an oracle, with two distinct strengths. Most are
closed-form SQL recomputations — algorithm-independent truth (IVF's Lloyd
fit is unrolled as SQL CTE rounds; whitening embeds
pseudo-inverse-covariance literals selected by a runtime dataset
discriminator). The four graph-serving oracles (ann_two_layer_recall,
ann_sharded_recall, roargraph_recall, traced_steps_summary) are PINS: a
driver-side numpy replication of the deterministic pipeline, written
against the same conventions as the Spark kernels — they verify the
distributed plumbing end-to-end, but a convention-level bug shared by
kernel and twin would self-confirm. To narrow that gap the serve stage
of the two-layer, sharded, and roargraph pins is cross-checked against a
second implementation transcribed independently from the published HNSW
algorithm (oracles._np_serve_algo2; Malkov & Yashunin TPAMI 2018, Alg.
2) and raises on any divergence; the traced-steps pin is likewise
cross-checked against a contract-transcribed second derivation
(oracles._np_traced_algo2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordbindexing_spark import oracles
from vectordbindexing_spark.io.tables import load_table
from vectordbindexing_spark.plans.partitioning import local_rows_df

Query = Callable[[SparkSession, str], DataFrame]


def _emb_split(spark: SparkSession, sf_dir: str):
    """Query/base split of the embeddings table: vec_id % 10 == 0 → query."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 != 0)
    return q, b


# ---------------------------------------------------------------- ANN / vectors

def _knn_query(metric: str) -> Query:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from vectordbindexing_spark.operators.exact_knn import exact_knn

        q, b = _emb_split(spark, sf_dir)
        return exact_knn(
            q, b, k=10, metric=metric, impl="blocked",
            q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
        ).withColumn("dist", F.round("dist", 6))

    return run


def _lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.lsh import lsh_knn

    q, b = _emb_split(spark, sf_dir)
    # num_bits="auto" scales bucket width with the base count and the
    # default bucket_cap bounds candidates per probe — the config that
    # survives a 100× corpus (fixed 6-bit/uncapped buckets would not)
    return lsh_knn(
        q, b, k=10, metric="cosine", num_bits="auto", num_tables=8,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.lsh import simhash_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    return simhash_buckets(
        emb, id_col="vec_id", vec_col="embedding", num_bits=16,
        num_tables=1, bucket_cap=None,
    )


def _hnsw_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.graph import assign_levels

    emb = load_table(spark, sf_dir, "embeddings")
    return assign_levels(emb, id_col="vec_id", M=16).select(
        F.col("vec_id").alias("id"), "level"
    )


def _knn_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.graph import (
        degree_stats,
        knn_graph,
        mutualize,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    g = knn_graph(emb, k=10, metric="cosine", id_col="vec_id", vec_col="embedding")
    return degree_stats(mutualize(g, max_degree=16)).select(
        "layer",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        "avg_degree",
        F.col("max_degree").cast("long").alias("max_degree"),
        F.col("min_degree").cast("long").alias("min_degree"),
    )


def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4
    )


def _embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.dedup import embedding_neardup_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    # num_bits tuned to the threshold's angle: cos 0.4 → P(bit agree) ≈
    # 0.63 → 6-bit buckets keep candidate volume ∝ n²/2⁶ per table while
    # recalling ≈ 40% over 8 tables (near-dup thresholds ≥ 0.9 support
    # much finer bucketing)
    return embedding_neardup_lsh(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
        num_bits=6, num_tables=8,
    )


def _ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite: coarse-quantizer cell pruning + PQ-code ADC scan
    inside the probed cells — the classic memory-and-IO-bounded 100 TB
    serving plan (Jegou et al. TPAMI 2011)."""
    from vectordbindexing_spark.operators.ivfpq import ivfpq_knn

    q, b = _emb_split(spark, sf_dir)
    return ivfpq_knn(
        q, b, k=10, nlist=16, nprobe=4, m=8, ks=16, max_iter=3,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _ivfpq_index_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving END-TO-END THROUGH THE PERSISTED ARTIFACT: fit,
    save (codes partitioned by cell), load arrays back, search with the
    probed cells applied as a partition-pruning literal predicate. Same
    oracle as the in-memory path — the artifact round-trip must be
    result-invariant (also pinned plan-level by test: PartitionFilters
    on cid)."""
    import tempfile

    from vectordbindexing_spark.operators.ivf import kmeans_fit
    from vectordbindexing_spark.operators.ivfpq import (
        ivfpq_search_index,
        save_ivfpq_index,
    )
    from vectordbindexing_spark.operators.pq import pq_fit

    q, b = _emb_split(spark, sf_dir)
    cents = kmeans_fit(b, 16, max_iter=3, id_col="vec_id",
                       vec_col="embedding")
    books = pq_fit(b, m=8, ks=16, max_iter=3, id_col="vec_id",
                   vec_col="embedding")
    path = tempfile.mkdtemp(prefix="ivfpq_idx_")
    save_ivfpq_index(b, cents, books, path, b_id="vec_id",
                     b_vec="embedding")
    return ivfpq_search_index(
        q, path, k=10, nprobe=4, q_id="vec_id", q_vec="embedding"
    ).withColumn("dist", F.round("dist", 6))


def _ivfpq_rerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ serving: ADC shortlist of 50 per query inside
    the probed cells, then exact-L2 re-score of the shortlist against
    the true vectors (operators.pq.exact_rerank) — compressed scan
    everywhere, full-width vectors touched only for 50·n_q rows."""
    from vectordbindexing_spark.operators.ivfpq import ivfpq_knn

    q, b = _emb_split(spark, sf_dir)
    return ivfpq_knn(
        q, b, k=10, nlist=16, nprobe=4, m=8, ks=16, max_iter=3, rerank=50,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _planner_knn_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-dispatched KNN end-to-end: plans.knn_planner.knn probes
    the table sizes, picks the IVF-PQ route (approximate_ok +
    repeated_queries + memory_tight), unit-normalizes both sides for
    metric='cosine', sizes nlist/nprobe from the exact base count, and
    executes the composite index. ``exact_base_limit=0`` pins the route
    at every sf so the oracle (which replays the same sizing formula and
    normalization) covers planner-dispatched execution, not just the
    operator in isolation."""
    from vectordbindexing_spark.plans.knn_planner import knn

    q, b = _emb_split(spark, sf_dir)
    return knn(
        q, b, k=10, metric="cosine", approximate_ok=True,
        repeated_queries=True, memory_tight=True, exact_base_limit=0,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _planner_sq8_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-dispatched KNN through the recall_target branch: with a
    0.95 recall target under memory pressure the planner picks the SQ8
    full compressed scan + exact rerank instead of the cell-pruned
    IVF-PQ, unit-normalizing for cosine and rescaling the reranked L2
    to cosine-distance scale. The oracle replays the sizing decision,
    normalization, SQ8 pipeline, shortlist, rerank and rescale — so a
    regression anywhere in the routed path shows up in CORRECTNESS."""
    from vectordbindexing_spark.plans.knn_planner import knn

    q, b = _emb_split(spark, sf_dir)
    return knn(
        q, b, k=10, metric="cosine", approximate_ok=True,
        repeated_queries=True, memory_tight=True, exact_base_limit=0,
        recall_target=0.95,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _planner_filtered_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-dispatched FILTERED graph ANN at ~1% selectivity: the
    overfetch + post-filter recipe cannot fill k below 1/overfetch
    selectivity, so graph_knn's bounded allowed-set probe routes to the
    filter-first plan (semi-join the base to the allowed ids, exact
    scan) — every query returns its k best allowed rows, which the
    oracle replays as exact cosine KNN over the same restricted base.
    Mirrors the reference's allowed-set restriction
    (hnsw_cosine_layer1enhanced.py search with a candidate filter) as a
    planner route instead of a search-loop argument."""
    from vectordbindexing_spark.plans.knn_planner import graph_knn

    q, b = _emb_split(spark, sf_dir)
    allowed = b.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("id")
    )
    return graph_knn(
        q, b, k=10, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
        allowed=allowed,
    )


def _planner_graph_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-dispatched graph-ANN serving: plans.knn_planner.graph_knn
    probes the base size, picks the compact broadcast route below
    COMPACT_INDEX_LIMIT (every tested sf), builds + serves the two-layer
    index, and the query reports recall@10 vs the exact oracle — the
    same double-derived pin as ann_two_layer_recall, now reached through
    the planner dispatch path."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.plans.knn_planner import graph_knn

    q, b = _emb_split(spark, sf_dir)
    got = graph_knn(
        q, b, k=10, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    ex = exact_knn(q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("r"), 4).alias("recall_at_10"),
        )
    )


def _ann_two_layer_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only showcase: build two-layer graph index, serve queries,
    report recall@10 vs the exact oracle (computed in-Spark)."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    q, b = _emb_split(spark, sf_dir)
    # impl pinned: this query's oracle replays the BLOCKED build, and
    # auto-sizing has its own gates (ann_bucketed_recall + planner
    # routes) — pinning skips the strategy-probe jobs (r07: −2 count
    # jobs per run, the bench delta vs r06)
    edges = build_two_layer_index(
        b, M0=16, M1=8, metric="cosine", id_col="vec_id",
        vec_col="embedding", impl="blocked",
    )
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    got = graph_search(q, idx, k=10, ef_search=64,
                       q_id="vec_id", q_vec="embedding")
    ex = exact_knn(q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("r"), 4).alias("recall_at_10"),
        )
    )


def _streaming_graph_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated contract for the streaming graph-artifact
    maintainer (streaming/graph_ingest.py; reference study
    hnsw_insert.ipynb's incremental add_items loop): init(base) →
    incremental upsert (fresh inserts + same-id updates with negated
    vectors, batch-wins) → a second batch that crosses refresh_factor
    and triggers the compaction REBUILD. After a rebuild the artifact
    is EXACTLY the bulk two-layer build of the union corpus
    (upsert≡rebuild, pinned in tests/test_streaming_graph_ingest.py),
    so the DuckDB oracle replays that deterministic build over the
    unioned input (oracles.graph_upsert_pipeline_sql) — row-level,
    integer-only (layer, src, dst). A silently dropped incremental
    batch changes the union the rebuild compacts, turning the row red.
    """
    import shutil
    import tempfile

    from vectordbindexing_spark.streaming.graph_ingest import (
        init_graph_artifact,
        load_graph_artifact,
        upsert_graph_artifact,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").alias("vec"),
    )
    sli = emb.where(F.col("id") < 160)
    base = sli.where(F.col("id") % 8 != 0)
    ins1 = sli.where(F.col("id") % 8 == 0)
    upd = base.where(F.col("id") % 17 == 1).select(
        "id", F.transform("vec", lambda x: -x).alias("vec")
    )
    b2 = emb.where((F.col("id") >= 160) & (F.col("id") < 200))

    art = tempfile.mkdtemp(prefix="sgu_")
    try:
        init_graph_artifact(base, art, M0=8, M1=4, buckets=8)
        st1 = upsert_graph_artifact(
            ins1.unionByName(upd), art, refresh_factor=10.0
        )
        st2 = upsert_graph_artifact(b2, art, refresh_factor=1.0)
        if (st1, st2) != ("upsert", "rebuild"):
            raise RuntimeError(f"unexpected upsert statuses {(st1, st2)}")
        _, edges, _ = load_graph_artifact(spark, art)
        out = edges.select("layer", "src", "dst").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(art, ignore_errors=True)
    return out


def _streaming_neardup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated contract for the streaming MinHash near-dup
    maintainer (streaming/neardup.py; reference study
    simple_sim_hash.py's fingerprint-dedup loop made incremental):
    init(base) → two micro-batch upserts, each answering "which
    incoming docs near-dup anything already ingested (or each other)"
    from the persisted banded-LSH artifact without recomputing corpus
    signatures. The union of the batches' detected pairs equals the
    batch operator (minhash_dedup_pairs) over the final corpus
    restricted to pairs touching ≥1 upserted doc — which is exactly
    what the DuckDB oracle (oracles.neardup_upsert_pipeline_sql)
    computes. A dropped batch, a stale band bucket, or a signature
    drift between the batch and streaming kernels all turn the row
    red."""
    import shutil
    import tempfile

    from vectordbindexing_spark.streaming.neardup import (
        init_neardup_artifact,
        upsert_neardup_artifact,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 4 != 0)
    b1 = docs.where(F.col("doc_id") % 8 == 0)
    b2 = docs.where(F.col("doc_id") % 8 == 4)
    art = tempfile.mkdtemp(prefix="snd_")
    try:
        init_neardup_artifact(base, art, buckets=64)
        p1 = upsert_neardup_artifact(b1, art)
        p2 = upsert_neardup_artifact(b2, art)
        out = p1.unionByName(p2).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(art, ignore_errors=True)
    return out


def _ann_bucketed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r07 SCALE build pipeline, oracle-gated end-to-end: layer 0
    via the salt-bounded bucketed in-kernel kNN build (work bounded by
    n·tables·cap pairs at any bucket skew — the route impl='auto' takes
    past the blocked limit), random-matching long links on the top
    layer (clustered corpora stay one component), compact broadcast
    serving; reports recall@10 vs the exact in-Spark oracle. The DuckDB
    oracle replays the whole pipeline in numpy (double-derived serve
    pin, oracles._bucketed_recall_pins). Mirrors the reference's bulk
    build (hnsw.cpp:52-118) re-expressed for the 100 TB regime."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    q, b = _emb_split(spark, sf_dir)
    edges = build_two_layer_index(
        b, M0=16, M1=8, metric="cosine", id_col="vec_id",
        vec_col="embedding", impl="bucketed",
    )
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    got = graph_search(q, idx, k=10, ef_search=64,
                       q_id="vec_id", q_vec="embedding")
    ex = exact_knn(q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("r"), 4).alias("recall_at_10"),
        )
    )


def _ann_sharded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded serving path END-TO-END THROUGH THE PERSISTED ARTIFACT:
    hash-sharded per-executor graph builds → parquet save → load →
    parallel per-shard search, global top-k merge; recall@10 vs exact.
    The save/load hop is deliberate — serving reads the artifact, never
    the build lineage, so the oracle row covers the parquet round-trip."""
    import tempfile

    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.shard import (
        build_sharded_index,
        load_sharded_index,
        save_sharded_index,
        search_sharded,
    )

    q, b = _emb_split(spark, sf_dir)
    art = build_sharded_index(
        b, num_shards=2, M0=16, M1=8, metric="cosine",
        id_col="vec_id", vec_col="embedding",
    )
    art_path = tempfile.mkdtemp(prefix="vdbi_sharded_idx_")
    save_sharded_index(art, art_path)
    loaded = load_sharded_index(spark, art_path)
    got = search_sharded(q, loaded, k=10, ef_search=64,
                         q_id="vec_id", q_vec="embedding")
    ex = exact_knn(q, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("r"), 4).alias("recall_at_10"),
        )
    )


def _traced_steps_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy traced search to each query's exact nearest neighbor over
    the two-layer index — all-integer aggregates (reference
    steps-to-target metric)."""
    from vectordbindexing_spark.operators.evaluate import traced_search
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import compact_index

    q, b = _emb_split(spark, sf_dir)
    edges = build_two_layer_index(
        b, M0=16, M1=8, metric="cosine", id_col="vec_id",
        vec_col="embedding", impl="blocked",  # oracle replays blocked; skip probes
    )
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    targets = (
        exact_knn(q, b, k=1, metric="cosine", impl="blocked",
                  q_id="vec_id", q_vec="embedding",
                  b_id="vec_id", b_vec="embedding")
        .filter(F.col("nbr_rank") == 1)
        .select("qid", F.col("neighbor_id").alias("target_id"))
    )
    tr = traced_search(q, idx, targets, q_id="vec_id", q_vec="embedding")
    return tr.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("steps").alias("sum_steps"),
        F.max("steps").alias("max_steps"),
        F.sum(F.col("found").cast("long")).alias("n_found"),
        F.sum("trace_len").alias("sum_trace_len"),
        F.sum("top1_changes").alias("sum_top1_changes"),
    )


def _augment_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-distribution star augmentation from an offline query→top-k
    table (reference 'star' strategy + per-node budget)."""
    from vectordbindexing_spark.operators.augment import augment_from_query_topk
    from vectordbindexing_spark.operators.exact_knn import exact_knn

    q, b = _emb_split(spark, sf_dir)
    topk = exact_knn(
        q, b, k=8, metric="cosine", impl="blocked",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    edges = augment_from_query_topk(
        topk, b, strategy="star", max_new_edges_per_node=4,
        b_id="vec_id", b_vec="embedding",
    )
    return edges.select(
        "layer", "src", "dst", F.round("dist", 6).alias("dist"), "edge_type"
    )


def _frontier_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed graph search (index stays a DataFrame end-to-end):
    kNN-graph build → iterative frontier joins → global top-k. Row-level
    oracle: the build AND every round are unrolled as DuckDB CTEs."""
    from vectordbindexing_spark.operators.graph import knn_graph, mutualize
    from vectordbindexing_spark.operators.search import frontier_search

    q, b = _emb_split(spark, sf_dir)
    edges = mutualize(
        knn_graph(b, 16, "cosine", "vec_id", "embedding"), max_degree=32
    )
    return frontier_search(
        q, edges, b, k=10, rounds=3, beam=32, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS over the mutualized kNN graph from its
    top-degree entry points (reference k-hop reachability pre-check)."""
    from vectordbindexing_spark.operators.graph import (
        entry_points,
        khop_reachability,
        knn_graph,
        mutualize,
    )

    _, b = _emb_split(spark, sf_dir)
    # materialize the build once: entry_points AND khop's internal
    # adjacency checkpoint both consume it — un-checkpointed, the kNN
    # kernel + mutualize lineage executed twice per run (same rows
    # either way; this is purely the job count)
    edges = mutualize(
        knn_graph(b, 16, "cosine", "vec_id", "embedding"), max_degree=32
    ).localCheckpoint(eager=True)
    eps = entry_points(edges, layer=0, n=3).select(
        F.col("node_id").alias("id")
    )
    return khop_reachability(edges, eps, max_hops=3).select(
        "root", "node", F.col("hops").cast("long").alias("hops")
    )


def _roargraph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RoarGraph pipeline: train-query-driven projection graph build,
    beam-search serve for held-out queries, recall@10 vs exact."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.graph import roargraph_build
    from vectordbindexing_spark.operators.search import compact_index, graph_search

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 10 == 5)
    test = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter((F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 5))
    edges = roargraph_build(
        train, b, k_nn=50, n_targets=10, M_pjbp=16, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    idx = compact_index(edges, b, id_col="vec_id", vec_col="embedding",
                        metric="cosine")
    got = graph_search(test, idx, k=10, ef_search=64,
                       q_id="vec_id", q_vec="embedding")
    ex = exact_knn(test, b, k=10, metric="cosine", impl="blocked",
                   q_id="vec_id", q_vec="embedding",
                   b_id="vec_id", b_vec="embedding")
    gp = got.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        gp.join(ep, "qid")
        .select((F.size(F.array_intersect("p", "g")) / 10.0).alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("r"), 4).alias("recall_at_10"),
        )
    )


def _ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: IVF (k-means inverted lists) approximate KNN."""
    from vectordbindexing_spark.operators.ivf import ivf_knn

    q, b = _emb_split(spark, sf_dir)
    return ivf_knn(
        q, b, k=10, nlist=16, nprobe=4, metric="cosine", max_iter=3,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC KNN: per-subspace codebooks, compressed
    code scan with query lookup tables (Jégou et al. 2011) — the
    memory-bound scale path (codes are ~1/64 of the raw vector bytes)."""
    from vectordbindexing_spark.operators.pq import pq_knn

    q, b = _emb_split(spark, sf_dir)
    return pq_knn(
        q, b, k=10, m=8, ks=16, max_iter=3,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _bq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization KNN: 1-bit midrange sign codes (32× under
    float32), XOR+popcount Hamming shortlist, exact-L2 rerank — the
    cheap-filter end of the quantization family. Oracle replays
    thresholds, packing, Hamming and rerank entirely in SQL."""
    from vectordbindexing_spark.operators.bq import bq_knn

    q, b = _emb_split(spark, sf_dir)
    return bq_knn(
        q, b, k=10, shortlist=60,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _opq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimized PQ (Ge et al. 2013): PQ behind a learned orthogonal
    rotation fitted by alternating Procrustes/k-means — cuts
    cross-subspace correlation loss; serving is one extra broadcast
    matmul per batch, then the plain PQ ADC scan."""
    from vectordbindexing_spark.operators.opq import opq_knn

    q, b = _emb_split(spark, sf_dir)
    return opq_knn(
        q, b, k=10, m=8, ks=16, opq_iters=3, pq_iters=3,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (SQ8) asymmetric KNN: per-dim affine uint8
    codes (4× under float32), decode-and-scan with exact queries — the
    FAISS IndexScalarQuantizer rung between raw floats and PQ. The
    oracle replays fit+encode+decode+distance entirely in SQL (no
    literals), so this row is algorithm-independent truth."""
    from vectordbindexing_spark.operators.sq import sq8_knn

    q, b = _emb_split(spark, sf_dir)
    return sq8_knn(
        q, b, k=10,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 6))


def _whitening_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: PCA-whitening fit+transform (Norm method); outputs the
    whitened L2 norm per vector (SVD not SQL-expressible)."""
    from vectordbindexing_spark.operators.preprocess import (
        whitening_fit,
        whitening_transform,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = whitening_fit(emb, vec_col="embedding", mode="pca")
    out = whitening_transform(emb, model, vec_col="embedding")
    return out.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate("wvec", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("whitened_norm"),
    )


def _weighted_l2_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idea-1023 per-dim variance-scaled L2 KNN (weights = 1/(σ²_k+ε))."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.preprocess import _moments

    emb = load_table(spark, sf_dir, "embeddings")
    s, ss, n = _moments(emb, "embedding")  # one pass, no shuffle
    mean = s / n
    variances = ss.diagonal() / n - mean * mean
    weights = [1.0 / (v + 1e-6) for v in variances]
    q, b = _emb_split(spark, sf_dir)
    return exact_knn(
        q, b, k=10, metric="weighted_l2", weights=weights,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    ).withColumn("dist", F.round("dist", 4))


def _gt_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth cleaning: drop out-of-corpus ids from per-query top-k
    arrays (reference clean_ground_truth / out-of-range filtering)."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn

    q, b = _emb_split(spark, sf_dir)
    knn = exact_knn(
        q, b, k=10, metric="cosine", impl="blocked",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    lists = knn.groupBy("qid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("nbr_rank", "neighbor_id"))),
            lambda s: s["neighbor_id"],
        ).alias("ids")
    )
    cap = 250
    cleaned = F.filter("ids", lambda x: x < F.lit(cap))
    return lists.select(
        "qid",
        F.size("ids").cast("long").alias("n_raw"),
        F.size(cleaned).cast("long").alias("n_clean"),
        F.coalesce(F.array_min(cleaned), F.lit(-1)).cast("long").alias("min_clean"),
        F.coalesce(F.array_max(cleaned), F.lit(-1)).cast("long").alias("max_clean"),
    )


# ---------------------------------------------------------------- dedup / text

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.dedup import exact_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_stats(docs, text_col="text", id_col="doc_id")


def _minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, text_col="text", id_col="doc_id",
        n=3, num_hashes=16, bands=8, threshold=0.5,
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.dedup import jaccard_ngram_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    return jaccard_ngram_pairs(docs, text_col="text", id_col="doc_id",
                               n=3, threshold=0.2)


def _text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.textops import token_stats

    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs, text_col="text", id_col="doc_id")


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.textops import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, text_col="text", id_col="doc_id")


def _text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.textops import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs, text_col="text", id_col="doc_id")


def _text_lang_id_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same language-ID semantics through the broadcast-lexicon path
    (explode + broadcast equi-join + per-doc argmax) — the deployment
    shape for large lexicons, exercised here with the 24-language
    LANG_MARKERS_FULL table (Latin, Cyrillic, Greek, Arabic, Hebrew,
    Devanagari, Thai, CJK, Hangul scripts) rather than the 5-language
    literal demo text_lang_id scores. The oracle replays the same
    24-way argmax in SQL."""
    from vectordbindexing_spark.operators.textops import (
        LANG_MARKERS_FULL,
        lang_id,
    )

    docs = load_table(spark, sf_dir, "documents")
    lex = local_rows_df(
        spark,
        [(lg, m) for lg, ms in LANG_MARKERS_FULL.items() for m in ms],
        "lang string, marker string",
    )
    return lang_id(docs, text_col="text", id_col="doc_id", lexicon=lex)


def _benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination gate: training docs (doc_id % 20 != 0) sharing ≥5
    distinct 3-grams with any held-out benchmark doc (doc_id % 20 == 0),
    strongest match per doc."""
    from vectordbindexing_spark.operators.textops import benchmark_contamination

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return benchmark_contamination(corpus, bench, n=3, min_overlap=5)


def _bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.textops import bpe_token_stats

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_stats(docs, text_col="text", id_col="doc_id")


def _corpus_filter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data keep/drop gate: language + quality + token bounds +
    exact-dup keeper combined into one verdict with the first failing
    rule as the reason (the last stage of every corpus pipeline)."""
    from vectordbindexing_spark.operators.textops import corpus_filter_gate

    docs = load_table(spark, sf_dir, "documents")
    return corpus_filter_gate(docs, text_col="text", id_col="doc_id")


def _text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically salted corpus: the synthetic
    documents contain no PII, so each doc gets a synthetic email, IPv4
    and phone appended (pure function of doc_id, mirrored byte-for-byte
    in oracles.PII_SALT_SQL) before textops.pii_redact counts and
    replaces them. Verifies pattern parity, replacement order and the
    progressive-count contract end-to-end."""
    from vectordbindexing_spark.operators.textops import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    return pii_redact(salted, text_col="text", id_col="doc_id")


def _text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals. The synthetic docs are
    single-line, so the entry splits them into lines first (literal
    replace of ' a ' with newline — same non-overlapping left-to-right
    semantics in both engines) to exercise the duplicate-line fraction
    alongside the top/dup n-gram fractions."""
    from vectordbindexing_spark.operators.textops import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" a "), F.lit("\n")).alias("text"),
    )
    return repetition_stats(lined, text_col="text", id_col="doc_id", ns=(2, 3))


def _text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal over salted multi-line
    docs: a constant footer appended to every doc (→ boilerplate,
    dropped) and a per-doc unique line (→ kept). min_df=50 so the footer
    trips the gate at every sf while real content lines never do."""
    from vectordbindexing_spark.operators.textops import remove_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.concat(
            F.replace(F.col("text"), F.lit(" a "), F.lit("\n")),
            F.lit("\nSubscribe to our newsletter"),
            F.lit("\ndoc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return remove_boilerplate(lined, text_col="text", id_col="doc_id",
                              min_df=50)


def _mix_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document quota (data-mixing sampler):
    md5-hash-ordered prefix of 10 docs per source — same sample every
    run, every engine."""
    from vectordbindexing_spark.operators.sampling import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    return quota_sample(docs, strata_col="source", quota=10,
                        id_col="doc_id")


def _mix_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fill (600 whitespace tokens): inclusive
    running sum in hash order, first doc always kept."""
    from vectordbindexing_spark.operators.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_sample(docs, strata_col="source",
                               budget_tokens=600, text_col="text",
                               id_col="doc_id")


def _text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-domain mix over a URL-salted corpus (the synthetic docs
    contain no URLs, so two deterministic URLs per doc_id are appended —
    mirrored byte-for-byte in oracles.URL_SALT_SQL; one carries a
    trailing period to pin the punctuation-exclusion rule)."""
    from vectordbindexing_spark.operators.textops import domain_stats

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://ref"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".org."),
        ).alias("text"),
    )
    return domain_stats(salted, text_col="text", id_col="doc_id")


def _embedding_pool_by_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→document mean pooling (preprocess.pool_embeddings): the
    embeddings table grouped by vec_id % 250 simulates ~4-chunk
    documents; the fold runs in vec_id order (run-deterministic float
    summation) and the pooled vector is exploded to (pos, val) scalar
    rows so the oracle hashes every dimension."""
    from vectordbindexing_spark.operators.preprocess import pool_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 250).alias("doc_id"), "vec_id", "embedding"
    )
    pooled = pool_embeddings(
        chunks, group_col="doc_id", vec_col="embedding", order_col="vec_id"
    )
    return pooled.select(
        "doc_id", "n_pooled",
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "doc_id", "n_pooled", F.col("pos").cast("long").alias("pos"), "val"
    )


def _text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (window=32 tokens, stride=24 → 8-token
    overlap): the prep step before embedding at corpus scale. Small
    window so the synthetic ~60-token docs produce multiple chunks."""
    from vectordbindexing_spark.operators.textops import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, text_col="text", id_col="doc_id",
                           window=32, stride=24)


def _text_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span stats (Lee et al. 2022 substring dedup at
    15-token window granularity): rolling span hashes → one shuffle on
    the 60-bit hash → canonical-occurrence marking → per-doc interval
    union. All-BIGINT output; the synthetic corpus's repeated sentences
    give every column a non-trivial distribution."""
    from vectordbindexing_spark.operators.spandedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, window=15, text_col="text", id_col="doc_id")


def _hll_registers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over events.event_id (p=10): the
    COUNT(DISTINCT) answer at 100 TB — constant-size mergeable state,
    one map-side-combined groupBy. Built on the repo's cross-engine
    md5 hash with integer-only rho (length(bin(x)), never float log2),
    so the sketch itself is bit-identical in the DuckDB oracle."""
    from vectordbindexing_spark.operators.sketch import hll_registers

    events = load_table(spark, sf_dir, "events")
    return hll_registers(events, "event_id", p=10)


def _hll_estimate_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count ESTIMATE over events.user_id (p=10) — gates
    the estimator (harmonic fold, linear-counting correction) on top
    of the already-gated register table."""
    from vectordbindexing_spark.operators.sketch import hll_estimate

    events = load_table(spark, sf_dir, "events")
    return hll_estimate(events, "user_id", p=10)


def _source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: pairwise Jaccard estimates
    between every pair of document sources from per-source KMV
    sketches over word-5-gram shingles — the pairwise stage sees only
    |sources|·k sketch rows, never the corpus."""
    from vectordbindexing_spark.functions.text import word_ngrams
    from vectordbindexing_spark.operators.sketch import kmv_pairwise_overlap

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "source",
        F.explode(
            word_ngrams(F.coalesce(F.col("text"), F.lit("")), 5)
        ).alias("shingle"),
    )
    return kmv_pairwise_overlap(sh, "shingle", "source", k=64)


def _events_pivot_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity profile via pivot: one groupBy with an
    explicit pivot value list (no extra distinct-values job — at
    100 TB the value scan would be a full extra pass), zero-filled
    counts. The relational crosstab primitive."""
    ev = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return out.select(
        "user_id",
        *[F.col(t).cast("long").alias(f"n_{t}") for t in types],
    )


def _events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-event trailing moving average of value per user (frame
    ROWS 2 PRECEDING..CURRENT, total order (ts, event_id)): the
    time-series smoothing window. sum/count written explicitly on
    both engines so the 3-term float fold shares one expression tree
    (engine-native avg() may use a different accumulation)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.round(F.col("value"), 6).alias("value"),
        F.round(
            F.sum("value").over(w) / F.count(F.lit(1)).over(w), 6
        ).alias("mov_avg"),
    )


def _events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered first-touch funnel view→click→purchase: per user, the
    earliest step-k event at or after the step-(k-1) touch; NULLs from
    the drop-off step on. Sequential min-aggregates joined on the user
    key — never a full-stream window."""
    from vectordbindexing_spark.operators.events import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


def _orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot compare (CDC/table-versioning primitive): classify
    keys added / removed / changed between two deterministic synthetic
    versions of orders (drop %89 keys from old, drop %97 from new,
    double %31 totalprice in new). One full-outer key join; per-column
    null-safe comparison — never a rendered-string hash."""
    from vectordbindexing_spark.operators.diff import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 89 != 0)
    new = orders.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") * 2.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"]).select(
        F.col("o_orderkey").cast("long"), "change"
    )


def _bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized Bloom filter as a join-pruning artifact: build the
    bit table over high-balance customers, probe every orders custkey
    through it, and report the pruning ledger (probe keys / passed /
    true members / false positives). No false negatives by
    construction — the gate checks the exact counts, including how
    many false positives this m/k/n combination yields."""
    from vectordbindexing_spark.operators.sketch import (
        bloom_bits,
        bloom_might_contain,
    )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = customer.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    bits = bloom_bits(dim, "c_custkey", m_bits=4096, k_hashes=3)
    probe = orders.select(F.col("o_custkey").alias("c_custkey"))
    pass_keys = bloom_might_contain(
        bits, probe, "c_custkey", m_bits=4096, k_hashes=3
    )
    probe_keys = probe.distinct()
    stats = (
        probe_keys
        .join(pass_keys.withColumn("_pass", F.lit(1)), "c_custkey", "left")
        .join(
            dim.distinct().withColumn("_mem", F.lit(1)), "c_custkey", "left"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe_keys"),
            F.count("_pass").cast("long").alias("n_pass"),
            F.count("_mem").cast("long").alias("n_member"),
        )
    )
    return stats.select(
        "n_probe_keys", "n_pass", "n_member",
        (F.col("n_pass") - F.col("n_member")).cast("long")
        .alias("n_false_pos"),
    )


def _events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour→day→week continuous-aggregate ladder: raw rows scanned
    once, coarser grains re-aggregate the finer grain (ordered float
    folds over rounded finer sums keep the ladder cross-engine
    exact; the oracle replays the same hierarchy)."""
    from vectordbindexing_spark.operators.events import multires_rollup

    return multires_rollup(load_table(spark, sf_dir, "events"))


def _text_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level fuzzy dedup: pairs of 80-char doc keys within
    Levenshtein distance 2, via lossless q-gram prefix filtering
    (never all-pairs; the ORACLE is the brute-force definition, so
    the gate proves the filter exact). The corpus is salted with
    deterministic near-miss variants (drop-first-char, append ' q')
    on both engines — the raw synthetic corpus has no typo pairs."""
    from vectordbindexing_spark.operators.dedup import editdist_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    k0 = docs.select(
        "doc_id",
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80).alias("k"),
    )
    v1 = k0.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(k, 2)").alias("k"),
    )
    v2 = k0.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("k"), F.lit(" q")).alias("k"),
    )
    salted = k0.unionByName(v1).unionByName(v2)
    return editdist_neardup_pairs(salted, d=2, q=3, key_col="k")


def _events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-keyed range join via time-bucket discretization: every
    error event opens a 10-minute outage window; count the windows
    covering each purchase. A naive BETWEEN join is a
    nested-loop cliff — the bucketized plan is an EQUI-join on the
    bucket id plus the exact filter."""
    from vectordbindexing_spark.operators.ranges import (
        point_in_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts"
    )
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("outage_id"),
        F.col("ts").alias("start_ts"),
        F.expr("ts + INTERVAL 10 MINUTES").alias("end_ts"),
    )
    hits = point_in_interval_join(
        points, intervals, bucket_seconds=600, how="inner"
    )
    counts = hits.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_outages")
    )
    return points.join(counts, "event_id", "left").select(
        "event_id",
        F.coalesce(F.col("n_outages"), F.lit(0)).cast("long")
        .alias("n_outages"),
    )


def _events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks up the user's latest click at or
    before it (unbounded lookback — the interval-join attribution
    query's point-in-time sibling). One union + one key-shuffle window,
    never an inequality join."""
    from vectordbindexing_spark.operators.events import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id",
        value_cols=["click_id", "click_ts"],
    )
    return joined.select(
        "event_id", "user_id", "click_id",
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', click_ts),"
            " date_trunc('second', ts))"
        ).cast("long").alias("secs_since"),
    )


def _cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch counter table over document token occurrences
    (depth 4 × width 1024): vocabulary-frequency state that stays
    depth×width per partition no matter how large the corpus — the
    100 TB heavy-hitters primitive. Counter table is bit-identical in
    the DuckDB oracle (integer md5 hashing, like the HLL registers)."""
    from vectordbindexing_spark.functions.text import words
    from vectordbindexing_spark.operators.sketch import cms_counters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(words(F.coalesce(F.col("text"), F.lit("")))).alias("tok")
    )
    return cms_counters(toks, "tok", depth=4, width=1024)


def _cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter estimates through the count-min sketch: the top-20
    true tokens (deterministic (count desc, tok) order) point-queried
    against the sketch — gates the ESTIMATE path (min over rows,
    absent counter ⇔ 0) on top of the gated counter table; the CMS
    never-undercount guarantee is visible in the output itself."""
    from vectordbindexing_spark.functions.text import words
    from vectordbindexing_spark.operators.sketch import (
        cms_counters,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(words(F.coalesce(F.col("text"), F.lit("")))).alias("tok")
    )
    truth = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("tok"))
        .limit(20)
    )
    est = cms_estimate(
        cms_counters(toks, "tok", depth=4, width=1024),
        truth, "tok", depth=4, width=1024,
    )
    return truth.join(est, "tok").select(
        "tok", "true_count", F.col("est_count").cast("long")
    )


def _events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-histogram (DDSketch-style, γ=2 fixed-point) quantile
    estimates over events.value: constant-size mergeable bucket
    counts instead of a global sort — integer bit-length bucketing,
    integer cumsum, midpoint estimate."""
    from vectordbindexing_spark.operators.sketch import (
        log_histogram_quantiles,
    )

    events = load_table(spark, sf_dir, "events")
    return log_histogram_quantiles(
        events, "value", [0.5, 0.9, 0.99], scale=1000
    )


def _kmv_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch of users per event_type (k=64): composable
    under set ops, so cross-source overlap (corpus contamination /
    audience intersection) is estimable from the sketches alone —
    the question HLL registers cannot answer. Exact integers; the
    oracle replays distinct-hash + per-group k-min in SQL."""
    from vectordbindexing_spark.operators.sketch import kmv_sketch

    events = load_table(spark, sf_dir, "events")
    return kmv_sketch(events, "user_id", k=64, group_col="event_type")


def _nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering (the GPT-3 §A pipeline
    stage), as a fully engine-replayable dataflow: multinomial NB
    trained on deterministic length-seed labels, every doc scored with
    position-ordered log folds. The oracle retrains + rescores in SQL
    with zero pinned state (the trigram-LM contract)."""
    from vectordbindexing_spark.operators.classify import (
        quality_classifier_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quality_classifier_scores(
        docs, text_col="text", id_col="doc_id", min_tokens=50, k=0.5
    )


def _zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered-layout envelope: Morton z-values over
    (o_custkey, epoch-day(o_orderdate)) in exact integer arithmetic,
    rows bucketed by the curve's top 6 bits (the files a z-ordered
    write would cut), per-bucket count + per-dimension min/max span — the
    data-skipping envelope parquet pruning would see. The whole curve
    replays in the DuckDB oracle with no pins."""
    from vectordbindexing_spark.io.zorder import layout_span_stats

    orders = load_table(spark, sf_dir, "orders")
    return layout_span_stats(
        orders,
        cols=["o_custkey", "datediff(o_orderdate, DATE '1970-01-01')"],
        bits=16,
        bucket_bits=6,
    )


def _bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): distributed word
    counting (one map-side-combined groupBy + TakeOrdered top-V), then
    the bounded driver merge loop — trained state like k-means
    centroids. The oracle pins the merge table per dataset with the
    SAME shared fit over Python-counted words, so count or tie-break
    drift flips the gate."""
    from vectordbindexing_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, text_col="text", top_v=10_000, min_count=2,
                     num_merges=150)


def _bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE encoding stats on the doc_id % 10 == 0 sample:
    Arrow-batched encode kernel with per-word memo, token-stream hash
    computed JVM-side (det_hash60). Oracle = shared-encode pins joined
    to the table for row membership."""
    from vectordbindexing_spark.operators.bpe import bpe_encode_stats, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, text_col="text", top_v=10_000, min_count=2,
                       num_merges=150)
    sample = docs.filter(F.col("doc_id") % 10 == 0)
    return bpe_encode_stats(sample, merges, text_col="text", id_col="doc_id")


def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.textops import doc_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(docs, text_col="text", id_col="doc_id")


def _char_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity signal: every document scored under a
    char-trigram model trained on the corpus itself — the filter signal
    real pipelines get from KenLM, as a pure engine-replayable dataflow
    (the oracle retrains and rescores the LM in SQL, no literals)."""
    from vectordbindexing_spark.operators.textops import char_trigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return char_trigram_logprob(docs, text_col="text", id_col="doc_id")


def _pack_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: hash-shard, concatenate, cut into
    fixed 512-token training windows — per-doc coordinates in the
    packed stream (the final prep step of a pretraining pipeline).
    Small seq_len so the synthetic ~60-token docs span boundaries."""
    from vectordbindexing_spark.operators.textops import pack_token_windows

    docs = load_table(spark, sf_dir, "documents")
    return pack_token_windows(
        docs, seq_len=512, n_shards=8, text_col="text", id_col="doc_id"
    )


def _media_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest path over REAL compressed images: deterministic
    synthetic frames (seeded per doc_id) are JPEG-encoded — even doc_ids
    baseline (SOF0), odd doc_ids progressive (SOF2, spectral selection +
    successive approximation) — and decoded executor-side with the
    vendored pure-numpy T.81 codec (io/jpeg.py), then reduced to typed
    stats. Hash-gated since r06: each row is a pure function of doc_id,
    so the oracle precomputes expected rows with the same code
    (operators/media_demo.py) and pins them as SQL literals — the
    trained-state technique of EMB_DISCRIMINATOR_SQL. The codec
    itself is round-trip-pinned by test_jpeg / test_jpeg_progressive
    (progressive decode is bit-identical to baseline at the same
    settings). Mirrors the reference's flickr30k_clip.ipynb cell 6
    ingest (JPEG files → batch decode → features) in distributed form."""
    from collections.abc import Iterator

    import pandas as pd

    from vectordbindexing_spark.operators.media_demo import jpeg_demo_stats

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .filter(F.col("doc_id") < 64)
    )

    def codec_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [jpeg_demo_stats(int(did)) for did in pdf["doc_id"]]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "mean_intensity",
                    "jpeg_bytes",
                ],
            )

    from vectordbindexing_spark.plans.partitioning import repartition_for_compute

    return repartition_for_compute(docs).mapInPandas(
        codec_pass,
        schema=(
            "doc_id long, width int, height int, mean_intensity double, "
            "jpeg_bytes int"
        ),
    )


def _media_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio ingest path over REAL PCM clips: deterministic per-doc_id
    tones (seeded frequency/amplitude) are WAV-encoded and decoded
    executor-side with the vendored RIFF codec (io/wav.py), reduced to
    the standard audio-triage features. Hash-gated since r06 via
    pinned-literal expected rows (operators/media_demo.py — each row is
    a pure function of the id); the codec round-trips are pinned by
    test_wav. The audio twin of media_jpeg_decode_stats."""
    from collections.abc import Iterator

    import pandas as pd

    from vectordbindexing_spark.operators.media_demo import wav_demo_clip
    from vectordbindexing_spark.operators.multimodal import audio_features

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") < 64)
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(mid) for mid in pdf["media_id"]]
            yield pd.DataFrame(
                {"media_id": ids,
                 "content": [wav_demo_clip(m) for m in ids]}
            )

    from vectordbindexing_spark.plans.partitioning import (
        repartition_for_compute,
    )

    clips = repartition_for_compute(docs).mapInPandas(
        synth, schema="media_id long, content binary"
    )
    return audio_features(clips)


def _media_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video ingest path over REAL MJPEG-AVI clips: per doc_id a short
    clip of drifting-gradient frames is JPEG-encoded, wrapped in a RIFF
    AVI container (io/avi.py), and decoded executor-side (container
    walk + vendored JPEG frame decode) into frame/motion stats.
    Hash-gated since r06 via pinned-literal expected rows
    (operators/media_demo.py — each row is a pure function of the id);
    the container and frame codecs are round-trip-pinned by
    test_video/test_jpeg. Completes the multimodal triad next to
    media_jpeg_decode_stats and media_wav_features."""
    from collections.abc import Iterator

    import pandas as pd

    from vectordbindexing_spark.operators.media_demo import video_demo_clip
    from vectordbindexing_spark.operators.multimodal import video_features

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") < 32)
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(mid) for mid in pdf["media_id"]]
            yield pd.DataFrame(
                {"media_id": ids,
                 "content": [video_demo_clip(m) for m in ids]}
            )

    from vectordbindexing_spark.plans.partitioning import (
        repartition_for_compute,
    )

    clips = repartition_for_compute(docs).mapInPandas(
        synth, schema="media_id long, content binary"
    )
    return video_features(clips)


def _ann_ladder_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression ladder in one row set: recall@10 vs exact L2 for
    SQ8, PQ, IVF-PQ and BQ on the same query/base split, each method
    run with its contract-query parameters so the oracle can embed the
    SAME per-method SQL replays as subqueries. Hits are summed as
    integers and divided once (n_hits / (n_q·k)) so the recall value is
    exactly deterministic across engines."""
    from vectordbindexing_spark.operators.bq import bq_knn
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.ivfpq import ivfpq_knn
    from vectordbindexing_spark.operators.pq import pq_knn
    from vectordbindexing_spark.operators.sq import sq8_fit, sq8_knn

    q, b = _emb_split(spark, sf_dir)
    kw = dict(q_id="vec_id", q_vec="embedding",
              b_id="vec_id", b_vec="embedding")
    # the exact baseline joins against every method — checkpoint it or
    # the full exact scan re-runs once per method
    exact = exact_knn(q, b, k=10, metric="l2", **kw).select(
        "qid", "neighbor_id"
    ).localCheckpoint(eager=True)
    # SQ8 and BQ share the per-dim min/max fit (BQ's thresholds are the
    # midrange of the same stats) — compute the corpus stats pass once
    mins, maxs = sq8_fit(
        b.filter(F.col("embedding").isNotNull()), "embedding"
    )
    # each method's build has eager driver phases (codebook fits,
    # checkpointed code tables) that used to run back-to-back; a small
    # driver thread pool overlaps those independent job chains (guide
    # §2.6 — later jobs back-fill the tail of earlier ones). The fits
    # are deterministic regardless of scheduling, so the rows are
    # unchanged.
    from concurrent.futures import ThreadPoolExecutor

    builders = {
        "sq8": lambda: sq8_knn(q, b, k=10, params=(mins, maxs), **kw),
        "pq": lambda: pq_knn(q, b, k=10, m=8, ks=16, max_iter=3, **kw),
        "ivfpq": lambda: ivfpq_knn(q, b, k=10, nlist=16, nprobe=4, m=8,
                                   ks=16, max_iter=3, **kw),
        "bq": lambda: bq_knn(q, b, k=10, shortlist=60,
                             thresholds=(mins + maxs) / 2.0, **kw),
    }
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futs = [(name, pool.submit(fn)) for name, fn in builders.items()]
        methods = {name: f.result() for name, f in futs}
    n_q = q.count()
    # ONE hit-count job for all four rungs (4 sequential join+count
    # actions before): the union's independent method subtrees schedule
    # concurrently inside the single job, and the per-method counts are
    # the same integers the per-method counts produced
    tagged = None
    for name, res in methods.items():
        t = res.select(
            F.lit(name).alias("method"), "qid", "neighbor_id"
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    hm = {
        r["method"]: r["n"]
        for r in tagged.join(exact, ["qid", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    outs = [(name, int(hm.get(name, 0))) for name in methods]
    # round JVM-side (HALF_UP, matching DuckDB's round) — Python's
    # built-in round is half-to-even and would be the one off-convention
    # rounding engine in the repo
    return spark.createDataFrame(
        outs, schema="method string, n_hits long"
    ).withColumn("recall", F.round(F.col("n_hits") / (n_q * 10.0), 6))


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, compare
    only within-cell pairs at the cosine threshold, group transitively,
    keep the min id — the embedding-space dedup pass real LLM pipelines
    run after text dedup. Oracle replays centroids (literal fit),
    assignment, within-cell pairs, and the recursive-CTE closure."""
    from vectordbindexing_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, n_clusters=8, threshold=0.4, max_iter=3,
        id_col="vec_id", vec_col="embedding",
    ).select(
        "vec_id", "group_id", "group_size",
        F.col("is_keeper").cast("long").alias("is_keeper"),
    )


def _dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup grouping: simhash near-dup pairs →
    large-star/small-star connected components → per-doc group assignment
    with keeper flag (the filtering pass of a corpus dedup pipeline)."""
    from vectordbindexing_spark.operators.components import dedup_groups
    from vectordbindexing_spark.operators.dedup import simhash_text_neardup

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_text_neardup(
        docs, text_col="text", id_col="doc_id",
        num_bits=32, max_hamming=3, bands=4,
    )
    out = dedup_groups(docs, pairs, id_col="doc_id")
    return out.select(
        "doc_id", "group_id", "group_size",
        F.col("is_keeper").cast("long").alias("is_keeper"),
    )


def _simhash_text_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.dedup import simhash_text_neardup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_text_neardup(
        docs, text_col="text", id_col="doc_id",
        num_bits=32, max_hamming=3, bands=4,
    )


def _modality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.graph import assign_levels

    emb = load_table(spark, sf_dir, "embeddings")
    lv = assign_levels(emb, id_col="vec_id", M=16)
    return lv.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("level"), 4).alias("avg_level"),
        F.max("level").cast("long").alias("max_level"),
        F.min("level").cast("long").alias("min_level"),
    )


def _train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference split predicate qid % 6 == 0 → test (hnsw_insert.ipynb)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn(
            "split",
            F.when(F.col("vec_id") % 6 == 0, "test").otherwise("train"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
    )


def _recall_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.lsh import lsh_knn

    q, b = _emb_split(spark, sf_dir)
    lsh = lsh_knn(
        q, b, k=10, metric="cosine", num_bits="auto", num_tables=8,
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    ex = exact_knn(
        q, b, k=10, metric="cosine", impl="blocked",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    lp = lsh.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    ep = ex.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    return (
        ep.join(lp, "qid", "left")
        .select(
            (
                F.coalesce(
                    F.size(F.array_intersect("p", "g")), F.lit(0)
                ).cast("double")
                / 10.0
            ).alias("rec")
        )
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("rec"), 4).alias("recall_at_k"),
        )
    )


def _events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", 0.1), 6).alias("p10"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
    )


# ---------------------------------------------------------------- relational

def _tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast-revenue-change: pure filter + global aggregate — the
    canonical predicate-pushdown query (every predicate reaches the
    parquet scan; no shuffle beyond the single partial-agg exchange).
    Sum drift across engines is ~1e-8 at this magnitude; round(·,2)
    absorbs it (same convention as Q1/Q3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = "1998-03-15"
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit(cutoff))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit(cutoff))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def _tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style returned-item revenue: which customers returned the
    most revenue in one quarter (customer⨝orders⨝lineitem[R]⨝nation —
    fact-table filter pushdown + dimension broadcasts)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-04-01"))
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_returnflag") == "R")
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


def _tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style large-volume customers: orders whose total quantity
    exceeds a threshold (aggregate → semi-join back into the fact
    table — the classic having-subquery shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def _tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style local-supplier revenue: 6-way join through the star schema
    (region→nation→customer/supplier→orders→lineitem) — exercises join
    reordering + dimension broadcasts."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        region.join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style order-priority check (STAGED for the r08 window):
    orders with at least one lineitem shipped > 60 days after the
    order date, counted by priority — the canonical EXISTS semi-join
    (Catalyst plans a LeftSemi with the correlated predicate pushed
    into the join condition; integer-only output)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    sem = orders.join(
        late,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


def _tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style customer order-count distribution (STAGED r08): LEFT
    OUTER join with an ON-clause filter (customers with zero qualifying
    orders must survive with c_count = 0), then the count-of-counts
    histogram. Exercises outer-join + double aggregation; all-integer."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


def _tpch_q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style dormant high-balance customers (STAGED r08): scalar
    subquery threshold (mean positive balance, one explicit sum/count
    division rounded BEFORE the comparison per the repo's cross-engine
    threshold rule) + NOT EXISTS anti-join against the urgent-order
    subset (every customer has SOME order in this data; "never placed
    an urgent one" keeps the anti-join non-degenerate), grouped by
    nation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    thr = F.broadcast(
        cust.where(F.col("c_acctbal") > F.lit(0.0)).agg(
            F.round(
                F.sum("c_acctbal") / F.count(F.lit(1)).cast("double"), 6
            ).alias("t")
        )
    )
    rich = cust.crossJoin(thr).where(F.col("c_acctbal") > F.col("t"))
    idle = rich.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return idle.groupBy(
        F.col("c_nationkey").cast("long").alias("c_nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


def _events_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (STAGED r08): per-user
    ts-ordered lag pairs → (prev_type, next_type) counts + row-
    normalized probability — the Markov-chain data prep of behavioral
    modeling / next-event prediction. One window (user, ts, event_id
    tiebreak) + one groupBy; probability is the single explicit
    count/total division rounded at output."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    cnt = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.withColumn(
        "row_total",
        F.sum("n").over(Window.partitionBy("prev_type")).cast("long"),
    )
    return tot.select(
        "prev_type",
        "next_type",
        "n",
        "row_total",
        F.round(
            F.col("n").cast("double") / F.col("row_total").cast("double"), 6
        ).alias("p"),
    )


def _tpch_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue ROLLUP over the region→nation hierarchy (STAGED r08):
    one pass produces per-nation, per-region subtotal, and grand-total
    rows — the OLAP cube operator class (Spark ``rollup()`` ≡ DuckDB
    ``GROUP BY ROLLUP``; Catalyst expands to a single Expand+Aggregate,
    no per-level rescan). Group keys coalesce to 'ALL' on subtotal
    rows and an integer level column disambiguates, so the cross-engine
    hash never depends on NULL-group conventions."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        region.join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.grouping_id().cast("long").alias("lvl"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            "revenue",
            "n_lineitems",
            "lvl",
        )
    )


def _events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle, cohorted on each user's first
    PURCHASE (STAGED r08; any-event cohorts are degenerate on this data
    — every user is active from day 1) — see
    operators.events.cohort_retention."""
    from vectordbindexing_spark.operators.events import cohort_retention

    return cohort_retention(
        load_table(spark, sf_dir, "events"), cohort_event="purchase"
    )


def _top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function query: rank each customer's orders by price, keep
    top 3 (the engine's rank-window workhorse on a relational table)."""
    from vectordbindexing_spark.operators.topk import topk_per_group

    orders = load_table(spark, sf_dir, "orders")
    ranked = topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"], "o_totalprice", 3,
        tie_col="o_orderkey", rank_name="price_rank", ascending=False,
    )
    return ranked.select(
        "o_custkey", "price_rank", "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def _events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the JSON props payload and
    aggregate the extracted field per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram + running CDF of event values (reference
    effort-distribution plots, SURVEY §2.5 histogram/CDF row)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    width = 5.0
    binned = ev.groupBy(
        F.floor(F.col("value") / width).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    total = ev.count()
    return binned.select(
        "bin",
        (F.col("bin") * width).alias("bin_low"),
        "n",
        F.round(F.sum("n").over(w) / F.lit(float(total)), 6).alias("cdf"),
    )


def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.events import hourly_stats

    return hourly_stats(load_table(spark, sf_dir, "events"))


def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordbindexing_spark.operators.events import sessionize

    return sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase joins to the
    click events of the same user in the preceding 6 hours (the
    stream-stream interval-join shape — streaming/attribution.py runs
    the SAME expressions with watermarked state; the batch run here is
    its row-identical twin), then keeps the latest preceding click."""
    from vectordbindexing_spark.streaming.attribution import (
        attribution_pairs,
        last_touch,
    )

    ev = load_table(spark, sf_dir, "events")
    pairs = attribution_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        max_delay="6 hours",
    )
    return last_touch(pairs).select(
        "user_id", "exposure_id", "conversion_id", "delay_seconds"
    )


_GRAPH_EDGES_CACHE: dict[tuple, DataFrame] = {}


def _graph_knn_edges(spark: SparkSession, sf_dir: str,
                     k: int = 8, max_degree: int = 12,
                     id_limit: int = 1200) -> DataFrame:
    """Shared input graph of the six graph-analytics queries: capped
    mutual-kNN edges over the vec_id < id_limit embeddings slice (same
    construction as knn_graph_degree_stats; SQL twin
    `oracles.knn_mutual_edges_cte`). MEMOIZED per (session, sf_dir,
    params) as an eager localCheckpoint — the six consumers
    (pagerank/ppr/triangles/kcore/labelprop/walks) would otherwise each
    rebuild the same graph (~10-15 s of repeated kNN per bench run);
    the checkpoint is tiny (≤ id_limit·max_degree edge rows)."""
    key = (spark.sparkContext.applicationId, sf_dir, k, max_degree,
           id_limit)
    cached = _GRAPH_EDGES_CACHE.get(key)
    if cached is not None:
        return cached
    from vectordbindexing_spark.operators.graph import knn_graph, mutualize

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < id_limit
    )
    g = knn_graph(emb, k=k, metric="cosine", id_col="vec_id",
                  vec_col="embedding")
    out = (
        mutualize(g, max_degree=max_degree)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    _GRAPH_EDGES_CACHE[key] = out
    return out


def _graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + clustering coefficient of the mutual
    kNN graph (STAGED r08) — see operators.triangles.triangle_counts."""
    from vectordbindexing_spark.operators.triangles import triangle_counts

    return triangle_counts(_graph_knn_edges(spark, sf_dir))


def _graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the mutual kNN graph (STAGED r08) — see
    operators.triangles.kcore."""
    from vectordbindexing_spark.operators.triangles import kcore

    return kcore(_graph_knn_edges(spark, sf_dir), k=4)


def _graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped label propagation (3 rounds) of the embeddings label
    column from the vec_id % 5 == 0 seed subset over the mutual kNN
    graph (STAGED r08) — see operators.labelprop.label_propagation."""
    from vectordbindexing_spark.operators.labelprop import label_propagation

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("id"), "label"
    )
    return label_propagation(_graph_knn_edges(spark, sf_dir), seeds, iters=3)


def _maxsim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim top-10 (STAGED r08): doc tokens = the
    embeddings table grouped vec_id % 250; 4 queries × 4 tokens from
    the vec_id < 16 slice — see operators.retrieval.maxsim_topk."""
    from vectordbindexing_spark.operators.retrieval import maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dt = emb.select(
        (F.col("vec_id") % 250).alias("doc_id"),
        F.col("embedding").alias("vec"),
    )
    qt = emb.where(F.col("vec_id") < 16).select(
        (F.col("vec_id") % 4).alias("query_id"),
        F.expr("vec_id div 4").alias("qpos"),
        F.col("embedding").alias("vec"),
    )
    return maxsim_topk(dt, qt, k=10)


BM25_QUERIES = [(1, "the model data"), (2, "training set results"),
                (3, "zzz-unmatched-term data")]


def _bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-10 over documents for three fixed queries
    (STAGED r08) — see operators.retrieval.bm25_topk."""
    from vectordbindexing_spark.operators.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"),
                     BM25_QUERIES, k=10)


def _hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion (STAGED r08): BM25 top-10 ⊕ a deterministic
    popularity prior (n_chars DESC), RRF-fused — see
    operators.retrieval.rrf_fuse."""
    from pyspark.sql import Window

    from vectordbindexing_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    kw = bm25_topk(docs, BM25_QUERIES, k=10).select(
        "query_id", F.lit("kw").alias("src"), "rank", "doc_id"
    )
    # TakeOrdered (distributed partial top-n) first, window only over
    # the 10 surviving rows — never a global single-partition window
    top10 = docs.select("doc_id", "n_chars").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    ).limit(10)
    pop0 = top10.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), F.col("doc_id")))
        .cast("long")
        .alias("rank"),
    )
    pop = (
        kw.select("query_id").distinct()
        .crossJoin(F.broadcast(pop0))
        .select("query_id", F.lit("pop").alias("src"), "rank", "doc_id")
    )
    return rrf_fuse(kw.unionByName(pop), k_rrf=60, topk=10)


def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed capped mutual-kNN edges (STAGED r08)
    — see operators.pagerank.pagerank."""
    from vectordbindexing_spark.operators.pagerank import pagerank

    return pagerank(_graph_knn_edges(spark, sf_dir), iters=3)


def _mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted A-ES sample of documents by n_chars
    (STAGED r08) — see operators.sampling.weighted_sample."""
    from vectordbindexing_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, 25, "n_chars", temperature=2.0).select(
        "doc_id", "weight", "sample_key", "sample_rank"
    )


def _graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the label-0 seed vectors over the
    mutual kNN graph (STAGED r08) — see
    operators.pagerank.personalized_pagerank."""
    from vectordbindexing_spark.operators.pagerank import personalized_pagerank

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("label") == 0).select(
        F.col("vec_id").alias("id")
    )
    return personalized_pagerank(
        _graph_knn_edges(spark, sf_dir), seeds, iters=3
    )


def _graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 6-step random-walk corpus over the mutual kNN
    graph (STAGED r08) — see operators.walks.random_walks."""
    from vectordbindexing_spark.operators.walks import random_walks

    return random_walks(_graph_knn_edges(spark, sf_dir), walk_len=6)


def _text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (STAGED r08) — see
    operators.retrieval.tfidf_top_terms."""
    from vectordbindexing_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


def _cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point silhouette of the label clustering on the vec_id < 300
    embeddings sample (STAGED r08; silhouette is O(n²) by definition —
    the sample-then-score contract) — see
    operators.silhouette.silhouette."""
    from vectordbindexing_spark.operators.silhouette import silhouette

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300
    )
    return silhouette(
        emb, id_col="vec_id", vec_col="embedding", cluster_col="label"
    )


def _kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round Lloyd's k-means (k=8, 3 rounds, squared L2) over the
    vec_id < 400 embeddings sample (NEW r09) — deterministic md5-seed
    init, id-ordered centroid-mean folds for the oracle hash gate —
    see operators.kmeans.kmeans."""
    from vectordbindexing_spark.operators.kmeans import kmeans

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 400
    )
    return kmeans(emb, k=8, iters=3, id_col="vec_id", vec_col="embedding")


def _cluster_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid (simplified) silhouette of the label clustering on the
    vec_id < 300 embeddings sample (NEW r09) — the O(n·k) corpus-scale
    variant of cluster_silhouette; id-ordered centroid-mean folds for
    the oracle hash gate — see
    operators.silhouette.simplified_silhouette."""
    from vectordbindexing_spark.operators.silhouette import (
        simplified_silhouette,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300
    )
    return simplified_silhouette(
        emb, id_col="vec_id", vec_col="embedding", cluster_col="label"
    )


def _mine_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining over the labeled embeddings table (STAGED r08):
    nearest same-label positive + top-5 different-label negatives +
    margins — see operators.mining.mine_triplets."""
    from vectordbindexing_spark.operators.mining import mine_triplets

    emb = load_table(spark, sf_dir, "embeddings")
    return mine_triplets(
        emb, k_neg=5, metric="cosine",
        id_col="vec_id", vec_col="embedding", label_col="label",
    )


def _mmr_rerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (λ=0.7, k=5) of the exact-kNN top-20
    shortlist (STAGED r08): rel = 1 − rounded cosine distance — see
    operators.mmr.mmr_rerank."""
    from vectordbindexing_spark.operators.exact_knn import exact_knn
    from vectordbindexing_spark.operators.mmr import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 10 == 0)
    b = emb.where(F.col("vec_id") % 10 != 0)
    knn = exact_knn(
        q, b, k=20, metric="cosine",
        q_id="vec_id", q_vec="embedding", b_id="vec_id", b_vec="embedding",
    )
    cand = knn.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    ).select(
        F.col("qid").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        (F.lit(1.0) - F.round(F.col("dist"), 6)).alias("rel"),
        F.col("embedding").alias("vec"),
    )
    return mmr_rerank(cand, k=5, lam=0.7)


def staged_queries() -> "dict[str, Query]":
    """NOT part of the driver contract: queries staged for the NEXT
    round's registration, kept in one manifest so registration (move
    into queries()/oracle_sql()), the oracle type gate
    (tests/test_oracle_types.py) and the replay tests share a single
    source of truth. The 20 r08-staged entries (bm25 … tpch_rollup)
    were registered into queries() at the top of the r08 window;
    empty until the next staging batch."""
    return {}


def staged_oracle_sql() -> dict[str, str]:
    """Oracle twins of staged_queries() (same-key contract as
    oracle_sql())."""
    return {}


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact cosine top-10 ANN join on sf0.001 embeddings."""
    return _knn_query("cosine")(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Query]:
    # Registry ORDER is a contract with the driver: its per-round
    # CORRECTNESS file covers roughly the FIRST 50 entries (r10 covered
    # 49 — budget for 49, not 50), so each round leads with the queries
    # that most need a fresh driver-side oracle row. At 120 entries the
    # window cycles every ⌈120/50⌉ = 3 rounds; the freshness invariant
    # (enforced by scripts/check_registry.py) is "every registered
    # query has a green row in the union of the last 3 CORRECTNESS
    # files, and the current window leads with the entries whose last
    # row is oldest". Every session's local full replay
    # (tests/test_entry_contract.py) still exercises ALL queries at
    # sf0.001.
    #
    # GROWTH POLICY (registry headroom): at 120 queries the 50-slot
    # window covers the registry in exactly the 3-round lookback with
    # ~30 slots/cycle of slack. A new registration consumes one slack
    # slot for 3 rounds. Before registering, run check_registry and
    # confirm ⌈(N+new)/50⌉ does not exceed the lookback; if it would,
    # first retire/merge a redundant row (the r12 retirements —
    # simhash_text_fingerprints ⊂ simhash_buckets coverage,
    # cluster_silhouette superseded by its _simplified scale route —
    # are the model: the library operator and its pytest pins stay, only
    # the redundant driver row goes). Never register more than ~10 new
    # queries in one round without retiring an equal number.
    #
    # Round-14 rotation (registry unchanged at 120):
    # (a) positions 1-20 — the 20 entries whose last driver row is r11
    #     (r13's deferred block). Their rows turn 3 rounds old this
    #     round — they MUST refresh now.
    # (b) positions 21-70 — the 50 entries whose last driver row is r12
    #     (oldest-first by registry order); 21-50 refresh this round,
    #     51-70 lead the r15 window.
    # (c) positions 71-120 — the 50 entries with fresh r13 rows.
    return {
        # (a) last driver row r11 — window-leading, refreshed this round
        "tpch_q18_large_volume": _tpch_q18,
        "events_attribution": _events_attribution,
        "text_bpe_token_stats": _bpe_token_stats,
        "benchmark_contamination": _benchmark_contamination,
        "tpch_q1_pricing_summary": _tpch_q1,
        "tpch_q3_shipping_priority": _tpch_q3,
        "tpch_q5_local_supplier": _tpch_q5,
        "tpch_q6_forecast_revenue": _tpch_q6,
        "top_orders_per_customer": _top_orders_per_customer,
        "events_props_json": _events_props_json,
        "events_hourly_stats": _events_hourly,
        "events_sessionize": _events_sessionize,
        "text_pack_windows": _pack_token_windows,
        "mix_token_budget_sample": _mix_token_budget_sample,
        "ann_two_layer_recall": _ann_two_layer_recall,
        "frontier_knn": _frontier_knn,
        "corpus_filter_gate": _corpus_filter_gate,
        "ann_sharded_recall": _ann_sharded_recall,
        "roargraph_recall": _roargraph_recall,
        "khop_reachability": _khop_reachability,
        # (b) last driver row r12 — positions 21-50 refreshed this round
        "augment_star_edges": _augment_star_edges,
        "traced_steps_summary": _traced_steps_summary,
        "hnsw_level_assignment": _hnsw_levels,
        "knn_graph_degree_stats": _knn_graph_degree_stats,
        "whitening_pca_norms": _whitening_pca,
        "dedup_exact": _dedup_exact,
        "minhash_neardup": _minhash_neardup,
        "jaccard_neardup_pairs": _jaccard_pairs,
        "embedding_neardup": _embedding_neardup,
        "embedding_neardup_lsh": _embedding_neardup_lsh,
        "weighted_l2_knn": _weighted_l2_knn,
        "gt_clean_arrays": _gt_clean,
        "modality_stats": _modality_stats,
        "train_test_split": _train_test_split,
        "recall_lsh_vs_exact": _recall_lsh_vs_exact,
        "events_value_percentiles": _events_value_percentiles,
        "text_token_stats": _text_token_stats,
        "text_quality_score": _text_quality,
        "text_lang_id": _text_lang_id,
        "ann_bucketed_recall": _ann_bucketed_recall,
        "text_duplicated_spans": _text_duplicated_spans,
        "streaming_graph_upsert": _streaming_graph_upsert,
        "streaming_neardup_upsert": _streaming_neardup_upsert,
        "bpe_train_merges": _bpe_train_merges,
        "bpe_encode_stats": _bpe_encode_stats,
        "zorder_layout_stats": _zorder_layout_stats,
        "nb_quality_scores": _nb_quality_scores,
        "hll_registers_events": _hll_registers_events,
        "kmv_sketch_events": _kmv_sketch_events,
        "cms_token_counts": _cms_token_counts,
        "events_quantile_sketch": _events_quantile_sketch,
        "events_asof_join": _events_asof_join,
        "events_range_join": _events_range_join,
        "text_editdist_neardup": _text_editdist_neardup,
        "events_multires_rollup": _events_multires_rollup,
        "bloom_join_prune": _bloom_join_prune,
        "events_funnel_steps": _events_funnel_steps,
        "orders_snapshot_diff": _orders_snapshot_diff,
        "events_pivot_user_types": _events_pivot_user_types,
        "events_moving_avg": _events_moving_avg,
        "source_overlap_kmv": _source_overlap_kmv,
        "hll_estimate_users": _hll_estimate_users,
        "cms_heavy_hitters": _cms_heavy_hitters,
        "bm25_keyword_topk": _bm25_keyword_topk,
        "hybrid_rrf_search": _hybrid_rrf_search,
        "graph_pagerank": _graph_pagerank,
        "mix_weighted_sample": _mix_weighted_sample,
        "graph_triangle_stats": _graph_triangle_stats,
        "graph_kcore": _graph_kcore,
        "graph_label_prop": _graph_label_prop,
        # (c) fresh r13 driver rows — tail
        "graph_ppr": _graph_ppr,
        "graph_random_walks": _graph_random_walks,
        "maxsim_knn": _maxsim_knn,
        "mmr_rerank_knn": _mmr_rerank_knn,
        "mine_triplets": _mine_triplets,
        "text_tfidf_terms": _text_tfidf_terms,
        "events_cohort_retention": _events_cohort_retention,
        "events_transition_counts": _events_transition_counts,
        "tpch_q4_late_orders": _tpch_q4_late_orders,
        "tpch_q13_order_distribution": _tpch_q13_order_distribution,
        "tpch_q22_idle_balances": _tpch_q22_idle_balances,
        "tpch_rollup_revenue": _tpch_rollup_revenue,
        "simhash_text_neardup": _simhash_text_neardup,
        "dedup_groups": _dedup_groups,
        "simhash_buckets": _simhash_buckets,
        "events_value_histogram": _events_value_histogram,
        "planner_filtered_route": _planner_filtered_route,
        "media_jpeg_decode_stats": _media_jpeg_decode_stats,
        "media_wav_features": _media_wav_features,
        "media_video_stats": _media_video_stats,
        "semantic_dedup": _semantic_dedup,
        "ann_ladder_recall": _ann_ladder_recall,
        "text_lang_id_lexicon": _text_lang_id_lexicon,
        "sq8_knn": _sq8_knn,
        "bq_hamming_knn": _bq_knn,
        "pq_adc_knn": _pq_adc_knn,
        "opq_knn": _opq_knn,
        "ivfpq_knn": _ivfpq_knn,
        "ivfpq_index_knn": _ivfpq_index_knn,
        "ivfpq_rerank_knn": _ivfpq_rerank_knn,
        "planner_knn_route": _planner_knn_route,
        "planner_sq8_route": _planner_sq8_route,
        "planner_graph_route": _planner_graph_route,
        "knn_exact_cosine": _knn_query("cosine"),
        "knn_exact_l2": _knn_query("l2"),
        "knn_exact_ip": _knn_query("ip"),
        "lsh_knn_cosine": _lsh_knn,
        "ivf_knn_cosine": _ivf_knn,
        "text_pii_redact": _text_pii_redact,
        "text_repetition_stats": _text_repetition_stats,
        "text_chunk_documents": _text_chunk_documents,
        "text_lm_logprob": _char_trigram_logprob,
        "kmeans_clusters": _kmeans_clusters,
        "cluster_silhouette_simplified": _cluster_silhouette_simplified,
        "embedding_pool_by_doc": _embedding_pool_by_doc,
        "text_url_domains": _text_url_domains,
        "text_line_dedup": _text_line_dedup,
        "mix_quota_sample": _mix_quota_sample,
        "doc_fingerprint": _doc_fingerprint,
        "tpch_q10_returned_items": _tpch_q10,
    }


def oracle_sql() -> dict[str, str]:
    from vectordbindexing_spark.operators.textops import (
        BPE_ISH_PATTERN,
        LANG_MARKERS,
        LANG_MARKERS_FULL,
        STOPWORDS,
    )

    mmr_cand = (
        "SELECT t.qid AS query_id, t.neighbor_id AS doc_id, "
        "1.0::DOUBLE - t.dist AS rel, e.embedding::DOUBLE[] AS v "
        f"FROM ({oracles.knn_exact_sql('cosine', k=20)}) t "
        "JOIN embeddings e ON e.vec_id = t.neighbor_id"
    )
    edges = oracles.knn_mutual_edges_cte()
    return {
        # r08 registrations (previously staged_oracle_sql)
        "bm25_keyword_topk": oracles.bm25_topk_sql(BM25_QUERIES, k=10),
        "hybrid_rrf_search": oracles.bm25_pop_rrf_sql(
            BM25_QUERIES, fetch_k=10, topk=10
        ),
        "graph_pagerank": oracles.pagerank_sql(edges, iters=3),
        "mix_weighted_sample": oracles.weighted_sample_sql(
            25, "n_chars", temperature=2.0
        ),
        "graph_triangle_stats": oracles.triangle_counts_sql(edges),
        "graph_kcore": oracles.kcore_sql(edges, k=4),
        "graph_label_prop": oracles.label_propagation_sql(
            edges,
            "SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 5 = 0",
            iters=3,
        ),
        "graph_ppr": oracles.personalized_pagerank_sql(
            edges,
            "SELECT vec_id AS id FROM embeddings WHERE label = 0",
            iters=3,
        ),
        "graph_random_walks": oracles.random_walks_sql(edges, walk_len=6),
        "maxsim_knn": oracles.maxsim_topk_sql(),
        "mmr_rerank_knn": oracles.mmr_rerank_sql(mmr_cand, k=5, lam=0.7),
        "mine_triplets": oracles.mine_triplets_sql(k_neg=5),
        "cluster_silhouette_simplified": oracles.simplified_silhouette_sql(
            "SELECT vec_id AS id, embedding::DOUBLE[] AS v, "
            "label AS cluster FROM embeddings WHERE vec_id < 300"
        ),
        "kmeans_clusters": oracles.kmeans_sql(
            "SELECT vec_id AS id, embedding::DOUBLE[] AS v "
            "FROM embeddings WHERE vec_id < 400",
            k=8, iters=3,
        ),
        "text_tfidf_terms": oracles.tfidf_top_terms_sql(k=5),
        "events_cohort_retention": oracles.COHORT_RETENTION_SQL,
        "events_transition_counts": oracles.EVENTS_TRANSITION_SQL,
        "tpch_q4_late_orders": oracles.TPCH_Q4_SQL,
        "tpch_q13_order_distribution": oracles.TPCH_Q13_SQL,
        "tpch_q22_idle_balances": oracles.TPCH_Q22_SQL,
        "tpch_rollup_revenue": oracles.TPCH_ROLLUP_SQL,
        # pre-r08 registrations
        "knn_exact_cosine": oracles.knn_exact_sql("cosine"),
        "knn_exact_l2": oracles.knn_exact_sql("l2"),
        "knn_exact_ip": oracles.knn_exact_sql("ip"),
        "lsh_knn_cosine": oracles.lsh_knn_sql(
            num_bits=oracles.lsh_entry_num_bits(), num_tables=8, k=10,
            bucket_cap=20_000,
        ),
        "ivf_knn_cosine": oracles.ivf_knn_sql(nlist=16, nprobe=4, k=10, iters=3),
        "pq_adc_knn": oracles.pq_knn_sql(m=8, ks=16, k=10, iters=3),
        "opq_knn": oracles.opq_knn_sql(m=8, ks=16, k=10, opq_iters=3,
                                       pq_iters=3),
        "sq8_knn": oracles.sq8_knn_sql(k=10),
        "bq_hamming_knn": oracles.bq_knn_sql(k=10, shortlist=60),
        "ivfpq_knn": oracles.ivfpq_knn_sql(
            nlist=16, nprobe=4, m=8, ks=16, k=10, iters=3
        ),
        "ivfpq_index_knn": oracles.ivfpq_knn_sql(
            nlist=16, nprobe=4, m=8, ks=16, k=10, iters=3
        ),
        "ivfpq_rerank_knn": oracles.ivfpq_rerank_knn_sql(
            nlist=16, nprobe=4, m=8, ks=16, k=10, iters=3, rerank=50
        ),
        "planner_sq8_route": oracles.planner_sq8_knn_sql(k=10),
        "planner_knn_route": oracles.planner_ivfpq_knn_sql(
            k=10, m=8, ks=16, iters=3
        ),
        "planner_graph_route": oracles.ann_two_layer_recall_sql(),
        # media: pinned-literal expected rows (pure functions of the id,
        # precomputed by the same codec code the executors run)
        "media_jpeg_decode_stats": oracles.media_jpeg_sql(),
        "media_wav_features": oracles.media_wav_sql(),
        "media_video_stats": oracles.media_video_sql(),
        "planner_filtered_route": oracles.knn_exact_sql(
            "cosine", k=10,
            base_where="vec_id % 10 <> 0 AND vec_id % 100 = 3",
        ),
        "ann_two_layer_recall": oracles.ann_two_layer_recall_sql(),
        "streaming_graph_upsert": oracles.graph_upsert_pipeline_sql(),
        "ann_bucketed_recall": oracles.ann_bucketed_recall_sql(),
        "text_duplicated_spans": oracles.duplicated_spans_sql(window=15),
        "bpe_train_merges": oracles.bpe_train_merges_sql(
            top_v=10_000, min_count=2, num_merges=150
        ),
        "bpe_encode_stats": oracles.bpe_encode_stats_sql(
            top_v=10_000, min_count=2, num_merges=150, id_mod=10
        ),
        "zorder_layout_stats": oracles.zorder_layout_stats_sql(
            bits=16, bucket_bits=6
        ),
        "nb_quality_scores": oracles.nb_quality_scores_sql(
            min_tokens=50, k=0.5
        ),
        "hll_registers_events": oracles.hll_registers_sql(
            col="event_id", table="events", p=10
        ),
        "kmv_sketch_events": oracles.kmv_sketch_sql(
            col="user_id", group_col="event_type", table="events", k=64
        ),
        "cms_token_counts": oracles.cms_counters_sql(depth=4, width=1024),
        "events_asof_join": oracles.asof_join_sql(),
        "events_range_join": oracles.RANGE_JOIN_SQL,
        "text_editdist_neardup": oracles.editdist_neardup_sql(
            d=2, key_len=80
        ),
        "events_multires_rollup": oracles.MULTIRES_ROLLUP_SQL,
        "bloom_join_prune": oracles.bloom_join_prune_sql(
            m_bits=4096, k_hashes=3, acctbal=9000
        ),
        "events_funnel_steps": oracles.FUNNEL_STEPS_SQL,
        "orders_snapshot_diff": oracles.SNAPSHOT_DIFF_SQL,
        "events_pivot_user_types": oracles.PIVOT_USER_TYPES_SQL,
        "events_moving_avg": oracles.MOVING_AVG_SQL,
        "source_overlap_kmv": oracles.kmv_pairwise_overlap_sql(k=64, n=5),
        "hll_estimate_users": oracles.hll_estimate_sql(
            col="user_id", table="events", p=10
        ),
        "cms_heavy_hitters": oracles.cms_heavy_hitters_sql(
            depth=4, width=1024, top=20
        ),
        "events_quantile_sketch": oracles.log_histogram_quantiles_sql(
            qs=(0.5, 0.9, 0.99), scale=1000, col="value", table="events"
        ),
        "ann_sharded_recall": oracles.ann_sharded_recall_sql(),
        "roargraph_recall": oracles.roargraph_recall_sql(),
        "frontier_knn": oracles.frontier_knn_sql(
            k=10, rounds=3, beam=32, M=16, cap=32
        ),
        "khop_reachability": oracles.khop_reachability_sql(
            M=16, cap=32, n_entries=3, max_hops=3
        ),
        "augment_star_edges": oracles.augment_star_sql(k=8, budget=4),
        "traced_steps_summary": oracles.traced_steps_sql(),
        "simhash_buckets": oracles.simhash_buckets_sql(num_bits=16),
        "hnsw_level_assignment": oracles.hnsw_levels_sql(M=16),
        "knn_graph_degree_stats": oracles.knn_graph_degree_stats_sql(
            k=10, max_degree=16
        ),
        "whitening_pca_norms": oracles.whitening_norms_sql(round_to=4),
        "dedup_exact": oracles.DEDUP_EXACT_SQL,
        "minhash_neardup": oracles.minhash_neardup_sql(
            n=3, num_hashes=16, bands=8, threshold=0.5
        ),
        "streaming_neardup_upsert": oracles.neardup_upsert_pipeline_sql(),
        "jaccard_neardup_pairs": (
            oracles.jaccard_pairs_sql(n=3, threshold=0.2).replace(
                "FROM documents", "FROM documents WHERE doc_id % 5 = 0"
            )
        ),
        "embedding_neardup": oracles.embedding_neardup_sql(threshold=0.4),
        "embedding_neardup_lsh": oracles.embedding_neardup_lsh_sql(
            threshold=0.4, num_bits=6, num_tables=8
        ),
        "weighted_l2_knn": oracles.weighted_l2_knn_sql(k=10),
        "gt_clean_arrays": oracles.gt_clean_sql(k=10, cap=250),
        "simhash_text_neardup": oracles.simhash_text_neardup_sql(
            num_bits=32, max_hamming=3, bands=4
        ),
        "dedup_groups": oracles.dedup_groups_sql(
            num_bits=32, max_hamming=3, bands=4
        ),
        "semantic_dedup": oracles.semantic_dedup_sql(
            n_clusters=8, threshold=0.4, iters=3
        ),
        "ann_ladder_recall": oracles.ann_ladder_recall_sql(),
        "modality_stats": oracles.modality_stats_sql(M=16),
        "train_test_split": oracles.TRAIN_TEST_SPLIT_SQL,
        "recall_lsh_vs_exact": oracles.recall_lsh_vs_exact_sql(
            num_bits=oracles.lsh_entry_num_bits(), num_tables=8, k=10,
            bucket_cap=20_000,
        ),
        "events_value_percentiles": oracles.EVENTS_VALUE_PERCENTILES_SQL,
        "text_token_stats": oracles.TEXT_TOKEN_STATS_SQL,
        "text_quality_score": oracles.quality_score_sql(STOPWORDS),
        "text_lang_id": oracles.lang_id_sql(LANG_MARKERS),
        "text_lang_id_lexicon": oracles.lang_id_sql(LANG_MARKERS_FULL),
        "corpus_filter_gate": oracles.corpus_filter_gate_sql(
            LANG_MARKERS, STOPWORDS
        ),
        "text_bpe_token_stats": oracles.bpe_token_stats_sql(BPE_ISH_PATTERN),
        "benchmark_contamination": oracles.benchmark_contamination_sql(
            n=3, min_overlap=5, bench_mod=20
        ),
        "text_pii_redact": oracles.pii_redact_sql(salted=True),
        "text_chunk_documents": oracles.chunk_documents_sql(
            window=32, stride=24
        ),
        "text_pack_windows": oracles.pack_token_windows_sql(
            seq_len=512, n_shards=8
        ),
        "text_lm_logprob": oracles.char_trigram_logprob_sql(k=0.5),
        "embedding_pool_by_doc": oracles.pool_embeddings_sql(group_mod=250),
        "text_url_domains": oracles.domain_stats_sql(),
        "text_line_dedup": oracles.remove_boilerplate_sql(
            min_df=50, line_token=" a "
        ),
        "mix_quota_sample": oracles.quota_sample_sql(quota=10),
        "mix_token_budget_sample": oracles.token_budget_sample_sql(
            budget_tokens=600
        ),
        "text_repetition_stats": oracles.repetition_stats_sql(
            ns=(2, 3), line_token=" a "
        ),
        "doc_fingerprint": oracles.DOC_FINGERPRINT_SQL,
        "tpch_q1_pricing_summary": oracles.TPCH_Q1_SQL,
        "tpch_q3_shipping_priority": oracles.TPCH_Q3_SQL,
        "tpch_q5_local_supplier": oracles.TPCH_Q5_SQL,
        "tpch_q6_forecast_revenue": oracles.TPCH_Q6_SQL,
        "tpch_q10_returned_items": oracles.TPCH_Q10_SQL,
        "tpch_q18_large_volume": oracles.TPCH_Q18_SQL,
        "top_orders_per_customer": oracles.TOP_ORDERS_PER_CUSTOMER_SQL,
        "events_props_json": oracles.EVENTS_PROPS_JSON_SQL,
        "events_value_histogram": oracles.EVENTS_VALUE_HISTOGRAM_SQL,
        "events_hourly_stats": oracles.EVENTS_HOURLY_SQL,
        "events_sessionize": oracles.sessionize_sql(gap_minutes=30),
        "events_attribution": oracles.attribution_sql(max_delay_hours=6),
        # every queries() entry has an oracle: iterative ops are unrolled
        # in SQL (ivf), embedded as runtime-selected literals (whitening
        # Σ⁺), or pinned via an independent numpy replication (the two
        # graph-serving recalls).
    }
