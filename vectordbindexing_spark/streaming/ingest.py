"""Structured Streaming ingestion — the scalable analog of the reference's
incremental-insert study (`hnsw_insert.ipynb` cells 2/8: insert +1%…+10%
slices into a built index, re-measure search cost).

Design: new vectors arrive on a stream; ``foreachBatch`` appends each
micro-batch to a *delta* parquet region and (optionally) rebuilds that
delta's kNN edges against the existing index — search unions
(main index ∪ deltas), exactly like the reference unions inserted nodes
into its graph. Periodic compaction folds deltas into a full rebuild
(the reference observes search-steps degradation after +10% inserts —
BASELINE.md — which is the signal to compact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def incremental_index_stream(
    vectors_stream: DataFrame,
    delta_dir: str,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "vec",
    knn_k: int = 8,
    metric: str = "cosine",
    base_snapshot: DataFrame | None = None,
) -> StreamingQuery:
    """Consume a vector stream; per micro-batch:

    1. append rows to the delta region (partitioned by batch id),
    2. build the batch's kNN edges against (snapshot ∪ this batch) and
       append them to ``delta_dir``/edges — the DataFrame-native version of
       `add_items_batch` (hnsw_cosine_norm.py:480-580).

    The caller unions `base` + delta vectors / edges for serving.
    """
    os.makedirs(delta_dir, exist_ok=True)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        ).localCheckpoint(eager=True)
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(delta_dir, "vectors"))
        target = (
            base_snapshot.select(
                F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
            ).unionByName(batch_df)
            if base_snapshot is not None
            else batch_df
        )
        from vectordbindexing_spark.operators.exact_knn import exact_knn
        from vectordbindexing_spark.operators.topk import topk_per_group

        knn = exact_knn(
            batch_df, target, k=knn_k + 1, metric=metric, impl="blocked",
            q_id="id", q_vec="vec", b_id="id", b_vec="vec",
        ).filter(F.col("neighbor_id") != F.col("qid"))
        edges = (
            # re-rank after self-exclusion (rank 1 was usually self)
            topk_per_group(
                knn.select("qid", "neighbor_id", "dist"),
                ["qid"], "dist", knn_k, tie_col="neighbor_id", rank_name="_rn",
            )
            .select(
                F.lit(0).alias("layer"),
                F.col("qid").alias("src"),
                F.col("neighbor_id").alias("dst"),
                "dist",
                F.lit(batch_id).alias("batch_id"),
            )
        )
        edges.write.mode("append").parquet(os.path.join(delta_dir, "edges"))

    return (
        vectors_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def compact_deltas(
    base_snapshot: DataFrame,
    delta_dir: str,
    out_dir: str,
    knn_k: int = 8,
    metric: str = "cosine",
    M_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold accumulated deltas into a fresh full build — the reference's
    answer to insert-degradation (search steps grow ~2x after +10%
    incremental inserts, BASELINE.md; periodic rebuild restores them).

    Returns (vectors, edges) DataFrames after writing both to ``out_dir``.
    """
    import os

    from vectordbindexing_spark.operators.graph import knn_graph, mutualize

    spark = base_snapshot.sparkSession
    delta_vecs = spark.read.parquet(os.path.join(delta_dir, "vectors")).select(
        "id", "vec"
    )
    full = base_snapshot.select("id", "vec").unionByName(delta_vecs).dropDuplicates(
        ["id"]
    )
    edges = mutualize(
        knn_graph(full, k=knn_k, metric=metric, id_col="id", vec_col="vec"),
        max_degree=M_cap or 2 * knn_k,
    )
    full.write.mode("overwrite").parquet(os.path.join(out_dir, "vectors"))
    edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    return full, edges
