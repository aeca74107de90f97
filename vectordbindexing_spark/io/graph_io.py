"""Graph-index persistence (SURVEY §1.2 / §2.1).

- Parquet edge tables are canonical (splittable, predicate pushdown).
- layer0 TSV: format parity with the reference's save/load
  (`hnsw_with_bridges_optimized.py:310-377`): per line
  ``id \\t v0,v1,... \\t nb0,nb1,...``.
- RoarGraph binary index parser (`README_RoarGraph.md:116-134`; reference
  parser `hnsw_with_bridges_optimized.py:379-466`): 8-byte header
  (uint32 metadata=entry point, uint32 node count), then per node
  ``uint32 degree`` + degree×uint32 neighbor ids; out-of-range neighbors
  filtered like the reference (:443-449).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from vectordbindexing_spark.plans.partitioning import local_rows_df


def save_layer0_tsv(
    base: DataFrame,
    edges: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "vec",
) -> None:
    """Reference layer0 text dump: id \\t comma-vector \\t comma-neighbors."""
    adj = (
        edges.filter(F.col("layer") == 0)
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    )
    out = (
        base.select(F.col(id_col).cast("long").alias("src"), F.col(vec_col).alias("v"))
        .join(adj, "src", "left")
        .select(
            F.concat_ws(
                "\t",
                F.col("src").cast("string"),
                F.concat_ws(",", F.col("v").cast("array<string>")),
                F.concat_ws(
                    ",", F.coalesce(F.col("nbrs"), F.array()).cast("array<string>")
                ),
            ).alias("value")
        )
    )
    out.write.mode("overwrite").text(path)


def load_layer0_tsv(spark: SparkSession, path: str) -> DataFrame:
    """TSV → (id, vec array<float>, neighbors array<long>)."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return raw.select(
        parts.getItem(0).cast("long").alias("id"),
        F.transform(
            F.split(parts.getItem(1), ","), lambda x: x.cast("float")
        ).alias("vec"),
        F.when(
            F.length(parts.getItem(2)) > 0,
            F.transform(F.split(parts.getItem(2), ","), lambda x: x.cast("long")),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("neighbors"),
    )


def load_roargraph_index(
    spark: SparkSession, path: str, n_nodes_limit: int | None = None
) -> tuple[int, DataFrame]:
    """RoarGraph binary index file → (entry_point, edge DataFrame).

    Driver reads the header; the per-node adjacency is decoded sequentially
    (the format is variable-length — offsets aren't known without a scan)
    then parallelized. Returns edges (layer=0, src, dst).
    """
    with open(path, "rb") as f:
        entry_point, n_nodes = struct.unpack("<II", f.read(8))
        rows = []
        limit = n_nodes if n_nodes_limit is None else min(n_nodes, n_nodes_limit)
        for src in range(limit):
            raw = f.read(4)
            if len(raw) < 4:
                break
            (degree,) = struct.unpack("<I", raw)
            nbrs = struct.unpack(f"<{degree}I", f.read(4 * degree))
            for dst in nbrs:
                if dst < n_nodes:  # reference filters out-of-range ids (:443-449)
                    rows.append((0, src, int(dst)))
    edges = local_rows_df(spark, rows, "layer int, src long, dst long")
    return entry_point, edges


def save_roargraph_index(
    edges: DataFrame, path: str, entry_point: int, n_nodes: int
) -> None:
    """Edge DataFrame → RoarGraph binary format (round-trip of the above)."""
    adj = {
        r["src"]: r["nbrs"]
        for r in edges.filter(F.col("layer") == 0)
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .collect()
    }
    with open(path, "wb") as f:
        f.write(struct.pack("<II", entry_point, n_nodes))
        for src in range(n_nodes):
            nbrs = adj.get(src, [])
            f.write(struct.pack("<I", len(nbrs)))
            if nbrs:
                f.write(struct.pack(f"<{len(nbrs)}I", *[int(d) for d in nbrs]))
