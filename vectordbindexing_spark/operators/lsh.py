"""SimHash LSH candidate generation + bucketed approximate KNN.

Reference semantics: `simple_sim_hash.py` — sign-of-projection bits packed
to an int bucket key, bucket size cap 20 000, query probes its exact bucket
plus all Hamming-radius-1 neighbors (`simple_sim_hash.py:26-33`, used by
`hnsw_cosine.py:137-148`). Extended here to standard multi-table LSH
(L independent plane families) because a single 16-bit table recalls poorly
on high-dimensional data.

Spark formulation: the bucket table is an equi-join key — candidate volume
scales with bucket collisions, not |Q|×|B|. This is the engine's scalable
KNN pruning strategy (SURVEY §4 "candidate-pool pruning"). Hyperplanes are
a deterministic LCG family (functions.hashing) instead of seeded
np.random.randn so the DuckDB oracle reproduces them exactly. Hashing and
distance scoring run as Arrow-batched numpy kernels (the reference's
vectorized-matmul trick, `simple_sim_hash.py:13` / `hnsw_cosine.py:17-30`);
joins/top-k stay declarative.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.hashing import simhash_bits_np
from vectordbindexing_spark.functions.vector import pair_dist
from vectordbindexing_spark.operators.topk import topk_per_group

DEFAULT_BUCKET_CAP = 20_000  # simple_sim_hash.py:10


def scaled_num_bits(
    n_base: int, target_bucket: int = 1024, min_bits: int = 6, max_bits: int = 24
) -> int:
    """Bucket-width sizing: choose bits so expected bucket occupancy
    n/2^bits stays ≈ ``target_bucket`` — candidate volume per probe is then
    bounded as the corpus grows (64 buckets that are fine at 5k rows are an
    all-pairs trap at 5B). Clamped to [min_bits, max_bits]."""
    import math

    if n_base <= target_bucket:
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(n_base / target_bucket))))


def simhash_buckets(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    num_bits: int = 16,
    num_tables: int = 1,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """(id, bucket) table over ``num_tables`` independent SimHash tables.

    Bucket ids are disjoint across tables (table t occupies
    [t·2^bits, (t+1)·2^bits)). Cap keeps the ``bucket_cap`` smallest ids
    per bucket (deterministic), mirroring the reference's insertion cap.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            ids = pdf["i"].to_numpy()
            frames = []
            for t in range(num_tables):
                b = simhash_bits_np(V, num_bits, t) + t * (1 << num_bits)
                frames.append(pd.DataFrame({"id": ids, "bucket": b}))
            yield pd.concat(frames, ignore_index=True)

    from vectordbindexing_spark.plans.partitioning import repartition_for_compute

    out = repartition_for_compute(
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).cast("long").alias("i"), F.col(vec_col).alias("v"))
    ).mapInPandas(hash_batches, schema="id long, bucket long")
    if bucket_cap is not None:
        out = (
            topk_per_group(out, ["bucket"], "id", bucket_cap, rank_name="_rn")
            .drop("_rn")
        )
    return out


def probe_buckets(bucket: Column, num_bits: int) -> Column:
    """Exact bucket + all Hamming-radius-1 flips (1 + num_bits probes);
    flips stay inside the bucket's own table range."""
    flips = [
        bucket.bitwiseXOR(F.lit(1 << j).cast("long")) for j in range(num_bits)
    ]
    return F.array(bucket, *flips)


def _score_candidates(
    cand: DataFrame,
    metric: str,
    keys: str = "qid long, neighbor_id long",
) -> DataFrame:
    """Row-vectorized distance kernel over candidate pairs (Arrow batches):
    each row's ``_qv``/``_bv`` vectors → ``dist``, carrying the ``keys``
    columns (a DDL field list) through unchanged."""
    names = [f.split()[0] for f in keys.split(",")]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_qv"]])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_bv"]])
            out = {c: pdf[c].to_numpy() for c in names}
            out["dist"] = pair_dist(Q, B, metric)
            yield pd.DataFrame(out)

    return cand.mapInPandas(score, schema=f"{keys}, dist double")


def lsh_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    num_bits: int | str = 8,
    num_tables: int = 8,
    q_id: str = "qid",
    q_vec: str = "vec",
    b_id: str = "id",
    b_vec: str = "vec",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Approximate KNN: SimHash bucket equi-join (radius-1 probing over
    ``num_tables`` tables) → exact distance on the candidate union →
    per-query top-k.

    ``num_bits="auto"`` sizes the bucket width from the base row count
    (:func:`scaled_num_bits`) — the count is a column-pruned count-only
    scan, negligible next to the hashing pass that follows. With
    ``bucket_cap`` set, per-query candidates are bounded by
    num_tables · (1+num_bits) · bucket_cap regardless of corpus size.

    Output schema matches exact_knn: (qid, nbr_rank, neighbor_id, dist).
    Queries whose probes hit fewer than k distinct candidates return fewer
    rows — recall/coverage tradeoff is (num_bits, num_tables).
    """
    if num_bits == "auto":
        num_bits = scaled_num_bits(base.count())
    bt = simhash_buckets(base, b_id, b_vec, num_bits, num_tables, bucket_cap)
    qb = simhash_buckets(
        queries, q_id, q_vec, num_bits, num_tables, bucket_cap=None
    ).withColumnRenamed("id", "qid")
    probes = qb.select(
        "qid", F.explode(probe_buckets(F.col("bucket"), num_bits)).alias("bucket")
    )
    cand = (
        probes.join(bt, "bucket")
        .select("qid", F.col("id").alias("neighbor_id"))
        .dropDuplicates(["qid", "neighbor_id"])
    )
    qv = queries.select(
        F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("_qv")
    )
    bv = base.select(
        F.col(b_id).cast("long").alias("neighbor_id"), F.col(b_vec).alias("_bv")
    )
    scored = _score_candidates(
        cand.join(qv, "qid").join(bv, "neighbor_id"), metric
    )
    ranked = topk_per_group(scored, ["qid"], "dist", k, tie_col="neighbor_id")
    return ranked.select("qid", "nbr_rank", "neighbor_id", "dist")
