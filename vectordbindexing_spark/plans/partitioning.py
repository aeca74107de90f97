"""Physical-layout helpers.

Compute-dense Arrow kernels (distance matmuls, hashing, whitening) are
CPU-bound per row: their parallelism is the number of input partitions, not
the data volume. A small-but-dense table read from one parquet file arrives
as ONE partition and would pin a single core; widen it first. (On a real
cluster the same applies per-executor — the 200 MB embedding shard that is
one HDFS block still wants cores × partitions.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def local_rows_df(spark, rows, schema) -> DataFrame:
    """Driver-local rows as a JVM-backed relation (guide §4: keep the
    Python boundary out of the plan).

    ``spark.createDataFrame(list)`` parks the rows in a pickled Python
    RDD under the plan, so EVERY downstream action touching the frame
    round-trips through Python workers — measured 2–9 s of fixed
    latency per action at local[32] for a 5,000-row relation, paid
    again on each re-execution (the unpickle is part of the lineage).
    Routing the same rows through one Arrow table converts ONCE,
    driver-side, and leaves a JVM-only scan in the plan (with or
    without ``spark.sql.execution.arrow.pyspark.enabled``, which only
    governs pandas input): the same tiny parquet write dropped
    6.4 s → 1.5 s. The maintainers build
    several such frames per micro-batch, which made this the dominant
    fixed cost of every streaming upsert.

    Values land bit-identically either way (Arrow casts to the declared
    types exactly as the pickle path's JVM coercion does); if Arrow
    cannot express the schema or a value the conversion raises before
    any plan exists and the plain path is used unchanged.

    NO rows become an empty Arrow table, i.e. an empty local relation:
    ``createDataFrame([])`` would still park an empty pickled RDD of
    ``defaultParallelism`` partitions, and every action over it starts
    that many Python workers to unpickle nothing. In the streaming
    upsert of an insert-only batch (an empty replaced-id list) each
    such scan took 0.3–1.6 s of wall time, different on every run."""
    rows = list(rows)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType, _parse_datatype_string

        st = (
            schema
            if isinstance(schema, StructType)
            else _parse_datatype_string(schema)
        )
        asch = to_arrow_schema(st)
        table = (
            pa.Table.from_arrays(
                [
                    pa.array(col, type=f.type)
                    for col, f in zip(zip(*rows, strict=True), asch, strict=True)
                ],
                schema=asch,
            )
            if rows
            else asch.empty_table()
        )
        return spark.createDataFrame(table, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema)


def repartition_for_compute(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition iff the DataFrame has fewer partitions than
    the session's default parallelism (no-op otherwise — don't add a
    shuffle the layout doesn't need)."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        # JVM-side physical-RDD probe: same partition count as
        # ``df.rdd`` (the Python conversion is a 1:1 map) without
        # building the Python-serializer RDD wrapper, which costs
        # 0.5-1.2 s of driver time PER FRESH PLAN (measured; the
        # wrapped RDD is cached so only repeat probes were free) —
        # and this helper runs in front of every blocked kernel.
        n_parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # non-classic backends: the public route
        n_parts = df.rdd.getNumPartitions()
    if n_parts >= target:
        return df
    return df.repartition(target)


def hash_ordered_sample(
    df: DataFrame,
    sample_size: int,
    id_col: str = "id",
    vec_col: str = "vec",
):
    """The bounded deterministic fit-sample shared by every codebook /
    centroid trainer (kmeans/IVF/PQ/OPQ): the ``sample_size`` rows with
    the smallest (det_hash64(id), id) — engine-independent, TWO jobs
    (one count to size the hash cutoff + one bounded take; the skew
    fallback re-takes but has never fired), and at n ≤ sample_size the
    sample IS the corpus (what makes the sf-scale oracles exact).
    Returns a pandas DataFrame (i, v).

    Scale guard: a bare ``orderBy(hash).limit(K).toPandas()`` executes
    as TakeOrdered, which ships min(K, partition rows) from EVERY
    partition to the driver — at 2M rows × 472 partitions that was the
    whole corpus and blew spark.driver.maxResultSize (measured, r11).
    Pre-filtering to hashes below ~1.3·K/n of the 32-bit range bounds
    the driver transfer at ~1.3·K rows; the final ordered limit still
    selects the exact K smallest hashes, so the sample — and every
    centroid/codebook/oracle derived from it — is bit-identical to the
    unfiltered take.
    """
    from vectordbindexing_spark.functions.hashing import det_hash64

    src = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("i"),
            F.col(vec_col).alias("v"),
            det_hash64(
                F.col(id_col).cast("long").cast("string")
            ).alias("_h"),
        )
    )
    n = src.count()
    if n > sample_size:
        cut = int(min(1.0, 1.3 * sample_size / n) * (1 << 32))
        cand = src.where(F.col("_h") < cut)
        pdf = cand.orderBy("_h", "i").limit(sample_size).drop("_h").toPandas()
        if len(pdf) < sample_size:
            # pathological hash skew (never observed): exact fallback —
            # shortfall is detected from the take itself, not a count job
            pdf = src.orderBy("_h", "i").limit(sample_size).drop("_h").toPandas()
        return pdf
    return src.orderBy("_h", "i").limit(sample_size).drop("_h").toPandas()
