"""Pin the driver-side xxhash64 twin bit-for-bit against Spark: the
streaming maintainers now compute partition-bucket values in Python
(bucket_of_py) to skip whole fixed-latency jobs per micro-batch — a
drifting twin would write delta rows into buckets the probes never
prune to, silently losing rows at resolution time."""

from pyspark.sql import functions as F

from vectordbindexing_spark.functions.hashing import (
    bucket_of_py,
    xxhash64_long_py,
)


def test_xxhash64_long_twin_matches_spark(spark):
    vals = [
        0, 1, -1, 42, 2**63 - 1, -(2**63), 160, 199, 123456789,
        -987654321, 7, 1024, 2**31, -(2**31) - 1,
    ] + list(range(-25, 25)) + [i * 104729 for i in range(50)]
    rows = (
        spark.createDataFrame([(int(v),) for v in vals], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxhash64_long_py(r["v"]) == r["h"], r["v"]


def test_bucket_of_py_matches_maintainer_bucket_expr(spark):
    from vectordbindexing_spark.streaming.deltalog import bucket

    for buckets in (8, 64, 1024):
        rows = (
            spark.range(-50, 500, 7)
            .select(F.col("id"), bucket(buckets, "id").alias("b"))
            .collect()
        )
        for r in rows:
            assert bucket_of_py(r["id"], buckets) == r["b"], (r, buckets)
