"""Z-order layout — hand-checked Morton math + real skipping envelope."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordbindexing_spark.io.zorder import (
    interleave_bits,
    layout_span_stats,
    zorder_values,
)


def test_interleave_hand_case(spark):
    # x=0b10, y=0b01, 2 bits: bit i of col c -> position i*2+c
    # x bits: x0=0 -> pos0, x1=1 -> pos2; y bits: y0=1 -> pos1, y1=0
    # => z = 0b0110 = 6
    df = spark.range(1).select(F.lit(2).alias("x"), F.lit(1).alias("y"))
    z = df.select(
        interleave_bits([F.col("x"), F.col("y")], bits=2).alias("z")
    ).collect()[0]["z"]
    assert z == 6


def test_zorder_values_constant_column(spark):
    df = spark.range(4).select(
        F.col("id").alias("a"), F.lit(7).alias("b")
    )
    zdf, ranges = zorder_values(df, ["a", "b"], bits=4)
    assert ranges == {"a": (0, 3), "b": (7, 7)}
    got = {r["a"]: r["zval"] for r in zdf.collect()}
    # b scales to 0 everywhere; a scales 0,5,10,15 over [0,15]
    # z = interleave(a_scaled, 0) = a's bits spread to even positions
    def spread(v):
        return sum(((v >> i) & 1) << (2 * i) for i in range(4))

    assert got == {0: spread(0), 1: spread(5), 2: spread(10), 3: spread(15)}


def test_layout_span_stats_partitions_rows(spark):
    df = spark.range(1000).select(
        F.col("id").alias("x"),
        F.pmod(F.col("id") * 7919, F.lit(1000)).alias("y"),
    )
    out = layout_span_stats(df, ["x", "y"], bits=10, bucket_bits=4)
    rows = out.collect()
    assert sum(r["n_rows"] for r in rows) == 1000
    assert all(0 <= r["bucket"] < 16 for r in rows)
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint"] * 4


def test_scaled_range_overflow_raises(spark):
    """(mx-mn)*(2^bits-1) past BIGINT must refuse, not wrap (Spark
    ANSI-off integer overflow is silent)."""
    import pytest

    df = spark.range(1).select(
        F.lit(0).cast("long").alias("a"),
        F.lit(2**50).cast("long").alias("b"),
    )
    big = df.union(
        spark.range(1).select(
            F.lit(2**50).cast("long"), F.lit(0).cast("long")
        )
    )
    with pytest.raises(ValueError, match="overflows BIGINT"):
        zorder_values(big, ["a", "b"], bits=16)
    # same data fits at lower bits: 2^50 * (2^12-1) < 2^63
    zdf, _ = zorder_values(big, ["a", "b"], bits=12)
    assert zdf.count() == 2


def test_interleave_width_overflow_raises(spark):
    import pytest

    df = spark.range(1).select(
        *[F.lit(1).alias(f"c{i}") for i in range(4)]
    )
    with pytest.raises(ValueError, match="> 63"):
        interleave_bits([F.col(f"c{i}") for i in range(4)], bits=16)
