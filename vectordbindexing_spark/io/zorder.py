"""Z-order (Morton-curve) clustered layout for multi-dimensional data
skipping.

At 100 TB the scan cost of a selective multi-predicate query is decided
by physical LAYOUT, not the plan: parquet row-group pruning only helps
if each file's min/max envelope is narrow on EVERY filtered column.
Sorting by one column gives perfect pruning on it and none on the
others; interleaving the bits of all cluster columns (the Morton curve
— the technique behind Delta/Iceberg OPTIMIZE ZORDER) keeps every
file's envelope narrow on all of them at once.

Everything here is exact integer arithmetic (min/max rescale with
integer division, bit interleave as a shift/or expression tree) so the
DuckDB oracle replays it without a single float: the z-values are
engine-identical by construction.

Design for scale: the only non-narrow op is one min/max aggregate
(map-side combined, 2 longs per column); a clustered rewrite adds one
range shuffle on the z-value, which any clustering rewrite must pay.
The curve math itself is a per-row JVM expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scaled(col_sql: str, mn: int, mx: int, bits: int) -> Column:
    """Exact-integer rescale of a column expression ∈ [mn, mx] onto
    [0, 2^bits): ((col - mn) * (2^bits - 1)) div (mx - mn) — Spark's
    ``div`` is BIGINT division, no float ever appears. Constant columns
    map to 0. The numerator is non-negative, so ``div`` agrees with the
    oracle's ``//``."""
    top = (1 << bits) - 1
    if mx <= mn:
        return F.lit(0).cast("long")
    # (col - mn) ≤ (mx - mn); the numerator (col-mn)·top wraps silently
    # past 2^63-1 under default ANSI-off Spark arithmetic, producing
    # wrong z-values with no error — refuse instead of corrupting the
    # layout (callers can lower `bits` to fit the range)
    if (mx - mn) > (2**63 - 1) // top:
        raise ValueError(
            f"column range {mx - mn} * (2^{bits}-1) overflows BIGINT; "
            f"reduce bits (max safe range at bits={bits} is "
            f"{(2**63 - 1) // top})"
        )
    return F.expr(
        f"(((CAST(({col_sql}) AS BIGINT) - ({mn})) * {top}) div {mx - mn})"
    )


def interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton interleave: bit i of column c lands at position
    i * len(cols) + c. Unrolled shift/or expression tree (bits *
    n_cols terms), whole-stage-codegen friendly."""
    n = len(cols)
    if bits * n > 63:
        # bit i*n+c of the top term would shift into (or past) the sign
        # bit of the BIGINT zval — wrong interleave, silently
        raise ValueError(
            f"bits*len(cols) = {bits * n} > 63 overflows the BIGINT "
            "z-value; reduce bits or cluster fewer columns"
        )
    terms = []
    for i in range(bits):
        for c_idx, c in enumerate(cols):
            terms.append(
                F.shiftleft(
                    F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
                    i * n + c_idx,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def zorder_values(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
) -> tuple[DataFrame, dict[str, tuple[int, int]]]:
    """Append an exact-integer Morton z-value (column ``zval``) over the
    given integer columns. Returns (df_with_zval, {col: (min, max)}).
    The min/max pass is the bounded trained state (2 longs/column)."""
    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.min(F.expr(c)).cast("long").alias(f"_mn_{i}"),
            F.max(F.expr(c)).cast("long").alias(f"_mx_{i}"),
        ]
    row = df.agg(*aggs).collect()[0]
    ranges = {
        c: (int(row[f"_mn_{i}"]), int(row[f"_mx_{i}"]))
        for i, c in enumerate(cols)
    }
    scaled = [
        _scaled(c, ranges[c][0], ranges[c][1], bits).cast("long") for c in cols
    ]
    return df.withColumn("zval", interleave_bits(scaled, bits)), ranges


def layout_span_stats(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    bucket_bits: int = 6,
) -> DataFrame:
    """Assign rows to 2^bucket_bits z-range buckets (the files a
    z-ordered write would cut) and report each bucket's row count and
    per-column min/max span — the data-skipping envelope a reader's
    predicate pushdown would prune against. All-BIGINT output."""
    n = len(cols)
    zdf, _ = zorder_values(df, cols, bits)
    shift = bits * n - bucket_bits
    out = zdf.withColumn("bucket", F.shiftright(F.col("zval"), shift))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs.append(
            (F.max(F.expr(c)) - F.min(F.expr(c))).cast("long").alias(f"span_{i}")
        )
    return (
        out.groupBy("bucket")
        .agg(*aggs)
        .select(
            F.col("bucket").cast("long"),
            "n_rows",
            *[f"span_{i}" for i in range(n)],
        )
    )
