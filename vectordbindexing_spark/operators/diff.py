"""Snapshot diff — the lakehouse table-versioning primitive (what a
CDC feed or a Delta/Iceberg snapshot compare computes): classify every
key as added / removed / changed / unchanged between two table
versions.

One full-outer join on the key columns; change detection is per-column
null-safe comparison (never a rendered-string hash — float→string
formatting is engine-specific, direct value comparison is not). At
100 TB both snapshots shuffle once on the key; with both sides
stored as bucketed tables on the key the join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    *,
    include_unchanged: bool = False,
) -> DataFrame:
    """(keys..., change) with change ∈ added|removed|changed
    (|unchanged). ``compare_cols`` defaults to all shared non-key
    columns."""
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    cond = None
    for k in keys:
        # null-safe: a NULL key present in both snapshots must MATCH
        # (plain == would split it into a phantom removed+added pair)
        eq = F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        # null-safe inequality: NULL vs value counts as a change
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *[
            F.coalesce(F.col(f"_ko_{k}"), F.col(f"_kn_{k}")).alias(k)
            for k in keys
        ],
        change.alias("change"),
    )
    if not include_unchanged:
        out = out.filter(F.col("change") != "unchanged")
    return out
