"""Event-stream batch analytics: tumbling-window aggregation, gap-based
sessionization, as-of joins, rollup ladders, funnels and cohort
retention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_stats(events: DataFrame) -> DataFrame:
    """Per (event_type, hour) tumbling-window counts + value aggregates."""
    return (
        events.groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the time
    since the previous event exceeds ``gap_minutes``. Output per user:
    n_sessions, n_events, longest session length (events).

    Single shuffle on user_id; the lag/cumsum windows reuse that
    partitioning (no extra exchange).

    The gap uses ``timestampdiff`` over second-truncated endpoints so it
    works on both TIMESTAMP and TIMESTAMP_NTZ inputs — Spark 4 refuses
    ``TIMESTAMP_NTZ → BIGINT`` casts, and the driver's events parquet
    reads as NTZ — and is timezone-independent either way. The
    ``date_trunc`` matters: it reproduces epoch-floor boundary-count
    semantics (= DuckDB ``date_diff('second', ...)``), whereas a raw
    timestampdiff truncates the full microsecond difference and flips
    near-gap-threshold sessions.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(
        "timestampdiff(SECOND, date_trunc('second', _prev_ts),"
        " date_trunc('second', ts))"
    )
    flagged = events.withColumn("_prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("sess_events")
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("sess_events").alias("n_events"),
            F.max("sess_events").alias("max_session_events"),
        )
    )


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    *,
    on: str = "ts",
    by: str = "user_id",
    value_cols: list[str] | None = None,
    allow_equal: bool = True,
) -> DataFrame:
    """Point-in-time (as-of) join: each probe row picks up the build
    row with the greatest ``on`` ≤ (or < when ``allow_equal=False``)
    its own ``on``, per ``by`` key — the kdb/QuestDB/Timescale ASOF
    JOIN primitive, and the leakage-free way to attach "state as of
    event time" (prices, feature snapshots, last touch) to a stream.

    Plan: NOT a theta join — an inequality join at 100 TB degenerates
    to broadcast-nested-loop or a range-bucketed explosion. Instead the
    two sides union into one timeline, shuffle ONCE on the key, and a
    running ``last(payload, ignorenulls=True)`` window carries the
    latest build payload forward into each probe row — linear work per
    partition, the merge-sorted-streams plan a native engine would run.

    Ordering within a (key, on) tie is total and deterministic: build
    rows sort before probe rows when ``allow_equal`` (after, when
    strict), and build rows at the same instant order by their payload
    struct (last = max payload wins).

    Output: every probe row (left semantics) + ``value_cols`` from the
    matched build row (NULL when no build row precedes).
    """
    if value_cols is None:
        value_cols = [c for c in build.columns if c not in (on, by)]
    dup = [c for c in value_cols if c in probe.columns]
    if dup:
        raise ValueError(f"value_cols collide with probe columns: {dup}")
    payload = F.struct(*[F.col(c) for c in value_cols]).alias("_b")
    b = build.select(
        F.col(by), F.col(on), payload,
        F.lit(0 if allow_equal else 1).alias("_side"),
    )
    p = probe.select(
        F.col(by), F.col(on),
        F.lit(None).cast(b.schema["_b"].dataType).alias("_b"),
        F.lit(1 if allow_equal else 0).alias("_side"),
        F.struct(*[F.col(c) for c in probe.columns]).alias("_p"),
    )
    b = b.withColumn("_p", F.lit(None).cast(p.schema["_p"].dataType))
    w = (
        Window.partitionBy(by)
        .orderBy(on, "_side", "_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    probe_flag = F.col("_side") == (1 if allow_equal else 0)
    out = (
        b.unionByName(p)
        .withColumn("_m", F.last("_b", ignorenulls=True).over(w))
        .filter(probe_flag & F.col("_p").isNotNull())
    )
    return out.select(
        *[F.col(f"_p.{c}").alias(c) for c in probe.columns
          if c not in (by, on)],
        F.col(by), F.col(on),
        *[F.col(f"_m.{c}").alias(c) for c in value_cols],
    )


def coarsen_rollup(df: DataFrame, grain: str) -> DataFrame:
    """One rung of the rollup ladder: re-aggregate a finer grain's
    (event_type, bucket, n_events, sum_value) table to ``grain``.
    The float fold is ordered (array_sort struct fold over the finer
    buckets) so re-aggregation is deterministic cross-engine."""
    return (
        df.groupBy(
            "event_type",
            F.date_trunc(grain, F.col("bucket")).alias("_cb"),
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "sum_value"))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["sum_value"],
                ),
                4,
            ).alias("sum_value"),
        )
        .withColumnRenamed("_cb", "bucket")
    )


def multires_rollup(events: DataFrame) -> DataFrame:
    """Multi-resolution continuous aggregate (the Timescale hypertable
    rollup shape): hour buckets from the raw rows, then day from hour
    and week from day — the raw table is scanned ONCE, and each
    coarser grain re-aggregates the (tiny) finer aggregate, exactly
    how a warehouse maintains a rollup ladder at 100 TB. Union-tagged
    output: (resolution, bucket, event_type, n_events, sum_value).

    Floats: the hour grain rounds its sum to 4 decimals (absorbs
    engine summation order); every coarser grain folds the FINER
    grain's rounded sums in bucket order (array_sort struct fold ==
    DuckDB list_sum(list(x ORDER BY b)) — the repo's deterministic-
    summation pattern), so the whole ladder is cross-engine exact."""
    hour = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )

    day = coarsen_rollup(hour, "day")
    week = coarsen_rollup(day, "week")
    tag = lambda df, r: df.select(  # noqa: E731
        F.lit(r).alias("resolution"), "bucket", "event_type",
        "n_events", "sum_value",
    )
    return (
        tag(hour, "hour").unionByName(tag(day, "day"))
        .unionByName(tag(week, "week"))
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered first-touch funnel: per user, the earliest step-1 event,
    then the earliest step-2 event AT OR AFTER it, and so on — the
    product-analytics conversion primitive. Sequential by definition
    (step i's window opens when step i-1 fires), so the plan is one
    filtered min-aggregate per step joined back on the user key —
    len(steps) small shuffles on the same key, which AQE coalesces;
    never a window over the full event stream. Users keep NULL
    timestamps from their drop-off step onward (left joins).

    Deterministic: every per-step value is a min over timestamps —
    no floats, no ties to break."""
    if len(steps) < 2:
        raise ValueError("need at least 2 funnel steps")
    t, ty = F.col(ts_col), F.col(type_col)
    out = (
        events.filter(ty == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("step_1_ts"))
    )
    for i, step in enumerate(steps[1:], start=2):
        prev = f"step_{i - 1}_ts"
        nxt = (
            events.filter(ty == step)
            .join(out.select(user_col, prev), user_col)
            .filter(t >= F.col(prev))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"step_{i}_ts"))
        )
        out = out.join(nxt, user_col, "left")
    done = F.col(f"step_{len(steps)}_ts").isNotNull()
    return out.withColumn(
        "completed", done.cast("long")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    cohort_event: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Daily cohort retention matrix: cohort = calendar day of each
    user's FIRST event (or first ``cohort_event``-typed event, e.g.
    their first purchase — the acquisition-cohort variant); one output
    row per (cohort_day, offset_days) with the distinct-user count
    active that day — the standard product-analytics triangle
    (Amplitude/Mixpanel "retention" view). Activity BEFORE a user's
    cohort day (possible when cohort_event filters) is not retention
    and is excluded.

    Two shuffles total: a per-user min (map-side combinable) and the
    (cohort, offset) distinct-count; the events×first join
    co-partitions on the user key. All-integer output (dates rendered
    as strings so the cross-engine hash never sees a DATE), hash-exact
    against `oracles.cohort_retention_sql`.
    """
    u, t = F.col(user_col), F.col(ts_col)
    src = events
    if cohort_event is not None:
        src = events.where(F.col(type_col) == cohort_event)
    first = src.groupBy(u.alias("uid")).agg(
        F.min(F.to_date(t)).alias("cohort_day")
    )
    joined = events.select(u.alias("uid"), F.to_date(t).alias("day")).join(
        first, "uid"
    )
    return (
        joined.groupBy("cohort_day", F.datediff("day", "cohort_day").alias(
            "offset_days"))
        .agg(F.countDistinct("uid").alias("n_users"))
        .where(F.col("offset_days") >= 0)
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("offset_days").cast("long").alias("offset_days"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )
