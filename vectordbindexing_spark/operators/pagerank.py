"""PageRank over an edge table — the web-graph quality weight of the
classic LLM-data pipelines (CommonCrawl ranks hosts with it; Gopher
§A1.1 filters on URL/host quality; the reference's kNN graphs also
want it, where high-rank nodes are the hub points that dominate ANN
traversal).

Spark-first shape — Pregel-by-dataframe:

* one iteration = ``ranks ⨝ edges`` on src (the only shuffle key) +
  ``groupBy(dst)`` — exactly the frontier_knn pattern, with
  ``localCheckpoint`` per round to truncate lineage (an iterative plan
  otherwise re-executes every prior round per action);
* out-degrees computed ONCE and carried as a column of the rank table
  (no per-iteration degree join);
* dangling nodes (no out-edges) get a SELF-LOOP before iterating — a
  documented, purely LOCAL repair. The textbook alternative
  (redistribute the dangling mass globally) needs a global float sum
  every round, which is exactly the cross-engine nondeterminism this
  module is designed out of;
* fixed iteration count (default 3), never run-to-convergence: the
  oracle unrolls the same rounds as SQL CTEs.

Cross-engine exactness (no rounding until output): every per-node rank
is reproduced bit-for-bit by the DuckDB oracle because each round
folds the incoming contributions in SOURCE-ID order
(`F.aggregate(array_sort(collect_list(struct(src, c))))` ==
`list_sum(list(c ORDER BY src))`), the damping constants embed as the
same python-repr literals on both sides, and everything else is
integer-derived doubles through one shared expression tree. Output
scales rank by N (`rank_x_n`, O(1) values) and rounds to 6 dp only at
the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: auto exact_fold: past this many edges (== folded structs built PER
#: ITERATION) the source-ordered collect_list fold switches to a plain
#: ``sum()`` — the same trap/fix as retrieval.FOLD_QT_LIMIT. The
#: edge table is already eagerly checkpointed when counted, so the
#: probe is free. Contract-scale graphs (thousands of edges) stay on
#: the bit-deterministic fold; library-scale graphs get the cheap sum.
#: 1M (not the 2M of a one-pass fold): the fold materializes its
#: structs once PER ITERATION, so the break-even edge count is ~iters x
#: lower.
PR_FOLD_EDGE_LIMIT = 1_000_000


def _round_incoming(
    e: DataFrame, ranks: DataFrame, exact_fold: bool
) -> DataFrame:
    """One power-iteration round's incoming mass per dst: contribution
    join (rank/out_deg along each edge) → per-dst accumulation, either
    the source-ordered bit-deterministic fold (contract scale) or a
    plain map-side-combinable sum (the scale route). Extracted so the
    plan shape is pinnable (tests/test_plans.py): the sum route must
    keep its partial aggregate below the shuffle — at 100 TB the
    map-side combine is what keeps the round's shuffle O(nodes), not
    O(edges)."""
    contrib = e.join(ranks, e["src"] == ranks["id"]).select(
        "dst",
        ranks["id"].alias("u"),
        (F.col("rank") / F.col("out_deg").cast("double")).alias("c"),
    )
    if exact_fold:
        s_agg = F.aggregate(
            F.array_sort(F.collect_list(F.struct("u", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        )
    else:
        s_agg = F.sum("c")
    return contrib.groupBy("dst").agg(s_agg.alias("s"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_fold: bool | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank. ``edges``: directed (src, dst), duplicates
    allowed (deduped — PageRank is over the simple graph). Returns
    (id, rank_x_n, out_deg) where rank_x_n = rank · N.

    r₀(v) = 1/N;  rₖ(v) = (1−d)/N + d · Σ_{u→v} rₖ₋₁(u)/outdeg(u),
    the Σ folded in u order. Self-loops added for dangling nodes keep
    the mass handling local (see module docstring).

    ``exact_fold=False`` accumulates each round with a plain ``sum()``
    instead of the source-ordered collect_list fold — last-ulp drift
    per round, no oracle bit-parity, but skips materializing one
    struct per in-edge (the fold dominates the 31 s / 3-iteration cost
    at 2M edges). The default (``None``) picks automatically: fold
    while the deduped+repaired edge count stays under
    PR_FOLD_EDGE_LIMIT (the count is free — the edge table is already
    eagerly checkpointed), plain sum past it. Gates that need
    bit-parity regardless of scale pass True explicitly.
    """
    if iters < 1:
        raise ValueError("need iters >= 1")
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # self-loop repair for dangling nodes, BEFORE degrees are counted
    dangling = nodes.join(
        e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    )
    e = e.unionByName(
        dangling.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    ).localCheckpoint(eager=True)
    if exact_fold is None:
        exact_fold = e.count() <= PR_FOLD_EDGE_LIMIT
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("out_deg"))
    n_b = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("long").alias("n")))
    ranks = (
        deg.crossJoin(n_b)
        .select(
            F.col("src").alias("id"),
            "out_deg",
            "n",
            (F.lit(1.0) / F.col("n").cast("double")).alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    base = F.lit(1.0 - damping)  # python-float repr literal, both engines
    d_lit = F.lit(damping)
    for _ in range(iters):
        incoming = _round_incoming(e, ranks, exact_fold)
        ranks = (
            ranks.join(incoming, ranks["id"] == incoming["dst"], "left")
            .select(
                "id",
                "out_deg",
                "n",
                (
                    base / F.col("n").cast("double")
                    + d_lit * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "id",
        F.round(F.col("rank") * F.col("n").cast("double"), 6).alias("rank_x_n"),
        "out_deg",
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_id_col: str = "id",
    exact_fold: bool | None = None,
) -> DataFrame:
    """Personalized PageRank (Haveliwala 2002 topic-sensitive PR; the
    related-item / seed-expansion ranker every graph-serving stack
    offers): identical fixed-round Pregel-by-DataFrame as
    :func:`pagerank` but the teleport mass lands ONLY on ``seeds`` —
    r₀ = uniform over S, rₖ(v) = (1−d)·1[v∈S]/|S| + d·Σ rₖ₋₁(u)/out(u).

    Returns (id, rank_x_s, out_deg, is_seed) with rank scaled by |S|
    (O(1) values like pagerank's rank_x_n). Self-loop dangling repair,
    source-ordered contribution folds, round(·, 6) at output — same
    cross-engine contract, oracle `oracles.personalized_pagerank_sql`.
    Nodes unreachable from S keep rank 0 exactly.

    ``exact_fold`` as in :func:`pagerank`: None (default) folds below
    PR_FOLD_EDGE_LIMIT edges and plain-sums past it; True forces the
    bit-deterministic fold, False forces the cheap sum."""
    if iters < 1:
        raise ValueError("need iters >= 1")
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    dangling = nodes.join(
        e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    )
    e = e.unionByName(
        dangling.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    ).localCheckpoint(eager=True)
    if exact_fold is None:
        exact_fold = e.count() <= PR_FOLD_EDGE_LIMIT
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("out_deg"))
    seed = (
        seeds.select(F.col(seed_id_col).cast("long").alias("id"))
        .distinct()
        .join(nodes, "id", "left_semi")  # seeds outside the graph: ignored
    )
    s_b = F.broadcast(seed.agg(F.count(F.lit(1)).cast("long").alias("ns")))
    ranks = (
        deg.select(F.col("src").alias("id"), "out_deg")
        .join(seed.withColumn("_s", F.lit(1)), "id", "left")
        .crossJoin(s_b)
        .select(
            "id",
            "out_deg",
            "ns",
            F.coalesce(F.col("_s"), F.lit(0)).cast("long").alias("is_seed"),
            F.when(
                F.col("_s").isNotNull(),
                F.lit(1.0) / F.col("ns").cast("double"),
            ).otherwise(F.lit(0.0)).alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    base = F.lit(1.0 - damping)
    d_lit = F.lit(damping)
    for _ in range(iters):
        incoming = _round_incoming(e, ranks, exact_fold)
        ranks = (
            ranks.join(incoming, ranks["id"] == incoming["dst"], "left")
            .select(
                "id",
                "out_deg",
                "ns",
                "is_seed",
                (
                    base
                    * F.when(
                        F.col("is_seed") == 1,
                        F.lit(1.0) / F.col("ns").cast("double"),
                    ).otherwise(F.lit(0.0))
                    + d_lit * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "id",
        F.round(F.col("rank") * F.col("ns").cast("double"), 6).alias(
            "rank_x_s"
        ),
        "out_deg",
        "is_seed",
    )
