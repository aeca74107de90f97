"""Connected components over near-duplicate pair graphs → dedup groups.

The missing last stage of every dedup pipeline: pair emitters
(minhash/simhash/jaccard/embedding near-dup) produce edges; a real corpus
dedup must transitively close them into groups and pick one keeper per
group. Beyond-reference capability (north star in SURVEY §0/§7 Phase 6).

Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14) — converges in
O(log n) rounds with per-round cost proportional to the edge count, the
published recipe for planet-scale graphs. Each round is two shuffles
(groupBy min + equi-join); no collect, no per-node state on the driver.
A naive min-label propagation needs O(diameter) rounds — chain-shaped
duplicate clusters (common with shingle overlap) make that unbounded,
which is why the star algorithm is the 100 TB choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Below this many distinct undirected edges the closure runs
#: driver-side (bounded Arrow collect + min-root union-find — identical
#: labels, see :func:`_cc_local`): each star round costs ~6 shuffles
#: whose fixed stage/task latency dominates at small edge counts —
#: measured 40-60 s of semantic_dedup's ~50 s at sf0.1 spent in the
#: round loop over a few thousand edges — while 2M edges are a ~32 MB
#: bounded driver transfer. Past the gate the O(log n) large-star/
#: small-star rounds remain the 100 TB route unchanged.
LOCAL_CC_EDGE_LIMIT = 2_000_000


def _cc_local(a_ids, b_ids) -> list[tuple[int, int]]:
    """Union-find closure with MIN-ROOT union and path halving: the
    root of every tree is always its component's minimum id (a union
    re-roots the larger root under the smaller), so the final
    ``(id, find(id))`` rows are exactly the star fixed point's
    ``(member, component-min)`` ∪ ``(root, root)`` set — a pure
    function of the edge set, independent of engine or round order."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(a_ids, b_ids):
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return [(x, find(x)) for x in parent]


def _large_star(edges: DataFrame) -> DataFrame:
    """Γ⁺ min-relink for the larger endpoint of every edge.

    For each node u (over the symmetrized edge set), let m = min(Γ(u) ∪ u).
    Emit (v, m) for every neighbor v > u. Keeps edges pointing
    strictly big→small and attaches high nodes to the current minimum.
    """
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Min-relink for the smaller neighbors.

    Input edges all satisfy a > b (large-star postcondition). For each
    node a, m = min(Γ_small(a) ∪ a) = min(b). Emit (v, m) for every
    v ∈ Γ_small(a) ∪ {a}, v ≠ m — i.e. hang a and all its small
    neighbors directly off the minimum.
    """
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    relinked = (
        edges.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_links = mins.select(F.col("a"), F.col("m").alias("b"))
    return relinked.union(self_links).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
    local_limit: int | None = None,
) -> DataFrame:
    """Resolve a pair graph into components: (id, component) rows where
    ``component`` is the minimum member id — the canonical keeper.

    Alternating large-star/small-star until the edge set is a fixed point
    (checked with ONE (count, bit_xor-of-row-hash ×2) signature aggregate
    per round — see ``_sig``). Every round is localCheckpoint-ed: the
    lineage would otherwise double per round and re-execute the whole
    prefix on each action.

    Nodes with no edges are not emitted (callers union singletons back if
    they need total coverage — ``dedup_groups`` does).

    Raises ``RuntimeError`` if ``max_rounds`` is exhausted before the
    fixed point: the labels would be silently partial (some nodes still
    attached to a non-minimal root), which for dedup means wrong keeper
    flags. The algorithm converges in O(log n) rounds, so hitting the
    default budget on real data indicates a bug, not a big graph.
    """
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # bounded-collect route (the repo's blocked-kernel gate pattern):
    # limit(N+1) caps the transfer, and N+1 rows coming back IS the
    # "too big — stay distributed" probe result. ``local_limit``
    # overrides the gate for tests (0 forces the star rounds).
    # DELIBERATE: past the gate this collects-and-discards ~32 MB of
    # Arrow off the already-checkpointed edges (a one-time, bounded
    # probe tax); probing with limit(N+1).count() first would spare it
    # but add a whole extra job to the under-gate path, which is the
    # common case and is dominated by exactly that fixed job latency.
    lim = LOCAL_CC_EDGE_LIMIT if local_limit is None else local_limit
    if lim > 0:
        from vectordbindexing_spark.plans.partitioning import local_rows_df

        pdf = edges.limit(lim + 1).toPandas()
        if len(pdf) <= lim:
            return local_rows_df(
                pairs.sparkSession,
                _cc_local(pdf["a"].to_numpy(), pdf["b"].to_numpy()),
                "id long, component long",
            )
    # convergence signature: (row count, two independent bit_xor folds
    # of the row hashes) in ONE commutative aggregate per round. Equal
    # signatures across a round ⇒ the distinct edge sets are equal (a
    # false positive needs equal counts AND a symmetric difference whose
    # xxhash64s XOR to exactly 0 under BOTH argument orders at once —
    # edges are oriented a > b, so no pair appears in both orders and
    # the two folds stay independent),
    # which retires the separate exceptAll probe: at scale the probe
    # doubled final-round latency with a full second pass over both
    # edge sets.
    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(a, b))").alias("x"),
            F.expr("bit_xor(xxhash64(b, a))").alias("y"),
        ).collect()[0]
        return row["c"], row["x"], row["y"]

    prev_sig = _sig(edges)
    converged = False
    for _ in range(max_rounds):
        ls = _large_star(edges)
        # lazy checkpoint: the signature aggregate is the ONE action
        # that materializes it AND answers the convergence probe
        nxt = _small_star(ls).localCheckpoint(eager=False)
        sig = _sig(nxt)
        if sig == prev_sig:
            edges = nxt
            converged = True
            break
        edges, prev_sig = nxt, sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            f"rounds ({prev_sig[0]} edges at exhaustion) — labels would be "
            f"partial; raise max_rounds"
        )
    # fixed point: every edge is (member → component-min); roots appear
    # only on the b side, so union them in as self-labelled members.
    members = edges.select(F.col("a").alias("id"), F.col("b").alias("component"))
    roots = edges.select(F.col("b").alias("id"), F.col("b").alias("component"))
    return members.union(roots).distinct()


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Full-corpus dedup assignment: every doc gets a ``group_id`` (the
    minimum id of its duplicate cluster; singletons are their own group),
    the cluster size, and ``is_keeper`` (true for the group minimum — the
    row a filtering pass would retain).

    One broadcast-friendly left join of the corpus against the component
    map (components ≪ corpus by construction), then a group-size count.
    """
    comp = connected_components(pairs, id_a, id_b, max_rounds)
    ids = docs.select(F.col(id_col).cast("long").alias("id"))
    labeled = ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("group_id")
    )
    sizes = labeled.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return labeled.join(sizes, "group_id").select(
        F.col("id").alias(id_col),
        "group_id",
        "group_size",
        (F.col("id") == F.col("group_id")).alias("is_keeper"),
    )
