"""Evaluation operators (SURVEY §2.9 trace mode + §2.11 sweeps).

- traced search: per-query visited-node sequence + steps-to-target
  (reference search_steps_to_target, hnsw_cosine.py:530-558; phase split
  of hnsw_cosine_status.py:604-753)
- ef-for-recall: smallest ef reaching a target recall
  (find_ef_for_recall90, hnsw_methods_comparison.ipynb)
- recall/latency frontier sweep over an (ef × entry-points) grid
  (test_hnsw_opt.py:138-214, benchmark_hnsw_vs_roargraph.py:195-259)
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.operators.search import CompactIndex, graph_search


def traced_search(
    queries: DataFrame,
    index: CompactIndex,
    targets: DataFrame,
    q_id: str = "qid",
    q_vec: str = "vec",
    target_col: str = "target_id",
    max_hops: int = 2000,
) -> DataFrame:
    """Greedy-trace each query on layer 0 until its target id is visited.
    (Greedy expansion, not a beam — there is deliberately no ef knob.)

    Output (qid, steps, found, trace_len, top1_changes) — ``steps`` is the
    position of the target in the visit order (the reference's
    steps-to-target metric, BASELINE.md §search-steps), ``top1_changes``
    counts best-so-far improvements (the 'fast approach' phase signal of
    the Status method).
    """
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(index)
    # id→position lookup built ONCE and broadcast (a per-worker python
    # dict rebuild is O(n) per batch — the round-1 advisor's finding)
    max_id = int(index.ids.max()) if len(index.ids) else -1
    pos_lookup = np.full(max_id + 1, -1, dtype=np.int64)
    pos_lookup[index.ids] = np.arange(len(index.ids))
    bc_pos = spark.sparkContext.broadcast(pos_lookup)

    t_id = q_id if q_id in targets.columns else "qid"
    q = queries.select(
        F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("v")
    ).join(
        targets.select(
            F.col(t_id).cast("long").alias("qid"),
            F.col(target_col).cast("long").alias("tid"),
        ),
        "qid",
    )

    def run(batches):
        idx: CompactIndex = bc.value
        plook = bc_pos.value
        indptr = idx.indptr.get(0)
        indices = idx.indices.get(0)
        for pdf in batches:
            out = []
            for qid, v, tid in zip(pdf["qid"], pdf["v"], pdf["tid"]):
                qv = np.asarray(v, dtype=np.float64)
                tid = int(tid)
                target_pos = int(plook[tid]) if 0 <= tid < len(plook) else -1
                import heapq

                visited = np.zeros(len(idx.ids), dtype=bool)
                entries = idx.entry_points
                d0 = idx.dist(qv, entries)
                cand = [(float(d), int(p)) for d, p in zip(d0, entries)]
                heapq.heapify(cand)
                visited[entries] = True
                steps = 0
                found = False
                best = float("inf")
                top1_changes = 0
                order = list(np.asarray(entries))
                while cand and steps < max_hops:
                    d, p = heapq.heappop(cand)
                    steps += 1
                    if d < best:
                        best = d
                        top1_changes += 1
                    if p == target_pos:
                        found = True
                        break
                    nbrs = indices[indptr[p] : indptr[p + 1]]
                    nbrs = nbrs[~visited[nbrs]]
                    if len(nbrs) == 0:
                        continue
                    visited[nbrs] = True
                    dn = idx.dist(qv, nbrs)
                    for dd, pp in zip(dn, nbrs):
                        heapq.heappush(cand, (float(dd), int(pp)))
                    order.extend(int(x) for x in nbrs)
                out.append((qid, steps, found, len(order), top1_changes))
            yield pd.DataFrame(
                out, columns=["qid", "steps", "found", "trace_len", "top1_changes"]
            )

    return q.mapInPandas(
        run,
        schema="qid long, steps long, found boolean, trace_len long, "
        "top1_changes long",
    )


def phase_analysis(
    queries: DataFrame,
    index: CompactIndex,
    ef_search: int = 64,
    stable_rounds: int = 3,
    q_id: str = "qid",
    q_vec: str = "vec",
    max_hops: int = 2000,
) -> DataFrame:
    """Two-phase trace of the layer-0 beam search (Status method,
    hnsw_cosine_status.py:604-753): phase 1 "fast approach" lasts while the
    best-so-far keeps improving; phase 2 "beam refinement" starts once the
    top-1 has been stable for ``stable_rounds`` expansions. Counts
    cross-distribution edges traversed per phase when the index carries
    edge_type flags (else zeros).

    Output per query: steps in each phase + cross-edge usage — the
    reference's evidence that augmentation edges accelerate the approach
    phase.
    """
    import heapq

    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(index)

    def run(batches):
        idx: CompactIndex = bc.value
        indptr = idx.indptr.get(0)
        indices = idx.indices.get(0)
        xflag = (idx.edge_cross or {}).get(0)
        for pdf in batches:
            out = []
            for qid, v in zip(pdf["qid"], pdf["v"]):
                qv = np.asarray(v, dtype=np.float64)
                visited = np.zeros(len(idx.ids), dtype=bool)
                entries = np.unique(idx.entry_points)
                d0 = idx.dist(qv, entries)
                cand = [(float(d), int(p)) for d, p in zip(d0, entries)]
                heapq.heapify(cand)
                visited[entries] = True
                best = min(cand)[0] if cand else float("inf")
                since_improve = 0
                phase = 1
                p1_steps = p2_steps = 0
                p1_cross = p2_cross = 0
                hops = 0
                while cand and hops < max_hops:
                    d, p = heapq.heappop(cand)
                    hops += 1
                    if d < best:
                        best = d
                        since_improve = 0
                    else:
                        since_improve += 1
                        if phase == 1 and since_improve >= stable_rounds:
                            phase = 2
                    if phase == 1:
                        p1_steps += 1
                    else:
                        p2_steps += 1
                    lo, hi = indptr[p], indptr[p + 1]
                    nbrs = indices[lo:hi]
                    mask = ~visited[nbrs]
                    if xflag is not None:
                        ncross = int(np.sum(xflag[lo:hi] & mask))
                        if phase == 1:
                            p1_cross += ncross
                        else:
                            p2_cross += ncross
                    nbrs = nbrs[mask]
                    if len(nbrs) == 0:
                        continue
                    visited[nbrs] = True
                    for dd, pp in zip(idx.dist(qv, nbrs), nbrs):
                        if len(cand) < ef_search or dd < best * 2:
                            heapq.heappush(cand, (float(dd), int(pp)))
                out.append(
                    (qid, p1_steps, p2_steps, p1_cross, p2_cross)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "qid", "approach_steps", "beam_steps",
                    "approach_cross_edges", "beam_cross_edges",
                ],
            )

    q = queries.select(
        F.col(q_id).cast("long").alias("qid"), F.col(q_vec).alias("v")
    )
    return q.mapInPandas(
        run,
        schema="qid long, approach_steps long, beam_steps long, "
        "approach_cross_edges long, beam_cross_edges long",
    )


def effort_percentile_queries(
    traced: DataFrame,
    probs: tuple[float, ...] = (0.1, 0.5, 0.9, 0.99),
    value_col: str = "steps",
) -> DataFrame:
    """Representative query per effort percentile: approxQuantile the
    effort distribution, then pick the query nearest each quantile value
    (hnsw_baseline_analysis.ipynb cell 4 → 'which queries are P99-hard')."""
    qs = traced.approxQuantile(value_col, list(probs), 0.001)
    frames = []
    for p, v in zip(probs, qs):
        nearest = (
            traced.withColumn("_gap", F.abs(F.col(value_col) - F.lit(float(v))))
            .orderBy("_gap", "qid")
            .limit(1)
            .select(
                F.lit(int(p * 100)).alias("percentile"),
                F.lit(float(v)).alias("effort_value"),
                "qid",
                F.col(value_col).alias("query_effort"),
            )
        )
        frames.append(nearest)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def steps_summary(traced: DataFrame) -> DataFrame:
    """mean/P50/P99 of steps — the reference's before/after-augmentation
    regression metric (hnsw_insert.ipynb cells 5-8)."""
    return traced.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("steps"), 2).alias("mean_steps"),
        F.percentile_approx("steps", 0.5, 10_000).alias("p50_steps"),
        F.percentile_approx("steps", 0.99, 10_000).alias("p99_steps"),
        F.round(F.avg(F.col("found").cast("double")), 4).alias("found_rate"),
    )


def recall_vs_exact(
    approx: DataFrame, exact: DataFrame, k: int
) -> float:
    """Mean recall@k of one (qid, nbr_rank, neighbor_id) table vs another."""
    a = approx.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
    e = exact.groupBy("qid").agg(F.collect_set("neighbor_id").alias("g"))
    row = (
        a.join(e, "qid")
        .select(
            (
                F.size(F.array_intersect("p", "g")).cast("double") / float(k)
            ).alias("r")
        )
        .agg(F.avg("r"))
        .collect()[0]
    )
    return float(row[0])


def sweep_ef(
    queries: DataFrame,
    index: CompactIndex,
    exact: DataFrame,
    k: int = 10,
    ef_grid: tuple[int, ...] = (16, 32, 64, 128, 256),
    entry_grid: tuple[int, ...] = (1, 3),
    q_id: str = "qid",
    q_vec: str = "vec",
) -> pd.DataFrame:
    """Recall/latency frontier over (ef × entry points). Returns a pandas
    result table (this is a harness, not a dataflow operator)."""
    rows = []
    for eps in entry_grid:
        for ef in ef_grid:
            t0 = time.perf_counter()
            got = graph_search(
                queries, index, k=k, ef_search=ef, num_entry_points=eps,
                q_id=q_id, q_vec=q_vec,
            ).localCheckpoint(eager=True)
            wall = time.perf_counter() - t0
            rec = recall_vs_exact(got, exact, k)
            rows.append(
                {
                    "ef_search": ef,
                    "entry_points": eps,
                    "recall_at_k": round(rec, 4),
                    "wall_sec": round(wall, 3),
                }
            )
    return pd.DataFrame(rows)
