"""The closed-loop workloads (one client each).

Every engine call goes through ``Run.call`` so that a traced run wraps it
in a span named after the public function; an untraced run pays nothing
for that. Each workload returns the end-to-end metrics of METRICS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

from annbench.inputs import (
    CORPUS_SCHEMA,
    K,
    QUERY_SCHEMA,
    Corpus,
    Size,
    check_answers,
    generate,
    topk_truth,
    write_vectors,
)
from vectordbindexing_spark.operators.graph import build_two_layer_index
from vectordbindexing_spark.operators.search import compact_index, graph_search
from vectordbindexing_spark.operators.shard import compact_npy_dir, save_compact_index
from vectordbindexing_spark.streaming.graph_ingest import (
    init_graph_artifact,
    load_graph_artifact,
    upsert_graph_artifact,
)

EF_SEARCH = 64
RECALL_FLOOR = 0.5  # a search call whose mean recall@10 is lower fails
SERVE_WARMUP = 2    # search calls before serve's timed loop
INGEST_READS = 1    # live reads after each upsert

SIZES = {
    "full": {
        "serve": Size(n=3000, d=128, clusters=256, queries=256, batches=16,
                      setup_reps=3, min_ops=12),
        "ingest": Size(n=2000, d=64, clusters=64, queries=256,
                       upsert_rows=100, upserts=8, min_ops=3, buckets=4),
    },
    "tiny": {
        "serve": Size(n=600, d=16, clusters=8, queries=32, batches=2,
                      setup_reps=2, min_ops=2),
        "ingest": Size(n=400, d=16, clusters=8, queries=32,
                       upsert_rows=20, upserts=2, min_ops=1, buckets=4),
    },
}

# end-to-end metric -> unit; every workload reports all of them
METRICS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "read_p50_s": "s",
    "recall_at_10": "fraction",
    "ood_recall_at_10": "fraction",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

# spans each workload opens (the smoke test pins jobs > 0 on these)
WORKLOAD_SPANS = {
    "serve": ("session.get_spark", "graph.build_two_layer_index",
              "search.compact_index", "shard.save_compact_index",
              "search.graph_search"),
    "ingest": ("session.get_spark", "graph_ingest.init_graph_artifact",
               "graph_ingest.upsert_graph_artifact",
               "graph_ingest.load_graph_artifact", "search.compact_index",
               "search.graph_search"),
}


def dir_bytes(path: str) -> int:
    return sum(s for s, _ in _files(path).values())


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Run:
    """State of one benchmark run: session, tracer, counters, samples."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, size: Size):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.size = seed, seconds, size
        self.attempted = self.failed = 0
        self.setup_s: list[float] = []
        self.op_s: list[float] = []
        self.op_rows = 0
        self.read_s: list[float] = []
        self.recall_in: list[float] = []
        self.recall_ood: list[float] = []
        self.bytes_written = 0
        self.user_bytes = 0

    def call(self, span: str, fn, *args, **kwargs):
        with self.tracer.span(span):
            return fn(*args, **kwargs)

    def attempt(self, op) -> bool:
        """Run one checked operation; ``op`` returns a problem or None."""
        self.attempted += 1
        try:
            problem = op()
        except Exception:  # an engine error is a failed operation
            problem = traceback.format_exc()
        if problem:
            self.failed += 1
            print(f"# FAILED: {problem}", file=sys.stderr)
        return not problem

    def timed_loop(self, op, limit: int | None = None) -> None:
        """Closed loop: next op once the previous returns, until the
        window closes and at least ``min_ops`` ran (or ``limit`` did)."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while (time.perf_counter() < deadline or i < self.size.min_ops) and (
            limit is None or i < limit
        ):
            if not self.attempt(lambda: op(i)):
                break
            i += 1

    def read_parquet(self, path: str, schema: str):
        return self.spark.read.schema(schema).parquet(path)

    def search(self, queries_path: str, index, qids, truth, valid_ids) -> str | None:
        """One collected graph_search call, timed as a read and checked."""
        t0 = time.perf_counter()
        qdf = self.read_parquet(queries_path, QUERY_SCHEMA)
        with self.tracer.span("search.graph_search"):
            pdf = graph_search(
                qdf, index, k=K, ef_search=EF_SEARCH,
                with_stats=self.tracer.enabled,
            ).toPandas()
        self.read_s.append(time.perf_counter() - t0)
        if self.tracer.enabled:
            per_q = pdf.groupby("qid")[["visited_count", "hops", "latency_us"]].first()
            self.tracer.add(
                "search.graph_search",
                visited_per_query=float(per_q["visited_count"].mean()),
                hops_per_query=float(per_q["hops"].mean()),
                kernel_us_per_query=float(per_q["latency_us"].mean()),
            )
        recalls, problem = check_answers(pdf, qids, truth, valid_ids)
        if problem:
            return problem
        half = len(qids) // 2
        self.recall_in.extend(recalls[:half])
        self.recall_ood.extend(recalls[half:])
        if recalls.mean() < RECALL_FLOOR:
            return f"recall@{K} {recalls.mean():.3f} below {RECALL_FLOOR}"
        return None

    def build_index(self, base_path: str, art: str, **build_kw) -> str:
        """Bulk build -> compact -> save; returns the mmap artifact dir."""
        base = self.read_parquet(base_path, CORPUS_SCHEMA)
        edges = self.call("graph.build_two_layer_index", build_two_layer_index, base, **build_kw)
        ci = self.call("search.compact_index", compact_index, edges, base)
        self.call("shard.save_compact_index", save_compact_index, ci, self.spark, art)
        return compact_npy_dir(art)

    def metrics(self, space_amp: float) -> dict[str, float]:
        return {
            "setup_s": statistics.median(self.setup_s),
            "op_p50_s": statistics.median(self.op_s),
            "rows_per_s": self.op_rows / sum(self.op_s),
            "read_p50_s": statistics.median(self.read_s),
            "recall_at_10": float(np.mean(self.recall_in)),
            "ood_recall_at_10": float(np.mean(self.recall_ood)),
            "write_amp": self.bytes_written / self.user_bytes,
            "space_amp": space_amp,
        }

    def report(self) -> dict[str, float]:
        """Sample counts and tail percentiles for the human-readable report."""
        out = {
            "setups": float(len(self.setup_s)),
            "ops": float(len(self.op_s)),
            "reads": float(len(self.read_s)),
        }
        for name, xs in (("op", self.op_s), ("read", self.read_s)):
            if len(xs) >= 100:  # at least 10 samples beyond p90
                out[f"{name}_p90_s"] = float(np.percentile(xs, 90))
        return out


def serve(run: Run) -> dict[str, float]:
    """Build once per set-up; the timed loop only searches."""
    size = run.size
    inp = generate(run.seed, size)
    base_path = write_vectors(f"{run.work}/serve/base.parquet", inp.ids, inp.vecs)
    q_paths, truths = [], []
    for b, q in enumerate(inp.queries):
        qids = np.arange(b * len(q), (b + 1) * len(q), dtype=np.int64)
        q_paths.append(write_vectors(f"{run.work}/serve/q{b}.parquet", qids, q, "qid"))
        truths.append((qids, topk_truth(inp.ids, inp.vecs, q)))
    vec_bytes = inp.vecs.nbytes
    art = None
    for r in range(size.setup_reps):
        t0 = time.perf_counter()
        art_r = f"{run.work}/serve/index{r}"
        npy = run.build_index(base_path, art_r)
        run.setup_s.append(time.perf_counter() - t0)
        run.bytes_written += dir_bytes(art_r)
        run.user_bytes += vec_bytes
        art = art_r

    def search(i):
        qids, truth = truths[i % len(q_paths)]
        return run.search(q_paths[i % len(q_paths)], npy, qids, truth, inp.ids)

    for i in range(SERVE_WARMUP):  # checked, but not timed
        run.attempt(lambda: search(i))
    run.read_s.clear()

    def op(i):
        problem = search(i)
        run.op_s.append(run.read_s[-1])
        run.op_rows += size.queries
        return problem

    run.timed_loop(op)
    return run.metrics(dir_bytes(art) / vec_bytes)


def _meta(art: str) -> dict:
    with open(os.path.join(art, "meta.json")) as f:
        return json.load(f)


def ingest(run: Run) -> dict[str, float]:
    """Upsert micro-batches (alternating fresh ids and same-id updates),
    each followed by a live read of the current artifact."""
    size = run.size
    inp = generate(run.seed, size)
    base_path = write_vectors(f"{run.work}/ingest/base.parquet", inp.ids, inp.vecs)
    b_paths = [
        write_vectors(f"{run.work}/ingest/b{i}.parquet", ids, vecs)
        for i, (ids, vecs) in enumerate(inp.batches)
    ]
    q = inp.queries[0]
    qids = np.arange(len(q), dtype=np.int64)
    q_path = write_vectors(f"{run.work}/ingest/q.parquet", qids, q, "qid")
    corpus = Corpus(inp.ids, inp.vecs)
    art = f"{run.work}/ingest/artifact"

    t0 = time.perf_counter()
    run.call(
        "graph_ingest.init_graph_artifact", init_graph_artifact,
        run.read_parquet(base_path, CORPUS_SCHEMA), art, buckets=size.buckets,
    )
    run.setup_s.append(time.perf_counter() - t0)

    def live_read(truth) -> str | None:
        """What a reader sees right now: load, compact, search."""
        t0 = time.perf_counter()
        vdf, edf, meta = run.call("graph_ingest.load_graph_artifact", load_graph_artifact, run.spark, art)
        run.tracer.add(
            "graph_ingest.load_graph_artifact",
            delta_bytes=meta.get("rev_delta_bytes", 0) + meta.get("fwd_delta_bytes", 0),
        )
        ci = run.call("search.compact_index", compact_index, edf, vdf)
        problem = run.search(q_path, ci, qids, truth, corpus.ids)
        run.read_s[-1] = time.perf_counter() - t0
        return problem

    run.attempt(lambda: live_read(corpus.truth(q)))  # checked, not timed
    run.read_s.clear()

    def op(i):
        ids, vecs = inp.batches[i]
        before, meta0 = _files(art), _meta(art)
        t0 = time.perf_counter()
        status = run.call(
            "graph_ingest.upsert_graph_artifact", upsert_graph_artifact,
            run.read_parquet(b_paths[i], CORPUS_SCHEMA), art,
        )
        run.op_s.append(time.perf_counter() - t0)
        run.op_rows += len(ids)
        after, meta1 = _files(art), _meta(art)
        changed = [p for p, st in after.items() if before.get(p) != st]
        written = sum(after[p][0] for p in changed)
        run.bytes_written += written
        run.user_bytes += vecs.nbytes
        # a fold rewrites a log's base, so the base size changes
        folds = sum(
            meta1.get(k) != meta0.get(k) for k in ("rev_base_bytes", "fwd_base_bytes")
        )
        run.tracer.add(
            "graph_ingest.upsert_graph_artifact",
            bytes_written=written, files_written=len(changed), fold_ops=folds,
        )
        if status != "upsert":
            return f"upsert {i} returned {status!r}"
        corpus.upsert(ids, vecs)
        truth = corpus.truth(q)
        for _ in range(INGEST_READS):
            problem = live_read(truth)
            if problem:
                return problem
        return None

    run.timed_loop(op, limit=len(inp.batches))
    live_bytes = corpus.vecs.nbytes
    return run.metrics(dir_bytes(art) / live_bytes)


WORKLOADS = {"serve": serve, "ingest": ingest}
