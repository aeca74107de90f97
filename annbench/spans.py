"""Per-layer spans read from Spark's status store.

Each span wraps one public engine call made by the benchmark. The span
sets a Spark job group named after the call, and on exit attributes to
itself every job submitted while it was open (job ids are assigned in
order and the benchmark makes one call at a time, so this also catches
jobs the engine submits from its own threads, which carry no group).
Counters come from ``statusStore()``, which works with the UI disabled.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

SPANS = (
    "session.get_spark",
    "graph.build_two_layer_index",
    "search.compact_index",
    "shard.save_compact_index",
    "search.graph_search",
    "graph_ingest.init_graph_artifact",
    "graph_ingest.upsert_graph_artifact",
    "graph_ingest.load_graph_artifact",
)
COUNTERS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("result_bytes", "bytes"),
    ("driver_gap_s", "s"),
)
EXTRA = {
    "search.graph_search": (
        ("visited_per_query", "count"),
        ("hops_per_query", "count"),
        ("kernel_us_per_query", "us"),
    ),
    "graph_ingest.upsert_graph_artifact": (
        ("bytes_written", "bytes"),
        ("files_written", "count"),
        ("fold_ops", "count"),
    ),
    "graph_ingest.load_graph_artifact": (("delta_bytes", "bytes"),),
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for span in SPANS:
        out[f"{span}.calls"] = "count"
        for name, unit in COUNTERS + EXTRA.get(span, ()):
            out[f"{span}.{name}"] = unit
    out["trace.overhead_s"] = "s"
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Collects spans; ``enabled=False`` makes every span a bare timer."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.overhead_s = 0.0
        self._sc = spark.sparkContext if spark is not None else None
        self._last_job = -1

    def bind(self, spark) -> None:
        """Attach the session once it exists (for the session span itself)."""
        self._sc = spark.sparkContext

    def add(self, span: str, **values: float) -> None:
        """Add extra counters (EXTRA) measured by the caller to ``span``."""
        for k, v in values.items():
            self.sums[span][k] += v

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        if self._sc is not None:
            self._sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._close(name, t0, t1)

    # ---------------------------------------------------------------- store
    def _close(self, name: str, t0: float, t1: float) -> None:
        b0 = time.perf_counter()
        rec = self.sums[name]
        rec["calls"] += 1
        rec["wall_s"] += t1 - t0
        if self._sc is not None:
            self._sc._jsc.clearJobGroup()
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            last, jobs = self._jobs_after(self._last_job)
            self._last_job = last
            intervals = []
            store = self._sc._jsc.sc().statusStore()
            for job in jobs:
                rec["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    a = job.submissionTime().get().getTime() / 1000.0
                    b = job.completionTime().get().getTime() / 1000.0
                    intervals.append((max(a, t0), min(b, t1)))
                sids = job.stageIds()
                for i in range(sids.size()):
                    sd = store.lastStageAttempt(sids.apply(i))
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += sd.numCompleteTasks()
                    rec["executor_run_s"] += sd.executorRunTime() / 1e3
                    rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    rec["spill_bytes"] += sd.diskBytesSpilled()
                    rec["result_bytes"] += sd.resultSize()
            busy = _union_s([iv for iv in intervals if iv[1] > iv[0]])
            rec["driver_gap_s"] += max(0.0, (t1 - t0) - busy)
        self.overhead_s += time.perf_counter() - b0

    def _jobs_after(self, job_id: int):
        """(highest job id, jobs with id > ``job_id``) from the store."""
        jobs = self._sc._jsc.sc().statusStore().jobsList(None)
        out, top = [], job_id
        for i in range(jobs.size()):  # newest first
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= job_id:
                break
            top = max(top, jid)
            out.append(job)
        return top, out

    # --------------------------------------------------------------- report
    def metrics(self) -> dict[str, float]:
        """Per-call means of every counter, keyed like metric_units().
        A span the workload never opens reports 0 calls and 0 counts."""
        out = {}
        for key in metric_units():
            if key == "trace.overhead_s":
                out[key] = self.overhead_s
                continue
            span, counter = key.rsplit(".", 1)
            rec = self.sums.get(span, {})
            calls = rec.get("calls", 0)
            if counter == "calls":
                out[key] = float(calls)
            else:
                out[key] = rec.get(counter, 0.0) / calls if calls else 0.0
        return out
