"""Seeded benchmark inputs and the brute-force truth they are checked against.

Everything here is plain numpy/pyarrow: the engine only ever sees the
parquet files these functions write, never the seed. The truth is an
exact cosine top-k computed in float64 over the same float32 vectors the
parquet files hold, so it does not depend on any engine code.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10
CORPUS_SCHEMA = "id long, vec array<float>"
QUERY_SCHEMA = "qid long, vec array<float>"


@dataclass(frozen=True)
class Size:
    """Input sizes and loop limits of one workload."""

    n: int              # corpus rows (ingest: rows at init)
    d: int              # dimension
    clusters: int       # Gaussian mixture components
    queries: int        # queries per search call
    batches: int = 1    # distinct query batches (serve cycles through them)
    upsert_rows: int = 0
    upserts: int = 0    # upsert batches generated (ingest only)
    setup_reps: int = 1
    min_ops: int = 1    # timed operations run even past --seconds
    buckets: int = 0    # graph artifact buckets (ingest only)


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


class Mixture:
    """Overlapping isotropic Gaussian clusters, L2-normalised; OOD queries
    are in-distribution draws shifted by one fixed "modality gap" vector
    (the text->image case of cross-modal retrieval)."""

    SPREAD = 1.5   # per-dimension noise relative to unit-variance centres
    GAP = 0.8       # gap norm relative to a raw point's norm

    def __init__(self, rng: np.random.Generator, d: int, clusters: int):
        self.rng = rng
        self.centers = rng.standard_normal((clusters, d))
        gap = rng.standard_normal(d)
        raw_norm = np.sqrt(d * (1.0 + self.SPREAD**2))
        self.gap = gap / np.linalg.norm(gap) * self.GAP * raw_norm

    def _raw(self, n: int) -> np.ndarray:
        label = self.rng.integers(0, len(self.centers), n)
        noise = self.rng.standard_normal((n, self.centers.shape[1]))
        return self.centers[label] + self.SPREAD * noise

    def sample(self, n: int) -> np.ndarray:
        return _unit(self._raw(n))

    def queries(self, n: int) -> np.ndarray:
        """First half in-distribution, second half out-of-distribution."""
        raw = self._raw(n)
        raw[n // 2 :] += self.gap
        return _unit(raw)


@dataclass
class Inputs:
    """All arrays of one run. ``batches`` holds (ids, vecs) upsert
    micro-batches, alternating fresh ids and same-id updates."""

    ids: np.ndarray
    vecs: np.ndarray
    queries: list[np.ndarray]
    batches: list[tuple[np.ndarray, np.ndarray]]


def generate(seed: int, size: Size) -> Inputs:
    rng = np.random.default_rng(seed)
    mix = Mixture(rng, size.d, size.clusters)
    ids = np.arange(size.n, dtype=np.int64)
    vecs = mix.sample(size.n)
    queries = [mix.queries(size.queries) for _ in range(size.batches)]
    batches = []
    next_id = size.n
    for i in range(size.upserts):
        if i % 2 == 0:
            b_ids = np.arange(next_id, next_id + size.upsert_rows, dtype=np.int64)
            next_id += size.upsert_rows
        else:
            b_ids = np.sort(rng.choice(next_id, size.upsert_rows, replace=False))
        batches.append((b_ids.astype(np.int64), mix.sample(size.upsert_rows)))
    return Inputs(ids, vecs, queries, batches)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, id_name: str = "id") -> str:
    """One parquet file of (id, vec array<float>) rows."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).ravel())
    vec = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, vecs.shape[1], dtype=np.int32)), flat
    )
    pq.write_table(pa.table({id_name: pa.array(ids, pa.int64()), "vec": vec}), path)
    return path


def topk_truth(ids: np.ndarray, vecs: np.ndarray, queries: np.ndarray, k: int = K) -> np.ndarray:
    """Exact cosine top-k ids per query (rows of unit vectors), ties by id."""
    sim = queries.astype(np.float64) @ vecs.astype(np.float64).T
    part = np.argpartition(-sim, k, axis=1)[:, : k + 1]
    out = np.empty((len(queries), k), dtype=np.int64)
    for r, cand in enumerate(part):
        order = np.lexsort((ids[cand], -sim[r, cand]))
        out[r] = ids[cand[order[:k]]]
    return out


class Corpus:
    """The live corpus as the truth sees it: id -> vector, with upserts."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = ids.copy()
        self.vecs = vecs.copy()

    def upsert(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        pos = {int(i): p for p, i in enumerate(self.ids)}
        fresh = [j for j, i in enumerate(ids) if int(i) not in pos]
        for j, i in enumerate(ids):
            if int(i) in pos:
                self.vecs[pos[int(i)]] = vecs[j]
        self.ids = np.concatenate([self.ids, ids[fresh]])
        self.vecs = np.concatenate([self.vecs, vecs[fresh]])

    def truth(self, queries: np.ndarray, k: int = K) -> np.ndarray:
        return topk_truth(self.ids, self.vecs, queries, k)


def check_answers(pdf, qids: np.ndarray, truth: np.ndarray, valid_ids: np.ndarray, k: int = K):
    """Per-query recall@k of an engine answer (qid, neighbor_id rows)
    against ``truth`` (rows aligned with ``qids``). Returns (recalls,
    problem) where ``problem`` names the first malformed answer: a
    missing query, or other than exactly k distinct corpus ids."""
    got = {int(q): [] for q in qids}
    for q, nid in zip(pdf["qid"].to_numpy(), pdf["neighbor_id"].to_numpy()):
        if int(q) not in got:
            return None, f"unknown qid {int(q)}"
        got[int(q)].append(int(nid))
    valid = set(valid_ids.tolist())
    recalls = np.empty(len(qids))
    for r, q in enumerate(qids):
        ans = got[int(q)]
        if len(ans) != k or len(set(ans)) != k or not valid.issuperset(ans):
            return None, f"qid {int(q)}: {len(ans)} ids, {len(set(ans))} distinct"
        recalls[r] = len(set(ans) & set(truth[r].tolist())) / k
    return recalls, None
