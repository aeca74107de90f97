"""Self-tests of the benchmark's inputs, truth and comparison rule.

    python3 -m pytest annbench/tests -q
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from annbench import compare  # noqa: E402
from annbench.inputs import (  # noqa: E402
    Corpus,
    Size,
    check_answers,
    generate,
    topk_truth,
    write_vectors,
)

SIZE = Size(n=300, d=8, clusters=4, queries=20, batches=2, upsert_rows=10, upserts=3)


def _digest(seed: int, tmp: Path) -> str:
    inp = generate(seed, SIZE)
    h = hashlib.sha256()
    for a in [inp.ids, inp.vecs, *inp.queries, *(x for b in inp.batches for x in b)]:
        h.update(a.tobytes())
    path = write_vectors(str(tmp / f"{seed}.parquet"), inp.ids, inp.vecs)
    h.update(Path(path).read_bytes())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _digest(7, tmp_path / "a") == _digest(7, tmp_path / "b")


def test_other_seed_gives_other_inputs(tmp_path):
    assert _digest(7, tmp_path / "a") != _digest(8, tmp_path / "b")


def test_engine_never_sees_the_seed():
    # the seed reaches only the generator; engine calls get files/frames
    src = (ROOT / "annbench" / "workloads.py").read_text()
    uses = re.findall(r".*\bseed\b.*", src)
    allowed = re.compile(r"generate\(run\.seed|self\.seed, self\.seconds|seed: int")
    assert uses and all(allowed.search(u) for u in uses), uses


def test_upserts_alternate_fresh_ids_and_updates():
    inp = generate(3, SIZE)
    fresh, update, fresh2 = (ids for ids, _ in inp.batches)
    assert fresh.min() == SIZE.n and len(set(fresh)) == SIZE.upsert_rows
    assert update.max() < SIZE.n + SIZE.upsert_rows and len(set(update)) == SIZE.upsert_rows
    assert fresh2.min() == SIZE.n + SIZE.upsert_rows


def test_truth_matches_a_full_sort():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((200, 6))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    q = vecs[:5] + 0.1 * rng.standard_normal((5, 6))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    ids = np.arange(200, dtype=np.int64) * 3
    got = topk_truth(ids, vecs, q, k=10)
    for r in range(5):
        order = np.argsort(1.0 - vecs @ q[r], kind="stable")[:10]
        assert got[r].tolist() == ids[order].tolist()


def test_corpus_upsert_updates_in_place_and_appends():
    c = Corpus(np.array([0, 1], dtype=np.int64), np.eye(2, dtype=np.float32))
    c.upsert(np.array([1, 5], dtype=np.int64), np.array([[1, 0], [0, 1]], dtype=np.float32))
    assert c.ids.tolist() == [0, 1, 5]
    assert c.vecs[1].tolist() == [1, 0]


def test_check_answers_scores_recall_and_rejects_malformed():
    truth = np.array([[1, 2], [3, 4]])
    valid = np.arange(10)
    good = pd.DataFrame({"qid": [0, 0, 1, 1], "neighbor_id": [1, 9, 3, 4]})
    rec, problem = check_answers(good, np.array([0, 1]), truth, valid, k=2)
    assert problem is None and rec.tolist() == [0.5, 1.0]
    dup = pd.DataFrame({"qid": [0, 0, 1, 1], "neighbor_id": [1, 1, 3, 4]})
    assert check_answers(dup, np.array([0, 1]), truth, valid, k=2)[1]
    short = pd.DataFrame({"qid": [0, 0, 1], "neighbor_id": [1, 2, 3]})
    assert check_answers(short, np.array([0, 1]), truth, valid, k=2)[1]
    bad_id = pd.DataFrame({"qid": [0, 0, 1, 1], "neighbor_id": [1, 2, 3, 99]})
    assert check_answers(bad_id, np.array([0, 1]), truth, valid, k=2)[1]


@pytest.mark.parametrize(
    "parent, change, higher, verdict",
    [
        ([1.0 + 0.01 * i for i in range(10)], [1.0 + 0.01 * i for i in range(10)], False, "same"),
        ([1.0 + 0.01 * i for i in range(10)], [0.5 + 0.01 * i for i in range(10)], False, "better"),
        ([1.0 + 0.01 * i for i in range(10)], [1.5 + 0.01 * i for i in range(10)], False, "worse"),
        ([1.0 + 0.01 * i for i in range(10)], [0.5 + 0.005 * i for i in range(10)], True, "worse"),
        ([1.0, 2.0] * 5, [1.1, 1.9] * 5, False, "unresolved"),
    ],
)
def test_compare_rule(parent, change, higher, verdict):
    assert compare.judge_metric(parent, change, higher, 0.1)["verdict"] == verdict
