"""Contracts shared by the two LSM-style streaming maintainers (graph
and neardup): the replay pre-clear of a delta log, and the meta.json
format stamp that makes a foreign artifact fail loudly."""

from __future__ import annotations

import json
import os

import pytest

import vectordbindexing_spark.streaming.graph_ingest as gi
import vectordbindexing_spark.streaming.neardup as nd


@pytest.mark.parametrize(
    "delta_paths", [gi._delta_paths, nd._band_delta_paths],
    ids=["graph", "neardup"],
)
def test_pre_clear_delta_removes_only_its_own_seq(tmp_path, delta_paths):
    """The replay pre-clear must match d<seq>-<i>.parquet EXACTLY — a
    bare d<seq>* pattern would also delete d<seq>0…'s files (seq 1
    eating seq 10's delta) — and remove the seq's tombstone file."""
    adds_dir, tombs_dir = delta_paths(str(tmp_path))
    os.makedirs(adds_dir)
    os.makedirs(tombs_dir)
    for n in ["d1-0", "d1-1", "d10-0", "d12-0"]:
        open(os.path.join(adds_dir, n + ".parquet"), "wb").close()
    for n in ["d1.parquet", "d10.parquet"]:
        open(os.path.join(tombs_dir, n), "wb").close()

    gi._pre_clear_delta(adds_dir, tombs_dir, 1)
    assert sorted(os.listdir(adds_dir)) == ["d10-0.parquet", "d12-0.parquet"]
    assert sorted(os.listdir(tombs_dir)) == ["d10.parquet"]


def _graph(spark, art):
    base = spark.createDataFrame(
        [(i, [float((i * 3) % 7), float(i % 5), 1.0]) for i in range(60)],
        "id long, vec array<double>",
    )
    gi.init_graph_artifact(base, art, M0=4, M1=2, buckets=8)
    batch = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0])], "id long, vec array<double>"
    )
    return [
        lambda: gi.upsert_graph_artifact(batch, art),
        lambda: gi.load_graph_artifact(spark, art),
    ]


def _neardup(spark, art):
    docs = spark.createDataFrame(
        [(i, f"alpha{i} bravo{i} charlie{i} delta{i}") for i in range(20)],
        "doc_id long, text string",
    )
    nd.init_neardup_artifact(docs, art, buckets=16)
    batch = spark.createDataFrame(
        [(100, "alpha1 bravo1 charlie1 echo")], "doc_id long, text string"
    )
    return [lambda: nd.upsert_neardup_artifact(batch, art)]


def _files(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("make", [_graph, _neardup], ids=["graph", "neardup"])
def test_foreign_format_fails_loudly_and_leaves_artifact_untouched(
    spark, tmp_path, make
):
    """An artifact whose meta.json lacks the current format stamp (or
    carries another one) must not be read under the current layout:
    every entry point raises a ValueError naming the path and both
    formats, before touching any file."""
    art = str(tmp_path / "art")
    calls = make(spark, art)
    meta_path = os.path.join(art, "meta.json")
    meta = json.load(open(meta_path))
    assert meta["format"] == 1

    for stamp in (None, 2):
        foreign = {k: v for k, v in meta.items() if k != "format"}
        if stamp is not None:
            foreign["format"] = stamp
        with open(meta_path, "w") as f:
            json.dump(foreign, f)
        before = _files(art)
        for call in calls:
            with pytest.raises(ValueError) as e:
                call()
            msg = str(e.value)
            assert meta_path in msg and "re-run init" in msg
            assert f"format {stamp}, expected 1" in msg
        assert _files(art) == before
