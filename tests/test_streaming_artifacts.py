"""Contracts shared by the two LSM-style streaming maintainers (graph
and neardup) and their four delta logs (streaming/deltalog.py): the
replay pre-clear, the clear's order and exact resolution after a fold
whose clear died midway, and the meta.json format stamp that makes a foreign artifact
fail loudly."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

import vectordbindexing_spark.streaming.graph_ingest as gi
import vectordbindexing_spark.streaming.neardup as nd
from vectordbindexing_spark.streaming import deltalog

# ids: "graph"/"neardup" name the rev and bands logs
LOGS = {"graph": gi.REV, "graph_fwd": gi.FWD, "graph_ivf": gi.IVF,
        "neardup": nd.BANDS}


def _crash_at(monkeypatch, fn, spec, msg, once=False):
    """Make ``deltalog.<fn>`` raise OSError(msg) when called for
    ``spec`` (only on its first such call when ``once``); other logs
    pass through."""
    real, hits = getattr(deltalog, fn), []

    def boom(s, *a, **kw):
        if s == spec and not (once and hits):
            hits.append(1)
            raise OSError(msg)
        return real(s, *a, **kw)

    monkeypatch.setattr(deltalog, fn, boom)


@pytest.mark.parametrize("log", list(LOGS))
def test_pre_clear_delta_removes_only_its_own_seq(tmp_path, log):
    """The replay pre-clear must match d<seq>-<i>.parquet EXACTLY — a
    bare d<seq>* pattern would also delete d<seq>0…'s files (seq 1
    eating seq 10's delta) — and remove the seq's tombstone file."""
    spec = LOGS[log]
    adds_dir, tombs_dir = deltalog.paths(spec, str(tmp_path))
    os.makedirs(adds_dir)
    os.makedirs(tombs_dir)
    for n in ["d1-0", "d1-1", "d10-0", "d12-0"]:
        open(os.path.join(adds_dir, n + ".parquet"), "wb").close()
    for n in ["d1.parquet", "d10.parquet"]:
        open(os.path.join(tombs_dir, n), "wb").close()

    deltalog.pre_clear(spec, str(tmp_path), 1)
    assert sorted(os.listdir(adds_dir)) == ["d10-0.parquet", "d12-0.parquet"]
    assert sorted(os.listdir(tombs_dir)) == ["d10.parquet"]


def _rows(df) -> list:
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def _graph_upsert(art, b):
    return gi.upsert_graph_artifact(
        b, art, refresh_factor=10.0, exact_base_limit=100
    )


@pytest.fixture(scope="module")
def upserted_graph(spark, tmp_path_factory):
    """A 300-row graph artifact with its IVF mirror (exact limit 100)
    after one upsert that updates id 7 and inserts id 1000 — every
    graph log then holds adds and tombstones. Tests copy it."""
    art = str(tmp_path_factory.mktemp("graph") / "art")
    base = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float(i % 5), 1.0 + i % 3])
         for i in range(300)],
        "id long, vec array<double>",
    )
    gi.init_graph_artifact(
        base, art, M0=4, M1=2, buckets=8, exact_base_limit=100
    )
    batch = spark.createDataFrame(
        [(7, [0.5, 4.0, 2.0]), (1000, [3.0, 1.0, 2.5])],
        "id long, vec array<double>",
    )
    assert _graph_upsert(art, batch) == "upsert"
    return art


def _folding(spark, art, upserted_graph, spec):
    """An artifact whose ``spec`` log holds adds and tombstones, the
    truth its resolved view must keep (the vectors dir for the IVF
    mirror, the pre-fold views otherwise) and a call that folds it
    (an empty batch with COMPACT_FACTOR 0: the fold runs, nothing
    else)."""
    if spec is nd.BANDS:
        docs = spark.createDataFrame(
            [(i, f"alpha{i} bravo{i} charlie{i} delta{i}") for i in range(20)],
            "doc_id long, text string",
        )
        nd.init_neardup_artifact(docs, art, buckets=8)
        nd.upsert_neardup_artifact(
            spark.createDataFrame(
                [(3, "alpha9 bravo9 charlie9 echo"), (100, "x y z w")],
                "doc_id long, text string",
            ),
            art,
        )
        truth = _rows(nd.bands_resolved(spark, art))

        def fold():
            nd.upsert_neardup_artifact(
                spark.createDataFrame([], "doc_id long, text string"), art
            )

    else:
        shutil.copytree(upserted_graph, art)
        if spec is gi.IVF:
            truth = _rows(
                spark.read.parquet(art + "/vectors").select("id", "vec")
            )
        else:
            truth = _rows(gi.edges_resolved(spark, art))

        def fold():
            _graph_upsert(
                art, spark.createDataFrame([], "id long, vec array<double>")
            )

    adds_dir, tombs_dir = deltalog.paths(spec, art)
    assert os.listdir(adds_dir) and os.listdir(tombs_dir)
    return truth, fold


def _view(spark, spec, art) -> list:
    view = deltalog.resolve(spark, spec, art)
    return _rows(view.select("id", "vec") if spec is gi.IVF else view)


@pytest.mark.parametrize("log", list(LOGS))
def test_fold_whose_clear_died_after_adds_resolves_exactly(
    spark, tmp_path, monkeypatch, upserted_graph, log
):
    """A fold swaps the resolved rows (each keeping its seq) into the
    base, then clears the log. If that clear dies after removing
    ``adds/`` but before ``tombs/``, the surviving tombstones are no
    newer than the folded rows of their keys, and the seq rule must
    keep those rows: the resolved view still equals the truth.
    Skipping the seq comparison for base rows dropped every id of
    the folded batch from the IVF mirror."""
    spec = LOGS[log]
    art = str(tmp_path / "art")
    truth, fold = _folding(spark, art, upserted_graph, spec)
    adds_dir, tombs_dir = deltalog.paths(spec, art)
    real_clear = deltalog.clear

    def half_clear(s, index_dir):
        if s != spec:
            return real_clear(s, index_dir)
        shutil.rmtree(adds_dir)
        raise OSError("simulated crash between removing adds/ and tombs/")

    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    monkeypatch.setattr(deltalog, "clear", half_clear)
    with pytest.raises(OSError):
        fold()
    assert not os.path.exists(adds_dir) and os.listdir(tombs_dir)
    assert _view(spark, spec, art) == truth


@pytest.mark.parametrize("dies_at", ["adds", "tombs"])
@pytest.mark.parametrize("log", list(LOGS))
def test_clear_removes_adds_before_tombs(
    spark, tmp_path, monkeypatch, upserted_graph, log, dies_at
):
    """The fold's real clear, dying as it removes ``adds/`` or
    ``tombs/``, leaves the whole log or tombstones without adds —
    never adds without the tombstones that retire their superseded
    rows — and both states resolve to the truth: leftover adds shadow
    their folded copies, lone tombstones keep them by the seq rule."""
    spec = LOGS[log]
    art = str(tmp_path / "art")
    truth, fold = _folding(spark, art, upserted_graph, spec)
    adds_dir, tombs_dir = deltalog.paths(spec, art)
    dying = adds_dir if dies_at == "adds" else tombs_dir

    def failing(real):
        def f(path, *a, **kw):
            if path == dying:
                raise OSError(f"simulated crash removing {path}")
            return real(path, *a, **kw)

        return f

    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    monkeypatch.setattr(os, "rename", failing(os.rename))
    monkeypatch.setattr(shutil, "rmtree", failing(shutil.rmtree))
    with pytest.raises(OSError):
        fold()
    assert os.listdir(tombs_dir)
    assert os.path.exists(adds_dir) == (dies_at == "adds")
    assert _view(spark, spec, art) == truth


@pytest.fixture(scope="module")
def upserted_neardup(spark, tmp_path_factory):
    """A 20-doc neardup artifact after one upsert that updates doc 3
    and inserts doc 100: its band log holds adds and tombstones."""
    art = str(tmp_path_factory.mktemp("neardup") / "art")
    nd.init_neardup_artifact(
        spark.createDataFrame(
            [(i, f"alpha{i} bravo{i} charlie{i} delta{i}") for i in range(20)],
            "doc_id long, text string",
        ),
        art, buckets=8,
    )
    nd.upsert_neardup_artifact(
        spark.createDataFrame(
            [(3, "alpha9 bravo9 charlie9 echo"), (100, "x y z w")],
            "doc_id long, text string",
        ),
        art,
    )
    return art


def _fold(spark, spec, art) -> int:
    """Fold ``spec``'s log of ``art`` now (COMPACT_FACTOR 0 is the
    caller's); returns the Spark jobs the fold ran."""
    meta_path = os.path.join(art, "meta.json")
    meta = json.load(open(meta_path))
    sc, group = spark.sparkContext, f"fold-{uuid.uuid4()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        assert deltalog.fold_if_due(spark, spec, art, meta, meta_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _base_rows(spark, spec, art) -> list:
    """The base as stored: payload, seq and partition value per row."""
    from vectordbindexing_spark.streaming.atomic import read_parquet

    return _rows(read_parquet(spark, os.path.join(art, spec.base), spec.part))


def _fold_whose_clear_died(spark, spec, art, monkeypatch, left) -> None:
    """Fold ``art``'s log and die in the clear, leaving the whole log
    (``left="log"``) or its tombstones alone (``left="tombs"``) next
    to a base that already holds the folded rows."""
    adds_dir, _ = deltalog.paths(spec, art)

    def dying_clear(s, index_dir):
        if left == "tombs":
            shutil.rmtree(adds_dir)
        raise OSError("simulated crash in the fold's clear")

    with monkeypatch.context() as m:
        m.setattr(deltalog, "clear", dying_clear)
        with pytest.raises(OSError):
            _fold(spark, spec, art)


@pytest.mark.parametrize("state", ["fresh", "log_left", "tombs_left"])
@pytest.mark.parametrize("log", list(LOGS))
def test_driver_fold_matches_spark_fold(
    spark, tmp_path, monkeypatch, upserted_graph, upserted_neardup, log,
    state,
):
    """The two fold routes of one log, from copies of one artifact:
    the driver fold runs no Spark job, and both leave the same
    resolved rows (seq included, equal to the pre-fold view), the same
    stored rows under the same partition values — Spark's bucket
    expression, or the row's own ``cell`` — and a base whose footer
    schema is the schema Spark infers. Besides a log over an unfolded
    base, the source may be an earlier fold whose clear died: folded
    base rows beside the whole log (the adds must shadow them) or
    beside lone tombstones (the seq rule must keep them)."""
    from pyspark.sql import functions as F

    from vectordbindexing_spark.streaming.atomic import read_parquet

    spec = LOGS[log]
    src = str(tmp_path / "src")
    shutil.copytree(upserted_neardup if spec is nd.BANDS else upserted_graph, src)
    truth = _rows(deltalog.resolve(spark, spec, src, keep_seq=True))
    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    if state != "fresh":
        _fold_whose_clear_died(spark, spec, src, monkeypatch, state[:-5])
    arts = {}
    for route in ("driver", "spark"):
        arts[route] = art = str(tmp_path / route)
        shutil.copytree(src, art)
        if route == "spark":
            monkeypatch.setattr(deltalog, "DRIVER_LOG_BYTES", 0)
        jobs = _fold(spark, spec, art)
        assert (jobs == 0) == (route == "driver"), (route, jobs)
        assert not any(os.path.exists(d) for d in deltalog.paths(spec, art))
        assert _rows(deltalog.resolve(spark, spec, art, keep_seq=True)) == truth
    assert _base_rows(spark, spec, arts["driver"]) == _base_rows(
        spark, spec, arts["spark"]
    )
    base_path = os.path.join(arts["driver"], spec.base)
    base = read_parquet(spark, base_path, spec.part)
    assert base.schema == spark.read.parquet(base_path).schema
    if spec.bucket_by:
        buckets = json.load(open(os.path.join(src, "meta.json")))["buckets"]
        want = deltalog.bucket(buckets, *spec.bucket_by)
        assert base.where(F.col(spec.part) != want).count() == 0


@pytest.mark.parametrize("log", list(LOGS))
def test_driver_fold_dying_before_its_swap_leaves_base_exact(
    spark, tmp_path, monkeypatch, upserted_graph, upserted_neardup, log
):
    """A driver fold that dies after writing its temp base and before
    the swap leaves the live base complete and untouched: after
    ``recover_tree`` the base and log resolve exactly as before, and
    the next fold replaces the stale temp and folds them."""
    from vectordbindexing_spark.streaming.atomic import recover_tree

    spec = LOGS[log]
    art = str(tmp_path / "art")
    shutil.copytree(upserted_neardup if spec is nd.BANDS else upserted_graph, art)
    base_path = os.path.join(art, spec.base)
    truth = _rows(deltalog.resolve(spark, spec, art, keep_seq=True))
    stored = _base_rows(spark, spec, art)

    def boom(src, live):
        assert os.path.exists(os.path.join(src, "_SUCCESS"))
        raise OSError("simulated crash before the fold's swap")

    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    monkeypatch.setattr(deltalog, "_swap_dir", boom)
    with pytest.raises(OSError):
        _fold(spark, spec, art)
    monkeypatch.undo()
    recover_tree(base_path, partition_col=spec.part)
    assert os.path.exists(os.path.join(base_path, "_SUCCESS"))
    assert _base_rows(spark, spec, art) == stored
    assert _rows(deltalog.resolve(spark, spec, art, keep_seq=True)) == truth

    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    assert _fold(spark, spec, art) == 0
    assert _rows(deltalog.resolve(spark, spec, art, keep_seq=True)) == truth


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


def test_arrow_schema_parses_each_ddl_once(spark, monkeypatch):
    """Every driver-local append and driver fold turns its spec's DDL
    into an Arrow schema; the DDL parse is a py4j call into the JVM, so
    a second call for the same DDL must reuse the first parse."""
    import pyspark.sql.types as T

    real, parses = T._parse_datatype_string, []

    def counting(ddl):
        parses.append(ddl)
        return real(ddl)

    monkeypatch.setattr(T, "_parse_datatype_string", counting)
    ddl = f"k long, v double, tag_{uuid.uuid4().hex} string"
    first = deltalog._arrow_schema(ddl)
    assert deltalog._arrow_schema(ddl) is first
    assert parses == [ddl]
    assert first.names[:2] == ["k", "v"]
