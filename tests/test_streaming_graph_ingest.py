"""Graph-artifact streaming upsert: incremental inserts stay servable
(new nodes reachable via back-links), replay is idempotent, and the
periodic refresh makes the artifact EXACTLY the bulk build of the
union corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from test_streaming_artifacts import _crash_at
from vectordbindexing_spark.io.synthetic import (
    synthetic_queries,
    synthetic_vectors,
)
from vectordbindexing_spark.operators.exact_knn import exact_knn
from vectordbindexing_spark.operators.graph import build_two_layer_index
from vectordbindexing_spark.operators.search import (
    compact_index,
    graph_search,
)
from vectordbindexing_spark.streaming import deltalog
from vectordbindexing_spark.streaming.graph_ingest import (
    graph_upsert_stream,
    init_graph_artifact,
    load_graph_artifact,
    upsert_graph_artifact,
)

N0, NB, D, K = 600, 100, 16, 10
M0, M1 = 16, 8


@pytest.fixture(scope="module")
def corpus(spark):
    full = synthetic_vectors(spark, N0 + 2 * NB, D, n_modalities=8).select(
        "id", "vec"
    ).localCheckpoint(eager=True)
    base = full.where(F.col("id") < N0)
    b1 = full.where((F.col("id") >= N0) & (F.col("id") < N0 + NB))
    b2 = full.where(F.col("id") >= N0 + NB)
    q = synthetic_queries(spark, 50, D, n_modalities=8).select(
        "qid", "vec"
    ).localCheckpoint(eager=True)
    return full, base, b1, b2, q


def _recall(spark, q, vecs, edges, gt):
    idx = compact_index(edges, vecs)
    pred = graph_search(q, idx, k=K, ef_search=64)
    both = (
        pred.groupBy("qid").agg(F.collect_set("neighbor_id").alias("p"))
        .join(gt, "qid")
    )
    return both.select(
        F.avg(F.size(F.array_intersect("p", "g")) / float(K)).alias("r")
    ).first()["r"]


def _gt(q, vecs):
    return (
        exact_knn(q, vecs, K, "cosine")
        .groupBy("qid")
        .agg(F.collect_set("neighbor_id").alias("g"))
        .localCheckpoint(eager=True)
    )


def test_upsert_keeps_new_nodes_servable_and_refresh_equals_rebuild(
    spark, corpus, tmp_path
):
    full, base, b1, b2, q = corpus
    art = str(tmp_path / "graph_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)

    # batch 1: incremental (no refresh at factor 2.0)
    assert upsert_graph_artifact(b1, art, refresh_factor=2.0) == "upsert"
    vecs, edges, meta = load_graph_artifact(spark, art)
    union1 = base.unionByName(b1)
    assert vecs.count() == N0 + NB

    # new nodes must be REACHABLE: back-links exist and queries recover
    # them — compare against the bulk rebuild of the same union
    gt1 = _gt(q, union1)
    r_upsert = _recall(spark, q, vecs, edges, gt1)
    rebuilt = build_two_layer_index(union1, M0=M0, M1=M1)
    r_rebuild = _recall(spark, q, union1, rebuilt, gt1)
    assert r_upsert >= r_rebuild - 0.05, (r_upsert, r_rebuild)
    assert r_upsert >= 0.8, r_upsert
    # incoming edges to inserted nodes exist on layer 0
    incoming = edges.where(
        (F.col("layer") == 0) & (F.col("dst") >= N0)
    ).count()
    assert incoming > 0

    # replay of the SAME batch is DETECTED and no-ops on the state
    before = sorted(map(tuple, edges.collect()))
    assert upsert_graph_artifact(b1, art, refresh_factor=2.0) == "noop"
    _, edges_replay, _ = load_graph_artifact(spark, art)
    assert sorted(map(tuple, edges_replay.collect())) == before

    # batch 2 crosses refresh_factor 1.2 -> full rebuild on the union;
    # the artifact must now equal the bulk build EXACTLY
    assert upsert_graph_artifact(b2, art, refresh_factor=1.2) == "rebuild"
    vecs2, edges2, meta2 = load_graph_artifact(spark, art)
    assert meta2["n_at_rebuild"] == N0 + 2 * NB
    want = build_two_layer_index(full, M0=M0, M1=M1)
    got_rows = sorted(
        (r["layer"], r["src"], r["dst"]) for r in edges2.collect()
    )
    want_rows = sorted(
        (r["layer"], r["src"], r["dst"]) for r in want.collect()
    )
    assert got_rows == want_rows


def test_graph_upsert_stream_end_to_end(spark, corpus, tmp_path):
    full, base, b1, b2, q = corpus
    art = str(tmp_path / "stream_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)
    feed = str(tmp_path / "feed")
    b1.write.parquet(feed + "/b1")

    stream = spark.readStream.schema("id long, vec array<double>").parquet(
        feed + "/*"
    )
    qy = graph_upsert_stream(
        stream, art, str(tmp_path / "ckpt"), refresh_factor=5.0
    )
    qy.awaitTermination(300)
    vecs, edges, _ = load_graph_artifact(spark, art)
    assert vecs.count() == N0 + NB
    gt1 = _gt(q, base.unionByName(b1))
    assert _recall(spark, q, vecs, edges, gt1) >= 0.8


def test_update_same_id_new_vector_batch_wins_and_stale_edges_drop(
    spark, corpus, tmp_path
):
    """Re-ingesting a stored id with a DIFFERENT vector: the batch side
    wins deterministically, the id's old edges (stale dists) are gone,
    and every surviving edge incident to it matches the new geometry."""
    import numpy as np

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "upd_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)

    upd_id = 7
    newvec = [float(i % 3) + 0.25 for i in range(D)]
    upd = spark.createDataFrame([(upd_id, newvec)], "id long, vec array<double>")
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "upsert"
    vecs, edges, _ = load_graph_artifact(spark, art)
    got = vecs.where(F.col("id") == upd_id).collect()
    assert len(got) == 1 and list(got[0]["vec"]) == newvec  # batch won

    # every edge touching upd_id must price the NEW vector: recompute
    # cosine dists from the stored vectors and compare
    vmap = {r["id"]: np.array(r["vec"]) for r in vecs.collect()}

    def cos(a, b):
        return 1.0 - float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    touching = edges.where(
        (F.col("src") == upd_id) | (F.col("dst") == upd_id)
    ).collect()
    assert touching, "updated node must stay wired into the graph"
    for r in touching:
        want = cos(vmap[r["src"]], vmap[r["dst"]])
        assert abs(r["dist"] - want) < 1e-9, (r, want)

    # replay of the update is detected as already applied
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "noop"


def test_in_batch_duplicate_ids_resolve_deterministically(spark, tmp_path):
    """One batch carrying conflicting payloads for the same id resolves
    to the greatest vec by array ordering — never partition-order."""
    base = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "id long, vec array<double>"
    )
    art = str(tmp_path / "dup_art")
    init_graph_artifact(base, art, M0=4, M1=2)
    dup = spark.createDataFrame(
        [(50, [1.0, 2.0]), (50, [3.0, 4.0]), (50, [2.0, 9.0])],
        "id long, vec array<double>",
    ).repartition(3)
    assert upsert_graph_artifact(dup, art, refresh_factor=10.0) == "upsert"
    vecs, _, _ = load_graph_artifact(spark, art)
    got = vecs.where(F.col("id") == 50).collect()
    assert len(got) == 1 and list(got[0]["vec"]) == [3.0, 4.0]


def test_crash_between_vector_and_edge_swap_heals_on_replay(
    spark, corpus, tmp_path, monkeypatch
):
    """Vectors swapped, edges not (the cross-artifact crash window):
    the replayed batch must land on the needs_edges path and complete
    the graph instead of no-op'ing on the half-applied state."""
    import vectordbindexing_spark.streaming.graph_ingest as gi

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "crash_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)

    _crash_at(
        monkeypatch, "append", gi.FWD,
        "simulated crash before the forward delta append",
    )
    with pytest.raises(OSError):
        upsert_graph_artifact(b1, art, refresh_factor=10.0)
    monkeypatch.undo()

    vecs, edges, _ = load_graph_artifact(spark, art)
    assert vecs.count() == N0 + NB  # vectors landed
    assert edges.where(F.col("src") >= N0).count() == 0  # edges did not

    # stream replay: detected as incomplete, completes the upsert
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"
    vecs, edges, _ = load_graph_artifact(spark, art)
    gt1 = _gt(q, base.unionByName(b1))
    assert _recall(spark, q, vecs, edges, gt1) >= 0.8
    # and only now is the batch a pure replay
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "noop"


def test_upsert_planner_route_past_exact_limit(spark, corpus, tmp_path):
    """Forcing exact_base_limit below the corpus size sends the
    batch-vs-union kNN through the maintained IVF mirror (the 100 TB
    route; the mirror is built lazily by this first past-limit
    upsert); inserted nodes must still come back servable."""
    full, base, b1, b2, q = corpus
    art = str(tmp_path / "planner_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)
    assert (
        upsert_graph_artifact(
            b1, art, refresh_factor=10.0,
            exact_base_limit=50,
        )
        == "upsert"
    )
    vecs, edges, _ = load_graph_artifact(spark, art)
    assert vecs.count() == N0 + NB
    # inserted nodes are wired in both directions
    assert edges.where((F.col("layer") == 0) & (F.col("src") >= N0)).count() > 0
    assert edges.where((F.col("layer") == 0) & (F.col("dst") >= N0)).count() > 0
    gt1 = _gt(q, base.unionByName(b1))
    r = _recall(spark, q, vecs, edges, gt1)
    assert r >= 0.7, r


def test_crash_between_vec_and_edge_swap_on_UPDATE_heals_on_replay(
    spark, corpus, tmp_path, monkeypatch
):
    """The update-crash hole: vectors swapped (vec == stored on
    replay, so ``changed`` is empty) while the updated id's OLD
    adjacency is still live (so ``needs_edges`` misses it too). The
    pending ledger must re-queue the id, drop its stale-geometry
    edges, and rebuild them against the new vector."""
    import numpy as np

    import vectordbindexing_spark.streaming.graph_ingest as gi

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "upd_crash_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)

    upd_id = 11
    newvec = [float((i * 7) % 5) + 0.5 for i in range(D)]
    upd = spark.createDataFrame(
        [(upd_id, newvec)], "id long, vec array<double>"
    )

    _crash_at(
        monkeypatch, "append", gi.FWD,
        "simulated crash before the forward delta append",
    )
    with pytest.raises(OSError):
        upsert_graph_artifact(upd, art, refresh_factor=10.0)
    monkeypatch.undo()

    vecs, edges, meta = load_graph_artifact(spark, art)
    got = vecs.where(F.col("id") == upd_id).collect()
    assert len(got) == 1 and list(got[0]["vec"]) == newvec  # vector landed
    assert meta["pending"]["ids"] == [upd_id]  # ledger survived the crash
    assert meta["pending"]["replaced"] == [upd_id]

    # replay must NOT no-op on the half-applied update
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "upsert"
    vecs, edges, meta = load_graph_artifact(spark, art)
    assert "pending" not in meta  # ledger cleared on commit
    vmap = {r["id"]: np.array(r["vec"]) for r in vecs.collect()}

    def cos(a, b):
        return 1.0 - float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    touching = edges.where(
        (F.col("src") == upd_id) | (F.col("dst") == upd_id)
    ).collect()
    assert touching, "updated node must stay wired into the graph"
    for r in touching:
        want = cos(vmap[r["src"]], vmap[r["dst"]])
        assert abs(r["dist"] - want) < 1e-9, (r, want)

    # only now is the batch a detected pure replay
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "noop"


def test_rev_edges_mirror_forward_and_n_live_tracks(spark, corpus, tmp_path):
    """The resolved inverted log (base + delta adds − tombstones) must
    stay an exact row mirror of the forward artifact across init,
    upsert and update; n_live is maintained incrementally and matches
    the real corpus size."""
    import vectordbindexing_spark.streaming.graph_ingest as gi

    from vectordbindexing_spark.streaming.graph_ingest import (
        rev_edges_resolved,
    )

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "mirror_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)

    def rows(path):
        return sorted(
            (r["layer"], r["src"], r["dst"], r["dist"])
            for r in gi.edges_resolved(spark, path).collect()
        )

    def rev_rows():
        return sorted(
            (r["layer"], r["src"], r["dst"], r["dist"])
            for r in rev_edges_resolved(spark, art).collect()
        )

    assert rows(art) == rev_rows()
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"
    assert rows(art) == rev_rows()
    upd = spark.createDataFrame(
        [(3, [0.75] * D)], "id long, vec array<double>"
    )
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "upsert"
    assert rows(art) == rev_rows()
    vecs, _, meta = load_graph_artifact(spark, art)
    assert meta["n_live"] == vecs.count() == N0 + NB






def test_replay_noop_reads_only_the_batch_bucket_footprint(
    spark, corpus, tmp_path
):
    """The replay-detection scans (stored-id anti-join, stored-vector
    compare, adjacency probe) must partition-prune to the batch's own
    buckets — unpruned, a no-op replay pays full corpus scans, the
    exact classification regression this pins against. Corrupting the
    DATA region (footers left intact, so schema inference still works)
    of every vectors/edges parquet file OUTSIDE a one-id batch's
    footprint makes any unpruned scan throw; a clean "noop" proves the
    prune."""
    import glob
    import os

    from pyspark.sql import functions as SF

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "prune_art")
    init_graph_artifact(base, art, M0=M0, M1=M1, buckets=8)
    one = b1.limit(1).localCheckpoint(eager=True)
    assert upsert_graph_artifact(one, art, refresh_factor=10.0) == "upsert"

    keep_bkt = one.select(
        SF.pmod(SF.xxhash64(SF.col("id")), SF.lit(8)).cast("int")
    ).first()[0]
    corrupted = 0
    for sub in ("vectors", "edges"):
        for d in glob.glob(os.path.join(art, sub, "bucket=*")):
            if int(d.rsplit("=", 1)[1]) == keep_bkt:
                continue
            for f in glob.glob(os.path.join(d, "*.parquet")):
                size = os.path.getsize(f)
                if size < 2600:  # too small to corrupt clear of footer
                    continue
                with open(f, "r+b") as fh:  # zero data pages only
                    fh.seek(4)
                    fh.write(b"\x00" * (size - 2500))
                corrupted += 1
    assert corrupted >= 8  # the corpus really extends past the batch
    # sanity: an UNpruned read of a corrupted slice really does throw
    # (a real column read — count() alone is answered from footers)
    with pytest.raises(Exception):
        spark.read.parquet(art + "/vectors").agg(
            SF.sum("id")
        ).collect()

    assert upsert_graph_artifact(one, art, refresh_factor=10.0) == "noop"


def test_rev_delta_is_append_only_and_compaction_folds(
    spark, corpus, tmp_path, monkeypatch
):
    """An upsert must never rewrite a rev base bucket (that third
    dirty-fraction swap was the r10 write-amplification finding) —
    only d<seq> files appear under rev_delta/. Once the log outgrows
    the threshold, the NEXT upsert folds it back into the base and
    the resolved mirror is preserved throughout."""
    import glob
    import os

    import vectordbindexing_spark.streaming.graph_ingest as gi
    from vectordbindexing_spark.streaming.graph_ingest import (
        rev_edges_resolved,
    )

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "delta_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)
    base_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(art, "rev_edges", "**", "*.parquet"),
                           recursive=True)
    }
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"
    # base untouched, delta appended
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(art, "rev_edges", "**", "*.parquet"),
                           recursive=True)
    }
    assert after == base_files
    adds = glob.glob(os.path.join(art, "rev_delta", "adds", "**",
                                  "d1-*.parquet"), recursive=True)
    assert len(adds) > 0
    assert os.path.exists(
        os.path.join(art, "rev_delta", "tombs", "d1.parquet")
    )

    def fwd_rows():
        return sorted(
            (r["layer"], r["src"], r["dst"])
            for r in gi.edges_resolved(spark, art).collect()
        )

    def rev_rows():
        return sorted(
            (r["layer"], r["src"], r["dst"])
            for r in rev_edges_resolved(spark, art).collect()
        )

    assert fwd_rows() == rev_rows()

    # force the fold: threshold 0 -> the next upsert compacts FIRST
    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    upd = spark.createDataFrame(
        [(5, [0.5] * D)], "id long, vec array<double>"
    )
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "upsert"
    # the fold consumed d1; the new batch appended d2 only
    assert not glob.glob(os.path.join(art, "rev_delta", "adds", "**",
                                      "d1-*.parquet"), recursive=True)
    assert glob.glob(os.path.join(art, "rev_delta", "adds", "**",
                                  "d2-*.parquet"), recursive=True)
    assert fwd_rows() == rev_rows()
    import json as _json

    meta = _json.load(open(art + "/meta.json"))
    assert meta["rev_seq"] == 2 and meta.get("pending") is None


def test_half_finished_compaction_is_exact_and_self_heals(
    spark, corpus, tmp_path, monkeypatch
):
    """Crash between the fold's base swap and the delta removal: the
    resolved view must stay exact (folded base rows keep their seq;
    leftover delta rows are identical payloads deduped on key), and
    the next upsert completes the fold."""
    import glob
    import os

    import vectordbindexing_spark.streaming.graph_ingest as gi
    from vectordbindexing_spark.streaming.graph_ingest import (
        rev_edges_resolved,
    )

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "halffold_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"

    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    _crash_at(
        monkeypatch, "clear", gi.REV,
        "simulated crash before the delta removal", once=True,
    )
    upd = spark.createDataFrame(
        [(5, [0.5] * D)], "id long, vec array<double>"
    )
    with pytest.raises(OSError):
        upsert_graph_artifact(upd, art, refresh_factor=10.0)

    # half-folded: base rewritten AND delta still present — resolution
    # must dedup to the exact mirror of the (untouched) forward edges
    assert glob.glob(os.path.join(art, "rev_delta", "adds", "**",
                                  "*.parquet"), recursive=True)
    fwd = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in gi.edges_resolved(spark, art).collect()
    )
    rev = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in rev_edges_resolved(spark, art).collect()
    )
    assert fwd == rev

    # next upsert re-folds (idempotent) and completes the batch
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "upsert"
    fwd = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in gi.edges_resolved(spark, art).collect()
    )
    rev = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in rev_edges_resolved(spark, art).collect()
    )
    assert fwd == rev


def test_crash_before_rev_delta_write_heals_on_replay(
    spark, corpus, tmp_path, monkeypatch
):
    """Vectors and forward edges committed, rev delta not: the replay
    must land on the pending-heal path, pre-clear this seq's files and
    restore the mirror."""
    import vectordbindexing_spark.streaming.graph_ingest as gi
    from vectordbindexing_spark.streaming.graph_ingest import (
        rev_edges_resolved,
    )

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "revcrash_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)

    _crash_at(
        monkeypatch, "append", gi.REV,
        "simulated crash before the rev delta write",
    )
    with pytest.raises(OSError):
        upsert_graph_artifact(b1, art, refresh_factor=10.0)
    monkeypatch.undo()

    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"
    fwd = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in gi.edges_resolved(spark, art).collect()
    )
    rev = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in rev_edges_resolved(spark, art).collect()
    )
    assert fwd == rev
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "noop"




def test_write_rev_delta_moves_every_part_file(spark, tmp_path, monkeypatch):
    """If the flat delta write ever emits >1 part file (coalesce(1)
    made a no-op — AQE/config variation), every part must be moved
    into the log — dropping parts [1:] silently loses delta rows.
    Simulated by making coalesce a no-op so the 8 input partitions
    each write their own part file."""
    import os

    from pyspark.sql.classic.dataframe import DataFrame

    import vectordbindexing_spark.streaming.graph_ingest as gi

    adds = spark.createDataFrame(
        [(0, i, i % 5 + 100, 0.25) for i in range(64)],
        "layer int, src long, dst long, dist double",
    ).repartition(8).localCheckpoint(eager=True)
    dirty = spark.createDataFrame([(i,) for i in range(64)], "id long")

    monkeypatch.setattr(
        DataFrame, "coalesce", lambda self, *a, **kw: self
    )
    appended = deltalog.append(gi.REV, str(tmp_path), 1, adds, dirty, buckets=2)
    monkeypatch.undo()

    adds_dir = os.path.join(str(tmp_path), "rev_delta", "adds")
    import glob as _glob

    parts = _glob.glob(os.path.join(adds_dir, "d1-*.parquet"))
    assert len(parts) > 2  # the multi-part layout actually materialized
    got = spark.read.schema(gi.REV.adds_schema).parquet(adds_dir)
    assert got.count() == 64
    assert appended > 0


def test_fwd_delta_is_append_only_serving_resolves_and_folds(
    spark, corpus, tmp_path, monkeypatch
):
    """An upsert must never rewrite a forward base bucket (r11
    measurement: the dirty-bucket swap rewrote 91% of the artifact per
    1000-node update at 2M — batch·2·M0 + losers srcs saturate any
    bucket count) — adds land in fwd_delta/, serving resolves
    base ∪ delta − tombstones, and the log folds back into the base
    past the threshold."""
    import glob
    import json as _json
    import os

    import vectordbindexing_spark.streaming.graph_ingest as gi

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "fwd_delta_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)
    base_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(art, "edges", "**", "*.parquet"),
                           recursive=True)
    }
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(art, "edges", "**", "*.parquet"),
                           recursive=True)
    }
    assert after == base_files  # base untouched, delta appended
    assert glob.glob(os.path.join(art, "fwd_delta", "adds", "**",
                                  "d1-*.parquet"), recursive=True)
    assert os.path.exists(
        os.path.join(art, "fwd_delta", "tombs", "d1.parquet")
    )
    # serving reads the resolved view; inserted nodes are reachable
    vecs, edges, _ = load_graph_artifact(spark, art)
    gt1 = _gt(q, base.unionByName(b1))
    assert _recall(spark, q, vecs, edges, gt1) >= 0.8

    # force the fold: threshold 0 → the next upsert compacts FIRST
    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    upd = spark.createDataFrame(
        [(5, [0.5] * D)], "id long, vec array<double>"
    )
    assert upsert_graph_artifact(upd, art, refresh_factor=10.0) == "upsert"
    monkeypatch.undo()
    assert not glob.glob(os.path.join(art, "fwd_delta", "adds", "**",
                                      "d1-*.parquet"), recursive=True)
    assert glob.glob(os.path.join(art, "fwd_delta", "adds", "**",
                                  "d2-*.parquet"), recursive=True)
    # the resolved forward view still mirrors the resolved inverse
    fwd = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in gi.edges_resolved(spark, art).collect()
    )
    rev = sorted(
        (r["layer"], r["src"], r["dst"])
        for r in gi.rev_edges_resolved(spark, art).collect()
    )
    assert fwd == rev
    meta = _json.load(open(art + "/meta.json"))
    assert meta.get("pending") is None
    assert meta["fwd_base_bytes"] > 0 and meta["fwd_delta_bytes"] > 0


def test_fwd_tombs_without_adds_serves_instead_of_throwing(
    spark, corpus, tmp_path
):
    """The fwd-delta crash window: deltalog.append lands the global
    tombstone file BEFORE the adds, so a crash between the two (or a
    batch whose merged adjacency is empty) leaves fwd_delta/tombs
    populated with fwd_delta/adds absent. delta_empty
    is then False, and an unguarded adds read would throw
    PATH_NOT_FOUND on EVERY serving read until the batch replays —
    the resolved view must instead read the adds as empty and keep
    serving base − tombstoned srcs."""
    import shutil

    import vectordbindexing_spark.streaming.graph_ingest as gi

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "fwd_crash_art")
    init_graph_artifact(base, art, M0=M0, M1=M1)
    assert upsert_graph_artifact(b1, art, refresh_factor=10.0) == "upsert"

    fwd_adds, fwd_tombs = deltalog.paths(gi.FWD, art)
    tomb_srcs = {
        r["src"]
        for r in spark.read.parquet(fwd_tombs).select("src").collect()
    }
    assert tomb_srcs  # the window is only interesting with tombstones
    shutil.rmtree(fwd_adds)  # simulate: tombs moved, adds never landed

    fwd = gi.edges_resolved(spark, art)
    fwd_srcs = {r["src"] for r in fwd.select("src").distinct().collect()}
    # no throw, and every tombstoned src is masked (base rows are seq 0)
    assert not (fwd_srcs & tomb_srcs)
    base_srcs = {
        r["src"]
        for r in spark.read.parquet(art + "/edges")
        .select("src").distinct().collect()
    }
    assert fwd_srcs == base_srcs - tomb_srcs
    # the serving entry point reads the same resolved view
    vecs, edges, _ = load_graph_artifact(spark, art)
    assert edges.count() == fwd.count()


def _ivf_state(spark, art):
    import vectordbindexing_spark.streaming.graph_ingest as gi

    return {
        (r["id"], tuple(r["vec"]))
        for r in deltalog.resolve(spark, gi.IVF, art).collect()
    }


def _vec_state(spark, art):
    return {
        (r["id"], tuple(float(x) for x in r["vec"]))
        for r in spark.read.parquet(art + "/vectors")
        .select("id", "vec").collect()
    }


def test_maintained_ivf_mirror_stays_in_sync_and_append_only(
    spark, corpus, tmp_path, monkeypatch
):
    """Past the exact limit the batch kNN reads the maintained IVF
    cells mirror instead of re-fitting/re-assigning the corpus per
    micro-batch (the r11 2M residual floor). The mirror must (a) be
    built at init when the corpus already exceeds the limit, (b) stay
    an exact resolved copy of the vectors artifact across inserts,
    updates and crash replays, (c) take batch rows as LSM delta
    appends — never a cell rewrite — and (d) fold back into its base
    past the threshold with state intact."""
    import glob
    import json as _json
    import os

    import vectordbindexing_spark.streaming.graph_ingest as gi

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "ivf_mirror")
    init_graph_artifact(base, art, M0=M0, M1=M1, exact_base_limit=100)
    meta = _json.load(open(art + "/meta.json"))
    assert meta["ivf"]["nlist"] >= 16 and meta["ivf"]["base_bytes"] > 0
    assert _ivf_state(spark, art) == _vec_state(spark, art)
    base_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(
            os.path.join(art, "ivf_cells", "**", "*.parquet"), recursive=True
        )
    }

    # insert batch: mirror follows, base cells untouched (append-only)
    assert (
        upsert_graph_artifact(
            b1, art, refresh_factor=10.0, exact_base_limit=100
        )
        == "upsert"
    )
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(
            os.path.join(art, "ivf_cells", "**", "*.parquet"), recursive=True
        )
    }
    assert after == base_files
    assert glob.glob(
        os.path.join(art, "ivf_delta", "adds", "**", "d1-*.parquet"),
        recursive=True,
    )
    assert _ivf_state(spark, art) == _vec_state(spark, art)

    # update batch (changed vector, likely a cell move): batch wins
    upd = spark.createDataFrame(
        [(7, [0.25] * D)], "id long, vec array<double>"
    )
    assert (
        upsert_graph_artifact(
            upd, art, refresh_factor=10.0, exact_base_limit=100
        )
        == "upsert"
    )
    assert _ivf_state(spark, art) == _vec_state(spark, art)

    # replay of a fully-committed batch: noop, mirror untouched
    pre = _ivf_state(spark, art)
    assert (
        upsert_graph_artifact(
            upd, art, refresh_factor=10.0, exact_base_limit=100
        )
        == "noop"
    )
    assert _ivf_state(spark, art) == pre

    # forced fold: delta subsumed into the base, state identical
    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    upd2 = spark.createDataFrame(
        [(9, [0.75] * D)], "id long, vec array<double>"
    )
    assert (
        upsert_graph_artifact(
            upd2, art, refresh_factor=10.0, exact_base_limit=100
        )
        == "upsert"
    )
    monkeypatch.undo()
    assert not glob.glob(
        os.path.join(art, "ivf_delta", "adds", "**", "d1-*.parquet"),
        recursive=True,
    )
    assert _ivf_state(spark, art) == _vec_state(spark, art)


def test_ivf_mirror_crash_before_delta_append_heals_on_replay(
    spark, corpus, tmp_path, monkeypatch
):
    """Crash window: fwd/rev deltas landed but the IVF delta append
    never ran (ledger still pending). The replay must pre-clear and
    re-append so the mirror converges back to the vectors artifact."""
    import vectordbindexing_spark.streaming.graph_ingest as gi

    full, base, b1, b2, q = corpus
    art = str(tmp_path / "ivf_crash")
    init_graph_artifact(base, art, M0=M0, M1=M1, exact_base_limit=100)

    _crash_at(
        monkeypatch, "append", gi.IVF,
        "simulated crash before the IVF delta append", once=True,
    )
    with pytest.raises(OSError):
        upsert_graph_artifact(
            b1, art, refresh_factor=10.0, exact_base_limit=100
        )
    # replay heals: pending ledger re-queues, mirror converges
    assert (
        upsert_graph_artifact(
            b1, art, refresh_factor=10.0, exact_base_limit=100
        )
        == "upsert"
    )
    monkeypatch.undo()
    assert _ivf_state(spark, art) == _vec_state(spark, art)
    # and serving still works over the healed artifact
    vecs, edges, _ = load_graph_artifact(spark, art)
    gt1 = _gt(q, base.unionByName(b1))
    assert _recall(spark, q, vecs, edges, gt1) >= 0.6


def _resolved_rows(spark, art):
    from vectordbindexing_spark.streaming.graph_ingest import (
        edges_resolved,
        rev_edges_resolved,
    )

    return {
        name: sorted(
            (r["layer"], r["src"], r["dst"], r["dist"]) for r in fn(spark, art)
            .select("layer", "src", "dst", "dist").collect()
        )
        for name, fn in (("fwd", edges_resolved), ("rev", rev_edges_resolved))
    }


def test_driver_batch_knn_matches_spark_exact_route(
    spark, corpus, tmp_path, monkeypatch
):
    """While the union is within BLOCKED_BUILD_LIMIT and the batch's
    distance matrix is one block, the upsert scores its batch on the
    driver against the pyarrow-read live vectors; forcing the Spark
    blocked exact route (limit 0, around the upserts only) must resolve
    to the same adjacency through an insert batch and an update batch:
    identical (layer, src, dst) in both logs, dists within 1e-12. A
    zero vector (cosine NaN against everything) rides in each batch —
    inserted fresh, then an update turning a stored row to zero — and
    both routes drop its non-finite distances alike."""
    import vectordbindexing_spark.operators.graph as graph

    full, base, b1, b2, q = corpus
    zero = [0.0] * D
    ins = b1.unionByName(
        spark.createDataFrame([(N0 + 3 * NB, zero)], b1.schema)
    )
    # ids 0..19 re-ingested with other rows' vectors, id 20 zeroed: an
    # update batch
    upd = full.where(F.col("id") >= N0 + NB).limit(20).select(
        (F.col("id") - (N0 + NB)).alias("id"), "vec"
    ).unionByName(
        spark.createDataFrame([(20, zero)], b1.schema)
    ).localCheckpoint(eager=True)
    got = {}
    for route, limit in (("driver", None), ("spark", 0)):
        art = str(tmp_path / route)
        init_graph_artifact(base, art, M0=M0, M1=M1, buckets=8)
        for b in (ins, upd):
            with monkeypatch.context() as m:
                if limit is not None:
                    m.setattr(graph, "BLOCKED_BUILD_LIMIT", limit)
                assert upsert_graph_artifact(b, art, refresh_factor=10.0) == (
                    "upsert"
                )
        got[route] = _resolved_rows(spark, art)
    for log in ("fwd", "rev"):
        drv, spk = got["driver"][log], got["spark"][log]
        assert [r[:3] for r in drv] == [r[:3] for r in spk], log
        assert max(abs(a[3] - b[3]) for a, b in zip(drv, spk)) <= 1e-12
        for zid in (N0 + 3 * NB, 20):
            assert all(zid not in r[1:3] for r in drv), (log, zid)


@pytest.mark.parametrize("vec_type", ["float", "double"])
def test_read_parquet_schema_equals_spark_inference(
    spark, tmp_path, monkeypatch, vec_type
):
    """atomic.read_parquet's footer-derived schema (plus the partition
    column as int) must be the schema Spark infers, on every dir it
    reads: vectors, unfolded bases (no seq) and folded ones (with seq)
    of the edge logs and the IVF cells mirror, and the band index."""
    import os

    import numpy as np

    from vectordbindexing_spark.streaming.atomic import read_parquet
    from vectordbindexing_spark.streaming.neardup import (
        init_neardup_artifact,
    )

    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)],
        f"id long, vec array<{vec_type}>",
    )
    art = str(tmp_path / "art")
    init_graph_artifact(base, art, M0=4, M1=2, buckets=4, exact_base_limit=10)
    dirs = [("vectors", "bucket"), ("edges", "bucket"),
            ("rev_edges", "bucket"), ("ivf_cells", "cell")]

    def check():
        for sub, part in dirs:
            p = os.path.join(art, sub)
            assert read_parquet(spark, p, part).schema == (
                spark.read.parquet(p).schema
            ), sub

    check()
    assert "seq" not in spark.read.parquet(os.path.join(art, "edges")).columns
    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0)
    for lo in (100, 120):  # the second upsert folds the first one's logs
        b = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)])
             for i in range(lo, lo + 5)],
            f"id long, vec array<{vec_type}>",
        )
        assert upsert_graph_artifact(b, art, exact_base_limit=10,
                                     refresh_factor=10.0) == "upsert"
    assert "seq" in spark.read.parquet(os.path.join(art, "edges")).columns
    check()

    nd = str(tmp_path / "nd")
    init_neardup_artifact(
        spark.createDataFrame(
            [(i, f"doc {i} text body") for i in range(10)],
            "doc_id long, text string",
        ),
        nd, buckets=4,
    )
    bands = os.path.join(nd, "bands")
    assert read_parquet(spark, bands, "bucket").schema == (
        spark.read.parquet(bands).schema
    )
