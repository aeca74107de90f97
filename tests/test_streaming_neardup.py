"""Streaming MinHash near-dup maintainer: every batch's detected pairs
equal the batch operator run over the union (restricted to pairs
touching the upserted docs), updates are batch-wins with stale band
cleanup, and the cross-artifact crash window heals on replay."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from test_streaming_artifacts import _crash_at
from vectordbindexing_spark.operators.dedup import minhash_dedup_pairs
from vectordbindexing_spark.streaming import deltalog
from vectordbindexing_spark.streaming.neardup import (
    init_neardup_artifact,
    neardup_stream,
    upsert_neardup_artifact,
)

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]


def _text(i: int, mutate_at: int | None = None) -> str:
    # group-tagged tokens: groups share no shingles, so near-dups only
    # occur within a group (one-word mutations of the group base text)
    toks = [f"{WORDS[j % len(WORDS)]}{i}" for j in range(30)]
    if mutate_at is not None:
        toks[mutate_at] = "zulu"
    return " ".join(toks)


def _mk_docs(spark):
    """60 docs in 20 near-dup triples: doc 3k+1 and 3k+2 are one-word
    mutations of doc 3k (Jaccard well above 0.5), different k's are
    unrelated."""
    rows = []
    for k in range(20):
        rows.append((3 * k, _text(k)))
        rows.append((3 * k + 1, _text(k, mutate_at=5)))
        rows.append((3 * k + 2, _text(k, mutate_at=20)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def docs(spark):
    return _mk_docs(spark).localCheckpoint(eager=True)


def _split(docs):
    base = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)
    return base, b1, b2


def _pairs_set(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def _state(spark, art):
    from vectordbindexing_spark.streaming.neardup import bands_resolved

    sig = spark.read.parquet(os.path.join(art, "signatures"))
    bands = bands_resolved(spark, art)
    return (
        {(r.did, tuple(r.sig)) for r in sig.select("did", "sig").collect()},
        {
            (r.did, r.band_idx, r.band_key)
            for r in bands.select("did", "band_idx", "band_key").collect()
        },
    )


def test_upserts_match_batch_operator_on_union(spark, docs, tmp_path):
    base, b1, b2 = _split(docs)
    art = str(tmp_path / "nd")
    init_neardup_artifact(base, art, buckets=16)
    got = _pairs_set(upsert_neardup_artifact(b1, art)) | _pairs_set(
        upsert_neardup_artifact(b2, art)
    )
    exp = _pairs_set(
        minhash_dedup_pairs(docs).where(
            (F.col("id_a") % 3 != 0) | (F.col("id_b") % 3 != 0)
        )
    )
    assert got == exp and len(got) > 0
    # fully-committed replay: zero rows, state untouched
    pre = _state(spark, art)
    assert upsert_neardup_artifact(b2, art).count() == 0
    assert _state(spark, art) == pre


def test_artifact_state_equals_bulk_init_of_union(spark, docs, tmp_path):
    base, b1, b2 = _split(docs)
    art = str(tmp_path / "inc")
    ref = str(tmp_path / "bulk")
    init_neardup_artifact(base, art, buckets=16)
    upsert_neardup_artifact(b1, art)
    upsert_neardup_artifact(b2, art)
    init_neardup_artifact(docs, ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["n_docs"] == docs.count() and meta["pending"] is None


def test_update_batch_wins_and_stale_bands_drop(spark, docs, tmp_path):
    base, b1, _ = _split(docs)
    art = str(tmp_path / "upd")
    init_neardup_artifact(base, art, buckets=16)
    # doc 0 rewritten to an UNRELATED text (group 7's base text):
    # its old band rows must go, and it must now pair with group 7
    upd = spark.createDataFrame([(0, _text(7))], "doc_id long, text string")
    pairs = upsert_neardup_artifact(upd, art)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 21)}
    # state == bulk init over the latest-wins corpus
    latest = base.where(F.col("doc_id") != 0).unionByName(upd)
    ref = str(tmp_path / "updref")
    init_neardup_artifact(latest, ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)
    # n_docs unchanged by a pure update
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["n_docs"] == base.count()
    # a later batch near doc 0's NEW text pairs with it
    probe = spark.createDataFrame(
        [(999, _text(7, mutate_at=11))], "doc_id long, text string"
    )
    got = {(r.id_a, r.id_b) for r in upsert_neardup_artifact(probe, art).collect()}
    assert (0, 999) in got and (21, 999) in got


def test_in_batch_duplicate_ids_resolve_to_greatest_text(spark, tmp_path):
    base = spark.createDataFrame(
        [(100, _text(3))], "doc_id long, text string"
    )
    art = str(tmp_path / "dup")
    init_neardup_artifact(base, art, buckets=8)
    dup = spark.createDataFrame(
        [(7, _text(1)), (7, _text(2))], "doc_id long, text string"
    )
    upsert_neardup_artifact(dup, art)
    sig = spark.read.parquet(os.path.join(art, "signatures"))
    kept = sig.where(F.col("did") == 7).select("ghash").collect()
    assert len(kept) == 1
    winner = max(_text(1), _text(2))
    from vectordbindexing_spark.functions.hashing import det_hash60_py

    assert list(kept[0][0]) == sorted(
        {
            det_hash60_py(" ".join(winner.split()[j : j + 3]))
            for j in range(28)
        }
    )


def test_crash_between_sig_and_band_swap_heals_on_replay(
    spark, docs, tmp_path, monkeypatch
):
    """Signatures swapped, bands delta not appended: without the
    pending ledger the replay would see identical stored gram hashes,
    classify the batch as replayed, and serve a stale band index
    forever."""
    import vectordbindexing_spark.streaming.neardup as nd

    base, b1, b2 = _split(docs)
    art = str(tmp_path / "crash")
    init_neardup_artifact(base, art, buckets=16)

    _crash_at(
        monkeypatch, "append", nd.BANDS,
        "simulated crash before the bands delta append",
    )
    with pytest.raises(OSError):
        upsert_neardup_artifact(b1, art)
    monkeypatch.undo()

    meta = json.load(open(os.path.join(art, "meta.json")))
    assert set(meta["pending"]["ids"]) == {
        r[0] for r in b1.select("doc_id").collect()
    }
    # replay completes the upsert AND re-emits the batch's pairs
    pairs = upsert_neardup_artifact(b1, art)
    exp = _pairs_set(
        minhash_dedup_pairs(base.unionByName(b1)).where(
            (F.col("id_a") % 3 == 1) | (F.col("id_b") % 3 == 1)
        )
    )
    assert _pairs_set(pairs) == exp
    ref = str(tmp_path / "crashref")
    init_neardup_artifact(base.unionByName(b1), ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["pending"] is None and meta["n_docs"] == 40
    # only now is the batch a pure replay
    assert upsert_neardup_artifact(b1, art).count() == 0


def test_crash_on_UPDATE_heals_stale_bands_via_ledger_buckets(
    spark, docs, tmp_path, monkeypatch
):
    """Update crash window: after the signatures swap the old sig is
    unrecoverable — the replay's did-level tombstone must still kill
    the doc's stale band rows wherever they sit."""
    import vectordbindexing_spark.streaming.neardup as nd

    base, _, _ = _split(docs)
    art = str(tmp_path / "ucrash")
    init_neardup_artifact(base, art, buckets=16)
    upd = spark.createDataFrame([(0, _text(7))], "doc_id long, text string")

    _crash_at(
        monkeypatch, "append", nd.BANDS,
        "simulated crash before the bands delta append",
    )
    with pytest.raises(OSError):
        upsert_neardup_artifact(upd, art)
    monkeypatch.undo()

    upsert_neardup_artifact(upd, art)  # replay heals
    latest = base.where(F.col("doc_id") != 0).unionByName(upd)
    ref = str(tmp_path / "ucrashref")
    init_neardup_artifact(latest, ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)


def test_pending_ids_absent_from_batch_heal_from_stored_sigs(
    spark, docs, tmp_path, monkeypatch
):
    """A crashed batch whose replay never arrives (checkpoint wiped):
    the NEXT batch must still finish the pending ids' band work from
    their stored signatures, or the index serves a hole."""
    import vectordbindexing_spark.streaming.neardup as nd

    base, b1, b2 = _split(docs)
    art = str(tmp_path / "orphan")
    init_neardup_artifact(base, art, buckets=16)

    _crash_at(
        monkeypatch, "append", nd.BANDS,
        "simulated crash before the bands delta append",
    )
    with pytest.raises(OSError):
        upsert_neardup_artifact(b1, art)
    monkeypatch.undo()

    upsert_neardup_artifact(b2, art)  # different batch; b1 ids pending
    ref = str(tmp_path / "orphanref")
    init_neardup_artifact(docs, ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["pending"] is None and meta["n_docs"] == 60


def test_neardup_stream_end_to_end(spark, docs, tmp_path):
    base, b1, _ = _split(docs)
    art = str(tmp_path / "stream_art")
    init_neardup_artifact(base, art, buckets=16)
    feed = str(tmp_path / "feed")
    b1.write.parquet(feed + "/b1")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        feed + "/*"
    )
    sink = str(tmp_path / "pairs_out")
    q = neardup_stream(stream, art, str(tmp_path / "ckpt"), sink)
    q.awaitTermination(300)
    out = spark.read.parquet(sink)
    exp = _pairs_set(
        minhash_dedup_pairs(base.unionByName(b1)).where(
            (F.col("id_a") % 3 == 1) | (F.col("id_b") % 3 == 1)
        )
    )
    assert {(r.id_a, r.id_b, r.jaccard) for r in out.collect()} == exp


def test_replay_classification_reads_only_batch_bucket_footprint(
    spark, docs, tmp_path
):
    """The replay/update classification must partition-prune the
    signatures read to the batch dids' buckets (the graph maintainer
    lost exactly this prune in a refactor once — r10). Corrupting the
    data pages of every signature/bands bucket file OUTSIDE a one-doc
    batch's footprint makes any unpruned column read throw; the
    replay must still detect the no-op cleanly."""
    import glob

    from pyspark.sql import functions as SF

    # bigger docs than the shared fixture so every signature bucket
    # file is large enough to poison clear of its footer
    rows = [
        (d, " ".join(f"{WORDS[(d * 3 + j) % len(WORDS)]}{d}{j % 17}"
                     for j in range(200)))
        for d in range(200)
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    art = str(tmp_path / "prune_nd")
    init_neardup_artifact(base, art, buckets=8)
    one = spark.createDataFrame(
        [(1000, rows[0][1][:-8])], "doc_id long, text string"
    ).localCheckpoint(eager=True)
    assert upsert_neardup_artifact(one, art).count() >= 0

    keep_bkt = (
        one.select(
            SF.pmod(
                SF.xxhash64(SF.col("doc_id").cast("long")), SF.lit(8)
            ).cast("int")
        )
        .first()[0]
    )
    # bands probe footprint: the batch doc's band keys — corrupt only
    # signature buckets (the classification read); bands stay intact
    corrupted = 0
    for d in glob.glob(os.path.join(art, "signatures", "bucket=*")):
        if int(d.rsplit("=", 1)[1]) == keep_bkt:
            continue
        for f in glob.glob(os.path.join(d, "*.parquet")):
            size = os.path.getsize(f)
            if size < 2600:
                continue
            with open(f, "r+b") as fh:
                fh.seek(4)
                fh.write(b"\x00" * (size - 2500))
            corrupted += 1
    assert corrupted >= 3
    with pytest.raises(Exception):
        spark.read.parquet(os.path.join(art, "signatures")).agg(
            SF.sum("did")
        ).collect()

    assert upsert_neardup_artifact(one, art).count() == 0  # clean noop


def test_crash_before_sig_swap_on_update_emits_no_dead_text_pairs(
    spark, docs, tmp_path, monkeypatch
):
    """Crash between the ledger stamp and the SIGNATURES swap on an
    UPDATED doc: on replay the pending id is excluded from repl_ids
    (its stored sig may already be the new one), so only an anti-join
    of ALL work ids keeps its stale OLD band rows out of stored_bands.
    Without it, a fresh batch doc near the doc's OLD text verifies
    against grams that no longer exist and emits a pair for dead
    text."""
    import vectordbindexing_spark.streaming.neardup as nd

    base, _, _ = _split(docs)
    art = str(tmp_path / "stale_bands")
    init_neardup_artifact(base, art, buckets=16)
    batch = spark.createDataFrame(
        [
            (0, _text(7)),                    # UPDATE: doc 0 leaves group 0
            (999, _text(0, mutate_at=11)),    # fresh doc near doc 0's OLD text
        ],
        "doc_id long, text string",
    )

    calls = {"n": 0}
    real = nd.swap_in_buckets

    def boom(out, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:  # the signatures swap of the first attempt
            raise OSError("simulated crash before the signatures swap")
        return real(out, path, *a, **kw)

    monkeypatch.setattr(nd, "swap_in_buckets", boom)
    with pytest.raises(OSError):
        upsert_neardup_artifact(batch, art)
    monkeypatch.undo()

    pairs = {
        (r.id_a, r.id_b)
        for r in upsert_neardup_artifact(batch, art).collect()
    }
    # (0, 999) would pair doc 999 with doc 0's DEAD group-0 text
    assert pairs == {(0, 21)}
    latest = base.where(F.col("doc_id") != 0).unionByName(batch)
    ref = str(tmp_path / "stale_bands_ref")
    init_neardup_artifact(latest, ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)


def test_never_redelivered_fresh_pending_does_not_inflate_n_docs(
    spark, docs, tmp_path, monkeypatch
):
    """A crash BEFORE the signatures swap whose batch is never
    redelivered: the pending fresh ids were never stored and the heal
    finds nothing — n_docs must not count documents absent from the
    artifact."""
    import vectordbindexing_spark.streaming.neardup as nd

    base, b1, b2 = _split(docs)
    art = str(tmp_path / "orphan_fresh")
    init_neardup_artifact(base, art, buckets=16)

    calls = {"n": 0}
    real = nd.swap_in_buckets

    def boom(out, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:  # crash BEFORE the signatures swap
            raise OSError("simulated crash before the signatures swap")
        return real(out, path, *a, **kw)

    monkeypatch.setattr(nd, "swap_in_buckets", boom)
    with pytest.raises(OSError):
        upsert_neardup_artifact(b1, art)
    monkeypatch.undo()

    # b1's delivery never replays (checkpoint wiped); the next batch
    # clears the ledger without counting b1's unstored ids
    upsert_neardup_artifact(b2, art)
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["n_docs"] == 40 and meta["pending"] is None
    ref = str(tmp_path / "orphan_fresh_ref")
    init_neardup_artifact(base.unionByName(b2), ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)


def test_redelivered_batch_reemits_committed_pairs_exactly_once(
    spark, docs, tmp_path
):
    """The committed-artifact / unwritten-sink crash window: a replay
    carrying the SAME stream batch_id re-returns the persisted pairs
    (so the sink write can be retried), while a CONTENT duplicate under
    a NEW batch_id — whose pairs were already delivered — and the
    legacy no-batch_id path both return zero rows."""
    base, b1, _ = _split(docs)
    art = str(tmp_path / "reemit")
    init_neardup_artifact(base, art, buckets=16)

    first = _pairs_set(upsert_neardup_artifact(b1, art, batch_id=0))
    assert len(first) > 0
    again = _pairs_set(upsert_neardup_artifact(b1, art, batch_id=0))
    assert again == first
    assert upsert_neardup_artifact(b1, art, batch_id=1).count() == 0
    assert upsert_neardup_artifact(b1, art).count() == 0
    # the re-emits never mutate artifact state
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["pending"] is None and meta["last_emit"] == 0


def test_stream_sink_partition_is_idempotent_on_redelivery(
    spark, docs, tmp_path
):
    """Sink-side exactly-once: re-running a batch's sink write (the
    crash-after-append-before-checkpoint-commit window) overwrites the
    same batch partition instead of appending a second copy."""
    import vectordbindexing_spark.streaming.neardup as nd
    from vectordbindexing_spark.streaming.atomic import swap_in

    base, b1, _ = _split(docs)
    art = str(tmp_path / "sink_idem")
    init_neardup_artifact(base, art, buckets=16)
    sink = str(tmp_path / "pairs_sink")

    def deliver():
        pairs = upsert_neardup_artifact(b1, art, batch_id=0)
        swap_in(pairs, os.path.join(sink, "batch_id=0"))

    deliver()
    once = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(sink).collect()
    }
    deliver()  # full foreachBatch redelivery
    twice = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(sink).collect()
    }
    assert twice == once and len(once) > 0
    assert spark.read.parquet(sink).count() == len(once)




def test_bands_delta_is_append_only_and_compaction_folds(
    spark, docs, tmp_path, monkeypatch
):
    """An upsert must never rewrite a bands base bucket (the pre-LSM
    design's dirty fraction was ≈ ALL buckets per batch) — only
    d<seq> files appear under bands_delta/. Once the log outgrows the
    threshold, the NEXT upsert folds it back into the base; the
    resolved index equals the bulk init of the union throughout."""
    import glob

    import vectordbindexing_spark.streaming.neardup as nd

    base, b1, b2 = _split(docs)
    art = str(tmp_path / "bdelta")
    init_neardup_artifact(base, art, buckets=16)
    base_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(art, "bands", "**", "*.parquet"),
                           recursive=True)
    }
    upsert_neardup_artifact(b1, art)
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(art, "bands", "**", "*.parquet"),
                           recursive=True)
    }
    assert after == base_files  # base untouched, delta appended
    assert glob.glob(os.path.join(art, "bands_delta", "adds", "**",
                                  "d1-*.parquet"), recursive=True)
    assert os.path.exists(
        os.path.join(art, "bands_delta", "tombs", "d1.parquet")
    )
    ref = str(tmp_path / "bdelta_ref")
    init_neardup_artifact(base.unionByName(b1), ref, buckets=16)
    assert _state(spark, art) == _state(spark, ref)

    # force the fold: threshold 0 -> the next upsert compacts FIRST
    monkeypatch.setattr(deltalog, "COMPACT_FACTOR", 0.0)
    upsert_neardup_artifact(b2, art)
    monkeypatch.undo()
    # the fold consumed d1; the new batch appended d2 only
    assert not glob.glob(os.path.join(art, "bands_delta", "adds", "**",
                                      "d1-*.parquet"), recursive=True)
    assert glob.glob(os.path.join(art, "bands_delta", "adds", "**",
                                  "d2-*.parquet"), recursive=True)
    ref2 = str(tmp_path / "bdelta_ref2")
    init_neardup_artifact(docs, ref2, buckets=16)
    assert _state(spark, art) == _state(spark, ref2)
    meta = json.load(open(os.path.join(art, "meta.json")))
    assert meta["band_seq"] == 2 and meta["pending"] is None




def test_band_tombs_without_adds_serves_instead_of_throwing(
    spark, docs, tmp_path
):
    """The bands-delta crash window: deltalog.append lands the global
    did-tombstone file BEFORE the adds, so a crash between the two
    leaves bands_delta/tombs populated with bands_delta/adds absent.
    delta_empty is then False, and an unguarded adds read would throw
    PATH_NOT_FOUND on every bands_resolved / candidate
    probe until the batch replays — the resolved view must instead
    read the adds as empty and serve base − tombstoned dids."""
    import shutil

    import vectordbindexing_spark.streaming.neardup as nd

    base, b1, _ = _split(docs)
    art = str(tmp_path / "band_crash")
    init_neardup_artifact(base, art, buckets=16)
    # an UPDATE batch so the tombstones actually mask base rows
    upd = spark.createDataFrame([(0, _text(7))], "doc_id long, text string")
    upsert_neardup_artifact(upd, art)

    adds_dir, tombs_dir = deltalog.paths(nd.BANDS, art)
    tomb_dids = {
        r["did"]
        for r in spark.read.parquet(tombs_dir).select("did").collect()
    }
    assert 0 in tomb_dids
    shutil.rmtree(adds_dir)  # simulate: tombs moved, adds never landed

    bands = nd.bands_resolved(spark, art)
    dids = {r["did"] for r in bands.select("did").distinct().collect()}
    # no throw, and the tombstoned doc's stale base rows are masked
    assert not (dids & tomb_dids)
    base_dids = {
        r["did"]
        for r in spark.read.parquet(os.path.join(art, "bands"))
        .select("did").distinct().collect()
    }
    assert dids == base_dids - tomb_dids
