"""Streaming MinHash near-dup maintenance — a persisted banded-LSH
index over the document corpus, so each incoming micro-batch deduas
against everything seen so far WITHOUT recomputing corpus signatures.

The training-data-pipeline shape this serves: a crawl stream arrives
in batches; each batch must answer "which of these documents are
near-duplicates of anything already ingested (or of each other)?"
before it is admitted. The batch operator
(`operators.dedup.minhash_dedup_pairs`) answers that for a static
corpus in one pass; this maintainer keeps its intermediate state — the
per-document signature table and the banded LSH index — live on disk,
so the per-batch cost is |batch| signature kernels + band-bucket-pruned
probes, never O(corpus). Both sides share the same signature kernel
(`operators.dedup.minhash_signatures`), so a document hashes
identically whether it arrived in the backfill or a micro-batch; that
bit-equality is what replay detection and the DuckDB oracle parity
rest on.

State layout under ``index_dir`` (crash-safe via streaming/atomic.py):

* ``signatures`` — parquet partitioned by ``bucket =
  pmod(xxhash64(did), B)``: (did, ghash, sig) — the SORTED distinct
  60-bit gram hashes (det_hash60 — ~16 bytes per distinct gram, vs
  raw word-n-gram strings ≈ 3× the document text; at 100 TB the
  string layout would outweigh the corpus) + MinHash signature per
  live document (ghash is kept because the exact-Jaccard verify of
  FUTURE batches needs the stored side's gram-hash set; Jaccard over
  the hash sets equals Jaccard over the strings up to negligible
  60-bit collisions, and the DuckDB oracle replays the identical
  hashing). Reads are always partition-pruned to candidate buckets.
* ``bands`` — the LSH index BASE, parquet partitioned by ``bucket =
  pmod(xxhash64(band_idx, band_key), B)``: (did, band_idx, band_key)
  with a fold-watermark ``seq``. An incoming batch's band rows prune
  reads to exactly the buckets its own band keys hash into.
* ``bands_delta/`` — the bands index's :data:`BANDS` delta log
  (streaming/deltalog.py; it closed the r10 "bands swap rewrites whole
  dirty buckets" defect: with B buckets the dirty fraction is
  ≈ 1 − exp(−|batch|·bands/B) ≈ ALL of them at any real batch size). A
  batch replaces each work doc's whole band-row set, so one did-level
  tombstone per batch is exact wherever the stale rows sit — no old-sig
  recompute needed. Per-batch band write I/O is |batch|·bands rows.
* ``meta.json`` — {format, n_docs, n, num_hashes, bands, buckets,
  pending, last_emit}; atomic writes. An artifact without the current
  :data:`FORMAT` stamp fails to load (atomic.read_meta) — re-run init.
* ``last_pairs`` — the most recently committed batch's detected
  pairs, swapped in before the commit that clears the pending ledger;
  paired with ``last_emit`` (that batch's stream batch_id) it lets a
  redelivered batch re-emit pairs the sink never received
  (exactly-once, not at-most-once).

Per micro-batch (:func:`upsert_neardup_artifact`):

1. Batch signatures through the shared kernel; in-batch duplicate ids
   resolve deterministically to the greatest text (batch-wins, no
   ``F.first`` roulette).
2. Classify against the bucket-pruned stored signature slice:
   *replayed* (stored with identical gram hashes — skip, the
   detection already ran), *replaced* (stored with different gram
   hashes — update), *fresh*. All-replayed → ``noop``, artifact
   untouched.
3. Candidates: the work set's band rows equi-join the bucket-pruned
   live ``bands`` slice (cross pairs vs the corpus) plus an intra-work
   band self-join — candidate volume ∝ band collisions, never
   |batch|·|corpus|.
4. Exact-Jaccard verify (same arithmetic + rounding as the batch
   operator) over the work gram hashes and the candidate-bucket-pruned
   stored gram hashes; returned pairs are (least, greatest)-oriented, so
   the union of all batches' outputs equals the batch operator run
   over the final corpus, restricted to pairs touching ≥1 upserted
   doc (pinned by test; the driver contract's DuckDB oracle replays
   exactly that).
5. Commit: dirty-bucket swap of the work dids' ``signatures``
   buckets, then an APPEND to the bands delta log (tombstones first,
   then adds). Write I/O ∝ |batch|, never corpus size.

CRASH-WINDOW LEDGER (``meta["pending"]``, the graph maintainer's
contract): the work list (ids + replaced ids + the delta seq) is
stamped into meta.json atomically BEFORE the first swap and cleared by
the final meta write. A crash between the signatures swap and the
bands delta append would otherwise be invisible to step 2 on replay
(sig already matches → "replayed" → stale band rows served forever);
the ledger re-queues pending ids so their band rows are rebuilt
deterministically from the now-stored signatures, and the replay
pre-clears its own seq's half-written delta files before any probe
runs.

Reference study: `simple_sim_hash.py` (the reference's streaming-ish
fingerprint dedup loop) re-expressed as a partitioned artifact +
Structured Streaming maintainer; the banded-MinHash math follows
Broder '97 / Leskovec MMDS ch.3 like the batch operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectordbindexing_spark.plans.partitioning import local_rows_df
from vectordbindexing_spark.streaming import deltalog
from vectordbindexing_spark.streaming.atomic import (
    count_parquet_rows,
    read_meta,
    recover,
    recover_tree,
    swap_in,
    swap_in_buckets,
    write_json_atomic,
)
from vectordbindexing_spark.streaming.deltalog import bucket

#: on-disk layout version stamped into meta.json at init; bump it on
#: any layout change so older artifacts fail to load instead of being
#: misread
FORMAT = 1

DEFAULT_BUCKETS = 256

PAIR_SCHEMA = "id_a long, id_b long, jaccard double"

#: the band index's log, did-tombstoned and bucketed by band
BANDS = deltalog.LogSpec(
    base="bands",
    root="bands_delta",
    cols=("did", "band_idx", "band_key"),
    key="did",
    dedup=("did", "band_idx", "band_key"),
    part="bucket",
    bucket_by=("band_idx", "band_key"),
    adds_schema="did long, band_idx int, band_key string, seq long, "
    "bucket int",
    tombs_schema="did long, seq long",
    meta_prefix="band_",
)


def _paths(index_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(index_dir, "signatures"),
        os.path.join(index_dir, BANDS.base),
        os.path.join(index_dir, "meta.json"),
    )


def bands_resolved(spark: SparkSession, index_dir: str) -> DataFrame:
    """The full live band index (test/inspection surface) — must
    always equal the bulk init of the latest-wins corpus."""
    return deltalog.resolve(spark, BANDS, index_dir)


def init_neardup_artifact(
    df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    buckets: int = DEFAULT_BUCKETS,
    impl: str = "arrow",
) -> None:
    """Bulk-build the artifact from the initial corpus (the backfill)."""
    from vectordbindexing_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
    )

    os.makedirs(index_dir, exist_ok=True)
    sig_path, band_path, meta_path = _paths(index_dir)
    g = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n=n,
        num_hashes=num_hashes, impl=impl, hashed_grams=True,
    )
    br = band_rows(g, bands, num_hashes // bands).withColumn(
        "seq", F.lit(0).cast("long")
    )
    # both writes read the SAME eagerly-checkpointed signature frame
    # and land on distinct paths — overlap them so the second write's
    # tasks back-fill the first one's tail. Init is not crash-windowed
    # (same contract as init_graph_artifact: a backfill re-runs to
    # completion before first read), so ordering is free.
    deltalog.parallel_swaps(
        lambda: swap_in(
            g.withColumn("bucket", bucket(buckets, "did")),
            sig_path, coalesce=None, partition_by=["bucket"],
        ),
        lambda: swap_in(
            br.withColumn("bucket", bucket(buckets, *BANDS.bucket_by)),
            band_path, coalesce=None, partition_by=["bucket"],
        ),
    )
    meta = {
        "format": FORMAT,
        # post-swap doc count from parquet footers — no Spark job
        "n_docs": count_parquet_rows(sig_path),
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "buckets": buckets,
        "band_seq": 0,
    }
    deltalog.reset_bytes(BANDS, meta, index_dir)
    write_json_atomic(meta_path, meta)


def upsert_neardup_artifact(
    batch: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    impl: str = "arrow",
    batch_id: int | None = None,
) -> DataFrame:
    """One foreachBatch step. Folds the batch into the live index and
    returns the verified near-dup pairs the batch introduced —
    (id_a, id_b, jaccard) with id_a < id_b, covering batch-vs-corpus
    AND batch-vs-batch. The returned DataFrame is eagerly checkpointed
    BEFORE the swaps, so it never reads post-swap artifact state.

    ``batch_id`` (the stream path): when set, the batch's pairs are
    ALSO persisted into the artifact (``last_pairs`` + a ``last_emit``
    stamp in meta.json, written before the pending ledger clears), and
    a fully-replayed batch whose id matches ``last_emit`` RE-RETURNS
    those stored pairs instead of zero rows — the committed-artifact /
    unwritten-sink crash window (crash after the final meta write but
    before the sink append) no longer loses the batch's pairs, which
    is what makes :func:`neardup_stream` exactly-once rather than
    at-most-once. Without ``batch_id`` (direct library calls) a
    fully-replayed batch returns zero rows as before; an empty batch
    likewise (an empty original emitted nothing, so nothing is lost).
    """
    from vectordbindexing_spark.operators.dedup import (
        band_rows,
        exact_jaccard_pairs,
        minhash_signatures,
    )

    spark = batch.sparkSession
    sig_path, band_path, meta_path = _paths(index_dir)
    meta = read_meta(meta_path, FORMAT)
    recover_tree(sig_path)
    recover_tree(band_path)
    buckets = meta["buckets"]
    bands, num_hashes = meta["bands"], meta["num_hashes"]
    pend = meta.get("pending") or {"ids": [], "replaced": [], "fresh": []}
    # a crashed attempt's band-delta files must go BEFORE any probe
    # runs (probes need the PRE-batch band state); the replay rewrites
    # the same d<seq> names with its own recompute
    if pend.get("seq") is not None:
        deltalog.pre_clear(BANDS, index_dir, pend["seq"])
    band_seq = int(meta["band_seq"]) + 1

    # fold the outgrown log back into its base; deferred while a
    # pending batch needs healing
    if not pend["ids"]:
        deltalog.fold_if_due(spark, BANDS, index_dir, meta, meta_path)

    empty_pairs = local_rows_df(spark, [], PAIR_SCHEMA)
    # deterministic in-batch winner for duplicate ids: greatest text
    latest = (
        batch.select(
            F.col(id_col).cast("long").alias("did"),
            F.col(text_col).alias("text"),
        )
        .where(F.col("text").isNotNull())
        .groupBy("did")
        .agg(F.max("text").alias("text"))
    )
    g_new = minhash_signatures(
        latest, text_col="text", id_col="did", n=meta["n"],
        num_hashes=num_hashes, impl=impl, hashed_grams=True,
    )
    # ---- classification: the signature kernel runs ONCE (inside
    # minhash_signatures' eager checkpoint); one array-free collect
    # brings the batch ids + buckets driver-side, and one pruned probe
    # below settles fresh/changed/replayed — the ~5 further
    # fixed-latency jobs the old path paid per micro-batch (dids,
    # buckets, replaced, work-checkpoint, work-ids) are rebuilt
    # client-side instead (the graph maintainer's r12 fold, applied
    # here) ----
    id_rows = g_new.select(
        "did", bucket(buckets, "did").alias("_bkt")
    ).collect()
    batch_dids = [r["did"] for r in id_rows]
    new_bkt = {r["did"]: r["_bkt"] for r in id_rows}
    if not batch_dids and not pend["ids"]:
        return empty_pairs

    # classify against the did-bucket-pruned stored slice
    did_bkts = sorted(set(new_bkt.values()))
    stored_sig = spark.read.parquet(sig_path)
    stored_slice = (
        stored_sig.where(F.col("bucket").isin(did_bkts))
        if did_bkts
        else stored_sig.where(F.lit(False))
    )
    pending_ids = set(pend["ids"])
    # the probe: batch signatures vs stored — gram-set equality folds
    # INSIDE the join (both sides are canonical sorted-distinct
    # arrays, so array equality is set equality; the ghash arrays
    # never ship to the driver)
    probe_same: dict = {}
    if batch_dids:
        probe_same = {
            r["did"]: r["_same"]
            for r in g_new.select("did", "ghash")
            .join(
                stored_slice.select(
                    "did", F.col("ghash").alias("_sg")
                ),
                "did",
            )
            .select(
                "did", (F.col("_sg") == F.col("ghash")).alias("_same")
            )
            .collect()
        }
    # driver-side classify — identical semantics to the old Spark-side
    # filters: replayed = stored with identical gram hashes AND not in
    # the pending ledger (a pending id's bands swap may not have
    # landed — re-queue). Pending ids are excluded from the replaced
    # set: their stored sig may already be the NEW one (crash after
    # the signatures swap); their stale band rows die by this batch's
    # did-level tombstone, so no old band rows are recomputed.
    work_ids = sorted(
        i
        for i in batch_dids
        if probe_same.get(i) is not True or i in pending_ids
    )
    repl_ids = sorted(
        i for i in work_ids if i in probe_same and i not in pending_ids
    )
    g_work = g_new.join(
        F.broadcast(
            local_rows_df(spark, [(i,) for i in work_ids], "did long")
        ),
        "did",
        "left_semi",
    ).select("did", "ghash", "sig")
    # a pending id absent from this batch (crash replayed into a later
    # stream position) heals from its STORED signature — the band
    # rebuild below is a deterministic function of the sig
    missing_pend = sorted(pending_ids - set(work_ids))
    if missing_pend:
        healed = (
            stored_sig.where(
                F.col("bucket").isin(
                    sorted(
                        {
                            r[0]
                            for r in local_rows_df(
                                spark, [(i,) for i in missing_pend],
                                "did long",
                            )
                            .select(bucket(buckets, "did"))
                            .collect()
                        }
                    )
                )
            )
            .where(F.col("did").isin(missing_pend))
            .select("did", "ghash", "sig", "bucket")
            .localCheckpoint(eager=True)
        )
        # one collect for both the healed ids and their (stored)
        # buckets — the buckets feed sig_dirty below
        h_rows = healed.select("did", "bucket").collect()
        g_work = g_work.unionByName(healed.drop("bucket"))
        work_ids = work_ids + [r["did"] for r in h_rows]
        new_bkt.update({r["did"]: r["bucket"] for r in h_rows})
    # exact n_docs across crash replays: a pending ledger means the
    # crashed attempt's fresh ids were never counted (the count and the
    # ledger clear share the final meta write), so resume ITS list —
    # intersected with work_ids: a pending id whose crash predated the
    # signatures swap AND whose batch is never redelivered was never
    # stored (the heal finds nothing), so counting it would overstate
    # n_docs for a document absent from the artifact
    fresh_now = sorted(set(work_ids) - set(repl_ids) - set(pend["ids"]))
    fresh_ids = sorted(
        (set(fresh_now) | set(pend.get("fresh", []))) & set(work_ids)
    )
    if not work_ids:
        # fully-committed replay: the artifact already folded this
        # batch. Re-emit its persisted pairs when the sink never got
        # them (stream redelivery carries the SAME batch_id the
        # committed attempt stamped); any other caller gets zero rows.
        last_pairs = os.path.join(index_dir, "last_pairs")
        if batch_id is not None and meta.get("last_emit") == batch_id:
            recover(last_pairs)
            if os.path.isdir(last_pairs):
                return spark.read.schema(PAIR_SCHEMA).parquet(last_pairs)
        return empty_pairs

    # ---- candidates: band rows of the work set — collected ONCE with
    # their buckets (|batch|·bands narrow rows) and re-created as a
    # local relation the cross/intra joins broadcast; the delta writer
    # appends the same driver-side rows, with no checkpoint +
    # bucket-collect job pair ----
    br_rows = (
        band_rows(g_work, bands, num_hashes // bands)
        .select(
            "did", "band_idx", "band_key",
            bucket(buckets, *BANDS.bucket_by).alias("_bkt"),
        )
        .collect()
    )
    band_bkts = sorted({r["_bkt"] for r in br_rows})
    br_new = local_rows_df(
        spark,
        [(r["did"], r["band_idx"], r["band_key"]) for r in br_rows],
        "did long, band_idx int, band_key string",
    )
    work_df = F.broadcast(
        local_rows_df(spark, [(i,) for i in work_ids], "did long")
    )
    # anti-join ALL work ids, not just the replaced set: a pending
    # UPDATE whose crash landed between the ledger stamp and the
    # signatures swap is excluded from repl_ids on replay, yet its
    # stored band rows still describe the OLD text — a cross pair
    # against them would verify a jaccard for text that no longer
    # exists. Every work doc's pairs are fully covered by br_new via
    # the cross + intra joins, so dropping their stored rows is always
    # safe (and is what makes the replay ≡ first-delivery).
    stored_bands = (
        deltalog.resolve(spark, BANDS, index_dir, parts=band_bkts)
        .join(work_df, "did", "left_anti")
    )
    cross_ids = (
        br_new.select(F.col("did").alias("id_new"), "band_idx", "band_key")
        .join(
            stored_bands.select(
                F.col("did").alias("id_old"), "band_idx", "band_key"
            ),
            ["band_idx", "band_key"],
        )
        .where(F.col("id_new") != F.col("id_old"))
        .select("id_new", "id_old")
        .dropDuplicates(["id_new", "id_old"])
    )
    intra_ids = (
        br_new.select(F.col("did").alias("id_new"), "band_idx", "band_key")
        .join(
            br_new.select(F.col("did").alias("id_old"), "band_idx",
                          "band_key"),
            ["band_idx", "band_key"],
        )
        .where(F.col("id_new") < F.col("id_old"))
        .select("id_new", "id_old")
        .dropDuplicates(["id_new", "id_old"])
    )

    # ---- verify: work gram hashes + candidate-bucket-pruned stored
    # gram hashes (exact Jaccard over the hash sets — identical values
    # to the string sets up to negligible 60-bit collisions) ----
    cand_bkts = sorted(
        {
            r[0]
            for r in cross_ids.select(
                F.pmod(F.xxhash64("id_old"), F.lit(buckets)).cast("int")
            )
            .distinct()
            .collect()
        }
    )
    stored_grams = (
        stored_sig.where(F.col("bucket").isin(cand_bkts)).select(
            "did", F.col("ghash").alias("grams")
        )
        if cand_bkts
        else stored_sig.select(
            "did", F.col("ghash").alias("grams")
        ).where(F.lit(False))
    )
    work_grams = g_work.select("did", F.col("ghash").alias("grams"))
    cross_pairs = exact_jaccard_pairs(
        cross_ids.select(
            F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b")
        ),
        work_grams,
        stored_grams,
        threshold,
    )
    intra_pairs = exact_jaccard_pairs(
        intra_ids.select(
            F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b")
        ),
        work_grams,
        work_grams,
        threshold,
    )
    pairs = (
        cross_pairs.unionByName(intra_pairs)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
        .dropDuplicates(["id_a", "id_b"])
        # materialize BEFORE the swaps: the verify lineage reads the
        # pre-swap signatures file listing, which the renames invalidate
        .localCheckpoint(eager=True)
    )

    # stale band rows of replaced/updated dids need NO recompute from
    # old sigs and NO bucket rewrite: this batch's did-level tombstone
    # (seq = band_seq) kills every prior row of every work did at
    # resolution, wherever it sits. Buckets are all driver-local
    # already (batch collect + heal collect) — no job.
    sig_dirty = sorted({new_bkt[i] for i in work_ids})

    # ---- stamp the work-list ledger BEFORE any swap: a crash between
    # here and the final meta write replays into the heal path above,
    # and seq names the delta files the replay pre-clears ----
    meta["pending"] = {
        "ids": work_ids,
        "replaced": repl_ids,
        "fresh": fresh_ids,
        "seq": band_seq,
    }
    write_json_atomic(meta_path, meta)

    # ---- signatures: dirty buckets = buckets of the work dids ----
    sig_out = (
        stored_sig.where(F.col("bucket").isin(sig_dirty))
        .join(work_df, "did", "left_anti")
        .unionByName(g_work.withColumn("bucket", bucket(buckets, "did")))
    )
    swap_in_buckets(sig_out, sig_path, expected=sig_dirty)

    # bands: APPEND to the LSM delta log — tombstone the work dids,
    # add their new band rows; |batch|·bands rows of write I/O, never
    # a bucket rewrite. The rows (and their buckets) are the ones the
    # probe collect above already brought driver-side, so the append
    # is two pyarrow file writes — no Spark jobs.
    appended = deltalog.append(
        BANDS, index_dir, band_seq,
        {
            **{c: [r[c] for r in br_rows] for c in BANDS.cols},
            BANDS.part: [r["_bkt"] for r in br_rows],
        },
        work_ids,
    )

    if batch_id is not None:
        # persist the batch's pairs BEFORE the commit that clears the
        # pending ledger: a crash after that commit but before the
        # sink write redelivers this batch as a fully-committed replay,
        # and the matching last_emit stamp re-returns these rows —
        # the sink stays exactly-once instead of at-most-once
        swap_in(pairs, os.path.join(index_dir, "last_pairs"))
        meta["last_emit"] = batch_id

    meta["n_docs"] = meta["n_docs"] + len(fresh_ids)
    meta["band_seq"] = band_seq
    deltalog.add_delta_bytes(BANDS, meta, appended)
    meta["pending"] = None
    write_json_atomic(meta_path, meta)
    return pairs


def neardup_stream(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    pairs_out: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> StreamingQuery:
    """Attach the maintainer to a document stream; detected pairs land
    in ``pairs_out`` as one hive partition per batch
    (``batch_id=N/``). Exactly-once: a redelivered batch re-emits the
    pairs the committed attempt persisted in the artifact (see
    :func:`upsert_neardup_artifact`'s ``batch_id`` contract) and the
    per-batch partition is swapped in atomically, so a crash anywhere
    between the artifact commit and the checkpoint commit converges to
    exactly one copy of every pair. The artifact must exist
    (:func:`init_neardup_artifact`)."""

    def step(b: DataFrame, batch_id: int) -> None:
        pairs = upsert_neardup_artifact(
            b, index_dir, text_col=text_col, id_col=id_col,
            threshold=threshold, batch_id=batch_id,
        )
        # idempotent sink write: overwrite-by-swap of this batch's own
        # partition dir — an append here would double the pairs when
        # the batch replays after a post-commit crash
        swap_in(pairs, os.path.join(pairs_out, f"batch_id={batch_id}"))

    return (
        docs_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
