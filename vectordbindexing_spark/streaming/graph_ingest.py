"""Streaming upsert into a persisted two-layer GRAPH serving artifact
(reference study: `hnsw_insert.ipynb`, +1%…+10% incremental inserts).

State layout under ``index_dir`` (each bucket dir swapped crash-safely
via streaming/atomic.py, so a crash at any point leaves a servable
artifact):

* ``vectors``  — parquet partitioned by ``bucket = pmod(xxhash64(id),
  B)``: (id, vec), the full current corpus
* ``edges``    — the serving graph BASE, parquet partitioned by
  ``bucket = pmod(xxhash64(src), B)``: (layer, src, dst, dist) with a
  fold-watermark ``seq`` after the first fold
* ``fwd_delta/`` — the serving graph's LSM delta log (r11: the
  forward dirty-bucket swap measured 91% of the artifact rewritten
  per 1000-node update batch at 2M — the dirty set is
  |batch|·2·M0 + losers srcs, which saturates any bucket count).
  Same design as rev_delta but bucketed by SRC; serving resolves
  base ∪ adds − src-tombstones (``edges_resolved``), and the log
  folds into the base past REV_COMPACT_FACTOR and at every rebuild
* ``rev_edges``— the inverted adjacency BASE, partitioned by
  ``bucket = pmod(xxhash64(dst), B)`` with a fold-watermark ``seq``
  column. Every dst-side probe (who points AT this node?)
  partition-prunes here instead of scanning the whole src-bucketed
  artifact — without it each micro-batch paid two O(E) scans (the
  replaced-id "losers" probe and the dirty-dst candidate scan), the
  r09 scale soft spot.
* ``rev_delta/`` — the mirror's LSM-style delta log (the r10 fix for
  the mirror's write amplification: rewriting dirty rev buckets cost
  a third dirty-fraction swap per batch, measured at ~+50% upsert
  wall-clock at 500k). ``adds/d<seq>-<i>.parquet`` holds one batch's
  merged dirty adjacency as a dst-bucket-sorted flat file (``bucket``
  rides as a data column and row-group stats carry the pruning; every
  writer part file is moved — AQE may split one);
  ``tombs/d<seq>.parquet`` is a GLOBAL per-batch tombstone file of
  that batch's dirty srcs. Resolution (``_rev_live``): a row is live
  iff no newer src-tombstone exists (``row.seq >= tseq`` keeps a
  batch's own re-adds); src-level global tombstones need no
  per-bucket coverage, so replay-divergent recomputes (kNN edge sets
  that differ in the last distance ulp between attempts) cannot
  strand stale adds. Probes filter by their broadcast dst set BEFORE
  resolution, so the resolve join is probe-sized. The log folds back
  into the base when it outgrows REV_COMPACT_FACTOR x the base rows,
  and for free at every rebuild; a half-finished fold is exact (base
  keeps each row's seq, duplicates between base and a not-yet-removed
  delta are identical payloads deduped on key).
* ``meta.json``— {format, n_at_rebuild, n_live, build params, buckets,
  pending}; written atomically (write-temp + os.replace) so a crash
  mid-dump can never brick the artifact. ``format`` stamps the on-disk
  layout above: an artifact without the current :data:`FORMAT` fails
  to load (atomic.read_meta) instead of being misread — re-run init.

Per micro-batch (:func:`upsert_graph_artifact`):

1. kNN edges of the NEW nodes against (stored ∪ batch) — below
   ``exact_base_limit`` one blocked exact pass (O(n·|B|), the
   per-insert cost of the reference's `add_items_batch` amortized over
   the batch, hnsw_cosine_norm.py:480-580); past it the pass dispatches
   through ``plans.knn_planner.knn`` (the mine_triplets treatment), so
   a 100 TB corpus pays an IVF/IVF-PQ probe, not a full scan. Layer-1
   edges likewise over the level≥1 subset (level assignment is a
   deterministic function of the id, graph.py:26, so stored nodes keep
   their levels without re-reading anything).
2. DIRTY-SCOPED ``mutualize``: only nodes whose adjacency can change —
   the batch ids, the new edges' endpoints, and nodes that lose an
   edge to a replaced id — are re-capped (same bidirection +
   degree-cap pass the bulk build ends with, graph.py:530, restricted
   to the dirty set; equal to the full pass on those nodes because the
   stored graph is already a mutualize fixed point and untouched nodes
   gain no candidates). Everything else keeps its stored rows
   verbatim. All four edge reads are dirty-fraction-pruned: dirty-src
   rows from ``edges``, dirty-dst rows and replaced-id losers from
   ``rev_edges`` (both by partition value), never a full scan.
3. Crash-safe commit: dirty-bucket swap for vectors
   (atomic.swap_in_buckets with the expected dirty-bucket list), then
   APPENDS to the forward and rev delta logs (|adds| + |dirty| rows
   each, no bucket rewrite — a dirty src emptied by the update is
   covered by its tombstone alone): per-batch write I/O scales with
   |batch|·degree, not with the corpus. The whole step is
   replay-idempotent by DETECTION: a redelivered batch (every id
   stored with a bit-identical vector and its edge work committed)
   returns ``"noop"`` without touching state — recomputation could
   drift in the last distance ulp (BLAS batch shape), so exact replay
   is guaranteed by not recomputing.

CRASH-WINDOW LEDGER (``meta["pending"]``): before the first swap the
batch's work list — its ins ids, replaced ids and fresh ids (bounded
by |batch|) plus its delta ``seq`` — is stamped into meta.json
atomically; the final meta write (after all three swaps) clears it. A
replay that finds a pending ledger first removes its own seq's delta
files, then re-queues every pending id that is stored with a matching
vector but whose edge work may not have landed, and re-applies the
pending REPLACED set to the stale-edge drop — this closes the
update-crash hole where a crash between the vectors swap and the edges
swap left vec == stored (so ``changed`` was empty) while the id's
old-geometry adjacency was still live. The ``needs_rows`` probe
(unchanged ids missing layer-0 adjacency entirely) remains as
defense-in-depth. One narrow window is recompute-not-detect: a crash
AFTER the swaps but BEFORE the meta write replays the edge recompute
for the pending ids — correct geometry against the already swapped
vectors, possibly last-ulp different dists. Every other replay is
bit-exact or a detected no-op.

``n_live`` is maintained incrementally (+fresh per upsert, with the
ledger preventing both under- and double-counting across crashes) so
the refresh decision costs no O(corpus) count per micro-batch; it is
reconciled against a real count at every rebuild.

UPDATE semantics (same id, different vector): the BATCH side wins
deterministically — stored rows with a redelivered id are anti-joined
away, and within one batch duplicate ids resolve to the greatest vec
(array ordering), never ``F.first``'s partition-order roulette. Edges
incident to a replaced id are dropped before the merge (their dists
describe the old vector) and rebuilt from the fresh kNN pass, so an
update leaves no stale geometry behind — across crash replays too,
via the pending ledger.

Drift + refresh: upserted nodes never enter OLD nodes' own kNN lists
except via back-links (classic incremental-HNSW semantics), so search
cost degrades as the inserted fraction grows — the reference measures
~2× search steps at +10% inserts (BASELINE.md), the signal to compact.
When the corpus grows past ``refresh_factor`` × its size at the last
rebuild, the upsert runs :func:`operators.graph.build_two_layer_index`
on the full union instead: after a refresh the artifact is EXACTLY the
bulk build of the union corpus (same function, same params — pinned by
test), which is the "upserted serving ≡ full rebuild" anchor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectordbindexing_spark.plans.partitioning import local_rows_df
from vectordbindexing_spark.streaming.atomic import (
    append_local_delta,
    delta_empty,
    du_parquet,
    read_meta,
    recover_tree,
    swap_in,
    swap_in_buckets,
    write_json_atomic,
)

#: on-disk layout version stamped into meta.json at init; bump it on
#: any layout change so older artifacts fail to load instead of being
#: misread
FORMAT = 1

EDGE_SCHEMA = "layer int, src long, dst long, dist double"

#: default bucket count for the partitioned artifact dirs. A batch
#: dirties ≈ |batch|·(M0+1) edge srcs, and the rewritten fraction is
#: ≈ 1 − exp(−dirty/buckets) — so buckets must sit well ABOVE the
#: expected dirty-src count for the bucket swap to beat a full
#: rewrite (measured at 500k/M0=16: 256 buckets → a 100-row batch
#: dirties 254/256; 4096 → ~1/3). Sizing is a BALANCE, not a
#: maximization (r10 measurement, SCALE.md): 16384 buckets at 500k
#: was ~2x SLOWER than 4096 across every step because per-file fixed
#: costs (open/footer/rename, 3x dir listings) outgrew the dirty-row
#: savings once bucket files fell to tens of KB. Keep bucket files
#: ≥ a few MB AND buckets well above |batch|·(M0+1); both hold
#: simultaneously only at large corpora — which is the design point.
DEFAULT_BUCKETS = 1024


def _parallel_swaps(*thunks) -> None:
    """Run independent artifact writes concurrently (guide §2.6): each
    swap_in is its own job chain on a distinct path, so overlapping
    them back-fills the tail of one write with the next one's tasks.
    Callers keep the VECTORS swap sequential-first where the crash
    contract needs vectors ⊇ edge endpoints; only the order-free writes
    go through here."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()


def _paths(index_dir: str) -> tuple[str, str, str, str]:
    return (
        os.path.join(index_dir, "vectors"),
        os.path.join(index_dir, "edges"),
        os.path.join(index_dir, "rev_edges"),
        os.path.join(index_dir, "meta.json"),
    )


def _bucket_of(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _build_params(M0: int, M1: int, M_level: int, metric: str) -> dict:
    return {"M0": M0, "M1": M1, "M_level": M_level, "metric": metric}


def _ids_df(spark: SparkSession, ids: list) -> DataFrame:
    return local_rows_df(spark, [(int(i),) for i in ids], "id long")


#: compact the rev delta log back into its base once the accumulated
#: delta rows exceed this fraction of the base (bounds probe-side read
#: amplification; the fold also happens for free at every rebuild)
REV_COMPACT_FACTOR = 0.25

#: Bounded-collect gate for the incremental upsert's merged dirty
#: adjacency: mutualize caps it at |dirty| · 2 layers · max_degree
#: rows (a deterministic bound computed driver-side), and under this
#: many rows (~64 MB of edge tuples — the CC gate's scale) the rows
#: collect so the delta footprints and BOTH delta appends run driver-
#: side (see _write_edge_delta_local). Past it the distributed
#: checkpoint + Spark writers run unchanged.
MERGED_LOCAL_LIMIT = 2_000_000

ADDS_SCHEMA = "layer int, src long, dst long, dist double, seq long, bucket int"
TOMBS_SCHEMA = "src long, seq long"


def _delta_paths(index_dir: str) -> tuple[str, str]:
    root = os.path.join(index_dir, "rev_delta")
    return os.path.join(root, "adds"), os.path.join(root, "tombs")


def _fwd_delta_paths(index_dir: str) -> tuple[str, str]:
    root = os.path.join(index_dir, "fwd_delta")
    return os.path.join(root, "adds"), os.path.join(root, "tombs")


def _fwd_live(
    spark: SparkSession,
    index_dir: str,
    bkts: list | None = None,
    src_df: DataFrame | None = None,
    keep_seq: bool = False,
) -> DataFrame:
    """Resolved live FORWARD adjacency rows (layer, src, dst, dist):
    base ∪ fwd_delta adds, minus rows superseded by a newer
    src-tombstone (``row.seq >= tseq`` keeps a batch's own re-adds) —
    the rev_delta LSM design applied to the serving-side artifact (the
    r11 2M measurement showed the forward dirty-bucket swap rewriting
    91% of the artifact per 1000-node update batch: the dirty set is
    batch·(2·M0)+losers srcs, which saturates any bucket count).
    ``bkts`` partition-prunes base and adds (both are src-bucketed, so
    one list serves both); ``src_df`` (a (src) frame) semi-joins BEFORE
    resolution so the join work is probe-sized. An empty or absent log
    resolves to the base alone."""
    _, edge_path, _, _ = _paths(index_dir)
    adds_dir, tombs_dir = _fwd_delta_paths(index_dir)
    base = spark.read.parquet(edge_path)
    # init and rebuild write the base without seq; only a fold adds it
    if "seq" not in base.columns:
        base = base.withColumn("seq", F.lit(0).cast("long"))
    if bkts is not None:
        base = base.where(F.col("bucket").isin(bkts))
    cols = ["layer", "src", "dst", "dist", "seq"]
    keep = cols if keep_seq else cols[:4]
    if delta_empty(adds_dir, tombs_dir):
        rows = base.select(*cols)
        if src_df is not None:
            rows = rows.join(F.broadcast(src_df), "src", "left_semi")
        return rows.select(*keep)
    # guarded reads: _write_edge_delta moves the tombstone file BEFORE
    # the adds, so a crash in that window (or an empty merged adjacency)
    # leaves tombs-present/adds-missing — read each side as empty when
    # its dir is absent instead of throwing PATH_NOT_FOUND at serving
    adds = _read_adds(spark, adds_dir)
    if bkts is not None:
        adds = adds.where(F.col("bucket").isin(bkts))
    rows = base.select(*cols).unionByName(adds.select(*cols))
    if src_df is not None:
        rows = rows.join(F.broadcast(src_df), "src", "left_semi")
    tombs = _read_tomb_max(spark, tombs_dir)
    live = (
        rows.join(tombs, "src", "left")
        .where(F.col("tseq").isNull() | (F.col("seq") >= F.col("tseq")))
        .dropDuplicates(["layer", "src", "dst"])
    )
    return live.select(*keep)


def edges_resolved(spark: SparkSession, index_dir: str) -> DataFrame:
    """The full live forward adjacency (serving + test surface) —
    base ∪ fwd delta, resolved."""
    return _fwd_live(spark, index_dir)


def _read_adds(spark: SparkSession, adds_dir: str) -> DataFrame:
    if not os.path.isdir(adds_dir):
        return spark.createDataFrame([], ADDS_SCHEMA)
    return spark.read.schema(ADDS_SCHEMA).parquet(adds_dir)


def _read_tomb_max(spark: SparkSession, tombs_dir: str) -> DataFrame:
    """(src, tseq): the newest tombstone per dirtied src. Tombstones
    are GLOBAL (one tiny file per batch, rows = that batch's dirty
    srcs): a src-level kill needs no per-bucket coverage, which is
    what makes replay-divergent batches (kNN edge sets that differ in
    the last ulp between attempts) safe — any stale add of a dirty src
    dies regardless of which dst bucket it landed in."""
    if not os.path.isdir(tombs_dir):
        return spark.createDataFrame([], "src long, tseq long")
    return (
        spark.read.schema(TOMBS_SCHEMA).parquet(tombs_dir)
        .groupBy("src").agg(F.max("seq").alias("tseq"))
    )


def _rev_live(
    spark: SparkSession,
    index_dir: str,
    bkts: list | None = None,
    dst_df: DataFrame | None = None,
    keep_seq: bool = False,
) -> DataFrame:
    """Resolved live inverted-adjacency rows (layer, src, dst, dist):
    base ∪ delta adds, minus rows superseded by a newer src tombstone
    (``row.seq >= tseq`` keeps a batch's own re-adds). ``bkts``
    partition-prunes both reads; ``dst_df`` (a (dst) frame) semi-joins
    BEFORE resolution so the join work is probe-sized, never
    slice-sized — dst is part of every row, so the filter keeps whole
    src-group slices intact per bucket. The final key-dedup only fires
    on rows duplicated between a half-compacted base and a not-yet-
    removed delta (identical payloads, so keeping either is exact)."""
    _, _, rev_path, _ = _paths(index_dir)
    adds_dir, tombs_dir = _delta_paths(index_dir)
    base = spark.read.parquet(rev_path)
    if bkts is not None:
        base = base.where(F.col("bucket").isin(bkts))
    cols = ["layer", "src", "dst", "dist", "seq"]
    keep = cols if keep_seq else ["layer", "src", "dst", "dist"]
    if delta_empty(adds_dir, tombs_dir):
        # empty log (right after init/rebuild/fold — and the state every
        # probe of a batch's FIRST post-compaction upsert sees): the
        # base alone is the resolved mirror, so skip the union, the
        # tombstone join and the key-dedup shuffle entirely
        rows = base.select(*cols)
        if dst_df is not None:
            rows = rows.join(F.broadcast(dst_df), "dst", "left_semi")
        return rows.select(*keep)
    adds = _read_adds(spark, adds_dir)
    if bkts is not None:
        adds = adds.where(F.col("bucket").isin(bkts))
    rows = base.select(*cols).unionByName(adds.select(*cols))
    if dst_df is not None:
        rows = rows.join(F.broadcast(dst_df), "dst", "left_semi")
    live = (
        rows.join(_read_tomb_max(spark, tombs_dir), "src", "left")
        .where(F.col("tseq").isNull() | (F.col("seq") >= F.col("tseq")))
        .dropDuplicates(["layer", "src", "dst"])
    )
    return live.select(*keep)


def rev_edges_resolved(spark: SparkSession, index_dir: str) -> DataFrame:
    """The full live inverted adjacency (test/inspection surface) —
    must always equal the forward ``edges`` artifact row-for-row."""
    return _rev_live(spark, index_dir)


def _write_rev_delta(
    adds,
    dirty_src,
    index_dir: str,
    seq: int,
    buckets: int,
) -> int:
    """Append one batch's rev delta (adds bucketed by DST — the
    mirror's probe key). ``adds``/``dirty_src`` are either DataFrames
    (the distributed route — :func:`_write_edge_delta`) or driver-local
    [(layer, src, dst, dist)] rows + an id list (the
    MERGED_LOCAL_LIMIT route — :func:`_write_edge_delta_local`, no
    Spark jobs). One entry point for both routes so the crash-matrix
    tests' injection covers whichever executes."""
    adds_dir, tombs_dir = _delta_paths(index_dir)
    if isinstance(adds, list):
        return _write_edge_delta_local(
            adds, dirty_src, adds_dir, tombs_dir, seq, buckets, "dst"
        )
    return _write_edge_delta(
        adds, dirty_src, os.path.join(index_dir, "rev_delta.__tmp__"),
        adds_dir, tombs_dir, seq, buckets, "dst",
    )


def _write_fwd_delta(
    adds,
    dirty_src,
    index_dir: str,
    seq: int,
    buckets: int,
) -> int:
    """Append one batch's FORWARD delta (adds bucketed by SRC — the
    serving key). Same dual routes as :func:`_write_rev_delta`."""
    adds_dir, tombs_dir = _fwd_delta_paths(index_dir)
    if isinstance(adds, list):
        return _write_edge_delta_local(
            adds, dirty_src, adds_dir, tombs_dir, seq, buckets, "src"
        )
    return _write_edge_delta(
        adds, dirty_src, os.path.join(index_dir, "fwd_delta.__tmp__"),
        adds_dir, tombs_dir, seq, buckets, "src",
    )


def _write_edge_delta_local(
    add_rows: list,
    dirty_ids: list,
    adds_dir: str,
    tombs_dir: str,
    seq: int,
    buckets: int,
    bucket_col: str,
) -> int:
    """:func:`_write_edge_delta` for DRIVER-LOCAL add rows
    [(layer, src, dst, dist)] — the r13 fold: the incremental upsert's
    merged dirty adjacency is |batch|·degree-bounded and already
    collected under the MERGED_LOCAL_LIMIT gate, so both parquet
    appends (the global tombstone file, then the bucket-sorted flat
    adds file) are written straight through pyarrow
    (atomic.append_local_delta) instead of paying a Spark job each —
    four fixed-latency jobs per micro-batch become driver-side
    millisecond writes. Bucket values come from the pinned xxhash64
    twin (bucket_of_py ≡ _bucket_of bit-for-bit), so probe-side
    pruning sees identical values. Returns bytes appended."""
    from vectordbindexing_spark.functions.hashing import bucket_of_py

    key = 1 if bucket_col == "src" else 2
    staged = sorted(
        (
            (int(r[0]), int(r[1]), int(r[2]), float(r[3]), int(seq),
             bucket_of_py(r[key], buckets))
            for r in add_rows
        ),
        key=lambda t: t[5],
    )
    return append_local_delta(
        adds_dir, tombs_dir, seq,
        [(int(i), int(seq)) for i in dirty_ids], TOMBS_SCHEMA,
        staged, ADDS_SCHEMA,
    )


def _write_edge_delta(
    adds: DataFrame,
    dirty_src: DataFrame,
    tmp: str,
    adds_dir: str,
    tombs_dir: str,
    seq: int,
    buckets: int,
    bucket_col: str,
) -> int:
    """Append one batch's edge delta: ``adds`` (the batch's merged
    dirty adjacency) as a FEW bucket-sorted flat parquet files (bucket
    rides as a data column; row-group stats carry the probe pruning)
    plus one global tombstone file of the dirty srcs, every file named
    d<seq> so a crash replay OVERWRITES its own attempt instead of
    duplicating it. Write I/O is |adds| + |dirty| rows — never a bucket
    rewrite; that is the point of the log. Returns the bytes appended
    (the fold-trigger accounting, measured off the moved files so it
    costs no extra Spark job)."""
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    (
        adds.withColumn("seq", F.lit(seq).cast("long"))
        .withColumn("bucket", _bucket_of(bucket_col, buckets))
        .coalesce(1)
        .sortWithinPartitions("bucket")
        .write.parquet(os.path.join(tmp, "adds"))
    )
    (
        dirty_src.select(
            F.col("id").alias("src"), F.lit(seq).cast("long").alias("seq")
        )
        .coalesce(1)
        .write.parquet(os.path.join(tmp, "tombs"))
    )
    appended = _move_delta_files(tmp, adds_dir, tombs_dir, seq)
    shutil.rmtree(tmp, ignore_errors=True)
    return appended


def _move_delta_files(
    tmp: str, adds_dir: str, tombs_dir: str, seq: int
) -> int:
    """Move one written delta attempt (``tmp/{adds,tombs}``) into the
    live log: the tombstone FIRST (if the add-move loop dies midway,
    every landed add of this seq is already covered by its same-seq
    tombstone rule), then every add part file under distinct
    d<seq>-<i> names (coalesce normally yields ONE part, but AQE/config
    variation may split it — dropping parts [1:] would silently lose
    delta rows; the pre-clear matches every d<seq>-<i> so a replay
    still overwrites the whole attempt). Returns bytes appended (the
    fold-trigger accounting — filesystem sizes, no extra Spark job)."""
    tname = [
        f for f in os.listdir(os.path.join(tmp, "tombs"))
        if f.endswith(".parquet")
    ][0]
    os.makedirs(tombs_dir, exist_ok=True)
    appended = os.path.getsize(os.path.join(tmp, "tombs", tname))
    os.replace(
        os.path.join(tmp, "tombs", tname),
        os.path.join(tombs_dir, f"d{seq}.parquet"),
    )
    parts = sorted(
        f for f in os.listdir(os.path.join(tmp, "adds"))
        if f.endswith(".parquet")
    )
    os.makedirs(adds_dir, exist_ok=True)
    for i, part in enumerate(parts):
        appended += os.path.getsize(os.path.join(tmp, "adds", part))
        os.replace(
            os.path.join(tmp, "adds", part),
            os.path.join(adds_dir, f"d{seq}-{i}.parquet"),
        )
    return appended


def _pre_clear_delta(adds_dir: str, tombs_dir: str, seq: int) -> None:
    """Remove a crashed attempt's delta files (``adds/d<seq>-<i>`` and
    ``tombs/d<seq>``) before its replay's probes run: the probes must
    see the PRE-batch log, and the replay's own recompute (which may
    differ from the crashed attempt in the last distance ulp) rewrites
    the same names. Never a bare d<seq>* glob — it would also match
    d<seq>0…"""
    if os.path.isdir(adds_dir):
        for f in os.listdir(adds_dir):
            if f.startswith(f"d{seq}-") and f.endswith(".parquet"):
                os.remove(os.path.join(adds_dir, f))
    f = os.path.join(tombs_dir, f"d{seq}.parquet")
    if os.path.exists(f):
        os.remove(f)


def _clear_rev_delta(index_dir: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(index_dir, "rev_delta"), ignore_errors=True)
    shutil.rmtree(
        os.path.join(index_dir, "rev_delta.__tmp__"), ignore_errors=True
    )


def _clear_fwd_delta(index_dir: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(index_dir, "fwd_delta"), ignore_errors=True)
    shutil.rmtree(
        os.path.join(index_dir, "fwd_delta.__tmp__"), ignore_errors=True
    )


# --------------------------------------------------------------- IVF artifact
#
# The maintained IVF artifact that makes the past-exact-limit batch kNN
# an nprobe/nlist-PRUNED read instead of an O(corpus) fit+assign per
# micro-batch (the r11 2M measurement's residual floor: the planner
# route re-fit centroids and re-assigned every stored row each batch).
#
# * ``ivf_centroids`` — (cid, cvec) parquet, fitted at init/rebuild on
#   the bounded deterministic sample (ivf.kmeans_fit), FROZEN between
#   rebuilds (freeze-then-refit: upsert stays O(batch), drift is
#   repaid at the next rebuild).
# * ``ivf_cells``  — (id, vec, seq) parquet partitioned by ``cell=``:
#   the corpus mirrored by coarse cell, so a batch's kNN reads ONLY the
#   cells its queries probe. This is the classic second copy every IVF
#   serving artifact keeps; the graph artifact pays it to stop
#   re-deriving the assignment per batch.
# * ``ivf_delta/`` — the cells mirror's LSM delta log (same design as
#   rev/fwd: per-seq cell-sorted flat adds ``d<seq>-0.parquet`` + ONE
#   global id-tombstone file per batch; ``row.seq >= tseq`` keeps a
#   batch's own re-adds). Batch rows are assigned driver-side
#   (|batch|·nlist flops) and appended — never a cell rewrite. Folds
#   past REV_COMPACT_FACTOR and for free at every rebuild.

IVF_ADDS_SCHEMA = "id long, vec array<double>, seq long, cell int"
IVF_TOMBS_SCHEMA = "id long, seq long"


def _ivf_paths(index_dir: str) -> tuple[str, str]:
    return (
        os.path.join(index_dir, "ivf_cells"),
        os.path.join(index_dir, "ivf_centroids"),
    )


def _ivf_delta_paths(index_dir: str) -> tuple[str, str]:
    root = os.path.join(index_dir, "ivf_delta")
    return os.path.join(root, "adds"), os.path.join(root, "tombs")


def _ivf_live(
    spark: SparkSession,
    index_dir: str,
    cells: list | None = None,
    keep_seq: bool = False,
) -> DataFrame:
    """Resolved live IVF-cell rows (id, vec, cell): base ∪ delta adds,
    minus rows superseded by a newer id-tombstone (``row.seq >= tseq``
    keeps a batch's own re-adds). ``cells`` partition-prunes base and
    adds to the probed cells. Both delta sides read as empty when their
    dir is missing (the tombstone lands first — same crash window as
    the fwd/rev logs)."""
    cells_path, _ = _ivf_paths(index_dir)
    adds_dir, tombs_dir = _ivf_delta_paths(index_dir)
    base = spark.read.parquet(cells_path)
    if cells is not None:
        base = base.where(F.col("cell").isin(cells))
    cols = ["id", "vec", "cell", "seq"]
    keep = cols if keep_seq else cols[:3]
    if delta_empty(adds_dir, tombs_dir):
        return base.select(*keep)
    if os.path.isdir(adds_dir):
        adds = spark.read.schema(IVF_ADDS_SCHEMA).parquet(adds_dir)
    else:
        adds = spark.createDataFrame([], IVF_ADDS_SCHEMA)
    if cells is not None:
        adds = adds.where(F.col("cell").isin(cells))
    if os.path.isdir(tombs_dir):
        tombs = (
            spark.read.schema(IVF_TOMBS_SCHEMA).parquet(tombs_dir)
            .groupBy("id").agg(F.max("seq").alias("tseq"))
        )
    else:
        tombs = spark.createDataFrame([], "id long, tseq long")
    # every live tombstone is NEWER than every base row (a fold clears
    # the log, so surviving tombstones postdate the fold watermark any
    # folded row carries): the base side resolves with a broadcast
    # anti-join on the tombstoned ids — never a corpus-wide shuffle
    # (the first cut's dropDuplicates(id) re-shuffled ~the whole
    # mirror per batch kNN once the delta was non-empty). The
    # broadcast is forced only while the tombstone log is small
    # (it folds at REV_COMPACT_FACTOR x base, but guard anyway).
    tomb_ids = tombs.select("id")
    if du_parquet(tombs_dir) < 64 * 1024 * 1024:
        tomb_ids = F.broadcast(tomb_ids)
        tombs = F.broadcast(tombs)
    live_base = base.select(*cols).join(tomb_ids, "id", "left_anti")
    # the adds side is |delta|-bounded: drop adds superseded by a
    # newer tombstone (row.seq >= tseq keeps a batch's own re-adds),
    # then keep the newest re-add per id
    w = Window.partitionBy("id").orderBy(F.col("seq").desc())
    surv = (
        adds.select(*cols)
        .join(tombs, "id", "left")
        .where(F.col("tseq").isNull() | (F.col("seq") >= F.col("tseq")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*cols)
    )
    return live_base.unionByName(surv).select(*keep)


def _clear_ivf_delta(index_dir: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(index_dir, "ivf_delta"), ignore_errors=True)
    shutil.rmtree(
        os.path.join(index_dir, "ivf_delta.__tmp__"), ignore_errors=True
    )


def _write_ivf_delta(
    add_rows: list, index_dir: str, seq: int
) -> int:
    """Append one batch's IVF-cell delta from DRIVER-LOCAL rows
    [(id, vec, cell)] (the upsert classifies and assigns the batch
    driver-side, so no distributed input exists to begin with): the
    global id-tombstone file first, then one cell-sorted d<seq> adds
    file, both through pyarrow — no Spark jobs. Write I/O ∝ |batch|
    rows. Returns bytes appended."""
    adds_dir, tombs_dir = _ivf_delta_paths(index_dir)
    staged = sorted(
        (
            (int(i), [float(x) for x in v], int(seq), int(c))
            for i, v, c in add_rows
        ),
        key=lambda t: t[3],  # cell-sorted: row-group stats prune
    )
    return append_local_delta(
        adds_dir, tombs_dir, seq,
        [(int(i), int(seq)) for i, _, _ in add_rows], IVF_TOMBS_SCHEMA,
        staged, IVF_ADDS_SCHEMA,
    )


def _ivf_assign_vecs(df: DataFrame, centroids) -> DataFrame:
    """One fused Arrow pass: (id, vec) → (id, vec, cell) under the
    broadcast centroids — the ivf_assign convention (blocked l2 argmin,
    ties → lowest cid) carrying the vector through so the partitioned
    write needs no join back."""
    import numpy as np

    from vectordbindexing_spark.operators.ivf import _argmin_d2_blocked

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )

    def assign(batches):
        import pandas as pd

        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "vec": pdf["vec"],
                    "cell": _argmin_d2_blocked(X, C).astype("int32"),
                }
            )

    return df.select(
        F.col("id").cast("long").alias("id"),
        F.col("vec").cast("array<double>").alias("vec"),
    ).mapInPandas(assign, schema="id long, vec array<double>, cell int")


def _build_ivf_artifact(
    spark: SparkSession, index_dir: str, n: int
) -> dict:
    """Fit + materialize the IVF artifact from the live ``vectors``
    dir (called at init and at every rebuild — the only O(corpus)
    passes it ever costs). Returns the meta["ivf"] dict."""
    import numpy as np

    from vectordbindexing_spark.operators.ivf import kmeans_fit
    from vectordbindexing_spark.plans.knn_planner import MAX_NLIST

    vec_path, _, _, _ = _paths(index_dir)
    cells_path, cent_path = _ivf_paths(index_dir)
    vecs = spark.read.parquet(vec_path).drop("bucket")
    nlist = min(max(16, int(max(n, 1) ** 0.5)), MAX_NLIST)
    centroids = kmeans_fit(vecs, nlist)
    cent_df = local_rows_df(
        spark,
        [
            (int(i), [float(x) for x in row])
            for i, row in enumerate(np.asarray(centroids))
        ],
        "cid long, cvec array<double>",
    )
    swap_in(cent_df, cent_path, coalesce=1)
    swap_in(
        _ivf_assign_vecs(vecs, centroids).withColumn(
            "seq", F.lit(0).cast("long")
        ),
        cells_path, coalesce=None, partition_by=["cell"],
    )
    _clear_ivf_delta(index_dir)
    return {
        "nlist": int(nlist),
        "base_bytes": du_parquet(cells_path),
        "delta_bytes": 0,
    }


def _load_ivf_centroids(spark: SparkSession, index_dir: str):
    import numpy as np

    _, cent_path = _ivf_paths(index_dir)
    rows = spark.read.parquet(cent_path).orderBy("cid").collect()
    return np.array([r["cvec"] for r in rows], dtype=np.float64)


def _ivf_artifact_knn(
    spark: SparkSession,
    index_dir: str,
    q_rows: list,
    batch_rows: list,
    k: int,
    metric: str,
    layer: int,
    nprobe: int | None = None,
    level_min: int | None = None,
    M_level: int = 16,
) -> DataFrame:
    """Batch-vs-corpus kNN for one layer through the MAINTAINED IVF
    artifact: probe cells are selected driver-side from the frozen
    centroids, the cells mirror is read partition-pruned to exactly
    those cells, and scoring runs in the broadcast Arrow kernel
    (ivf.ivf_cells_knn — narrow top-k partials through the exchange,
    never candidate pairs). Per-batch cost ∝ Σ|probed cells| +
    |batch|·nlist driver flops — nothing re-fits or re-assigns the
    corpus.

    ``q_rows``/``batch_rows`` are driver-local [(id, vec)]: the
    queries, and the batch-side candidate rows that supersede any
    artifact rows with the same ids (stale geometry / not yet
    appended). ``level_min`` restricts BOTH sides to the
    deterministic level≥ subset (the layer-1 pass)."""
    import numpy as np

    from vectordbindexing_spark.operators.graph import (
        assign_level_py,
        assign_levels,
    )
    from vectordbindexing_spark.operators.ivf import (
        _argmin_d2_blocked,
        ivf_cells_knn,
        probe_cells,
    )

    C = _load_ivf_centroids(spark, index_dir)
    npb = nprobe if nprobe is not None else max(1, len(C) // 8)
    if level_min is not None:
        q_rows = [
            (i, v) for i, v in q_rows
            if assign_level_py(i, M_level) >= level_min
        ]
    if not q_rows:
        return spark.createDataFrame(
            [], "layer int, src long, dst long, dist double"
        )
    qids = np.array([i for i, _ in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(v, dtype=np.float64) for _, v in q_rows])
    probed = sorted(probe_cells(Q, C, npb))

    # artifact candidates: probed cells only, minus every batch id (its
    # artifact row is stale for updates and a duplicate for re-adds —
    # the authoritative row comes in through cand_local)
    excluded = _ids_df(spark, [i for i, _ in batch_rows])
    art = _ivf_live(spark, index_dir, cells=probed).join(
        F.broadcast(excluded), "id", "left_anti"
    )
    if level_min is not None:
        art = (
            assign_levels(art, "id", M=M_level)
            .where(F.col("level") >= level_min)
            .drop("level")
        )
    b_rows = (
        [
            (i, v)
            for i, v in batch_rows
            if assign_level_py(i, M_level) >= level_min
        ]
        if level_min is not None
        else batch_rows
    )
    bcells = (
        _argmin_d2_blocked(
            np.stack([np.asarray(v, dtype=np.float64) for _, v in b_rows]), C
        )
        if b_rows
        else []
    )
    cand_local = local_rows_df(
        spark,
        [
            (int(i), [float(x) for x in v], int(c))
            for (i, v), c in zip(b_rows, bcells)
        ],
        "id long, vec array<double>, cell int",
    )
    cand = art.select("id", "vec", "cell").unionByName(cand_local)
    # k+1 overfetch + self-drop + re-rank: the same convention as the
    # planner branch of _knn_edges, so route flips never change degree
    raw = ivf_cells_knn(cand, qids, Q, C, k + 1, npb, metric).where(
        F.col("neighbor_id") != F.col("qid")
    )
    w = Window.partitionBy("qid").orderBy("dist", "neighbor_id")
    raw = (
        raw.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )
    return raw.select(
        F.lit(layer).alias("layer"),
        F.col("qid").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "dist",
    )


def _default_exact_limit() -> int:
    from vectordbindexing_spark.plans.knn_planner import EXACT_BASE_LIMIT

    return EXACT_BASE_LIMIT


def init_graph_artifact(
    base: DataFrame,
    index_dir: str,
    M0: int = 32,
    M1: int = 16,
    metric: str = "cosine",
    M_level: int = 16,
    id_col: str = "id",
    vec_col: str = "vec",
    buckets: int = DEFAULT_BUCKETS,
    exact_base_limit: int | None = None,
) -> None:
    """Bulk-build the artifact from an initial corpus (the backfill).

    NOT crash-windowed: init stamps no pending ledger, so a crash
    mid-init — including between the overlapped edges/rev swaps, in
    either order — leaves a half-initialized artifact. The contract is
    that callers re-run init to completion before the artifact is
    first read or upserted (a backfill is re-runnable by definition);
    the upsert-path ordering rules (vectors ⊇ edge endpoints, forward
    before rev) only bind once a ledger-protected batch can observe
    the intermediate state."""
    from vectordbindexing_spark.operators.graph import build_two_layer_index

    os.makedirs(index_dir, exist_ok=True)
    vec_path, edge_path, rev_path, meta_path = _paths(index_dir)
    vecs = base.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    ).where(F.col("vec").isNotNull())
    edges = build_two_layer_index(
        vecs, M0=M0, M1=M1, metric=metric, M_level=M_level
    ).localCheckpoint(eager=True)  # one build, two partitioned writes
    swap_in(
        vecs.withColumn("bucket", _bucket_of("id", buckets)),
        vec_path, coalesce=None, partition_by=["bucket"],
    )
    _parallel_swaps(
        lambda: swap_in(
            edges.withColumn("bucket", _bucket_of("src", buckets)),
            edge_path, coalesce=None, partition_by=["bucket"],
        ),
        lambda: swap_in(
            edges.withColumn("seq", F.lit(0).cast("long"))
            .withColumn("bucket", _bucket_of("dst", buckets)),
            rev_path, coalesce=None, partition_by=["bucket"],
        ),
    )
    _clear_rev_delta(index_dir)
    _clear_fwd_delta(index_dir)
    spark = base.sparkSession
    # post-swap corpus size from parquet footers — a driver-side
    # metadata read, not a Spark count job
    from vectordbindexing_spark.streaming.atomic import count_parquet_rows

    n = count_parquet_rows(vec_path)
    meta = {
        "format": FORMAT,
        "n_at_rebuild": n,
        "n_live": n,
        "buckets": buckets,
        "rev_seq": 0,
        "rev_base_bytes": du_parquet(rev_path),
        "rev_delta_bytes": 0,
        "fwd_base_bytes": du_parquet(edge_path),
        "fwd_delta_bytes": 0,
        **_build_params(M0, M1, M_level, metric),
    }
    # the IVF cells mirror only pays for itself once the batch kNN is
    # past the exact limit (below it the blocked exact pass needs no
    # artifact); smaller corpora build it lazily the first time an
    # upsert actually routes past the limit
    ebl = (
        _default_exact_limit() if exact_base_limit is None
        else exact_base_limit
    )
    if n > ebl:
        meta["ivf"] = _build_ivf_artifact(spark, index_dir, n)
    write_json_atomic(meta_path, meta)


def _knn_edges(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str,
    layer: int,
    exact_base_limit: int,
    planner_kwargs: dict,
    n_hint: int | None = None,
) -> DataFrame:
    """Batch-vs-corpus kNN for one layer: blocked exact below the
    limit (bit-stable, what the parity pins replay), planner-dispatched
    (IVF/IVF-PQ/SQ8 by scale) past it. ``n_hint`` spares the sizing
    job when the caller already tracks the corpus size (the upsert's
    meta-maintained n_live)."""
    n_b = n_hint if n_hint is not None else (
        base.limit(exact_base_limit + 1).count()
    )
    if n_b <= exact_base_limit:
        from vectordbindexing_spark.operators.exact_knn import exact_knn

        raw = exact_knn(
            queries, base, k=k, metric=metric,
            q_id="id", q_vec="vec", b_id="id", b_vec="vec",
            exclude_self=True,
        )
    else:
        from vectordbindexing_spark.plans.knn_planner import knn as planner_knn

        pk = {"approximate_ok": True, "repeated_queries": True}
        pk.update(planner_kwargs)
        raw = planner_knn(
            queries, base, k=k + 1, metric=metric,
            q_id="id", q_vec="vec", b_id="id", b_vec="vec", **pk,
        ).where(F.col("neighbor_id") != F.col("qid"))  # planner lacks
        # exclude_self; overfetch one and drop the self-hit. When the
        # approximate route misses the query itself the k+1 survivors
        # would all stay, leaving this node one OVER the layer degree
        # cap vs the exact path — re-rank per qid and keep exactly k
        w = Window.partitionBy("qid").orderBy("dist", "neighbor_id")
        raw = (
            raw.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )
    return raw.select(
        F.lit(layer).alias("layer"),
        F.col("qid").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "dist",
    )


def upsert_graph_artifact(
    batch: DataFrame,
    index_dir: str,
    id_col: str = "id",
    vec_col: str = "vec",
    refresh_factor: float = 1.5,
    exact_base_limit: int | None = None,
    planner_kwargs: dict | None = None,
) -> str:
    """One foreachBatch step. Returns ``"noop"`` (empty batch or fully
    committed replay), ``"upsert"`` (incremental edges merged into the
    dirty buckets) or ``"rebuild"`` (growth crossed ``refresh_factor``
    × the corpus size at the last rebuild — full bulk build on the
    union, the compaction).

    ``exact_base_limit``/``planner_kwargs``: the scale route — the
    batch-vs-corpus kNN pass dispatches through plans.knn_planner.knn
    when the corpus exceeds the limit (default
    plans.knn_planner.EXACT_BASE_LIMIT); kwargs forward planner options
    (recall_target, memory_tight, threshold overrides for tests)."""
    from vectordbindexing_spark.operators.graph import (
        assign_levels,
        build_two_layer_index,
        mutualize,
    )
    from vectordbindexing_spark.plans.knn_planner import EXACT_BASE_LIMIT

    ebl = EXACT_BASE_LIMIT if exact_base_limit is None else exact_base_limit
    pk = planner_kwargs or {}
    spark = batch.sparkSession
    vec_path, edge_path, rev_path, meta_path = _paths(index_dir)
    meta = read_meta(meta_path, FORMAT)
    recover_tree(vec_path)
    recover_tree(edge_path)
    recover_tree(rev_path)
    cells_path, cent_path = _ivf_paths(index_dir)
    if os.path.isdir(cells_path):
        recover_tree(cells_path, partition_col="cell")
    from vectordbindexing_spark.streaming.atomic import recover

    recover(cent_path)
    M0, M1 = meta["M0"], meta["M1"]
    M_level, metric = meta["M_level"], meta["metric"]
    buckets = meta["buckets"]
    pend = meta.get("pending") or {"ids": [], "replaced": [], "fresh": []}
    # a crashed attempt's delta files must go BEFORE any probe runs:
    # the probes need the PRE-batch log state, and the replay rewrites
    # the same d<seq> names with its own recompute
    if pend.get("seq") is not None:
        for adds_dir, tombs_dir in (
            _delta_paths(index_dir),
            _fwd_delta_paths(index_dir),
            _ivf_delta_paths(index_dir),
        ):
            _pre_clear_delta(adds_dir, tombs_dir, pend["seq"])
    rev_seq = int(meta["rev_seq"]) + 1

    # fold the rev delta log back into its base once it outgrows
    # REV_COMPACT_FACTOR x the base — bounds probe-side read
    # amplification; deferred while a pending batch needs healing
    if not pend["ids"] and (
        meta["rev_delta_bytes"]
        > REV_COMPACT_FACTOR * max(int(meta["rev_base_bytes"]), 1)
    ):
        folded = _rev_live(spark, index_dir, keep_seq=True).withColumn(
            "bucket", _bucket_of("dst", buckets)
        ).localCheckpoint(eager=True)  # lineage reads the paths it replaces
        swap_in(folded, rev_path, coalesce=None, partition_by=["bucket"])
        _clear_rev_delta(index_dir)
        meta["rev_base_bytes"] = du_parquet(rev_path)
        meta["rev_delta_bytes"] = 0
        write_json_atomic(meta_path, meta)

    # same fold for the FORWARD log (serving reads resolve base ∪ delta,
    # so the fold also bounds serve-load read amplification)
    if not pend["ids"] and (
        meta["fwd_delta_bytes"]
        > REV_COMPACT_FACTOR * max(int(meta["fwd_base_bytes"]), 1)
    ):
        folded = _fwd_live(spark, index_dir, keep_seq=True).withColumn(
            "bucket", _bucket_of("src", buckets)
        ).localCheckpoint(eager=True)
        swap_in(folded, edge_path, coalesce=None, partition_by=["bucket"])
        _clear_fwd_delta(index_dir)
        meta["fwd_base_bytes"] = du_parquet(edge_path)
        meta["fwd_delta_bytes"] = 0
        write_json_atomic(meta_path, meta)

    # and for the IVF cells log (bounds the probed-cell read
    # amplification of the batch kNN; centroids stay frozen — a fold
    # is compaction, never a refit)
    if (
        not pend["ids"]
        and meta.get("ivf")
        and meta["ivf"]["delta_bytes"]
        > REV_COMPACT_FACTOR * max(int(meta["ivf"]["base_bytes"]), 1)
    ):
        folded = _ivf_live(spark, index_dir, keep_seq=True).localCheckpoint(
            eager=True
        )
        swap_in(folded, cells_path, coalesce=None, partition_by=["cell"])
        _clear_ivf_delta(index_dir)
        meta["ivf"]["base_bytes"] = du_parquet(cells_path)
        meta["ivf"]["delta_bytes"] = 0
        write_json_atomic(meta_path, meta)

    # ---- classification: TWO |batch|-bounded jobs ----
    # Job 1 — the batch's deterministic winners (duplicate ids resolve
    # to the greatest vec by array ordering — replays are identical
    # rows, so this only matters when one batch really carries
    # conflicting payloads) collected ONCE with their bucket values.
    # Every batch-side frame the old path materialized separately
    # (fresh/changed/ins checkpoints + fresh_ids/ins_ids/repl_rows
    # collects — ~6 extra jobs of pure fixed latency per micro-batch,
    # the r11 toy-scale floor) is rebuilt driver-side from this one
    # bounded collect instead.
    new_rows = (
        batch.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vec"),
        )
        .where(F.col("vec").isNotNull())
        .groupBy("id")
        .agg(F.max("vec").alias("vec"))
        .select("id", "vec", _bucket_of("id", buckets).alias("_bkt"))
        .collect()
    )
    new_vec = {r["id"]: list(r["vec"]) for r in new_rows}
    new_bkt = {r["id"]: r["_bkt"] for r in new_rows}
    if not new_vec and not pend["ids"]:
        return "noop"
    vecs_raw = spark.read.parquet(vec_path)
    stored = vecs_raw.drop("bucket")
    # local frames round-trip through the STORED vec element type so
    # the unions below line up whatever the caller fed the stream
    from pyspark.sql.types import LongType, StructField, StructType

    row_schema = StructType(
        [StructField("id", LongType(), False), stored.schema["vec"]]
    )

    def _rows_df(rows: list) -> DataFrame:
        return local_rows_df(
            spark, [(int(i), list(v)) for i, v in rows], row_schema
        )

    # Job 2 — the classification probe: stored rows in the batch's
    # bucket footprint (bounded by |batch| — unpruned, a replay no-op
    # would pay a full corpus scan to discover there is nothing to do)
    # semi-joined to the batch ids, left-joined to a layer-0 adjacency
    # marker (probe-sized via _fwd_live's src pushdown). One collect
    # returns everything the classification needs: (id, stored vec,
    # has layer-0 edges).
    batch_bkts = sorted(set(new_bkt.values()))
    probe_rows: list = []
    if new_vec:
        ids_b = F.broadcast(_ids_df(spark, list(new_vec)))
        matched = (
            vecs_raw.where(F.col("bucket").isin(batch_bkts))
            .drop("bucket")
            .join(ids_b, "id", "left_semi")
        )
        l0 = (
            _fwd_live(
                spark, index_dir, bkts=batch_bkts,
                src_df=_ids_df(spark, list(new_vec))
                .withColumnRenamed("id", "src"),
            )
            .where(F.col("layer") == 0)
            .select(F.col("src").alias("id"))
            .distinct()
            .withColumn("_has", F.lit(True))
        )
        probe_rows = [
            (r["id"], list(r["vec"]), r["_has"] is True)
            for r in matched.join(l0, "id", "left").collect()
        ]

    # driver-side classify. REPLAY DETECTION: a redelivered batch
    # (every id stored with a bit-identical vector and its edge work
    # committed — pending ledger clear) is a no-op on the state — the
    # only way replay can be exact, since recomputing kNN dists is
    # deterministic only up to BLAS batch shape. The vec comparison is
    # the same exact element-wise equality the old Spark-side
    # F.col("vec") != F.col("_sv") evaluated.
    stored_map = {i: (v, has) for i, v, has in probe_rows}
    fresh_rows = [(i, v) for i, v in new_vec.items() if i not in stored_map]
    changed_rows = [
        (i, v)
        for i, v in new_vec.items()
        if i in stored_map and stored_map[i][0] != v
    ]
    # redelivered-unchanged ids missing their layer-0 adjacency
    # entirely: defense-in-depth (the ledger below covers every crash
    # window for batches it has seen)
    needs_rows = [
        (i, v)
        for i, v in new_vec.items()
        if i in stored_map and stored_map[i][0] == v and not stored_map[i][1]
    ]

    # PENDING LEDGER heal: a prior attempt stamped its work list but
    # never cleared it — some swaps may have landed, some not. Every
    # pending id that is stored but not already re-queued by the
    # classification above gets its edges recomputed against the
    # stored (post-swap) vectors; pending REPLACED ids re-enter the
    # stale-edge drop, closing the update-crash window where
    # vec == stored hid the half-applied update. Two extra bounded
    # jobs, paid only on a crash replay.
    n_heal_fresh = 0
    heal_rows: list = []
    heal_repl_ids: list = []
    pend_bkt: dict = {}
    if pend["ids"]:
        pend_bkt = {
            r["id"]: r["_bkt"]
            for r in _ids_df(spark, pend["ids"])
            .select("id", _bucket_of("id", buckets).alias("_bkt"))
            .collect()
        }
        stored_pend_rows = [
            (r["id"], list(r["vec"]))
            for r in vecs_raw.where(
                F.col("bucket").isin(sorted(set(pend_bkt.values())))
            )
            .drop("bucket")
            .join(F.broadcast(_ids_df(spark, pend["ids"])), "id", "left_semi")
            .collect()
        ]
        requeued = (
            {i for i, _ in fresh_rows}
            | {i for i, _ in changed_rows}
            | {i for i, _ in needs_rows}
        )
        heal_rows = [(i, v) for i, v in stored_pend_rows if i not in requeued]
        if pend["fresh"]:
            # fresh ids the crashed attempt swapped in but never
            # counted into n_live (the meta write is the last step)
            pf = set(pend["fresh"])
            n_heal_fresh = sum(1 for i, _ in stored_pend_rows if i in pf)
        pr = set(pend["replaced"])
        heal_repl_ids = [i for i, _ in heal_rows if i in pr]

    # the rows that need NEW edges (and whose ids' buckets get dirty)
    ins_rows = fresh_rows + changed_rows + needs_rows + heal_rows
    if not ins_rows:
        if meta.get("pending"):
            meta.pop("pending", None)
            write_json_atomic(meta_path, meta)
        return "noop"
    fresh = _rows_df(fresh_rows)
    changed = _rows_df(changed_rows)
    ins = _rows_df(ins_rows)
    fresh_ids = [i for i, _ in fresh_rows]
    # replaced for EDGE purposes (stale-geometry drop): batch updates
    # plus healed pending updates. Replaced for VECTOR purposes is the
    # batch updates alone — a healed id's stored vector is already the
    # winning one and must NOT be anti-joined out of the corpus.
    replaced_v_ids = [i for i, _ in changed_rows]
    replaced_e_ids = sorted(set(replaced_v_ids) | set(heal_repl_ids))
    replaced_v = _ids_df(spark, replaced_v_ids)
    replaced_e = _ids_df(spark, replaced_e_ids)
    repl_bkts = sorted(
        {new_bkt[i] for i in replaced_v_ids}
        | {pend_bkt[i] for i in heal_repl_ids}
    )
    # batch wins deterministically for updates; unchanged redelivered
    # ids keep their stored row (bit-identical anyway). Deliberately
    # NOT checkpointed: the lineage (parquet scan + broadcast anti +
    # local-frame unions) is cheap to recompute and fully consumed
    # (via the checkpointed kNN edges / rebuild output) before any swap.
    union = (
        stored.join(F.broadcast(replaced_v), "id", "left_anti")
        .unionByName(changed)
        .unionByName(fresh)
    )
    # incremental corpus size: meta-maintained, no O(corpus) count per
    # micro-batch; the ledger's fresh list keeps it exact across crash
    # replays, and every rebuild reconciles against a real count.
    n_union = meta["n_live"] + len(fresh_ids) + n_heal_fresh

    # stamp the work-list ledger BEFORE any swap: a crash anywhere
    # between here and the final meta write replays into the heal path.
    # All three lists are driver-local already — no collect jobs here.
    meta["pending"] = {
        "ids": [i for i, _ in ins_rows],
        "replaced": replaced_e_ids,
        "fresh": fresh_ids,
        "seq": rev_seq,
    }
    write_json_atomic(meta_path, meta)

    if n_union >= refresh_factor * meta["n_at_rebuild"]:
        # materialize BEFORE the vectors swap: the build's lineage
        # reads the pre-swap vec_path file listing, which the rename
        # below invalidates (a rebuild is O(corpus) compaction anyway)
        edges = build_two_layer_index(
            union, M0=M0, M1=M1, metric=metric, M_level=M_level
        ).localCheckpoint(eager=True)
        swap_in(
            union.withColumn("bucket", _bucket_of("id", buckets)),
            vec_path, coalesce=None, partition_by=["bucket"],
        )
        _parallel_swaps(
            lambda: swap_in(
                edges.withColumn("bucket", _bucket_of("src", buckets)),
                edge_path, coalesce=None, partition_by=["bucket"],
            ),
            lambda: swap_in(
                edges.withColumn("seq", F.lit(0).cast("long"))
                .withColumn("bucket", _bucket_of("dst", buckets)),
                rev_path, coalesce=None, partition_by=["bucket"],
            ),
        )
        _clear_rev_delta(index_dir)  # the fresh bases subsume the logs
        _clear_fwd_delta(index_dir)
        from vectordbindexing_spark.streaming.atomic import (
            count_parquet_rows,
        )

        n_real = count_parquet_rows(vec_path)  # reconcile, footers only
        meta.update(
            n_at_rebuild=n_real, n_live=n_real,
            rev_base_bytes=du_parquet(rev_path), rev_delta_bytes=0,
            fwd_base_bytes=du_parquet(edge_path), fwd_delta_bytes=0,
        )
        # REFIT the IVF mirror (freeze-then-refit: rebuild is where
        # quantizer drift is repaid); below
        # the exact limit the mirror is dead weight and is dropped
        if n_real > ebl:
            meta["ivf"] = _build_ivf_artifact(spark, index_dir, n_real)
        else:
            meta.pop("ivf", None)
            _clear_ivf_delta(index_dir)
            import shutil

            shutil.rmtree(cells_path, ignore_errors=True)
            shutil.rmtree(cent_path, ignore_errors=True)
        meta.pop("pending", None)
        write_json_atomic(meta_path, meta)
        return "rebuild"

    # incremental edges: inserted/updated/healed nodes vs the union —
    # exact below the limit, MAINTAINED-IVF-ARTIFACT-routed past it
    # (probe-pruned read, no per-batch fit/assign scan) — + layer-1
    # over the deterministic level>=1 subset
    if n_union <= ebl:
        l0 = _knn_edges(ins, union, M0, metric, 0, ebl, pk, n_hint=n_union)
        up_ins = assign_levels(ins, M=M_level).filter(F.col("level") >= 1)
        up_union = assign_levels(union, M=M_level).filter(F.col("level") >= 1)
        l1 = _knn_edges(
            up_ins.select("id", "vec"), up_union.select("id", "vec"),
            M1, metric, 1, ebl, pk,
        )
    else:
        # LAZY IVF MIRROR — the corpus first crossed the exact limit
        # since init/rebuild (which build the mirror only above it):
        # fit + materialize it once from the PRE-batch vectors (the
        # same two O(corpus) passes a rebuild pays; batch rows ride in
        # as cand_local)
        if not meta.get("ivf"):
            meta["ivf"] = _build_ivf_artifact(
                spark, index_dir, meta["n_live"]
            )
            write_json_atomic(meta_path, meta)
        nprobe = pk.get("ivf_nprobe")
        l0 = _ivf_artifact_knn(
            spark, index_dir, ins_rows, ins_rows, M0, metric, 0,
            nprobe=nprobe, M_level=M_level,
        )
        l1 = _ivf_artifact_knn(
            spark, index_dir, ins_rows, ins_rows, M1, metric, 1,
            nprobe=nprobe, level_min=1, M_level=M_level,
        )
    # collect the batch's new edges: |ins|·(M0+M1+2) rows, bounded by
    # the batch the classification already holds driver-side — ONE job
    # running both layer kernels (replacing the eager checkpoint), and
    # every downstream consumer (the dirty set, the mutualize input)
    # reads the rows as a JVM local relation with no recompute
    edge_rows = [
        (r["layer"], r["src"], r["dst"], r["dist"])
        for r in l0.unionByName(l1).collect()
    ]
    new_edges = local_rows_df(spark, edge_rows, EDGE_SCHEMA)

    # nodes losing a stale edge to a replaced id: a pure dst-side
    # probe — partition-pruned on the INVERTED log by the replaced
    # ids' buckets instead of scanning every src bucket. Skipped
    # outright for insert-only batches (the replaced list is
    # driver-local — no replaced ids means no stale edges to lose).
    # The loser list is |replaced|·degree-bounded, so it collects.
    loser_ids: list = []
    if replaced_e_ids:
        loser_ids = [
            r["src"]
            for r in _rev_live(
                spark, index_dir, bkts=repl_bkts,
                dst_df=replaced_e.withColumnRenamed("id", "dst"),
            ).select("src").distinct().collect()
        ]
    # DIRTY set: nodes whose adjacency can change — batch ids, new
    # edges' endpoints, and the losers. All three lists are driver-
    # local now, so the set, its broadcast frame and its bucket
    # footprint cost ZERO jobs (the r12 path paid an eager checkpoint
    # + a distinct-collect probe per micro-batch here); bucket values
    # come from the pinned xxhash64 twin.
    from vectordbindexing_spark.functions.hashing import bucket_of_py

    dirty_ids = sorted(
        {i for i, _ in ins_rows}
        | {d for _, _, d, _ in edge_rows}
        | set(loser_ids)
    )
    dirty = _ids_df(spark, dirty_ids)
    dirty_b = F.broadcast(dirty)
    dirty_bkts = sorted({bucket_of_py(i, buckets) for i in dirty_ids})

    # candidate rows for the dirty re-cap, all partition-pruned: rows
    # whose SRC is dirty from the resolved forward log, rows whose DST
    # is dirty from the inverted one (srcs-not-dirty only, to avoid
    # double-counting rows with both endpoints dirty). src_rows is
    # ALSO exactly the row set this batch's forward tombstones kill.
    src_rows = _fwd_live(
        spark, index_dir, bkts=dirty_bkts,
        src_df=dirty.withColumnRenamed("id", "src"),
    )
    # dirty ids hash to the same values whether keyed as src or dst,
    # so dirty_bkts prunes the dst-partitioned log too; the dst filter
    # is applied INSIDE the resolver, before per-src resolution
    dst_rows = _rev_live(
        spark, index_dir, bkts=dirty_bkts,
        dst_df=dirty.withColumnRenamed("id", "dst"),
    ).join(dirty_b.withColumnRenamed("id", "src"), "src", "left_anti")
    # minus stale rows (either endpoint replaced — their dists
    # describe the old vector)
    repl = F.broadcast(replaced_e.withColumnRenamed("id", "_rid"))
    cand = src_rows.unionByName(dst_rows)
    old_rel = cand.join(
        repl, F.col("src") == F.col("_rid"), "left_anti"
    ).join(repl, F.col("dst") == F.col("_rid"), "left_anti")
    # dirty-scoped mutualize == the full pass restricted to dirty srcs:
    # a dirty node's full-pass candidates are its own stored rows, the
    # reverses of stored rows pointing AT it, and the new edges — all
    # present in (old_rel ∪ new_edges); non-dirty rows are a mutualize
    # fixed point and gain no candidates, so they stay verbatim.
    merged = mutualize(
        old_rel.unionByName(new_edges), max_degree=2 * max(M0, M1)
    ).join(dirty_b.withColumnRenamed("id", "src"), "src", "left_semi")
    # Bounded-collect gate (the CC / blocked-kernel pattern): the
    # merged adjacency is capped at |dirty| · 2 layers · max_degree
    # rows by mutualize's own degree cap — a deterministic bound known
    # driver-side before any job runs. Under the gate the rows collect
    # in the ONE job that was the eager checkpoint anyway, and BOTH
    # delta appends become driver-side pyarrow writes
    # (_write_edge_delta_local) — 5 fixed-latency jobs per micro-batch
    # removed. Past the gate the distributed checkpoint + Spark delta
    # writers run — the 100 TB route.
    est_rows = len(dirty_ids) * 2 * (2 * max(M0, M1))
    merged_local = est_rows <= MERGED_LOCAL_LIMIT
    if merged_local:
        md_rows = [
            (r["layer"], r["src"], r["dst"], r["dist"])
            for r in merged.collect()
        ]
    else:
        # Checkpointed: it feeds BOTH delta appends, and its lineage
        # reads edge_path/rev_path listings that later batches' folds
        # invalidate.
        merged_dirty = merged.localCheckpoint(eager=True)

    # vector rows actually change only for inserts and updates; their
    # bucket list (⊆ batch_bkts, bounded by |batch|) partition-prunes
    # the stored-vector scan to the buckets being rewritten
    # vector-dirty buckets: driver-local (fresh ∪ replaced ids are all
    # batch ids, whose buckets job 1 already collected) — no extra job
    vb_list = sorted(
        {new_bkt[i] for i in fresh_ids} | {new_bkt[i] for i in replaced_v_ids}
    )
    vecs_out = (
        vecs_raw.where(F.col("bucket").isin(vb_list))
        .drop("bucket")
        .join(F.broadcast(replaced_v), "id", "left_anti")
        .unionByName(changed)
        .unionByName(fresh)
        .withColumn("bucket", _bucket_of("id", buckets))
    )
    # vectors first: a crash between the vectors swap and the edge
    # appends leaves vectors a SUPERSET of the edges' endpoints
    # (unreachable rows, servable); the replayed batch then lands on
    # the pending-heal path above and completes the graph. The reverse
    # order could serve edges whose endpoints have no vector. Both
    # edge artifacts are APPEND-ONLY logs since r11 (the forward
    # dirty-bucket swap measured 91% of the artifact rewritten per
    # 1000-node update at 2M — batch·2·M0 + losers srcs saturate any
    # bucket count; the delta append is |adds| + |dirty| rows):
    # forward before rev so the serving view completes first, each
    # log's tombstone file lands before its adds, and a crash anywhere
    # replays via the ledger's seq pre-clear. Lineage safety:
    # merged_dirty and dirty are checkpointed above, so the edge
    # appends have no live lineage; vecs_out reads only vec_path.
    # IVF-cells maintenance rows (only once the mirror exists): assign
    # the batch driver-side (|batch|·nlist flops — the whole point: the
    # corpus is never re-assigned) so the mirror keeps serving pruned
    # batch kNNs
    ivf_add_rows: list = []
    if meta.get("ivf"):
        import numpy as np

        from vectordbindexing_spark.operators.ivf import _argmin_d2_blocked

        C = _load_ivf_centroids(spark, index_dir)
        ins_cells = _argmin_d2_blocked(
            np.stack([np.asarray(v, dtype=np.float64) for _, v in ins_rows]),
            C,
        )
        ivf_add_rows = [
            (i, v, int(c)) for (i, v), c in zip(ins_rows, ins_cells)
        ]
    if vb_list:
        swap_in_buckets(vecs_out, vec_path, expected=vb_list)
    # under the gate both appends are |batch|·degree-bounded
    # driver-local rows → pyarrow writes, no Spark jobs; past it the
    # distributed writers run on the checkpointed frame as before
    _adds, _dirty = (
        (md_rows, dirty_ids) if merged_local else (merged_dirty, dirty)
    )
    fwd_appended = _write_fwd_delta(_adds, _dirty, index_dir, rev_seq, buckets)
    appended = _write_rev_delta(_adds, _dirty, index_dir, rev_seq, buckets)
    meta["n_live"] = n_union
    meta["rev_seq"] = rev_seq
    meta["fwd_delta_bytes"] = int(meta["fwd_delta_bytes"]) + fwd_appended
    meta["rev_delta_bytes"] = int(meta["rev_delta_bytes"]) + appended
    if ivf_add_rows:
        ivf_appended = _write_ivf_delta(ivf_add_rows, index_dir, rev_seq)
        meta["ivf"]["delta_bytes"] = (
            int(meta["ivf"]["delta_bytes"]) + ivf_appended
        )
    meta.pop("pending", None)
    write_json_atomic(meta_path, meta)
    return "upsert"


def load_graph_artifact(spark: SparkSession, index_dir: str):
    """(vectors_df, edges_df, meta) — feed to
    operators.search.compact_index / graph_search for serving. The
    inverted adjacency is maintenance state, not a serving input."""
    vec_path, edge_path, rev_path, meta_path = _paths(index_dir)
    meta = read_meta(meta_path, FORMAT)
    recover_tree(vec_path)
    recover_tree(edge_path)
    recover_tree(rev_path)
    return (
        spark.read.parquet(vec_path).drop("bucket"),
        edges_resolved(spark, index_dir),
        meta,
    )


def graph_upsert_stream(
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    id_col: str = "id",
    vec_col: str = "vec",
    refresh_factor: float = 1.5,
    exact_base_limit: int | None = None,
    planner_kwargs: dict | None = None,
) -> StreamingQuery:
    """Attach the artifact maintainer to a vector stream; returns the
    StreamingQuery (caller awaits/stops). The artifact must exist
    (:func:`init_graph_artifact`)."""
    return (
        vectors_stream.writeStream.foreachBatch(
            lambda b, _id: upsert_graph_artifact(
                b, index_dir, id_col=id_col, vec_col=vec_col,
                refresh_factor=refresh_factor,
                exact_base_limit=exact_base_limit,
                planner_kwargs=planner_kwargs,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
