"""Streaming upsert into a persisted two-layer GRAPH serving artifact
(reference study: `hnsw_insert.ipynb`, +1%…+10% incremental inserts).

State layout under ``index_dir`` (each dir swapped crash-safely via
streaming/atomic.py, so a crash at any point leaves a servable
artifact; the three ``*_delta/`` dirs are LSM delta logs — one design,
described in streaming/deltalog.py):

* ``vectors``  — parquet partitioned by ``bucket = pmod(xxhash64(id),
  B)``: (id, vec), the full current corpus
* ``edges`` + ``fwd_delta/`` — the serving graph (layer, src, dst,
  dist), bucketed by src, and its :data:`FWD` log (r11: the forward
  dirty-bucket swap rewrote 91% of the artifact per 1000-node update
  batch at 2M — the dirty set |batch|·2·M0 + losers saturates any
  bucket count). Serving reads :func:`edges_resolved`.
* ``rev_edges`` + ``rev_delta/`` — the inverted adjacency, bucketed by
  dst, and its :data:`REV` log. Every dst-side probe (who points AT
  this node?) partition-prunes here instead of scanning the whole
  src-bucketed artifact — without it each micro-batch paid two O(E)
  scans, the r09 scale soft spot; rewriting its dirty buckets instead
  of logging cost ~+50% upsert wall-clock at 500k (r10).
* ``ivf_centroids``, ``ivf_cells`` + ``ivf_delta/`` — the IVF mirror
  that serves the batch kNN past the exact limit (block comment above
  :data:`IVF`).
* ``meta.json``— {format, n_at_rebuild, n_live, build params, buckets,
  pending, per-log byte counters}; written atomically (write-temp +
  os.replace) so a crash mid-dump can never brick the artifact.
  ``format`` stamps the on-disk layout above: an artifact without the
  current :data:`FORMAT` fails to load (atomic.read_meta) instead of
  being misread — re-run init.

Per micro-batch (:func:`upsert_graph_artifact`):

1. kNN edges of the NEW nodes against (stored ∪ batch), one exact
   pass of O(n·|B|) — the per-insert cost of the reference's
   `add_items_batch` amortized over the batch
   (hnsw_cosine_norm.py:480-580). Up to ``graph.BLOCKED_BUILD_LIMIT``
   rows — the corpus size the bulk build already collects to the
   driver — and while the batch's distance matrix is one block
   (``exact_knn.driver_knn_fits``), the live vectors are read through
   pyarrow and scored by the driver-held kernel
   (:func:`_local_batch_knn`), no Spark job; otherwise up to
   ``exact_base_limit`` the Spark blocked kernel scans them; past it
   the pass reads the maintained IVF mirror
   (:func:`_ivf_artifact_knn`), so a 100 TB corpus pays a
   probe-pruned cell read, not a full scan. Layer-1 edges likewise
   over the level≥1 subset (level assignment is a deterministic
   function of the id, graph.py:26, so stored nodes keep their levels
   without re-reading anything).
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
import shutil
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectordbindexing_spark.plans.partitioning import local_rows_df
from vectordbindexing_spark.streaming import deltalog
from vectordbindexing_spark.streaming.atomic import (
    count_parquet_rows,
    du_parquet,
    read_meta,
    read_parquet,
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


def _paths(index_dir: str) -> tuple[str, str, str, str]:
    return (
        os.path.join(index_dir, "vectors"),
        os.path.join(index_dir, "edges"),
        os.path.join(index_dir, "rev_edges"),
        os.path.join(index_dir, "meta.json"),
    )


def _build_params(M0: int, M1: int, M_level: int, metric: str) -> dict:
    return {"M0": M0, "M1": M1, "M_level": M_level, "metric": metric}


def _ids_df(spark: SparkSession, ids: list) -> DataFrame:
    return local_rows_df(spark, [(int(i),) for i in ids], "id long")


#: Bounded-collect gate for the incremental upsert's merged dirty
#: adjacency: mutualize caps it at |dirty| · 2 layers · max_degree
#: rows (a deterministic bound computed driver-side), and under this
#: many rows (~64 MB of edge tuples — the CC gate's scale) the rows
#: collect so the delta footprints and BOTH edge-log appends run
#: driver-side through pyarrow. Past it the distributed checkpoint +
#: Spark writers run unchanged.
MERGED_LOCAL_LIMIT = 2_000_000

#: the serving graph's log: src-bucketed like its base, src-tombstoned
#: (a batch rewrites each dirty src's whole adjacency)
FWD = deltalog.LogSpec(
    base="edges",
    root="fwd_delta",
    cols=("layer", "src", "dst", "dist"),
    key="src",
    dedup=("layer", "src", "dst"),
    part="bucket",
    bucket_by=("src",),
    adds_schema="layer int, src long, dst long, dist double, seq long, "
    "bucket int",
    tombs_schema="src long, seq long",
    meta_prefix="fwd_",
)
#: the inverted adjacency's log: the same rows bucketed by dst, the
#: dst-side probes' key; still src-tombstoned
REV = replace(
    FWD, base="rev_edges", root="rev_delta", bucket_by=("dst",),
    meta_prefix="rev_",
)


def edges_resolved(spark: SparkSession, index_dir: str) -> DataFrame:
    """The full live forward adjacency (serving + test surface)."""
    return deltalog.resolve(spark, FWD, index_dir)


def rev_edges_resolved(spark: SparkSession, index_dir: str) -> DataFrame:
    """The full live inverted adjacency (test/inspection surface) —
    must always equal the forward adjacency row-for-row."""
    return deltalog.resolve(spark, REV, index_dir)


# --------------------------------------------------------------- IVF artifact
#
# The maintained IVF artifact that makes the past-exact-limit batch kNN
# an nprobe/nlist-PRUNED read instead of an O(corpus) fit+assign per
# micro-batch (the r11 2M measurement's residual floor: re-fitting
# centroids and re-assigning every stored row each batch).
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
# * ``ivf_delta/`` — the cells mirror's :data:`IVF` log, id-tombstoned.
#   Batch rows are assigned driver-side (|batch|·nlist flops) and
#   appended — never a cell rewrite.

IVF = deltalog.LogSpec(
    base="ivf_cells",
    root="ivf_delta",
    cols=("id", "vec", "cell"),
    key="id",
    dedup=("id",),
    part="cell",
    bucket_by=(),
    adds_schema="id long, vec array<double>, seq long, cell int",
    tombs_schema="id long, seq long",
    meta_scope="ivf",
)


def _ivf_paths(index_dir: str) -> tuple[str, str]:
    return (
        os.path.join(index_dir, IVF.base),
        os.path.join(index_dir, "ivf_centroids"),
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
    vecs = read_parquet(spark, vec_path, "bucket").drop("bucket")
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
    deltalog.clear(IVF, index_dir)
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
    npb = max(1, len(C) // 8)
    if level_min is not None:
        q_rows = [
            (i, v) for i, v in q_rows
            if assign_level_py(i, M_level) >= level_min
        ]
    if not q_rows:
        return local_rows_df(spark, [], EDGE_SCHEMA)
    qids = np.array([i for i, _ in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(v, dtype=np.float64) for _, v in q_rows])
    probed = sorted(probe_cells(Q, C, npb))

    # artifact candidates: probed cells only, minus every batch id (its
    # artifact row is stale for updates and a duplicate for re-adds —
    # the authoritative row comes in through cand_local)
    excluded = _ids_df(spark, [i for i, _ in batch_rows])
    art = deltalog.resolve(spark, IVF, index_dir, parts=probed).join(
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
    # k+1 overfetch + self-drop + re-rank per qid: a route that misses
    # the query itself must still keep exactly k, never one over the
    # layer degree cap the exact route keeps
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


def _as_stored(rows: list, vdt, d: int):
    """``(ids, Q)`` of driver-local ``(id, vec)`` rows, every vector
    rounded through the STORED element type ``vdt`` and widened to
    float64 — how every batch row enters the exact batch kNN, on
    either route."""
    import numpy as np

    return (
        np.array([i for i, _ in rows], dtype=np.int64),
        np.asarray([v for _, v in rows], dtype=vdt)
        .astype(np.float64)
        .reshape(len(rows), d),
    )


def _local_batch_knn(
    vec_path: str,
    ins_rows: list,
    drop_ids: list,
    add_rows: list,
    vdt,
    M0: int,
    M1: int,
    M_level: int,
    metric: str,
) -> list:
    """Both layers' batch-vs-corpus kNN edges computed on the driver.
    The live vectors are read once through pyarrow — no Spark job; hive
    discovery skips the hidden ``.bucket=K.old`` swap siblings and
    ``_SUCCESS`` markers, as Spark's does — and the batch's corpus
    edit (``drop_ids``, ``add_rows``: the same pair the upsert's Spark
    union applies) is applied to them. The driver-held exact kernel
    then scores the ``ins_rows`` queries per layer, layer 1 over the
    level≥1 subset on both sides. Returns (layer, src, dst, dist)
    rows."""
    import numpy as np
    import pyarrow.dataset as ds

    from vectordbindexing_spark.operators.exact_knn import blocked_self_knn
    from vectordbindexing_spark.operators.graph import assign_level_py

    t = ds.dataset(vec_path, format="parquet", partitioning="hive").to_table(
        columns=["id", "vec"]
    )
    sids = t.column("id").to_numpy()
    d = len(ins_rows[0][1])
    S = (
        t.column("vec").combine_chunks().flatten().to_numpy()
        .astype(np.float64).reshape(len(sids), d)
    )
    keep = ~np.isin(sids, np.asarray(drop_ids, dtype=np.int64))
    aids, A = _as_stored(add_rows, vdt, d)
    bids, B = np.concatenate([sids[keep], aids]), np.concatenate([S[keep], A])
    qids, Q = _as_stored(ins_rows, vdt, d)

    def _upper(ids: np.ndarray) -> np.ndarray:
        return np.array(
            [assign_level_py(i, M_level) >= 1 for i in ids], dtype=bool
        )

    qu, bu = _upper(qids), _upper(bids)
    rows: list = []
    for layer, k, qm, bm in ((0, M0, ..., ...), (1, M1, qu, bu)):
        src, dst, dist = blocked_self_knn(
            qids[qm], Q[qm], bids[bm], B[bm], k, metric
        )
        rows += zip(
            [layer] * len(src), src.tolist(), dst.tolist(), dist.tolist()
        )
    return rows


def _bulk_write(
    spark: SparkSession, vecs: DataFrame, index_dir: str, meta: dict, ebl: int
) -> None:
    """The bulk (re)write init and every rebuild share: build the
    two-layer index over ``vecs``, swap vectors, then edges and rev
    edges (overlapped), clear both edge logs — the fresh bases subsume
    them — and refit the IVF mirror, or drop it at or below the exact
    limit ``ebl``, where it is dead weight (freeze-then-refit: this is
    where quantizer drift is repaid). Updates ``meta``'s counters; the
    caller writes it."""
    from vectordbindexing_spark.operators.graph import build_two_layer_index

    vec_path, edge_path, rev_path, _ = _paths(index_dir)
    buckets = meta["buckets"]
    # one build, two partitioned writes; materialized BEFORE the vectors
    # swap, whose rename invalidates a rebuild's pre-swap file listing
    edges = build_two_layer_index(
        vecs, M0=meta["M0"], M1=meta["M1"], metric=meta["metric"],
        M_level=meta["M_level"],
    ).localCheckpoint(eager=True)
    swap_in(
        vecs.withColumn("bucket", bucket(buckets, "id")),
        vec_path, coalesce=None, partition_by=["bucket"],
    )
    deltalog.parallel_swaps(
        lambda: swap_in(
            edges.withColumn("bucket", bucket(buckets, "src")),
            edge_path, coalesce=None, partition_by=["bucket"],
        ),
        lambda: swap_in(
            edges.withColumn("seq", F.lit(0).cast("long"))
            .withColumn("bucket", bucket(buckets, "dst")),
            rev_path, coalesce=None, partition_by=["bucket"],
        ),
    )
    for spec in (REV, FWD):
        deltalog.clear(spec, index_dir)
        deltalog.reset_bytes(spec, meta, index_dir)
    n = count_parquet_rows(vec_path)  # parquet footers, no Spark job
    meta.update(n_at_rebuild=n, n_live=n)
    if n > ebl:
        meta["ivf"] = _build_ivf_artifact(spark, index_dir, n)
    else:
        meta.pop("ivf", None)
        deltalog.clear(IVF, index_dir)
        for p in _ivf_paths(index_dir):
            shutil.rmtree(p, ignore_errors=True)


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
    the intermediate state.

    The IVF cells mirror only pays for itself once the batch kNN is
    past ``exact_base_limit`` (default plans.knn_planner.EXACT_BASE_LIMIT;
    below it the blocked exact pass needs no artifact); smaller corpora
    build it lazily the first time an upsert routes past the limit."""
    from vectordbindexing_spark.plans.knn_planner import EXACT_BASE_LIMIT

    os.makedirs(index_dir, exist_ok=True)
    vecs = base.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    ).where(F.col("vec").isNotNull())
    meta = {
        "format": FORMAT,
        "buckets": buckets,
        "rev_seq": 0,
        **_build_params(M0, M1, M_level, metric),
    }
    ebl = EXACT_BASE_LIMIT if exact_base_limit is None else exact_base_limit
    _bulk_write(base.sparkSession, vecs, index_dir, meta, ebl)
    write_json_atomic(_paths(index_dir)[3], meta)


def upsert_graph_artifact(
    batch: DataFrame,
    index_dir: str,
    id_col: str = "id",
    vec_col: str = "vec",
    refresh_factor: float = 1.5,
    exact_base_limit: int | None = None,
) -> str:
    """One foreachBatch step. Returns ``"noop"`` (empty batch or fully
    committed replay), ``"upsert"`` (incremental edges merged into the
    dirty buckets) or ``"rebuild"`` (growth crossed ``refresh_factor``
    × the corpus size at the last rebuild — full bulk build on the
    union, the compaction).

    ``exact_base_limit``: the scale route — past it (default
    plans.knn_planner.EXACT_BASE_LIMIT) the batch-vs-corpus kNN pass
    reads the maintained IVF mirror instead of the blocked exact
    pass."""
    import numpy as np

    from vectordbindexing_spark.operators.exact_knn import (
        driver_knn_fits,
        exact_knn_local_queries,
    )
    from vectordbindexing_spark.operators.graph import (
        BLOCKED_BUILD_LIMIT,
        assign_level_py,
        assign_levels,
        mutualize,
    )
    from vectordbindexing_spark.plans.knn_planner import EXACT_BASE_LIMIT

    ebl = EXACT_BASE_LIMIT if exact_base_limit is None else exact_base_limit
    spark = batch.sparkSession
    vec_path, edge_path, rev_path, meta_path = _paths(index_dir)
    meta = read_meta(meta_path, FORMAT)
    recover_tree(vec_path)
    recover_tree(edge_path)
    recover_tree(rev_path)
    cells_path, cent_path = _ivf_paths(index_dir)
    if os.path.isdir(cells_path):
        recover_tree(cells_path, partition_col="cell")
    recover(cent_path)
    M0, M1 = meta["M0"], meta["M1"]
    M_level, metric = meta["M_level"], meta["metric"]
    buckets = meta["buckets"]
    pend = meta.get("pending") or {"ids": [], "replaced": [], "fresh": []}
    # a crashed attempt's delta files must go BEFORE any probe runs:
    # the probes need the PRE-batch log state, and the replay rewrites
    # the same d<seq> names with its own recompute
    if pend.get("seq") is not None:
        for spec in (REV, FWD, IVF):
            deltalog.pre_clear(spec, index_dir, pend["seq"])
    rev_seq = int(meta["rev_seq"]) + 1

    # fold each outgrown log back into its base (the IVF fold is
    # compaction, never a refit: centroids stay frozen); deferred while
    # a pending batch needs healing
    if not pend["ids"]:
        for spec in (REV, FWD, IVF):
            deltalog.fold_if_due(spark, spec, index_dir, meta, meta_path)

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
        .select("id", "vec", bucket(buckets, "id").alias("_bkt"))
        .collect()
    )
    new_vec = {r["id"]: list(r["vec"]) for r in new_rows}
    new_bkt = {r["id"]: r["_bkt"] for r in new_rows}
    if not new_vec and not pend["ids"]:
        return "noop"
    vecs_raw = read_parquet(spark, vec_path, "bucket")
    stored = vecs_raw.drop("bucket")
    # local frames round-trip through the STORED vec element type so
    # the unions below line up whatever the caller fed the stream
    from pyspark.sql.types import FloatType, LongType, StructField, StructType

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
    # marker (probe-sized via the resolver's src semi-join). One collect
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
            deltalog.resolve(
                spark, FWD, index_dir, parts=batch_bkts,
                semi=_ids_df(spark, list(new_vec))
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
            .select("id", bucket(buckets, "id").alias("_bkt"))
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
    fresh_ids = [i for i, _ in fresh_rows]
    # replaced for EDGE purposes (stale-geometry drop): batch updates
    # plus healed pending updates. Replaced for VECTOR purposes is the
    # batch updates alone — a healed id's stored vector is already the
    # winning one and must NOT be anti-joined out of the corpus.
    replaced_v_ids = [i for i, _ in changed_rows]
    replaced_e_ids = sorted(set(replaced_v_ids) | set(heal_repl_ids))
    replaced_e = _ids_df(spark, replaced_e_ids)
    repl_bkts = sorted(
        {new_bkt[i] for i in replaced_v_ids}
        | {pend_bkt[i] for i in heal_repl_ids}
    )
    # THE batch's corpus edit — one (drop, add) pair that every reader
    # of the post-batch corpus applies: the union (rebuild, Spark kNN
    # route), the vectors swap and the driver kNN route. Batch wins
    # deterministically for updates: the replaced ids' stored rows
    # drop, then the changed and fresh rows append, rounded through
    # the stored element type; unchanged redelivered ids keep their
    # stored row (bit-identical anyway).
    add_rows = changed_rows + fresh_rows
    drop_df = F.broadcast(_ids_df(spark, replaced_v_ids))
    add_df = _rows_df(add_rows)

    def _edited(corpus: DataFrame) -> DataFrame:
        return corpus.join(drop_df, "id", "left_anti").unionByName(add_df)

    # Deliberately NOT checkpointed: the lineage (parquet scan +
    # broadcast anti + local-frame union) is cheap to recompute and
    # fully consumed (via the checkpointed kNN edges / rebuild output)
    # before any swap.
    union = _edited(stored)
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
        _bulk_write(spark, union, index_dir, meta, ebl)
        meta.pop("pending", None)
        write_json_atomic(meta_path, meta)
        return "rebuild"

    # incremental edges: inserted/updated/healed nodes vs the union —
    # on the driver while the union is a corpus the bulk build also
    # collects there and the batch's distance matrix is one block, the
    # Spark blocked exact pass up to the exact limit,
    # MAINTAINED-IVF-ARTIFACT-routed past it (probe-pruned read, no
    # per-batch fit/assign scan) — + layer-1 over the deterministic
    # level>=1 subset. Both exact routes drop non-finite distances.
    vdt = np.float32 if isinstance(
        stored.schema["vec"].dataType.elementType, FloatType
    ) else np.float64
    local_knn = n_union <= min(ebl, BLOCKED_BUILD_LIMIT) and driver_knn_fits(
        len(ins_rows), n_union
    )
    if local_knn:
        edge_rows = _local_batch_knn(
            vec_path, ins_rows, replaced_v_ids, add_rows, vdt,
            M0, M1, M_level, metric,
        )
    elif n_union <= ebl:
        d = len(ins_rows[0][1])

        def _exact(rows: list, corpus: DataFrame, k: int, layer: int):
            if not rows:
                return local_rows_df(spark, [], EDGE_SCHEMA)
            return exact_knn_local_queries(
                *_as_stored(rows, vdt, d), corpus, k, metric,
                exclude_self=True,
            ).select(
                F.lit(layer).alias("layer"),
                F.col("qid").alias("src"),
                F.col("neighbor_id").alias("dst"),
                "dist",
            )

        l0 = _exact(ins_rows, union, M0, 0)
        l1 = _exact(
            [(i, v) for i, v in ins_rows if assign_level_py(i, M_level) >= 1],
            assign_levels(union, M=M_level)
            .filter(F.col("level") >= 1)
            .select("id", "vec"),
            M1, 1,
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
        l0 = _ivf_artifact_knn(
            spark, index_dir, ins_rows, ins_rows, M0, metric, 0,
            M_level=M_level,
        )
        l1 = _ivf_artifact_knn(
            spark, index_dir, ins_rows, ins_rows, M1, metric, 1,
            level_min=1, M_level=M_level,
        )
    if not local_knn:
        # collect the batch's new edges: |ins|·(M0+M1+2) rows, bounded
        # by the batch the classification already holds driver-side —
        # ONE job running both layer kernels, and every downstream
        # consumer (the dirty set, the mutualize input) reads the rows
        # as a JVM local relation with no recompute
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
            for r in deltalog.resolve(
                spark, REV, index_dir, parts=repl_bkts,
                semi=replaced_e.withColumnRenamed("id", "dst"),
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
    src_rows = deltalog.resolve(
        spark, FWD, index_dir, parts=dirty_bkts,
        semi=dirty.withColumnRenamed("id", "src"),
    )
    # dirty ids hash to the same values whether keyed as src or dst,
    # so dirty_bkts prunes the dst-partitioned log too; the dst filter
    # is applied INSIDE the resolver, before per-src resolution
    dst_rows = deltalog.resolve(
        spark, REV, index_dir, parts=dirty_bkts,
        semi=dirty.withColumnRenamed("id", "dst"),
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
    # delta appends become driver-side pyarrow writes — 5 fixed-latency
    # jobs per micro-batch removed. Past the gate the distributed
    # checkpoint + Spark delta writers run — the 100 TB route.
    est_rows = len(dirty_ids) * 2 * (2 * max(M0, M1))
    merged_local = est_rows <= MERGED_LOCAL_LIMIT
    if merged_local:
        # one Arrow collect carrying both logs' partition values
        md = merged.select(
            *FWD.cols,
            bucket(buckets, "src").alias("_fb"),
            bucket(buckets, "dst").alias("_rb"),
        ).toPandas()
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
        .transform(_edited)
        .withColumn("bucket", bucket(buckets, "id"))
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
    ivf_adds = None
    if meta.get("ivf"):
        from vectordbindexing_spark.operators.ivf import _argmin_d2_blocked

        C = _load_ivf_centroids(spark, index_dir)
        ins_cells = _argmin_d2_blocked(
            np.stack([np.asarray(v, dtype=np.float64) for _, v in ins_rows]),
            C,
        )
        ivf_adds = {
            "id": [i for i, _ in ins_rows],
            "vec": [v for _, v in ins_rows],
            "cell": ins_cells,
        }
    if vb_list:
        swap_in_buckets(vecs_out, vec_path, expected=vb_list)
    # under the gate both appends are |batch|·degree-bounded
    # driver-local columns → pyarrow writes, no Spark jobs; past it the
    # distributed writers run on the checkpointed frame
    if merged_local:
        cols = {c: md[c].to_numpy() for c in FWD.cols}
        appends = [
            (FWD, {**cols, "bucket": md["_fb"].to_numpy()}, dirty_ids),
            (REV, {**cols, "bucket": md["_rb"].to_numpy()}, dirty_ids),
        ]
    else:
        appends = [(FWD, merged_dirty, dirty), (REV, merged_dirty, dirty)]
    if ivf_adds is not None:
        appends.append((IVF, ivf_adds, ivf_adds["id"]))
    for spec, adds, keys in appends:
        deltalog.add_delta_bytes(
            spec, meta,
            deltalog.append(spec, index_dir, rev_seq, adds, keys, buckets),
        )
    meta["n_live"] = n_union
    meta["rev_seq"] = rev_seq
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
        read_parquet(spark, vec_path, "bucket").drop("bucket"),
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
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
