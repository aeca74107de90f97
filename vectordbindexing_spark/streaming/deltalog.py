"""The LSM delta log both streaming maintainers keep next to each
partitioned base they must not rewrite per micro-batch (the graph
maintainer's forward edges, inverted edges and IVF cells; the near-dup
maintainer's band index).

A log is a base parquet dir partitioned by ``part`` plus, under
``index_dir/<root>/``:

* ``adds/d<seq>-<i>.parquet`` — one batch's new rows as a few
  partition-sorted flat files (the partition value rides as a data
  column and row-group stats carry the pruning; every Spark writer
  part file is moved, since AQE may split one);
* ``tombs/d<seq>.parquet`` — ONE global file per batch holding the
  keys that batch replaces. A key-level tombstone needs no
  per-partition coverage, so a replay whose recompute differs from
  the crashed attempt (kNN sets differing in the last distance ulp)
  cannot strand a stale add.

Resolution (:func:`resolve`): a row — base or add — is live iff
``row.seq >= tseq``, where ``tseq`` is the newest tombstone of its key
(no tombstone: live). ``>=`` keeps a batch's own re-adds, because every
append tombstones each key it adds AT THE SAME seq, so a surviving add
has ``seq == tseq``. The one copy a live row can have is a base row
left by a fold whose clear died before ``adds/`` left: it equals its
add, so a base row of a key that still has a surviving add yields to
the adds. A table of ``tseq`` and the newest add seq per tombstoned
key is built from the log alone and broadcast; the base is scanned
once and passes that join unshuffled, only the adds (a set bounded by
the delta) go through the key dedup, and an empty log resolves to the
base alone. No read pays a corpus-sized shuffle.

Appends (:func:`append`) land the tombstone file FIRST, then the adds,
so a crash between the two leaves tombstones with no adds (read as
empty adds, never a missing-path error), and every file is named by
the batch's seq so a crash replay overwrites its own attempt — after
:func:`pre_clear` removed it, so the replay's probes see the
pre-batch log. Two writer routes: driver-local rows go straight
through pyarrow (micro-batches — a Spark job per tiny file would be
pure fixed latency), as named columns; a DataFrame goes through the
Spark writer (the batch past the maintainer's bounded-collect gate).

The log folds back into its base (:func:`fold_if_due`) once its bytes
exceed :data:`COMPACT_FACTOR` × the base bytes — bounding probe-side
read amplification — and for free whenever the owner rewrites the
base (init, rebuild). The fold writes each resolved row with its seq
into the base's hidden temp sibling, swaps it in (``atomic``'s
two-rename swap, so ``recover_tree`` judges it like any other swap)
and then clears the log. Two routes share that sequence: a log whose
meta.json base plus delta bytes stay under :data:`DRIVER_LOG_BYTES`
folds on the driver — base, adds and tombstones read through
``pyarrow.dataset``, :func:`resolve`'s seq rule applied in numpy, each
row kept in the partition it is stored in, one file per partition,
no Spark job (at the ``annbench`` ``ingest`` size a Spark fold was
six jobs of fixed latency to rewrite 1 MB); a larger log runs the
same resolve as a Spark job chain and re-derives the partition
column. The clear removes ``adds/`` first, in one rename, then
``tombs/``. A clear that dies midway is exact: it leaves either the
whole log, whose adds shadow their folded copies, or tombstones alone,
no newer than the folded rows of their keys, which the seq rule keeps.
Adds left without their tombstones would resurrect the rows those
retired, and half of one key's adds would shadow folded rows whose
adds are gone."""

from __future__ import annotations

import functools
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordbindexing_spark.plans.partitioning import local_rows_df
from vectordbindexing_spark.streaming.atomic import (
    _swap_dir,
    du_parquet,
    read_parquet,
    swap_in,
    tmp_path,
    write_json_atomic,
)

#: fold a log into its base once its bytes exceed this fraction of the
#: base bytes
COMPACT_FACTOR = 0.25

#: the driver's share of a log: a log whose base plus delta bytes
#: (meta.json counters) stay under this folds on the driver, and a
#: tombstone log under it is broadcast into the resolve joins; a larger
#: one (a log at corpus scale) folds and joins as Spark plans it
DRIVER_LOG_BYTES = 64 * 1024 * 1024


@dataclass(frozen=True)
class LogSpec:
    """One delta log: ``base`` and ``root`` are dir names under the
    artifact; ``cols`` the resolved payload columns; ``key`` the
    tombstone key; ``dedup`` the row identity inside one key; ``part``
    the base's partition column, computed as ``pmod(xxhash64(
    *bucket_by), buckets)`` unless it is a payload column
    (``bucket_by=()``). Base/delta byte counters live in meta.json as
    ``<meta_prefix>base_bytes``/``<meta_prefix>delta_bytes``, inside
    ``meta[meta_scope]`` when a scope is named."""

    base: str
    root: str
    cols: tuple
    key: str
    dedup: tuple
    part: str
    bucket_by: tuple
    adds_schema: str
    tombs_schema: str
    meta_prefix: str = ""
    meta_scope: str | None = None


def bucket(n_buckets: int, *cols: str):
    """The maintainers' partition expression ``pmod(xxhash64(cols), B)``."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)).cast(
        "int"
    )


def paths(spec: LogSpec, index_dir: str) -> tuple[str, str]:
    root = os.path.join(index_dir, spec.root)
    return os.path.join(root, "adds"), os.path.join(root, "tombs")


def delta_empty(*dirs: str) -> bool:
    """True iff none of the given dirs holds a parquet file — a
    filesystem check, no Spark job."""
    for d in dirs:
        if os.path.isdir(d):
            for _root, _sub, files in os.walk(d):
                if any(f.endswith(".parquet") for f in files):
                    return False
    return True


def resolve(
    spark: SparkSession,
    spec: LogSpec,
    index_dir: str,
    parts: list | None = None,
    semi: DataFrame | None = None,
    keep_seq: bool = False,
) -> DataFrame:
    """The live rows of one log (module docstring rule). ``parts``
    partition-prunes base and adds; ``semi`` (a small frame named by
    the columns it matches) semi-joins both BEFORE resolution, so a
    probe's resolve work is probe-sized."""
    cols = [*spec.cols, "seq"]
    keep = cols if keep_seq else list(spec.cols)

    def _narrow(df: DataFrame) -> DataFrame:
        if parts is not None:
            df = df.where(F.col(spec.part).isin(parts))
        df = df.select(*cols)
        if semi is not None:
            df = df.join(F.broadcast(semi), semi.columns, "left_semi")
        return df

    base = read_parquet(spark, os.path.join(index_dir, spec.base), spec.part)
    # a base written by init/rebuild may carry no seq; only a fold adds it
    if "seq" not in base.columns:
        base = base.withColumn("seq", F.lit(0).cast("long"))
    base = _narrow(base)
    adds_dir, tombs_dir = paths(spec, index_dir)
    if delta_empty(adds_dir, tombs_dir):
        return base.select(*keep)

    def _read(d: str, schema: str) -> DataFrame:
        if os.path.isdir(d):
            return spark.read.schema(schema).parquet(d)
        return local_rows_df(spark, [], schema)

    # per tombstoned key: its newest tombstone and its newest add
    adds = _narrow(_read(adds_dir, spec.adds_schema))
    null = F.lit(None).cast("long")
    keys = (
        _read(tombs_dir, spec.tombs_schema)
        .select(spec.key, F.col("seq").alias("tseq"), null.alias("aseq"))
        .unionByName(
            adds.select(spec.key, null.alias("tseq"), F.col("seq").alias("aseq"))
        )
        .groupBy(spec.key)
        .agg(F.max("tseq").alias("tseq"), F.max("aseq").alias("aseq"))
    )
    if du_parquet(tombs_dir) < DRIVER_LOG_BYTES:
        keys = F.broadcast(keys)
    tseq, seq = F.col("tseq"), F.col("seq")
    shadowed = F.coalesce(F.col("aseq") >= tseq, F.lit(False))
    live_base = (
        base.join(keys, spec.key, "left")
        .where(tseq.isNull() | ((seq >= tseq) & ~shadowed))
        .select(*cols)
    )
    # every add tombstones its key at its own seq, so tseq >= aseq and
    # this is seq >= tseq; naming aseq keeps both joins on ONE
    # broadcast table (a tseq-only join would be planned separately)
    live_adds = (
        adds.join(keys, spec.key, "left")
        .where(seq >= F.greatest(tseq, F.col("aseq")))
        .select(*cols)
        .dropDuplicates(list(spec.dedup))
    )
    return live_base.unionByName(live_adds).select(*keep)


@functools.lru_cache(maxsize=None)
def _arrow_schema(ddl: str):
    """Arrow schema of a DDL string. Parsing goes through the JVM (a
    py4j call), and the specs' schemas are constants, so each DDL is
    parsed once per process."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _write_local_parquet(cols: dict, schema: str, path: str, order=None) -> int:
    """DRIVER-LOCAL columns (name → array-like) → one parquet file at
    ``path``, rows taken in ``order`` when given, no Spark job. The
    delta readers pass an explicit read schema, so only the parquet
    physical types matter and Spark reads the bytes exactly as a
    Spark-written file. Returns bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    asch = _arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in asch], schema=asch
    )
    if order is not None:
        table = table.take(order)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def append(
    spec: LogSpec,
    index_dir: str,
    seq: int,
    adds,
    tomb_keys,
    buckets: int | None = None,
) -> int:
    """Append one batch: tombstones for ``tomb_keys``, then ``adds``.
    Either driver-local — ``adds`` a mapping from each payload column
    and ``spec.part`` to its values, ``tomb_keys`` a key list — written
    through pyarrow with no Spark job, or distributed — ``adds`` a
    payload-column DataFrame, ``tomb_keys`` a one-column key frame,
    partitioned by ``spec.bucket_by`` over ``buckets`` — written by
    Spark. Returns the bytes appended (the fold-trigger accounting)."""
    adds_dir, tombs_dir = paths(spec, index_dir)
    if isinstance(adds, dict):
        return _append_local(spec, adds_dir, tombs_dir, seq, adds, tomb_keys)
    return _append_spark(
        spec, index_dir, adds_dir, tombs_dir, seq, adds, tomb_keys, buckets
    )


def _append_local(spec, adds_dir, tombs_dir, seq, adds, tomb_keys) -> int:
    import numpy as np

    part = np.asarray(adds[spec.part])
    tmp_t = os.path.join(tombs_dir, f".d{seq}.parquet.tmp")
    tmp_a = os.path.join(adds_dir, f".d{seq}-0.parquet.tmp")
    appended = _write_local_parquet(
        {spec.key: tomb_keys, "seq": np.full(len(tomb_keys), seq, np.int64)},
        spec.tombs_schema, tmp_t,
    )
    os.replace(tmp_t, os.path.join(tombs_dir, f"d{seq}.parquet"))
    appended += _write_local_parquet(
        {**adds, "seq": np.full(len(part), seq, np.int64)},
        spec.adds_schema, tmp_a, order=np.argsort(part, kind="stable"),
    )
    os.replace(tmp_a, os.path.join(adds_dir, f"d{seq}-0.parquet"))
    return appended


def _append_spark(
    spec, index_dir, adds_dir, tombs_dir, seq, adds, tomb_keys, buckets
) -> int:
    tmp = os.path.join(index_dir, spec.root + ".__tmp__")
    shutil.rmtree(tmp, ignore_errors=True)
    (
        adds.withColumn("seq", F.lit(seq).cast("long"))
        .withColumn(spec.part, bucket(buckets, *spec.bucket_by))
        .coalesce(1)
        .sortWithinPartitions(spec.part)
        .write.parquet(os.path.join(tmp, "adds"))
    )
    (
        tomb_keys.select(
            F.col(tomb_keys.columns[0]).alias(spec.key),
            F.lit(seq).cast("long").alias("seq"),
        )
        .coalesce(1)
        .write.parquet(os.path.join(tmp, "tombs"))
    )

    def _parts(sub: str) -> list:
        d = os.path.join(tmp, sub)
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    # tombstone first; then EVERY add part under distinct d<seq>-<i>
    # names (dropping parts [1:] would silently lose rows)
    os.makedirs(tombs_dir, exist_ok=True)
    os.makedirs(adds_dir, exist_ok=True)
    moves = [(_parts("tombs")[0], os.path.join(tombs_dir, f"d{seq}.parquet"))]
    moves += [
        (p, os.path.join(adds_dir, f"d{seq}-{i}.parquet"))
        for i, p in enumerate(_parts("adds"))
    ]
    appended = 0
    for src, dst in moves:
        appended += os.path.getsize(src)
        os.replace(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    return appended


def pre_clear(spec: LogSpec, index_dir: str, seq: int) -> None:
    """Remove a crashed attempt's files (``adds/d<seq>-<i>`` and
    ``tombs/d<seq>``) before its replay's probes run. Never a bare
    d<seq>* glob — it would also match d<seq>0…"""
    adds_dir, tombs_dir = paths(spec, index_dir)
    if os.path.isdir(adds_dir):
        for f in os.listdir(adds_dir):
            if f.startswith(f"d{seq}-") and f.endswith(".parquet"):
                os.remove(os.path.join(adds_dir, f))
    f = os.path.join(tombs_dir, f"d{seq}.parquet")
    if os.path.exists(f):
        os.remove(f)


def clear(spec: LogSpec, index_dir: str) -> None:
    """Drop the whole log (its base now subsumes it): ``adds/`` first,
    renamed out in one step, then ``tombs/`` (module docstring: the
    order keeps a clear that dies midway exact)."""
    root = os.path.join(index_dir, spec.root)
    adds_dir, tombs_dir = paths(spec, index_dir)
    trash = root + ".__tmp__"
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.isdir(adds_dir):
        os.rename(adds_dir, trash)
    for d in (tombs_dir, root, trash):
        shutil.rmtree(d, ignore_errors=True)


def _acct(spec: LogSpec, meta: dict) -> dict | None:
    return meta.get(spec.meta_scope) if spec.meta_scope else meta


def add_delta_bytes(spec: LogSpec, meta: dict, n: int) -> None:
    d, k = _acct(spec, meta), spec.meta_prefix + "delta_bytes"
    d[k] = int(d[k]) + n


def reset_bytes(spec: LogSpec, meta: dict, index_dir: str) -> None:
    """Stamp a freshly written base's bytes and an empty log."""
    d = _acct(spec, meta)
    d[spec.meta_prefix + "base_bytes"] = du_parquet(
        os.path.join(index_dir, spec.base)
    )
    d[spec.meta_prefix + "delta_bytes"] = 0


def fold_if_due(
    spark: SparkSession,
    spec: LogSpec,
    index_dir: str,
    meta: dict,
    meta_path: str,
) -> bool:
    """Fold the log into its base once it outgrows COMPACT_FACTOR × the
    base — on the driver while base plus delta bytes stay under
    DRIVER_LOG_BYTES, else through Spark — then clear it and commit
    the counters. Callers defer this while a pending batch needs
    healing. Returns whether it folded."""
    d, p = _acct(spec, meta), spec.meta_prefix
    if not d or d[p + "delta_bytes"] <= COMPACT_FACTOR * max(
        int(d[p + "base_bytes"]), 1
    ):
        return False
    base_path = os.path.join(index_dir, spec.base)
    if int(d[p + "base_bytes"]) + int(d[p + "delta_bytes"]) < DRIVER_LOG_BYTES:
        _fold_local(spec, index_dir, base_path)
    else:
        folded = resolve(spark, spec, index_dir, keep_seq=True)
        if spec.bucket_by:
            folded = folded.withColumn(
                spec.part, bucket(meta["buckets"], *spec.bucket_by)
            )
        swap_in(
            folded.localCheckpoint(eager=True),  # lineage reads the base it replaces
            base_path, coalesce=None, partition_by=[spec.part],
        )
    clear(spec, index_dir)
    reset_bytes(spec, meta, index_dir)
    write_json_atomic(meta_path, meta)
    return True


_NO_SEQ = -(2**63)  # a key with no tombstone / no add (SQL NULL)


def _newest(keys, seqs):
    """Each distinct key (sorted) and its greatest seq."""
    import numpy as np

    order = np.lexsort((seqs, keys))
    k, q = keys[order], seqs[order]
    last = np.append(k[1:] != k[:-1], True) if len(k) else np.zeros(0, bool)
    return k[last], q[last]


def _lookup(table, q):
    """``table``'s value per key in ``q``; :data:`_NO_SEQ` where absent."""
    import numpy as np

    keys, vals = table
    if not len(keys):
        return np.full(len(q), _NO_SEQ, np.int64)
    i = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
    return np.where(keys[i] == q, vals[i], _NO_SEQ)


def _dictionary_pays(t) -> list:
    """The integer and string columns of ``t`` whose dictionary plus
    bit-packed indices undercut plain encoding — parquet-mr's fallback
    test, which Spark's writer applies per column chunk and pyarrow
    does not: a dictionary of near-distinct neighbour ids made a
    4.8M-row fold's base 11% larger than Spark's."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n, pays = len(t), []
    for c in t.column_names:
        col = t.column(c)
        if pa.types.is_string(col.type):
            width = 4 + pc.sum(pc.binary_length(col)).as_py() / max(n, 1)
        elif pa.types.is_integer(col.type):
            width = col.type.bit_width / 8
        else:
            continue
        distinct = pc.count_distinct(col).as_py()
        if distinct * width + n * max(distinct - 1, 1).bit_length() / 8 < n * width:
            pays.append(c)
    return pays


def _fold_local(spec: LogSpec, index_dir: str, base_path: str) -> None:
    """The driver fold (module docstring): :func:`resolve`'s seq rule
    over pyarrow reads of base, adds and tombstones, written as one
    file per partition — one row group sorted by ``spec.key`` — into
    the base's temp sibling, then swapped in. Each row keeps the
    partition value it is stored under (``buckets`` is fixed between
    rebuilds; IVF's ``cell`` is payload)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    asch = _arrow_schema(spec.adds_schema)  # payload + seq + part
    hive = ds.partitioning(pa.schema([asch.field(spec.part)]), flavor="hive")
    adds_dir, tombs_dir = paths(spec, index_dir)

    def _read(d, schema, **kw):
        if not os.path.isdir(d):
            return schema.empty_table()
        return ds.dataset(d, format="parquet", schema=schema, **kw).to_table()

    base = _read(base_path, asch, partitioning=hive)
    # a base written by init/rebuild carries no seq: it reads as null
    base = base.set_column(
        base.schema.get_field_index("seq"), "seq",
        base.column("seq").fill_null(0),
    )
    adds = _read(adds_dir, asch)
    tombs = _read(tombs_dir, _arrow_schema(spec.tombs_schema))

    def _keys_seqs(t):
        return t.column(spec.key).to_numpy(), t.column("seq").to_numpy()

    bk, bs = _keys_seqs(base)
    ak, as_ = _keys_seqs(adds)
    tseq, aseq = _newest(*_keys_seqs(tombs)), _newest(ak, as_)
    bt, ba = _lookup(tseq, bk), _lookup(aseq, bk)
    live_base = (bt == _NO_SEQ) | ((bs >= bt) & (ba < bt))
    live_adds = as_ >= np.maximum(_lookup(tseq, ak), _lookup(aseq, ak))
    adds = adds.filter(pa.array(live_adds))
    if adds.num_rows:
        # one row per spec.dedup identity: the first of each run
        adds = adds.take(
            pc.sort_indices(adds, [(c, "ascending") for c in spec.dedup])
        )
        cols = [adds.column(c).to_numpy() for c in spec.dedup]
        first = np.ones(adds.num_rows, bool)
        first[1:] = np.logical_or.reduce([c[1:] != c[:-1] for c in cols])
        adds = adds.filter(pa.array(first))
    rows = pa.concat_tables([base.filter(pa.array(live_base)), adds])
    rows = rows.take(
        pc.sort_indices(rows, [(spec.part, "ascending"), (spec.key, "ascending")])
    )
    out = [c for c in (*spec.cols, "seq") if c != spec.part]
    part = rows.column(spec.part).to_numpy()
    cuts = [0, *(np.flatnonzero(np.diff(part)) + 1), len(part)]
    cuts = cuts if len(part) else [0]
    tmp = tmp_path(base_path)
    shutil.rmtree(tmp, ignore_errors=True)  # a crashed attempt's temp
    os.makedirs(tmp)
    for lo, hi in zip(cuts, cuts[1:]):
        d = os.path.join(tmp, f"{spec.part}={part[lo]}")
        os.makedirs(d)
        t = rows.slice(lo, hi - lo).select(out)
        # one row group per file (pyarrow's defaults wrote ~7% more
        # bytes than Spark), dictionaries only where they pay
        pq.write_table(
            t, os.path.join(d, "part-00000.parquet"),
            row_group_size=len(t), use_dictionary=_dictionary_pays(t),
            store_schema=False,
        )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _swap_dir(tmp, base_path)


def parallel_swaps(*thunks) -> None:
    """Run independent artifact writes concurrently: each swap_in is
    its own job chain on a distinct path, so overlapping them
    back-fills the tail of one write with the next one's tasks.
    Callers keep order-sensitive swaps (vectors before edges) out of
    here."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()
