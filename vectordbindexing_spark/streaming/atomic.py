"""Crash-safe replace of a directory-shaped artifact (parquet dir,
compact-index dir) for foreachBatch maintainers.

``mode("overwrite")`` on the live path is delete-then-write: a crash
mid-write destroys the accumulated state AND whatever ledger protected
it. The swap here is write-sibling-temp → rename(live, aside) →
rename(tmp, live) → rmtree(aside): the long, failure-prone parquet
write happens while the old artifact is fully intact, and the live
path transitions between COMPLETE states via two atomic renames — at
no point does a partially-deleted live dir exist (the r08 scheme's
``rmtree(live)`` had exactly that window). The only destructive op,
``rmtree(aside)``, runs after the new live dir is fully in place.

:func:`recover` closes the remaining windows: a live dir that is
missing or INCOMPLETE (no parquet ``_SUCCESS`` marker — e.g. a legacy
partial state or external damage) is replaced by the newest COMPLETE
sibling — the temp dir if the crash hit between the two renames, else
the aside if the crash hit after the live dir was moved away. Every
maintainer calls recover() before reading, so it resumes exactly where
the crashed attempt finished (CMS's in-artifact batch-id ledger rides
along, so the replayed micro-batch still no-ops). An INCOMPLETE temp
dir (crash mid-write) is simply left for the next attempt's overwrite.

Temp/aside siblings are named ``.<name>.tmp`` / ``.<name>.old`` — the
leading dot hides them from Spark's partition discovery, which
lets :func:`swap_in_buckets` maintain a ``bucket=K``-partitioned
artifact by swapping ONLY the dirty bucket subdirs (the incremental
maintainers' escape from O(corpus) rewrites per micro-batch; each
bucket dir gets its own ``_SUCCESS`` marker before its swap so
recover() can judge it). JSON sidecars (meta.json) go through
:func:`write_json_atomic` (write-temp + ``os.replace``) so a crash
mid-dump can never truncate them.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

TMP_SUFFIX = ".tmp"
OLD_SUFFIX = ".old"


def tmp_path(artifact_path: str) -> str:
    """Hidden temp sibling (leading ``.`` keeps Spark readers away)."""
    head, tail = os.path.split(artifact_path.rstrip("/"))
    return os.path.join(head, "." + tail + TMP_SUFFIX)


def old_path(artifact_path: str) -> str:
    """Hidden aside sibling holding the previous live dir mid-swap."""
    head, tail = os.path.split(artifact_path.rstrip("/"))
    return os.path.join(head, "." + tail + OLD_SUFFIX)


def _complete(d: str) -> bool:
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def _swap_dir(src: str, live: str) -> None:
    """Atomically make ``src`` the new ``live``: rename-aside, never
    rmtree-then-rename (no partially-deleted-live window)."""
    aside = old_path(live)
    shutil.rmtree(aside, ignore_errors=True)  # leftover from a prior crash
    if os.path.exists(live):
        os.rename(live, aside)
    os.rename(src, live)
    shutil.rmtree(aside, ignore_errors=True)


def swap_in(
    out: DataFrame,
    artifact_path: str,
    *,
    coalesce: int | None = 1,
    partition_by: list[str] | None = None,
) -> None:
    """Replace ``artifact_path`` with ``out``'s rows via a hidden
    sibling temp dir; the previous artifact stays complete and live
    until the replacement is fully on disk, then swaps in two atomic
    renames."""
    tmp = tmp_path(artifact_path)
    w = out.coalesce(coalesce) if coalesce else out
    writer = w.write.mode("overwrite")
    if partition_by:
        # cluster rows by the partition key first: otherwise EVERY task
        # opens a file in EVERY partition dir it sees rows for — up to
        # tasks × partitions small files instead of one per partition
        writer = w.repartition(*partition_by).write.mode("overwrite")
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    _swap_dir(tmp, artifact_path)


def swap_in_buckets(
    out: DataFrame,
    artifact_path: str,
    partition_col: str = "bucket",
    expected: list | None = None,
) -> int:
    """Swap ONLY the partitions present in ``out`` into the live
    ``partition_col=K``-partitioned artifact — the dirty-bucket write
    path: one partitioned write to a hidden temp dir, then one atomic
    rename per dirty bucket. Untouched buckets are never rewritten, so
    the per-batch write cost scales with the dirty fraction instead of
    the corpus. Returns the number of buckets swapped.

    ``expected`` — the caller's dirty-bucket values. A dirty bucket
    whose slice of ``out`` came out EMPTY writes no partition dir, and
    without this list it would silently keep its old rows (e.g. a
    bucket whose only srcs are dirty losers that end with zero edges
    after the stale-drop). Every expected bucket absent from the temp
    output is swapped in as an empty marker-only dir (``_SUCCESS``, no
    data files — Spark reads it as zero rows), so the stale rows are
    really gone.

    Crash mid-loop leaves a mix of old and new buckets plus the temp
    dir; that state is servable (every bucket is a complete parquet
    dir) and the uncommitted micro-batch replays on restart,
    recomputing every dirty bucket deterministically — the same
    replay-idempotence contract the full-swap maintainers rely on.
    """
    tmp = tmp_path(artifact_path)
    (
        out.repartition(partition_col)  # one file per bucket, not per task
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    names = {
        n for n in os.listdir(tmp) if n.startswith(partition_col + "=")
    }
    for value in expected or []:
        name = f"{partition_col}={value}"
        if name not in names:  # dirty bucket emptied by the update
            os.makedirs(os.path.join(tmp, name), exist_ok=True)
            names.add(name)
    names = sorted(names)
    for name in names:
        # mark each bucket dir complete BEFORE its swap: recover() and
        # future swaps judge bucket dirs by their own _SUCCESS marker
        with open(os.path.join(tmp, name, "_SUCCESS"), "w"):
            pass
    for name in names:
        _swap_dir(os.path.join(tmp, name), os.path.join(artifact_path, name))
    shutil.rmtree(tmp, ignore_errors=True)
    return len(names)


def recover(artifact_path: str) -> bool:
    """Restore a COMPLETE live dir after a crash. Returns True when a
    recovery happened.

    * live complete → no-op (a stale aside, if any, is swept; a stale
      temp dir from a crash mid-write is left for the next swap's
      overwrite to clear).
    * live missing or INCOMPLETE (no ``_SUCCESS``) → promote the
      newest complete sibling: the temp dir (crash between the two
      swap renames — it holds the finished replacement) if complete,
      else the aside (previous live, moved out mid-swap)."""
    tmp, aside = tmp_path(artifact_path), old_path(artifact_path)
    recovered = False
    if not _complete(artifact_path):
        src = tmp if _complete(tmp) else aside if _complete(aside) else None
        if src is not None:
            if os.path.exists(artifact_path):
                # partial live dir (legacy rmtree window / external
                # damage): never read it — replace with the complete one
                shutil.rmtree(artifact_path)
            os.rename(src, artifact_path)
            recovered = True
    if _complete(artifact_path):
        shutil.rmtree(aside, ignore_errors=True)
    return recovered


def recover_tree(artifact_path: str, partition_col: str = "bucket") -> int:
    """recover() for a bucket-partitioned artifact: the top-level dir
    (init/rebuild write it whole) plus every ``partition_col=K`` child
    (incremental swaps replace children individually). Returns how many
    recoveries happened."""
    n = int(recover(artifact_path))
    if os.path.isdir(artifact_path):
        seen = set()
        for name in sorted(os.listdir(artifact_path)):
            if name.startswith(partition_col + "="):
                seen.add(name)
                n += int(recover(os.path.join(artifact_path, name)))
        # orphaned aside of a bucket whose live child vanished entirely
        # (crash between the two renames with no complete temp): the
        # aside is named _<child>.old inside the artifact dir
        for name in sorted(os.listdir(artifact_path)):
            if name.startswith("." + partition_col + "=") and name.endswith(
                OLD_SUFFIX
            ):
                child = name[1 : -len(OLD_SUFFIX)]
                if child not in seen:
                    n += int(recover(os.path.join(artifact_path, child)))
    return n


def du_parquet(path: str) -> int:
    """Total parquet bytes under ``path`` — LSM fold triggers run on
    bytes (the actual IO cost driver), and sizing from the filesystem
    costs no Spark job."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def write_json_atomic(path: str, obj: dict) -> None:
    """Dump JSON so a crash mid-write can never truncate the live file:
    write a temp sibling, fsync, then ``os.replace`` (atomic on POSIX)."""
    tmp = path + TMP_SUFFIX
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_meta(path: str, fmt: int) -> dict:
    """Load an artifact's meta.json and check its ``format`` stamp. An
    artifact written in another on-disk layout (or before the stamp
    existed) raises instead of being misread; the fix is to rebuild it
    with the maintainer's init."""
    with open(path) as f:
        meta = json.load(f)
    found = meta.get("format")
    if found != fmt:
        raise ValueError(
            f"{path}: artifact format {found!r}, expected {fmt}; "
            "re-run init to rebuild the artifact"
        )
    return meta


def count_parquet_rows(path: str) -> int:
    """Row count of a parquet dir from file FOOTERS — a driver-side
    metadata read (no Spark job) for the maintainers' post-swap counts
    (init/rebuild n reconciliation), exact by the parquet spec."""
    import pyarrow.parquet as pq

    total = 0
    for root, dirs, files in os.walk(path):
        # never count hidden swap siblings (.name.tmp / .name.old)
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _first_parquet_file(path: str) -> str | None:
    for root, dirs, files in os.walk(path):
        # Spark's discovery skips hidden (swap siblings) and _ entries
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                return os.path.join(root, f)
    return None


def _nullable(t):
    """Spark's read-side ``asNullable``: parquet columns read back
    nullable whatever the writer declared."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    return t


def read_parquet(spark, path: str, partition_col: str | None = None):
    """``spark.read.parquet(path)`` without the schema-inference job:
    the schema is read driver-side from ONE data file's footer (every
    file of a maintainer dir shares it), plus the ``partition_col=K``
    directory column as ``int`` — the schema Spark would infer. A dir
    with no data file falls back to Spark's own inference."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType, StructField

    f = _first_parquet_file(path)
    if f is None:
        return spark.read.parquet(path)
    schema = _nullable(from_arrow_schema(pq.read_schema(f)))
    if partition_col is not None:
        schema = schema.add(StructField(partition_col, IntegerType(), True))
    return spark.read.schema(schema).parquet(path)

