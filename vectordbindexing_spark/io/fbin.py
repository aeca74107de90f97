"""fbin/ibin vector-file I/O — format parity with the reference's
`io_utils.py` (header: int32 nvecs, int32 dim; payload row-major
little-endian float32/int32; chunked reads via start_idx/chunk_size,
`io_utils.py:7-68`).

Parquet is this engine's canonical storage; these converters exist so a
reference user's .fbin/.ibin corpora can enter/leave the DataFrame world.
The distributed reader decodes byte ranges per task (binaryFile gives the
whole blob to one task only for small files; for big corpora read once
and write parquet, then scan parquet).
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def read_fbin_np(
    filename: str, start_idx: int = 0, chunk_size: int | None = None
) -> np.ndarray:
    """Local numpy reader (reference read_fbin semantics incl. chunking)."""
    with open(filename, "rb") as f:
        nvecs, dim = struct.unpack("<ii", f.read(8))
        nvecs = (nvecs - start_idx) if chunk_size is None else chunk_size
        f.seek(8 + start_idx * 4 * dim)
        arr = np.fromfile(f, count=nvecs * dim, dtype=np.float32)
    return arr.reshape(nvecs, dim)


def read_ibin_np(
    filename: str, start_idx: int = 0, chunk_size: int | None = None
) -> np.ndarray:
    with open(filename, "rb") as f:
        nvecs, dim = struct.unpack("<ii", f.read(8))
        nvecs = (nvecs - start_idx) if chunk_size is None else chunk_size
        f.seek(8 + start_idx * 4 * dim)
        arr = np.fromfile(f, count=nvecs * dim, dtype=np.int32)
    return arr.reshape(nvecs, dim)


def write_fbin_np(filename: str, vecs: np.ndarray) -> None:
    """Reference write_fbin semantics (io_utils.py:43-54)."""
    vecs = np.asarray(vecs, dtype=np.float32)
    with open(filename, "wb") as f:
        f.write(struct.pack("<ii", *vecs.shape))
        vecs.tofile(f)


def write_ibin_np(filename: str, vecs: np.ndarray) -> None:
    vecs = np.asarray(vecs, dtype=np.int32)
    with open(filename, "wb") as f:
        f.write(struct.pack("<ii", *vecs.shape))
        vecs.tofile(f)


def _file_meta(filename: str) -> tuple[int, int]:
    with open(filename, "rb") as f:
        return struct.unpack("<ii", f.read(8))


def read_fbin(
    spark: SparkSession,
    filename: str,
    id_col: str = "id",
    vec_col: str = "vec",
    rows_per_task: int = 65_536,
) -> DataFrame:
    """Distributed fbin → DataFrame (id, vec array<float>).

    Parallel byte-range decode: the driver reads only the 8-byte header,
    then each task seeks to its own row range — no single-task whole-file
    read, scales to files larger than one executor's memory.
    """
    nvecs, dim = _file_meta(filename)
    path = os.path.abspath(filename)
    ranges = [
        (start, min(rows_per_task, nvecs - start))
        for start in range(0, nvecs, rows_per_task)
    ]

    def decode(split):
        for start, count in split:
            arr = read_fbin_np(path, start, count)
            for i in range(count):
                yield (start + i, arr[i].tolist())

    rdd = spark.sparkContext.parallelize(ranges, len(ranges)).mapPartitions(
        lambda it: decode(it)
    )
    return spark.createDataFrame(rdd, schema=f"{id_col} long, {vec_col} array<float>")


def read_ibin(
    spark: SparkSession,
    filename: str,
    id_col: str = "qid",
    out_col: str = "gt_ids",
    rows_per_task: int = 65_536,
) -> DataFrame:
    """Distributed ibin (ground truth) → DataFrame (qid, gt_ids array<long>)."""
    nvecs, dim = _file_meta(filename)
    path = os.path.abspath(filename)
    ranges = [
        (start, min(rows_per_task, nvecs - start))
        for start in range(0, nvecs, rows_per_task)
    ]

    def decode(split):
        for start, count in split:
            arr = read_ibin_np(path, start, count)
            for i in range(count):
                yield (start + i, [int(x) for x in arr[i]])

    rdd = spark.sparkContext.parallelize(ranges, len(ranges)).mapPartitions(
        lambda it: decode(it)
    )
    return spark.createDataFrame(rdd, schema=f"{id_col} long, {out_col} array<long>")


def write_fbin(df: DataFrame, filename: str, id_col: str = "id", vec_col: str = "vec") -> None:
    """DataFrame → fbin. Collects ordered by id (the format is a dense
    row-major matrix — inherently single-file; for sharded output write
    parquet instead)."""
    rows = df.select(id_col, vec_col).orderBy(id_col).collect()
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float32) for r in rows])
    write_fbin_np(filename, mat)
