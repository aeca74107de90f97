"""Streaming ingest (foreachBatch delta build) + multimodal plumbing."""

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_incremental_index_stream(spark, tables, tmp_path):
    from vectordbindexing_spark.streaming.ingest import incremental_index_stream

    emb = tables["embeddings"]
    base = emb.filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    newbies = (
        emb.filter(F.col("vec_id") >= 300)
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .limit(50)
    )
    src_dir = str(tmp_path / "incoming")
    newbies.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema("id long, vec array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    delta_dir = str(tmp_path / "delta")
    q = incremental_index_stream(
        stream, delta_dir, str(tmp_path / "ckpt"),
        id_col="id", vec_col="vec", knn_k=4, base_snapshot=base,
    )
    q.processAllAvailable()
    q.stop()

    dv = spark.read.parquet(os.path.join(delta_dir, "vectors"))
    de = spark.read.parquet(os.path.join(delta_dir, "edges"))
    assert dv.count() == 50
    # every streamed vector got exactly knn_k edges
    per_src = de.groupBy("src").count().collect()
    assert len(per_src) == 50
    assert all(r["count"] == 4 for r in per_src)
    # edges reach back into the base snapshot (index union works)
    assert de.filter(F.col("dst") < 300).count() > 0


def test_multimodal_decode_and_embed(spark):
    from vectordbindexing_spark.operators.multimodal import (
        decode_image_features,
        embed_media,
    )

    rows = [
        (i, "image", bytes([(i * 7 + j) % 256 for j in range(400)]), "image/fake")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, schema="media_id long, kind string, content binary, mime string"
    )
    feats = decode_image_features(df)
    fr = feats.collect()
    assert len(fr) == 20
    assert all(r["width"] == 20 and r["height"] == 20 for r in fr)
    assert all(abs(sum(r["features"]) - 1.0) < 1e-5 for r in fr)
    # deterministic across runs
    fr2 = {r["media_id"]: r["features"] for r in decode_image_features(df).collect()}
    assert fr2[3] == [r for r in fr if r["media_id"] == 3][0]["features"]
    emb = embed_media(feats)
    er = emb.collect()
    assert len(er) == 20
    assert all(len(r["embedding"]) == 16 for r in er)
    norms = [float(np.linalg.norm(r["embedding"])) for r in er]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)


def test_decoder_registry_is_closed(spark):
    """Only registered decoders are accepted — no silent fallback for
    formats the vendored codecs cannot really decode (media_kind triages
    those out before decode)."""
    from vectordbindexing_spark.operators.multimodal import _DECODERS

    assert set(_DECODERS) == {"fake", "ppm", "jpeg"}


def test_ppm_decoder_real_decode(spark):
    """The 'ppm' arm really parses image bytes: known 2x2 P6 image ->
    exact dimensions, luminance mean and histogram features."""
    import numpy as np

    from vectordbindexing_spark.operators.multimodal import decode_image_features

    # 2x2 RGB: red, green, blue, white (+ a header comment)
    pixels = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255])
    ppm = b"P6\n# test image\n2 2\n255\n" + pixels
    df = spark.createDataFrame(
        [(1, bytearray(ppm))], "media_id long, content binary"
    )
    row = decode_image_features(df, decoder="ppm").collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    # luminance: red/green/blue -> 85.0, white -> 255.0; mean = 127.5
    assert abs(row["mean_intensity"] - 127.5) < 1e-9
    hist = np.asarray(row["features"])
    assert abs(hist.sum() - 1.0) < 1e-6
    assert hist[2] == 0.75   # three pixels at 85 -> bin [64, 96)
    assert hist[7] == 0.25   # white -> top bin


def test_ppm_decoder_rejects_garbage(spark):
    from vectordbindexing_spark.operators.multimodal import _decode_ppm

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _decode_ppm(b"GIF89a....")


def test_unknown_decoder_rejected(spark):
    from vectordbindexing_spark.operators.multimodal import decode_image_features

    import pytest as _pytest

    df = spark.createDataFrame([(1, bytearray(b"x"))],
                               "media_id long, content binary")
    with _pytest.raises(ValueError):
        decode_image_features(df, decoder="pil")


def test_decode_excludes_null_content(spark):
    from vectordbindexing_spark.operators.multimodal import decode_image_features

    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, None)], "media_id long, content binary"
    )
    out = decode_image_features(df, decoder="ppm").collect()
    assert [r["media_id"] for r in out] == [1]
    assert out[0]["width"] == 2 and out[0]["height"] == 2


def test_media_kind_handles_null_and_fill_bytes(spark):
    from vectordbindexing_spark.io.jpeg import scan_jpeg_kind
    from vectordbindexing_spark.operators.multimodal import media_kind

    # fill byte (FF) before the SOF marker must not desync the sniff
    fake_baseline = (
        b"\xff\xd8" + b"\xff" + b"\xff\xc0" + b"\x00\x0b"
        + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00" + b"\xff\xd9"
    )
    assert scan_jpeg_kind(fake_baseline) == "baseline"
    df = spark.createDataFrame(
        [(1, bytearray(fake_baseline)), (2, None),
         (3, bytearray(b"P6\n1 1\n255\nabc"))],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in media_kind(df).collect()}
    assert out[1]["kind"] == "baseline"
    assert out[2]["kind"] == "missing" and out[2]["n_bytes"] == 0
    assert out[3]["kind"] == "ppm"


def test_embed_media_file_weights(spark, tmp_path):
    """r07: the 'swap W for real weights' claim, demonstrated — export a
    projection head to .npz on disk, pass the PATH to embed_media, and
    the broadcast/Arrow dataflow produces exactly the numpy-computed
    embeddings (weights + bias). No torch needed for the matmul head."""
    import numpy as np
    import pytest

    from vectordbindexing_spark.operators.multimodal import embed_media

    rng = np.random.default_rng(7)
    d_in, d_out = 5, 3
    W = rng.normal(size=(d_out, d_in))
    b = rng.normal(size=d_out)
    path = str(tmp_path / "clip_head.npz")
    np.savez(path, W=W, b=b)

    feats = [[float(x) for x in rng.normal(size=d_in)] for _ in range(8)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(feats)],
        schema="media_id long, features array<double>",
    )
    got = {r["media_id"]: np.array(r["embedding"])
           for r in embed_media(df, weights=path).collect()}
    X = np.array(feats)
    E = X @ W.T + b
    E = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
    for i in range(8):
        assert np.allclose(got[i], E[i], atol=1e-6), i
        assert len(got[i]) == d_out

    # bare .npy (no bias) also loads; wrong input width is rejected
    npy = str(tmp_path / "head.npy")
    np.save(npy, W)
    assert len(embed_media(df, weights=npy).first()["embedding"]) == d_out
    bad = str(tmp_path / "bad.npy")
    np.save(bad, rng.normal(size=(d_out, d_in + 2)))
    with pytest.raises(ValueError, match="features"):
        embed_media(df, weights=bad)
