"""WAV codec + audio-features contract: encode→decode round-trips (16
and 8 bit, mono/stereo, chunk padding), feature sanity on analytic
tones, triage integration, and the Spark end-to-end path."""

from __future__ import annotations

import numpy as np
import pytest

from vectordbindexing_spark.io.wav import (
    audio_features_np,
    decode_wav,
    encode_wav,
)


def _tone(freq=440.0, rate=8000, dur=0.25, amp=0.5):
    t = np.arange(int(rate * dur)) / rate
    return amp * np.sin(2 * np.pi * freq * t)


def test_roundtrip_16bit_mono():
    x = _tone()
    rate, y = decode_wav(encode_wav(x, 8000, bits=16))
    assert rate == 8000 and y.shape == (len(x), 1)
    assert np.abs(y[:, 0] - x).max() < 1.0 / 32000  # quantization step


def test_roundtrip_8bit_and_stereo():
    x = np.stack([_tone(300), _tone(700)], axis=1)
    rate, y = decode_wav(encode_wav(x, 16000, bits=8))
    assert rate == 16000 and y.shape == x.shape
    assert np.abs(y - x).max() < 1.0 / 120  # 8-bit step
    # odd-length data chunk must still parse (RIFF pads to even)
    x1 = _tone(dur=0.0101)  # odd sample count at 8 bits → odd chunk
    r2, y2 = decode_wav(encode_wav(x1, 8000, bits=8))
    assert y2.shape[0] == len(x1)


def test_rejects_non_wav_and_compressed():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"\xff\xd8jpegbytes")
    buf = bytearray(encode_wav(_tone(), 8000))
    i = buf.find(b"fmt ") + 8
    buf[i] = 85  # codec 85 = MP3 inside RIFF
    with pytest.raises(ValueError, match="codec 85"):
        decode_wav(bytes(buf))


def test_features_match_analytics():
    rate, dur, freq = 8000, 0.5, 500.0
    x = _tone(freq, rate, dur, amp=0.8)
    feats = audio_features_np(*decode_wav(encode_wav(x, rate)))
    assert feats["sample_rate"] == rate
    assert feats["n_samples"] == int(rate * dur)
    assert feats["duration_s"] == pytest.approx(dur, abs=1e-6)
    # sine RMS = amp/√2; zero crossings = 2 per period
    assert feats["rms"] == pytest.approx(0.8 / np.sqrt(2), rel=1e-3)
    assert feats["zero_cross_rate"] == pytest.approx(
        2 * freq / rate, rel=0.02
    )
    # spectral centroid of a pure tone sits at the tone (leakage pulls
    # it slightly; integer periods in the window keep it tight)
    assert feats["spectral_centroid_hz"] == pytest.approx(freq, rel=0.05)


def test_media_kind_sniffs_wav(spark):
    from vectordbindexing_spark.operators.multimodal import media_kind

    rows = [
        (1, bytearray(encode_wav(_tone(), 8000))),
        (2, bytearray(b"RIFFxxxxACONanih")),  # RIFF, neither WAVE nor AVI
        (3, bytearray(b"P6 2 2 255 " + b"\x00" * 12)),
    ]
    df = spark.createDataFrame(rows, schema="media_id long, content binary")
    kinds = {r["media_id"]: r["kind"] for r in media_kind(df).collect()}
    assert kinds[1] == "wav"
    assert kinds[2] == "not_jpeg"  # triaged out, not decoded
    assert kinds[3] == "ppm"


def test_spark_audio_features_end_to_end(spark):
    from pyspark.sql import functions as F

    from vectordbindexing_spark.operators.multimodal import audio_features

    rows = [
        (i, bytearray(encode_wav(_tone(200.0 + 100 * i), 8000)))
        for i in range(6)
    ] + [(99, None)]
    df = spark.createDataFrame(rows, schema="media_id long, content binary")
    out = audio_features(df).orderBy("media_id").collect()
    assert [r["media_id"] for r in out] == list(range(6))  # null excluded
    cents = [r["spectral_centroid_hz"] for r in out]
    assert cents == sorted(cents)  # rising tone → rising centroid
    assert all(abs(r["duration_s"] - 0.25) < 1e-6 for r in out)


def test_entry_query_runs(spark):
    import __spark_entry__ as entry

    out = entry.queries()["media_wav_features"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert len(rows) == 64
    # deterministic: doc_id parity flips the PCM width, everything else
    # is seeded off doc_id — two runs must agree exactly
    again = entry.queries()["media_wav_features"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
