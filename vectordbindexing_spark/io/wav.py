"""Pure-numpy WAV (RIFF PCM) codec — the audio leg of the multimodal
ingest path.

The reference's multimodal story is image-only (CLIP); a training-data
engine also meets audio corpora, and WAV/PCM is simple enough to decode
for real (like the vendored JPEG codec, unlike the still-stubbed
compressed audio formats): RIFF chunk walk, fmt parse, 8/16-bit PCM →
float64 in [-1, 1]. Compressed codecs (MP3/AAC/Opus) have no vendored
decoder and raise, exactly like the arithmetic-coded JPEG processes.

Implemented from the public RIFF/WAVE format description; encoder is
test-fixture-grade (tests and the contract query synthesize tones with
it)."""

from __future__ import annotations

import numpy as np


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16_000, bits: int = 16
) -> bytes:
    """(n,) mono or (n, ch) float samples in [-1, 1] → RIFF PCM bytes.
    ``bits`` ∈ {8, 16}: 8-bit is unsigned-offset PCM, 16-bit signed LE
    (the two PCM widths the decoder accepts)."""
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == 16:
        pcm = np.clip(np.round(s * 32767.0), -32768, 32767).astype("<i2")
    elif bits == 8:
        pcm = np.clip(np.round(s * 127.0) + 128.0, 0, 255).astype(np.uint8)
    else:
        raise ValueError("bits must be 8 or 16")
    data = pcm.tobytes()  # interleaved by construction (row-major)
    block_align = ch * bits // 8
    byte_rate = sample_rate * block_align
    fmt = (
        (1).to_bytes(2, "little")  # PCM
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    out = bytearray()
    out += b"RIFF"
    out += (4 + 8 + len(fmt) + 8 + len(data)).to_bytes(4, "little")
    out += b"WAVE"
    out += b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    out += b"data" + len(data).to_bytes(4, "little") + data
    return bytes(out)


def decode_wav(buf: bytes) -> tuple[int, np.ndarray]:
    """RIFF PCM bytes → (sample_rate, (n, ch) float64 in [-1, 1]).
    Walks chunks (tolerating extras like LIST/fact), accepts PCM
    8-bit unsigned and 16-bit signed little-endian."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even length
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    codec = int.from_bytes(fmt[0:2], "little")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if codec != 1:
        raise ValueError(
            f"only PCM (codec 1) supported, got codec {codec}"
        )
    if ch < 1:
        raise ValueError("invalid channel count")
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2")
        x = raw.astype(np.float64) / 32767.0
    elif bits == 8:
        raw = np.frombuffer(data, dtype=np.uint8)
        x = (raw.astype(np.float64) - 128.0) / 127.0
    else:
        raise ValueError(f"unsupported PCM width {bits}")
    n = len(x) // ch
    return rate, x[: n * ch].reshape(n, ch)


def audio_features_np(rate: int, x: np.ndarray) -> dict:
    """Deterministic per-clip features over the channel-mean signal:
    duration, RMS, zero-crossing rate, spectral centroid (rfft). The
    standard cheap triage set for audio corpus curation."""
    mono = x.mean(axis=1)
    n = len(mono)
    if n == 0:
        return {
            "sample_rate": rate, "n_samples": 0, "duration_s": 0.0,
            "rms": 0.0, "zero_cross_rate": 0.0, "spectral_centroid_hz": 0.0,
        }
    rms = float(np.sqrt(np.mean(mono * mono)))
    zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    spec = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    denom = spec.sum()
    centroid = float((freqs * spec).sum() / denom) if denom > 0 else 0.0
    return {
        "sample_rate": rate,
        "n_samples": n,
        "duration_s": round(n / rate, 6),
        "rms": round(rms, 6),
        "zero_cross_rate": round(zc, 6),
        "spectral_centroid_hz": round(centroid, 2),
    }
