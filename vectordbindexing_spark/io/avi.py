"""Minimal AVI (RIFF) container codec for MJPEG video — the video leg
of the multimodal ingest path.

With PPM/JPEG (images) and WAV (audio) decoded for real, MJPEG-in-AVI
closes the triad without leaving public-spec territory: AVI is a RIFF
container (same chunk grammar as WAV, plus nested LISTs) and Motion
JPEG frames are plain baseline/progressive JPEG bytes the vendored
io/jpeg.py codec already decodes. Inter-coded codecs (H.264/VP9/AV1)
have no vendored decoder; ``multimodal.media_kind`` triages them out,
the same contract as arithmetic JPEG and compressed audio.

Reader: walk RIFF chunks, recurse into LISTs, read fps/dims from
``avih``, collect ``00dc``/``00db`` frame payloads from the ``movi``
list. Writer (test-fixture-grade): one video stream header + movi list,
frames padded to even length per RIFF."""

from __future__ import annotations


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return cid + len(body).to_bytes(4, "little") + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(
    frames: list[bytes], fps: int, width: int, height: int
) -> bytes:
    """JPEG frame byte strings → MJPEG AVI bytes."""
    if fps <= 0:
        raise ValueError("fps must be positive")
    avih = (
        (1_000_000 // fps).to_bytes(4, "little")  # dwMicroSecPerFrame
        + (0).to_bytes(4, "little")               # dwMaxBytesPerSec
        + (0).to_bytes(4, "little")               # dwPaddingGranularity
        + (0x10).to_bytes(4, "little")            # dwFlags (HASINDEX off)
        + len(frames).to_bytes(4, "little")       # dwTotalFrames
        + (0).to_bytes(4, "little")               # dwInitialFrames
        + (1).to_bytes(4, "little")               # dwStreams
        + (0).to_bytes(4, "little")               # dwSuggestedBufferSize
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + bytes(16)                               # dwReserved
    )
    strh = (
        b"vids" + b"MJPG"
        + bytes(12)                               # flags/priority/initial
        + (1).to_bytes(4, "little")               # dwScale
        + fps.to_bytes(4, "little")               # dwRate (fps = rate/scale)
        + (0).to_bytes(4, "little")               # dwStart
        + len(frames).to_bytes(4, "little")       # dwLength
        + bytes(16)                               # bufsize/quality/sample/rc
    )
    strf = (  # BITMAPINFOHEADER
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little")               # planes
        + (24).to_bytes(2, "little")              # bit count
        + b"MJPG"
        + (width * height * 3).to_bytes(4, "little")
        + bytes(16)
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi_mjpeg(buf: bytes) -> tuple[float, int, int, list[bytes]]:
    """MJPEG AVI bytes → (fps, width, height, [jpeg frame bytes]).
    Walks the RIFF tree; tolerates extra chunks (idx1, JUNK, INFO)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    fps = 0.0
    width = height = 0
    frames: list[bytes] = []

    def walk(data: bytes) -> None:
        nonlocal fps, width, height
        pos = 0
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"LIST":
                walk(body[4:])  # skip the list type, recurse
            elif cid == b"avih" and len(body) >= 40:
                us = int.from_bytes(body[0:4], "little")
                fps = 1_000_000 / us if us else 0.0
                width = int.from_bytes(body[32:36], "little")
                height = int.from_bytes(body[36:40], "little")
            elif cid[2:4] in (b"dc", b"db"):  # compressed/uncompressed frame
                frames.append(bytes(body))
            pos += 8 + size + (size & 1)

    walk(buf[12:])
    if not frames:
        raise ValueError("no video frames found")
    return fps, width, height, frames
