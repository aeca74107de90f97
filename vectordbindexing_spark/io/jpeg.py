"""Pure-numpy JPEG codec (ITU-T T.81 sequential + progressive DCT, JFIF).

The reference ingests JPEG images through PIL + CLIP
(flickr30k_clip.ipynb cell 6); this container ships neither, so the
multimodal operators previously treated compressed formats as a
gap. This module closes it for Huffman-coded DCT
JPEG with a self-contained decoder (and a minimal encoder used by tests
to generate real bitstreams): segment parser, canonical Huffman entropy
decode with byte-unstuffing and restart markers, progressive scan
accumulation (spectral selection + successive approximation, §G),
dequantize → inverse zigzag → orthonormal 8×8 IDCT, nearest-neighbor
chroma upsampling and JFIF YCbCr→RGB.

Implemented from the public spec (ITU-T T.81 §F/§G, Annex K tables); no
code derived from libjpeg/PIL. Scope: baseline sequential (SOF0) and
progressive (SOF2), 8-bit, Y or YCbCr — arithmetic-coded / lossless /
12-bit processes raise ValueError (``scan_jpeg_kind`` triages those
out before decode). The entropy decode is per-coefficient Python
(fine for the thumbnail-scale fixtures the tests use); dequantization
and the IDCT are batched numpy over all blocks at once.

Decode architecture: every scan (a sequential file has one; a
progressive file has many) deposits quantized coefficients into
per-component ``(blocks_y, blocks_x, 64)`` zigzag-order arrays, and a
single vectorized finish pass dequantizes, IDCTs, upsamples and
color-converts. Sequential vs progressive differ only in which scan
decoder fills the arrays.
"""

from __future__ import annotations

import numpy as np

# zigzag order: index i of the scan → (row, col) in the 8×8 block
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 luminance / K.2 chrominance quantization tables (zigzag order
# is NOT used here — these are in natural row-major order).
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)
_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# Annex K.3-K.6 typical Huffman tables: (bits[1..16] counts, symbols)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C: forward 2D DCT = C·b·Cᵀ,
    inverse = Cᵀ·S·C — exactly T.81 §A.3.3's scaling."""
    x = np.arange(8)
    C = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    C *= np.sqrt(2.0 / 8.0)
    C[0, :] = np.sqrt(1.0 / 8.0)
    return C


_C = _dct_matrix()


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict:
    """(length, code) → symbol map from the DHT counts/symbols lists
    (T.81 Annex C code-generation procedure)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt - 0xD0)
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_skip_rst(self) -> None:
        """Byte-align and consume an expected RSTn marker. A padded
        entropy byte of 0xFF is written as a stuffed FF 00 pair (T.81
        §B.1.1.5), so the scan must step over stuffed pairs rather than
        mistaking the first 0xFF it sees for the marker prefix —
        otherwise the stuffed byte is re-consumed as entropy data and
        the stream desyncs."""
        self.bitbuf = 0
        self.nbits = 0
        while True:
            while self.data[self.pos] != 0xFF:
                self.pos += 1
            if self.data[self.pos + 1] == 0x00:  # stuffed FF, not a marker
                self.pos += 2
                continue
            break
        if 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, n: int):
        self.n = n


def _decode_huffman(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map t-bit magnitude v to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _comp_block_grid(w: int, h: int, sh: int, sv: int,
                     hmax: int, vmax: int) -> tuple[int, int]:
    """True (blocks_high, blocks_wide) of one component for
    non-interleaved scans (T.81 A.2.2: data units pad to whole blocks
    but NOT to MCU multiples). Shared by the decoder's frame geometry
    and the progressive encoder's scan iteration — the two MUST agree
    or single-component scan geometry silently diverges."""
    comp_w = -(-w * sh // hmax)
    comp_h = -(-h * sv // vmax)
    return -(-comp_h // 8), -(-comp_w // 8)


def _parse_frame(seg: bytes, progressive: bool) -> dict:
    """SOFn payload → frame dict with sampling geometry precomputed."""
    h, w = int.from_bytes(seg[1:3], "big"), int.from_bytes(seg[3:5], "big")
    ncomp = seg[5]
    comps = []
    for c in range(ncomp):
        cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        # interleaved (MCU-padded) block grid — the coefficient array
        c["bw_full"] = mcus_x * c["h"]
        c["bh_full"] = mcus_y * c["v"]
        c["bh"], c["bw"] = _comp_block_grid(w, h, c["h"], c["v"],
                                            hmax, vmax)
    return {
        "h": h, "w": w, "comps": comps, "hmax": hmax, "vmax": vmax,
        "mcus_x": mcus_x, "mcus_y": mcus_y, "progressive": progressive,
    }


def decode_jpeg(buf: bytes) -> np.ndarray:
    """JPEG bytes (baseline SOF0 or progressive SOF2) →
    (h, w) grayscale or (h, w, 3) RGB uint8."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    coef: dict[int, np.ndarray] = {}
    saw_scan = False
    i = 2
    while i + 1 < len(buf):
        if buf[i] != 0xFF:
            i += 1
            continue
        marker = buf[i + 1]
        if marker == 0xFF:
            # optional fill byte before a marker (T.81 B.1.1.2) — step
            # ONE byte so the real marker is read next
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(buf[i + 2 : i + 4], "big")
        seg = buf[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                qt[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                symbols = list(seg[p + 17 : p + 17 + n])
                huff[(tc, th)] = _canonical_codes(bits, symbols)
                p += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            frame = _parse_frame(seg, progressive=(marker == 0xC2))
            for c in frame["comps"]:
                coef[c["id"]] = np.zeros(
                    (c["bh_full"], c["bw_full"], 64), dtype=np.int64
                )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) supported, "
                f"got SOF{marker - 0xC0}"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scomps = []
            by_id = {c["id"]: c for c in frame["comps"]}
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append((by_id[cs], tt >> 4, tt & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            reader = _BitReader(buf, i + 2 + seg_len)
            try:
                _scan_pass(
                    reader, frame, scomps, ss, se, ah, al, huff,
                    restart_interval, coef,
                )
            except _RestartMarker as exc:
                # an RSTn inside entropy data where none is expected
                # means the stream desynced (or the interval is wrong) —
                # a malformed-input error, not control flow to leak
                raise ValueError(
                    f"unexpected restart marker RST{exc.n} in entropy data"
                ) from None
            saw_scan = True
            i = reader.pos
            continue
        i += 2 + seg_len
    if not saw_scan:
        raise ValueError("no SOS segment found")
    return _finish(frame, coef, qt)


def _scan_pass(reader, frame, scomps, ss, se, ah, al, huff,
               restart_interval, coef):
    """Decode one scan's entropy data into the coefficient arrays.

    Sequential scans carry the full band (Ss=0, Se=63, Ah=Al=0);
    progressive scans carry a DC or AC band slice at one bit of
    precision (T.81 §G.2). Interleaved scans iterate MCUs; a
    single-component scan iterates that component's true block grid.
    """
    progressive = frame["progressive"]
    if progressive:
        if ss == 0 and se != 0:
            raise ValueError("invalid progressive scan: DC scan with Se>0")
        if ss > 0 and len(scomps) != 1:
            raise ValueError("invalid progressive scan: interleaved AC scan")
    elif (ss, se, ah, al) != (0, 63, 0, 0):
        raise ValueError("invalid sequential scan header")
    pred = {c["id"]: 0 for c, _, _ in scomps}
    state = {"eobrun": 0}

    def block_units():
        """Yield (comp, dc_table, ac_table, by, bx) in scan order, with
        a unit counted per MCU (interleaved) or per block (single)."""
        if len(scomps) > 1:
            for my in range(frame["mcus_y"]):
                for mx in range(frame["mcus_x"]):
                    blocks = []
                    for c, dc_t, ac_t in scomps:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                blocks.append(
                                    (c, dc_t, ac_t,
                                     my * c["v"] + by, mx * c["h"] + bx)
                                )
                    yield blocks
        else:
            c, dc_t, ac_t = scomps[0]
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    yield [(c, dc_t, ac_t, by, bx)]

    unit = 0
    for blocks in block_units():
        if restart_interval and unit and unit % restart_interval == 0:
            reader.align_and_skip_rst()
            pred = {c["id"]: 0 for c, _, _ in scomps}
            state["eobrun"] = 0
        for c, dc_t, ac_t, by, bx in blocks:
            out = coef[c["id"]][by, bx]
            if not progressive:
                _block_seq(reader, out, huff[(0, dc_t)], huff[(1, ac_t)],
                           pred, c["id"])
            elif ss == 0:
                if ah == 0:
                    t = _decode_huffman(reader, huff[(0, dc_t)])
                    diff = _extend(reader.read_bits(t), t)
                    pred[c["id"]] += diff
                    out[0] = pred[c["id"]] << al
                else:  # DC refinement: one raw bit per block
                    if reader.read_bit():
                        out[0] |= 1 << al
            elif ah == 0:
                _block_ac_first(reader, out, huff[(1, ac_t)], ss, se, al,
                                state)
            else:
                _block_ac_refine(reader, out, huff[(1, ac_t)], ss, se, al,
                                 state)
        unit += 1


def _block_seq(reader, out, dct, act, pred, cid):
    """Full-band sequential block decode (T.81 §F.2.2) → zigzag coefs."""
    t = _decode_huffman(reader, dct)
    diff = _extend(reader.read_bits(t), t)
    pred[cid] += diff
    out[0] = pred[cid]
    kk = 1
    while kk < 64:
        rs = _decode_huffman(reader, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                kk += 16
                continue
            break  # EOB
        kk += r
        out[kk] = _extend(reader.read_bits(s), s)
        kk += 1


def _block_ac_first(reader, out, act, ss, se, al, state):
    """Progressive AC band, first pass at this precision (§G.2.2): runs
    of zeros + magnitudes scaled by 2^Al, with EOBn codes spanning runs
    of all-zero bands across blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huffman(reader, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            break
        k += r
        out[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _block_ac_refine(reader, out, act, ss, se, al, state):
    """Progressive AC refinement (§G.2.3): add one bit of precision to
    already-nonzero coefficients (correction bits) and place newly
    significant ±2^Al values. History coefficients inside any traversed
    span consume one correction bit each, in positional order."""
    p1, m1 = 1 << al, -1 << al

    def correct(kk: int) -> None:
        if reader.read_bit() and not (int(out[kk]) & p1):
            out[kk] += p1 if out[kk] >= 0 else m1

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_huffman(reader, act)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:  # EOBn terminates this block's band
                    state["eobrun"] = (1 << r)
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                # ZRL: traverse 16 zero-history positions below
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if out[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                out[k] = newval
            k += 1
    if state["eobrun"] > 0:
        # inside an EOB run: only correction bits for history coefs
        while k <= se:
            if out[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _finish(frame, coef, qt):
    """Dequantize + inverse-zigzag + IDCT all blocks at once, then
    upsample subsampled planes, crop, and color-convert."""
    hmax, vmax = frame["hmax"], frame["vmax"]
    h, w = frame["h"], frame["w"]
    full = []
    for c in frame["comps"]:
        zz = coef[c["id"]]  # (bh, bw, 64) zigzag order
        nat = np.zeros(zz.shape, dtype=np.float64)
        nat[..., _ZIGZAG] = zz
        blocks = nat.reshape(zz.shape[0], zz.shape[1], 8, 8) * qt[c["tq"]]
        pix = np.matmul(np.matmul(_C.T, blocks), _C) + 128.0
        p = pix.transpose(0, 2, 1, 3).reshape(
            zz.shape[0] * 8, zz.shape[1] * 8
        )
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    Y, Cb, Cr = full
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    b = Y + 1.772 * (Cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nacc = 0

    def flush(self) -> None:
        while self.nacc:
            self.write(1, 1)  # pad with 1s per T.81 §F.1.2.3


def _encode_codes(bits, symbols) -> dict:
    """symbol → (code, length) from DHT lists."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a signed coefficient."""
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _scaled_q(base: np.ndarray, quality: int) -> np.ndarray:
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _setup_encode(img: np.ndarray, quality: int, subsample: str):
    """Shared encoder front half: color transform, chroma subsampling,
    quant tables, sampling factors. Returns everything both the
    sequential and progressive entropy back halves need."""
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    img = np.asarray(img)
    gray = img.ndim == 2
    sub = subsample == "420" and not gray
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
    else:
        x = img.astype(np.float64)
        Y = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
        Cb = 128.0 - 0.168736 * x[..., 0] - 0.331264 * x[..., 1] + 0.5 * x[..., 2]
        Cr = 128.0 + 0.5 * x[..., 0] - 0.418688 * x[..., 1] - 0.081312 * x[..., 2]
        planes = [Y, Cb, Cr]
    if sub:
        # pad to even dims, then 2×2 box-average the chroma planes
        eh, ew = -(-h // 2) * 2, -(-w // 2) * 2
        for ci in (1, 2):
            p = np.pad(planes[ci], ((0, eh - h), (0, ew - w)), mode="edge")
            planes[ci] = p.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
    qy = _scaled_q(_Q_LUMA, quality)
    qc = _scaled_q(_Q_CHROMA, quality)
    qtabs = [qy] if gray else [qy, qc, qc]
    tq_ids = [0] if gray else [0, 1, 1]
    samp = [(1, 1)] if gray else (
        [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1), (1, 1), (1, 1)]
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    return gray, planes, samp, qtabs, tq_ids, h, w, mcus_x, mcus_y


def _quantized_blocks(planes, samp, qtabs, mcus_x, mcus_y):
    """Forward DCT + quantization for every block of every component at
    once (batched matmul) → list of (bh, bw, 64) int64 arrays in zigzag
    order. Both encoders entropy-code from these arrays, so a
    progressive and a sequential encode of the same image carry
    IDENTICAL coefficients — decode must be bit-identical."""
    out = []
    for ci, p in enumerate(planes):
        sh, sv = samp[ci]
        ph, pw = mcus_y * sv * 8, mcus_x * sh * 8
        pp = np.pad(
            p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
        )
        bh, bw = ph // 8, pw // 8
        blocks = pp.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        S = np.matmul(np.matmul(_C, blocks - 128.0), _C.T)
        coefs = np.round(S / qtabs[ci]).astype(np.int64)
        out.append(coefs.reshape(bh, bw, 64)[..., _ZIGZAG])
    return out


def _write_headers(out: bytearray, sof_marker: int, gray: bool,
                   qtabs, tq_ids, samp, h: int, w: int) -> None:
    """SOI + JFIF APP0 + DQT(s) + SOFn, shared by both encoders."""
    out += b"\xff\xd8"
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    emitted = set()
    for ci, tq in enumerate(tq_ids):
        if tq in emitted:
            continue
        emitted.add(tq)
        zz = qtabs[ci].reshape(64)[_ZIGZAG].astype(np.uint8)
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([tq]) + zz.tobytes()
    ncomp = 1 if gray else 3
    sof = bytearray()
    sof += (8 + 3 * ncomp).to_bytes(2, "big")
    sof += bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sh, sv = samp[cid - 1]
        sof += bytes([cid, (sh << 4) | sv, tq_ids[cid - 1]])
    out += bytes([0xFF, sof_marker]) + sof


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    restart_interval: int = 0,
    subsample: str = "444",
) -> bytes:
    """(h, w) grayscale or (h, w, 3) RGB uint8 → baseline JFIF bytes.
    Annex K tables scaled by ``quality`` (libjpeg's scaling convention);
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every N
    MCUs; ``subsample`` is "444" (chroma at full resolution) or "420"
    (chroma averaged 2×2, Y sampling factor 2×2 — exercises the
    decoder's interleaved multi-block MCUs and upsampling).
    Test-fixture-grade: correctness over speed."""
    gray, planes, samp, qtabs, tq_ids, h, w, mcus_x, mcus_y = _setup_encode(
        img, quality, subsample
    )
    ncomp = 1 if gray else 3
    out = bytearray()
    _write_headers(out, 0xC0, gray, qtabs, tq_ids, samp, h, w)
    tables = (
        ((0, 0, _DC_LUMA), (1, 0, _AC_LUMA))
        if gray
        else (
            (0, 0, _DC_LUMA), (1, 0, _AC_LUMA),
            (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA),
        )
    )
    for tc, th, (bits, symbols) in tables:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(symbols)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    sos = bytearray()
    sos += (6 + 2 * ncomp).to_bytes(2, "big") + bytes([ncomp])
    for cid in range(1, ncomp + 1):
        tt = 0x00 if cid == 1 else 0x11
        sos += bytes([cid, tt])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + sos

    dc_tabs = [_encode_codes(*_DC_LUMA)] + (
        [] if gray else [_encode_codes(*_DC_CHROMA)] * 2
    )
    ac_tabs = [_encode_codes(*_AC_LUMA)] + (
        [] if gray else [_encode_codes(*_AC_CHROMA)] * 2
    )
    bw = _BitWriter()
    coefs_all = _quantized_blocks(planes, samp, qtabs, mcus_x, mcus_y)
    pred = [0] * ncomp
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                bw.flush()  # byte-align, then the RSTn marker
                bw.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                pred = [0] * ncomp
            mcu_count += 1
            for ci in range(ncomp):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        zz = coefs_all[ci][my * sv + by, mx * sh + bx]
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s, bits_v = _magnitude(diff)
                        code, length = dc_tabs[ci][s]
                        bw.write(code, length)
                        if s:
                            bw.write(bits_v, s)
                        run = 0
                        for kk in range(1, 64):
                            v = int(zz[kk])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, length = ac_tabs[ci][0xF0]  # ZRL
                                bw.write(code, length)
                                run -= 16
                            s, bits_v = _magnitude(v)
                            code, length = ac_tabs[ci][(run << 4) | s]
                            bw.write(code, length)
                            bw.write(bits_v, s)
                            run = 0
                        if run:
                            code, length = ac_tabs[ci][0x00]  # EOB
                            bw.write(code, length)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------- progressive encoder

# AC table for progressive scans: the Annex K AC tables lack the EOBn
# (r<<4, s=0, r≥1) symbols progressive coding emits, so use a flat
# canonical table covering every possible RS byte (255 codes of length
# 9 + one of length 10 — valid Kraft, terrible compression, which is
# irrelevant for test fixtures; the decoder reads whatever DHT says).
_AC_PROG = ([0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0],
            list(range(256)))

_EOBRUN_MAX = 0x7FFF  # largest run EOB14 can carry


class _ProgState:
    """Per-scan EOB-run + buffered-correction-bit state (T.81 §G.1.2.2-3).

    Correction bits that fall after the last emitted symbol of a block
    are buffered and emitted after the EOBn symbol that closes the run —
    the decoder consumes them in positional order while traversing the
    run's blocks."""

    def __init__(self, bw: _BitWriter, ac_tab: dict):
        self.bw = bw
        self.ac = ac_tab
        self.eobrun = 0
        self.bits: list[int] = []

    def symbol(self, rs: int) -> None:
        code, length = self.ac[rs]
        self.bw.write(code, length)

    def emit_bits(self, bits: list[int]) -> None:
        for b in bits:
            self.bw.write(b, 1)

    def flush_eob(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.symbol(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            self.emit_bits(self.bits)
            self.bits = []
            self.eobrun = 0


def _enc_ac_first(st: _ProgState, zz, ss: int, se: int, al: int) -> None:
    """One block of an AC first-pass scan: (run, size) symbols over the
    band with magnitudes truncated toward zero by Al."""
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        a = abs(v) >> al
        if a == 0:
            r += 1
            continue
        st.flush_eob()
        while r > 15:
            st.symbol(0xF0)  # ZRL
            r -= 16
        s, bits_v = _magnitude(a if v > 0 else -a)
        st.symbol((r << 4) | s)
        st.bw.write(bits_v, s)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == _EOBRUN_MAX:
            st.flush_eob()


def _enc_ac_refine(st: _ProgState, zz, ss: int, se: int, al: int) -> None:
    """One block of an AC refinement scan: correction bits for history
    (already-significant) coefficients, (run, 1)+sign for newly
    significant ones. Mirrors the decoder traversal in
    :func:`_block_ac_refine`; the ZRL check runs at EVERY nonzero
    coefficient so buffered correction bits stay within the span the
    decoder traverses for each symbol."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1
    for k in range(ss, se + 1):
        if absv[k - ss] == 1:
            eob = k
    r = 0
    pending: list[int] = []
    for k in range(ss, se + 1):
        a = absv[k - ss]
        if a == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            st.flush_eob()
            st.symbol(0xF0)
            r -= 16
            st.emit_bits(pending)
            pending = []
        if a > 1:  # history coefficient: one correction bit
            pending.append(a & 1)
            continue
        st.flush_eob()
        st.symbol((r << 4) | 1)
        st.bw.write(1 if int(zz[k]) > 0 else 0, 1)
        st.emit_bits(pending)
        pending = []
        r = 0
    if r > 0 or pending:
        st.eobrun += 1
        st.bits.extend(pending)
        if st.eobrun == _EOBRUN_MAX:
            st.flush_eob()


def default_progressive_scans(gray: bool) -> list[tuple]:
    """A libjpeg-style scan script: (comp_indices, Ss, Se, Ah, Al).
    Exercises spectral selection, successive approximation, DC and AC
    refinement, and multi-block EOB runs."""
    if gray:
        return [
            ([0], 0, 0, 0, 1),    # DC first, minus the low bit
            ([0], 1, 63, 0, 2),   # all AC at 1/4 precision
            ([0], 1, 63, 2, 1),   # AC refine 2→1
            ([0], 0, 0, 1, 0),    # DC refine
            ([0], 1, 63, 1, 0),   # AC refine 1→0
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),  # interleaved DC first
        ([0], 1, 5, 0, 2),        # luma low band first
        ([1], 1, 63, 0, 1),       # chroma AC first
        ([2], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),       # luma high band first
        ([0], 1, 63, 2, 1),       # luma AC refine 2→1
        ([0, 1, 2], 0, 0, 1, 0),  # DC refine
        ([0], 1, 63, 1, 0),       # luma AC refine 1→0
        ([1], 1, 63, 1, 0),       # chroma AC refine 1→0
        ([2], 1, 63, 1, 0),
    ]


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    scans: list[tuple] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(h, w) grayscale or (h, w, 3) RGB uint8 → progressive (SOF2)
    JFIF bytes. ``scans`` overrides the default scan script with a list
    of (comp_indices, Ss, Se, Ah, Al) tuples; ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every N MCUs in EVERY scan
    (EOB runs and the DC predictor terminate at each restart, per
    T.81 §G.1.2). The quantized coefficients come from the same
    :func:`_quantized_blocks` pass the sequential encoder uses, so
    decoding a progressive encode is bit-identical to decoding a
    sequential encode at the same settings. Test-fixture-grade:
    correctness over speed."""
    gray, planes, samp, qtabs, tq_ids, h, w, mcus_x, mcus_y = _setup_encode(
        img, quality, subsample
    )
    ncomp = 1 if gray else 3
    if scans is None:
        scans = default_progressive_scans(gray)
    coefs_all = _quantized_blocks(planes, samp, qtabs, mcus_x, mcus_y)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    out = bytearray()
    _write_headers(out, 0xC2, gray, qtabs, tq_ids, samp, h, w)
    tables = [(0, 0, _DC_LUMA), (1, 0, _AC_PROG)]
    if not gray:
        tables += [(0, 1, _DC_CHROMA), (1, 1, _AC_PROG)]
    for tc, th, (bits, symbols) in tables:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(symbols)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    dc_enc = [_encode_codes(*_DC_LUMA)] + (
        [] if gray else [_encode_codes(*_DC_CHROMA)] * 2
    )
    ac_enc = _encode_codes(*_AC_PROG)

    def comp_grid(ci):
        return _comp_block_grid(
            w, h, samp[ci][0], samp[ci][1], hmax, vmax
        )

    for comp_idx, ss, se, ah, al in scans:
        sos = bytearray()
        sos += (6 + 2 * len(comp_idx)).to_bytes(2, "big")
        sos += bytes([len(comp_idx)])
        for ci in comp_idx:
            dc_id = 0 if ci == 0 else 1
            ac_id = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (dc_id << 4) | ac_id])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + sos

        bw = _BitWriter()
        # restart units mirror the decoder's: one per MCU (interleaved)
        # or one per block (single-component scan)
        if len(comp_idx) > 1:
            units = [
                [
                    (ci, my * samp[ci][1] + by, mx * samp[ci][0] + bx)
                    for ci in comp_idx
                    for by in range(samp[ci][1])
                    for bx in range(samp[ci][0])
                ]
                for my in range(mcus_y)
                for mx in range(mcus_x)
            ]
        else:
            ci = comp_idx[0]
            ch, cw = comp_grid(ci)
            units = [
                [(ci, by, bx)] for by in range(ch) for bx in range(cw)
            ]
        pred = [0] * ncomp
        st = _ProgState(bw, ac_enc)
        rst_n = 0
        for u, blocks in enumerate(units):
            if restart_interval and u and u % restart_interval == 0:
                st.flush_eob()
                bw.flush()  # byte-align, then the RSTn marker
                bw.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                pred = [0] * ncomp
            for ci, by, bx in blocks:
                zz = coefs_all[ci][by, bx]
                if ss == 0:
                    dc = int(zz[0])
                    if ah == 0:
                        v = dc >> al  # arithmetic shift (§G.1.2.1)
                        diff = v - pred[ci]
                        pred[ci] = v
                        s, bits_v = _magnitude(diff)
                        code, length = dc_enc[ci][s]
                        bw.write(code, length)
                        if s:
                            bw.write(bits_v, s)
                    else:
                        bw.write((dc >> al) & 1, 1)
                elif ah == 0:
                    _enc_ac_first(st, zz, ss, se, al)
                else:
                    _enc_ac_refine(st, zz, ss, se, al)
        st.flush_eob()
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------- triage

# SOFn marker → coding process (T.81 Table B.1). Only baseline and
# progressive decode here; a pipeline filters the rest out.
_SOF_KINDS = {
    0xC0: "baseline",
    0xC1: "extended_sequential",
    0xC2: "progressive",
    0xC3: "lossless",
    0xC5: "diff_sequential",
    0xC6: "diff_progressive",
    0xC7: "diff_lossless",
    0xC9: "arith_sequential",
    0xCA: "arith_progressive",
    0xCB: "arith_lossless",
    0xCD: "arith_diff_sequential",
    0xCE: "arith_diff_progressive",
    0xCF: "arith_diff_lossless",
}


def scan_jpeg_kind(buf: bytes) -> str:
    """Cheap marker sniff: which JPEG coding process a file uses, WITHOUT
    decoding (header bytes only — stops at the first SOFn or SOS). Real
    corpora mix baseline with progressive/arithmetic files; this column
    lets a pipeline set aside files this codec cannot decode instead of
    erroring inside decode_jpeg.
    Returns 'not_jpeg' (no SOI), a T.81 process name from ``_SOF_KINDS``,
    or 'unknown' (truncated / no SOF before SOS)."""
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        return "not_jpeg"
    i = 2
    while i + 3 < len(buf):
        if buf[i] != 0xFF:
            i += 1
            continue
        marker = buf[i + 1]
        if marker == 0xFF:
            # optional fill byte before a marker (T.81 B.1.1.2) — step
            # ONE byte: treating the second FF as a marker byte would
            # read a bogus segment length and skip the real SOF
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI, or SOS with no SOF seen
            break
        if marker in _SOF_KINDS:
            return _SOF_KINDS[marker]
        seg_len = int.from_bytes(buf[i + 2 : i + 4], "big")
        if seg_len < 2:
            return "unknown"
        i += 2 + seg_len
    return "unknown"
