"""From-scratch baseline-sequential JPEG codec + Spark plumbing.

The container ships no image libraries, so — like the pure-python Avro
codec in ``sources/avro.py`` and the PPM/BMP parsers in
``llm/multimodal.py`` — the decode step is implemented from the public
specification (ITU-T T.81 / ISO 10918-1, JFIF 1.02) rather than stubbed:

* ``decode_baseline(buf)`` — a complete baseline-sequential (SOF0)
  decoder: marker walk, DQT (8/16-bit), DHT canonical Huffman table
  build, SOS entropy decode with byte-unstuffing and restart-marker
  (DRI/RSTn) resync, per-component DC prediction, dequantize, inverse
  zigzag, float 8×8 IDCT, chroma upsampling for any legal sampling
  factors (4:4:4, 4:2:2, 4:2:0, …), and the JFIF YCbCr→RGB transform.
* ``encode_baseline(...)`` — the matching encoder (4:4:4 or 4:2:0):
  forward DCT, quantize, zigzag, DC-diff + run-length AC Huffman
  coding against the T.81 Annex K standard tables, byte stuffing,
  optional restart intervals.

Determinism contract (what lets a DuckDB oracle replay the decode):
every rounding step is ``floor(x + 0.5)`` (never banker's round), the
IDCT of a DC-only block is ``F00/8`` to within 2⁻⁵⁰ relative error, and
the synthetic fixture (``synthetic_jpeg_payloads``) quantizes DC with
step 16 so decoded block values land ≥0.5 away from every rounding
boundary — the decoded image is integer-exact and closed-form in the
image id (see ``multimodal_decode_jpeg`` in plans/registry_llm_corpus.py).

Scale shape: decoding is per-image CPU work with no cross-row
dependency — ``decode_jpeg_features`` runs through
``llm.multimodal.map_payloads`` (one Arrow-batched ``mapInPandas``,
map-only, no shuffle), the same plumbing as the PPM, PNG, GIF and WAV
decoders; a payload the decoder rejects with ``ValueError`` yields a
NULL row, never a task failure.

Reference parity: the reference engine treats image columns as opaque
binary + typed metadata (SURVEY.md §2 multimodal rows); this module is
the Spark-first realization with the decode made real.
"""

from __future__ import annotations

import struct

from aws_etl_bank_spark.llm.multimodal import map_payloads

# ---------------------------------------------------------------------------
# T.81 Annex K standard tables (public specification constants)
# ---------------------------------------------------------------------------

QUANT_LUMA_K1 = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

QUANT_CHROMA_K2 = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: canonical Huffman specs: (BITS[1..16], HUFFVAL)
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))

AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
])

AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
])

for _bits, _vals in (DC_LUMA, DC_CHROMA, AC_LUMA, AC_CHROMA):
    assert sum(_bits) == len(_vals)


def _zigzag_order():
    """The 64-entry zigzag scan as (row, col) pairs, generated from the
    diagonal-walk definition rather than hardcoded."""
    order = []
    for s in range(15):
        diag = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        if s % 2 == 0:
            diag.reverse()  # even diagonals walk up-right
        order.extend(diag)
    return order


ZIGZAG = _zigzag_order()           # scan index -> (row, col)
ZIGZAG_FLAT = [r * 8 + c for r, c in ZIGZAG]


def _dct_matrix():
    """Orthonormal 8-point DCT-II matrix M (M @ block @ M.T = coeffs;
    M.T @ coeffs @ M = block)."""
    import math

    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return m


# ---------------------------------------------------------------------------
# Huffman machinery (canonical codes per T.81 C.2)
# ---------------------------------------------------------------------------

def _canonical_codes(bits, vals):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} using the T.81
    canonical assignment: codes of each length are consecutive,
    starting from (prev_start + prev_count) << 1."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits, vals):
    """(BITS, HUFFVAL) -> {(length, code): symbol} for the bit-walk
    decoder."""
    return {(ln, c): s for s, (c, ln) in _canonical_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                b = self._acc
                self.out.append(b)
                if b == 0xFF:            # byte stuffing
                    self.out.append(0x00)
                self._acc = 0
                self._n = 0

    def pad_to_byte(self):
        """Fill the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)


class _BitReader:
    """Entropy-segment bit reader with byte-unstuffing: 0xFF 0x00 is a
    literal 0xFF; 0xFF Dn (RSTn) terminates the current segment — the
    caller resyncs via ``restart()``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: entropy data truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1            # stuffed byte
                else:
                    # a real marker inside entropy data — unread for caller
                    self.pos -= 1
                    raise _MarkerInStream()
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self):
        """Discard the current byte's remaining pad bits, skip any
        unconsumed pad bytes (a pad byte of 0xFF arrives stuffed as
        FF 00), and consume the RSTn marker."""
        self._acc = 0
        self._n = 0
        d, n = self.data, len(self.data)
        hops = 0
        while self.pos + 1 < n and not (d[self.pos] == 0xFF
                                        and 0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 2 if (d[self.pos] == 0xFF
                              and d[self.pos + 1] == 0x00) else 1
            hops += 1
            if hops > 2:        # ≤1 pad byte (possibly stuffed) is legal
                raise ValueError("jpeg: expected restart marker")
        if self.pos + 1 >= n:
            raise ValueError("jpeg: expected restart marker")
        self.pos += 2


class _MarkerInStream(Exception):
    """A non-stuffing marker was encountered inside entropy data."""


def _decode_huff_symbol(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.12 EXTEND: map a ``size``-bit magnitude to its signed
    coefficient value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value -> (size category, magnitude bits) — EXTEND's
    inverse, used by the encoder."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def decode_baseline(buf: bytes):
    """Baseline-sequential JFIF/JPEG -> (height, width, rgb ndarray
    uint8 [h, w, 3]) for 3-component images, or [h, w] grayscale for
    1-component.  Raises ValueError on anything that is not a
    well-formed baseline (SOF0) stream — callers in the Spark path map
    that to a NULL row (the corrupt-payload policy every decoder in
    this package shares).  Truncated segment headers / entropy data
    surface internally as ``struct.error`` / ``_MarkerInStream`` /
    ``IndexError``; they are re-raised here as ValueError so the
    documented contract holds for direct callers too."""
    try:
        return _decode_baseline_impl(buf)
    except ValueError:
        raise
    except (_MarkerInStream, struct.error, IndexError, StopIteration) as exc:
        raise ValueError(
            f"jpeg: malformed stream ({type(exc).__name__})") from exc


def _decode_baseline_impl(buf: bytes):
    import numpy as np

    if len(buf) < 4 or buf[0] != 0xFF or buf[1] != 0xD8:
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}   # (class, id) -> decode table
    frame = None
    restart_interval = 0
    rgb = None

    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("jpeg: marker expected")
        while buf[pos + 1] == 0xFF:     # optional fill bytes before marker
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:                      # EOI
            break
        if 0xD0 <= marker <= 0xD7:
            continue                            # stray RSTn
        seglen = struct.unpack(">H", buf[pos:pos + 2])[0]
        seg = buf[pos + 2:pos + seglen]
        if marker == 0xDB:                      # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if prec == 0:
                    qtables[tid] = list(seg[i:i + 64])
                    i += 64
                else:
                    qtables[tid] = [
                        struct.unpack(">H", seg[i + 2 * j:i + 2 * j + 2])[0]
                        for j in range(64)]
                    i += 128
        elif marker == 0xC4:                    # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                vals = list(seg[i + 17:i + 17 + n])
                htables[(cls, tid)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xDD:                    # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xC0:                    # SOF0 baseline
            _prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            comps = []
            for c in range(ncomp):
                cid, samp, qid = seg[6 + 3 * c:9 + 3 * c]
                if not (1 <= samp >> 4 <= 4 and 1 <= samp & 0x0F <= 4):
                    raise ValueError("jpeg: sampling factor out of 1..4")
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F,
                              "q": qid})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"jpeg: non-baseline SOF 0x{marker:02X} "
                             "unsupported (baseline-sequential only)")
        elif marker == 0xDA:                    # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF0")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cid, tids = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cid)
                scan.append((comp, tids >> 4, tids & 0x0F))
            rgb = _decode_scan(buf, pos + seglen, frame, scan, qtables,
                               htables, restart_interval)
            break
        pos += seglen

    if rgb is None:
        raise ValueError("jpeg: no scan decoded")
    return frame["h"], frame["w"], rgb


def _decode_scan(buf, pos, frame, scan, qtables, htables, restart_interval):
    import numpy as np

    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    m = _dct_matrix()
    # every block costs at least 2 bits (a DC and an EOB Huffman code),
    # so a frame larger than its entropy data is corrupt; rejecting it
    # here keeps a few flipped SOF bytes from allocating gigabytes
    n_blocks = mcux * mcuy * sum(c["h"] * c["v"] for c, _, _ in scan)
    if 2 * n_blocks > 8 * (len(buf) - pos):
        raise ValueError("jpeg: frame larger than its entropy data")

    planes = {}
    for comp, _, _ in scan:
        pw, ph = mcux * 8 * comp["h"], mcuy * 8 * comp["v"]
        planes[comp["id"]] = np.zeros((ph, pw), dtype=np.float64)

    br = _BitReader(buf, pos)
    pred = {comp["id"]: 0 for comp, _, _ in scan}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                br.restart()
                pred = {k: 0 for k in pred}
            for comp, dc_id, ac_id in scan:
                dct = htables.get((0, dc_id))
                act = htables.get((1, ac_id))
                q = qtables.get(comp["q"])
                if dct is None or act is None:
                    raise ValueError("jpeg: missing huffman table")
                if q is None:
                    raise ValueError("jpeg: missing quantization table")
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coeffs = _decode_block(br, dct, act, q, pred,
                                               comp["id"])
                        spatial = m.T @ coeffs @ m
                        py = (my * comp["v"] + by) * 8
                        px = (mx * comp["h"] + bx) * 8
                        planes[comp["id"]][py:py + 8, px:px + 8] = spatial
            mcu_count += 1

    # level shift + floor(x+0.5) rounding (deterministic, never
    # banker's) + clamp, then upsample each component to full size
    out = []
    for comp, _, _ in scan:
        p = planes[comp["id"]] + 128.0
        p = np.clip(np.floor(p + 0.5), 0, 255)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out.append(p[:h, :w])

    if len(out) == 1:
        return out[0].astype(np.uint8)
    y, cb, cr = out
    r = np.floor(y + 1.402 * (cr - 128) + 0.5)
    g = np.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
    b = np.floor(y + 1.772 * (cb - 128) + 0.5)
    rgb = np.stack([np.clip(r, 0, 255), np.clip(g, 0, 255),
                    np.clip(b, 0, 255)], axis=-1)
    return rgb.astype(np.uint8)


def _decode_block(br, dc_table, ac_table, q, pred, cid):
    import numpy as np

    coeffs = np.zeros((8, 8), dtype=np.float64)
    size = _decode_huff_symbol(br, dc_table)
    diff = _extend(br.read_bits(size), size)
    pred[cid] += diff
    coeffs[0, 0] = pred[cid] * q[0]
    k = 1
    while k < 64:
        rs = _decode_huff_symbol(br, ac_table)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:                # ZRL: 16 zeros
                k += 16
                continue
            break                        # EOB
        k += run
        if k > 63:
            raise ValueError("jpeg: AC index out of range")
        val = _extend(br.read_bits(size), size)
        r, c = ZIGZAG[k]
        coeffs[r, c] = val * q[k]
        k += 1
    return coeffs


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def encode_baseline(rgb=None, ycbcr=None, quant_luma=None, quant_chroma=None,
                    subsampling: str = "4:4:4",
                    restart_interval: int = 0) -> bytes:
    """Encode an image to baseline-sequential JFIF bytes.

    Pass EITHER ``rgb`` (ndarray [h, w, 3] uint8; converted with the
    JFIF matrix) OR ``ycbcr`` (same shape; planted fixtures construct
    YCbCr directly so the decode side is closed-form).  Quant tables
    default to Annex K; ``subsampling`` is ``"4:4:4"`` or ``"4:2:0"``.
    """
    import numpy as np

    if (rgb is None) == (ycbcr is None):
        raise ValueError("pass exactly one of rgb / ycbcr")
    if rgb is not None:
        px = rgb.astype(np.float64)
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    else:
        px = ycbcr.astype(np.float64)
        y, cb, cr = px[..., 0], px[..., 1], px[..., 2]
    h, w = y.shape
    ql = list(quant_luma or QUANT_LUMA_K1)
    qc = list(quant_chroma or QUANT_CHROMA_K2)

    if subsampling == "4:4:4":
        sampy, sampc = (1, 1), (1, 1)
    elif subsampling == "4:2:0":
        sampy, sampc = (2, 2), (1, 1)
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    hmax, vmax = sampy
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    def pad_plane(p, fh, fv):
        ph, pw = mcuy * 8 * fv, mcux * 8 * fh
        out = np.empty((ph, pw))
        sh, sw = p.shape
        out[:sh, :sw] = p
        out[sh:, :sw] = p[sh - 1:sh, :]     # edge-replicate padding
        out[:, sw:] = out[:, sw - 1:sw]
        return out

    if subsampling == "4:2:0":
        # 2x2 box-average downsample (pad odd dims by edge replication)
        def down(p):
            ph, pw = ((h + 1) // 2) * 2, ((w + 1) // 2) * 2
            p2 = np.empty((ph, pw))
            p2[:h, :w] = p
            p2[h:, :w] = p[h - 1:h, :]
            p2[:, w:] = p2[:, w - 1:w]
            return (p2[0::2, 0::2] + p2[0::2, 1::2]
                    + p2[1::2, 0::2] + p2[1::2, 1::2]) / 4.0
        cb, cr = down(cb), down(cr)

    comps = [
        {"id": 1, "h": sampy[0], "v": sampy[1], "qid": 0, "q": ql,
         "plane": pad_plane(y, sampy[0], sampy[1]), "dc": DC_LUMA,
         "ac": AC_LUMA},
        {"id": 2, "h": sampc[0], "v": sampc[1], "qid": 1, "q": qc,
         "plane": pad_plane(cb, sampc[0], sampc[1]), "dc": DC_CHROMA,
         "ac": AC_CHROMA},
        {"id": 3, "h": sampc[0], "v": sampc[1], "qid": 1, "q": qc,
         "plane": pad_plane(cr, sampc[0], sampc[1]), "dc": DC_CHROMA,
         "ac": AC_CHROMA},
    ]
    m = _dct_matrix()

    def quantize_block(block, q):
        coeffs = m @ (block - 128.0) @ m.T
        flat = coeffs.reshape(64)[ZIGZAG_FLAT]
        out = []
        for v, qq in zip(flat, q):
            a = v / qq
            # floor(|x| + 0.5) with the sign restored: deterministic
            # symmetric rounding (matches the oracle's closed form)
            out.append(int(np.floor(abs(a) + 0.5)) * (1 if a >= 0 else -1))
        return out

    dc_codes = {c["id"]: _canonical_codes(*c["dc"]) for c in comps}
    ac_codes = {c["id"]: _canonical_codes(*c["ac"]) for c in comps}

    bw = _BitWriter()
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                bw.pad_to_byte()
                bw.out.extend((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = {k: 0 for k in pred}
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        py = (my * c["v"] + by) * 8
                        px = (mx * c["h"] + bx) * 8
                        zz = quantize_block(
                            c["plane"][py:py + 8, px:px + 8], c["q"])
                        _encode_block(bw, zz, pred, c, dc_codes[c["id"]],
                                      ac_codes[c["id"]])
            mcu_count += 1
    bw.pad_to_byte()

    return _assemble(h, w, comps, ql, qc, bytes(bw.out), restart_interval)


def _encode_block(bw, zz, pred, comp, dc_codes, ac_codes):
    diff = zz[0] - pred[comp["id"]]
    pred[comp["id"]] = zz[0]
    size, bits = _magnitude(diff)
    code, ln = dc_codes[size]
    bw.write(code, ln)
    if size:
        bw.write(bits, size)
    # AC: run-length of zeros + (run, size) symbols
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]       # ZRL
            bw.write(code, ln)
            run -= 16
        size, bits = _magnitude(zz[k])
        code, ln = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]           # EOB
        bw.write(code, ln)


def _assemble(h, w, comps, ql, qc, entropy, restart_interval) -> bytes:
    out = bytearray(b"\xff\xd8")                        # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" \
        + bytes((1, 2, 0)) + struct.pack(">HH", 1, 1) + bytes((0, 0))
    for tid, q in ((0, ql), (1, qc)):                   # DQT
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(q)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))        # SOF0
    for c in comps:
        out += bytes((c["id"], (c["h"] << 4) | c["v"], c["qid"]))
    for cls, tid, (bits, vals) in (                     # DHT
            (0, 0, DC_LUMA), (1, 0, AC_LUMA),
            (0, 1, DC_CHROMA), (1, 1, AC_CHROMA)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) \
            + bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    if restart_interval:                                # DRI
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for c in comps:                                     # SOS
        dc_tid = 0 if c["id"] == 1 else 1
        out += bytes((c["id"], (dc_tid << 4) | dc_tid))
    out += bytes((0, 63, 0))                            # Ss, Se, Ah/Al
    out += entropy
    out += b"\xff\xd9"                                  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark plumbing (fixture generator + Arrow-batched decode)
# ---------------------------------------------------------------------------

#: fixture quant tables: DC step 16 (divisible by 8) makes DC-only
#: blocks decode to exact integers with a 0.5 rounding margin; AC steps
#: are irrelevant for block-constant fixtures but kept Annex-K-like.
FIXTURE_QUANT = [16] + QUANT_LUMA_K1[1:]


def fixture_spec(doc_id: int):
    """Closed-form fixture geometry + per-block YCbCr constants for
    image ``doc_id`` — the single source of truth the SQL oracle
    mirrors: w = 8·(1 + id%3), h = 8·(1 + id%2); block b (row-major)
    has Y=2·((31·id+17·b)%128), Cb=2·((7·id+29·b)%128),
    Cr=2·((13·id+23·b)%128).  EVEN values are deliberate: with DC
    quant step 16, a constant block of even value v quantizes to
    exactly (v−128)/2 (the float DCT's 2⁻⁵² error sits 0.5 away from
    the rounding boundary) and the DC-only IDCT returns exactly v —
    the decode chain is lossless on the fixture, so the oracle can
    recompute RGB straight from the planted constants."""
    bx, by = 1 + doc_id % 3, 1 + doc_id % 2
    blocks = []
    for b in range(bx * by):
        blocks.append((2 * ((31 * doc_id + 17 * b) % 128),
                       2 * ((7 * doc_id + 29 * b) % 128),
                       2 * ((13 * doc_id + 23 * b) % 128)))
    return bx * 8, by * 8, bx, blocks


def fixture_spec_420(doc_id: int):
    """4:2:0 fixture geometry: full 16×16 MCUs (bx ∈ {2,4} Y-blocks
    wide, 2 tall), per-block even Y constants as in ``fixture_spec``,
    but Cb/Cr constant PER IMAGE — a constant chroma plane box-averages
    to itself, DC-roundtrips exactly (even + quant 16), and
    nearest-upsamples back to the same constant, so the decoded image
    stays closed-form through the subsampled path."""
    bx, by = 2 * (1 + doc_id % 2), 2
    ys = [2 * ((31 * doc_id + 17 * b) % 128) for b in range(bx * by)]
    cb = 2 * ((7 * doc_id) % 128)
    cr = 2 * ((13 * doc_id) % 128)
    return bx * 8, by * 8, bx, ys, cb, cr


def synthetic_jpeg_payloads(df, id_col: str = "doc_id",
                            subsampling: str = "4:4:4"):
    """id column -> (id, payload binary) of deterministic
    block-constant baseline JPEGs (``fixture_spec`` for 4:4:4,
    ``fixture_spec_420`` for 4:2:0).  Generation runs Arrow-batched on
    the executors — the driver never sees a payload byte."""
    import numpy as np

    def jpeg(d):
        d = int(d)
        if subsampling == "4:2:0":
            w, h, bx, ys, cb, cr = fixture_spec_420(d)
            img = np.zeros((h, w, 3))
            img[..., 1] = cb
            img[..., 2] = cr
            for b, vy in enumerate(ys):
                r0, c0 = (b // bx) * 8, (b % bx) * 8
                img[r0:r0 + 8, c0:c0 + 8, 0] = vy
        else:
            w, h, bx, blocks = fixture_spec(d)
            img = np.zeros((h, w, 3))
            for b, (vy, vcb, vcr) in enumerate(blocks):
                r0, c0 = (b // bx) * 8, (b % bx) * 8
                img[r0:r0 + 8, c0:c0 + 8] = (vy, vcb, vcr)
        return (encode_baseline(ycbcr=img, quant_luma=FIXTURE_QUANT,
                                quant_chroma=FIXTURE_QUANT,
                                subsampling=subsampling),)

    return map_payloads(df.select(id_col), id_col, id_col, jpeg,
                        f"{id_col} long, payload binary")


def _jpeg_features(blob):
    """(width, height, mean_r, mean_g, mean_b) of one JPEG payload;
    None for a NULL payload or a corrupt one (``ValueError``)."""
    import numpy as np

    if blob is None:
        return None
    try:
        h, w, rgb = decode_baseline(bytes(blob))
    except ValueError:
        return None
    if rgb.ndim == 2:
        rgb = np.stack([rgb] * 3, axis=-1)
    sums = rgb.astype(np.float64).sum(axis=(0, 1))
    n = float(h * w)
    return w, h, sums[0] / n, sums[1] / n, sums[2] / n


def decode_jpeg_features(df, payload_col: str = "payload",
                         id_col: str = "doc_id"):
    """binary JPEG column -> (id, width, height, mean_r, mean_g,
    mean_b) via the real decoder and ``map_payloads`` (map-only, no
    shuffle).  Sums are over exact uint8 integers so the double means
    are order-independent; NULL and corrupt payloads yield NULL
    features.
    """
    return map_payloads(df, id_col, payload_col, _jpeg_features,
                        f"{id_col} long, width int, height int, "
                        "mean_r double, mean_g double, mean_b double")
