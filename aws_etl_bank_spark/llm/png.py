"""From-scratch PNG codec (RFC 2083 / ISO 15948) + Spark plumbing.

Third real image codec next to the PPM/BMP parsers and the baseline
JPEG codec (llm/jpeg.py), implemented from the public specification —
no image library in the runtime.  DEFLATE comes from the Python
stdlib's ``zlib`` (same dependency the Avro deflate codec uses);
everything PNG-specific is here:

* ``decode_png(buf)`` — signature + chunk walk with CRC-32
  verification, IHDR parse, concatenated-IDAT inflate, and scanline
  UNFILTERING for all five filter types (None/Sub/Up/Average/Paeth,
  including the spec's floor-average and Paeth-predictor tie rules),
  for 8-bit greyscale, RGB, and RGBA.
* ``encode_png(arr, filters=...)`` — the mirror, with a per-row
  filter-type override so tests and fixtures can force every
  unfilter path (an encoder that only ever writes filter 0 would
  leave Sub/Up/Average/Paeth decode dead).

PNG is lossless, so planted closed-form fixtures decode to exactly
the planted bytes REGARDLESS of the row filters used at encode time —
which is what lets the SQL oracle hash-check the whole unfilter
matrix: fixture rows cycle filters 0-4, and any Paeth/Average defect
shifts the recovered pixels.

Scale shape: identical to the other decoders — per-image CPU work
through ``llm.multimodal.map_payloads`` (Arrow-batched ``mapInPandas``,
map-only); a payload ``decode_png`` rejects with ValueError → NULL.
"""

from __future__ import annotations

import struct
import zlib

from aws_etl_bank_spark.llm.multimodal import map_payloads

_SIG = b"\x89PNG\r\n\x1a\n"

#: (color_type, channels)
_COLOR_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    p = a + b − c, ties broken a, then b, then c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(arr, filters=None) -> bytes:
    """uint8 ndarray [h, w] (grey), [h, w, 3] (RGB) or [h, w, 4]
    (RGBA) → PNG bytes.  ``filters`` is an optional per-row list of
    filter types 0-4 (default: all 0); rows are filtered exactly per
    spec so the decoder's unfilter paths can all be exercised."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    filters = list(filters) if filters is not None else [0] * h
    if len(filters) != h:
        raise ValueError("filters must have one entry per row")
    bpp = ch
    raw = bytearray()
    prev = bytes(w * ch)
    for y in range(h):
        row = a[y].tobytes()
        ft = filters[y]
        raw.append(ft)
        if ft == 0:
            out = row
        elif ft == 1:    # Sub
            out = bytes((row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                        for i in range(len(row)))
        elif ft == 2:    # Up
            out = bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        elif ft == 3:    # Average (floor of the SUM, per spec)
            out = bytes((row[i] - ((row[i - bpp] if i >= bpp else 0)
                                   + prev[i]) // 2) & 0xFF
                        for i in range(len(row)))
        elif ft == 4:    # Paeth
            out = bytes((row[i] - _paeth(row[i - bpp] if i >= bpp else 0,
                                         prev[i],
                                         prev[i - bpp] if i >= bpp else 0))
                        & 0xFF for i in range(len(row)))
        else:
            raise ValueError(f"bad filter type {ft}")
        raw += out
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + _chunk(b"IEND", b""))


def decode_png(buf: bytes):
    """PNG bytes → (height, width, uint8 ndarray [h, w, ch]).  Raises
    ValueError on bad signature/CRC/structure or unsupported variants
    (only 8-bit depth, color types 0/2/4/6, no interlace — the
    baseline still images a data pipeline stores).  A truncated chunk
    header surfaces internally as ``struct.error`` and a corrupt IDAT
    stream (whose CRC still matches) as ``zlib.error``; both are
    re-raised here as ValueError, the contract the GIF and JPEG
    decoders share."""
    try:
        return _decode_png_impl(buf)
    except (struct.error, zlib.error) as exc:
        raise ValueError(
            f"png: malformed stream ({type(exc).__name__})") from exc


def _decode_png_impl(buf: bytes):
    import numpy as np

    if buf[:8] != _SIG:
        raise ValueError("png: bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    seen_end = False
    while pos + 8 <= len(buf):
        ln = struct.unpack(">I", buf[pos:pos + 4])[0]
        tag = buf[pos + 4:pos + 8]
        payload = buf[pos + 8:pos + 8 + ln]
        crc = struct.unpack(">I", buf[pos + 8 + ln:pos + 12 + ln])[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            seen_end = True
            break
        pos += 12 + ln
    if ihdr is None or not seen_end:
        raise ValueError("png: missing IHDR/IEND")
    w, h, depth, color, comp, filt, interlace = ihdr
    if w == 0 or h == 0:
        raise ValueError("png: zero width or height")
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("png: only 8-bit non-interlaced supported")
    if color not in _COLOR_CHANNELS:
        raise ValueError(f"png: color type {color} unsupported")
    ch = _COLOR_CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("png: bad decompressed length")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = ch
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1).astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:    # Up — vectorized
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):   # left-dependent: sequential per byte
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                if ft == 1:
                    cur[i] = (line[i] + left) & 0xFF
                elif ft == 3:
                    cur[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
                else:
                    ul = prev[i - bpp] if i >= bpp else 0
                    cur[i] = (line[i] + _paeth(left, int(prev[i]), int(ul))) \
                        & 0xFF
        else:
            raise ValueError(f"png: bad filter {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return h, w, out.reshape(h, w, ch)


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

def fixture_spec_png(doc_id: int):
    """Closed-form PNG fixture: w = 4 + id%9, h = 3 + id%5, RGB byte i
    (row-major, channel-minor) = (31·id + 7·i) % 256 — the PPM fixture
    formula, but written through rows that CYCLE filter types
    (row y uses filter y % 5), so decode exercises every unfilter."""
    w, h = 4 + doc_id % 9, 3 + doc_id % 5
    return w, h


def synthetic_png_payloads(df, id_col: str = "doc_id"):
    """id column -> (id, payload binary) of deterministic filtered
    PNGs (see ``fixture_spec_png``)."""
    import numpy as np

    def png(d):
        d = int(d)
        w, h = fixture_spec_png(d)
        i = np.arange(h * w * 3, dtype=np.int64)
        img = ((31 * d + 7 * i) % 256).astype(np.uint8).reshape(h, w, 3)
        return (encode_png(img, filters=[y % 5 for y in range(h)]),)

    return map_payloads(df.select(id_col), id_col, id_col, png,
                        f"{id_col} long, payload binary")


def _png_features(blob):
    """(width, height, n_channels, mean_byte) of one PNG payload; None
    for a NULL payload or a corrupt one (``ValueError``)."""
    import numpy as np

    if blob is None:
        return None
    try:
        h, w, px = decode_png(bytes(blob))
    except ValueError:
        return None
    return (w, h, px.shape[2],
            float(px.astype(np.float64).sum()) / float(px.size))


def decode_png_features(df, payload_col: str = "payload",
                        id_col: str = "doc_id"):
    """binary PNG column -> (id, width, height, n_channels, mean_byte)
    via the real decoder and ``map_payloads``; NULL and corrupt
    payloads yield NULL features (house policy)."""
    return map_payloads(df, id_col, payload_col, _png_features,
                        f"{id_col} long, width int, height int, "
                        "n_channels int, mean_byte double")
