"""From-scratch GIF87a/89a codec with real LZW (GIF is the palette +
LZW container; LZW is public-domain since the Unisys patent expiry).

Fourth image codec next to PPM/BMP (llm/multimodal.py), JPEG
(llm/jpeg.py), and PNG (llm/png.py) — no image library in the runtime,
so the container AND the compression are implemented from the public
specification:

* ``encode_gif(indices, palette)`` — logical screen descriptor,
  global color table, image descriptor, and REAL LZW compression
  (dictionary growth, code-size escalation to 12 bits, CLEAR emission
  at the 4096 ceiling) packed LSB-first into 255-byte sub-blocks.
* ``decode_gif(buf)`` — header/trailer walk, extension-block
  skipping, LZW decompression with the full dictionary protocol
  including the KwKwK special case (code == next unassigned entry),
  palette lookup to RGB.  Interlace and local color tables are
  rejected explicitly (not mis-decoded).

GIF is lossless on palette indices, so closed-form planted fixtures
hash-check the entire LZW protocol through the SQL oracle — a wrong
code-size bump boundary or KwKwK branch scrambles pixels.
Spark plumbing: ``llm.multimodal.map_payloads``, the same Arrow-batched
map-only shape as the other decoders; a payload ``decode_gif`` rejects
with ValueError → NULL row.
"""

from __future__ import annotations

import struct

from aws_etl_bank_spark.llm.multimodal import map_payloads


class _LsbBitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, nbits: int):
        self._acc |= code << self._n
        self._n += nbits
        while self._n >= 8:
            self.out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def finish(self) -> bytes:
        if self._n:
            self.out.append(self._acc & 0xFF)
        return bytes(self.out)


class _LsbBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read(self, nbits: int) -> int:
        while self._n < nbits:
            if self.pos >= len(self.data):
                raise ValueError("gif: LZW data exhausted")
            self._acc |= self.data[self.pos] << self._n
            self.pos += 1
            self._n += 8
        v = self._acc & ((1 << nbits) - 1)
        self._acc >>= nbits
        self._n -= nbits
        return v


def _lzw_compress(indices, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    bw = _LsbBitWriter()

    def reset():
        return ({(i,): i for i in range(clear)}, end + 1,
                min_code_size + 1)

    table, next_code, width = reset()
    bw.write(clear, width)
    buf = ()
    for sym in indices:
        cand = buf + (int(sym),)
        if cand in table:
            buf = cand
            continue
        bw.write(table[buf], width)
        table[cand] = next_code
        next_code += 1
        # the code just assigned becomes decodable once the DECODER
        # sees the next code, so width bumps when next_code-1 hits the
        # current ceiling... per spec: bump when next_code reaches
        # 2^width (encoder side mirrors the decoder's table state)
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            bw.write(clear, width)
            table, next_code, width = reset()
        buf = (int(sym),)
    if buf:
        bw.write(table[buf], width)
        # the decoder assigns one more entry while processing this
        # final code; if that lands exactly on 2^width it bumps width
        # BEFORE reading END — mirror it or the END code desyncs
        if next_code == (1 << width) and width < 12:
            width += 1
    bw.write(end, width)
    return bw.finish()


def _lzw_decompress(data: bytes, min_code_size: int) -> list:
    clear = 1 << min_code_size
    end = clear + 1
    br = _LsbBitReader(data)
    out: list[int] = []
    table: list[tuple] = []
    width = min_code_size + 1
    prev = None
    while True:
        code = br.read(width)
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):            # KwKwK
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("gif: LZW code out of range")
        out.extend(entry)
        if prev is not None and len(table) == (1 << width) \
                and width < 12:
            width += 1
        elif prev is None and len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


def encode_gif(indices, palette) -> bytes:
    """indices: uint8 ndarray [h, w] of palette indices; palette:
    list of (r, g, b).  Palette size is rounded up to a power of two
    (≥2) as the format requires."""
    import numpy as np

    a = np.asarray(indices, dtype=np.uint8)
    h, w = a.shape
    n = max(2, len(palette))
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    if a.max(initial=0) >= size:
        raise ValueError("index out of palette range")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4)
                       | (bits - 1), 0, 0)
    for j in range(size):
        r, g, b = palette[j] if j < len(palette) else (0, 0, 0)
        out += bytes((r, g, b))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = max(2, bits)
    out.append(min_code)
    lzw = _lzw_compress(a.reshape(-1).tolist(), min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif(buf: bytes):
    """GIF bytes → (height, width, uint8 ndarray [h, w, 3]).

    Raises ValueError on any malformed/truncated stream (same contract
    as the JPEG/PNG decoders): a truncated sub-block or extension walk
    surfaces internally as IndexError/struct.error and is re-raised
    here as ``ValueError('gif: truncated')``."""
    try:
        return _decode_gif_impl(buf)
    except ValueError:
        raise
    except (IndexError, struct.error) as exc:
        raise ValueError("gif: truncated") from exc


def _decode_gif_impl(buf: bytes):
    import numpy as np

    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", buf[6:13])
    pos = 13
    palette = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        palette = np.frombuffer(buf, np.uint8, size * 3, pos) \
            .reshape(size, 3)
        pos += size * 3
    while pos < len(buf):
        b = buf[pos]
        pos += 1
        if b == 0x3B:                      # trailer
            raise ValueError("gif: no image block")
        if b == 0x21:                      # extension: label + subblocks
            pos += 1
            while buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02x}")
        il, it, iw, ih, ipk = struct.unpack("<HHHHB", buf[pos:pos + 9])
        pos += 9
        if ipk & 0x40:
            raise ValueError("gif: interlace unsupported")
        if ipk & 0x80:
            raise ValueError("gif: local color table unsupported")
        if palette is None:
            raise ValueError("gif: no color table")
        min_code = buf[pos]
        pos += 1
        lzw = bytearray()
        while buf[pos] != 0:
            ln = buf[pos]
            lzw += buf[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decompress(bytes(lzw), min_code)
        if len(idx) != iw * ih:
            raise ValueError("gif: pixel count mismatch")
        arr = np.asarray(idx, dtype=np.int32).reshape(ih, iw)
        if arr.max(initial=0) >= len(palette):
            raise ValueError("gif: index out of palette")
        return ih, iw, palette[arr]
    raise ValueError("gif: truncated")


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

def _fixture_palette():
    """64-entry closed-form palette: entry j = ((4j)%256, (3j)%256,
    (5j)%256) — the formula the SQL oracle mirrors."""
    return [((4 * j) % 256, (3 * j) % 256, (5 * j) % 256)
            for j in range(64)]


def fixture_spec_gif(doc_id: int):
    """w = 4 + id%9, h = 3 + id%5; pixel i (row-major) has palette
    index (31·id + 7·i) % 64."""
    return 4 + doc_id % 9, 3 + doc_id % 5


def synthetic_gif_payloads(df, id_col: str = "doc_id"):
    """id column -> (id, payload binary) of deterministic GIFs (see
    ``fixture_spec_gif``) over the closed-form ``_fixture_palette``."""
    import numpy as np

    pal = _fixture_palette()

    def gif(d):
        d = int(d)
        w, h = fixture_spec_gif(d)
        i = np.arange(h * w, dtype=np.int64)
        idx = ((31 * d + 7 * i) % 64).astype(np.uint8).reshape(h, w)
        return (encode_gif(idx, pal),)

    return map_payloads(df.select(id_col), id_col, id_col, gif,
                        f"{id_col} long, payload binary")


def _gif_features(blob):
    """(width, height, mean_r, mean_g, mean_b) of one GIF payload; None
    for a NULL payload or a corrupt one (``ValueError``)."""
    import numpy as np

    if blob is None:
        return None
    try:
        h, w, rgb = decode_gif(bytes(blob))
    except ValueError:
        return None
    s = rgb.astype(np.float64).sum(axis=(0, 1))
    n = float(h * w)
    return w, h, s[0] / n, s[1] / n, s[2] / n


def decode_gif_features(df, payload_col: str = "payload",
                        id_col: str = "doc_id"):
    """binary GIF column -> (id, width, height, mean_r, mean_g, mean_b)
    via the real decoder and ``map_payloads``; NULL and corrupt
    payloads yield NULL features."""
    return map_payloads(df, id_col, payload_col, _gif_features,
                        f"{id_col} long, width int, height int, "
                        "mean_r double, mean_g double, mean_b double")
