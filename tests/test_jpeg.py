"""From-scratch baseline JPEG codec (llm/jpeg.py): spec conformance,
roundtrips across sampling modes, restart markers, the closed-form
planted fixture, and the Spark decode plumbing."""

import numpy as np
import pytest

from aws_etl_bank_spark.llm.jpeg import (FIXTURE_QUANT, ZIGZAG,
                                         decode_baseline, encode_baseline,
                                         fixture_spec)


def _ramp(h, w):
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack([30 + xx * 2 + yy, 20 + xx + yy * 2, 60 + xx + yy],
                    axis=-1).astype(np.uint8)


def test_zigzag_is_the_standard_scan():
    # the first and last few entries of the T.81 zigzag, hand-checked
    assert ZIGZAG[:10] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
                           (0, 2), (0, 3), (1, 2), (2, 1), (3, 0)]
    assert ZIGZAG[-6:] == [(7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7)]
    assert len(set(ZIGZAG)) == 64


def test_jfif_structure():
    """SOI/APP0-JFIF/DQT/SOF0/DHT/SOS/EOI in order, valid lengths."""
    buf = encode_baseline(rgb=_ramp(8, 8))
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    assert buf[2:4] == b"\xff\xe0" and buf[6:11] == b"JFIF\x00"
    markers = []
    pos = 2
    while pos < len(buf) - 2:
        assert buf[pos] == 0xFF
        m = buf[pos + 1]
        markers.append(m)
        if m == 0xDA:
            break
        seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
        pos += 2 + seglen
    assert markers == [0xE0, 0xDB, 0xDB, 0xC0, 0xC4, 0xC4, 0xC4, 0xC4, 0xDA]


def test_near_lossless_roundtrip_444():
    """With unit quant tables the only loss is float DCT + the two
    color-transform roundings: every pixel within ±3."""
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, (29, 37, 3)).astype(np.uint8)
    q1 = [1] * 64
    h, w, rgb = decode_baseline(
        encode_baseline(rgb=img, quant_luma=q1, quant_chroma=q1))
    assert (h, w) == (29, 37)
    assert np.abs(rgb.astype(int) - img.astype(int)).max() <= 3


def test_roundtrip_420_and_restart_markers():
    img = _ramp(32, 48)
    q1 = [1] * 64
    # 4:2:0, smooth image: subsample loss only
    h, w, rgb = decode_baseline(encode_baseline(
        rgb=img, subsampling="4:2:0", quant_luma=q1, quant_chroma=q1))
    assert (h, w) == (32, 48)
    assert np.abs(rgb.astype(int) - img.astype(int)).max() <= 3
    # restart markers force DC-prediction resets mid-scan in both modes
    for sub, dri in (("4:4:4", 3), ("4:2:0", 2)):
        h, w, rgb = decode_baseline(encode_baseline(
            rgb=img, subsampling=sub, restart_interval=dri,
            quant_luma=q1, quant_chroma=q1))
        assert np.abs(rgb.astype(int) - img.astype(int)).max() <= 3


def test_annexk_quality50_is_lossy_but_close_on_smooth():
    img = _ramp(24, 40)
    h, w, rgb = decode_baseline(encode_baseline(rgb=img))
    assert np.abs(rgb.astype(int) - img.astype(int)).max() <= 20


def test_fixture_decodes_to_planted_constants_exactly():
    """The block-constant even-valued fixture is lossless through the
    full decode chain (the property the SQL oracle relies on)."""
    for d in (0, 1, 5, 11, 42, 299):
        w, h, bx, blocks = fixture_spec(d)
        img = np.zeros((h, w, 3))
        for b, (vy, vcb, vcr) in enumerate(blocks):
            r0, c0 = (b // bx) * 8, (b % bx) * 8
            img[r0:r0 + 8, c0:c0 + 8] = (vy, vcb, vcr)
        hh, ww, rgb = decode_baseline(encode_baseline(
            ycbcr=img, quant_luma=FIXTURE_QUANT,
            quant_chroma=FIXTURE_QUANT))
        assert (hh, ww) == (h, w)
        for b, (vy, vcb, vcr) in enumerate(blocks):
            r0, c0 = (b // bx) * 8, (b % bx) * 8
            er = min(255, max(0, int(np.floor(vy + 1.402 * (vcr - 128)
                                              + 0.5))))
            eg = min(255, max(0, int(np.floor(
                vy - 0.344136 * (vcb - 128) - 0.714136 * (vcr - 128)
                + 0.5))))
            eb = min(255, max(0, int(np.floor(vy + 1.772 * (vcb - 128)
                                              + 0.5))))
            block = rgb[r0:r0 + 8, c0:c0 + 8]
            assert (block == (er, eg, eb)).all()


def test_corrupt_and_unsupported_rejected():
    with pytest.raises(ValueError):
        decode_baseline(b"")
    with pytest.raises(ValueError):
        decode_baseline(b"\xff\xd8\x00\x00")
    good = encode_baseline(rgb=_ramp(8, 8))
    # truncation anywhere must surface as ValueError (not
    # struct.error / _MarkerInStream / IndexError — r11 ADVICE)
    for cut in (40, 20, len(good) // 2):
        with pytest.raises(ValueError):
            decode_baseline(good[:cut])
    # progressive (SOF2) must be rejected explicitly, not mis-decoded
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="non-baseline"):
        decode_baseline(bytes(prog))
    # a SOF claiming 60000x60000 over 8x8 worth of entropy data is
    # rejected before the decoder allocates its planes (~27 GB each)
    huge = bytearray(good)
    huge[sof + 5:sof + 9] = (60000).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="larger than its entropy data"):
        decode_baseline(bytes(huge))


def test_spark_decode_features_and_null_policy(spark):
    """The mapInPandas plumbing: payload generation on executors, real
    decode, NULL row for a corrupt payload."""
    import pyspark.sql.functions as F

    from aws_etl_bank_spark.llm.jpeg import (decode_jpeg_features,
                                             synthetic_jpeg_payloads)

    ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    feats = decode_jpeg_features(synthetic_jpeg_payloads(ids))
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == 12
    for d, r in rows.items():
        w, h, bx, blocks = fixture_spec(d)
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_r"] is not None
    # corrupt payload -> NULL features, row preserved
    bad = spark.createDataFrame([(99, bytearray(b"\x00nope"))],
                                "doc_id long, payload binary")
    r = decode_jpeg_features(bad).collect()[0]
    assert r["width"] is None and r["mean_b"] is None
    spark.catalog.clearCache()


def test_zrl_long_zero_runs_roundtrip():
    """A single high-frequency AC coefficient forces runs of >15 zeros
    — the ZRL (0xF0) encode/decode path block-constant fixtures never
    touch — plus the negative-coefficient EXTEND path."""
    from aws_etl_bank_spark.llm.jpeg import _dct_matrix

    m = _dct_matrix()
    q1 = [1] * 64
    for (r, c), mag in (((3, 5), 100.0), ((7, 7), -64.0), ((5, 2), 37.0)):
        coeffs = np.zeros((8, 8))
        coeffs[r, c] = mag
        block = m.T @ coeffs @ m + 128.0
        img = np.zeros((8, 8, 3))
        img[..., 0] = block                 # Y carries the pattern
        img[..., 1] = 128.0
        img[..., 2] = 128.0
        buf = encode_baseline(ycbcr=img, quant_luma=q1, quant_chroma=q1)
        h, w, rgb = decode_baseline(buf)
        # Cb=Cr=128 -> RGB == round(Y); compare against the exact chain
        exp = np.clip(np.floor(np.clip(np.floor(block + 0.5), 0, 255)
                               + 0.5), 0, 255)
        assert (rgb[..., 0] == exp).all(), (r, c, mag)


def test_16bit_dqt_segment_decodes():
    """The decoder must parse 16-bit-precision DQT tables (prec=1) —
    rewrite the encoder's 8-bit DQT segments to 16-bit form and expect
    an identical decode."""
    import struct

    img = _ramp(16, 24)
    q1 = [1] * 64
    buf = encode_baseline(rgb=img, quant_luma=q1, quant_chroma=q1)
    out = bytearray()
    pos = 0
    while pos < len(buf):
        if buf[pos] == 0xFF and pos + 1 < len(buf) and buf[pos + 1] == 0xDB:
            seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
            tid = buf[pos + 4] & 0x0F
            qvals = list(buf[pos + 5:pos + 5 + 64])
            out += b"\xff\xdb" + struct.pack(">H", 3 + 128)
            out += bytes([(1 << 4) | tid])
            for v in qvals:
                out += struct.pack(">H", v)
            pos += 2 + seglen
        else:
            out.append(buf[pos])
            pos += 1
    h8, w8, rgb8 = decode_baseline(buf)
    h16, w16, rgb16 = decode_baseline(bytes(out))
    assert (h8, w8) == (h16, w16) and (rgb8 == rgb16).all()


def test_png_codec_all_filters_and_rejects():
    """From-scratch PNG (llm/png.py): every scanline filter roundtrips
    exactly for grey/RGB/RGBA; CRC corruption, truncation, a corrupt
    deflate stream and a zero-width image all reject with ValueError."""
    from aws_etl_bank_spark.llm.png import _chunk, decode_png, encode_png

    rng = np.random.RandomState(7)
    for shape in [(5, 9, 3), (8, 4, 1), (6, 6, 4)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for filters in (None, [1] * shape[0], [2] * shape[0],
                        [3] * shape[0], [4] * shape[0],
                        [y % 5 for y in range(shape[0])]):
            h, w, px = decode_png(encode_png(img, filters=filters))
            assert (h, w, px.shape[2]) == shape
            assert (px == img).all()
    good = encode_png(np.zeros((3, 3, 3), np.uint8))
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF             # flip inside IEND CRC
    # a corrupt IDAT whose CRC matches: passes the CRC gate, fails inflate
    ihdr_end = 8 + 25
    idat_len = int.from_bytes(good[ihdr_end:ihdr_end + 4], "big")
    bad_idat = (good[:ihdr_end] + _chunk(b"IDAT", b"\x78\x9c\xff\xff")
                + good[ihdr_end + 12 + idat_len:])
    zero_width = encode_png(np.zeros((2, 0, 3), np.uint8))
    # good[:31] and good[:-2] cut a chunk's CRC short (IHDR, IEND)
    for bad in (b"", b"\x89PNG\r\n\x1a\nxxxx", good[:-6], good[:31],
                good[:-2], bytes(bad_crc), bad_idat, zero_width):
        with pytest.raises(ValueError):
            decode_png(bad)


def test_png_spark_features(spark):
    from aws_etl_bank_spark.llm.png import (decode_png_features,
                                            fixture_spec_png,
                                            synthetic_png_payloads)
    import pyspark.sql.functions as F

    ids = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    rows = {r["doc_id"]: r for r in
            decode_png_features(synthetic_png_payloads(ids)).collect()}
    for d, r in rows.items():
        w, h = fixture_spec_png(d)
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, 3)
    bad = spark.createDataFrame([(99, bytearray(b"notpng"))],
                                "doc_id long, payload binary")
    r = decode_png_features(bad).collect()[0]
    assert r["width"] is None and r["mean_byte"] is None
    spark.catalog.clearCache()


def test_gif_lzw_codec():
    """From-scratch GIF/LZW (llm/gif.py): closed-form fixtures exact,
    dictionary stress (width bumps, repetition/KwKwK, the 4096 CLEAR
    reset), and structural rejection."""
    from aws_etl_bank_spark.llm.gif import (_fixture_palette, decode_gif,
                                            encode_gif, fixture_spec_gif)

    pal = _fixture_palette()
    pal_arr = np.array(pal, dtype=np.uint8)
    for d in (0, 3, 17, 299):
        w, h = fixture_spec_gif(d)
        i = np.arange(h * w, dtype=np.int64)
        idx = ((31 * d + 7 * i) % 64).astype(np.uint8).reshape(h, w)
        hh, ww, rgb = decode_gif(encode_gif(idx, pal))
        assert (hh, ww) == (h, w) and (rgb == pal_arr[idx]).all()
    rng = np.random.RandomState(3)
    for idx in (rng.randint(0, 64, (80, 90)),
                np.tile(np.arange(50) % 7, 200).reshape(100, 100),
                np.zeros((64, 64)),                      # max repetition
                rng.randint(0, 64, (200, 300))):         # 4096 resets
        idx = idx.astype(np.uint8)
        hh, ww, rgb = decode_gif(encode_gif(idx, pal))
        assert (rgb == pal_arr[idx]).all()
    # the documented contract is ValueError on ANY malformed stream —
    # including truncated sub-block/extension walks that surface
    # internally as IndexError (r11 ADVICE)
    whole = bytes(encode_gif(np.zeros((4, 4), np.uint8), pal))
    for bad in (b"", b"GIF89a", b"NOTGIF" + b"\x00" * 20,
                whole[:15], whole[:13 + 64 * 3 + 5], whole[:-3]):
        with pytest.raises(ValueError):
            decode_gif(bad)
    # interlace flag must reject, not mis-decode.  The image
    # descriptor sits at a FIXED offset (13-byte header + 64*3
    # palette) — searching for 0x2C would hit palette bytes.
    good = bytearray(encode_gif(np.zeros((4, 4), np.uint8), pal))
    desc = 13 + 64 * 3
    assert good[desc] == 0x2C
    good[desc + 9] |= 0x40
    with pytest.raises(ValueError, match="interlace"):
        decode_gif(bytes(good))
