"""The media codecs' corrupt-payload contract.

Every image codec raises ``ValueError`` and nothing else on a malformed
stream (seeded truncation + byte-flip fuzz), and every Spark decoder
turns one bad payload into one row that keeps its key with NULL
features — a valid, a NULL, a truncated and a foreign-format payload
through each of the seven decoders, pinned row by row."""

import random

import numpy as np
import pytest


def _fuzz_cases(buf: bytes, n_flips: int, seed: int):
    """Every truncation offset of ``buf``, then ``n_flips`` copies with
    1-4 random bytes overwritten."""
    for i in range(len(buf)):
        yield buf[:i]
    r = random.Random(seed)
    for _ in range(n_flips):
        b = bytearray(buf)
        for _ in range(r.randint(1, 4)):
            b[r.randrange(len(b))] = r.randrange(256)
        yield bytes(b)


def _codecs():
    from aws_etl_bank_spark.llm.gif import (_fixture_palette, decode_gif,
                                            encode_gif)
    from aws_etl_bank_spark.llm.jpeg import decode_baseline, encode_baseline
    from aws_etl_bank_spark.llm.png import decode_png, encode_png

    rng = np.random.RandomState(0)
    jpeg = encode_baseline(rgb=rng.randint(0, 256, (16, 16, 3))
                           .astype(np.uint8))
    png = encode_png(rng.randint(0, 256, (5, 6, 3)).astype(np.uint8),
                     filters=[y % 5 for y in range(5)])
    gif = encode_gif(rng.randint(0, 64, (6, 5)).astype(np.uint8),
                     _fixture_palette())
    return [("jpeg", jpeg, decode_baseline), ("png", png, decode_png),
            ("gif", gif, decode_gif)]


@pytest.mark.parametrize("name", ["jpeg", "png", "gif"])
def test_codec_fuzz_raises_only_value_error(name):
    """Seeded fuzz: each case either decodes or raises ValueError — the
    documented error the Spark feature path maps to a NULL row.  Any
    other exception type is a contract break that would either kill
    the task or (behind a broad except) hide a decoder bug."""
    _, buf, decode = next(c for c in _codecs() if c[0] == name)
    other = set()
    n = 0
    for case in _fuzz_cases(buf, 1500, seed=11):
        n += 1
        try:
            decode(case)
        except ValueError:
            pass
        except Exception as exc:  # collected, asserted below
            other.add(type(exc).__name__)
    assert n == len(buf) + 1500
    assert not other, f"{name}: non-ValueError raised: {sorted(other)}"


def _round(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return [_round(x) for x in v]
    return v


def _decoder_rows(spark, decode, gen, foreign_gen, foreign_id=7):
    """Rows of ``decode`` over four payloads keyed 1..4: the generator's
    valid payload for doc 5, NULL, that payload cut in half, and a
    payload of another format."""
    import pyspark.sql.functions as F

    def payload(g, d):
        ids = spark.range(d, d + 1).select(F.col("id").alias("doc_id"))
        return bytes(g(ids).collect()[0]["payload"])

    valid = payload(gen, 5)
    df = spark.createDataFrame(
        [(1, bytearray(valid)), (2, None),
         (3, bytearray(valid[:len(valid) // 2])),
         (4, bytearray(payload(foreign_gen, foreign_id)))],
        "doc_id long, payload binary")
    out = decode(df)
    return out.columns, sorted(tuple(_round(v) for v in r)
                               for r in out.collect())


def test_decoders_pin_rows_for_valid_null_truncated_foreign(spark):
    from aws_etl_bank_spark.llm import multimodal as mm
    from aws_etl_bank_spark.llm.gif import (decode_gif_features,
                                            synthetic_gif_payloads)
    from aws_etl_bank_spark.llm.jpeg import (decode_jpeg_features,
                                             synthetic_jpeg_payloads)
    from aws_etl_bank_spark.llm.png import (decode_png_features,
                                            synthetic_png_payloads)

    n3 = (None,) * 3
    n4 = (None,) * 4
    n5 = (None,) * 5
    cases = {
        "jpeg": (decode_jpeg_features, synthetic_jpeg_payloads,
                 synthetic_png_payloads,
                 ["doc_id", "width", "height", "mean_r", "mean_g",
                  "mean_b"],
                 [(1, 24, 16, 124.666667, 144.166667, 132.333333),
                  (2,) + n5, (3,) + n5, (4,) + n5]),
        "png": (decode_png_features, synthetic_png_payloads,
                synthetic_gif_payloads,
                ["doc_id", "width", "height", "n_channels", "mean_byte"],
                [(1, 9, 3, 3, 131.592593), (2,) + n4, (3,) + n4,
                 (4,) + n4]),
        "gif": (decode_gif_features, synthetic_gif_payloads,
                synthetic_jpeg_payloads,
                ["doc_id", "width", "height", "mean_r", "mean_g",
                 "mean_b"],
                [(1, 9, 3, 130.666667, 98.0, 106.444444),
                 (2,) + n5, (3,) + n5, (4,) + n5]),
        "image": (lambda df: mm.decode_image_features(df, fake=False),
                  mm.synthetic_ppm_payloads, synthetic_jpeg_payloads,
                  ["doc_id", "n_bytes", "width", "height", "mean_byte"],
                  [(1, 227, 9, 8, 127.6481), (2, 0) + n3, (3, 113) + n3,
                   (4, 645) + n3]),
        "thumbnail": (lambda df: mm.image_grayscale_vector(df, 2, 2),
                      mm.synthetic_ppm_payloads, synthetic_png_payloads,
                      ["doc_id", "vector"],
                      [(1, [0.635294, 0.964706, 0.588235, 0.917647]),
                       (2, None), (3, None), (4, None)]),
        "audio": (mm.decode_audio_features, mm.synthetic_wav_payloads,
                  mm.synthetic_ppm_payloads,
                  ["doc_id", "sample_rate", "n_channels", "n_samples",
                   "mean_amp", "rms", "peak", "zero_cross"],
                  [(1, 8000, 1, 69, -1521.0, 1542.879667, 1963, 0),
                   (2,) + (None,) * 7, (3,) + (None,) * 7,
                   (4,) + (None,) * 7]),
        "spectrum": (mm.audio_spectral_features, mm.synthetic_tone_wavs,
                     mm.synthetic_ppm_payloads,
                     ["doc_id", "peak_bin", "peak_hz", "peak_ratio",
                      "n_fft"],
                     [(1, 8, 250.0, 0.999925, 256), (2,) + n4, (3,) + n4,
                      (4,) + n4]),
    }
    got = {k: _decoder_rows(spark, dec, gen, foreign)
           for k, (dec, gen, foreign, _, _) in cases.items()}
    want = {k: (cols, rows) for k, (_, _, _, cols, rows) in cases.items()}
    assert got == want
