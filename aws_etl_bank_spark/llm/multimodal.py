"""Multimodal column support: image/audio/video payloads as opaque
``binary`` columns with typed metadata structs.

Every codec here runs through one per-row payload map,
``map_payloads``: one Arrow-batched ``mapInPandas`` that turns each
``(key, payload)`` row into ``(key, *features)``, or a NULL-feature row
when the payload does not decode.  Decoding is real: PPM (P6), 24-bit
BMP and PCM WAV are parsed here with numpy alone; JPEG, PNG and GIF
have from-scratch codecs in ``llm/jpeg.py``, ``llm/png.py`` and
``llm/gif.py``.  Other formats (video codecs, ...) come back as NULL
features.  ``decode_image_features(..., fake=True)`` keeps the
deterministic byte-derived stub for exercising the pipeline shape over
non-image payloads.

Schema convention::

    payload  binary                      -- the raw media bytes
    media    struct<format string, n_bytes long>   -- typed metadata
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_binary_payload(df: DataFrame, source_col: str = "text",
                          format: str = "utf8") -> DataFrame:
    """Carry a column as an opaque binary payload + metadata struct (the
    ingest shape for media files; here the testdata's text plays the
    payload role)."""
    payload = F.encode(F.col(source_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media",
        F.struct(F.lit(format).alias("format"), F.octet_length(payload).cast("long").alias("n_bytes")),
    )


def map_payloads(df: DataFrame, key_col: str, value_col: str, fn,
                 schema: str) -> DataFrame:
    """The per-row payload map every codec in this package shares: one
    Arrow-batched ``mapInPandas`` (map-only, no shuffle) that emits
    ``(key, *fn(value))`` for each row of ``df``, or ``(key, NULL, …)``
    when ``fn`` returns None — one undecodable payload is one
    NULL-feature row, never a stage failure.  Any exception ``fn``
    raises fails the task: each ``fn`` catches exactly its codec's
    documented corrupt-payload error, so a bug in the feature arithmetic
    is not hidden as NULL.  ``schema`` is a DDL string: the key column
    first, then ``fn``'s fields in order.  A NaN feature becomes NULL at
    the pandas → Arrow boundary."""
    names = T.StructType.fromDDL(schema).names
    nulls = (None,) * (len(names) - 1)

    def run(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for key, value in zip(batch[key_col], batch[value_col]):
                feats = fn(value)
                rows.append((key, *(nulls if feats is None else feats)))
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def _decode_ppm(buf: bytes):
    """Parse a binary PPM (P6, maxval 255): returns (width, height,
    uint8 pixel array of length w·h·3) or None if not a valid P6."""
    import numpy as np

    if not buf.startswith(b"P6"):
        return None
    # tokenize the header: magic, width, height, maxval — whitespace-
    # separated, '#' comments run to end-of-line
    toks, i, n = [], 2, len(buf)
    while len(toks) < 3 and i < n:
        c = buf[i:i + 1]
        if c == b"#":
            j = buf.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not buf[j:j + 1].isspace():
                j += 1
            toks.append(buf[i:j])
            i = j
    if len(toks) < 3 or i >= n:
        return None
    try:
        w, h, maxval = int(toks[0]), int(toks[1]), int(toks[2])
    except ValueError:
        return None
    if w <= 0 or h <= 0 or maxval != 255:
        return None
    i += 1  # the single whitespace byte after maxval
    need = w * h * 3
    if n - i < need:
        return None
    return w, h, np.frombuffer(buf, dtype=np.uint8, count=need, offset=i)


def _decode_bmp(buf: bytes):
    """Parse an uncompressed 24-bit BMP (BITMAPINFOHEADER): returns
    (width, height, uint8 BGR pixel array row-major top-down) or None."""
    import struct

    import numpy as np

    if len(buf) < 54 or not buf.startswith(b"BM"):
        return None
    data_off = struct.unpack_from("<I", buf, 10)[0]
    w = struct.unpack_from("<i", buf, 18)[0]
    h_raw = struct.unpack_from("<i", buf, 22)[0]
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if w <= 0 or h_raw == 0 or bpp != 24 or compression != 0:
        return None
    h = abs(h_raw)
    stride = (w * 3 + 3) // 4 * 4
    if len(buf) < data_off + stride * h:
        return None
    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)[:, : w * 3]
    if h_raw > 0:  # bottom-up storage → flip to top-down
        rows = rows[::-1]
    return w, h, rows.reshape(-1)


def _decode_any(buf) -> tuple | None:
    if buf is None:
        return None
    b = bytes(buf)
    out = _decode_ppm(b)
    if out is None:
        out = _decode_bmp(b)
    return out


def _image_features(payload):
    """(n_bytes, width, height, mean_byte) of one image payload; a NULL
    payload (missing/corrupt upstream fetch) is ``n_bytes`` 0 and
    undecodable bytes keep their length, both with NULL features."""
    if payload is None:
        return 0, None, None, None
    dec = _decode_any(payload)
    if dec is None:
        return len(payload), None, None, None
    w, h, px = dec
    return len(payload), w, h, round(float(px.mean()), 4)


def decode_image_features(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "doc_id", fake: bool = False) -> DataFrame:
    """Decode image payloads to (width, height, mean_byte) features via
    ``map_payloads``.

    PPM (P6) and 24-bit BMP payloads are parsed with numpy alone —
    dimensions from the header, ``mean_byte`` over the exact pixel
    bytes.  JPEG, PNG and GIF have their own feature functions
    (``llm/jpeg.py``, ``llm/png.py``, ``llm/gif.py``, same helper); any
    other payload returns NULL width/height/mean_byte (``n_bytes``
    always populated) — the per-row policy a 100 TB media crawl needs,
    where one corrupt file must not kill the stage.  ``fake=True``
    bypasses decoding and derives deterministic pseudo-features from the
    raw bytes, vectorised per batch (the pipeline-shape stub used by the
    text-payload entries)."""
    schema = (f"{id_col} long, n_bytes long, width int, height int, "
              "mean_byte double")
    if not fake:
        return map_payloads(df, id_col, payload_col, _image_features, schema)

    def fake_features(pdf):
        import pandas as pd

        payloads = pdf[payload_col]
        n_bytes = payloads.map(lambda b: 0 if b is None else len(b))
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "n_bytes": n_bytes,
                "width": (n_bytes % 256).astype("int32"),
                "height": ((n_bytes * 7) % 256).astype("int32"),
                "mean_byte": payloads.map(
                    lambda b: None if b is None else
                    round(sum(b[:64]) / max(min(len(b), 64), 1), 4)
                ),
            }
        )

    return df.mapInPandas(lambda batches: map(fake_features, batches),
                          schema=schema)


def sample_frames(df: DataFrame, n_frames: int = 4, payload_col: str = "payload",
                  id_col: str = "doc_id") -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: split the payload
    into ``n_frames`` even byte ranges and explode to one row per frame
    (frame_index, frame_bytes).  Pure built-in expressions; a real decoder
    would replace the byte-slice with a keyframe extractor."""
    total = F.octet_length(F.col(payload_col))
    step = F.greatest((total / n_frames).cast("int"), F.lit(1))
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.struct(
            i.cast("int").alias("frame_index"),
            F.substring(F.col(payload_col), i * step + 1, step).alias("frame_bytes"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(frames).alias("frame")
    ).select(id_col, F.col("frame.frame_index"), F.octet_length("frame.frame_bytes").cast("long").alias("frame_n_bytes"))


def synthetic_ppm_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic P6 PPM payloads generated from the row id — the
    planted-image fixture for the REAL decode path: for id ``d`` the
    image is ``(4 + d % 13) × (3 + d % 7)`` with pixel byte ``i`` equal
    to ``(d·31 + i·7) mod 256``, so the decoded width/height/mean are
    closed-form SQL expressions an oracle can compute without ever
    seeing the bytes.  One payload per row via ``map_payloads``."""
    import numpy as np

    def ppm(d):
        d = int(d)
        w, h = 4 + d % 13, 3 + d % 7
        px = ((d * 31 + np.arange(w * h * 3, dtype=np.int64) * 7)
              % 256).astype(np.uint8)
        return (b"P6\n%d %d\n255\n" % (w, h) + px.tobytes(),)

    return map_payloads(df.select(id_col), id_col, id_col, ppm,
                        f"{id_col} long, payload binary")


def image_grayscale_vector(df: DataFrame, out_w: int = 8, out_h: int = 8,
                           payload_col: str = "payload",
                           id_col: str = "doc_id") -> DataFrame:
    """Decode → nearest-neighbor resize to ``out_w × out_h`` → grayscale
    (RGB channel mean) → flat ``array<float>`` in [0, 1]: the image-to-
    embedding step that feeds the ANN/semantic-dedup operators (an
    8×8 thumbnail vector is the classic perceptual pre-filter).  Pure
    numpy indexing — nearest-neighbor is integer gather, no codec, no
    interpolation library; undecodable payloads yield a NULL vector.
    Same 100 TB shape as every embedding op here: ``map_payloads``,
    map-only, no shuffle."""
    import numpy as np

    def thumbnail(payload):
        dec = _decode_any(payload)
        if dec is None:
            return None
        w, h, px = dec
        img = px.reshape(h, w, 3).astype(np.float64)
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        thumb = img[ys][:, xs].mean(axis=2) / 255.0
        return (thumb.reshape(-1).astype(np.float32),)

    return map_payloads(df, id_col, payload_col, thumbnail,
                        f"{id_col} long, vector array<float>")


def _decode_wav(buf):
    """Parse a RIFF/WAVE container with 16-bit PCM samples: returns
    (sample_rate, n_channels, int16 sample array — interleaved if
    multi-channel) or None for anything else (wrong magic, non-PCM
    audio format, truncated chunks, missing fmt/data).  Proper chunk
    walk: arbitrary chunk order, unknown chunks skipped, odd-sized
    chunks padded per the RIFF spec."""
    import numpy as np

    if buf is None or len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    pos, n = 12, len(buf)
    rate = channels = bits = None
    data = None
    while pos + 8 <= n:
        cid = buf[pos:pos + 4]
        size = int.from_bytes(buf[pos + 4:pos + 8], "little")
        body = buf[pos + 8:pos + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if cid == b"fmt " and size >= 16:
            fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if fmt != 1:
                return None  # compressed/float WAV: the codec gate
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF pads odd chunks
    if rate is None or data is None or bits != 16 or not channels:
        return None
    samples = np.frombuffer(data[:len(data) - (len(data) % 2)], dtype="<i2")
    return rate, channels, samples


def _mono_pcm16_wav(samples, rate: int) -> bytes:
    """A mono 16-bit PCM RIFF/WAVE file around ``<i2`` ``samples``."""
    import struct

    data = samples.tobytes()
    return struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data),
                       b"WAVE", b"fmt ", 16, 1, 1, rate, 2 * rate, 2, 16,
                       b"data", len(data)) + data


def synthetic_wav_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 16-bit PCM WAV payloads from the row id — the
    planted-audio fixture for the REAL decode path: doc ``d`` carries
    ``64 + d % 97`` mono samples at 8 kHz, sample ``i`` equal to
    ``((d·17 + i·13) mod 4096) − 2048`` — so every decoded feature
    (sample count, mean, RMS, peak, zero crossings) is a closed-form
    SQL expression over the same arithmetic."""
    import numpy as np

    def wav(d):
        d = int(d)
        ns = 64 + d % 97
        x = (((d * 17 + np.arange(ns, dtype=np.int64) * 13) % 4096)
             - 2048).astype("<i2")
        return (_mono_pcm16_wav(x, 8000),)

    return map_payloads(df.select(id_col), id_col, id_col, wav,
                        f"{id_col} long, payload binary")


def decode_audio_features(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "doc_id") -> DataFrame:
    """REAL audio decoding for uncompressed WAV/PCM16 (numpy only — no
    codec libraries): per payload emit (sample_rate, n_channels,
    n_samples, mean_amp, rms, peak, zero_cross).  Same contract as the
    image path: one corrupt/NULL/compressed payload yields one
    NULL-feature row, never a stage failure — at a 100 TB crawl
    per-row tolerance is the difference between a bad file and a dead
    job.  Map-only Arrow-batched mapInPandas, no shuffle; mean and RMS
    stay exact cross-engine (integer sums, one IEEE division, IEEE
    sqrt — all correctly-rounded ops, no libm)."""
    import numpy as np

    def audio(payload):
        dec = _decode_wav(payload)
        if dec is None:
            return None
        rate, ch, x = dec
        n = x.size
        if n == 0:
            return rate, ch, 0, None, None, None, 0
        xs = x.astype(np.int64)
        mean = float(xs.sum()) / n
        rms = float(np.sqrt(float((xs * xs).sum()) / n))
        peak = int(np.abs(xs).max())
        zc = int(((xs[1:] * xs[:-1]) < 0).sum())
        return int(rate), int(ch), int(n), mean, rms, peak, zc

    return map_payloads(df, id_col, payload_col, audio,
                        f"{id_col} long, sample_rate int, n_channels int, "
                        "n_samples long, mean_amp double, rms double, "
                        "peak int, zero_cross long")


def synthetic_tone_wavs(df: DataFrame, id_col: str = "doc_id",
                        rate: int = 8000, n_samples: int = 256) -> DataFrame:
    """Pure-tone WAV fixture for the spectral path: doc ``d`` carries a
    sine at bin ``3 + d % 60`` of a ``n_samples``-point DFT (i.e.
    frequency (3 + d%60)·rate/n_samples Hz), amplitude 12000, mono
    16-bit PCM — so the dominant rFFT bin is a closed-form function of
    the id."""
    import numpy as np

    def tone(d):
        k = 3 + int(d) % 60
        t = np.arange(n_samples, dtype=np.float64)
        x = np.round(12000.0 * np.sin(2.0 * np.pi * k * t
                                      / n_samples)).astype("<i2")
        return (_mono_pcm16_wav(x, rate),)

    return map_payloads(df.select(id_col), id_col, id_col, tone,
                        f"{id_col} long, payload binary")


def audio_spectral_features(df: DataFrame, payload_col: str = "payload",
                            id_col: str = "doc_id",
                            n_fft: int = 256) -> DataFrame:
    """REAL spectral analysis over decoded PCM: rFFT of the first
    ``n_fft`` samples, emitting the dominant non-DC bin, its frequency
    in Hz and the spectral magnitude ratio peak/total — the
    audio-featurization step (pitch/voicing screens, content
    fingerprinting) that follows decode in a media pipeline.  Same
    posture as every decode op: Arrow-batched map-only numpy (FFT is
    O(n log n) per row, embarrassingly parallel), one NULL-feature row
    per undecodable/short payload, never a stage failure.  Peak-bin
    ties (exact equal magnitudes) break to the lowest bin via argmax —
    deterministic, and the planted-tone fixture keeps the peak
    unambiguous anyway."""
    import numpy as np

    def spectrum(payload):
        dec = _decode_wav(payload)
        if dec is None or dec[2].size < n_fft:
            return None
        rate, _ch, x = dec
        spec = np.abs(np.fft.rfft(x[:n_fft].astype(np.float64)))
        k = int(np.argmax(spec[1:]) + 1)  # skip DC
        tot = float(spec.sum())
        return (k, k * rate / n_fft,
                float(spec[k]) / tot if tot > 0 else None, n_fft)

    return map_payloads(df, id_col, payload_col, spectrum,
                        f"{id_col} long, peak_bin int, peak_hz double, "
                        "peak_ratio double, n_fft int")
