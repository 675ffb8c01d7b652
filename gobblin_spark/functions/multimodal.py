"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns plus a typed metadata struct. The
Spark-side plumbing — schema, Arrow-batched mapInPandas transforms,
partition sizing — is real and tested. Codecs come in two tiers:

- REAL pure-Python codecs for the formats whose math needs no native
  library: WAV/PCM16 (``wave``), BMP (24-bit BI_RGB), PPM (P6), PNG
  (truecolor RGB8 — stdlib zlib supplies DEFLATE; encode emits mixed
  row filters, decode unfilters all five types), GIF87a and TIFF
  (grayscale, both LZW dialects), and JPEG — baseline grayscale,
  YCbCr 4:4:4 and chroma-subsampled 4:2:0 from ONE baseline writer,
  plus progressive (SOF2) both ways (huffman entropy coding +
  numpy-matmul DCT + BT.601; the encoders write their own canonical
  DHT tables into the stream, the decoder core handles 1- or
  3-component streams at any integer sampling ratio). One codec table
  (``_CODECS``: kind -> media_type, encode(media_id), feature schema,
  decode(payload)) drives the three Arrow-batched ``mapInPandas``
  entry points: ``synth_media`` (encode executor-side into the media
  schema), ``decode_media`` (payload -> exact integer features) and
  ``media_roundtrip_features`` (both in one Python crossing) — real
  bytes on the wire, value-checked end-to-end by the catalog's
  ``multimodal_*`` oracles.
- What still needs a native library (MP3, video: ffmpeg — NOT in
  this container) stays gated: ``decode_image_features`` routes by
  magic bytes and raises NotImplementedError for anything else. The
  remaining in-codec gates are arithmetic coding and hierarchical
  JPEG.

Design notes for 100 TB of media:
- Blobs stay in the ``binary`` column; metadata-only transformations
  (dimensions, duration, content hashes) never deserialize payloads.
- mapInPandas streams Arrow record batches — bounded memory per task
  regardless of per-file blob size; ``maxRecordsPerBatch`` caps batch
  memory (set in session.py).
- Repartition by size before decode so one task doesn't get all the
  4K videos: ``repartition_by_bytes``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as _np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("byte_len", LongType(), True),
        StructField("sha256", StringType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("feature_hash", StringType(), True),
    ]
)


def attach_binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Compute blob metadata (length, sha256) without leaving the JVM."""
    return df.withColumn("byte_len", F.length(F.col(payload_col)).cast("long")).withColumn(
        "sha256", F.lower(F.sha2(F.col(payload_col), 256))
    )


def documents_as_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Test fixture: lift a text table into the media schema (payload =
    utf-8 bytes). Lets the binary plumbing be oracle-checked without any
    real media files."""
    lifted = df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )
    return attach_binary_metadata(lifted)


def decode_image_features(df: DataFrame) -> DataFrame:
    """Decode/feature-extract stage as Arrow-batched mapInPandas.

    BMP (24-bit BI_RGB), PPM (P6), PNG (truecolor RGB8), GIF87a/89a
    (grayscale LZW), TIFF 6.0 (grayscale, none/LZW), and JPEG
    (baseline grayscale / 4:4:4 / 4:2:0 plus progressive SOF2, routed
    by the stream's own SOF) payloads are REALLY decoded with the
    pure-Python codecs below, routed by magic bytes — width/height
    from the container header, feature_hash = sha256 of the raw
    channel sums. Formats that need a native library (MP3/video:
    ffmpeg, not in this container) raise NotImplementedError.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gobblin_spark.functions.multimodal import _image_features

        for pdf in batches:
            feats = [_image_features(bytes(p or b"")) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.Series([f[0] for f in feats], dtype="int32"),
                    "height": pd.Series([f[1] for f in feats], dtype="int32"),
                    "feature_hash": [f[2] for f in feats],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def _image_features(payload: bytes) -> tuple[int, int, str]:
    """(width, height, feature_hash) of one image payload, the codec
    picked by its magic bytes."""
    if payload[:2] == b"BM":
        w, h, sr, sg, sb = decode_bmp24(payload)
    elif payload[:2] == b"P6":
        w, h, sr, sg, sb = decode_ppm_p6(payload)
    elif payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, sr, sg, sb = decode_png_rgb8(payload)
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, s = decode_gif_gray(payload)
        sr = sg = sb = s
    elif payload[:4] in (b"II*\x00", b"MM\x00*"):
        w, h, s = decode_tiff_gray(payload)
        sr = sg = sb = s
    elif payload[:2] == b"\xff\xd8":
        w, h, planes = _decode_jpeg_planes(payload)
        sr, sg, sb = _jpeg_sums(planes)
    else:
        raise NotImplementedError(
            "only BMP/PPM/PNG/GIF/TIFF/JPEG decode ships pure-Python; "
            "MP3/video need ffmpeg (not installed)")
    fp = hashlib.sha256(f"{w}x{h}:{sr},{sg},{sb}".encode())
    return w, h, fp.hexdigest()[:16]


def frame_sample_plan(df: DataFrame, every_n_seconds: int = 5) -> DataFrame:
    """Video frame-sampling *plan*: one output row per planned frame
    (media_id, frame_ts). Decoding the actual frame is the stubbed step;
    the explode that fans a video row into frame-task rows is the real
    distributed mechanic (it is how frame extraction parallelizes)."""
    duration = (F.col("byte_len") % 120 + 1).cast("int")  # stub duration seconds
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), duration, F.lit(every_n_seconds))
        ).alias("frame_ts"),
    )


def repartition_by_bytes(
    df: DataFrame,
    target_bytes_per_partition: int = 128 << 20,
    total_bytes: int | None = None,
) -> DataFrame:
    """Size the partition COUNT from total payload bytes and
    round-robin rows across it (``repartition(n)`` with no columns is
    RoundRobinPartitioning — even row counts per partition, with
    Spark's determinism sort; identical rows do NOT co-locate).

    Pass ``total_bytes`` (e.g. summed from the file inventory that fed
    the read — ``list_files`` returns sizes) to keep the plan lazy; if
    omitted, one eager ``sum(byte_len)`` job runs and the upstream plan
    is computed twice — acceptable only right after a scan, never
    mid-pipeline. Even ROW counts approximate even BYTES only in
    expectation; exact byte-balanced bin-packing is not attempted (it
    would serialize planning on the driver). At read time prefer sizing
    via ``spark.sql.files.maxPartitionBytes`` instead.
    """
    if total_bytes is None:
        total_bytes = df.agg(F.sum("byte_len")).first()[0] or 0
    n = max(1, int(total_bytes // target_bytes_per_partition) + 1)
    return df.repartition(n)


def audio_segment_plan(
    df: DataFrame,
    segment_seconds: int = 10,
    overlap_seconds: int = 2,
) -> DataFrame:
    """Audio segmentation *plan*: one row per overlapping window
    (media_id, seg_start, seg_end) — the ASR/embedding pre-chunking
    step (Whisper-style 10s windows with 2s overlap). Like
    frame_sample_plan, the explode that fans one recording into
    segment-task rows IS the distributed mechanic; the codec behind it
    stays stubbed (no ffmpeg in this environment). Stride = segment −
    overlap; the tail window is kept short rather than dropped (audio
    endings matter), and every segment end is clipped to the duration.
    """
    if overlap_seconds >= segment_seconds:
        raise ValueError("overlap must be smaller than the segment")
    stride = segment_seconds - overlap_seconds
    duration = (F.col("byte_len") % 120 + 1).cast("int")  # stub seconds
    start = F.explode(
        F.sequence(F.lit(0), duration - 1, F.lit(stride))).alias("seg_start")
    return (
        df.select("media_id", duration.alias("_dur"), start)
        .select(
            "media_id",
            "seg_start",
            F.least(F.col("seg_start") + segment_seconds, F.col("_dur"))
            .cast("int").alias("seg_end"),
        )
    )


# ----------------------------------------------------------------------
# REAL pure-Python codecs (stdlib only) — the un-gated decode tier.
#
# WAV/PCM16 via `wave`, BMP 24-bit BI_RGB and PPM P6 via `struct`
# alone. Encode AND decode both run executor-side in Arrow-batched
# mapInPandas (the codec table at the end of this module): synthetic
# media are deterministic pure functions of the row id, so a SQL
# oracle can reproduce the decoded metrics exactly (sample/pixel sums
# as closed-form integer series) while the bytes crossing the stages
# are real container files.
# ----------------------------------------------------------------------


def _feature_schema(*cols: str) -> StructType:
    """A decode row's output: ``media_id`` then nullable long features
    (every feature is an exact integer, so one int64 frame carries
    them all)."""
    return StructType(
        [StructField("media_id", LongType(), False)]
        + [StructField(c, LongType(), True) for c in cols])


WAV_FEATURE_SCHEMA = _feature_schema(
    "sample_rate", "n_channels", "n_samples", "duration_ms", "sum_amp",
    "sum_abs")
WAV_SPECTRAL_SCHEMA = _feature_schema("n_samples", "dc", "energy", "nyquist")
RGB_FEATURE_SCHEMA = _feature_schema(
    "width", "height", "sum_r", "sum_g", "sum_b")
GRAY_FEATURE_SCHEMA = _feature_schema("width", "height", "sum_gray")


def _wav_samples(media_id: int):
    """Deterministic PCM16 sample series for a synthetic recording, as
    an int64 numpy array: n = 100 + id % 400 samples,
    amp_i = ((id*31 + i*17) % 2001) - 1000. Pure integer arithmetic —
    a SQL oracle replays it with a generate-series sum."""
    import numpy as np

    n = 100 + media_id % 400
    return ((media_id * 31 + np.arange(n, dtype=np.int64) * 17)
            % 2001) - 1000


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Mono PCM16 WAV bytes from integer samples (stdlib wave
    container; the frame payload packs vectorized — '<i2' numpy bytes
    are exactly struct.pack('<Nh') bytes). Accepts a list or an
    integer numpy array."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype=np.int64)
                      .astype("<i2").tobytes())
    return buf.getvalue()


def _wav_pcm16(payload: bytes):
    """(sample_rate, n_channels, n_frames, int64 samples) from real WAV
    bytes — the one PCM16 parse (stdlib wave container, vectorized
    frames); other sample widths raise a clean NotImplementedError
    instead of an opaque unpack error."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, nch, nfr = w.getframerate(), w.getnchannels(), w.getnframes()
        if w.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 supported")
        raw = w.readframes(nfr)
    return rate, nch, nfr, np.frombuffer(raw, dtype="<i2").astype(np.int64)


def decode_wav_pcm16(payload: bytes) -> tuple[int, int, int, int, int]:
    """(sample_rate, n_channels, n_samples, sum_amp, sum_abs) from real
    WAV bytes, no native codec."""
    import numpy as np

    rate, nch, nfr, vals = _wav_pcm16(payload)
    return (rate, nch, nfr, int(vals.sum()), int(np.abs(vals).sum()))


def _wav_features(payload: bytes) -> tuple[int, ...]:
    """The ``wav`` decode row: header fields, duration and exact
    integer amplitude sums an oracle can check value-for-value."""
    rate, nch, nfr, s, sa = decode_wav_pcm16(payload)
    return rate, nch, nfr, nfr * 1000 // rate, s, sa


def _wav_spectral(payload: bytes) -> tuple[int, int, int, int]:
    """The ``wav_spectral`` decode row: a full FFT (numpy) over the
    PCM16 signal, emitting the three spectral quantities that have
    EXACT integer ground truth — the DC bin (X[0] = sum of samples),
    total energy via PARSEVAL (sum|X|^2 / N = sum x^2, so the float FFT
    must round-trip to the exact time-domain integer), and the Nyquist
    bin for even N (X[N/2] = alternating sum). A SQL oracle states all
    three in closed form, which turns 'did the FFT run correctly' into
    a value-hash check instead of a trust-me."""
    import numpy as np

    x = _wav_pcm16(payload)[3].astype(np.float64)
    n = len(x)
    X = np.fft.fft(x)
    dc = int(round(X[0].real))
    energy = int(round(float((np.abs(X) ** 2).sum()) / n))
    nyq = int(round(X[n // 2].real)) if n % 2 == 0 else 0
    return n, dc, energy, nyq


def _bmp_dims(media_id: int) -> tuple[int, int]:
    return 4 + media_id % 29, 3 + media_id % 17


def _bmp_pixel(media_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Deterministic RGB for pixel (x, y): integer formulas a SQL
    oracle sums in closed form."""
    return (
        (media_id + 7 * x + 13 * y) % 256,
        (media_id * 3 + 5 * x + 11 * y) % 256,
        (media_id * 7 + 3 * x + 17 * y) % 256,
    )


def encode_bmp24(media_id: int) -> bytes:
    """Uncompressed bottom-up 24-bit BI_RGB BMP with the deterministic
    pixel pattern — a real .bmp file any viewer opens."""
    import struct

    w, h = _bmp_dims(media_id)
    row_pad = (-(w * 3)) % 4
    stride = w * 3 + row_pad
    img_size = stride * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up scanline order
        for x in range(w):
            r, g, b = _bmp_pixel(media_id, x, y)
            rows += bytes((b, g, r))  # BGR on disk
        rows += b"\x00" * row_pad
    return header + info + bytes(rows)


def decode_bmp24(payload: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) parsed from real BMP bytes
    (24-bit BI_RGB, padded bottom-up or top-down scanlines)."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only 24-bit BI_RGB supported")
    if w <= 0 or h_signed == 0:
        # a corrupt header's negative width makes every scanline slice
        # EMPTY — the sums flow on as plausible zeros with nonsense
        # dimensions instead of failing (audit r12)
        raise ValueError(f"bad BMP dimensions {w}x{h_signed}")
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if len(payload) < off + stride * h - ((-(w * 3)) % 4):
        # a short slice would SILENTLY sum a partial raster — corrupt
        # data must fail loudly, not flow on with plausible sums
        raise ValueError("BMP raster truncated")
    sr = sg = sb = 0
    for y in range(h):
        base = off + y * stride
        row = payload[base:base + w * 3]
        sb += sum(row[0::3])
        sg += sum(row[1::3])
        sr += sum(row[2::3])
    return w, h, sr, sg, sb


def decode_ppm_p6(payload: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from a binary PPM (P6)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: magic, whitespace-separated width/height/maxval (with
    # optional '#' comment lines), one whitespace byte, raster
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    if not 0 < maxval:
        # spec: 0 < maxval < 65536 — a negative maxval (the same
        # '-'-accepting field scan) passed the > 255 check silently
        # (r12 review #3)
        raise ValueError(f"bad PPM maxval {maxval}")
    if w <= 0 or h <= 0:
        # negative header fields parse (the field scan accepts '-')
        # and make w*h*3 negative — the raster slice is empty, the
        # truncation check (len < negative) passes, and zero sums
        # flow on silently (audit r12)
        raise ValueError(f"bad PPM dimensions {w}x{h}")
    raster = payload[pos:pos + w * h * 3]
    if len(raster) < w * h * 3:
        raise ValueError("PPM raster truncated")
    return w, h, sum(raster[0::3]), sum(raster[1::3]), sum(raster[2::3])


# ------------------------------------------------------------------
# PNG (truecolor RGB8) — REAL pure-Python codec: stdlib zlib supplies
# DEFLATE, so unlike JPEG/MP3/video the PNG container needs no native
# library. Encode emits a spec-valid file (any viewer opens it) with
# MIXED row filters (None/Sub/Up) so the decode path proves real
# unfiltering, not just a replay of its own trivial output; decode
# implements ALL FIVE filter types (None/Sub/Up/Average/Paeth) for
# 8-bit truecolor. Palette/alpha/16-bit/interlaced stay honest
# NotImplementedError gates.
# ------------------------------------------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib as _z

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF))


def encode_png_rgb8(media_id: int) -> bytes:
    """Spec-valid truecolor-RGB8 PNG of the SAME deterministic pixel
    pattern (and dims) the BMP codec uses, so one closed-form SQL
    oracle covers both containers. Row filters alternate
    None/Sub/Up (y % 3) — the decoder must genuinely unfilter."""
    import struct
    import zlib as _z

    w, h = _bmp_dims(media_id)
    raw = bytearray()
    prev = bytes(w * 3)
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes(_bmp_pixel(media_id, x, y))
        ftype = y % 3
        if ftype == 0:  # None
            raw.append(0)
            raw += row
        elif ftype == 1:  # Sub: delta vs the pixel 3 bytes left
            raw.append(1)
            raw += bytes((row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
                         for i in range(len(row)))
        else:  # Up: delta vs the same byte of the row above
            raw.append(2)
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        prev = bytes(row)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # RGB8, no interlace
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def decode_png_rgb8(payload: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from a truecolor-RGB8 PNG.
    Full unfilter support (None/Sub/Up/Average/Paeth); multiple IDAT
    chunks concatenate per spec. Non-RGB8 color types, 16-bit depth,
    and interlacing raise — honest gates, same policy as BMP/PPM."""
    import struct
    import zlib as _z

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, bytearray(), None
    while pos + 8 <= len(payload):
        (clen,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + clen]
        pos += 12 + clen  # len + type + data + crc
        if ctype == b"IHDR":
            meta = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_, comp, filt, interlace = meta
    if (depth, ctype_, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise NotImplementedError(
            "only 8-bit truecolor non-interlaced PNG supported")
    raw = _z.decompress(bytes(idat))
    stride = w * 3
    prev = bytearray(stride)
    sr = sg = sb = 0
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        sr += sum(line[0::3])
        sg += sum(line[1::3])
        sb += sum(line[2::3])
        prev = line
    return w, h, sr, sg, sb


# ------------------------------------------------------------------
# JPEG — REAL pure-Python codec. The two pieces a JPEG needs beyond
# the stdlib are huffman coding and the DCT; both are pure math. One
# baseline writer (``_jpeg_baseline``: grayscale, 4:4:4 and 4:2:0 by
# per-component sampling factors, optional DRI/RSTn) and one
# progressive writer emit spec-valid JFIF with an all-ones
# quantization table (quality-max) and fixed-length canonical huffman
# tables written into the file's DHT segments (legal: decoders must
# take tables from the stream; fixed 4-bit DC / 9-10-bit AC codes
# sidestep transcribing Annex K). The decoder is GENERAL: DQT/SOFn/
# DHT/DRI/SOS parse, huffman entropy decode (DC delta + AC run-length
# with EOB/ZRL), dezigzag, dequantize, real IDCT (numpy 8x8 basis
# matmuls), clamp, crop. Flat 8x8 blocks survive the DCT EXACTLY
# (DC-only coefficients), which is what makes a closed-form SQL
# oracle possible for a lossy format; arbitrary content round-trips
# within +/-1/pixel at the all-ones table (pytest-pinned). Arithmetic
# coding and hierarchical mode stay honest NotImplementedError gates.
# ------------------------------------------------------------------

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# numpy index form for the vectorized encoder fast path
_JPEG_ZIGZAG_IDX = _np.array(_JPEG_ZIGZAG, dtype=_np.intp)
# fixed-length canonical tables: 12 DC symbols at 4 bits; AC 0..255 at
# 9 bits except the last at 10 (DHT per-length counts are single
# bytes, so 256-at-one-length is unrepresentable). Neither table ever
# assigns the all-ones code the spec forbids.
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = list(range(256))


_JPEG_DCT_BASIS_CACHE = None


def _jpeg_dct_basis():
    # module-level memo: the basis is a pure 8x8 constant, but it was
    # rebuilt per image with __import__("math") inside the double loop
    # (r13 profile: 128 __import__ calls per image, ~8% of decode)
    global _JPEG_DCT_BASIS_CACHE
    if _JPEG_DCT_BASIS_CACHE is None:
        import math

        import numpy as np

        c = np.zeros((8, 8))
        for u in range(8):
            cu = (1.0 / (2.0 ** 0.5)) if u == 0 else 1.0
            for x in range(8):
                c[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
        _JPEG_DCT_BASIS_CACHE = c
    return _JPEG_DCT_BASIS_CACHE


def _jpeg_canonical_codes(bits, vals):
    """Encoder view of a canonical huffman table: symbol -> (code,
    length), the inverse of the decoder's ``_jpeg_huff_table``."""
    return {sym: (code, length)
            for (length, code), sym in _jpeg_huff_table(bits, vals).items()}


def _jpeg_category(v: int) -> tuple[int, int]:
    if v == 0:
        return 0, 0
    cat = abs(v).bit_length()
    return cat, (v if v > 0 else v + (1 << cat) - 1)


class _JpegBitWriter:
    def __init__(self):
        self.buf, self.acc, self.n = bytearray(), 0, 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.buf)

    def restart_marker(self, m: int) -> None:
        """Byte-align (1-fill) and emit RSTn — markers are never
        byte-stuffed, so they bypass put()."""
        self.flush()
        self.buf += bytes([0xFF, 0xD0 + (m % 8)])


def _jpeg_coefs(block, C):
    """Forward DCT of one level-shifted 8x8 block, zigzag-ordered and
    quantized by the flat-1 tables: 64 int64 coefficients. np.rint
    rounds half-to-even exactly like builtins.round on float64 (pinned
    by the codec tests) — a per-coefficient round() loop was the
    encoder's hottest line."""
    import numpy as np

    flat = (C @ block @ C.T).reshape(64)
    return np.rint(flat[_JPEG_ZIGZAG_IDX]).astype(np.int64)


def _jpeg_put_dc(bw, dc_codes, diff: int) -> None:
    """One DC difference: its size category's code, then the bits."""
    cat, bits = _jpeg_category(diff)
    code, ln = dc_codes[cat]
    bw.put(code, ln)
    if cat:
        bw.put(bits, cat)


def _jpeg_put_ac(bw, ac_codes, run: int, v: int) -> None:
    """One nonzero AC coefficient after ``run`` zeros: a ZRL per 16
    zeros, then the (run, size) symbol's code and the value bits."""
    while run > 15:
        code, ln = ac_codes[0xF0]  # ZRL
        bw.put(code, ln)
        run -= 16
    cat, bits = _jpeg_category(v)
    code, ln = ac_codes[(run << 4) | cat]
    bw.put(code, ln)
    bw.put(bits, cat)


def _jpeg_put_block(bw, prev_dc, ci, block, C, dc_codes, ac_codes):
    """Entropy-code ONE 8x8 block — forward DCT, zigzag-quantized ints
    (flat-1 quant tables), DC delta, AC ZRL/EOB run-length — for the
    baseline writer's MCU loop. ``prev_dc`` is the mutable
    per-component DC predictor list."""
    q = _jpeg_coefs(block, C).tolist()
    _jpeg_put_dc(bw, dc_codes, q[0] - prev_dc[ci])
    prev_dc[ci] = q[0]
    last_nz = max((i for i in range(1, 64) if q[i]), default=0)
    run = 0
    for i in range(1, last_nz + 1):
        if q[i] == 0:
            run += 1
            continue
        _jpeg_put_ac(bw, ac_codes, run, q[i])
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    import struct

    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _jpeg_head(sof: int, w: int, h: int, sampling) -> bytearray:
    """SOI, JFIF APP0, the all-ones DQT, the SOFn frame header (one
    ``(h, v)`` sampling pair per component, ids 1..n, all on quant
    table 0) and the two fixed DHT segments — the header every encoder
    here writes."""
    import struct

    frame = struct.pack(">BHHB", 8, h, w, len(sampling))
    for ci, (hs, vs) in enumerate(sampling):
        frame += bytes([ci + 1, (hs << 4) | vs, 0])
    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _jpeg_seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # all-ones DQT
    out += _jpeg_seg(sof, frame)
    out += _jpeg_seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += _jpeg_seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    return out


def _jpeg_sos(comp_ids, ss: int = 0, se: int = 63, ah: int = 0,
              al: int = 0) -> bytes:
    """SOS header: the scan's components (both on DC/AC table 0), its
    spectral band and successive-approximation bits; the defaults are
    the one full-band baseline scan."""
    pl = bytes([len(comp_ids)])
    for cid in comp_ids:
        pl += bytes([cid, 0x00])
    return _jpeg_seg(0xDA, pl + bytes([ss, se, (ah << 4) | al]))


def _jpeg_baseline(planes, w: int, h: int, sampling,
                   restart_interval: int = 0) -> bytes:
    """The one baseline (SOF0) JFIF writer. ``planes`` are 0..255 float
    component planes, each already at its own resolution under its
    ``(h, v)`` pair in ``sampling``; each pads by edge replication to
    whole MCUs (cropped on decode). One interleaved MCU loop emits, per
    MCU, every component's v x h blocks in raster order through
    ``_jpeg_put_block``. ``restart_interval=N`` writes a DRI segment and
    a byte-aligned RSTn marker every N MCUs with the DC predictors
    reset — the error-propagation bound real camera JPEGs ship with."""
    import struct

    import numpy as np

    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = [np.pad(p, ((0, mcuy * vs * 8 - p.shape[0]),
                         (0, mcux * hs * 8 - p.shape[1])), mode="edge") - 128.0
              for p, (hs, vs) in zip(planes, sampling)]
    C = _jpeg_dct_basis()
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    out = _jpeg_head(0xC0, w, h, sampling)
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    out += _jpeg_sos(range(1, len(planes) + 1))
    bw = _JpegBitWriter()
    prev_dc = [0] * len(planes)
    for n in range(mcux * mcuy):
        if restart_interval and n and n % restart_interval == 0:
            bw.restart_marker(n // restart_interval - 1)
            prev_dc = [0] * len(planes)
        my, mx = divmod(n, mcux)
        for ci, (hs, vs) in enumerate(sampling):
            for by in range(my * vs, my * vs + vs):
                for bx in range(mx * hs, mx * hs + hs):
                    _jpeg_put_block(
                        bw, prev_dc, ci,
                        padded[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8],
                        C, dc_codes, ac_codes)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _bt601(rgb, w: int, h: int) -> list:
    """Forward ITU-R BT.601 (JFIF) transform of row-major (r, g, b)
    pixels into full-resolution [Y, Cb, Cr] float planes: gray pixels
    (r=g=b=v) map to Y=v, Cb=Cr=128 EXACTLY, which is what keeps flat
    gray blocks closed-form through every color pipeline."""
    import numpy as np

    arr = np.asarray(rgb, dtype=np.float64).reshape(h, w, 3)
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    return [
        0.299 * r + 0.587 * g + 0.114 * b,                    # Y
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,        # Cb
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,        # Cr
    ]


def encode_jpeg_gray(pixels, w: int, h: int) -> bytes:
    """Baseline grayscale JFIF from a row-major 0..255 pixel sequence;
    non-multiple-of-8 dims pad by edge replication (cropped on decode)."""
    import numpy as np

    return _jpeg_baseline(
        [np.asarray(pixels, dtype=np.float64).reshape(h, w)], w, h,
        [(1, 1)])


def encode_jpeg_color(rgb, w: int, h: int,
                      restart_interval: int = 0) -> bytes:
    """Baseline YCbCr 4:4:4 color JFIF from a row-major sequence of
    (r, g, b) tuples (forward BT.601): all three components share the
    all-ones quant table and the fixed-length canonical huffman
    tables; the interleaved scan emits one (Y, Cb, Cr) block triple
    per 8x8 tile. ``restart_interval=N`` adds DRI/RSTn every N MCUs."""
    return _jpeg_baseline(_bt601(rgb, w, h), w, h, [(1, 1)] * 3,
                          restart_interval)


def encode_jpeg_color_420(rgb, w: int, h: int) -> bytes:
    """Baseline YCbCr 4:2:0 color JFIF — the subsampled layout
    real-world JPEGs ship: Y at full resolution (sampling 2x2),
    Cb/Cr at half resolution each way (1x1), chroma built by 2x2
    pixel averaging, interleaved MCUs of 4 Y + 1 Cb + 1 Cr blocks.
    Dims must be multiples of 16 (one full MCU grid — this is the
    deterministic-fixture encoder, not a general-purpose one; the
    DECODER handles arbitrary dims and sampling)."""
    if w % 16 or h % 16:
        raise ValueError("4:2:0 fixture encoder needs multiple-of-16 dims")
    y, cb, cr = _bt601(rgb, w, h)
    # 2x2 average subsample (the standard decimation)
    chroma = [c.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
              for c in (cb, cr)]
    return _jpeg_baseline([y, *chroma], w, h, [(2, 2), (1, 1), (1, 1)])


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.data, self.pos, self.acc, self.n = data, 0, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                elif 0xD0 <= nxt <= 0xD7:
                    raise ValueError(
                        "hit an RSTn mid-entropy-unit — restart-marker "
                        "cadence disagrees with the DRI interval")
                else:
                    raise ValueError(f"marker 0xFF{nxt:02x} inside scan")
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self, m: int) -> None:
        """Consume the byte-aligned RSTn marker the DRI cadence
        promises: discard partial bits, expect FFD0+(m%8)."""
        self.n = 0  # drop the encoder's 1-fill padding bits
        if (self.data[self.pos] != 0xFF
                or self.data[self.pos + 1] != 0xD0 + (m % 8)):
            raise ValueError(
                f"expected restart marker RST{m % 8}, found "
                f"0x{self.data[self.pos]:02x}{self.data[self.pos + 1]:02x}")
        self.pos += 2


_JPEG_HUFF_CACHE: dict = {}


def _jpeg_huff_table(bits, vals):
    # memoized on content: decoders rebuild the same standard tables
    # for every image (r13 profile: ~8% of decode time)
    key = (tuple(bits), tuple(vals))
    cached = _JPEG_HUFF_CACHE.get(key)
    if cached is not None:
        return cached
    out, code, k = {}, 0, 0
    for li in range(16):
        for _ in range(bits[li]):
            out[(li + 1, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    if len(_JPEG_HUFF_CACHE) < 256:  # bound worker memory
        _JPEG_HUFF_CACHE[key] = out
    return out


def _jpeg_huff_decode(br, table):
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _jpeg_extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def _decode_jpeg_planes(payload: bytes):
    """General decoder core: (w, h, [plane, ...]) with one
    full-resolution float numpy plane per component (level-shifted
    back to 0..255, NOT yet rounded/clamped). Supports 1 (grayscale)
    or 3 (YCbCr) components with ANY integer sampling factors whose
    max divides evenly (covers 4:4:4, 4:2:0, 4:2:2, 4:4:0) —
    subsampled chroma planes decode at their native resolution and
    upsample by pixel replication (the JFIF default). Handles BOTH
    baseline sequential (SOF0) and PROGRESSIVE (SOF2) streams — the
    progressive path implements spectral selection + successive
    approximation per ITU T.81 Annex G: interleaved/single-component
    DC scans, single-component AC band scans, EOBn end-of-band runs,
    and refinement scans (correction bits on already-nonzero
    coefficients, libjpeg-compatible semantics). Tables come from the
    stream's own DQT/DHT segments; a DRI segment arms the
    restart-marker cadence (byte-align + DC-predictor/EOB-run reset
    every ``ri`` MCUs or blocks). Arithmetic coding, hierarchical
    (SOF5+), and lossless modes raise — honest gates."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    C = _jpeg_dct_basis()
    pos, qt, huff, w, h, ri = 2, {}, {}, None, None, 0
    comps = []  # (comp_id, h_i, v_i, tq) in SOF order
    progressive = False
    prog = {}  # progressive coefficient store, filled at first SOS

    def _prog_init():
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        for _, hi, vi, _ in comps:
            if hi < 1 or vi < 1 or hmax % hi or vmax % vi:
                raise NotImplementedError(
                    "fractional chroma upsampling ratios")
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        coefs, grids = [], []
        for _, hi, vi, _ in comps:
            # coefficient planes sized to the interleaved (MCU-padded)
            # grid; non-interleaved scans only touch the real
            # ceil(comp_dim/8) sub-grid
            coefs.append(np.zeros((mcuy * vi, mcux * hi, 64),
                                  dtype=np.int64))
            grids.append((
                (h * vi + 8 * vmax - 1) // (8 * vmax),
                (w * hi + 8 * hmax - 1) // (8 * hmax),
            ))
        prog.update(hmax=hmax, vmax=vmax, mcux=mcux, mcuy=mcuy,
                    coefs=coefs, grids=grids)

    def _prog_scan(data, scan_pos):
        """Decode ONE progressive scan's entropy segment starting at
        ``scan_pos``; returns the new byte position (next marker)."""
        if not prog:
            _prog_init()
        ns = data[0]
        scan = []
        for si in range(ns):
            cs, tds = data[1 + 2 * si], data[2 + 2 * si]
            sof_idx = next(i for i, c in enumerate(comps) if c[0] == cs)
            scan.append((sof_idx, tds >> 4, tds & 0xF))
        ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
        ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 0xF
        if ss == 0 and se != 0:
            raise ValueError(
                "progressive scan may not mix DC and AC (Ss=0 needs Se=0)")
        if ss > 0 and ns != 1:
            raise ValueError("progressive AC scans are single-component")
        br = _JpegBitReader(payload[scan_pos:])
        coefs = prog["coefs"]
        dc_pred = [0] * len(comps)
        state = {"eobrun": 0, "units": 0}
        p1, m1 = 1 << al, -(1 << al)

        def refine_nz(blk, k):
            # correction bit for an already-nonzero coefficient: 1 =>
            # increase the magnitude by one unit at this bit position
            if br.bit() and not (int(blk[k]) & p1):
                blk[k] += p1 if blk[k] >= 0 else m1

        def dc_first(blk, sof_idx, td):
            cat = _jpeg_huff_decode(br, huff[(0, td)])
            dc_pred[sof_idx] += _jpeg_extend(br.bits(cat), cat)
            blk[0] = dc_pred[sof_idx] << al

        def dc_refine(blk):
            if br.bit():
                blk[0] = int(blk[0]) | p1

        def ac_first(blk, ac_t):
            if state["eobrun"]:
                state["eobrun"] -= 1
                return
            k = ss
            while k <= se:
                sym = _jpeg_huff_decode(br, ac_t)
                run, cat = sym >> 4, sym & 0xF
                if cat == 0:
                    if run == 15:
                        k += 16  # ZRL
                        continue
                    state["eobrun"] = (1 << run) - 1
                    if run:
                        state["eobrun"] += br.bits(run)
                    break
                k += run
                if k > se:
                    raise ValueError("AC coefficient overflow")
                blk[k] = _jpeg_extend(br.bits(cat), cat) << al
                k += 1

        def ac_refine(blk, ac_t):
            k = ss
            if state["eobrun"] == 0:
                while k <= se:
                    sym = _jpeg_huff_decode(br, ac_t)
                    run, cat = sym >> 4, sym & 0xF
                    if cat == 0 and run != 15:
                        state["eobrun"] = 1 << run
                        if run:
                            state["eobrun"] += br.bits(run)
                        break
                    if cat == 0:
                        val = 0  # ZRL: skip 16 zero-history slots
                    elif cat == 1:
                        val = p1 if br.bit() else m1
                    else:
                        raise ValueError("bad AC refinement symbol")
                    placed = False
                    while k <= se:
                        if blk[k]:
                            refine_nz(blk, k)
                            k += 1
                        else:
                            run -= 1
                            if run < 0:
                                placed = True
                                break
                            k += 1
                    if val:
                        if not placed:
                            raise ValueError("AC refinement overflow")
                        blk[k] = val
                    k += 1
            if state["eobrun"]:
                while k <= se:  # end-of-band correction-bit sweep
                    if blk[k]:
                        refine_nz(blk, k)
                    k += 1
                state["eobrun"] -= 1

        def unit_tick():
            # DRI cadence applies per MCU (interleaved) or per block
            # (single-component scans); EOB runs may not cross it
            if ri and state["units"] and state["units"] % ri == 0:
                br.restart(state["units"] // ri - 1)
                dc_pred[:] = [0] * len(comps)
                state["eobrun"] = 0
            state["units"] += 1

        if ss == 0 and ns > 1:  # interleaved DC scan over the MCU grid
            for my in range(prog["mcuy"]):
                for mx in range(prog["mcux"]):
                    unit_tick()
                    for sof_idx, td, _ in scan:
                        _, hi, vi, _ = comps[sof_idx]
                        for by in range(vi):
                            for bx in range(hi):
                                blk = coefs[sof_idx][my * vi + by,
                                                     mx * hi + bx]
                                if ah:
                                    dc_refine(blk)
                                else:
                                    dc_first(blk, sof_idx, td)
        else:  # single-component scan over the component's own grid
            sof_idx, td, ta = scan[0]
            bh_c, bw_c = prog["grids"][sof_idx]
            for byy in range(bh_c):
                for bxx in range(bw_c):
                    unit_tick()
                    blk = coefs[sof_idx][byy, bxx]
                    if ss == 0:
                        dc_refine(blk) if ah else dc_first(blk, sof_idx, td)
                    elif ah:
                        ac_refine(blk, huff[(1, ta)])
                    else:
                        ac_first(blk, huff[(1, ta)])
        return scan_pos + br.pos

    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        data = payload[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0xF
                if pq:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = list(data[i + 1:i + 65])
                i += 65
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            _prec, h, w, nf = struct.unpack_from(">BHHB", data, 0)
            if nf not in (1, 3):
                raise NotImplementedError(
                    "only 1- (grayscale) or 3-component (YCbCr) JPEG")
            for ci in range(nf):
                cid, samp, tq = data[6 + 3 * ci:9 + 3 * ci]
                comps.append((cid, samp >> 4, samp & 0xF, tq))
        elif marker in (0xC1, 0xC3, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "only baseline sequential (SOF0) and progressive (SOF2)")
        elif marker == 0xDD:
            ri = struct.unpack(">H", data[:2])[0]  # MCUs per restart
        elif marker == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1:i + 17])
                n = sum(bits)
                huff[(tc, th)] = _jpeg_huff_table(
                    bits, list(data[i + 17:i + 17 + n]))
                i += 17 + n
        elif marker == 0xDA and progressive:
            pos = _prog_scan(data, pos)
        elif marker == 0xDA:
            ns = data[0]
            if ns != len(comps):
                raise NotImplementedError("only single interleaved scan")
            if ns == 1:
                # T.81 A.2.2: a SINGLE-component scan is non-
                # interleaved — the MCU is one data unit and the grid
                # is ceil(w/8) x ceil(h/8) regardless of the SOF
                # sampling factors (e.g. jpegtran -grayscale keeps
                # Y's 2x2 factors; shaping the grid with them would
                # over-read the stream into the EOI marker)
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for _, hi, vi, _ in comps:
                if hi < 1 or vi < 1 or hmax % hi or vmax % vi:
                    raise NotImplementedError(
                        "fractional chroma upsampling ratios")
            # per-component entropy tables, in SCAN order mapped back
            # to SOF order
            scan = []
            for si in range(ns):
                cs, tds = data[1 + 2 * si], data[2 + 2 * si]
                sof_idx = next(i for i, c in enumerate(comps)
                               if c[0] == cs)
                scan.append((sof_idx, tds >> 4, tds & 0xF))
            br = _JpegBitReader(payload[pos:])
            qmats = []
            for _, _, _, tq in comps:
                q = np.zeros(64)
                for i in range(64):
                    q[_JPEG_ZIGZAG[i]] = qt[tq][i]
                qmats.append(q.reshape(8, 8))
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            # each component decodes at its NATIVE resolution
            planes = [np.zeros((mcuy * 8 * c[2], mcux * 8 * c[1]))
                      for c in comps]
            prev_dc = [0] * len(comps)

            def read_block(dc_t, ac_t, sof_idx):
                zz = [0] * 64
                cat = _jpeg_huff_decode(br, dc_t)
                prev_dc[sof_idx] += _jpeg_extend(br.bits(cat), cat)
                zz[0] = prev_dc[sof_idx]
                i = 1
                while i < 64:
                    sym = _jpeg_huff_decode(br, ac_t)
                    if sym == 0x00:  # EOB
                        break
                    run, cat = sym >> 4, sym & 0xF
                    if cat == 0:
                        if run != 15:
                            raise ValueError("bad AC symbol")
                        i += 16  # ZRL
                        continue
                    i += run
                    if i > 63:
                        raise ValueError("AC coefficient overflow")
                    zz[i] = _jpeg_extend(br.bits(cat), cat)
                    i += 1
                coef = np.zeros(64)
                coef[_JPEG_ZIGZAG_IDX] = zz  # vectorized un-zigzag
                return C.T @ (coef.reshape(8, 8) * qmats[sof_idx]) @ C

            mcu_n = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    # DRI cadence: every `ri` MCUs a byte-aligned RSTn
                    # arrives and the DC predictors reset (how real
                    # camera JPEGs bound error propagation)
                    if ri and mcu_n and mcu_n % ri == 0:
                        br.restart(mcu_n // ri - 1)
                        prev_dc[:] = [0] * len(comps)
                    mcu_n += 1
                    # interleaved MCU: each component contributes its
                    # h_i x v_i data units, row-major, in scan order
                    for sof_idx, td, ta in scan:
                        _, hi, vi, _ = comps[sof_idx]
                        dc_t, ac_t = huff[(0, td)], huff[(1, ta)]
                        for by in range(vi):
                            for bx in range(hi):
                                block = read_block(dc_t, ac_t, sof_idx)
                                y0 = (my * vi + by) * 8
                                x0 = (mx * hi + bx) * 8
                                planes[sof_idx][y0:y0 + 8,
                                                x0:x0 + 8] = block
            out = []
            for (c, p) in zip(comps, planes):
                _, hi, vi, _ = c
                if hi != hmax or vi != vmax:  # pixel-replication upsample
                    p = np.repeat(np.repeat(p, vmax // vi, axis=0),
                                  hmax // hi, axis=1)
                out.append(p[:h, :w] + 128.0)
            return w, h, out
    if progressive and prog:
        # all scans consumed (EOI): dequantize + IDCT the accumulated
        # coefficient planes (vectorized per component)
        zz = np.array(_JPEG_ZIGZAG)
        hmax, vmax = prog["hmax"], prog["vmax"]
        out = []
        for (comp, arr) in zip(comps, prog["coefs"]):
            _, hi, vi, tq = comp
            q = np.zeros(64)
            for i in range(64):
                q[_JPEG_ZIGZAG[i]] = qt[tq][i]
            nat = np.zeros(arr.shape, dtype=np.float64)
            nat[..., zz] = arr  # dezigzag
            m = nat.reshape(arr.shape[0], arr.shape[1], 8, 8) \
                * q.reshape(8, 8)
            px = np.einsum("ji,yxjk,kl->yxil", C, m, C)  # C.T @ M @ C
            plane = px.transpose(0, 2, 1, 3).reshape(
                arr.shape[0] * 8, arr.shape[1] * 8)
            if hi != hmax or vi != vmax:
                plane = np.repeat(np.repeat(plane, vmax // vi, axis=0),
                                  hmax // hi, axis=1)
            out.append(plane[:h, :w] + 128.0)
        return w, h, out
    raise ValueError("no SOS scan found")


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, int]:
    """(width, height, sum_gray) from a baseline grayscale JFIF."""
    w, h, planes = _decode_jpeg_planes(payload)
    if len(planes) != 1:
        raise ValueError("color JPEG — use decode_jpeg_color")
    return w, h, _jpeg_sums(planes)[0]


def _jpeg_sums(planes) -> tuple[int, int, int]:
    """Clamped (r, g, b) channel sums of decoded planes: the ITU-R
    BT.601 inverse transform for YCbCr, the one luminance sum thrice
    for grayscale."""
    import numpy as np

    if len(planes) == 1:
        s = int(np.clip(np.round(planes[0]), 0, 255).sum())
        return s, s, s
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    sr, sg, sb = (int(np.clip(np.round(ch), 0, 255).sum())
                  for ch in (r, g, b))
    return sr, sg, sb


def decode_jpeg_color(payload: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from a baseline YCbCr
    color JFIF (4:4:4 or subsampled; BT.601 inverse transform)."""
    w, h, planes = _decode_jpeg_planes(payload)
    if len(planes) != 3:
        raise ValueError("grayscale JPEG — use decode_jpeg_gray")
    return (w, h, *_jpeg_sums(planes))


def _jpeg_dims(media_id: int) -> tuple[int, int]:
    # exact multiples of 8 so every block is full (no pad-and-crop in
    # the oracle's closed form)
    return 8 * (2 + media_id % 5), 8 * (1 + media_id % 3)


def _jpeg420_dims(media_id: int) -> tuple[int, int]:
    # full 16x16 MCUs so the subsampled fixture needs no pad logic
    return 16 * (1 + media_id % 3), 16 * (1 + media_id % 2)


def _flat_block_jpeg(media_id: int, dims, encode, color: bool = False) -> bytes:
    """The deterministic flat-block test image every JPEG fixture
    encodes: each 8x8 block is the constant gray
    (media_id + 7*bx + 13*by) % 256. Flat blocks are DC-only through
    the DCT, and BT.601 maps gray r=g=b=v to Y=v, Cb=Cr=128 exactly (so
    2x2 chroma averaging changes nothing either) — every JPEG pipeline
    round-trips these EXACTLY and a SQL oracle states the sums in
    closed form. ``color`` hands ``encode`` (r, g, b) pixels."""
    import numpy as np

    w, h = dims(media_id)
    blocks = np.fromfunction(
        lambda by, bx: (media_id + 7 * bx + 13 * by) % 256,
        (h // 8, w // 8))
    img = np.kron(blocks, np.ones((8, 8)))
    return encode(np.repeat(img[:, :, None], 3, axis=2) if color else img,
                  w, h)


def encode_jpeg_gray_pattern(media_id: int) -> bytes:
    """The flat-block image as baseline grayscale."""
    return _flat_block_jpeg(media_id, _jpeg_dims, encode_jpeg_gray)


def encode_jpeg_color_pattern(media_id: int) -> bytes:
    """The flat-block image as baseline 4:4:4 color — the grayscale
    entry's oracle, exercised through the full 3-component pipeline
    (interleaved MCUs, per-component DC predictors, inverse color
    transform)."""
    return _flat_block_jpeg(media_id, _jpeg_dims, encode_jpeg_color,
                            color=True)


def encode_jpeg_420_pattern(media_id: int) -> bytes:
    """The flat-block image as baseline 4:2:0 color."""
    return _flat_block_jpeg(media_id, _jpeg420_dims, encode_jpeg_color_420,
                            color=True)


def encode_jpeg_prog_pattern(media_id: int) -> bytes:
    """The grayscale entry's image shipped as a PROGRESSIVE stream —
    every AC scan degenerates to pure EOBn runs and the
    successive-approximation passes reassemble the exact DC values, so
    the closed-form SQL oracle transfers unchanged."""
    return _flat_block_jpeg(media_id, _jpeg_dims, encode_jpeg_prog_gray)


def encode_jpeg_progressive(planes, w: int, h: int) -> bytes:
    """Progressive JFIF (SOF2) from 1 (grayscale) or 3 (pre-transformed
    Y/Cb/Cr) full-resolution 0..255 float planes, 4:4:4 sampling.

    Emits the classic successive-approximation scan script real
    encoders use (cf. libjpeg's default progressive script, public
    jcparam.c): an interleaved DC first scan at Al=1, a DC refinement
    scan, per-component AC first scans for the 1..5 and 6..63 spectral
    bands at Al=1, then the matching AC refinement scans down to Al=0.
    First-pass AC scans accumulate cross-block EOBn runs (the
    mechanism that makes progressive files small); refinement scans
    flush per block (EOB0 + buffered correction bits) — both forms are
    spec-valid and the decoder handles the general case. Because the
    final refinement pass lands on Al=0, the transported coefficients
    are bit-identical to the baseline encoding of the same pixels —
    progressive vs baseline decode of the same image MUST match
    exactly (pytest-pinned)."""
    import numpy as np

    ncomp = len(planes)
    C = _jpeg_dct_basis()
    bwb, bhb = (w + 7) // 8, (h + 7) // 8
    blocks = []
    for p in planes:
        padded = np.pad(
            np.asarray(p, dtype=np.float64).reshape(h, w),
            ((0, bhb * 8 - h), (0, bwb * 8 - w)), mode="edge") - 128.0
        arrc = np.zeros((bhb, bwb, 64), dtype=np.int64)
        for by in range(bhb):
            for bx in range(bwb):
                arrc[by, bx] = _jpeg_coefs(
                    padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], C)
        blocks.append(arrc)

    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    out = _jpeg_head(0xC2, w, h, [(1, 1)] * ncomp)

    def dc_first(al):
        bw = _JpegBitWriter()
        pred = [0] * ncomp
        for by in range(bhb):
            for bx in range(bwb):
                for ci in range(ncomp):
                    v = int(blocks[ci][by, bx, 0]) >> al  # arithmetic shift
                    _jpeg_put_dc(bw, dc_codes, v - pred[ci])
                    pred[ci] = v
        return bw.flush()

    def dc_refine(al):
        bw = _JpegBitWriter()
        for by in range(bhb):
            for bx in range(bwb):
                for ci in range(ncomp):
                    bw.put((int(blocks[ci][by, bx, 0]) >> al) & 1, 1)
        return bw.flush()

    def ac_first(ci, ss, se, al):
        bw = _JpegBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                code, ln = ac_codes[r << 4]
                bw.put(code, ln)
                if r:
                    bw.put(eobrun - (1 << r), r)
                eobrun = 0

        for by in range(bhb):
            for bx in range(bwb):
                blk = blocks[ci][by, bx]
                run = 0
                for k in range(ss, se + 1):
                    v = int(blk[k])
                    t = abs(v) >> al
                    if t == 0:
                        run += 1
                        continue
                    flush_eob()
                    _jpeg_put_ac(bw, ac_codes, run, t if v > 0 else -t)
                    run = 0
                if run > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        return bw.flush()

    def ac_refine(ci, ss, se, al):
        bw = _JpegBitWriter()
        for by in range(bhb):
            for bx in range(bwb):
                blk = blocks[ci][by, bx]
                ts = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                eobpos = max((ss + i for i, t in enumerate(ts) if t == 1),
                             default=ss - 1)
                run, brbits = 0, []
                for k in range(ss, se + 1):
                    t = ts[k - ss]
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eobpos:
                        code, ln = ac_codes[0xF0]
                        bw.put(code, ln)
                        run -= 16
                        for b in brbits:
                            bw.put(b, 1)
                        brbits = []
                    if t > 1:
                        # already significant: buffer the correction bit
                        brbits.append(t & 1)
                        continue
                    # newly significant at this pass
                    code, ln = ac_codes[(run << 4) | 1]
                    bw.put(code, ln)
                    bw.put(1 if int(blk[k]) > 0 else 0, 1)
                    for b in brbits:
                        bw.put(b, 1)
                    brbits = []
                    run = 0
                if run > 0 or brbits:
                    code, ln = ac_codes[0x00]  # per-block EOB0
                    bw.put(code, ln)
                    for b in brbits:
                        bw.put(b, 1)
        return bw.flush()

    comp_ids = [ci + 1 for ci in range(ncomp)]
    out += _jpeg_sos(comp_ids, 0, 0, 0, 1)
    out += dc_first(1)
    out += _jpeg_sos(comp_ids, 0, 0, 1, 0)
    out += dc_refine(0)
    for ci in range(ncomp):
        for (a, b) in ((1, 5), (6, 63)):
            out += _jpeg_sos([ci + 1], a, b, 0, 1)
            out += ac_first(ci, a, b, 1)
    for ci in range(ncomp):
        for (a, b) in ((1, 5), (6, 63)):
            out += _jpeg_sos([ci + 1], a, b, 1, 0)
            out += ac_refine(ci, a, b, 0)
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_prog_gray(pixels, w: int, h: int) -> bytes:
    """Progressive grayscale JFIF from a row-major 0..255 sequence."""
    import numpy as np

    return encode_jpeg_progressive(
        [np.asarray(pixels, dtype=np.float64).reshape(h, w)], w, h)


def encode_jpeg_prog_color(rgb, w: int, h: int) -> bytes:
    """Progressive 4:4:4 color JFIF from row-major (r, g, b) tuples
    (forward BT.601, the baseline color encoders' transform)."""
    return encode_jpeg_progressive(_bt601(rgb, w, h), w, h)


# ------------------------------------------------------------------
# GIF (87a, 256-gray palette) — REAL pure-Python codec. GIF's one
# algorithm is LZW with variable code width (9->12 bits, LSB-first
# bit packing — the OPPOSITE bit order of JPEG), CLEAR/EOI control
# codes, and 255-byte sub-block framing. Both sides are implemented
# from the public GIF87a spec; the decoder handles dictionary growth
# to 4096, mid-stream CLEAR resets, deferred-clear encoders, and
# multi-sub-block data. Interlacing, local palettes, transparency
# (89a extensions), and animation stay honest gates.
# ------------------------------------------------------------------


def encode_gif_gray(pixels, w: int, h: int) -> bytes:
    """GIF87a bytes from row-major 0..255 gray values: global 256-gray
    palette (index == luminance), one image block, real LZW with
    growing code width and CLEAR emission on table overflow."""
    import struct

    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # GCT present, 8 bpp, 256 entries
    for v in range(256):
        out += bytes([v, v, v])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    min_code = 8
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out.append(min_code)

    acc, nbits, data = 0, 0, bytearray()

    def put(code, width):
        nonlocal acc, nbits
        acc |= code << nbits  # LSB-first packing
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # width growth is keyed on the NEXT-CODE-TO-ASSIGN counter (rc,
    # giflib's RunningCode), checked AFTER each write so it affects
    # the following code — the exact giflib convention. Keying it on
    # table inserts instead desyncs at the final flush code (which
    # has no insert while the decoder still appends an entry).
    table = {(i,): i for i in range(256)}
    rc, width = eoi + 1, min_code + 1

    def emit(code):
        nonlocal width
        put(code, width)
        if rc >= (1 << width) and width < 12:
            width += 1

    emit(clear)
    seq = ()
    for px in pixels:
        k = int(px)
        if not 0 <= k <= 255:
            raise ValueError("gray value out of range")
        cand = seq + (k,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if rc >= 4095:  # table full: clear (never defer) and restart
            emit(clear)
            table = {(i,): i for i in range(256)}
            rc, width = eoi + 1, min_code + 1
        else:
            table[cand] = rc
            rc += 1
        seq = (k,)
    if seq:
        emit(table[seq])
    emit(eoi)
    if nbits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):  # 255-byte sub-block framing
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif_gray(payload: bytes) -> tuple[int, int, int]:
    """(width, height, sum_gray) from a GIF87a/89a with a global
    grayscale palette: real LZW decode (variable width, CLEAR resets,
    deferred clears, sub-block reassembly). Local palettes, interlace,
    and non-gray global palettes raise — honest gates."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    if not flags & 0x80:
        raise NotImplementedError("GIF without a global palette")
    gct_n = 2 << (flags & 0x07)
    pos = 13
    palette = payload[pos:pos + 3 * gct_n]
    gray = [palette[3 * i] for i in range(gct_n)]
    for i in range(gct_n):
        if not palette[3 * i] == palette[3 * i + 1] == palette[3 * i + 2]:
            raise NotImplementedError("only grayscale palettes supported")
    pos += 3 * gct_n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        ix, iy, iw, ih = struct.unpack_from("<HHHH", payload, pos + 1)
        lflags = payload[pos + 9]
        if lflags & 0x80:
            raise NotImplementedError("local palettes")
        if lflags & 0x40:
            raise NotImplementedError("interlaced GIF")
        if (ix, iy, iw, ih) != (0, 0, w, h):
            raise NotImplementedError("partial-frame images")
        pos += 10
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            n = payload[pos]
            data += payload[pos + 1:pos + 1 + n]
            pos += 1 + n
        pos += 1
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        acc = nbits = bit_pos = 0

        def get(width):
            nonlocal acc, nbits, bit_pos
            while nbits < width:
                if bit_pos >= len(data):
                    raise ValueError("LZW stream truncated")
                acc |= data[bit_pos] << nbits
                bit_pos += 1
                nbits += 8
            v = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            return v

        base = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
        table = list(base)
        rc, width = eoi + 1, min_code + 1
        out_px, prev = [], None
        while True:
            code = get(width)
            # giflib convention: the code counter advances on EVERY
            # code read (clear/EOI included) and width growth follows
            # the counter, not the table — that keeps the final
            # flush-code edge (no encoder insert) in sync
            rc += 1
            if rc > (1 << width) and width < 12:
                width += 1
            if code == clear:
                table = list(base)
                rc, width, prev = eoi + 1, min_code + 1, None
                continue
            if code == eoi:
                break
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # deferred-clear streams stop adding
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt LZW code")
            out_px += entry
            prev = entry
        if len(out_px) != w * h:
            raise ValueError("GIF pixel count mismatch")
        return w, h, sum(gray[i] for i in out_px)
    raise ValueError("no image block in GIF")


def _gray_pixels(media_id: int) -> tuple[list[int], int, int]:
    """(pixels, w, h): the BMP/PNG deterministic dims with a per-PIXEL
    gray pattern (media_id + 7x + 13y) % 256 — the lossless GIF and
    TIFF fixtures, whose SQL oracle states the exact sum."""
    w, h = _bmp_dims(media_id)
    return ([(media_id + 7 * x + 13 * y) % 256
             for y in range(h) for x in range(w)], w, h)


def encode_gif_gray_pattern(media_id: int) -> bytes:
    return encode_gif_gray(*_gray_pixels(media_id))


# ------------------------------------------------------------------
# TIFF (baseline grayscale, Compression=1 none / 5 LZW) — REAL
# pure-Python codec from the public TIFF 6.0 spec. TIFF's LZW is the
# OTHER LZW dialect: MSB-first bit packing (GIF is LSB-first) and the
# "early change" off-by-one — code width grows one code EARLIER than
# GIF (when the next code to assign reaches 2^w - 1, because the
# decoder must widen before reading the code that FILLS the width).
# Both compressions encode AND decode; palette/RGB/tiled/planar stay
# honest gates.
# ------------------------------------------------------------------


def encode_tiff_gray(pixels, w: int, h: int, lzw: bool = True) -> bytes:
    """Little-endian TIFF 6.0, 8-bit grayscale, one strip."""
    import struct

    data = bytes(int(p) & 0xFF for p in pixels)
    if lzw:
        out_bits = bytearray()
        acc = nbits = 0

        def put(code, width):
            nonlocal acc, nbits
            acc = (acc << width) | code
            nbits += width
            while nbits >= 8:
                nbits -= 8
                out_bits.append((acc >> nbits) & 0xFF)

        table = {bytes([i]): i for i in range(256)}
        rc, width = 258, 9
        put(256, width)  # ClearCode first per spec
        seq = b""
        for b in data:
            cand = seq + bytes([b])
            if cand in table:
                seq = cand
                continue
            put(table[seq], width)
            if rc >= 4094:  # table nearly full: clear and restart
                put(256, width)
                table = {bytes([i]): i for i in range(256)}
                rc, width = 258, 9
            else:
                table[cand] = rc
                rc += 1
                if rc == (1 << width) - 1:  # TIFF early change
                    width += 1
            seq = bytes([b])
        if seq:
            put(table[seq], width)
        put(257, width)  # EOI
        if nbits:
            out_bits.append((acc << (8 - nbits)) & 0xFF)
        strip = bytes(out_bits)
    else:
        strip = data

    def entry(tag, typ, count, value):
        return struct.pack("<HHI4s", tag, typ, count,
                           struct.pack("<I", value))

    # header(8) + IFD(2 + 9*12 + 4) then strip data
    ifd_off = 8
    n_entries = 9
    strip_off = ifd_off + 2 + n_entries * 12 + 4
    ifd = struct.pack("<H", n_entries)
    ifd += entry(256, 4, 1, w)                     # ImageWidth LONG
    ifd += entry(257, 4, 1, h)                     # ImageLength
    ifd += entry(258, 3, 1, 8)                     # BitsPerSample SHORT
    ifd += entry(259, 3, 1, 5 if lzw else 1)       # Compression
    ifd += entry(262, 3, 1, 1)                     # Photometric: BlackIsZero
    ifd += entry(273, 4, 1, strip_off)             # StripOffsets
    ifd += entry(277, 3, 1, 1)                     # SamplesPerPixel
    ifd += entry(278, 4, 1, h)                     # RowsPerStrip
    ifd += entry(279, 4, 1, len(strip))            # StripByteCounts
    ifd += struct.pack("<I", 0)                    # next IFD = none
    return b"II*\x00" + struct.pack("<I", ifd_off) + ifd + strip


def decode_tiff_gray(payload: bytes) -> tuple[int, int, int]:
    """(width, height, sum_gray) from a little-endian 8-bit grayscale
    TIFF — Compression 1 (none) or 5 (LZW, MSB-first with the TIFF
    early-change rule), single or multiple strips. Big-endian files,
    other photometrics/bit depths, tiles, and predictors raise."""
    import struct

    if payload[:4] == b"MM\x00*":
        raise NotImplementedError("big-endian TIFF")
    if payload[:4] != b"II*\x00":
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    (n,) = struct.unpack_from("<H", payload, ifd_off)
    tags = {}
    for i in range(n):
        tag, typ, count, raw = struct.unpack_from(
            "<HHI4s", payload, ifd_off + 2 + i * 12)
        sz = 2 if typ == 3 else 1 if typ in (1, 2) else 4
        fmt = "<H" if typ == 3 else "<B" if typ in (1, 2) else "<I"
        if sz * count <= 4:
            # TIFF 6.0 p.15: a value whose total size fits in 4 bytes
            # lives INLINE in the value field (left-justified) — e.g.
            # StripByteCounts as SHORT count=2; dereferencing it as an
            # offset would read garbage strip lengths (audit r8)
            tags[tag] = [struct.unpack_from(fmt, raw, j * sz)[0]
                         for j in range(count)]
        else:
            (off,) = struct.unpack("<I", raw)
            tags[tag] = [struct.unpack_from(fmt, payload, off + j * sz)[0]
                         for j in range(count)]
    w, h = tags[256][0], tags[257][0]
    if tags.get(258, [8])[0] != 8 or tags.get(277, [1])[0] != 1:
        raise NotImplementedError("only 8-bit single-sample TIFF")
    if tags.get(262, [1])[0] not in (0, 1):
        raise NotImplementedError("only grayscale photometric")
    if tags.get(317, [1])[0] != 1:
        raise NotImplementedError("TIFF predictor")
    comp = tags.get(259, [1])[0]
    strips = []
    for off, cnt in zip(tags[273], tags[279]):
        strips.append(payload[off:off + cnt])
    if comp == 1:
        data = b"".join(strips)
    elif comp == 5:
        data = b"".join(_tiff_lzw_decode(s) for s in strips)
    else:
        raise NotImplementedError(f"TIFF compression {comp}")
    if len(data) < w * h:
        raise ValueError("TIFF strip data truncated")
    return w, h, sum(data[:w * h])


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-dialect LZW: MSB-first codes, 9->12 bits, EARLY CHANGE
    (width grows when the decoder's next-to-assign code reaches
    2^w - 1 — one earlier than GIF)."""
    pos = nbits = acc = 0

    def get(width):
        nonlocal pos, nbits, acc
        while nbits < width:
            if pos >= len(data):
                return 257  # ran off the end: treat as EOI
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        v = (acc >> nbits) & ((1 << width) - 1)
        return v

    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width, prev = 9, None
    out = bytearray()
    while True:
        code = get(width)
        if code == 256:  # Clear
            table = list(base)
            width, prev = 9, None
            continue
        if code == 257:  # EOI
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt TIFF LZW code")
        # early change, decoder side: the table lags the encoder by
        # one entry, so widen at capacity MINUS TWO (libtiff's
        # free_ent == maxcode-1, e.g. 510 at 9 bits) — one code
        # earlier than the GIF dialect
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
        out += entry
        prev = entry
    return bytes(out)


def encode_tiff_gray_pattern(media_id: int) -> bytes:
    """The GIF entry's image in a TIFF container — LZW for even ids,
    uncompressed for odd ids, so ONE oracle covers both compression
    paths."""
    return encode_tiff_gray(*_gray_pixels(media_id),
                            lzw=(media_id % 2 == 0))


# ------------------------------------------------------------------
# The codec table: one row per format kind, read by the three
# Arrow-batched entry points below — synth (encode into the media
# schema), decode (payload -> features) and the fused round trip.
# Executors look the row up by kind on import, so no codec is pickled
# with the plan.
# ------------------------------------------------------------------


class _Codec(NamedTuple):
    media_type: str
    encode: Callable[[int], bytes]      # media_id -> payload
    schema: StructType                  # decode output, media_id first
    decode: Callable[[bytes], tuple]    # payload -> the other columns


def _wav_payload(media_id: int) -> bytes:
    return encode_wav_pcm16(_wav_samples(media_id))


_CODECS = {
    "wav": _Codec("audio", _wav_payload, WAV_FEATURE_SCHEMA, _wav_features),
    "wav_spectral": _Codec("audio", _wav_payload, WAV_SPECTRAL_SCHEMA,
                           _wav_spectral),
    "bmp": _Codec("image", encode_bmp24, RGB_FEATURE_SCHEMA, decode_bmp24),
    "png": _Codec("image", encode_png_rgb8, RGB_FEATURE_SCHEMA,
                  decode_png_rgb8),
    "jpeg": _Codec("image", encode_jpeg_gray_pattern, GRAY_FEATURE_SCHEMA,
                   decode_jpeg_gray),
    "jpeg_color": _Codec("image", encode_jpeg_color_pattern,
                         RGB_FEATURE_SCHEMA, decode_jpeg_color),
    "jpeg420": _Codec("image", encode_jpeg_420_pattern, RGB_FEATURE_SCHEMA,
                      decode_jpeg_color),
    "jpeg_prog": _Codec("image", encode_jpeg_prog_pattern,
                        GRAY_FEATURE_SCHEMA, decode_jpeg_gray),
    "gif": _Codec("image", encode_gif_gray_pattern, GRAY_FEATURE_SCHEMA,
                  decode_gif_gray),
    "tiff": _Codec("image", encode_tiff_gray_pattern, GRAY_FEATURE_SCHEMA,
                   decode_tiff_gray),
}


def _codec(kind: str) -> _Codec:
    if kind not in _CODECS:
        raise ValueError(f"unsupported media kind {kind!r}; "
                         f"one of {sorted(_CODECS)}")
    return _CODECS[kind]


def _media_ids(df: DataFrame, id_col: str) -> DataFrame:
    return df.select(F.col(id_col).cast("long").alias("media_id"))


def synth_media(df: DataFrame, kind: str, id_col: str = "doc_id") -> DataFrame:
    """Lift an id column into the media schema with REAL ``kind``
    payloads, encoded executor-side. Deterministic: each payload is a
    pure function of its id."""
    media_type = _codec(kind).media_type

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gobblin_spark.functions.multimodal import _CODECS

        encode = _CODECS[kind].encode
        for pdf in batches:
            payloads = [encode(int(m)) for m in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "media_type": media_type,
                    "payload": payloads,
                    "byte_len": pd.Series(
                        [len(p) for p in payloads], dtype="int64"),
                    "sha256": [hashlib.sha256(p).hexdigest()
                               for p in payloads],
                }
            )

    return _media_ids(df, id_col).mapInPandas(run, MEDIA_SCHEMA)


def decode_media(df: DataFrame, kind: str) -> DataFrame:
    """REAL ``kind`` decode of a media frame's payloads, emitting the
    codec's exact integer features (the oracle-checkable contract)."""
    schema = _codec(kind).schema
    cols = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gobblin_spark.functions.multimodal import _CODECS

        decode = _CODECS[kind].decode
        for pdf in batches:
            out = [(int(m), *decode(bytes(p)))
                   for m, p in zip(pdf["media_id"], pdf["payload"])]
            yield pd.DataFrame(out, columns=cols).astype("int64")

    return df.mapInPandas(run, schema)


def _codec_width(ids: DataFrame) -> int | None:
    """Partition width for a ~ms-per-row Python codec stage.

    ``ensure_parallelism``'s 64 KiB-per-task scan bound is calibrated
    for column-expression work; a pure-Python media codec costs ~1000x
    more per input byte, so it saturates the cluster at a few hundred
    bytes of ids per task. Width derives from the optimizer's input
    size estimate (scale-adaptive, never a local constant), capped at
    cluster parallelism. When the estimate says the scan already
    yields >= parallelism file splits (the 100 TB case) no repartition
    is applied at all — scan pruning/pushdown stay intact and the ids
    are not shuffled. Returns None when the input should be left as-is.
    """
    spark = ids.sparkSession
    full = spark.sparkContext.defaultParallelism
    try:
        size = int(ids._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        maxpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        return None
    if maxpb > 0 and size // maxpb >= full:
        return None
    target = min(full, max(1, size // 512))
    return target if target > 1 else None


def media_roundtrip_features(df: DataFrame, kind: str,
                             id_col: str = "doc_id") -> DataFrame:
    """Fused synth+decode media round trip in ONE Python crossing.

    Computes exactly ``decode_media(synth_media(df, kind), kind)``
    (pinned by a value-identity test for every kind), but as a single
    mapInPandas: the chained two-operator form runs TWO Python
    operators per task — the encoded payload crosses the Arrow
    boundary twice (Python -> JVM -> Python) and every core runs two
    concurrent Python workers (2x oversubscription). Fusing halves the
    worker count, drops both payload crossings, and lets the codec
    stage take codec-appropriate width (``_codec_width``). A/B at sf0.1:
    jpeg_color 1.01 -> 0.67 s. Only worth it when
    the CODEC DOMINATES: the cheap numpy WAV codec measured FASTER
    composed (0.30 s) than fused (0.35 s) — two light workers pipeline
    across cores — so the wav query keeps the composition.
    """
    schema = _codec(kind).schema
    cols = schema.fieldNames()
    ids = _media_ids(df, id_col)
    width = _codec_width(ids)
    if width:
        ids = ids.repartition(width)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gobblin_spark.functions.multimodal import _CODECS

        codec = _CODECS[kind]
        for pdf in batches:
            out = [(m, *codec.decode(codec.encode(m)))
                   for m in map(int, pdf["media_id"])]
            yield pd.DataFrame(out, columns=cols).astype("int64")

    return ids.mapInPandas(run, schema)
