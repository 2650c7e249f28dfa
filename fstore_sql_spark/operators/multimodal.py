"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed through Arrow-batched ``mapInPandas`` pipelines.

Decode is REAL for the codec-free container formats — uncompressed 24-bit
BMP, binary PPM (P6), and PCM16 WAV are parsed by pure-Python decoders
below (header + raster/sample extraction, no external libs), and
``decode_image`` / ``decode_audio`` run them executor-side over Arrow
batches with oracle-checked results (channel means, row hashes, RMS).
Compressed formats (JPEG/MP3/H.264) still need real codec libs; on a
cluster with PIL/libav you swap the decoder callables, nothing else.

Scale design: media bytes never pass through the driver; ``mapInPandas``
streams Arrow record batches executor-side.  ``spark.sql.files.
maxPartitionBytes`` (and per-file row-group sizing at write time) bound the
per-task memory for large blobs; feature extraction emits fixed-width
vectors so downstream shuffles are narrow.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fstore_sql_spark.queries import load, query

# Canonical media-table schema: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), nullable=False),
        StructField("kind", StringType(), nullable=False),  # image|audio|video
        StructField("payload", BinaryType(), nullable=False),
        StructField("mime", StringType(), nullable=True),
        StructField("width", LongType(), nullable=True),
        StructField("height", LongType(), nullable=True),
        StructField("duration_ms", LongType(), nullable=True),
    ]
)

FEATURE_DIM = 4

# n_bytes/feature nullable (r10, adversarial fixture): a NULL payload —
# e.g. media synthesized from a NULL text column — must surface as a NULL
# feature row, not crash the Arrow batch ("len(None)"), matching what any
# SQL oracle computes for NULL input.
FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), nullable=False),
        StructField("n_bytes", LongType(), nullable=True),
        StructField("feature", ArrayType(DoubleType()), nullable=True),
    ]
)


def fake_decode(payload: bytes) -> bytes:
    """Deterministic stand-in for a real codec (none in this container):
    identity.  A real deployment swaps in PIL/libav here."""
    return payload


def _feature_vector(payload: bytes) -> list[float]:
    """Deterministic FEATURE_DIM-dim embedding of a blob: md5(payload‖i)
    scaled to [0,1).  Stands in for a CNN/CLIP feature extractor; exactly
    reproducible in SQL, which gives the Pandas-UDF path a true oracle."""
    out = []
    for i in range(FEATURE_DIM):
        h = hashlib.md5(payload + str(i).encode()).hexdigest()
        out.append(int(h[:8], 16) / 4294967296.0)
    return out


def extract_features(media: DataFrame, decoder=fake_decode) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, fixed-width
    feature vectors out.  The real-codec variant only changes ``decoder``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # NULL payloads pass through as NULL rows: bytes-typed
            # pipelines meet NULLs whenever media is joined/derived from
            # nullable columns, and a crash here kills the whole batch.
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(
                        lambda p: None if p is None else len(p)
                    ),
                    "feature": payloads.map(
                        lambda p: None
                        if p is None
                        else _feature_vector(decoder(bytes(p)))
                    ),
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


# --------------------------------------------------------------------- #
# Pure-Python codecs (no external libs): uncompressed 24-bit BMP, binary
# PPM (P6), PCM16 WAV.  Encoders exist so pipelines (and the oracle-gated
# queries below) can synthesize real files; decoders do full header
# validation + raster/sample extraction.
# --------------------------------------------------------------------- #


def encode_bmp(rgb: bytes, width: int, height: int) -> bytes:
    """Minimal BITMAPINFOHEADER 24-bit BMP: bottom-up rows, BGR pixel
    order, rows padded to 4-byte multiples — the format's real layout
    quirks, which the decoder must undo exactly."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    stride = (width * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - width * 3)
    rows = []
    for y in range(height - 1, -1, -1):
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        # RGB → BGR per pixel
        bgr = bytearray(row)
        bgr[0::3], bgr[2::3] = row[2::3], row[0::3]
        rows.append(bytes(bgr) + pad)
    raster = b"".join(rows)
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(raster), 0, 0, 54,
        40, width, height, 1, 24, 0, len(raster), 2835, 2835, 0, 0,
    )
    return header + raster


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a 24-bit uncompressed BMP → (width, height, top-down RGB)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    out = bytearray(width * height * 3)
    for y in range(height):
        src_y = height - 1 - y if bottom_up else y
        row = payload[data_offset + src_y * stride :][: width * 3]
        # BGR → RGB per pixel
        rgb = bytearray(row)
        rgb[0::3], rgb[2::3] = row[2::3], row[0::3]
        out[y * width * 3 : (y + 1) * width * 3] = rgb
    return width, height, bytes(out)


def encode_ppm(rgb: bytes, width: int, height: int) -> bytes:
    """Binary PPM (P6), maxval 255 — top-down RGB, no padding."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse binary PPM (P6) → (width, height, top-down RGB)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comments not emitted by our encoder; reject rather than mis-parse)
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            raise ValueError("PPM comments unsupported")
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    return width, height, payload[i : i + width * height * 3]


def encode_wav(samples, sample_rate: int = 8000, n_channels: int = 1) -> bytes:
    """PCM16 little-endian WAV (RIFF/fmt/data)."""
    import array

    data = array.array("h", samples).tobytes()
    block_align = 2 * n_channels
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH",
            b"fmt ", 16, 1, n_channels, sample_rate,
            sample_rate * block_align, block_align, 16,
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Parse PCM16 WAV → (sample_rate, n_channels, samples).  Walks the
    RIFF chunk list properly (fmt/data may be preceded by LIST etc.)."""
    import array

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV (fmt={fmt}, bits={bits})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = array.array("h")
    samples.frombytes(data[: len(data) // 2 * 2])
    return rate, channels, samples.tolist()


def sniff_decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Dispatch on magic bytes: BMP or PPM → (width, height, RGB)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise ValueError("unknown image format (supported: BMP, P6 PPM)")


IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), nullable=False),
        StructField("width", LongType(), nullable=False),
        StructField("height", LongType(), nullable=False),
        # exact per-channel byte sums: mergeable across tiles/batches (a
        # downstream agg can combine them losslessly), and integer-exact
        # for the DuckDB oracle — no float-accumulation ambiguity
        StructField("sum_r", LongType(), nullable=False),
        StructField("sum_g", LongType(), nullable=False),
        StructField("sum_b", LongType(), nullable=False),
        StructField("mean_r", DoubleType(), nullable=False),
        StructField("mean_g", DoubleType(), nullable=False),
        StructField("mean_b", DoubleType(), nullable=False),
        StructField("first_row_md5", StringType(), nullable=False),
    ]
)


def decode_image(media: DataFrame) -> DataFrame:
    """REAL image decode (BMP/PPM) through mapInPandas: per image, the
    parsed dimensions, per-channel means and the md5 of the top row's RGB
    bytes — features that expose every decoder bug class (BGR swap flips
    the channel means, bottom-up row order or stride padding breaks the
    row hash, header mis-parse breaks the dims).  Compressed formats need
    real codec libs — swap the decoder on a cluster that has them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in IMAGE_DECODE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, rgb = sniff_decode_image(bytes(payload))
                n = w * h
                sr, sg, sb = sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3])
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(sr)
                out["sum_g"].append(sg)
                out["sum_b"].append(sb)
                out["mean_r"].append(sr / n)
                out["mean_g"].append(sg / n)
                out["mean_b"].append(sb / n)
                out["first_row_md5"].append(hashlib.md5(rgb[: w * 3]).hexdigest())
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, schema=IMAGE_DECODE_SCHEMA
    )


AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), nullable=False),
        StructField("sample_rate", LongType(), nullable=False),
        StructField("n_channels", LongType(), nullable=False),
        StructField("n_samples", LongType(), nullable=False),
        # exact mergeable sums (see IMAGE_DECODE_SCHEMA note)
        StructField("sum_samples", LongType(), nullable=False),
        StructField("sum_squares", LongType(), nullable=False),
        StructField("mean_sample", DoubleType(), nullable=False),
        StructField("rms", DoubleType(), nullable=False),
    ]
)


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL audio decode (PCM16 WAV) through mapInPandas: parsed rate /
    channels / sample count plus mean and RMS of the signed samples."""
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in AUDIO_DECODE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, channels, samples = decode_wav(bytes(payload))
                n = max(len(samples), 1)
                ssum = sum(samples)
                ssq = sum(s * s for s in samples)
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(channels)
                out["n_samples"].append(len(samples))
                out["sum_samples"].append(ssum)
                out["sum_squares"].append(ssq)
                out["mean_sample"].append(ssum / n)
                out["rms"].append(math.sqrt(ssq / n))
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_DECODE_SCHEMA
    )


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one output row per sampled timestamp.
    The decode itself is stubbed; the plumbing (posexplode of the sample
    grid, partition-preserving) is real."""
    n_frames = F.floor(F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast(
        "long"
    )
    grid = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", F.posexplode(grid).alias("frame_idx", "ts_offset"))
        .select("media_id", "frame_idx", (F.col("ts_offset") * every_ms).alias("ts_ms"))
    )


@query(
    "multimodal_features",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(('0x' || substr(md5(text || '0'), 1, 8)) AS BIGINT) / 4294967296.0 AS f0,
           CAST(('0x' || substr(md5(text || '1'), 1, 8)) AS BIGINT) / 4294967296.0 AS f1,
           CAST(('0x' || substr(md5(text || '2'), 1, 8)) AS BIGINT) / 4294967296.0 AS f2,
           CAST(('0x' || substr(md5(text || '3'), 1, 8)) AS BIGINT) / 4294967296.0 AS f3
    FROM documents WHERE doc_id < 100
    """,
)
def multimodal_features(spark, sf_dir):
    """The mapInPandas feature-extraction path verified against a SQL
    oracle: document text bytes stand in for media payloads (the container
    has no codecs), the md5-derived feature is bit-reproducible in SQL."""
    media = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("text").cast("binary").alias("payload"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        )
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(FEATURE_DIM)],
    )


@query(
    "multimodal_frame_grid",
    """
    SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(ts_ms) AS BIGINT) AS last_ts_ms
    FROM (
      SELECT doc_id AS media_id,
             unnest(generate_series(0,
                 greatest((n_chars * 10) // 1000 - 1, 0))) * 1000 AS ts_ms
      FROM documents WHERE doc_id < 50)
    GROUP BY 1
    """,
)
def multimodal_frame_grid(spark, sf_dir):
    """The video frame-sampling plan verified end-to-end: documents stand
    in as media (duration_ms = n_chars×10), ``frame_sample`` expands the
    per-row sample grid with posexplode (partition-preserving, no
    shuffle), and the per-media frame counts have an exact
    generate_series oracle."""
    media = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("video").alias("kind"),
            F.col("text").cast("binary").alias("payload"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        )
    )
    frames = frame_sample(media, every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("ts_ms").cast("long").alias("last_ts_ms"),
    )


@query(
    "multimodal_bmp_decode",
    """
    WITH d AS (
      SELECT doc_id AS media_id, text,
             8 AS w, least((n_chars // 3) // 8, 16) AS h
      FROM documents
      WHERE doc_id < 64 AND (n_chars // 3) // 8 >= 1
        AND strlen(text) = length(text)
    ), px AS (
      SELECT media_id, w, h, text, unnest(range(0, w * h)) AS p FROM d
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(ascii(substr(text, CAST(p * 3 + 1 AS INT), 1))) AS BIGINT) AS sum_r,
           CAST(SUM(ascii(substr(text, CAST(p * 3 + 2 AS INT), 1))) AS BIGINT) AS sum_g,
           CAST(SUM(ascii(substr(text, CAST(p * 3 + 3 AS INT), 1))) AS BIGINT) AS sum_b,
           md5(substr(MAX(text), 1, 24)) AS first_row_md5
    FROM px GROUP BY media_id
    """,
)
def multimodal_bmp_decode(spark, sf_dir):
    """REAL BMP round trip, oracle-gated: document text bytes become 8×h
    RGB rasters, encoded to genuine bottom-up padded BGR BMP files
    executor-side, then parsed back by ``decode_image``.  The oracle
    computes the channel sums and top-row hash directly from the source
    bytes — a BGR-swap, row-order, stride, or header bug each breaks a
    different output column.  Cites the brief's multimodal contract;
    replaces the round-1 NotImplementedError stub."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        # the oracle addresses bytes via character-based substr/ascii, so
        # restrict to ASCII rows (byte offset == char offset) EXPLICITLY —
        # same predicate on both sides rather than an implicit assumption
        .filter(F.octet_length("text") == F.length("text"))
        .select(F.col("doc_id").alias("media_id"), "text", "n_chars")
        .withColumn("h", F.least((F.col("n_chars") / 3).cast("long") / 8, F.lit(16)).cast("long"))
        .filter(F.col("h") >= 1)
    )

    enc_schema = StructType(
        [
            StructField("media_id", LongType(), nullable=False),
            StructField("kind", StringType(), nullable=False),
            StructField("payload", BinaryType(), nullable=False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "kind": [], "payload": []}
            for mid, text, h in zip(pdf["media_id"], pdf["text"], pdf["h"]):
                w, h = 8, int(h)
                rgb = text.encode()[: w * h * 3]
                out["media_id"].append(mid)
                out["kind"].append("image")
                out["payload"].append(encode_bmp(rgb, w, h))
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, schema=enc_schema)
    return decode_image(media).select(
        "media_id", "width", "height", "sum_r", "sum_g", "sum_b", "first_row_md5"
    )


@query(
    "multimodal_wav_decode",
    """
    WITH d AS (
      SELECT doc_id AS media_id, text, least(n_chars // 2, 512) AS n
      FROM documents WHERE doc_id < 64 AND n_chars >= 2
        AND strlen(text) = length(text)
    ), s AS (
      SELECT media_id, n, text, unnest(range(0, n)) AS i FROM d
    ), v AS (
      SELECT media_id, n,
             CAST(ascii(substr(text, CAST(2 * i + 1 AS INT), 1))
               + 256 * ascii(substr(text, CAST(2 * i + 2 AS INT), 1)) AS BIGINT) AS raw
      FROM s
    ), w AS (
      -- wrap to signed int16: what PCM16 actually stores on disk
      SELECT media_id, n,
             CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS smp
      FROM v
    )
    SELECT media_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(smp) AS BIGINT) AS sum_samples,
           CAST(SUM(smp * smp) AS BIGINT) AS sum_squares
    FROM w GROUP BY media_id
    """,
)
def multimodal_wav_decode(spark, sf_dir):
    """REAL PCM16 WAV round trip, oracle-gated: text byte pairs become
    little-endian int16 samples in genuine RIFF/fmt/data files, parsed
    back by ``decode_audio`` (chunk walk, format validation).  The oracle
    recomputes the exact sample sums from the source bytes."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 64) & (F.col("n_chars") >= 2))
        # ASCII guard — see multimodal_bmp_decode
        .filter(F.octet_length("text") == F.length("text"))
        .select(F.col("doc_id").alias("media_id"), "text", "n_chars")
        .withColumn("n", F.least((F.col("n_chars") / 2).cast("long"), F.lit(512)))
    )

    enc_schema = StructType(
        [
            StructField("media_id", LongType(), nullable=False),
            StructField("kind", StringType(), nullable=False),
            StructField("payload", BinaryType(), nullable=False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "kind": [], "payload": []}
            for mid, text, n in zip(pdf["media_id"], pdf["text"], pdf["n"]):
                b = text.encode()
                # little-endian pair → UNSIGNED 0..65535, wrapped to signed
                # int16 (what PCM16 stores; array('h') overflows above
                # 32767 otherwise)
                samples = [
                    ((b[2 * i] + 256 * b[2 * i + 1]) ^ 0x8000) - 0x8000
                    for i in range(int(n))
                ]
                out["media_id"].append(mid)
                out["kind"].append("audio")
                out["payload"].append(encode_wav(samples, sample_rate=8000))
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, schema=enc_schema)
    return decode_audio(media).select(
        "media_id", "sample_rate", "n_channels", "n_samples",
        "sum_samples", "sum_squares",
    )


AUDIO_WINDOWS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), nullable=False),
        StructField("window_idx", LongType(), nullable=False),
        StructField("start_ms", LongType(), nullable=False),
        StructField("n_window_bytes", LongType(), nullable=False),
        StructField("window_hash", StringType(), nullable=False),
    ]
)


def audio_windows(media: DataFrame, window_ms: int = 100) -> DataFrame:
    """Audio windowing: slice each payload into fixed-duration windows
    (the spectrogram / feature-frame prep step).  The byte mapping assumes
    1 byte/ms (the synthetic fixture's rate); a real deployment computes
    bytes-per-ms from the sample rate in the metadata and swaps the hash
    for an FFT.  Unlike the frame GRID (pure plan expansion), this slices
    real payload bytes Python-side — it exercises the Arrow binary-column
    round trip through mapInPandas."""
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in AUDIO_WINDOWS_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL payload → no windows
                    continue
                b = bytes(payload)
                for i in range(math.ceil(len(b) / window_ms)):
                    chunk = b[i * window_ms : (i + 1) * window_ms]
                    out["media_id"].append(mid)
                    out["window_idx"].append(i)
                    out["start_ms"].append(i * window_ms)
                    out["n_window_bytes"].append(len(chunk))
                    # digest the UPPERCASE HEX of the window, not the raw
                    # bytes (r10, adversarial fixture): hex is always
                    # ASCII, so a SQL oracle (DuckDB md5 only accepts
                    # VARCHAR) can compute the identical digest for ANY
                    # byte window — including mid-codepoint slices of
                    # multi-byte text, where no valid-UTF8 string of the
                    # raw bytes exists.
                    out["window_hash"].append(
                        hashlib.md5(chunk.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_WINDOWS_SCHEMA
    )


@query(
    "multimodal_audio_windows",
    """
    SELECT doc_id AS media_id,
           CAST(i AS BIGINT) AS window_idx,
           CAST(i * 100 AS BIGINT) AS start_ms,
           CAST(least(100, octet_length(encode(text)) - i * 100) AS BIGINT)
               AS n_window_bytes,
           md5(substring(to_hex(encode(text)),
                         CAST(i * 200 + 1 AS INT), 200)) AS window_hash
    FROM (
        SELECT doc_id, text,
               unnest(range(0, CAST(
                   ceil(octet_length(encode(text)) / 100.0) AS BIGINT))) AS i
        FROM documents WHERE doc_id < 50
    )
    """,
)
def multimodal_audio_windows(spark, sf_dir):
    """The audio-windowing path verified end-to-end: document text bytes
    stand in for PCM payloads.  r10 (adversarial fixture): the oracle is
    BYTE-indexed (octet_length + hex slicing — the old char-indexed
    substr over n_chars silently assumed ASCII and miscounted windows on
    multi-byte text), and the shared digest is md5 over the window's
    uppercase hex, computable identically in both engines for any bytes."""
    media = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("audio").alias("kind"),
            F.col("text").cast("binary").alias("payload"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.col("n_chars").cast("long").alias("duration_ms"),
        )
    )
    return audio_windows(media, window_ms=100)
