"""Multimodal binary columns (SURVEY §2B 'q_multimodal_join' + the
brief's decode/feature-extract plumbing).

Policy: media are opaque BINARY columns + typed metadata structs; all
per-byte work runs in Arrow-batched ``mapInPandas`` stages. The actual
codec calls (PIL/ffmpeg/soundfile) are STUBBED — this container has no
media libraries — behind a deterministic fake header parser, but the
Spark-side contract is real and tested: schemas, batch shapes, UDF
signatures, and partitioning are exactly what a production decode
stage uses; swap `_fake_decode` for a real codec and nothing else
changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import load
from tile_etl_spark.registry import query


def payloads_df(docs: DataFrame) -> DataFrame:
    """Synthesize a binary payload per document: a 16-byte fake header
    (md5 of the text) + the text bytes. Models the (meta row ↔ blob)
    pairing of the tiles fixture (FIXTURES.md §11) without external
    files; everything is recomputable by the oracle."""
    return docs.select(
        "doc_id",
        F.unhex(F.md5(F.col("text").cast("binary"))).alias("header"),
        F.col("text").cast("binary").alias("body"),
    ).select(
        "doc_id",
        F.concat("header", "body").alias("content"),
        F.lit("application/fake-image").alias("content_type"),
    )


@query(
    "q_multimodal_join",
    oracle="""
    WITH payloads AS (
      SELECT doc_id,
             16 + octet_length(encode(text)) AS content_len,
             md5(text) AS header_hex
      FROM documents
    )
    SELECT d.doc_id, d.lang, d.source,
           CAST(p.content_len AS INT) AS content_len,
           p.header_hex
    FROM documents d JOIN payloads p USING (doc_id)
    WHERE p.content_len > 100
    """,
)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text metadata ⋈ binary payloads in one row set, filtered on
    blob length, header re-hexed — BINARY columns flowing through a
    join + filter + expression, H-checked via recomputation."""
    d = load(spark, sf_dir, "documents")
    p = payloads_df(d)
    joined = d.join(p, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        F.length("content").cast("int").alias("content_len"),
        F.lower(F.hex(F.substring("content", 1, 16))).alias("header_hex"),
    )
    return joined.where(F.col("content_len") > 100)


@query("q_multimodal_decode")
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract stage over binary payloads via
    mapInPandas (R-checked).

    `_fake_decode` stands in for the real codec (no media libs in this
    container): it parses the 16-byte header deterministically into
    (width, height, n_channels) and 'resizes' by computing the scaled
    dims — the real version calls PIL and returns pixel features. The
    distributed shape is the production one: binary Arrow batches in,
    fixed-schema feature rows out, no driver involvement.
    """
    d = load(spark, sf_dir, "documents")
    p = payloads_df(d)

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        TARGET = 64  # 'resize' target edge

        def fake_decode(blob: bytes) -> tuple[int, int, int]:
            # STUB: a real implementation would be e.g.
            #   img = PIL.Image.open(io.BytesIO(blob))
            # Deterministic fake: dims from the header bytes.
            h = blob[:16]
            return (64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 4)

        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(blob)
                w, h, c = fake_decode(b)
                scale = TARGET / max(w, h)
                rows.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        c,
                        int(round(w * scale)),
                        int(round(h * scale)),
                        len(b),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_channels",
                    "resized_w",
                    "resized_h",
                    "n_bytes",
                ],
            )

    return p.select("doc_id", "content").mapInPandas(
        decode_batches,
        "doc_id BIGINT, width INT, height INT, n_channels INT, "
        "resized_w INT, resized_h INT, n_bytes INT",
    )


@query("q_multimodal_framesample")
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads (R-checked): each
    blob yields one row per sampled 'frame' (every 256th byte offset) —
    the 1:N exploding UDF shape of a real ffmpeg frame sampler, with
    the decode itself stubbed to a deterministic byte slice hash."""
    d = load(spark, sf_dir, "documents")
    p = payloads_df(d)

    def sample_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        STRIDE = 256

        def frame_hash(blob: bytes, off: int) -> str:
            # STUB for codec frame extraction; real impl decodes the
            # frame at `off` and emits pixel stats.
            return hashlib.md5(blob[off : off + STRIDE]).hexdigest()[:16]

        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(blob)
                for frame_no, off in enumerate(range(0, len(b), STRIDE)):
                    rows.append((int(doc_id), frame_no, frame_hash(b, off)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_no", "frame_hash"]
            )

    return p.select("doc_id", "content").mapInPandas(
        sample_batches, "doc_id BIGINT, frame_no INT, frame_hash STRING"
    )


AUDIO_FRAME = 64  # samples per analysis frame


@query(
    "q_multimodal_audio",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, CAST((i - 1) // {AUDIO_FRAME} AS INT) AS frame_no,
             ascii(substring(text, i, 1)) AS v
      FROM documents, unnest(generate_series(1, length(text))) AS t(i)
    )
    SELECT doc_id, frame_no,
           CAST(count(*) AS INT) AS n_samples,
           floor(sqrt(CAST(sum((v - 128) * (v - 128)) AS DOUBLE)
                      / count(*)) * 1000000 + 0.5) / 1000000 AS rms
    FROM chars GROUP BY doc_id, frame_no
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction plumbing: each payload's body is
    treated as 8-bit PCM and reduced to per-frame RMS energy
    ({AUDIO_FRAME}-sample frames) — the 1:N windowed-DSP shape of a
    real soundfile/librosa feature stage (swap the byte view for a
    codec decode and the frame loop for an FFT and nothing else
    changes). Unlike the image/video stubs this one is H-CHECKED: the
    'decode' is deterministic byte arithmetic (exact integer
    sum-of-squares per frame, one sqrt at the end), so DuckDB
    recomputes the identical features from the text bytes the payload
    wraps.

    Shape: Arrow mapInPandas over (doc_id, content) binary batches,
    numpy vectorized per batch, fixed output schema, zero driver
    involvement — per-task output is rows = ceil(bytes/{AUDIO_FRAME}),
    streaming-friendly at any corpus size."""
    d = load(spark, sf_dir, "documents")
    p = payloads_df(d)

    def rms_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                body = bytes(blob)[16:]  # strip fake header
                v = np.frombuffer(body, dtype=np.uint8).astype(np.int64)
                for fno in range(0, (len(v) + AUDIO_FRAME - 1) // AUDIO_FRAME):
                    seg = v[fno * AUDIO_FRAME : (fno + 1) * AUDIO_FRAME]
                    ss = int(((seg - 128) ** 2).sum())  # exact int
                    rows.append(
                        (
                            int(doc_id),
                            fno,
                            len(seg),
                            math.floor(
                                math.sqrt(ss / len(seg)) * 1000000 + 0.5
                            )
                            / 1000000,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_no", "n_samples", "rms"]
            )

    return p.select("doc_id", "content").mapInPandas(
        rms_batches,
        "doc_id BIGINT, frame_no INT, n_samples INT, rms DOUBLE",
    )


@query(
    "q_multimodal_pngmeta",
    oracle="""
    SELECT doc_id,
           CAST(16 + doc_id % 1024 AS INT) AS width,
           CAST(16 + n_chars % 512 AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(2 AS INT) AS color_type,
           floor(CAST(16 + doc_id % 1024 AS DOUBLE)
                 / (16 + n_chars % 512) * 1000000 + 0.5) / 1000000
             AS aspect
    FROM documents
    """,
)
def q_multimodal_pngmeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE HEADER METADATA EXTRACTION — build a REAL PNG byte layout
    (8-byte signature + IHDR chunk: length, type, 4-byte big-endian
    width/height, bit depth, color type) per document and parse the
    dimensions BACK out of the binary column by offset arithmetic —
    ``conv(hex(substring(content, 17, 4)), 16, 10)`` is exactly how a
    production pipeline reads image dimensions WITHOUT decoding pixels
    (the dimension/aspect filter runs at scan throughput; the expensive
    codec decode tier — q_multimodal_decode — only sees survivors).
    Unlike the stubbed pixel decoders, header parsing needs no codec
    library, so the whole build→parse round trip is H-checked: the
    oracle recomputes the dimensions from the source columns, pinning
    signature offsets, chunk layout and big-endian byte order.

    All JVM-side codegen expressions on BINARY — no Python, no UDFs;
    at 100 TB this is a pure map over the blob store scan."""
    d = load(spark, sf_dir, "documents")
    width = (16 + F.col("doc_id") % 1024).cast("int")
    height = (16 + F.col("n_chars") % 512).cast("int")
    hex8 = lambda c: F.lpad(F.lower(F.hex(c)), 8, "0")  # noqa: E731
    png = F.unhex(
        F.concat(
            F.lit("89504e470d0a1a0a"),  # PNG signature
            F.lit("0000000d"),  # IHDR length = 13
            F.lit("49484452"),  # "IHDR"
            hex8(width),
            hex8(height),
            F.lit("08"),  # bit depth
            F.lit("02"),  # color type (truecolor)
            F.lit("000000"),  # compression/filter/interlace
        )
    )
    blobs = d.select("doc_id", png.alias("content"))
    parse4 = lambda pos: F.conv(  # noqa: E731
        F.hex(F.expr(f"substring(content, {pos}, 4)")), 16, 10
    ).cast("int")
    parse1 = lambda pos: F.conv(  # noqa: E731
        F.hex(F.expr(f"substring(content, {pos}, 1)")), 16, 10
    ).cast("int")
    parsed = blobs.select(
        "doc_id",
        parse4(17).alias("width"),
        parse4(21).alias("height"),
        parse1(25).alias("bit_depth"),
        parse1(26).alias("color_type"),
    )
    return parsed.withColumn(
        "aspect",
        F.floor(
            F.col("width").cast("double") / F.col("height") * 1000000
            + 0.5
        )
        / 1000000,
    )


@query(
    "q_multimodal_wavmeta",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 22050 WHEN 3 THEN 44100
                  ELSE 48000 END AS INT) AS sample_rate,
             CAST(1 + doc_id % 2 AS INT) AS channels,
             CAST((1000 + n_chars * 10) * (1 + doc_id % 2) * 2
                  AS BIGINT) AS data_bytes
      FROM documents
    )
    SELECT doc_id, sample_rate, channels,
           CAST(16 AS INT) AS bits_per_sample, data_bytes,
           floor(CAST(data_bytes AS DOUBLE)
                 / (sample_rate * channels * 2) * 1000000 + 0.5)
             / 1000000 AS duration_s
    FROM src
    """,
)
def q_multimodal_wavmeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO HEADER METADATA EXTRACTION — the little-endian dual of
    q_multimodal_pngmeta: build a REAL 44-byte RIFF/WAVE PCM header
    (RIFF size, fmt chunk with LE u16 channels / u32 sample rate /
    u16 bits, data chunk size) per document and parse sample rate,
    channel count and duration BACK out of the binary column by
    per-byte offset arithmetic. WAV is little-endian where PNG is
    big-endian, so the parse combines individual bytes with 256^k
    place values instead of one hex-to-int conv — pinning that a
    production header reader must honor each container's byte order.
    Duration-without-decode (data_bytes / byte_rate) is the filter an
    audio curation pipeline runs at scan throughput before any codec
    tier sees the blob.

    All JVM-side codegen expressions on BINARY — no Python, no UDFs;
    at 100 TB this is a pure map over the blob store scan."""
    d = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("doc_id") % 5 == 0, 8000)
        .when(F.col("doc_id") % 5 == 1, 16000)
        .when(F.col("doc_id") % 5 == 2, 22050)
        .when(F.col("doc_id") % 5 == 3, 44100)
        .otherwise(48000)
        .cast("int")
    )
    channels = (1 + F.col("doc_id") % 2).cast("int")
    bits = F.lit(16)
    n_samples = 1000 + F.col("n_chars") * 10
    data_bytes = (n_samples * channels * 2).cast("bigint")
    byte_rate = rate * channels * 2
    block_align = channels * 2

    def hexle(v, nbytes: int):
        """Little-endian hex of an int expression, nbytes wide."""
        return F.concat(
            *[
                F.lpad(
                    F.lower(
                        F.hex(F.shiftright(v.cast("bigint"), 8 * k) % 256)
                    ),
                    2,
                    "0",
                )
                for k in range(nbytes)
            ]
        )

    wav = F.unhex(
        F.concat(
            F.lit("52494646"),            # "RIFF"
            hexle(data_bytes + 36, 4),    # RIFF chunk size
            F.lit("57415645"),            # "WAVE"
            F.lit("666d7420"),            # "fmt "
            hexle(F.lit(16), 4),          # fmt chunk size
            hexle(F.lit(1), 2),           # audio format = PCM
            hexle(channels, 2),
            hexle(rate, 4),
            hexle(byte_rate, 4),
            hexle(block_align, 2),
            hexle(bits, 2),
            F.lit("64617461"),            # "data"
            hexle(data_bytes, 4),
        )
    )
    blobs = d.select("doc_id", wav.alias("content"))
    byte_at = lambda pos: F.conv(  # noqa: E731
        F.hex(F.expr(f"substring(content, {pos}, 1)")), 16, 10
    ).cast("bigint")

    def parse_le(pos: int, nbytes: int):
        out = byte_at(pos)
        for k in range(1, nbytes):
            out = out + byte_at(pos + k) * (256 ** k)
        return out

    parsed = blobs.select(
        "doc_id",
        parse_le(25, 4).cast("int").alias("sample_rate"),
        parse_le(23, 2).cast("int").alias("channels"),
        parse_le(35, 2).cast("int").alias("bits_per_sample"),
        parse_le(41, 4).alias("data_bytes"),
    )
    return parsed.withColumn(
        "duration_s",
        F.floor(
            F.col("data_bytes").cast("double")
            / (
                F.col("sample_rate")
                * F.col("channels")
                * (F.col("bits_per_sample") / F.lit(8))
            )
            * 1000000
            + 0.5
        )
        / 1000000,
    )
