"""Multimodal column operators: image/audio/video payloads as opaque
binary columns with typed metadata (driver-mandated extension surface).

The decode/feature libraries (PIL, torchaudio, ...) are NOT in this
container, so the modality-specific decode step is a clearly-marked stub
behind `_decode_payload` — a deterministic fake that parses the fixture's
synthetic header.  Everything Spark-side is real and tested: the binary
packing schema, the `mapInPandas` Arrow batch plumbing (batch shape,
iterator contract, output schema), and the partition-preserving pipeline
layout a real decoder would drop into unchanged.

Scale notes (100 TB): binary payloads ride in parquet alongside their
metadata struct — one table, no side-channel files.  `mapInPandas`
streams Arrow batches per partition: memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` × payload size, and the
decode stage parallelizes to exactly the scan parallelism.  Frame
sampling / resizing happens inside the same batch iterator, so decoded
frames never materialize globally.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.registry import register

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_bytes(width: int, height: int) -> bytes:
    """Minimal REAL PNG byte stream: signature + IHDR chunk (13-byte
    payload: width, height, bit depth 8, color type 2 = truecolor,
    compression/filter/interlace 0) with a correct CRC32 — exactly what
    `file`/PIL would accept as a PNG header."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )


def _jpeg_bytes(width: int, height: int) -> bytes:
    """Minimal REAL JPEG byte stream: SOI + JFIF APP0 + an SOF0 baseline
    frame header carrying the dimensions (big-endian height THEN width,
    per ITU-T T.81 §B.2.2)."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
    )


def _jpeg_dims(payload: bytes) -> tuple[int, int]:
    """Walk JPEG marker segments to the first SOF frame header and read
    (width, height).  SOFn markers are 0xC0–0xCF excluding 0xC4 (DHT),
    0xC8 (JPG) and 0xCC (DAC); each non-SOF segment is skipped by its
    big-endian length field — the standard stdlib-only JPEG dimension
    probe.

    Handles the length-LESS markers real-world streams contain: 0xFF
    fill/padding bytes before a marker are skipped, and
    standalone markers — TEM (0x01), RSTn (0xD0–0xD7), EOI (0xD9) —
    carry no length field and advance by 2 only.  Entropy-coded scan
    data after SOS is not walked: a dimension probe never needs to pass
    the first SOF, which precedes SOS in every legal stream."""
    i = 2
    while i + 2 <= len(payload):
        if payload[i] != 0xFF:
            raise NotImplementedError("corrupt JPEG marker stream")
        # 0xFF fill bytes: any number may pad before the marker byte
        j = i + 1
        while j < len(payload) and payload[j] == 0xFF:
            j += 1
        if j >= len(payload):
            break
        marker = payload[j]
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            # standalone: TEM, RSTn, EOI/SOI — no length segment
            if marker == 0xD9:  # EOI: end of stream
                break
            i = j + 1
            continue
        if j + 3 > len(payload):
            break
        seglen = struct.unpack(">H", payload[j + 1 : j + 3])[0]
        if seglen < 2:
            raise NotImplementedError("corrupt JPEG segment length")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if j + 8 > len(payload):
                # stream ends inside the SOF dimensions: same corrupt-
                # stream contract as every other truncation path here
                raise NotImplementedError("truncated SOF segment")
            height, width = struct.unpack(">HH", payload[j + 4 : j + 8])
            return width, height
        i = j + 1 + seglen
    raise NotImplementedError("no SOF marker found")


def _wav_bytes(sample_rate: int, channels: int, n_samples: int) -> bytes:
    """Minimal REAL RIFF/WAVE byte stream: RIFF header + canonical
    16-byte PCM `fmt ` subchunk + `data` subchunk header (16-bit
    samples).  Everything a header-level audio prober reads."""
    bits = 16
    block_align = channels * bits // 8
    data_size = n_samples * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + data_size)
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_size)
    )


def _wav_meta(payload: bytes) -> tuple[int, int, int]:
    """Walk RIFF subchunks to (sample_rate, channels, n_samples) — the
    standard stdlib-only WAV probe: little-endian chunk ids + sizes,
    `fmt ` for the format fields, `data` for the payload length (chunks
    may appear in any order and are skipped by their size fields)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE stream")
    rate = channels = block_align = data_size = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"fmt ":
            _, channels, rate, _, block_align, _ = struct.unpack(
                "<HHIIHH", payload[i + 8 : i + 24]
            )
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or data_size is None:
        raise NotImplementedError("missing fmt or data chunk")
    return rate, channels, data_size // block_align


def _mp4_box(fourcc: bytes, payload: bytes) -> bytes:
    """One ISO-BMFF box: 32-bit big-endian size (incl. the 8-byte
    header) + fourcc + payload."""
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _mp4_bytes(timescale: int, duration: int, width: int, height: int) -> bytes:
    """Minimal REAL ISO-BMFF (MP4) byte stream: `ftyp` box + `moov`
    container holding an `mvhd` (version 0: 32-bit timescale/duration)
    and a `trak`/`tkhd` carrying the visual dimensions as 16.16 fixed
    point — the boxes every header-level prober reads."""
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = _mp4_box(
        b"mvhd", struct.pack(">BxxxIIII", 0, 0, 0, timescale, duration)
    )
    # tkhd v0 payload: version/flags, creation, modification, track_id,
    # reserved, duration, reserved(8), layer, alt_group, volume,
    # reserved(2), matrix(36), then 16.16 width/height
    tkhd = _mp4_box(
        b"tkhd",
        struct.pack(">BxxxIIIxxxx", 0, 0, 0, 1)
        + bytes(4 + 8 + 2 + 2 + 2 + 2 + 36)
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _mp4_box(b"trak", tkhd)
    return ftyp + _mp4_box(b"moov", mvhd + trak)


def _mp4_meta(payload: bytes) -> tuple[int, int, int, int]:
    """Walk the ISO-BMFF box tree to (timescale, duration, width,
    height): top-level boxes by 32-bit size + fourcc, recursing into
    `moov`/`trak` containers, reading `mvhd` (version-0 layout) and
    `tkhd` (16.16 fixed-point dims at the tail) — the stdlib-only MP4
    probe."""
    timescale = duration = width = height = None

    def walk(buf: bytes, start: int, end: int) -> None:
        nonlocal timescale, duration, width, height
        i = start
        while i + 8 <= end:
            size = struct.unpack(">I", buf[i : i + 4])[0]
            box = buf[i + 4 : i + 8]
            if size < 8:
                raise NotImplementedError("bad box size")
            if box in (b"moov", b"trak"):
                walk(buf, i + 8, i + size)
            elif box == b"mvhd":
                _, _, _, timescale, duration = struct.unpack(
                    ">BxxxIIII", buf[i + 8 : i + 28]
                )
            elif box == b"tkhd":
                width, height = (
                    v >> 16
                    for v in struct.unpack(">II", buf[i + size - 8 : i + size])
                )
            i += size

    if payload[4:8] != b"ftyp":
        raise NotImplementedError("not an ISO-BMFF stream")
    walk(payload, 0, len(payload))
    if timescale is None or width is None:
        raise NotImplementedError("missing mvhd or tkhd box")
    return timescale, duration, width, height


def _decode_payload(payload: bytes) -> tuple[int, int]:
    """Header-level image decode — REAL for PNG and JPEG, stubbed only for
    the synthetic fixture format.

    PNG: IHDR width/height at fixed offsets after the 8-byte signature.
    JPEG: marker walk to the first SOF frame header (`_jpeg_dims`).
    `b"IMG|<doc_id>|<n_chars>"`: the legacy deterministic fake kept for
    the carrier-schema ops whose oracles pin its byte lengths.  Full
    pixel decode (PIL/torchaudio) is still out of scope — the container
    has no media libraries — so unknown magic bytes raise
    NotImplementedError exactly as a real decoder rejects a corrupt
    file."""
    if payload[:8] == _PNG_SIG:
        width, height = struct.unpack(">II", payload[16:24])
        return width, height
    if payload[:2] == b"\xff\xd8":
        return _jpeg_dims(payload)
    if payload.startswith(b"IMG|"):
        _, a, b = payload.split(b"|")
        return int(a) % 640 + 1, int(b) % 480 + 1
    raise NotImplementedError("unknown payload format (real decoder stub)")


def _pack_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed multimodal carrier: opaque binary payload + typed metadata
    struct (modality, byte length, source).  This is the schema every
    downstream multimodal op consumes (mm_decode_stub, mm_frame_sample,
    mm_meta_audit).  Kept as an internal helper because struct + binary
    cells crash the driver's pandas sort-based canonicalizer
    (`unhashable type: 'dict'`) — the REGISTERED `mm_pack_binary` projects
    a flattened, hash-checkable view."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode(
        F.concat_ws("|", F.lit("IMG"), F.col("doc_id"), F.col("n_chars")), "utf-8"
    )
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("modality"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


@register(
    "mm_pack_binary",
    oracle="""
    WITH p AS (
        SELECT doc_id, source,
               'IMG|' || CAST(doc_id AS VARCHAR) || '|' || CAST(n_chars AS VARCHAR)
                   AS payload_str
        FROM documents
    )
    SELECT doc_id,
           'image' AS modality,
           CAST(length(payload_str) AS BIGINT) AS n_bytes,
           source,
           md5(payload_str) AS payload_md5
    FROM p
    """,
)
def mm_pack_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing view of the packed multimodal records: meta struct
    flattened to scalar columns, payload rendered as its md5 hex digest
    (the payload is ASCII, so DuckDB's md5 over the same string is
    byte-identical) — upgrading this op from rows-only to a full
    rows+schema+hash oracle check while keeping every cell scalar.
    Downstream ops consume the typed `_pack_binary` helper unchanged.

    Scale (100 TB): pure row-local projection + one JVM md5 per record;
    no shuffle, no Python."""
    packed = _pack_binary(spark, sf_dir)
    return packed.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.source").alias("source"),
        F.md5("payload").alias("payload_md5"),
    )


@register(
    "mm_decode_stub",
    oracle="""
    SELECT doc_id,
           doc_id % 640 + 1 AS width,
           n_chars % 480 + 1 AS height,
           CAST(length('IMG|' || CAST(doc_id AS VARCHAR) || '|'
                       || CAST(n_chars AS VARCHAR)) AS BIGINT) AS n_bytes,
           CAST(doc_id % 640 + 1 AS DOUBLE) / (n_chars % 480 + 1) AS aspect
    FROM documents
    """,
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over Arrow batches via mapInPandas.

    The iterator-of-batches contract, output schema, and per-partition
    execution are the real production shape; only `_decode_payload`'s
    body is fake (see its docstring) — but fake DETERMINISTICALLY
    (width/height are fixed functions of the source row and aspect is
    one IEEE double division), so the op carries a full hash
    oracle: the DuckDB side recomputes the planted dimensions from the
    source row, pinning the whole pack → mapInPandas → Arrow-batch
    roundtrip (schema, batching, null-free lanes) by value, not just
    by row count."""
    packed = _pack_binary(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_decode_payload)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": decoded.map(lambda t: t[0]),
                    "height": decoded.map(lambda t: t[1]),
                    "n_bytes": pdf["meta"].map(lambda m: m["n_bytes"]),
                    "aspect": decoded.map(lambda t: t[0] / t[1]),
                }
            )

    return packed.mapInPandas(
        decode,
        "doc_id bigint, width bigint, height bigint, n_bytes bigint, aspect double",
    )


@register(
    "mm_decode_headers",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           doc_id % 640 + 1 AS width,
           n_chars % 480 + 1 AS height
    FROM documents
    """,
)
def mm_decode_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header decode, hash-checked end-to-end: pack each document
    as an actual PNG (even doc_id) or JPEG (odd) byte stream whose header
    encodes deterministic dimensions, then recover (fmt, width, height) by
    parsing the REAL formats — PNG IHDR struct reads, JPEG SOF marker walk
    — inside one mapInPandas batch iterator.  The oracle recomputes the
    planted dimensions from the source row, so a bug anywhere in the pack
    → parse roundtrip (CRC layout, endianness, SOF height-before-width
    ordering) breaks the value hash.  Unlike `mm_decode_stub`
    (carrier-schema demo with the synthetic fixture payload), nothing here
    is faked except the pixel data itself.

    Scale (100 TB): pack and decode run in the SAME task — payloads
    never shuffle; memory is one Arrow batch of headers.  A real corpus
    reads existing payload bytes instead of packing them, with the
    identical iterator/schema shape."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths = (pdf["doc_id"] % 640 + 1).astype(int)
            heights = (pdf["n_chars"] % 480 + 1).astype(int)
            payloads = [
                _png_bytes(w, h) if i % 2 == 0 else _jpeg_bytes(w, h)
                for i, w, h in zip(pdf["doc_id"], widths, heights)
            ]
            decoded = [_decode_payload(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": [
                        "png" if p[:8] == _PNG_SIG else "jpeg" for p in payloads
                    ],
                    "width": [t[0] for t in decoded],
                    "height": [t[1] for t in decoded],
                }
            )

    return d.mapInPandas(
        roundtrip, "doc_id bigint, fmt string, width bigint, height bigint"
    )


@register(
    "mm_audio_headers",
    oracle="""
    SELECT doc_id,
           8000 * (1 + doc_id % 5) AS sample_rate,
           CAST(1 + doc_id % 2 AS INTEGER) AS channels,
           n_chars * 100 AS n_samples,
           (n_chars * 100 * 1000000) // (8000 * (1 + doc_id % 5))
               AS duration_us
    FROM documents
    """,
)
def mm_audio_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-header decode — the WAV counterpart of
    `mm_decode_headers`: pack each document as an actual RIFF/WAVE
    byte stream (canonical PCM `fmt ` + `data` subchunks) with planted
    sample rate / channel count / sample count, then recover them by
    WALKING the RIFF chunk list (`_wav_meta` skips chunks by their size
    fields — not fixed offsets) inside one mapInPandas pass.  The oracle
    recomputes the planted values, so endianness, subchunk layout, or
    block-align bugs anywhere in the pack → probe roundtrip break the
    value hash.  duration_us = n_samples · 10⁶ ÷ rate in INTEGER floor
    division on both sides — float ROUND ties (e.g. 8600/32000 =
    0.26875) round differently in Python and DuckDB, integer math never
    does.

    Scale (100 TB): identical shape to `mm_decode_headers` — pack and
    probe share one task, payload bytes never shuffle."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                _wav_meta(
                    _wav_bytes(
                        8000 * (1 + int(i) % 5), 1 + int(i) % 2, int(n) * 100
                    )
                )
                for i, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [m[0] for m in metas],
                    "channels": [m[1] for m in metas],
                    "n_samples": [m[2] for m in metas],
                    "duration_us": [m[2] * 1_000_000 // m[0] for m in metas],
                }
            )

    return d.mapInPandas(
        roundtrip,
        "doc_id bigint, sample_rate bigint, channels int, n_samples bigint,"
        " duration_us bigint",
    )


@register(
    "mm_video_headers",
    oracle="""
    SELECT doc_id,
           600 * (1 + doc_id % 4) AS timescale,
           n_chars * 1001 AS duration_ticks,
           320 * (1 + doc_id % 4) AS width,
           240 * (1 + doc_id % 3) AS height,
           (n_chars * 1001 * 1000) // (600 * (1 + doc_id % 4)) AS duration_ms
    FROM documents
    """,
)
def mm_video_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-header decode — completes the image/audio/video triad
    (`mm_decode_headers` / `mm_audio_headers` / this): documents
    packed as actual ISO-BMFF (MP4) streams — `ftyp` + `moov(mvhd,
    trak(tkhd))` with correct box sizes — carrying planted timescale /
    duration / 16.16 fixed-point dimensions, recovered by RECURSIVE box
    walking (`_mp4_meta` descends containers by size+fourcc, no fixed
    offsets) in one mapInPandas pass.  Oracle recomputes the planted
    values; duration_ms uses integer floor division on both sides
    (same cross-engine ROUND-tie rationale as `mm_audio_headers`).

    Scale (100 TB): identical shape to the image/audio probes — pack
    and probe share one task, payload bytes never shuffle."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                _mp4_meta(
                    _mp4_bytes(
                        600 * (int(i) % 4 + 1),
                        int(n) * 1001,
                        320 * (int(i) % 4 + 1),
                        240 * (int(i) % 3 + 1),
                    )
                )
                for i, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "timescale": [m[0] for m in metas],
                    "duration_ticks": [m[1] for m in metas],
                    "width": [m[2] for m in metas],
                    "height": [m[3] for m in metas],
                    "duration_ms": [m[1] * 1000 // m[0] for m in metas],
                }
            )

    return d.mapInPandas(
        roundtrip,
        "doc_id bigint, timescale bigint, duration_ticks bigint,"
        " width bigint, height bigint, duration_ms bigint",
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               LEAST(length('IMG|' || CAST(doc_id AS VARCHAR) || '|'
                            || CAST(n_chars AS VARCHAR)), 30) AS n_frames
        FROM documents
    )
    SELECT doc_id,
           CAST(f // 10 AS INT) AS frame_no,
           CAST(f AS INT) AS frame_idx
    FROM (SELECT doc_id, unnest(generate_series(0, n_frames - 1, 10)) AS f
          FROM p)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling: treat each payload as a pseudo-video
    with min(n_bytes, 30) "frames" and emit every 10th frame index
    (posexplode of a generated sequence).  Real video decode plugs into
    the same shape: one input row → few sampled-frame rows, all
    JVM-side except the decode itself.  The payload byte length is a
    fixed function of the source row, so the sampled frame
    grid carries a full hash oracle (frame_no = position, frame_idx =
    value — DuckDB regenerates both from the same arithmetic)."""
    packed = _pack_binary(spark, sf_dir)
    n_frames = F.least(F.col("meta.n_bytes"), F.lit(30)).cast("int")
    return packed.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_frames - 1, F.lit(10))).alias(
            "frame_no", "frame_idx"
        ),
    ).select("doc_id", "frame_no", "frame_idx")


@register(
    "mm_meta_audit",
    oracle="""
    SELECT source,
           COUNT(*) AS n_records,
           CAST(SUM(length(concat_ws('|', 'IMG', CAST(doc_id AS VARCHAR),
                                CAST(n_chars AS VARCHAR)))) AS BIGINT) AS total_bytes,
           MIN(length(concat_ws('|', 'IMG', CAST(doc_id AS VARCHAR),
                                CAST(n_chars AS VARCHAR)))) AS min_bytes,
           MAX(length(concat_ws('|', 'IMG', CAST(doc_id AS VARCHAR),
                                CAST(n_chars AS VARCHAR)))) AS max_bytes
    FROM documents GROUP BY source
    """,
)
def mm_meta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage audit over the packed multimodal records (mm_pack_binary's
    carrier schema): per source, record count and payload byte totals
    from the typed metadata struct — the blob-store capacity/QA report.
    The binary payloads themselves are not oracle-hashable, but their
    LENGTHS are deterministic functions of the source row, so this
    audit hash-checks the multimodal plumbing end-to-end (schema,
    packing, metadata) without comparing raw bytes.

    Scale (100 TB): runs entirely on the metadata struct — the binary
    column is never read (columnar pruning elides it from the scan);
    one map-side-combinable aggregation."""
    packed = _pack_binary(spark, sf_dir)
    return packed.select(
        F.col("meta.source").alias("source"),
        F.col("meta.n_bytes").alias("n_bytes"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


# ---------------------------------------------------------- mm_image_tile_plan

@register(
    "mm_image_tile_plan",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 640 + 1 AS BIGINT) AS w,
               CAST(n_chars % 480 + 1 AS BIGINT) AS h
        FROM documents WHERE doc_id % 13 = 0
    ),
    tiles AS (
        SELECT doc_id, w, h, ty, tx,
               CAST(tx * 128 AS BIGINT) AS x0,
               CAST(ty * 128 AS BIGINT) AS y0,
               CAST(LEAST(128, w - tx * 128) AS BIGINT) AS tile_w,
               CAST(LEAST(128, h - ty * 128) AS BIGINT) AS tile_h
        FROM dims,
             unnest(generate_series(0, (h - 1) // 128)) AS t1(ty),
             unnest(generate_series(0, (w - 1) // 128)) AS t2(tx)
    )
    SELECT doc_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
           x0, y0, tile_w, tile_h,
           CAST(tile_w * tile_h * 3 AS BIGINT) AS rgb_bytes
    FROM tiles ORDER BY doc_id, ty, tx
    """,
)
def mm_image_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE TILING PLAN: split each image into a 128x128 patch grid
    with edge clipping — the pre-processing fan every vision pipeline
    runs before patch-level encoding (ViT patches, tiled OCR,
    super-resolution shards), planned from HEADER dimensions alone so
    the pixel payload is never touched at planning time.  Dimensions
    are the `mm_decode_headers` planted pair (doc_id % 640 + 1,
    n_chars % 480 + 1), so the plan is hash-checkable end-to-end; on
    a real corpus the same op runs off the decoded header table.

    Determinism: pure integer grid arithmetic (floor division, edge
    clip via LEAST).

    Scale (100 TB): the tile fan is ROW-LOCAL (sequence x sequence
    explode per image, bounded by ceil(w/128)*ceil(h/128)); no
    shuffle at all — the plan streams straight to the patch decoder
    stage, which is the mapInPandas slot `mm_decode_stub` models."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    dims = d.select(
        "doc_id",
        (F.col("doc_id") % 640 + 1).cast("bigint").alias("w"),
        (F.col("n_chars") % 480 + 1).cast("bigint").alias("h"),
    )
    tiles = dims.select(
        "doc_id",
        "w",
        "h",
        F.explode(
            F.expr(
                "flatten(transform("
                " sequence(0, CAST((h - 1) DIV 128 AS INT)),"
                " ty -> transform("
                "   sequence(0, CAST((w - 1) DIV 128 AS INT)),"
                "   tx -> struct(ty AS ty, tx AS tx))))"
            )
        ).alias("t"),
    ).select("doc_id", "w", "h", "t.ty", "t.tx")
    return tiles.select(
        "doc_id",
        F.col("ty").cast("bigint").alias("ty"),
        F.col("tx").cast("bigint").alias("tx"),
        (F.col("tx") * 128).cast("bigint").alias("x0"),
        (F.col("ty") * 128).cast("bigint").alias("y0"),
        F.least(F.lit(128), F.col("w") - F.col("tx") * 128)
        .cast("bigint")
        .alias("tile_w"),
        F.least(F.lit(128), F.col("h") - F.col("ty") * 128)
        .cast("bigint")
        .alias("tile_h"),
        (
            F.least(F.lit(128), F.col("w") - F.col("tx") * 128)
            * F.least(F.lit(128), F.col("h") - F.col("ty") * 128)
            * 3
        )
        .cast("bigint")
        .alias("rgb_bytes"),
    ).orderBy("doc_id", "ty", "tx")


# -------------------------------------------------------- mm_bytes_dedup_sha

@register(
    "mm_bytes_dedup_sha",
    oracle="""
    WITH p AS (
        SELECT doc_id, source,
               'BLOB|' || source || '|' || CAST(n_chars % 64 AS VARCHAR)
                   AS payload_str
        FROM documents
    ),
    h AS (
        SELECT doc_id, source, sha256(payload_str) AS digest FROM p
    ),
    g AS (
        SELECT digest, CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MIN(doc_id) AS BIGINT) AS canonical_id
        FROM h GROUP BY digest
    )
    SELECT h.source,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(COUNT(DISTINCT h.digest) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN h.doc_id <> g.canonical_id THEN 1 ELSE 0
                    END) AS BIGINT) AS n_dropped,
           ROUND(SUM(CASE WHEN h.doc_id <> g.canonical_id THEN 1 ELSE 0
                     END) * 1.0 / COUNT(*), 4) AS drop_rate
    FROM h JOIN g ON g.digest = h.digest
    GROUP BY h.source ORDER BY h.source
    """,
)
def mm_bytes_dedup_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-CONTENT EXACT DEDUP over sha-256 digests: identical blob
    payloads collapse to one canonical copy (min doc_id), per-source
    drop report — the first stage of every multimodal pipeline
    (byte-identical re-crawls and mirror copies are the bulk of
    image/audio duplication; near-dup embedding passes only run on
    the survivors).  Payloads here derive from (source, n_chars % 64)
    so real collisions exist to collapse; a production run hashes the
    actual binary column — sha2 over BINARY is the same JVM-side
    expression.

    Determinism: sha-256 hex is bit-identical across engines on
    identical ASCII payloads; canonical choice is exact MIN; one
    render division.

    Scale (100 TB): ONE digest-keyed exchange carrying 32-byte
    digests (never payload bytes — the digest is computed map-side
    next to the scan); group sizes are content-bounded."""
    d = load(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit("BLOB|"),
        F.col("source"),
        F.lit("|"),
        (F.col("n_chars") % 64).cast("string"),
    )
    h = d.select(
        "doc_id", "source", F.sha2(payload, 256).alias("digest")
    )
    g = h.groupBy("digest").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("doc_id").cast("bigint").alias("canonical_id"),
    )
    j = h.join(g, "digest")
    dropped = F.when(
        F.col("doc_id") != F.col("canonical_id"), 1
    ).otherwise(0)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blobs"),
            F.countDistinct("digest").cast("bigint").alias("n_unique"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.round(
                F.sum(dropped) * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("drop_rate"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------- mm_audio_chunk_plan

@register(
    "mm_audio_chunk_plan",
    oracle="""
    WITH a AS (
        SELECT doc_id,
               8000 * (1 + doc_id % 5) AS sample_rate,
               (n_chars * 100 * 1000000) // (8000 * (1 + doc_id % 5))
                   AS duration_us
        FROM documents
    ),
    c AS (
        SELECT sample_rate, duration_us,
               (duration_us + 30000000 - 1) // 30000000 AS n_chunks,
               duration_us - ((duration_us + 30000000 - 1) // 30000000
                              - 1) * 30000000 AS last_chunk_us
        FROM a WHERE duration_us > 0
    )
    SELECT sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
           CAST(SUM(CASE WHEN last_chunk_us < 5000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_short_tails,
           ROUND(SUM(duration_us) * 1.0 / SUM(n_chunks) / 1000000.0, 4)
               AS avg_chunk_sec
    FROM c GROUP BY sample_rate ORDER BY sample_rate
    """,
)
def mm_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO CHUNKING PLAN: fixed 30-second windows over each file's
    planted duration (the `mm_audio_headers` RIFF metadata formula) —
    per sample rate: files, total chunks, short tails (< 5 s, the
    fragments an ASR batch either pads or merges), and realized mean
    chunk length.  This is the PLAN an audio-feature pipeline
    executes with a decode UDF per chunk; planning from header
    metadata costs one metadata scan, decoding nothing
    (`mm_decode_stub` owns the decode boundary).

    Determinism: durations and chunk counts are pure integer
    arithmetic (ceil via (d + w − 1) DIV w); one render division.

    Scale (100 TB): row-local planning; ONE map-side collapse to
    |rates| rows; payload bytes never move."""
    d = load(spark, sf_dir, "documents")
    a = d.select(
        "doc_id",
        (8000 * (1 + F.col("doc_id") % 5)).alias("sample_rate"),
        F.expr(
            "(n_chars * 100 * 1000000) DIV (8000 * (1 + doc_id % 5))"
        ).alias("duration_us"),
    ).where(F.col("duration_us") > 0)
    n_chunks = F.expr("(duration_us + 30000000 - 1) DIV 30000000")
    c = a.select(
        "sample_rate",
        "duration_us",
        n_chunks.alias("n_chunks"),
        (
            F.col("duration_us")
            - (n_chunks - 1) * F.lit(30000000)
        ).alias("last_chunk_us"),
    )
    return (
        c.groupBy("sample_rate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_chunks").cast("bigint").alias("total_chunks"),
            F.sum(
                F.when(F.col("last_chunk_us") < 5000000, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_short_tails"),
            F.round(
                F.sum("duration_us")
                * F.lit(1.0)
                / F.sum("n_chunks")
                / F.lit(1000000.0),
                4,
            ).alias("avg_chunk_sec"),
        )
        .orderBy("sample_rate")
    )
