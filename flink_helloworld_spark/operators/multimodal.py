"""Multimodal column operators (north-star surface).

Media travel as opaque ``BinaryType`` payload columns + typed metadata;
decode / feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` stages (the only place Python belongs: per payload CPU-
bound work, vectorized per batch, partition-parallel).

Every ``attach_*_binary`` builder makes GENUINE payloads JVM-side from
document text, so the DuckDB oracle replays the construction without a
decoder. They share one payload kit: the hex byte-order helpers
(``_be_hex`` / ``_le_hex`` / ``_le32``), the repeated-md5 byte source
(``_md5_hex_stream``), the RIFF/WAVE header (``_wave_base`` +
``_riff_wave``) and the media-row tail (``_media_rows``).

The decoders need no codec library: netpbm, BMP and PNG (stdlib zlib)
images, PCM WAV (stdlib ``wave``), G.711 mu-law and IMA-ADPCM audio and
RIFF/AVI video all decode for real. The RIFF codecs read their chunks
through one walker (``_riff_chunks``). Each per-payload parser is a pure
function run by one decode stage (``_decode_stage``): a tuple of
features, or None for a corrupt payload, which yields typed zeros and
``decode_ok = false`` instead of poisoning the batch. The container has
no image/audio libs, so lossy and perceptual codecs (JPEG, mp3/ogg/flac)
fall back to the clearly-marked deterministic fakes, keeping the
pipeline total.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib
from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("decode_ok", BooleanType()),
    ]
)


# --- payload kit: the JVM-side plumbing every attach_* builder shares --------


def _be_hex(col: Column, width_chars: int) -> Column:
    """Big-endian hex of an integer column, zero-padded to width_chars."""
    return F.lpad(F.hex(col), width_chars, "0")


def _le_hex(col: Column, n_bytes: int) -> Column:
    """Little-endian hex of an integer column over n_bytes bytes."""
    be = _be_hex(col, 2 * n_bytes)
    return F.concat(*[F.substring(be, 2 * i + 1, 2) for i in reversed(range(n_bytes))])


def _le32(v: int) -> str:
    """Little-endian hex of a constant uint32."""
    return struct.pack("<I", v).hex()


def _md5_hex_stream(text: Column, n_chars: Column) -> Column:
    """The first n_chars hex chars of md5(text) repeated: the
    deterministic byte source of every payload builder (md5 hex is 32
    chars)."""
    reps = (F.floor(n_chars / 32) + 1).cast("int")
    return F.substring(F.call_function("repeat", F.md5(text), reps), F.lit(1), n_chars)


def _media_rows(frame: DataFrame, media_type: str, payload: Column) -> DataFrame:
    """The media row every builder emits: doc_id, the declared
    media_type, the payload, its byte size and its md5 checksum."""
    return frame.select(
        "doc_id",
        F.lit(media_type).alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("size_bytes"),
        F.md5(payload).alias("checksum"),
    )


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column + typed metadata.

    (In production the payload would come from object storage; here the
    document bytes stand in so the column plumbing is end-to-end real.)
    """
    return _media_rows(docs, "image/fake", F.encode(F.col(text_col), "UTF-8"))


def _parse_ppm(payload: bytes) -> tuple[int, int, int] | None:
    """REAL pure-Python decoder for the netpbm family (P1-P6): parses
    the ASCII header (magic, optional #-comments, width, height, maxval
    for non-bitmap types) and validates raster length for the binary
    forms. Returns (width, height, channels) or None if not netpbm /
    corrupt. No image libraries required — the format is a public,
    trivially parseable spec, which makes one modality decode-REAL in
    this container."""
    if len(payload) < 2 or payload[0:1] != b"P" or payload[1:2] not in b"123456":
        return None
    kind = payload[1]

    # tokenize header: whitespace-separated ints, # comments to EOL
    tokens: list[int] = []
    i = 2
    need = 2 if kind in (0x31, 0x34) else 3  # P1/P4 have no maxval
    while i < len(payload) and len(tokens) < need:
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < len(payload) and payload[j : j + 1].isdigit():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        else:
            return None
    if len(tokens) < need:
        return None
    width, height = tokens[0], tokens[1]
    if width <= 0 or height <= 0:
        return None
    if kind in (0x33, 0x36):  # P3/P6 RGB
        channels = 3
    else:  # P1/P4 bitmap, P2/P5 graymap
        channels = 1
    if kind in (0x35, 0x36):  # binary gray/RGB: single whitespace then raster
        i += 1
        if len(payload) - i < width * height * channels:
            return None
    elif kind == 0x34:  # binary bitmap: rows padded to whole bytes
        i += 1
        if len(payload) - i < ((width + 7) // 8) * height:
            return None
    return width, height, channels


def _parse_bmp(payload: bytes) -> tuple[int, int, int] | None:
    """REAL pure-Python BMP (Windows DIB) decoder: validates the BM file
    header and reads width/height/bit-count from a BITMAPINFOHEADER-or-
    later DIB header. Returns (width, height, channels) or None."""
    if len(payload) < 54 or payload[0:2] != b"BM":
        return None
    file_size = struct.unpack_from("<I", payload, 2)[0]
    if file_size > len(payload):
        return None
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:  # BITMAPCOREHEADER not supported
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    bit_count = struct.unpack_from("<H", payload, 28)[0]
    if width <= 0 or height == 0 or bit_count == 0:
        return None
    return width, abs(height), max(1, bit_count // 8)


def attach_ppm_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize REAL P6 PPM payloads from document text, entirely
    JVM-side: dims derive from n_chars (w = 1 + n%8, h = 1 + (n/8)%8),
    the raster is the md5 hex stream of the text repeated to w·h·3
    bytes. The decode stage then parses these as genuine image bytes —
    construction is deterministic, so the DuckDB oracle can state the
    expected dimensions without a decoder."""
    n = F.length(F.col(text_col))
    w = (n % 8 + 1).cast("int")
    h = (F.floor(n / 8).cast("int") % 8 + 1).cast("int")
    header = F.concat_ws(
        "", F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    # w*h*3 raster bytes = 2x that in hex
    raster_hex = _md5_hex_stream(F.col(text_col), w * h * F.lit(6))
    payload = F.concat(F.encode(header, "UTF-8"), F.unhex(raster_hex))
    return _media_rows(docs, "image/x-portable-pixmap", payload)


def _png_defilter(raw: bytes, width: int, height: int, bpp: int) -> bytes | None:
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth). ``raw`` is the inflated stream: per row, 1 filter byte +
    width*bpp sample bytes. Pure stdlib; returns the defiltered raster
    or None if a row carries an invalid filter type."""
    stride = width * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ft = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            return None
        out += row
        prev = row
    return bytes(out)


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def _decode_png(payload: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL pure-stdlib PNG decoder: signature + chunk walk (length/type
    framing, CRC32 verified via zlib.crc32), IHDR parse, IDAT concat,
    zlib inflate, and full scanline DEFILTER including Paeth. Supports
    8-bit non-interlaced gray/RGB/gray-alpha/RGBA — a COMPRESSED format
    decoded for real with no codec library (zlib is the Python stdlib).
    Returns (width, height, channels, raster) or None if not PNG /
    corrupt."""
    if len(payload) < 45 or payload[0:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    ihdr = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        data_start = pos + 8
        if data_start + length + 4 > len(payload):
            return None
        data = payload[data_start : data_start + length]
        (crc,) = struct.unpack_from(">I", payload, data_start + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None
        if ctype == b"IHDR":
            if length != 13 or ihdr is not None:
                return None
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos = data_start + length + 4
    if ihdr is None or not idat or not seen_iend:
        return None
    width, height, bit_depth, color_type, comp, filt, interlace = ihdr
    if (
        width <= 0
        or height <= 0
        or bit_depth != 8
        or color_type not in _PNG_CHANNELS
        or comp != 0
        or filt != 0
        or interlace != 0
    ):
        return None
    channels = _PNG_CHANNELS[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    if len(raw) != height * (1 + width * channels):
        return None
    raster = _png_defilter(raw, width, height, channels)
    if raster is None:
        return None
    return width, height, channels, raster


def _parse_png(payload: bytes) -> tuple[int, int, int] | None:
    decoded = _decode_png(payload)
    return None if decoded is None else decoded[:3]


def attach_png_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize GENUINE PNG payloads from document text, entirely
    JVM-side — same dimension rule as ``attach_ppm_binary`` (w = 1+n%8,
    h = 1+(n/8)%8, RGB raster from the repeated md5 hex stream), so the
    DuckDB oracle states expected dims without a decoder.

    A PNG needs zlib framing and checksums, all of which codegen can
    produce without a compressor: the IDAT stream is a single STORED
    deflate block (legal zlib: 78 01, block header 01 + LEN/NLEN
    little-endian, raw bytes), the adler32 is two closed-form weighted
    sums over the per-byte ints (s1 = 1+Σb, s2 = n+Σ(n-i+1)·b — no
    sequential fold needed), and chunk CRCs are Spark's built-in
    ``crc32``.

    The construction is STAGED through successive selects so each
    expensive string (raster hex, raw stream, byte array, chunk bodies)
    is computed once per row — inlined, CollapseProject would re-expand
    the whole raw-stream subtree into every per-byte lambda reference
    (O(bytes²) work; measured ~11 ms/row before staging)."""
    n = F.length(F.col(text_col))
    dims = docs.select(
        "doc_id",
        F.col(text_col).alias("_text"),
        (n % 8 + 1).cast("int").alias("_w"),
        (F.floor(n / 8).cast("int") % 8 + 1).cast("int").alias("_h"),
    )
    raster = dims.select(
        "doc_id",
        "_w",
        "_h",
        _md5_hex_stream(F.col("_text"), F.col("_h") * F.col("_w") * 6).alias(
            "_raster_hex"
        ),
    )
    # raw deflate payload: per scanline, filter byte 00 + 3w raster bytes
    raw = raster.select(
        "doc_id",
        "_w",
        "_h",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.col("_h")),
                lambda r: F.concat(
                    F.lit("00"),
                    F.substring(
                        F.col("_raster_hex"),
                        (r - 1) * F.col("_w") * 6 + 1,
                        F.col("_w") * 6,
                    ),
                ),
            ),
            "",
        ).alias("_raw_hex"),
        (F.col("_h") * (F.col("_w") * 3 + 1)).cast("bigint").alias("_raw_len"),
    )
    bts = raw.withColumn(
        "_bts",
        F.transform(
            F.sequence(F.lit(1), F.col("_raw_len").cast("int")),
            lambda i: F.conv(F.substring(F.col("_raw_hex"), (i - 1) * 2 + 1, 2), 16, 10)
            .cast("long"),
        ),
    )
    # adler32 closed form: s1 = (1+Σb) mod 65521; s2 = Σ_{i} s1_i =
    # (n + Σ (n-i+1)·b_i) mod 65521. Products stay < 2^63 for any
    # payload this builder emits (raw_len ≤ 200).
    adler = bts.select(
        "doc_id",
        "_w",
        "_h",
        "_raw_hex",
        "_raw_len",
        (
            (
                F.col("_raw_len")
                + F.aggregate(
                    F.zip_with(
                        F.col("_bts"),
                        F.sequence(F.col("_raw_len"), F.lit(1), F.lit(-1)),
                        lambda b, wt: b * wt,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
            )
            % 65521
        ).alias("_s2"),
        (
            (
                F.lit(1)
                + F.aggregate(
                    F.col("_bts"), F.lit(0).cast("long"), lambda acc, x: acc + x
                )
            )
            % 65521
        ).alias("_s1"),
    )
    zlib_col = adler.select(
        "doc_id",
        "_w",
        "_h",
        F.concat(
            F.lit("780101"),  # zlib header (no preset dict) + final stored block
            _le_hex(F.col("_raw_len"), 2),
            _le_hex(F.lit(65535) - F.col("_raw_len"), 2),
            F.col("_raw_hex"),
            _be_hex(F.col("_s2") * 65536 + F.col("_s1"), 8),
        ).alias("_zlib_hex"),
    )
    # chunk bodies staged so crc32 reads a bound column, not a re-inlined
    # concat tree
    bodies = zlib_col.select(
        "doc_id",
        F.concat(
            F.lit("49484452"),  # "IHDR"
            _be_hex(F.col("_w").cast("long"), 8),
            _be_hex(F.col("_h").cast("long"), 8),
            F.lit("0802000000"),  # 8-bit, RGB, deflate, adaptive, no interlace
        ).alias("_ihdr_body"),
        F.concat(F.lit("49444154"), F.col("_zlib_hex")).alias("_idat_body"),
    )

    def chunk_from_body(body_col):
        return F.concat(
            _be_hex((F.length(body_col) / 2 - 4).cast("long"), 8),
            body_col,
            _be_hex(F.crc32(F.unhex(body_col)), 8),
        )

    final = bodies.select(
        "doc_id",
        F.unhex(
            F.concat(
                F.lit("89504E470D0A1A0A"),
                chunk_from_body(F.col("_ihdr_body")),
                chunk_from_body(F.col("_idat_body")),
                F.lit("0000000049454E44AE426082"),  # empty IEND, constant CRC
            )
        ).alias("payload"),
    )
    return _media_rows(final, "image/png", F.col("payload"))


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE decoder (no image libs in this container):
    derives (width, height, channels) from the payload's md5. Replace the
    body with e.g. PIL.Image.open when a real codec is available."""
    h = hashlib.md5(payload).hexdigest()
    width = 1 + int(h[0:2], 16) % 64
    height = 1 + int(h[2:4], 16) % 64
    channels = 1 + int(h[4:6], 16) % 4
    return width, height, channels


def decode_image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode stage: (doc_id, payload) → image features.

    ``mapInPandas`` keeps partitioning: each input split is decoded
    in-place by its executor, no shuffle, batch size bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """

    def decode_one(mt: str, p: bytes) -> tuple[int, int, int, bool]:
        # REAL parsers for the dependency-free formats; the declared
        # media_type routes — magic-sniffing alone would mis-parse an
        # "image/fake" payload whose text happens to start with "P3".
        # Unknown/other types use the documented deterministic fake so
        # the pipeline stays total; corrupt netpbm/BMP → not-ok.
        if mt == "image/x-portable-pixmap" or (
            mt != "image/fake" and p[0:1] == b"P" and p[1:2] in b"123456"
        ):
            parsed = _parse_ppm(p)
        elif mt == "image/png" or (
            mt != "image/fake" and p[0:8] == b"\x89PNG\r\n\x1a\n"
        ):
            parsed = _parse_png(p)
        elif mt == "image/bmp" or (mt != "image/fake" and p[0:2] == b"BM"):
            parsed = _parse_bmp(p)
        else:
            return (*_fake_decode(p), True)
        if parsed is None:
            return 0, 0, 0, False
        return (*parsed, True)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_one(mt, bytes(p))
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_channels": [f[2] for f in feats],
                    "decode_ok": [f[3] for f in feats],
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        decode, IMAGE_FEATURES_SCHEMA
    )


def frame_sample(media: DataFrame, every_n: int = 10, n_frames_col: str = "size_bytes") -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame index.

    Stands in for video frame extraction: the explode happens JVM-side;
    only the (stubbed) per-frame decode would be Python. A zero-byte
    payload has no frames and emits no rows (the greatest(...) guard
    alone would emit a phantom frame 0 for empty input)."""
    return media.where(F.col(n_frames_col) > 0).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col(n_frames_col).cast("int") - 1, F.lit(every_n))
        ).alias("frame_index"),
    )


# --- decode kit: the Python-side plumbing every RIFF / audio decoder shares --


def _decode_stage(
    media: DataFrame, schema: StructType, parse: Callable[[bytes], tuple | None]
) -> DataFrame:
    """Arrow-batched decode stage over (doc_id, payload): ``parse`` maps
    one payload to the tuple of ``schema``'s feature columns (every field
    between doc_id and the trailing decode_ok), or to None for a payload
    it refuses, which yields ``decode_ok = false`` and zeros typed from
    the schema instead of poisoning the batch. Partition-preserving
    ``mapInPandas``: no shuffle, no state."""
    feature_fields = schema.fields[1:-1]
    names = [f.name for f in feature_fields]
    zeros = tuple(
        0.0 if isinstance(f.dataType, DoubleType) else 0 for f in feature_fields
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [parse(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(
                [zeros if r is None else r for r in rows], columns=names
            )
            out.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            out["decode_ok"] = [r is not None for r in rows]
            yield out

    return media.select("doc_id", "payload").mapInPandas(decode, schema)


def _riff_chunks(buf: bytes, pos: int = 12) -> Iterator[tuple[bytes, bytes, bool]]:
    """Walk the RIFF chunks of ``buf`` from ``pos`` (12 skips the RIFF
    header; 4 walks a LIST body past its type): yield (fourcc, body,
    whole) per chunk and step over the pad byte after an odd-sized body.
    ``whole`` is false when the body runs past the end of ``buf``; each
    caller decides whether a cut chunk makes its payload corrupt."""
    while pos + 8 <= len(buf):
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + clen]
        yield buf[pos : pos + 4], body, len(body) == clen
        pos += 8 + clen + (clen & 1)


def _rms_q(sum_sq: int, n: int) -> int:
    """floor(sqrt(Σv²/n)), 0 for no samples. Every intermediate is exact
    in float64 for the payloads the builders emit (Σv² < 2^53), so the
    quantized RMS is engine-portable for the oracle."""
    return int(math.floor(math.sqrt(sum_sq / n))) if n else 0


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_windows", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("rms_q", IntegerType()),
        StructField("decode_ok", BooleanType()),
    ]
)


def _fake_audio_decode(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE audio decoder (no audio libs in container):
    sample rate and quantized RMS derived from the payload md5; duration
    proportional to byte length."""
    h = hashlib.md5(payload).hexdigest()
    sample_rate = (8000, 16000, 22050, 44100)[int(h[6], 16) % 4]
    duration_ms = len(payload) * 10
    rms_q = int(h[7:11], 16) % 1000
    return sample_rate, duration_ms, rms_q


def _audio_features(payload: bytes, window_ms: int) -> tuple[int, int, int, int]:
    # RIFF/WAVE PCM decodes for real; anything else (including a corrupt
    # RIFF) takes the deterministic fake
    decoded = _decode_wav(payload)
    if decoded is None:
        rate, dur, rms = _fake_audio_decode(payload)
    else:
        rate, _nch, _nf, dur, rms = decoded
    return (dur + window_ms - 1) // window_ms, rate, dur, rms


def decode_audio_features(media: DataFrame, window_ms: int = 250) -> DataFrame:
    """Audio twin of ``decode_image_features``: per-clip stats plus the
    window count a framing stage would explode to (``ceil(duration /
    window)`` — the audio analog of frame_sample). RIFF/WAVE PCM payloads
    decode for real; every other payload, compressed codecs (mp3/ogg/
    flac) included, falls back to the deterministic fake, so
    ``decode_ok`` is always true."""
    return _decode_stage(
        media, AUDIO_FEATURES_SCHEMA, partial(_audio_features, window_ms=window_ms)
    )


# --- WAV (RIFF PCM): decode-REAL audio, stdlib-pure --------------------------
# Mirrors the PNG move (attach_png_binary / _decode_png): genuine payloads
# built JVM-side, parsed by the stdlib `wave` module — audio joins netpbm/
# BMP/PNG as a decode-real modality.

WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("rms_q", IntegerType()),
        StructField("decode_ok", BooleanType()),
    ]
)

_WAV_RATES = (8000, 16000, 22050, 44100)


def _wave_base(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, _text, _rate, _nf), the shape every WAVE builder starts
    from: sample rate from ``_WAV_RATES`` by ``length(text) % 4`` and
    ``1 + length(text) % 250`` frames."""
    n = F.length(F.col(text_col))
    return docs.select(
        "doc_id",
        F.col(text_col).alias("_text"),
        F.element_at(
            F.array(*[F.lit(r) for r in _WAV_RATES]), (n % 4 + 1).cast("int")
        ).alias("_rate"),
        (n % 250 + 1).cast("int").alias("_nf"),
    )


def _riff_wave(fmt_hex: Column, fmt_len: int, data_hex: Column, data_len: Column) -> Column:
    """RIFF/WAVE payload bytes from the hex of a fmt chunk body (fmt_len
    bytes) and of a data chunk body (data_len bytes). The RIFF size
    counts "WAVE", both chunk headers and both bodies."""
    return F.unhex(
        F.concat(
            F.lit("52494646"),  # "RIFF"
            _le_hex(F.lit(4 + 8 + fmt_len + 8) + data_len, 4),
            F.lit("57415645666D7420" + _le32(fmt_len)),  # "WAVE" "fmt " + LE32
            fmt_hex,
            F.lit("64617461"),  # "data"
            _le_hex(data_len, 4),
            data_hex,
        )
    )


def attach_wav_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize GENUINE RIFF/WAVE PCM payloads from document text,
    entirely JVM-side: 16-bit mono, sample rate chosen from a 4-entry
    table by ``length(text) % 4``, ``1 + length(text) % 250`` frames
    whose int16 values come from the repeated md5 hex stream — so the
    DuckDB oracle can state rate / frame count / exact RMS without any
    decoder, the same construction-replay trick as ``attach_png_binary``.

    WAV needs no compressor or checksum: the payload is a fixed-layout
    little-endian header + raw PCM, so the whole build is string
    concatenation over hex, staged per the CollapseProject rule (stream
    and data hex bind to columns before reuse). Sample VALUES read
    big-endian from the hex stream; the payload stores each as the
    little-endian byte pair WAV requires (swap via one regexp_replace
    pass over the 4-hex-char sample tiles)."""
    stream = _wave_base(docs, text_col).select(
        "doc_id",
        "_rate",
        "_nf",
        _md5_hex_stream(F.col("_text"), F.col("_nf") * 4).alias("_stream"),
    )
    # one regex pass swaps every sample's hex byte pair ((c1c2)(c3c4) →
    # (c3c4)(c1c2)); the stream is exactly _nf·4 hex chars, so the
    # non-overlapping 4-char matches tile it completely. Replaces a
    # per-sample transform (sequence + 2 substrings + concat + array_join
    # per element) that dominated the whole wav query (~2.8s of ~3.0s at
    # sf0.1, measured) with one linear scan of the string.
    data = stream.select(
        "doc_id",
        "_rate",
        "_nf",
        F.regexp_replace(F.col("_stream"), "(..)(..)", "$2$1").alias(
            "_data_hex"
        ),
    )
    fmt = F.concat(
        F.lit("01000100"),  # PCM, mono
        _le_hex(F.col("_rate"), 4),
        _le_hex(F.col("_rate") * 2, 4),  # byte rate (mono int16)
        F.lit("02001000"),  # block align 2, 16 bits/sample
    )
    final = data.select(
        "doc_id",
        _riff_wave(fmt, 16, F.col("_data_hex"), F.col("_nf") * 2).alias("payload"),
    )
    return _media_rows(final, "audio/wav", F.col("payload"))


def _read_wav(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """The one stdlib-``wave`` reader: (rate, channels, int64 samples
    interleaved over channels) of a 16-bit RIFF/WAVE PCM payload, or None
    for a corrupt one — never an exception that poisons the batch.
    Samples come back as an int64 NumPy array (exact — int16 values
    widened), so the kernels consume them without a per-sample Python
    list round-trip."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            rate = wf.getframerate()
            nch = wf.getnchannels()
            sampwidth = wf.getsampwidth()
            nf = wf.getnframes()
            frames = wf.readframes(nf)
    except (wave.Error, EOFError, RuntimeError):
        # RuntimeError: wave's chunk reader seeking past the end of a
        # chunk whose declared size overruns the payload
        return None
    if sampwidth != 2 or nch < 1:
        return None
    if len(frames) != nf * nch * 2:
        # data chunk cut mid-frame (wave.open accepts it; unpacking would
        # raise outside the except above) — corrupt, same contract as a
        # bad header
        return None
    return rate, nch, np.frombuffer(frames, dtype="<i2").astype(np.int64)


def _decode_wav(payload: bytes) -> tuple[int, int, int, int, int] | None:
    """Parse a RIFF/WAVE PCM payload with the stdlib ``wave`` module and
    compute (rate, channels, frames, duration_ms, rms_q) from the ACTUAL
    samples. rms_q = floor(sqrt(mean(v²))) over int16 values."""
    read = _read_wav(payload)
    if read is None:
        return None
    rate, nch, vals = read
    nf = len(vals) // nch
    duration_ms = nf * 1000 // rate if rate else 0
    # vectorized Σv²: the int64 dot product is exact (each term < 2^31,
    # payloads are ≤ 250 frames, far under int64)
    return rate, nch, nf, duration_ms, _rms_q(int(np.dot(vals, vals)), len(vals))


def decode_wav_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL WAV decode stage: non-WAV / corrupt payloads
    yield ``decode_ok = false`` zeros instead of poisoning the batch."""
    return _decode_stage(media, WAV_FEATURES_SCHEMA, _decode_wav)


# --- WAV autocorrelation pitch: real DSP over decoded samples ----------------
# The feature-extraction rung ABOVE decode: autocorrelation pitch
# estimation (the classic time-domain pitch detector) + zero-crossing
# rate, computed from the ACTUAL int16 samples the stdlib `wave` module
# returns. Every statistic is integer arithmetic (Σ v_i·v_{i+L} fits
# int64: 250 terms × 32768² ≈ 2.7e11), so the DuckDB oracle replays the
# construction and matches bit-for-bit — no float DSP portability risk.

WAV_PITCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("best_lag", IntegerType()),
        StructField("ac_peak", LongType()),
        StructField("pitch_hz", DoubleType()),
        StructField("zero_crossings", IntegerType()),
        StructField("decode_ok", BooleanType()),
    ]
)

_MAX_LAG = 32


def _wav_samples(payload: bytes) -> tuple[int, np.ndarray] | None:
    """(rate, int64 sample ndarray) of a MONO RIFF/WAVE PCM payload, or
    None — same corrupt-payload contract as ``_decode_wav``."""
    read = _read_wav(payload)
    if read is None or read[1] != 1:
        return None
    return read[0], read[2]


def _wav_pitch(payload: bytes, max_lag: int) -> tuple[int, int, int, float, int] | None:
    samples = _wav_samples(payload)
    if samples is None:
        return None
    rate, v = samples
    n = len(v)
    best_lag = ac_peak = zc = 0
    if n >= 2:
        n_lags = min(max_lag, n - 1)
        acs = [int(np.dot(v[:-L], v[L:])) for L in range(1, n_lags + 1)]
        best_lag = 1 + max(range(n_lags), key=lambda i: (acs[i], -i))
        ac_peak = acs[best_lag - 1]
        zc = int(np.sum((v[:-1] < 0) != (v[1:] < 0)))
    # half-away rounding (the engine/oracle tie rule; Python's round() is
    # banker's) — see operators/_numeric.py
    pitch_hz = math.floor(rate / best_lag * 1e6 + 0.5) / 1e6 if best_lag else 0.0
    return rate, best_lag, ac_peak, pitch_hz, zc


def wav_autocorr_pitch(media: DataFrame, max_lag: int = _MAX_LAG) -> DataFrame:
    """Arrow-batched autocorrelation pitch over real WAV payloads:
    best_lag = argmax over L ∈ [1, min(max_lag, n-1)] of
    Σ_i v_i·v_{i+L} (ties → smallest L), pitch_hz = rate / best_lag,
    plus the zero-crossing count (sign changes between neighbours).
    Documents with < 2 samples (or corrupt payloads) emit zeros with
    ``decode_ok`` false only for the corrupt case.

    Scale shape: partition-preserving ``mapInPandas`` — no shuffle, no
    state; per-row cost is max_lag·n int multiplies on NumPy int64.
    The autocorrelation is exact integer math end-to-end, so the value
    hash is engine-portable without any rounding contract.
    """
    return _decode_stage(media, WAV_PITCH_SCHEMA, partial(_wav_pitch, max_lag=max_lag))


def _wave_fmt_data(payload: bytes, tag: int, bits: int) -> tuple[int, bytes, bytes] | None:
    """Manual RIFF/WAVE walk for the codecs the stdlib ``wave`` module
    refuses: (rate, fmt body, data body) of a mono payload in format
    ``tag`` at ``bits`` per sample, or None (bad magic, another format,
    a missing chunk or a truncated data chunk)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt = data = None
    for cid, body, whole in _riff_chunks(payload):
        if cid == b"fmt ":
            if len(body) < 16:
                return None
            ftag, nch, _rate, _br, _ba, fbits = struct.unpack_from("<HHIIHH", body)
            if (ftag, nch, fbits) != (tag, 1, bits):
                return None
            fmt = body
        elif cid == b"data":
            if not whole:
                return None
            data = body
    if fmt is None or data is None:
        return None
    return struct.unpack_from("<I", fmt, 4)[0], fmt, data


# --- G.711 mu-law WAV: decode-REAL *compressed* audio ------------------------
# The audio analogue of the PNG move: mu-law (WAVE format code 7) is a
# genuine COMPRESSED codec — 8-bit logarithmically-companded samples
# expanding to 14-bit linear PCM — decoded here by the published G.711
# expansion formula in pure Python (the stdlib `wave` module refuses
# non-PCM, so the RIFF walk is manual, like the PNG chunk walk).

MULAW_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("rms_q", IntegerType()),
        StructField("decode_ok", BooleanType()),
    ]
)

_MULAW_BIAS = 0x84  # 132, the G.711 bias


def mulaw_expand(b: int) -> int:
    """G.711 mu-law byte → linear PCM (±32124), the standard expansion:
    complement, split sign/exponent/mantissa, shift the biased mantissa
    by the exponent, remove the bias. Integer-exact — the DuckDB oracle
    replays this arithmetic verbatim."""
    u = ~b & 0xFF
    t = (((u & 0x0F) << 3) + _MULAW_BIAS) << ((u >> 4) & 0x07)
    return (_MULAW_BIAS - t) if (u & 0x80) else (t - _MULAW_BIAS)


# 256-entry squared-expansion table: the decode loop only ever needs
# v² per companded byte, so Σv² becomes one vectorized table gather +
# sum instead of a Python mulaw_expand call per sample (guide §4.2).
# Derived from mulaw_expand itself — a change to the formula cannot
# desynchronize the table.
_MULAW_SQ = np.asarray([mulaw_expand(b) ** 2 for b in range(256)], dtype=np.int64)


def attach_mulaw_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize GENUINE RIFF/WAVE mu-law payloads (format code 7,
    8-bit mono) from document text, entirely JVM-side — same
    construction-replay contract as ``attach_wav_binary``: rate from the
    4-entry table by ``length(text) % 4``, ``1 + length(text) % 250``
    one-byte frames straight off the repeated md5 hex stream."""
    stream = _wave_base(docs, text_col).select(
        "doc_id",
        "_rate",
        "_nf",
        _md5_hex_stream(F.col("_text"), F.col("_nf") * 2).alias("_data_hex"),
    )
    fmt = F.concat(
        F.lit("07000100"),  # format 7 (mu-law), mono
        _le_hex(F.col("_rate"), 4),
        _le_hex(F.col("_rate"), 4),  # byte rate (1 byte/frame)
        F.lit("01000800"),  # block align 1, 8 bits/sample
    )
    final = stream.select(
        "doc_id",
        _riff_wave(fmt, 16, F.col("_data_hex"), F.col("_nf")).alias("payload"),
    )
    return _media_rows(final, "audio/basic", F.col("payload"))


def _decode_mulaw(payload: bytes) -> tuple[int, int, int, int] | None:
    """Manual RIFF walk (the stdlib ``wave`` module refuses format 7) +
    G.711 expansion: returns (rate, n_frames, duration_ms, rms_q over
    the EXPANDED linear samples) or None for corrupt payloads."""
    chunks = _wave_fmt_data(payload, 7, 8)
    if chunks is None:
        return None
    rate, _fmt, data = chunks
    nf = len(data)
    duration_ms = nf * 1000 // rate if rate else 0
    # exact: table holds v² ≤ 32124² as int64, ≤ 250 terms per payload
    sum_sq = int(np.take(_MULAW_SQ, np.frombuffer(data, dtype=np.uint8)).sum())
    return rate, nf, duration_ms, _rms_q(sum_sq, nf)


def decode_mulaw_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL mu-law decode stage; corrupt payloads yield
    ``decode_ok = false``."""
    return _decode_stage(media, MULAW_FEATURES_SCHEMA, _decode_mulaw)


# --- IMA ADPCM (format 0x11): decode-REAL *differential* compression -------
# A third rung of the decode-real audio ladder: PCM (attach_wav_binary)
# -> companding (mu-law, byte-independent) -> ADPCM, a genuinely
# ADAPTIVE DIFFERENTIAL codec where every 4-bit code means nothing
# without the (predictor, step-index) state carried from all previous
# samples. Both tables are the published IMA/DVI spec (the same ones in
# CPython's audioop.c); the nibble core is pinned bit-exact against
# audioop.adpcm2lin in tests.

ADPCM_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
ADPCM_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def adpcm_decode_nibbles(
    nibbles, pred: int = 0, idx: int = 0
) -> list[int]:
    """The published IMA ADPCM sample reconstruction: per 4-bit code,
    diff = (step>>3) + bit-weighted step fractions, predictor clamps to
    int16, step index walks the 89-entry table. Pinned bit-exact
    against CPython's audioop.adpcm2lin for the same nibble sequence."""
    out = []
    for n in nibbles:
        step = ADPCM_STEPS[idx]
        d = step >> 3
        if n & 1:
            d += step >> 2
        if n & 2:
            d += step >> 1
        if n & 4:
            d += step
        pred = pred - d if n & 8 else pred + d
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + ADPCM_INDEX[n & 7]))
        out.append(pred)
    return out


def attach_adpcm_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize GENUINE RIFF/WAVE IMA-ADPCM payloads (format code
    0x11, mono, 4 bits/sample, one block) from document text, entirely
    JVM-side — the construction-replay contract of the WAV/mu-law
    attachers: rate from the 4-entry table by ``length(text) % 4``,
    ``1 + length(text) % 250`` nibble samples straight off the repeated
    md5 hex stream (each hex char IS a 4-bit code), packed low-nibble-
    first per the IMA-WAV layout (= swap adjacent hex chars), behind a
    spec block header (initial predictor 0, step index 0) and a 20-byte
    fmt chunk carrying samplesPerBlock."""
    nbytes = F.ceil(F.col("_nf") / 2).cast("int")
    stream = _wave_base(docs, text_col).select(
        "doc_id",
        "_rate",
        "_nf",
        nbytes.alias("_nb"),
        # nf hex chars = nf 4-bit codes, zero-padded to a whole byte
        F.rpad(_md5_hex_stream(F.col("_text"), F.col("_nf")), nbytes * 2, "0").alias(
            "_nib_hex"
        ),
    )
    # IMA-WAV packs the FIRST sample into the LOW nibble: byte j's hex
    # repr is (code 2j+1, code 2j) — i.e. swap each adjacent char pair
    packed = F.regexp_replace(F.col("_nib_hex"), "(.)(.)", "$2$1")
    fmt = F.concat(
        F.lit("11000100"),  # format 0x11 (IMA ADPCM), mono
        _le_hex(F.col("_rate"), 4),
        _le_hex(F.col("_rate"), 4),  # nominal byte rate (unchecked)
        _le_hex(F.lit(4) + F.col("_nb"), 2),  # block align = 1 block
        F.lit("0400"),  # 4 bits/sample
        F.lit("0200"),  # cbSize = 2
        _le_hex(F.col("_nf"), 2),  # samplesPerBlock
    )
    # data: block header (pred=0, idx=0, rsvd) + packed codes
    data = F.concat(F.lit("00000000"), packed)
    final = stream.select(
        "doc_id",
        _riff_wave(fmt, 20, data, F.lit(4) + F.col("_nb")).alias("payload"),
    )
    return _media_rows(final, "audio/adpcm", F.col("payload"))


def _decode_adpcm(payload: bytes) -> tuple[int, int, int, int] | None:
    """Manual RIFF walk (stdlib ``wave`` refuses format 0x11) + the IMA
    reconstruction above: returns (rate, n_samples, duration_ms, rms_q
    over the RECONSTRUCTED int16 samples) or None for corrupt
    payloads."""
    chunks = _wave_fmt_data(payload, 0x11, 4)
    if chunks is None:
        return None
    rate, fmt, data = chunks
    if len(data) < 4:
        return None
    pred0, idx0, _rsvd = struct.unpack_from("<hBB", data)
    if not 0 <= idx0 <= 88:
        return None
    nibbles = []
    for b in data[4:]:
        nibbles.append(b & 0xF)  # first sample: LOW nibble
        nibbles.append(b >> 4)
    n_samples = len(nibbles)
    if len(fmt) >= 20:  # cbSize + samplesPerBlock extension
        n_samples = min(struct.unpack_from("<H", fmt, 18)[0], n_samples)
    samples = adpcm_decode_nibbles(nibbles[:n_samples], pred0, idx0)
    duration_ms = n_samples * 1000 // rate if rate else 0
    return rate, n_samples, duration_ms, _rms_q(sum(v * v for v in samples), n_samples)


def decode_adpcm_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL IMA-ADPCM decode stage; corrupt payloads yield
    ``decode_ok = false``."""
    return _decode_stage(media, MULAW_FEATURES_SCHEMA, _decode_adpcm)


# --- AVI (RIFF container): decode-REAL video -------------------------------
# Video joins the decode-real families the same way audio did: genuine
# RIFF/AVI payloads built JVM-side — full hdrl (avih + strl/strh/strf)
# and movi structure per the public AVI spec, uncompressed 24-bit DIB
# frames — walked by a pure-Python RIFF parser. Perceptual video codecs
# (h264 etc.) have no decoder here; the container format itself is
# decode-real end-to-end.

AVI_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("usec_per_frame", IntegerType()),
        StructField("sum_bytes", LongType()),
        StructField("decode_ok", BooleanType()),
    ]
)

_AVI_USEC = (33333, 40000, 16667, 20000)  # ~30/25/60/50 fps


def attach_avi_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize GENUINE RIFF/AVI payloads from document text,
    entirely JVM-side: width 4 or 8 (rows of 24-bit pixels stay 4-byte
    aligned), height 2-4, 1-5 uncompressed '00db' DIB frames whose
    bytes come off the repeated md5 hex stream; frame timing from a
    4-entry usec table. The full header tree (avih + strl with
    strh/strf) is emitted per the spec so any AVI reader accepts the
    file — same construction-replay oracle contract as WAV/mu-law."""
    n = F.length(F.col(text_col))
    base = docs.select(
        "doc_id",
        F.col(text_col).alias("_text"),
        (F.lit(4) + (n % 2) * 4).cast("int").alias("_w"),
        (F.lit(2) + n % 3).cast("int").alias("_h"),
        (F.lit(1) + n % 5).cast("int").alias("_nf"),
        F.element_at(
            F.array(*[F.lit(u) for u in _AVI_USEC]), (n % 4 + 1).cast("int")
        ).alias("_usec"),
    ).withColumn("_fsize", (F.col("_w") * F.col("_h") * 3).cast("int"))
    stream = base.withColumn(
        "_stream",
        _md5_hex_stream(F.col("_text"), F.col("_nf") * F.col("_fsize") * 2),
    )
    # movi body: per frame '00db' + LE32(fsize) + frame bytes
    movi_frames = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.col("_nf")),
            lambda i: F.concat(
                F.lit("30306462"),  # '00db'
                _le_hex(F.col("_fsize"), 4),
                F.substring(
                    F.col("_stream"),
                    (i - 1) * F.col("_fsize") * 2 + 1,
                    F.col("_fsize") * 2,
                ),
            ),
        ),
        "",
    )
    z = _le32(0)
    # avih: usec, maxbps, padding, flags, totalframes, initial, streams=1,
    # sugbuf=fsize, w, h, 4 reserved
    avih = F.concat(
        F.lit("61766968"),  # 'avih'
        F.lit(_le32(56)),
        _le_hex(F.col("_usec"), 4),
        F.lit(z + z + z),
        _le_hex(F.col("_nf"), 4),
        F.lit(z),
        F.lit(_le32(1)),
        _le_hex(F.col("_fsize"), 4),
        _le_hex(F.col("_w"), 4),
        _le_hex(F.col("_h"), 4),
        F.lit(z * 4),
    )
    # strh: 'vids' 'DIB ' flags prio/lang initial scale=usec rate=1e6
    # start length=nf sugbuf=fsize quality=0 samplesize=0 rcFrame(w,h LE16)
    strh = F.concat(
        F.lit("73747268"),  # 'strh'
        F.lit(_le32(56)),
        F.lit("76696473"),  # 'vids'
        F.lit("44494220"),  # 'DIB '
        F.lit(z + z + z),  # flags, prio+lang, initialframes
        _le_hex(F.col("_usec"), 4),  # dwScale
        F.lit(_le32(1_000_000)),  # dwRate
        F.lit(z),  # dwStart
        _le_hex(F.col("_nf"), 4),  # dwLength
        _le_hex(F.col("_fsize"), 4),  # dwSuggestedBufferSize
        F.lit(z + z),  # quality, samplesize
        F.lit("00000000"),  # rcFrame left/top
        _le_hex(F.col("_w"), 2),
        _le_hex(F.col("_h"), 2),
    )
    # strf: BITMAPINFOHEADER(40): size w h planes=1 bits=24 comp=0
    # sizeimage=fsize xppm yppm clrused clrimp
    strf = F.concat(
        F.lit("73747266"),  # 'strf'
        F.lit(_le32(40)),
        F.lit(_le32(40)),
        _le_hex(F.col("_w"), 4),
        _le_hex(F.col("_h"), 4),
        F.lit("0100" + "1800"),  # planes=1, bits=24 (LE16 pair)
        F.lit(z),  # compression BI_RGB
        _le_hex(F.col("_fsize"), 4),
        F.lit(z * 4),
    )
    strl = F.concat(
        F.lit("4C495354"),  # 'LIST'
        F.lit(_le32(4 + 64 + 48)),  # 'strl' + strh(8+56) + strf(8+40)
        F.lit("7374726C"),  # 'strl'
        strh,
        strf,
    )
    hdrl = F.concat(
        F.lit("4C495354"),
        F.lit(_le32(4 + 64 + 8 + 116)),  # 'hdrl' + avih(8+56) + strl LIST(8+116)
        F.lit("6864726C"),  # 'hdrl'
        avih,
        strl,
    )
    movi_size = F.lit(4) + F.col("_nf") * (F.lit(8) + F.col("_fsize"))
    movi = F.concat(
        F.lit("4C495354"),
        _le_hex(movi_size, 4),
        F.lit("6D6F7669"),  # 'movi'
        movi_frames,
    )
    riff_size = F.lit(4 + 8 + 192 + 8) + movi_size
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),  # 'RIFF'
            _le_hex(riff_size, 4),
            F.lit("41564920"),  # 'AVI '
            hdrl,
            movi,
        )
    )
    return _media_rows(stream, "video/x-msvideo", payload)


def _avi_frames(payload: bytes) -> tuple[tuple[int, ...], list[bytes]] | None:
    """The validated RIFF/AVI walk: (avih's 14 fields, movi frame bodies)
    or None for a corrupt container (bad magic, truncated chunk, missing
    hdrl/movi, or a frame count disagreeing with avih)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if riff_size + 8 > len(payload):
        return None
    avih = None
    frames = []
    for cid, body, whole in _riff_chunks(payload):
        if not whole:
            return None
        if cid != b"LIST" or len(body) < 4:
            continue
        if body[:4] == b"hdrl":
            # avih must be the first child chunk
            if len(body) < 12 or body[4:8] != b"avih":
                return None
            (alen,) = struct.unpack_from("<I", body, 8)
            if alen < 56 or len(body) < 12 + 56:
                return None
            avih = struct.unpack_from("<14I", body, 12)
        elif body[:4] == b"movi":
            for fid, fbody, fwhole in _riff_chunks(body, 4):
                if not fwhole:
                    return None
                if fid in (b"00db", b"00dc"):
                    frames.append(fbody)
    # avih[4] is dwTotalFrames
    if avih is None or not frames or len(frames) != avih[4]:
        return None
    return avih, frames


def _decode_avi(payload: bytes) -> tuple[int, int, int, int, int] | None:
    """Pure-Python RIFF/AVI decode over the validated walk: returns
    (width, height, n_frames_found, usec_per_frame, sum_bytes) or None
    for corrupt containers."""
    walked = _avi_frames(payload)
    if walked is None:
        return None
    avih, frames = walked
    return avih[8], avih[9], len(frames), avih[0], sum(sum(f) for f in frames)


def decode_avi_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL AVI decode stage; corrupt payloads yield
    ``decode_ok = false``."""
    return _decode_stage(media, AVI_FEATURES_SCHEMA, _decode_avi)


AVI_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", IntegerType()),
        StructField("frame_sum", LongType()),
    ]
)


def sample_avi_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling over the RIFF/AVI container (the decode-real
    upgrade of ``frame_sample``'s byte-stride model): keep every
    ``every``-th frame of the validated walk ``decode_avi_features``
    reads, emit per-frame size and byte-sum stats — one output row per
    sampled frame, the 1→N shape a vision-preprocessing stage feeds
    from. Corrupt payloads, the ones ``decode_avi_features`` flags,
    contribute no rows.

    Partition-preserving ``mapInPandas``; cost is row-linear in payload
    bytes, no shuffle."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_sum": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                walked = _avi_frames(bytes(p))
                frames = [] if walked is None else walked[1]
                for idx in range(0, len(frames), every):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(len(frames[idx]))
                    out["frame_sum"].append(sum(frames[idx]))
            yield pd.DataFrame(out, columns=list(AVI_FRAME_SCHEMA.names))

    return media.select("doc_id", "payload").mapInPandas(
        extract, AVI_FRAME_SCHEMA
    )
