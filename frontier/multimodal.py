"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery (schemas, batch shapes, partitioning, UDF
signatures) is real and tested. Image *header* parsing (format sniff +
width/height for PNG/GIF/BMP/JPEG) and audio *header* parsing (RIFF/WAVE
chunk walk: channels, sample rate, bit depth, sample count → duration) are
REAL — pure-stdlib byte parsing, no media library needed. So are the
formats no media library is required for: uncompressed 24-bit BMP decodes
to REAL pixel arrays (``decode_bmp_pixels``: bottom-up row order, 4-byte
row padding, BGR→RGB — numpy only), re-encodes (``encode_bmp``), and
resizes for real (``resize_nearest`` index-map nearest neighbor), and PCM
WAV decodes to REAL sample arrays (``decode_wav_samples``: chunk walk to
the data chunk, int16/uint8 interpretation), and 8-bit truecolor AND
palette PNG decodes with stdlib zlib + inversion of all five scanline
filters at the right bpp (``decode_png_pixels``/``encode_png``/
``encode_png_palette``), GIF — interlaced or not — decodes via a
hand-rolled variable-width LZW plus the four-pass row re-order
(``decode_gif_pixels``/``encode_gif``), and JPEG — baseline AND
progressive (SOF2, successive approximation), grayscale AND YCbCr color
with 4:2:0/4:2:2/4:4:4 subsampling — decodes via real Huffman + IDCT +
chroma upsample + the JFIF color transform (``decode_jpeg_pixels``),
proven on DCT-exact constant-block payloads (DRI restart intervals
honored in every scan type). Video frames come from a real AVI/MJPEG
RIFF walk (``parse_avi_frames``). Only MP3/OGG audio decode, non-AVI
video codecs, and arithmetic-coded JPEG remain STUBBED behind
deterministic fakes
whose outputs are pure functions of ``sha256(payload)``, so those
pipelines stay testable end to end and oracle-checkable from SQL. Swap
the stub callables for real Pillow/pyav/CLIP calls in a deployment;
nothing else changes.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

#: JPEG start-of-frame markers that carry dimensions (SOF0-3,5-7,9-11,13-15;
#: DNL/DHP and non-SOF 0xC4/0xC8/0xCC excluded).
_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}


def parse_image_header(payload: bytes) -> dict | None:
    """REAL image header parse: format + dimensions from the container
    header, pure stdlib byte reads (no image library, no pixel decode).

    Supports PNG (IHDR chunk), GIF 87a/89a (logical screen descriptor),
    BMP (BITMAPINFOHEADER / BITMAPCOREHEADER), and JPEG (first SOF segment
    scan). Returns ``{"media_type", "width", "height", "n_frames"}`` or
    ``None`` when the payload is not a recognized image (caller decides the
    fallback). ``n_frames`` is 1: these are still-image containers (animated
    GIF frame counting would need a full block walk; out of header scope).
    Never raises on truncated/garbage bytes — malformed payloads are data,
    not errors, same policy as the parse kernel.
    """
    try:
        if payload.startswith(b"\x89PNG\r\n\x1a\n") and len(payload) >= 24:
            if payload[12:16] == b"IHDR":
                w, h = struct.unpack(">II", payload[16:24])
                return {"media_type": "png", "width": w, "height": h, "n_frames": 1}
            return None
        if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
            w, h = struct.unpack("<HH", payload[6:10])
            return {"media_type": "gif", "width": w, "height": h, "n_frames": 1}
        if payload.startswith(b"BM") and len(payload) >= 26:
            dib_size = struct.unpack("<I", payload[14:18])[0]
            if dib_size >= 40:
                w, h = struct.unpack("<ii", payload[18:26])
            elif dib_size == 12:  # BITMAPCOREHEADER
                w, h = struct.unpack("<HH", payload[18:22])
            else:
                return None
            return {
                "media_type": "bmp",
                "width": abs(w),
                # negative height = top-down row order, not a negative size
                "height": abs(h),
                "n_frames": 1,
            }
        if payload.startswith(b"\xff\xd8"):
            pos = 2
            n = len(payload)
            while pos + 4 <= n:
                if payload[pos] != 0xFF:
                    return None  # desynced marker stream
                marker = payload[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if marker in _JPEG_SOF_MARKERS:
                    if pos + 9 > n:
                        return None
                    h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
                    return {
                        "media_type": "jpeg",
                        "width": w,
                        "height": h,
                        "n_frames": 1,
                    }
                if 0xD0 <= marker <= 0xD9 or marker == 0x01:
                    pos += 2  # standalone marker (RST/SOI/EOI/TEM)
                    continue
                seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
                if seg_len < 2:
                    return None
                pos += 2 + seg_len
            return None
    except (struct.error, IndexError):
        return None
    return None


def build_image_payload(
    fmt: str, width: int, height: int, filler: bytes = b""
) -> bytes:
    """Construct a minimal VALID image file of ``fmt`` with the given
    dimensions (test/synth builder for the header parsers; real files in
    the sense that the headers are spec-correct — PNG chunk CRCs included —
    while pixel data is placeholder ``filler`` bytes).

    Deterministic sizes (header bytes + len(filler)): png 57, gif 14,
    bmp 54, jpeg 21 — the media_metadata oracle's closed-form n_bytes.
    """
    if fmt == "png":
        ihdr = struct.pack(">II", width, height) + b"\x08\x06\x00\x00\x00"
        idat = filler

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )
    if fmt == "gif":
        return (
            b"GIF89a"
            + struct.pack("<HH", width, height)
            + b"\x00\x00\x00"  # flags, bg color, aspect
            + filler
            + b"\x3b"  # trailer
        )
    if fmt == "bmp":
        body = filler
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
        header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
        return header + dib + body
    if fmt == "jpeg":
        sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1) + b"\x01\x11\x00"
        com = b"\xff\xfe" + struct.pack(">H", 2 + len(filler)) + filler
        return b"\xff\xd8" + sof0 + com + b"\xff\xd9"
    raise ValueError(f"unknown format {fmt!r}")


def decode_image_stub(payload: bytes) -> dict:
    """STUB decode fallback for non-image payloads: deterministic fake
    dimensions derived from a content hash. Real image headers never reach
    this (``parse_image_header`` handles them); replace with a full decoder
    (PIL.Image.open etc.) in production."""
    digest = hashlib.sha256(payload).digest()
    return {
        "width": 64 + digest[0] * 8,
        "height": 64 + digest[1] * 8,
        "n_frames": 1 + digest[2] % 4,
    }


def extract_media_metadata(
    media: DataFrame,
    decode: Callable[[bytes], dict] = decode_image_stub,
    media_type: str = "image",
) -> DataFrame:
    """``(doc_id, payload binary)`` → typed metadata rows.

    PNG/GIF/BMP/JPEG headers are parsed for REAL (``parse_image_header``);
    unrecognized payloads fall back to ``decode`` (stub by default) with
    ``media_type`` as their type label. One Arrow batch at a time; payload
    bytes never leave the executor. At scale, partition the input by
    storage locality — the stage is embarrassingly parallel, shuffle-free.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                meta = parse_image_header(blob)
                if meta is None:
                    meta = {"media_type": media_type, **decode(blob)}
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_bytes": len(blob),
                        "sha256": hashlib.sha256(blob).hexdigest(),
                        **meta,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "media_type",
                    "n_bytes",
                    "sha256",
                    "width",
                    "height",
                    "n_frames",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(run, MEDIA_META_SCHEMA)


# --- audio (WAV) headers -------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def parse_wav_header(payload: bytes) -> dict | None:
    """Real RIFF/WAVE header parse — a pure-stdlib chunk walk, no audio
    library: channels / sample rate / bit depth from the ``fmt `` chunk,
    sample count (hence duration) from the ``data`` chunk size.  Chunks are
    word-aligned (odd sizes carry a pad byte) and may appear in any order
    with strangers (LIST, fact, …) interleaved.  Returns None unless both
    required chunks are present and well-formed.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        if tag == b"fmt " and pos + 8 + 16 <= len(payload) and size >= 16:
            (afmt,) = struct.unpack("<H", payload[pos + 8:pos + 10])
            channels, rate = struct.unpack("<HI", payload[pos + 10:pos + 16])
            (bits,) = struct.unpack("<H", payload[pos + 22:pos + 24])
            fmt = (afmt, channels, rate, bits)
        elif tag == b"data":
            data_size = size
        pos += 8 + size + (size & 1)
    if fmt is None or data_size is None:
        return None
    afmt, channels, rate, bits = fmt
    frame = channels * (bits // 8)
    if frame <= 0 or rate <= 0:
        return None
    n_samples = data_size // frame
    return {
        "media_type": "wav",
        "audio_format": afmt,  # 1 = integer PCM, 3 = IEEE float
        "channels": channels,
        "sample_rate_hz": rate,
        "bits_per_sample": bits,
        "n_samples": n_samples,
        "duration_ms": (n_samples * 1000) // rate,
    }


def build_wav_payload(
    channels: int, sample_rate: int, bits: int, n_samples: int,
    fill_byte: int = 0x42, data: bytes | None = None,
) -> bytes:
    """Spec-correct minimal PCM WAV (test/synth harness — the *parser*
    above is the operator under test).  Layout: 12-byte RIFF header +
    24-byte fmt chunk + 8-byte data header + ``n_samples·channels·bits/8``
    data bytes (+ 1 pad byte when odd), i.e. ``44 + data_size +
    (data_size & 1)`` bytes total — the audio-metadata oracle's closed-form
    n_bytes. Pass ``data`` to carry real sample bytes (must be exactly
    ``n_samples·channels·bits/8`` long) instead of the ``fill_byte``
    placeholder — the input to the REAL PCM decode path."""
    frame = channels * (bits // 8)
    data_size = n_samples * frame
    if data is not None and len(data) != data_size:
        raise ValueError(f"data length {len(data)} != {data_size}")
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * frame, frame, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_size)
        + (data if data is not None else bytes([fill_byte]) * data_size)
        + (b"\x00" if data_size & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_audio_stub(payload: bytes) -> dict:
    """STUB decode fallback for non-WAV audio payloads (mp3/ogg/flac need a
    real codec): deterministic fake parameters from a content hash.  Real
    WAV headers never reach this; replace with soundfile/ffprobe in
    production."""
    digest = hashlib.sha256(payload).digest()
    rate = 8000 * (1 + digest[1] % 4)
    n_samples = 1 + int.from_bytes(digest[2:4], "big") % 48000
    return {
        "channels": 1 + digest[0] % 2,
        "sample_rate_hz": rate,
        "bits_per_sample": 16,
        "n_samples": n_samples,
        "duration_ms": (n_samples * 1000) // rate,
    }


def extract_audio_metadata(
    media: DataFrame,
    decode: Callable[[bytes], dict] = decode_audio_stub,
    media_type: str = "audio",
) -> DataFrame:
    """``(doc_id, payload binary)`` → typed audio metadata rows.

    WAV headers are parsed for REAL (:func:`parse_wav_header`);
    unrecognized payloads fall back to ``decode`` (stub by default) with
    ``media_type`` as their label.  Same scale shape as
    :func:`extract_media_metadata`: Arrow-batched, embarrassingly parallel,
    shuffle-free; payload bytes never leave the executor.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                meta = parse_wav_header(blob)
                if meta is None:
                    meta = {"media_type": media_type, **decode(blob)}
                rows.append(
                    {"doc_id": int(doc_id), "n_bytes": len(blob), **meta}
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_type", "n_bytes", "channels",
                    "sample_rate_hz", "bits_per_sample", "n_samples",
                    "duration_ms",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(run, AUDIO_META_SCHEMA)


MP3_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
    ]
)

#: MPEG-1 Layer III bitrate table (index 1-14; 0 = free, 15 = invalid).
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None,
)
#: MPEG-1 sample-rate table (index 0-2; 3 = reserved).
_MP3_RATES = (44100, 48000, 32000, None)


def _skip_id3v2(payload: bytes) -> int:
    """Offset past a leading ID3v2 tag (syncsafe 28-bit size), else 0."""
    if len(payload) >= 10 and payload[:3] == b"ID3":
        size = (
            (payload[6] & 0x7F) << 21 | (payload[7] & 0x7F) << 14
            | (payload[8] & 0x7F) << 7 | (payload[9] & 0x7F)
        )
        return 10 + size
    return 0


def parse_mp3_header(payload: bytes) -> dict | None:
    """Real MPEG-1 Layer III frame-header parse — pure-stdlib bit picking,
    no codec: skip a leading ID3v2 tag (syncsafe size), locate the first
    frame sync, decode bitrate / sample rate / channel mode from the spec
    tables.  Only MPEG-1 Layer III (the dominant web mp3 profile) parses;
    other versions/layers and free/invalid table indices return None (→
    stub fallback).
    """
    pos = _skip_id3v2(payload)
    head = payload[pos:pos + 4]
    if len(head) < 4 or head[0] != 0xFF or (head[1] & 0xE0) != 0xE0:
        return None
    version = (head[1] >> 3) & 0x3   # 3 = MPEG-1
    layer = (head[1] >> 1) & 0x3     # 1 = Layer III
    if version != 3 or layer != 1:
        return None
    bitrate = _MP3_BITRATES[(head[2] >> 4) & 0xF]
    rate = _MP3_RATES[(head[2] >> 2) & 0x3]
    if bitrate is None or rate is None:
        return None
    mode = (head[3] >> 6) & 0x3      # 3 = mono, else stereo-family
    return {
        "media_type": "mp3",
        "channels": 1 if mode == 3 else 2,
        "sample_rate_hz": rate,
        "bitrate_kbps": bitrate,
    }


def build_mp3_payload(
    bitrate_idx: int, rate_idx: int, mono: bool,
    id3_pad: int = 0, n_data: int = 100,
) -> bytes:
    """Spec-correct minimal MPEG-1 Layer III payload (test/synth harness):
    optional ID3v2 tag of ``id3_pad`` body bytes, one frame header, and
    ``n_data`` placeholder data bytes.  Total size = (10 + id3_pad if
    id3_pad else 0) + 4 + n_data — the mp3-metadata oracle's closed-form
    n_bytes."""
    out = b""
    if id3_pad:
        out += (
            b"ID3\x04\x00\x00"
            + bytes([
                (id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
                (id3_pad >> 7) & 0x7F, id3_pad & 0x7F,
            ])
            + b"\x00" * id3_pad
        )
    out += bytes([
        0xFF,
        0xE0 | (3 << 3) | (1 << 1),              # MPEG-1, Layer III
        ((bitrate_idx & 0xF) << 4) | ((rate_idx & 0x3) << 2),
        (0x3 << 6) if mono else 0x00,            # mono vs stereo
    ])
    return out + b"\x55" * n_data


def extract_mp3_metadata(media: DataFrame) -> DataFrame:
    """``(doc_id, payload binary)`` → mp3 frame metadata rows; non-MPEG-1-
    Layer-III payloads come back with media_type='unknown' and NULL fields
    (honest: estimating them needs a codec).  Same shuffle-free Arrow
    shape as the other metadata extractors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                meta = parse_mp3_header(blob) or {
                    "media_type": "unknown", "channels": None,
                    "sample_rate_hz": None, "bitrate_kbps": None,
                }
                rows.append({"doc_id": int(doc_id), "n_bytes": len(blob), **meta})
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_type", "n_bytes", "channels",
                         "sample_rate_hz", "bitrate_kbps"],
            )

    return media.select("doc_id", "payload").mapInPandas(run, MP3_META_SCHEMA)


# --- resize ------------------------------------------------------------------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_image_stub(payload: bytes, width: int, height: int) -> bytes:
    """STUB resize: deterministic ASCII bytes, a pure function of
    ``sha256(payload)`` and the target dims — ``repeat(hex ":WxH", k)``
    with k scaling in the input size, so output size tracks input size the
    way a re-encode roughly would. ASCII (not raw digest bytes) on purpose:
    the media_resize oracle recomputes ``sha256`` of this payload in DuckDB,
    whose ``sha256`` takes VARCHAR only. Replace with PIL ``Image.resize``
    + re-encode in production."""
    core = hashlib.sha256(payload).hexdigest() + f":{width}x{height}"
    reps = 1 + min(len(payload), 4096) // len(core)
    return (core * reps).encode("ascii")


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    resize: Callable[[bytes, int, int], bytes] = resize_image_stub,
) -> DataFrame:
    """``(doc_id, payload)`` → fixed-dimension re-encoded payloads.

    Shuffle-free mapInPandas; output partitioning == input partitioning, so a
    downstream write preserves storage locality. Target dims ship as plain
    Python closure constants (broadcast via task serialization, zero-cost)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "width": width,
                    "height": height,
                    "payload": [
                        resize(bytes(p) if p is not None else b"", width, height)
                        for p in batch["payload"]
                    ],
                }
            )
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return media.select("doc_id", "payload").mapInPandas(run, RESIZED_SCHEMA)


# --- video frame sampling ----------------------------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha256", T.StringType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames_stub(payload: bytes, every_n: int) -> list[bytes]:
    """STUB frame sampler: deterministic per-index ASCII frame payloads
    (``"<hex>:frame:<idx>"``), count derived from content-hash byte 2
    (1..8 frames before sampling) — every field re-derivable from
    ``sha256(payload)`` in SQL, which is what the media_frames oracle does.
    Replace with an ffmpeg/pyav keyframe extractor in production."""
    hexd = hashlib.sha256(payload).hexdigest()
    n_frames = 1 + int(hexd[4:6], 16) % 8
    return [
        f"{hexd}:frame:{idx}".encode("ascii")
        for idx in range(0, n_frames, max(1, every_n))
    ]


def sample_video_frames(
    media: DataFrame,
    every_n: int = 2,
    sampler: Callable[[bytes, int], list[bytes]] | None = None,
) -> DataFrame:
    """``(doc_id, payload)`` → one row per sampled frame (1→N flatMap).

    The default sampler is :func:`sample_frames_real` (defined later in
    this module): a REAL RIFF/movi walk for AVI/MJPEG payloads, the
    deterministic stub for codec formats the container walk cannot cover.

    The Arrow batch shape changes cardinality (flatMap), which mapInPandas
    expresses natively; no explode of a materialized array column, so frame
    bytes are emitted once and never buffered whole-video-wide."""

    if sampler is None:
        sampler = sample_frames_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                for idx, frame in enumerate(sampler(blob, every_n)):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "frame_sha256": hashlib.sha256(frame).hexdigest(),
                            "frame": frame,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_sha256", "frame"]
            )

    return media.select("doc_id", "payload").mapInPandas(run, FRAME_SCHEMA)


# --- feature extraction ------------------------------------------------------

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def embed_media_stub(payload: bytes, dim: int) -> list[float]:
    """STUB feature extractor: deterministic pseudo-embedding — component i
    is content-hash byte i divided by 256. Every component is an exact
    dyadic rational (b·2⁻⁸, exactly representable in float32), so sums of
    squares are bit-exact across engines — that is what makes the
    media_features oracle a hash-exact SQL check rather than an
    approximate one. Replace with a CLIP/ViT forward pass in production —
    the (doc_id, array<float>) contract feeds ann_cosine_topk /
    ann_ivf_topk unchanged."""
    digest = hashlib.sha256(payload).digest()
    while len(digest) < dim:
        digest += hashlib.sha256(digest).digest()
    return [digest[i] / 256.0 for i in range(dim)]


def embed_image_content(payload: bytes, dim: int = 16) -> list[float] | None:
    """REAL content-derived image embedding — the production counterpart
    of :func:`embed_media_stub`, computed from decoded pixels:

    decode cascade (:func:`decode_image_pixels`: BMP/PNG/GIF/JPEG incl.
    progressive + 4:2:0 color) → integer grayscale plane (r+g+b, 0..765)
    → fixed g×g grid, g = isqrt(dim), cells ``[i·h//g, (i+1)·h//g) ×
    [j·w//g, (j+1)·w//g)`` → per-cell floor-mean intensity
    ``m = cell_sum // cell_area`` (0 for empty cells when h or w < g)
    → component ``m / 1024.0``.

    Every component is an exact dyadic rational (m ≤ 765 < 2^10), so
    dots, norms, and index-weighted sums over these vectors are bit-exact
    across engines and summation orders — while the VALUES are pure pixel
    content: a flipped image, a palette swap, a misrouted format
    dispatch, or a single wrong block changes the vector. Cosine geometry
    is scale-free, so the 1/1024 normalization is a pure convention; it
    feeds ann_cosine_topk / dedup_embedding_* under the same
    ``(doc_id, array<float>)`` contract as a learned model would.
    Returns None when no real decoder covers the payload."""
    g = math.isqrt(dim)
    if g * g != dim:
        raise ValueError(f"dim must be a perfect square, got {dim}")
    px = decode_image_pixels(payload)
    if px is None:
        return None
    h, w, _ = px.shape
    gray = px.astype(np.int64).sum(axis=2)
    vec: list[float] = []
    for i in range(g):
        y0, y1 = (i * h) // g, ((i + 1) * h) // g
        for j in range(g):
            x0, x1 = (j * w) // g, ((j + 1) * w) // g
            area = (y1 - y0) * (x1 - x0)
            m = int(gray[y0:y1, x0:x1].sum()) // area if area else 0
            vec.append(m / 1024.0)
    return vec


def embed_media_content(payload: bytes, dim: int = 16) -> list[float]:
    """Real-path-first media embedding: content-derived grid-intensity
    vector for any payload the REAL image decode cascade covers
    (:func:`embed_image_content`), waveform energy-envelope vector for
    decodable audio (:func:`embed_audio_content`: FLAC, PCM WAV);
    deterministic hash pseudo-embedding (:func:`embed_media_stub`) only
    for formats whose decoders cannot exist in this container (MP3/Vorbis
    samples, non-MJPEG video) — a documented fallback, never taken for
    decodable payloads."""
    vec = embed_image_content(payload, dim)
    if vec is None:
        vec = embed_audio_content(payload, dim)
    return vec if vec is not None else embed_media_stub(payload, dim)


def extract_media_features(
    media: DataFrame,
    dim: int = 16,
    embed: Callable[[bytes, int], list[float]] | None = None,
) -> DataFrame:
    """``(doc_id, payload)`` → ``(doc_id, embedding array<float>)``; the
    multimodal on-ramp into the ANN / embedding-dedup operators. The
    default embedder is :func:`embed_media_content` (real decoded-pixel
    grid intensities, hash-stub fallback only for undecodable codecs)."""
    if embed is None:
        embed = embed_media_content

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "embedding": [
                        embed(bytes(p) if p is not None else b"", dim)
                        for p in batch["payload"]
                    ],
                }
            )

    return media.select("doc_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


# --- REAL pixel / PCM decode (library-free formats) ---------------------------
# Uncompressed 24-bit BMP and PCM WAV are the two media containers whose
# payload bytes decode with nothing but numpy: no entropy coding, no codec.
# These functions are the REAL counterparts of the sha256 stubs above — the
# queries built on them are oracle-checked against closed-form pixel/sample
# formulas, so a decoder that mishandles bottom-up row order, 4-byte row
# padding, BGR ordering, or data-chunk framing cannot pass.

import numpy as np


def decode_bmp_pixels(payload: bytes):
    """REAL pixel decode for uncompressed 24-bit BMP: pixel-array offset
    from the file header, BITMAPINFOHEADER dims, bottom-up row order
    (top-down when height < 0), rows padded to 4-byte multiples, BGR byte
    order. Returns an ``(height, width, 3)`` uint8 RGB array with y
    measured from the TOP, or None when the payload is not a 24-bit
    uncompressed BMP (callers fall back to the stub path)."""
    try:
        if not payload.startswith(b"BM") or len(payload) < 54:
            return None
        px_offset = struct.unpack("<I", payload[10:14])[0]
        dib_size = struct.unpack("<I", payload[14:18])[0]
        if dib_size < 40:
            return None
        w, h = struct.unpack("<ii", payload[18:26])
        planes, bpp = struct.unpack("<HH", payload[26:30])
        compression = struct.unpack("<I", payload[30:34])[0]
        if bpp != 24 or compression != 0 or planes != 1 or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h = abs(h)
        stride = (w * 3 + 3) & ~3
        if px_offset + stride * h > len(payload):
            return None
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=px_offset
        ).reshape(h, stride)
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            bgr = bgr[::-1]
        return bgr[:, :, ::-1].copy()  # BGR -> RGB
    except (struct.error, ValueError):
        return None


def encode_bmp(pixels) -> bytes:
    """REAL 24-bit BMP encode — the exact inverse of
    :func:`decode_bmp_pixels`: RGB→BGR, bottom-up rows, 4-byte row
    padding. ``decode_bmp_pixels(encode_bmp(a)) == a`` for any
    (h, w, 3) uint8 array (round-trip pinned in tests)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    body = rows.tobytes()
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
    return header + dib + body


def resize_nearest(pixels, out_w: int, out_h: int):
    """REAL nearest-neighbor resize via numpy index maps with the floor
    mapping ``src = (dst * src_dim) // dst_dim`` — chosen over
    center-sampling because a SQL oracle can recompute the selected source
    pixel for every destination pixel exactly."""
    h, w = pixels.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return pixels[ys][:, xs]


def resize_image_real(payload: bytes, width: int, height: int) -> bytes:
    """Resize callable with a REAL path: anything the decode cascade
    covers (BMP; PNG all 8-bit color types incl. Adam7; GIF incl.
    interlace; JPEG baseline + progressive, gray + color) decodes →
    nearest resize → re-encode (source format for BMP/PNG, truecolor PNG
    for palette-indexed and lossy sources — re-quantizing or re-running
    DCT would change pixels, and the resize contract is pixel-exact).
    Payloads no real decoder covers fall back to the sha256 stub."""
    pixels = decode_bmp_pixels(payload)
    if pixels is not None:
        return encode_bmp(resize_nearest(pixels, width, height))
    pixels = decode_png_pixels(payload)
    if pixels is not None:
        return encode_png(resize_nearest(pixels, width, height))
    pixels = decode_image_pixels(payload)  # GIF / JPEG / anything real
    if pixels is not None:
        return encode_png(resize_nearest(pixels, width, height))
    return resize_image_stub(payload, width, height)


def decode_wav_samples(payload: bytes):
    """REAL PCM sample decode: RIFF chunk walk to the ``data`` chunk, then
    numpy interpretation — little-endian uint8 / int16 / packed int24
    (manually sign-extended) for integer PCM (format 1) and float32 for
    IEEE-float WAV (format 3); interleaved channels stay interleaved.
    Returns ``(samples, meta)`` or None for other formats / malformed
    payloads."""
    meta = parse_wav_header(payload)
    if meta is None:
        return None
    afmt = meta.get("audio_format", 1)
    bits = meta.get("bits_per_sample")
    if (afmt, bits) not in ((1, 8), (1, 16), (1, 24), (3, 32)):
        return None
    pos, n = 12, len(payload)
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if tag == b"data":
            raw = payload[pos + 8 : pos + 8 + size]
            if afmt == 3:
                usable = len(raw) - len(raw) % 4
                return np.frombuffer(raw[:usable], dtype="<f4"), meta
            if bits == 24:
                usable = len(raw) - len(raw) % 3
                b3 = (
                    np.frombuffer(raw[:usable], dtype=np.uint8)
                    .reshape(-1, 3)
                    .astype(np.int64)
                )
                val = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
                val[val >= 1 << 23] -= 1 << 24  # sign-extend 24 -> 64
                return val, meta
            dtype = np.dtype("<i2") if bits == 16 else np.dtype(np.uint8)
            usable = len(raw) - len(raw) % dtype.itemsize
            return np.frombuffer(raw[:usable], dtype=dtype), meta
        pos += 8 + size + (size & 1)
    return None


def decode_image_pixels(blob: bytes):
    """Decode cascade across every REAL library-free image decoder:
    24-bit BMP → PNG (gray/truecolor/palette/alpha, 8/16-bit, Adam7
    interlace) → GIF (incl. interlaced; first frame of animations) →
    JPEG (baseline grayscale + 4:2:0 color, progressive SOF2, DRI restart
    intervals) → TIFF (baseline 8-bit gray/RGB, both byte orders,
    uncompressed + PackBits, multi-strip). Returns an ``(h, w, 3)`` uint8
    RGB array with y measured from the TOP, or None when no real decoder
    covers the payload — e.g. arithmetic-coded JPEG — in which case
    callers skip the row or fall back to the stub path."""
    for decode in (
        decode_bmp_pixels,
        decode_png_pixels,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_tiff_pixels,
    ):
        px = decode(blob)
        if px is not None:
            return px
    return None


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("moment_x", T.LongType()),
        T.StructField("moment_y", T.LongType()),
    ]
)


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → REAL decoded-pixel statistics for 24-bit
    BMPs: integer per-channel sums plus the x/y first moments of the
    (r+g+b) sum. The moments make the check orientation- and
    padding-sensitive: a decoder that forgets the bottom-up row flip gets
    ``moment_y`` wrong, one that reads the 4-byte row padding as pixels
    gets ``moment_x`` and the sums wrong — channel sums alone would be
    flip-invariant. Non-BMP payloads yield no row (a codec decoder widens
    coverage without changing the shape). Shuffle-free ``mapInPandas``;
    payload bytes never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                px = decode_image_pixels(blob)
                if px is None:
                    continue
                h, w = px.shape[:2]
                s = px.astype(np.int64)
                lum = s.sum(axis=2)
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": w,
                        "height": h,
                        "sum_r": int(s[:, :, 0].sum()),
                        "sum_g": int(s[:, :, 1].sum()),
                        "sum_b": int(s[:, :, 2].sum()),
                        "moment_x": int((lum * xs[None, :]).sum()),
                        "moment_y": int((lum * ys[:, None]).sum()),
                    }
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
                    "moment_x", "moment_y",
                ],
            )
            for c in ("width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return media.select("doc_id", "payload").mapInPandas(
        run, PIXEL_STATS_SCHEMA
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → 64-bit difference-hash (dHash) of the REAL
    decoded pixels, emitted as four 16-bit band values ready for banded
    Hamming LSH — the standard perceptual-hash near-dup key for image
    corpora (the shape LAION-scale pipelines use for image dedup).

    Deterministic integer spec (so a SQL oracle recomputes it exactly):

    - decode via :func:`decode_image_pixels` (any of the four real
      library-free decoders); undecodable payloads yield no row
    - resample to a 9x8 grid with :func:`resize_nearest`
      (``src = (dst * src_dim) // dst_dim`` floor mapping)
    - integer grayscale ``(r + g + b) // 3``
    - ``bit[row, col] = gray[row, col+1] > gray[row, col]`` for col 0..7,
      global bit position ``row * 8 + col``
    - band ``j`` packs rows ``2j`` and ``2j+1``: value =
      ``sum(bit << ((row % 2) * 8 + col))`` — 16 bits per band

    Two images within Hamming distance d share at least one identical
    band whenever d <= 3 (pigeonhole over 4 bands), so a (band, value)
    equi-join finds every such pair with no all-pairs work — identical
    banding scheme to ``dedup_simhash_hamming``, applied to pixels.
    Shuffle-free ``mapInPandas``; payload bytes never leave the executor."""
    col_w = np.arange(8, dtype=np.int64)[None, :]
    row_w = (np.arange(8, dtype=np.int64)[:, None] % 2) * 8
    weights = np.int64(1) << (row_w + col_w)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                px = decode_image_pixels(blob)
                if px is None:
                    continue
                grid = resize_nearest(px, 9, 8).astype(np.int64)
                gray = grid.sum(axis=2) // 3
                bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64)
                vals = bits * weights
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "b0": int(vals[0:2].sum()),
                        "b1": int(vals[2:4].sum()),
                        "b2": int(vals[4:6].sum()),
                        "b3": int(vals[6:8].sum()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "b0", "b1", "b2", "b3"]
            )

    return media.select("doc_id", "payload").mapInPandas(run, DHASH_SCHEMA)


PCM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_amp", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_pcm_stats(media: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → REAL decoded-sample statistics for PCM WAVs:
    sample count, integer amplitude sum, sum of absolute amplitudes, and
    zero-crossing count (transitions of the ``x < 0`` predicate between
    consecutive samples — order-sensitive, so a decoder that mis-frames
    the data chunk or byte order cannot pass). Non-PCM payloads yield no
    row. Shuffle-free ``mapInPandas``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                decoded = decode_wav_samples(
                    bytes(payload) if payload is not None else b""
                )
                if decoded is None:
                    continue
                samples, _meta = decoded
                s = samples.astype(np.int64)
                neg = s < 0
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": int(s.size),
                        "sum_amp": int(s.sum()),
                        "sum_abs": int(np.abs(s).sum()),
                        "zero_crossings": int(
                            np.count_nonzero(neg[1:] != neg[:-1])
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sum_amp", "sum_abs",
                    "zero_crossings",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, PCM_STATS_SCHEMA
    )


# --- REAL PNG decode (stdlib zlib + numpy, no image library) ------------------
# PNG's pixel stream is zlib-deflated scanlines, each prefixed by one of five
# filter types (None/Sub/Up/Average/Paeth) — all invertible with stdlib zlib
# plus plain arithmetic. 8-bit truecolor (color type 2), non-interlaced — the
# dominant shape for web PNGs; palette/alpha/16-bit/interlaced return None
# and fall back to the stub path like any other codec format.


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


#: Adam7 pass layout: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, off: int, h_p: int, stride: int, bpp: int):
    """Reverse PNG scanline filtering for one (sub-)image of ``h_p`` rows
    of ``stride`` bytes starting at ``raw[off]``. Returns the (h_p,
    stride) array, or None on an unknown filter type. Shared by the
    sequential path and each Adam7 pass (a pass filters against its OWN
    previous scanline, never the full image's)."""
    out = np.zeros((h_p, stride), dtype=np.uint8)
    for y in range(h_p):
        row = raw[off + y * (1 + stride) : off + (y + 1) * (1 + stride)]
        ftype, scan = row[0], bytearray(row[1:])
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                scan[i] = (scan[i] + scan[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                scan[i] = (scan[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = scan[i - bpp] if i >= bpp else 0
                scan[i] = (scan[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = scan[i - bpp] if i >= bpp else 0
                above = int(prev[i])
                upleft = int(prev[i - bpp]) if i >= bpp else 0
                scan[i] = (scan[i] + _paeth(left, above, upleft)) & 0xFF
        else:
            return None
        out[y] = np.frombuffer(bytes(scan), dtype=np.uint8)
    return out


def decode_png_pixels(payload: bytes):
    """REAL PNG pixel decode: chunk walk (IHDR dims/type, PLTE,
    concatenated IDAT streams), zlib inflate, per-row reversal of all five
    scanline filters (bpp-aware), Adam7 interlace reassembly (each pass
    unfiltered as its own sub-image, then scattered onto the strided
    grid), palette indirection for color type 3, and channel mapping for
    grayscale (0), truecolor (2), gray+alpha (4) and RGBA (6) — alpha is
    dropped after unfiltering (the stats oracles measure color channels).
    16-bit depth unfilters at the doubled byte pitch and presents the
    high byte (the spec's recommended 16→8 reduction). Returns an
    (h, w, 3) uint8 RGB array or None for anything else.

    The per-pixel unfilter loops are clarity-first (synth/test payloads are
    small); a production decoder vectorizes Sub/Average/Paeth with the same
    arithmetic."""
    try:
        if not payload.startswith(b"\x89PNG\r\n\x1a\n"):
            return None
        pos, n = 8, len(payload)
        w = h = None
        ctype = None
        inter = 0
        plte = None
        idat = b""
        while pos + 8 <= n:
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            tag = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, inter = struct.unpack(
                    ">IIBBBBB", data[:13]
                )
                if depth not in (8, 16) or ctype not in (0, 2, 3, 4, 6) \
                        or comp != 0 or filt != 0 or inter not in (0, 1):
                    return None
                if depth == 16 and ctype == 3:
                    return None  # the spec forbids 16-bit palette
            elif tag == b"PLTE":
                if length % 3 != 0 or length == 0:
                    return None
                plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif tag == b"IDAT":
                idat += data
            elif tag == b"IEND":
                break
            pos += 12 + length  # length + tag + data + crc
        if not w or not h or not idat:
            return None
        nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        bpp = nch * (depth // 8)  # filters operate on BYTES at this pitch
        if ctype == 3 and plte is None:
            return None
        raw = zlib.decompress(idat)
        stride = w * bpp
        if inter == 0:
            if len(raw) != h * (1 + stride):
                return None
            out = _png_unfilter(raw, 0, h, stride, bpp)
            if out is None:
                return None
        else:  # Adam7
            out = np.zeros((h, stride), dtype=np.uint8)
            grid = out.reshape(h, w, bpp)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                w_p = (w - x0 + dx - 1) // dx if w > x0 else 0
                h_p = (h - y0 + dy - 1) // dy if h > y0 else 0
                if w_p == 0 or h_p == 0:
                    continue
                p_stride = w_p * bpp
                if off + h_p * (1 + p_stride) > len(raw):
                    return None
                sub = _png_unfilter(raw, off, h_p, p_stride, bpp)
                if sub is None:
                    return None
                off += h_p * (1 + p_stride)
                grid[y0::dy, x0::dx] = sub.reshape(h_p, w_p, bpp)
            if off != len(raw):
                return None
        if depth == 16:
            # present 16-bit samples as 8-bit via the high byte (the
            # spec's recommended 16->8 reduction) AFTER unfiltering —
            # filters are defined on the raw byte stream
            out = (out.reshape(h, -1).view(">u2") >> 8).astype(np.uint8)
        if ctype == 2:
            return out.reshape(h, w, 3).copy()
        if ctype == 3:
            idx = out.reshape(h, w)
            if idx.max(initial=0) >= len(plte):
                return None
            return plte[idx].copy()
        px = out.reshape(h, w, nch)
        if ctype == 0:
            return np.repeat(px, 3, axis=2).copy()
        if ctype == 4:  # gray + alpha: replicate gray, drop alpha
            return np.repeat(px[:, :, :1], 3, axis=2).copy()
        return px[:, :, :3].copy()  # RGBA: drop alpha
    except (struct.error, ValueError, zlib.error):
        return None


def encode_png(pixels, filter_for_row: Callable[[int], int] = lambda y: 0) -> bytes:
    """REAL PNG encode (8-bit truecolor, non-interlaced): forward-filters
    each scanline with ``filter_for_row(y)`` (0..4 — varying it exercises
    every decoder filter branch), deflates, and wraps in CRC-correct
    IHDR/IDAT/IEND chunks. ``decode_png_pixels(encode_png(a, f)) == a`` for
    any (h, w, 3) uint8 array and any filter choice (round-trip pinned in
    tests)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    h, w = pixels.shape[:2]
    flat = pixels.reshape(h, w * 3)
    stride = w * 3
    lines = bytearray()
    for y in range(h):
        ftype = filter_for_row(y)
        cur = flat[y].astype(np.int64)
        prev = flat[y - 1].astype(np.int64) if y > 0 else np.zeros(stride, np.int64)
        enc = bytearray(stride)
        for i in range(stride):
            left = int(cur[i - 3]) if i >= 3 else 0
            above = int(prev[i])
            upleft = int(prev[i - 3]) if i >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = above
            elif ftype == 3:
                pred = (left + above) >> 1
            elif ftype == 4:
                pred = _paeth(left, above, upleft)
            else:
                raise ValueError(f"bad filter {ftype}")
            enc[i] = (int(cur[i]) - pred) & 0xFF
        lines.append(ftype)
        lines += enc

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


def _png_forward_filter(flat: np.ndarray, bpp: int, filter_for_row) -> bytes:
    """Forward-filter one (sub-)image's scanlines (flat: (h, stride))."""
    h, stride = flat.shape
    lines = bytearray()
    for y in range(h):
        ftype = filter_for_row(y)
        cur = flat[y].astype(np.int64)
        prev = flat[y - 1].astype(np.int64) if y > 0 else np.zeros(
            stride, np.int64
        )
        enc = bytearray(stride)
        for i in range(stride):
            left = int(cur[i - bpp]) if i >= bpp else 0
            above = int(prev[i])
            upleft = int(prev[i - bpp]) if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = above
            elif ftype == 3:
                pred = (left + above) >> 1
            elif ftype == 4:
                pred = _paeth(left, above, upleft)
            else:
                raise ValueError(f"bad filter {ftype}")
            enc[i] = (int(cur[i]) - pred) & 0xFF
        lines.append(ftype)
        lines += enc
    return bytes(lines)


def encode_png_any(
    pixels,
    color_type: int,
    filter_for_row: Callable[[int], int] = lambda y: 0,
    interlace: bool = False,
) -> bytes:
    """REAL 8-bit PNG encode for color types 0 (gray, (h,w)), 2 (RGB,
    (h,w,3)), 4 (gray+alpha, (h,w,2)) and 6 (RGBA, (h,w,4)): forward
    scanline filtering at the type's bpp, deflate, CRC-correct chunks.
    With ``interlace`` the seven Adam7 passes are emitted as separately
    filtered sub-images (the spec's layout), so the decoder must run the
    full pass reassembly. Round-trips through ``decode_png_pixels``
    (which drops alpha and replicates gray)."""
    bpp = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    arr = np.asarray(pixels, dtype=np.uint8)
    if bpp == 1 and arr.ndim == 2:
        arr = arr[:, :, None]
    h, w = arr.shape[:2]
    if arr.shape[2] != bpp:
        raise ValueError(f"color type {color_type} needs {bpp} channels")
    if interlace:
        lines = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            lines += _png_forward_filter(
                sub.reshape(sub.shape[0], sub.shape[1] * bpp),
                bpp,
                filter_for_row,
            )
        lines = bytes(lines)
    else:
        lines = _png_forward_filter(
            arr.reshape(h, w * bpp), bpp, filter_for_row
        )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )


def encode_png_palette(
    indices,
    palette,
    filter_for_row: Callable[[int], int] = lambda y: 0,
) -> bytes:
    """REAL palette PNG encode (8-bit color type 3, non-interlaced):
    ``indices`` is an (h, w) uint8 index array, ``palette`` an (n, 3)
    uint8 PLTE table. Scanlines are forward-filtered at bpp=1 (the left
    neighbor is ONE byte back, not three — the exact asymmetry that
    catches a decoder hardcoding truecolor bpp), deflated, and wrapped in
    CRC-correct IHDR/PLTE/IDAT/IEND chunks.
    ``decode_png_pixels(encode_png_palette(i, p, f)) == p[i]`` for any
    filter choice (round-trip pinned in tests)."""
    indices = np.asarray(indices, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    if indices.max(initial=0) >= len(palette) or len(palette) > 256:
        raise ValueError("indices out of palette range")
    h, w = indices.shape
    lines = bytearray()
    for y in range(h):
        ftype = filter_for_row(y)
        cur = indices[y].astype(np.int64)
        prev = indices[y - 1].astype(np.int64) if y > 0 else np.zeros(w, np.int64)
        enc = bytearray(w)
        for i in range(w):
            left = int(cur[i - 1]) if i >= 1 else 0
            above = int(prev[i])
            upleft = int(prev[i - 1]) if i >= 1 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = above
            elif ftype == 3:
                pred = (left + above) >> 1
            elif ftype == 4:
                pred = _paeth(left, above, upleft)
            else:
                raise ValueError(f"bad filter {ftype}")
            enc[i] = (int(cur[i]) - pred) & 0xFF
        lines.append(ftype)
        lines += enc

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


# --- REAL GIF decode (hand-rolled LZW, no image library) ----------------------
# GIF's pixel stream is LZW with variable-width codes (min+1 up to 12 bits),
# dictionary growth, and Clear/End control codes — all implementable in
# plain Python. Single-frame, global-or-local color table, interlaced or
# not (the four-pass row re-order is applied on decode).


def _lzw_decode_gif(data: bytes, min_code_size: int):
    """GIF-variant LZW decode: LSB-first bit packing, width grows when the
    table reaches 2^width (cap 12), Clear resets, End terminates. Returns
    the index list or None on a corrupt stream."""
    if not 2 <= min_code_size <= 11:
        return None
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = bits = pos = 0
    n = len(data)
    while True:
        while bits < width:
            if pos >= n:
                return None  # ran out before End
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                return None
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        out += entry
        prev = entry


def _lzw_encode_gif(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW encode — a REAL compressor (greedy longest-match
    dictionary, not the write-literals-only trick), emitting Clear when the
    12-bit table fills. Round-trips through _lzw_decode_gif bit-exactly."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = bits = 0

    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    w = b""
    for byte in indices:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        w = bytes([byte])
    if w:
        emit(table[w])
    # The decoder appends a table entry for EVERY data code after the
    # first, including this final one (it cannot know no new sequence was
    # assigned), so its table can hit exactly 2^width here and widen
    # before reading End. Mirror that: if the slot the decoder just
    # filled crossed the boundary, End must be written at the new width
    # (found by hypothesis: a 56-zero frame put the final append exactly
    # at table size 16 and desynced the End code).
    if next_code == (1 << width) and width < 12:
        width += 1
    emit(end)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_interlace_rows(h: int) -> np.ndarray:
    """GIF89a interlace row sequence: the screen row each transmitted row
    lands on (pass 1: 0,8,16…; pass 2: 4,12…; pass 3: 2,6…; pass 4:
    1,3,5…)."""
    return np.concatenate(
        [
            np.arange(0, h, 8),
            np.arange(4, h, 8),
            np.arange(2, h, 4),
            np.arange(1, h, 2),
        ]
    )


def decode_gif_pixels(payload: bytes):
    """REAL GIF pixel decode: logical-screen / image-descriptor walk,
    global or local color table, sub-block reassembly, hand-rolled LZW
    (variable-width codes, dictionary growth, Clear/End), palette mapping,
    and the four-pass interlace row re-order when flagged. Returns
    (h, w, 3) uint8 RGB for the FIRST frame, None otherwise (callers fall
    back to the stub)."""
    try:
        if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 13:
            return None
        flags = payload[10]
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(
                payload, dtype=np.uint8, count=n * 3, offset=pos
            ).reshape(n, 3)
            pos += n * 3
        n_total = len(payload)
        while pos < n_total:
            block = payload[pos]
            if block == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < n_total and payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                iw, ih = struct.unpack("<HH", payload[pos + 5 : pos + 9])
                iflags = payload[pos + 9]
                pos += 10
                table = gct
                if iflags & 0x80:
                    n = 2 << (iflags & 0x07)
                    table = np.frombuffer(
                        payload, dtype=np.uint8, count=n * 3, offset=pos
                    ).reshape(n, 3)
                    pos += n * 3
                if table is None:
                    return None
                min_code = payload[pos]
                pos += 1
                data = bytearray()
                while pos < n_total and payload[pos] != 0:
                    size = payload[pos]
                    data += payload[pos + 1 : pos + 1 + size]
                    pos += 1 + size
                idx = _lzw_decode_gif(bytes(data), min_code)
                if idx is None or len(idx) < iw * ih or iw * ih == 0:
                    return None
                arr = np.frombuffer(idx[: iw * ih], dtype=np.uint8)
                if arr.max(initial=0) >= len(table):
                    return None
                grid = arr.reshape(ih, iw)
                if iflags & 0x40:  # interlaced: rows arrive in pass order
                    grid = grid[np.argsort(_gif_interlace_rows(ih))]
                return table[grid].copy()
            elif block == 0x3B:  # trailer
                return None
            else:
                return None
        return None
    except (struct.error, ValueError, IndexError):
        return None


def encode_gif(indices, palette, interlace: bool = False) -> bytes:
    """REAL GIF89a encode for a single frame: ``indices`` is an (h, w)
    uint8 index array, ``palette`` an (n, 3) uint8 color table (n padded
    up to the next power of two >= 2). LZW-compressed with the real
    compressor above; with ``interlace`` the rows are transmitted in the
    four-pass GIF order and the descriptor flag set, so the decoder must
    run the row re-order to recover them.
    decode_gif_pixels(encode_gif(i, p)) == p[i] either way (round-trip
    pinned in tests)."""
    indices = np.asarray(indices, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    h, w = indices.shape
    if interlace:
        indices = indices[_gif_interlace_rows(h)]
    size_pow = 1
    while (2 << size_pow - 1) < max(len(palette), 2):
        size_pow += 1
    n_colors = 2 << size_pow - 1
    pal = np.zeros((n_colors, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    min_code = max(2, size_pow)
    lzw = _lzw_encode_gif(indices.tobytes(), min_code)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | (size_pow - 1), 0, 0])
        + pal.tobytes()
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        + bytes([0x40 if interlace else 0x00])
        + bytes([min_code])
        + bytes(blocks)
        + b"\x3b"
    )


# --- REAL baseline JPEG decode (grayscale, stdlib + numpy) ---------------------
# Baseline sequential JPEG is Huffman coding + quantized 8x8 DCT — both
# implementable from the public spec (ITU T.81) with numpy: canonical
# Huffman tables are READ FROM THE FILE's DHT segments, the entropy stream
# is unstuffed and bit-decoded (DC categories with sign extension, AC
# run/size symbols, EOB/ZRL), coefficients dequantize via the DQT table and
# invert through an orthonormal 2D IDCT. Scope: single-component
# (grayscale) SOF0 without restart intervals — color subsampling and
# progressive scans need nothing conceptually new but stay out of scope;
# such files return an honest None. The paired encoder emits constant
# 8x8 blocks (DC + EOB only), which are DCT-EXACT: a constant block's
# only nonzero coefficient is DC, and even-valued levels quantize without
# remainder — so the REAL decoder's output is closed-form checkable.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_basis():
    u = np.arange(8)
    x = np.arange(8)
    t = np.cos((2 * x[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    t[0] /= np.sqrt(2.0)
    return t  # T: spatial = T.T @ F @ T ; F = T @ B @ T.T


def _huff_decode_map(bits: list[int], values: list[int]) -> dict:
    """Canonical Huffman (T.81 Annex C): {(length, code): symbol}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return out


class _BitReader:
    __slots__ = ("data", "pos", "acc", "bits")

    def __init__(self, data: bytes):
        self.data, self.pos, self.acc, self.bits = data, 0, 0, 0

    def read(self, n: int) -> int:
        while self.bits < n:
            if self.pos >= len(self.data):
                raise ValueError("bitstream exhausted")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.bits += 8
        self.bits -= n
        val = (self.acc >> self.bits) & ((1 << n) - 1)
        return val

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_jpeg_block(reader: "_BitReader", tdc: dict, tac: dict, pred: int):
    """One 8x8 block's entropy decode: DC category + sign extension, AC
    run/size symbols with EOB/ZRL. Returns (zigzag-placed coef array, new
    DC predictor) or raises ValueError on a malformed stream."""
    coef = np.zeros(64, dtype=np.int64)
    t = reader.huff(tdc)
    pred += _extend(reader.read(t), t)
    coef[0] = pred
    k = 1
    while k < 64:
        sym = reader.huff(tac)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("bad AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC index overrun")
        coef[_ZIGZAG[k]] = _extend(reader.read(size), size)
        k += 1
    return coef, pred


def _jpeg_segments(payload: bytes):
    """Marker pre-pass: (marker, segment bytes, entropy intervals) triples.
    Entropy data follows each SOS until the next real marker (FF00
    byte-stuffing removed) and is returned as a LIST of byte chunks split
    at RSTn restart markers — one chunk per restart interval (a single
    chunk when the file has no restarts). Baseline reads one scan,
    progressive accumulates over many. Returns None on a malformed marker
    stream."""
    segs = []
    pos, n = 2, len(payload)
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        if pos + 4 > n:
            return None
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        entropy = None
        if marker == 0xDA:
            entropy = []
            out = bytearray()
            while pos < n:
                b = payload[pos]
                if b == 0xFF:
                    nxt = payload[pos + 1] if pos + 1 < n else 0xD9
                    if nxt == 0x00:
                        out.append(0xFF)
                        pos += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # restart marker: new interval
                        entropy.append(bytes(out))
                        out = bytearray()
                        pos += 2
                        continue
                    break
                out.append(b)
                pos += 1
            entropy.append(bytes(out))
        segs.append((marker, seg, entropy))
    return segs


def _prog_ac_first(reader, tac, coef, ss, se, al, eobrun):
    """Progressive AC first scan for one block (T.81 G.2.2 / libjpeg
    decode_mcu_AC_first): EOBn band runs, ZRL, values shifted by Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = reader.huff(tac)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                return eobrun
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC overrun")
        coef[_ZIGZAG[k]] = _extend(reader.read(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(reader, tac, coef, ss, se, al, eobrun):
    """Progressive AC refinement for one block (T.81 G.2.3 / libjpeg
    decode_mcu_AC_refine): correction bits for already-nonzero
    coefficients, newly-nonzero insertions of ±(1<<Al), EOBn runs."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = reader.huff(tac)
            r, s = sym >> 4, sym & 0x0F
            s_val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break  # current block's tail corrected below
                # ZRL: advance over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad refine size")
                s_val = p1 if reader.read(1) else m1
            while k <= se:
                z = _ZIGZAG[k]
                if coef[z] != 0:
                    if reader.read(1) and (coef[z] & p1) == 0:
                        coef[z] += p1 if coef[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val and k <= se:
                coef[_ZIGZAG[k]] = s_val
            k += 1
    if eobrun > 0:
        while k <= se:
            z = _ZIGZAG[k]
            if coef[z] != 0:
                if reader.read(1) and (coef[z] & p1) == 0:
                    coef[z] += p1 if coef[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg_pixels(payload: bytes):
    """REAL JPEG decode — baseline (SOF0) AND progressive (SOF2),
    grayscale or YCbCr color: marker segment walk, DQT/DHT parsing,
    entropy decode with byte unstuffing into per-component COEFFICIENT
    arrays (baseline = one interleaved sequential scan; progressive =
    DC first/refine with successive approximation plus per-component AC
    first/refine scans with EOBn band runs), then per-component
    dequantization + orthonormal 2D IDCT, chroma upsampling by pixel
    replication (any h,v factors in {1,2}), and the JFIF YCbCr→RGB
    transform applied to INTEGER plane values with floor(x+0.5) rounding
    (deterministic across engines, so output stays closed-form
    checkable). DRI restart intervals are honored in every scan type:
    each RSTn starts a fresh byte-aligned entropy segment with DC
    predictors and the progressive EOB run reset. Returns (h, w, 3)
    uint8 RGB or None for anything out of scope — 16-bit quant tables,
    arithmetic coding, hierarchical/lossless SOFs, >2x sampling factors
    fall back to the stub path."""
    try:
        if not payload.startswith(b"\xff\xd8"):
            return None
        segs = _jpeg_segments(payload)
        if segs is None:
            return None
        qt: dict[int, np.ndarray] = {}
        hdc: dict[int, dict] = {}
        hac: dict[int, dict] = {}
        w = h = None
        comps: list[tuple[int, int, int, int]] | None = None
        progressive = False
        coefs: list[np.ndarray] | None = None
        geom = None  # (hmax, vmax, mcux, mcuy)
        restart_interval = 0
        any_scan = False
        for marker, seg, entropy in segs:
            if marker == 0xDB:  # DQT (possibly several tables)
                s = 0
                while s < len(seg):
                    pq, tq = seg[s] >> 4, seg[s] & 0x0F
                    if pq != 0:
                        return None  # 16-bit tables out of scope
                    zz = np.frombuffer(seg[s + 1 : s + 65], dtype=np.uint8)
                    tab = np.zeros(64, dtype=np.int64)
                    tab[_ZIGZAG] = zz
                    qt[tq] = tab.reshape(8, 8)
                    s += 65
            elif marker == 0xC4:  # DHT (possibly several tables)
                s = 0
                while s < len(seg):
                    tc, th = seg[s] >> 4, seg[s] & 0x0F
                    bits = list(seg[s + 1 : s + 17])
                    cnt = sum(bits)
                    vals = list(seg[s + 17 : s + 17 + cnt])
                    (hdc if tc == 0 else hac)[th] = _huff_decode_map(bits, vals)
                    s += 17 + cnt
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                if comps is not None or seg[0] != 8 or seg[5] not in (1, 3):
                    return None
                progressive = marker == 0xC2
                h, w = struct.unpack(">HH", seg[1:5])
                if not w or not h:
                    return None
                comps = []
                for c in range(seg[5]):
                    cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                    hi, vi = hv >> 4, hv & 0x0F
                    if not (1 <= hi <= 2 and 1 <= vi <= 2):
                        return None  # >2x sampling out of scope
                    comps.append((cid, hi, vi, tq))
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                geom = (hmax, vmax, mcux, mcuy)
                coefs = [
                    np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                    for _cid, hi, vi, _tq in comps
                ]
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # other SOFs: out of scope
            elif marker == 0xDD:  # DRI: restart interval in MCUs/blocks
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:
                if comps is None or entropy is None:
                    return None
                hmax, vmax, mcux, mcuy = geom
                ns = seg[0]
                scan = []  # (comp index, dc table id, ac table id)
                by_id = {c[0]: i for i, c in enumerate(comps)}
                for c in range(ns):
                    cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                    if cid not in by_id:
                        return None
                    scan.append((by_id[cid], tt >> 4, tt & 0x0F))
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                aa = seg[3 + 2 * ns]
                ah, al = aa >> 4, aa & 0x0F
                # restart machinery: one entropy chunk per interval; at
                # each boundary the next chunk starts byte-aligned with
                # DC predictors (and the progressive EOB run) reset
                chunks = iter(entropy)

                def next_interval():
                    try:
                        return _BitReader(next(chunks))
                    except StopIteration:
                        raise ValueError("missing restart interval") from None

                reader = next_interval()
                ri = restart_interval
                unit = 0  # MCUs (interleaved) or blocks (single-comp scan)
                preds = [0] * len(comps)
                eobrun = 0

                def maybe_restart():
                    nonlocal reader, eobrun, unit
                    if ri and unit and unit % ri == 0:
                        reader = next_interval()
                        preds[:] = [0] * len(comps)
                        eobrun = 0
                    unit += 1

                if not progressive:
                    # one interleaved sequential scan covering all comps
                    if [i for i, _d, _a in scan] != list(range(len(comps))):
                        return None
                    for my in range(mcuy):
                        for mx in range(mcux):
                            maybe_restart()
                            for (ci, dci, aci) in scan:
                                _cid, hi, vi, _tq = comps[ci]
                                tdc, tac = hdc[dci], hac[aci]
                                for by_ in range(vi):
                                    for bx_ in range(hi):
                                        blk, preds[ci] = _decode_jpeg_block(
                                            reader, tdc, tac, preds[ci]
                                        )
                                        coefs[ci][
                                            my * vi + by_, mx * hi + bx_
                                        ] = blk
                elif ss == 0:  # progressive DC scan (interleaved or not)
                    if se != 0:
                        return None
                    if len(scan) > 1:
                        mcus = [
                            (my, mx)
                            for my in range(mcuy)
                            for mx in range(mcux)
                        ]
                        for my, mx in mcus:
                            maybe_restart()
                            for (ci, dci, _aci) in scan:
                                _cid, hi, vi, _tq = comps[ci]
                                for by_ in range(vi):
                                    for bx_ in range(hi):
                                        c0 = coefs[ci][
                                            my * vi + by_, mx * hi + bx_
                                        ]
                                        if ah == 0:
                                            t = reader.huff(hdc[dci])
                                            preds[ci] += _extend(
                                                reader.read(t), t
                                            )
                                            c0[0] = preds[ci] << al
                                        elif reader.read(1):
                                            c0[0] |= 1 << al
                    else:
                        ci, dci, _aci = scan[0]
                        _cid, hi, vi, _tq = comps[ci]
                        bw = (w * hi + 8 * hmax - 1) // (8 * hmax)
                        bh = (h * vi + 8 * vmax - 1) // (8 * vmax)
                        for by_ in range(bh):
                            for bx_ in range(bw):
                                maybe_restart()
                                c0 = coefs[ci][by_, bx_]
                                if ah == 0:
                                    t = reader.huff(hdc[dci])
                                    preds[ci] += _extend(reader.read(t), t)
                                    c0[0] = preds[ci] << al
                                elif reader.read(1):
                                    c0[0] |= 1 << al
                else:  # progressive AC scan: single component (T.81)
                    if len(scan) != 1 or se > 63 or ss > se:
                        return None
                    ci, _dci, aci = scan[0]
                    _cid, hi, vi, _tq = comps[ci]
                    tac = hac[aci]
                    bw = (w * hi + 8 * hmax - 1) // (8 * hmax)
                    bh = (h * vi + 8 * vmax - 1) // (8 * vmax)
                    step = _prog_ac_refine if ah else _prog_ac_first
                    for by_ in range(bh):
                        for bx_ in range(bw):
                            maybe_restart()
                            eobrun = step(
                                reader, tac, coefs[ci][by_, bx_],
                                ss, se, al, eobrun,
                            )
                any_scan = True
        if comps is None or coefs is None or not any_scan:
            return None
        hmax, vmax, mcux, mcuy = geom
        basis = _dct_basis()
        planes = []
        for (cid, hi, vi, tq), carr in zip(comps, coefs):
            if tq not in qt:
                return None
            q = qt[tq]
            plane = np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
            for by_ in range(carr.shape[0]):
                for bx_ in range(carr.shape[1]):
                    block = carr[by_, bx_].reshape(8, 8) * q
                    plane[
                        by_ * 8 : by_ * 8 + 8, bx_ * 8 : bx_ * 8 + 8
                    ] = basis.T @ block @ basis + 128.0
            planes.append(plane)
        # Round each plane to integers FIRST (exact for DCT-exact payloads),
        # so the color transform runs on the same integers the closed-form
        # oracle uses — no IDCT epsilon can leak through a rounding boundary.
        iplanes = [
            np.clip(np.rint(p), 0, 255).astype(np.int64) for p in planes
        ]
        if len(comps) == 1:
            gray = iplanes[0][:h, :w].astype(np.uint8)
            return np.repeat(gray[:, :, None], 3, axis=2)
        full = []
        for (cid, hi, vi, _tq), p in zip(comps, iplanes):
            rep = np.repeat(
                np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1
            )
            full.append(rep[:h, :w].astype(np.float64))
        yy, cb, cr = full
        r = np.floor(yy + 1.402 * (cr - 128.0) + 0.5)
        g = np.floor(
            yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5
        )
        b = np.floor(yy + 1.772 * (cb - 128.0) + 0.5)
        rgb = np.stack([r, g, b], axis=2)
        return np.clip(rgb, 0, 255).astype(np.uint8)
    except (struct.error, ValueError, IndexError, KeyError):
        return None


def encode_jpeg_gray_blocks(blocks) -> bytes:
    """REAL-container grayscale baseline JPEG encoder for constant 8x8
    blocks (the synth harness for the decoder above): ``blocks`` is a
    (by, bx) array of EVEN gray levels; each becomes one DC-only MCU
    (constant blocks have zero AC energy, and even levels quantize by the
    uniform q=16 table without remainder — DCT-exact, so the decoder must
    reproduce the levels bit-for-bit). Emits spec-correct DQT/SOF0/DHT/SOS
    segments with canonical Huffman tables the decoder reads back."""
    blocks = np.asarray(blocks, dtype=np.int64)
    by, bx = blocks.shape
    if ((blocks & 1) != 0).any() or blocks.min() < 0 or blocks.max() > 254:
        raise ValueError("levels must be even in [0, 254]")
    h, w = by * 8, bx * 8
    # canonical DC table (T.81 Annex K luminance): categories 0..11
    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    # one-symbol AC table: EOB = code '0'
    ac_bits = [1] + [0] * 15
    ac_vals = [0x00]

    def enc_map(bits, values):
        out = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                out[values[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return out

    edc, eac = enc_map(dc_bits, dc_vals), enc_map(ac_bits, ac_vals)
    acc = 0
    nbits = 0
    body = bytearray()

    def emit(val, n):
        nonlocal acc, nbits
        acc = (acc << n) | val
        nbits += n
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            body.append(byte)
            if byte == 0xFF:
                body.append(0x00)  # byte stuffing

    pred = 0
    for yb in range(by):
        for xb in range(bx):
            dc = 8 * (int(blocks[yb, xb]) - 128) // 16  # exact: level even
            diff = dc - pred
            pred = dc
            t = abs(diff).bit_length()
            length, code = edc[t]
            emit(code, length)
            if t:
                emit(diff if diff > 0 else diff + (1 << t) - 1, t)
            length, code = eac[0x00]
            emit(code, length)  # EOB
    if nbits:
        emit((1 << (8 - nbits)) - 1, 8 - nbits)  # pad with 1s

    qtab = bytes([16] * 64)
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + qtab
    sof = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0])
    )
    dht = (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(dc_vals) + 1 + 16 + len(ac_vals))
        + b"\x00" + bytes(dc_bits) + bytes(dc_vals)
        + b"\x10" + bytes(ac_bits) + bytes(ac_vals)
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + bytes([1, 0x00, 0, 63, 0])
    return b"\xff\xd8" + dqt + sof + dht + sos + bytes(body) + b"\xff\xd9"


def encode_jpeg_color_blocks(
    y_blocks, cb_blocks, cr_blocks, restart_interval: int = 0
) -> bytes:
    """REAL-container baseline COLOR JPEG encoder (YCbCr 4:2:0) for
    constant 8x8 blocks — the synth harness for the color decode path:
    ``y_blocks`` is a (2*mby, 2*mbx) array of EVEN luma levels,
    ``cb_blocks``/``cr_blocks`` are (mby, mbx) chroma levels (even, in
    [0, 254]). Every block is a DC-only MCU member (constant blocks have
    zero AC energy; even levels divide the uniform q=16 tables without
    remainder — DCT-exact), so the REAL decoder must reproduce the exact
    YCbCr planes, and the RGB output is the closed-form floor(x+0.5)
    transform of the input levels. Emits spec-correct two-table DQT,
    3-component SOF0 (Y 2x2 + Cb/Cr 1x1, separate quant tables),
    four-table DHT (luma + chroma DC/AC classes), and an interleaved SOS
    (per-MCU order: 4 Y raster blocks, Cb, Cr) with per-component DC
    predictors — exercising every table-selection path the grayscale
    harness cannot. ``restart_interval > 0`` additionally emits a DRI
    segment and cycling RSTn markers every that-many MCUs, each starting
    a byte-aligned entropy segment with predictors reset — the
    camera-JPEG resync structure the decoder must honor."""
    yb = np.asarray(y_blocks, dtype=np.int64)
    cb = np.asarray(cb_blocks, dtype=np.int64)
    cr = np.asarray(cr_blocks, dtype=np.int64)
    mby, mbx = cb.shape
    if cr.shape != (mby, mbx) or yb.shape != (2 * mby, 2 * mbx):
        raise ValueError("4:2:0 shapes: y (2*mby, 2*mbx), cb/cr (mby, mbx)")
    for arr in (yb, cb, cr):
        if ((arr & 1) != 0).any() or arr.min() < 0 or arr.max() > 254:
            raise ValueError("levels must be even in [0, 254]")
    h, w = mby * 16, mbx * 16
    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    ac_bits = [1] + [0] * 15
    ac_vals = [0x00]

    def enc_map(bits, values):
        out = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                out[values[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return out

    edc, eac = enc_map(dc_bits, dc_vals), enc_map(ac_bits, ac_vals)
    acc = 0
    nbits = 0
    body = bytearray()

    def emit(val, n):
        nonlocal acc, nbits
        acc = (acc << n) | val
        nbits += n
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            body.append(byte)
            if byte == 0xFF:
                body.append(0x00)  # byte stuffing

    def emit_block(level: int, pred: int) -> int:
        dc = 8 * (level - 128) // 16  # exact: level even
        diff = dc - pred
        t = abs(diff).bit_length()
        length, code = edc[t]
        emit(code, length)
        if t:
            emit(diff if diff > 0 else diff + (1 << t) - 1, t)
        length, code = eac[0x00]
        emit(code, length)  # EOB
        return dc

    def flush():
        nonlocal nbits
        if nbits:
            emit((1 << (8 - nbits)) - 1, 8 - nbits)  # pad with 1s

    py = pcb = pcr = 0
    mcu_i = 0
    rst_n = 0
    for my in range(mby):
        for mx in range(mbx):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                flush()
                body.append(0xFF)
                body.append(0xD0 + rst_n)
                rst_n = (rst_n + 1) & 7
                py = pcb = pcr = 0
            for vy in range(2):
                for hx in range(2):
                    py = emit_block(int(yb[2 * my + vy, 2 * mx + hx]), py)
            pcb = emit_block(int(cb[my, mx]), pcb)
            pcr = emit_block(int(cr[my, mx]), pcr)
            mcu_i += 1
    flush()

    qtab = bytes([16] * 64)
    dqt = (
        b"\xff\xdb" + struct.pack(">H", 2 + 65 * 2)
        + b"\x00" + qtab + b"\x01" + qtab
    )
    sof = (
        b"\xff\xc0" + struct.pack(">H", 8 + 3 * 3) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03"
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    )
    huff_payload = (
        b"\x00" + bytes(dc_bits) + bytes(dc_vals)
        + b"\x10" + bytes(ac_bits) + bytes(ac_vals)
        + b"\x01" + bytes(dc_bits) + bytes(dc_vals)
        + b"\x11" + bytes(ac_bits) + bytes(ac_vals)
    )
    dht = b"\xff\xc4" + struct.pack(">H", 2 + len(huff_payload)) + huff_payload
    dri = (
        b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
        if restart_interval
        else b""
    )
    sos = (
        b"\xff\xda" + struct.pack(">H", 6 + 2 * 3) + b"\x03"
        + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 63, 0])
    )
    return b"\xff\xd8" + dqt + sof + dht + dri + sos + bytes(body) + b"\xff\xd9"


def jpeg_color_rgb_from_levels(yv: int, cbv: int, crv: int):
    """Closed-form RGB for one constant 4:2:0 cell — the same floor(x+0.5)
    JFIF transform the decoder applies, shared with tests/oracles."""
    r = math.floor(yv + 1.402 * (crv - 128.0) + 0.5)
    g = math.floor(
        yv - 0.344136 * (cbv - 128.0) - 0.714136 * (crv - 128.0) + 0.5
    )
    b = math.floor(yv + 1.772 * (cbv - 128.0) + 0.5)
    clip = lambda v: max(0, min(255, v))  # noqa: E731
    return clip(r), clip(g), clip(b)


# --- REAL video: AVI/MJPEG container walk (stdlib only) -----------------------
# AVI is RIFF — the same chunk discipline as the WAV walk above — and MJPEG
# stores each frame as a standalone JPEG inside a '##dc' chunk, so the
# baseline JPEG decoder already in this module decodes real frames with no
# codec library. Non-AVI payloads (MP4/WebM need real codecs) keep the
# deterministic stub.


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """REAL-container AVI writer (MJPG fourcc): RIFF('AVI ') with a
    spec-shaped hdrl (avih + strl/strh/strf BITMAPINFOHEADER), a movi LIST
    of '00dc' frame chunks (each a standalone JPEG payload), and an idx1
    index. Chunks are even-padded per RIFF. The synth harness for the real
    frame walk below."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    n = len(frames)
    usec = 1_000_000 // max(1, fps)
    avih = struct.pack(
        "<14I", usec, 0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, max(1, fps), 0, n, 0, 0, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strl = chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)
    movi_body = b"movi"
    offsets = []
    for f in frames:
        offsets.append(len(movi_body))
        movi_body += chunk(b"00dc", f)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, len(f))
            for off, f in zip(offsets, frames)
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def parse_avi_frames(payload: bytes):
    """REAL AVI frame walk: RIFF chunk traversal (LIST recursion, even
    padding) collecting '##dc'/'##db' video-frame chunks in stream order.
    Returns the list of frame payloads (for MJPG: standalone JPEGs), or
    None when the payload is not an AVI — callers fall back to the stub
    for codec formats this container walk cannot cover."""
    try:
        if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            return None
        (riff_size,) = struct.unpack("<I", payload[4:8])
        end = min(8 + riff_size, len(payload))
        frames: list[bytes] = []

        def walk(pos: int, stop: int) -> None:
            while pos + 8 <= stop:
                fourcc = payload[pos : pos + 4]
                (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                body_start = pos + 8
                body_end = min(body_start + size, stop)
                if fourcc == b"LIST" and body_end - body_start >= 4:
                    walk(body_start + 4, body_end)
                elif fourcc[2:4] in (b"dc", b"db"):
                    frames.append(bytes(payload[body_start:body_end]))
                pos = body_start + size + (size & 1)

        walk(12, end)
        return frames
    except (struct.error, ValueError, IndexError):
        return None


def sample_frames_real(payload: bytes, every_n: int) -> list[bytes]:
    """Frame sampler with the REAL path first: AVI payloads get the actual
    RIFF/movi walk (every ``every_n``-th stored frame, in stream order);
    anything else keeps the deterministic stub so non-AVI video pipelines
    stay testable end to end."""
    frames = parse_avi_frames(payload)
    if frames is None:
        return sample_frames_stub(payload, every_n)
    return frames[:: max(1, every_n)]


VIDEO_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_gray", T.LongType()),
        T.StructField("moment_x", T.LongType()),
        T.StructField("moment_y", T.LongType()),
    ]
)


def video_frame_stats(media: DataFrame, every_n: int = 2) -> DataFrame:
    """``(doc_id, payload)`` → REAL decoded per-frame statistics for
    AVI/MJPEG videos: container walk + every_n sampling + the baseline
    JPEG decode of each sampled frame, emitting channel-0 sums and x/y
    first moments (orientation-sensitive, as with the image stats).
    ``frame_no`` is the frame's index IN THE STREAM (0, every_n, …), so a
    walk that drops or re-orders chunks cannot relabel its way to a
    match. One shuffle-free mapInPandas; video bytes never leave the
    executor — the 1→N cardinality change happens inside the Arrow batch,
    never via an explode of a materialized frame array."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                frames = parse_avi_frames(blob)
                if frames is None:
                    continue
                for k, frame in enumerate(frames[:: max(1, every_n)]):
                    px = decode_jpeg_pixels(frame)
                    if px is None:
                        continue
                    h, w = px.shape[:2]
                    g = px[:, :, 0].astype(np.int64)
                    xs = np.arange(w, dtype=np.int64)
                    ys = np.arange(h, dtype=np.int64)
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_no": k * max(1, every_n),
                            "width": w,
                            "height": h,
                            "sum_gray": int(g.sum()),
                            "moment_x": int((g * xs[None, :]).sum()),
                            "moment_y": int((g * ys[:, None]).sum()),
                        }
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_no", "width", "height", "sum_gray",
                    "moment_x", "moment_y",
                ],
            )
            for c in ("frame_no", "width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return media.select("doc_id", "payload").mapInPandas(
        run, VIDEO_FRAME_STATS_SCHEMA
    )


class _BitWriter:
    """MSB-first bit emitter with JPEG byte stuffing; one per scan (each
    scan's entropy data is byte-aligned, padded with 1s)."""

    __slots__ = ("acc", "nbits", "body")

    def __init__(self) -> None:
        self.acc, self.nbits, self.body = 0, 0, bytearray()

    def emit(self, val: int, n: int) -> None:
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.body.append(byte)
            if byte == 0xFF:
                self.body.append(0x00)

    def done(self) -> bytes:
        if self.nbits:
            self.emit((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.body)


def encode_jpeg_progressive_color_blocks(
    y_blocks, cb_blocks, cr_blocks
) -> bytes:
    """REAL-container PROGRESSIVE color JPEG encoder (SOF2, YCbCr 4:2:0)
    for constant 8x8 blocks — a libjpeg-style successive-approximation
    scan script:

      1. DC, all components interleaved, Ss=Se=0, Ah=0 Al=1
         (first approximation: diffs of dc>>1)
      2-4. AC 1..63 per component, Ah=0 Al=1 — all-zero bands, one EOB
         per block
      5-7. AC refinement per component, Ah=1 Al=0 — EOB-only with zero
         history (exercises the refine code path)
      8. DC refinement, interleaved, Ah=1 Al=0 — one raw low bit per
         block

    Same DCT-exact constant-block contract as
    :func:`encode_jpeg_color_blocks`, so the progressive decoder must
    accumulate all eight scans into the exact same YCbCr planes and RGB
    output — a wrong spectral range, band run, refinement bit, or scan
    order lands on different pixels."""
    yb = np.asarray(y_blocks, dtype=np.int64)
    cb = np.asarray(cb_blocks, dtype=np.int64)
    cr = np.asarray(cr_blocks, dtype=np.int64)
    mby, mbx = cb.shape
    if cr.shape != (mby, mbx) or yb.shape != (2 * mby, 2 * mbx):
        raise ValueError("4:2:0 shapes: y (2*mby, 2*mbx), cb/cr (mby, mbx)")
    for arr in (yb, cb, cr):
        if ((arr & 1) != 0).any() or arr.min() < 0 or arr.max() > 254:
            raise ValueError("levels must be even in [0, 254]")
    h, w = mby * 16, mbx * 16
    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    ac_bits = [1] + [0] * 15
    ac_vals = [0x00]

    def enc_map(bits, values):
        out = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                out[values[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return out

    edc, eac = enc_map(dc_bits, dc_vals), enc_map(ac_bits, ac_vals)

    def dc_of(level: int) -> int:
        return 8 * (level - 128) // 16  # exact: level even

    def sos(comps_sel: list[tuple[int, int, int]], ss, se, ah, al,
            body: bytes) -> bytes:
        head = bytes([len(comps_sel)])
        for cid, dci, aci in comps_sel:
            head += bytes([cid, (dci << 4) | aci])
        head += bytes([ss, se, (ah << 4) | al])
        return (
            b"\xff\xda" + struct.pack(">H", 2 + len(head)) + head + body
        )

    # MCU-ordered (component, level) walk shared by both DC scans
    def mcu_levels():
        for my in range(mby):
            for mx in range(mbx):
                for vy in range(2):
                    for hx in range(2):
                        yield 0, int(yb[2 * my + vy, 2 * mx + hx])
                yield 1, int(cb[my, mx])
                yield 2, int(cr[my, mx])

    scans = []
    # scan 1: DC first approximation (Al=1), interleaved
    wtr = _BitWriter()
    preds = [0, 0, 0]
    for ci, level in mcu_levels():
        v = dc_of(level) >> 1
        diff = v - preds[ci]
        preds[ci] = v
        t = abs(diff).bit_length()
        length, code = edc[t]
        wtr.emit(code, length)
        if t:
            wtr.emit(diff if diff > 0 else diff + (1 << t) - 1, t)
    scans.append(sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, 1,
                     wtr.done()))
    # scans 2-4: AC first (Al=1) then 5-7: AC refine (Ah=1, Al=0),
    # one EOB per block either way (all-zero bands, zero history)
    n_blocks = {1: 4 * mby * mbx, 2: mby * mbx, 3: mby * mbx}
    for ah, al in ((0, 1), (1, 0)):
        for cid, aci in ((1, 0), (2, 1), (3, 1)):
            wtr = _BitWriter()
            length, code = eac[0x00]
            for _ in range(n_blocks[cid]):
                wtr.emit(code, length)
            scans.append(sos([(cid, 0, aci)], 1, 63, ah, al, wtr.done()))
    # scan 8: DC refinement (Ah=1, Al=0): one raw low bit per block
    wtr = _BitWriter()
    for _ci, level in mcu_levels():
        wtr.emit(dc_of(level) & 1, 1)
    scans.append(sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 1, 0,
                     wtr.done()))

    qtab = bytes([16] * 64)
    dqt = (
        b"\xff\xdb" + struct.pack(">H", 2 + 65 * 2)
        + b"\x00" + qtab + b"\x01" + qtab
    )
    sof = (
        b"\xff\xc2" + struct.pack(">H", 8 + 3 * 3) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03"
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    )
    huff_payload = (
        b"\x00" + bytes(dc_bits) + bytes(dc_vals)
        + b"\x10" + bytes(ac_bits) + bytes(ac_vals)
        + b"\x01" + bytes(dc_bits) + bytes(dc_vals)
        + b"\x11" + bytes(ac_bits) + bytes(ac_vals)
    )
    dht = b"\xff\xc4" + struct.pack(">H", 2 + len(huff_payload)) + huff_payload
    return b"\xff\xd8" + dqt + sof + dht + b"".join(scans) + b"\xff\xd9"


def parse_gif_frames(payload: bytes):
    """REAL animated-GIF frame walk: iterate every image descriptor,
    LZW-decode each frame (interlace honored per frame), and COMPOSITE
    onto the logical-screen canvas with the GIF89a animation semantics —
    sub-rectangle placement, Graphic Control Extension transparency
    (transparent pixels leave the canvas through), and disposal methods
    0/1 (leave), 2 (restore background: transparent-or-bgcolor region)
    and 3 (restore previous canvas). Returns the list of (h, w, 3) uint8
    RGB canvas snapshots, one per frame, or None for non-GIF / malformed
    payloads. The first returned frame equals ``decode_gif_pixels`` for
    single-frame files."""
    try:
        if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 13:
            return None
        sw, sh = struct.unpack("<HH", payload[6:10])
        flags = payload[10]
        bg_index = payload[11]
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(
                payload, dtype=np.uint8, count=n * 3, offset=pos
            ).reshape(n, 3)
            pos += n * 3
        if not sw or not sh:
            return None
        # background: bgcolor where a GCT exists, else black
        if gct is not None and bg_index < len(gct):
            bg = np.tile(gct[bg_index], (sh, sw, 1))
        else:
            bg = np.zeros((sh, sw, 3), dtype=np.uint8)
        canvas = bg.copy()
        frames: list[np.ndarray] = []
        transparent = None  # transparency index of the NEXT frame
        disposal = 0
        n_total = len(payload)
        while pos < n_total:
            block = payload[pos]
            if block == 0x21:  # extension
                label = payload[pos + 1] if pos + 1 < n_total else 0
                pos += 2
                if label == 0xF9 and pos < n_total and payload[pos] >= 4:
                    gce_flags = payload[pos + 1]
                    disposal = (gce_flags >> 2) & 0x07
                    transparent = (
                        payload[pos + 4] if gce_flags & 0x01 else None
                    )
                while pos < n_total and payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                ix, iy, iw, ih = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
                iflags = payload[pos + 9]
                pos += 10
                table = gct
                if iflags & 0x80:
                    n = 2 << (iflags & 0x07)
                    table = np.frombuffer(
                        payload, dtype=np.uint8, count=n * 3, offset=pos
                    ).reshape(n, 3)
                    pos += n * 3
                if table is None:
                    return None
                min_code = payload[pos]
                pos += 1
                data = bytearray()
                while pos < n_total and payload[pos] != 0:
                    size = payload[pos]
                    data += payload[pos + 1 : pos + 1 + size]
                    pos += 1 + size
                pos += 1  # sub-block terminator
                idx = _lzw_decode_gif(bytes(data), min_code)
                if idx is None or len(idx) < iw * ih or iw * ih == 0:
                    return None
                grid = np.frombuffer(idx[: iw * ih], dtype=np.uint8).reshape(
                    ih, iw
                )
                if iflags & 0x40:
                    grid = grid[np.argsort(_gif_interlace_rows(ih))]
                if grid.max(initial=0) >= len(table):
                    return None
                if iy + ih > sh or ix + iw > sw:
                    return None
                before = canvas.copy() if disposal == 3 else None
                region = canvas[iy : iy + ih, ix : ix + iw]
                if transparent is not None:
                    opaque = grid != transparent
                    region[opaque] = table[grid[opaque]]
                else:
                    region[:] = table[grid]
                frames.append(canvas.copy())
                if disposal == 2:  # restore the frame region to background
                    canvas[iy : iy + ih, ix : ix + iw] = bg[
                        iy : iy + ih, ix : ix + iw
                    ]
                elif disposal == 3 and before is not None:
                    canvas = before
                transparent = None
                disposal = 0
            elif block == 0x3B:  # trailer
                break
            else:
                return None
        return frames if frames else None
    except (struct.error, ValueError, IndexError):
        return None


def encode_gif_animation(
    frame_indices: list, palette, delays_cs: int = 10
) -> bytes:
    """REAL GIF89a animation encoder for full-canvas frames: each (h, w)
    index array becomes one image descriptor preceded by a Graphic
    Control Extension (delay, disposal 1), with a NETSCAPE2.0 loop
    extension up front — the standard animated-GIF layout. The synth
    harness for :func:`parse_gif_frames`."""
    palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    first = np.asarray(frame_indices[0], dtype=np.uint8)
    h, w = first.shape
    size_pow = 1
    while (2 << size_pow - 1) < max(len(palette), 2):
        size_pow += 1
    n_colors = 2 << size_pow - 1
    pal = np.zeros((n_colors, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    min_code = max(2, size_pow)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (size_pow - 1), 0, 0])
    out += pal.tobytes()
    out += (
        b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    )
    for indices in frame_indices:
        indices = np.asarray(indices, dtype=np.uint8)
        if indices.shape != (h, w):
            raise ValueError("animation frames must share the canvas size")
        out += b"\x21\xf9\x04"
        out += bytes([0x04, delays_cs & 0xFF, delays_cs >> 8, 0])  # disposal 1
        out += b"\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([min_code])
        lzw = _lzw_encode_gif(indices.tobytes(), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


GIF_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def gif_animation_stats(media: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → per-frame channel sums of the REAL
    composited animated-GIF canvas — one row per frame in stream order.
    Shuffle-free ``mapInPandas``; the 1→N cardinality change happens
    inside the Arrow batch and payload bytes never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                frames = parse_gif_frames(blob)
                if frames is None:
                    continue
                for k, px in enumerate(frames):
                    s = px.astype(np.int64)
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_no": k,
                            "width": px.shape[1],
                            "height": px.shape[0],
                            "sum_r": int(s[:, :, 0].sum()),
                            "sum_g": int(s[:, :, 1].sum()),
                            "sum_b": int(s[:, :, 2].sum()),
                        }
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_no", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                ],
            )
            for c in ("frame_no", "width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return media.select("doc_id", "payload").mapInPandas(
        run, GIF_FRAME_STATS_SCHEMA
    )


# --- REAL Ogg/Vorbis container walk (stdlib only) ----------------------------
# Ogg is a paged container (RFC 3533): each page carries a 27-byte header,
# a segment lacing table, and a CRC over the whole page computed with the
# non-reflected 0x04c11db7 polynomial and a ZEROED crc field. The Vorbis
# identification header (packet 1) carries channels/rate; the final EOS
# page's granule position is the total sample count. All walkable without
# an audio library — the decode of actual audio needs libvorbis and stays
# out of scope.

_OGG_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC: polynomial 0x04c11db7, no reflection, init/xorout 0."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        table = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            table.append(r)
        _OGG_CRC_TABLE = table
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[((crc >> 24) ^ b) & 0xFF]
    return crc


def parse_ogg_metadata(payload: bytes) -> dict | None:
    """REAL Ogg page walk + Vorbis identification-header parse: verify
    each page's capture pattern AND CRC (recomputed with the crc field
    zeroed — a bit flip anywhere in a page is caught), reassemble the
    first logical packet from the lacing table, parse ``\\x01vorbis``
    (channels, sample rate, nominal bitrate), and read the stream's
    total samples from the EOS page's granule position. Returns
    ``{media_type, channels, sample_rate_hz, bitrate_nominal, n_samples,
    duration_ms, n_pages}`` or None for non-Ogg / corrupt payloads."""
    try:
        pos, n = 0, len(payload)
        n_pages = 0
        first_packet = bytearray()
        first_done = False
        last_granule = None
        while pos < n:
            # Strict framing: every byte of the payload must belong to a
            # CRC-valid page — trailing junk (whether a bad capture
            # pattern or a fragment shorter than a page header) rejects
            # the whole stream.
            if pos + 27 > n or payload[pos : pos + 4] != b"OggS":
                return None
            header_type = payload[pos + 5]
            granule = int.from_bytes(
                payload[pos + 6 : pos + 14], "little", signed=True
            )
            n_segs = payload[pos + 26]
            lacing = payload[pos + 27 : pos + 27 + n_segs]
            if len(lacing) < n_segs:
                return None
            body_len = sum(lacing)
            page_end = pos + 27 + n_segs + body_len
            if page_end > n:
                return None
            (stored_crc,) = struct.unpack(
                "<I", payload[pos + 22 : pos + 26]
            )
            page = bytearray(payload[pos:page_end])
            page[22:26] = b"\x00\x00\x00\x00"
            if _ogg_crc(bytes(page)) != stored_crc:
                return None  # corrupt page
            if not first_done:
                body = payload[pos + 27 + n_segs : page_end]
                off = 0
                for lace in lacing:
                    first_packet += body[off : off + lace]
                    off += lace
                    if lace < 255:
                        first_done = True
                        break
            n_pages += 1
            if header_type & 0x04:  # EOS
                last_granule = granule
            pos = page_end
        if n_pages == 0 or not first_done:
            return None
        if len(first_packet) < 30 or bytes(first_packet[:7]) != b"\x01vorbis":
            return None
        channels = first_packet[11]
        rate = int.from_bytes(first_packet[12:16], "little")
        bitrate_nominal = int.from_bytes(
            first_packet[20:24], "little", signed=True
        )
        if not channels or not rate:
            return None
        n_samples = last_granule if last_granule is not None else 0
        return {
            "media_type": "ogg",
            "channels": channels,
            "sample_rate_hz": rate,
            "bitrate_nominal": bitrate_nominal,
            "n_samples": int(n_samples),
            "duration_ms": (int(n_samples) * 1000) // rate,
            "n_pages": n_pages,
        }
    except (struct.error, ValueError, IndexError):
        return None


def build_ogg_vorbis_payload(
    channels: int,
    rate: int,
    n_samples: int,
    n_pages: int = 2,
    bitrate_nominal: int = 128_000,
) -> bytes:
    """REAL-container Ogg/Vorbis builder: a BOS page carrying the
    identification header, filler audio pages, and an EOS page whose
    granule position is ``n_samples`` — every page CRC-correct (the same
    polynomial the parser verifies). The synth harness for
    :func:`parse_ogg_metadata`."""
    ident = (
        b"\x01vorbis" + struct.pack("<IB", 0, channels)
        + struct.pack("<i", rate)
        + struct.pack("<iii", 0, bitrate_nominal, 0)
        + bytes([0xB8, 0x01])
    )

    def page(seq: int, header_type: int, granule: int, body: bytes) -> bytes:
        lacing = []
        rem = len(body)
        while rem >= 255:
            lacing.append(255)
            rem -= 255
        lacing.append(rem)  # < 255 terminates the packet
        head = (
            b"OggS\x00" + bytes([header_type])
            + granule.to_bytes(8, "little", signed=True)
            + struct.pack("<II", 0x1234, seq)
            + b"\x00\x00\x00\x00"
            + bytes([len(lacing)]) + bytes(lacing)
        )
        raw = bytearray(head + body)
        crc = _ogg_crc(bytes(raw))
        raw[22:26] = struct.pack("<I", crc)
        return bytes(raw)

    if n_pages < 2:
        n_pages = 2
    out = [page(0, 0x02, 0, ident)]  # BOS
    for s in range(1, n_pages - 1):
        filler = bytes(((s * 37 + i) % 251 for i in range(40 + s)))
        out.append(page(s, 0x00, (n_samples * s) // n_pages, filler))
    out.append(page(n_pages - 1, 0x04, n_samples, b"\x00" * 16))  # EOS
    return b"".join(out)


OGG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_pages", T.IntegerType()),
    ]
)


def extract_ogg_metadata(media: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → REAL Ogg/Vorbis stream metadata (CRC-
    verified page walk + identification header + EOS granule). Non-Ogg
    or corrupt payloads yield no row. Shuffle-free ``mapInPandas``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                blob = bytes(payload) if payload is not None else b""
                meta = parse_ogg_metadata(blob)
                if meta is None:
                    continue
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "channels": meta["channels"],
                        "sample_rate_hz": meta["sample_rate_hz"],
                        "n_samples": meta["n_samples"],
                        "duration_ms": meta["duration_ms"],
                        "n_pages": meta["n_pages"],
                    }
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "channels", "sample_rate_hz", "n_samples",
                    "duration_ms", "n_pages",
                ],
            )
            for c in ("channels", "sample_rate_hz", "n_pages"):
                out[c] = out[c].astype("int32")
            yield out

    return media.select("doc_id", "payload").mapInPandas(run, OGG_META_SCHEMA)


# --- REAL FLAC decode (round-5: the one compressed-audio codec that is
# hand-rollable stdlib, the way the image codecs were in round 4). The
# encoder below writes spec-correct streams (RFC 9639 framing: STREAMINFO,
# frame headers with CRC-8, CONSTANT/VERBATIM/FIXED/LPC subframes, Rice
# residual partitions, frame CRC-16); the decoder inverts all of it and
# VERIFIES both CRCs, so a flipped bit, mis-framed subframe, wrong
# predictor order, or broken Rice parameter cannot round-trip. Reference
# semantics parity: usp has no audio surface — this extends the engine's
# multimodal column family (SURVEY.md §2.10) beyond metadata-only
# compressed audio.


class _FlacBitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a one (libFLAC read_unary counts
        # leading zeros)
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _FlacBitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0) -> None:
        self.data = data
        self.pos = pos_bits

    def read(self, bits: int) -> int:
        out = 0
        for _ in range(bits):
            byte = self.data[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >> (bits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _crc8_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _flac_utf8_number(n: int) -> bytes:
    """FLAC's extended-UTF-8 coding of frame/sample numbers."""
    if n < 0x80:
        return bytes([n])
    out = []
    marks = [(0x7FF, 0xC0, 1), (0xFFFF, 0xE0, 2), (0x1FFFFF, 0xF0, 3),
             (0x3FFFFFF, 0xF8, 4), (0x7FFFFFFF, 0xFC, 5)]
    for limit, lead, cont in marks:
        if n <= limit:
            out.append(lead | (n >> (6 * cont)))
            for k in range(cont - 1, -1, -1):
                out.append(0x80 | ((n >> (6 * k)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


def _read_flac_utf8(br: "_FlacBitReader") -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    cont = 0
    for lead, c in ((0xFC, 5), (0xF8, 4), (0xF0, 3), (0xE0, 2), (0xC0, 1)):
        if (first & ~(0xFF >> (c + 2))) == lead:
            cont = c
            n = first & (0xFF >> (c + 2))
            break
    else:
        raise ValueError("bad utf8 number")
    for _ in range(cont):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad utf8 continuation")
        n = (n << 6) | (b & 0x3F)
    return n


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _rice_encode(bw: _FlacBitWriter, residuals, param: int) -> None:
    for r in residuals:
        u = (-r * 2 - 1) if r < 0 else r * 2
        bw.write_unary(u >> param)
        bw.write(u, param)


def _rice_pick_param(residuals) -> int:
    if not len(residuals):
        return 0
    mean = sum(abs(int(r)) for r in residuals) / max(1, len(residuals))
    param = 0
    while (1 << param) < mean + 1 and param < 14:
        param += 1
    return param


def build_flac_payload(
    samples, sample_rate: int = 16000, blocksize: int = 32
) -> bytes:
    """Spec-correct FLAC encoder for 16-bit mono streams: STREAMINFO +
    fixed-blocksize frames whose subframe types cycle VERBATIM → FIXED
    (order cycling 0-4) → LPC (order 2, shift 1) by frame index, with
    CONSTANT chosen whenever a block is genuinely constant; Rice residual
    partition order alternates 0/1. Every frame carries a real header
    CRC-8 and trailer CRC-16. The synth harness for
    :func:`decode_flac_samples`."""
    s = [int(v) for v in samples]
    total = len(s)
    bw = _FlacBitWriter()
    # STREAMINFO (34 bytes), last-metadata flag set
    si = _FlacBitWriter()
    si.write(blocksize, 16)  # min blocksize
    si.write(blocksize, 16)  # max blocksize
    si.write(0, 24)  # min framesize unknown
    si.write(0, 24)  # max framesize unknown
    si.write(sample_rate, 20)
    si.write(0, 3)  # channels - 1
    si.write(15, 5)  # bits per sample - 1
    si.write(total, 36)
    for _ in range(16):
        si.write(0, 8)  # MD5 unknown
    header = b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + si.bytes()

    frames = bytearray()
    for fidx, off in enumerate(range(0, total, blocksize)):
        block = s[off : off + blocksize]
        n = len(block)
        fh = _FlacBitWriter()
        fh.write(0b11111111111110, 14)  # sync
        fh.write(0, 1)  # reserved
        fh.write(0, 1)  # blocking strategy: fixed
        fh.write(0b0111, 4)  # blocksize: 16-bit at end of header
        fh.write(0b0000, 4)  # sample rate: from STREAMINFO
        fh.write(0b0000, 4)  # channel assignment: mono
        fh.write(0b100, 3)  # sample size: 16 bits
        fh.write(0, 1)  # reserved
        for b in _flac_utf8_number(fidx):
            fh.write(b, 8)
        fh.write(n - 1, 16)
        hdr = fh.bytes()
        fb = _FlacBitWriter()
        for b in hdr:
            fb.write(b, 8)
        fb.write(_crc8_flac(hdr), 8)

        constant = all(v == block[0] for v in block)
        kind = fidx % 3
        fb.write(0, 1)  # subframe header pad bit
        if constant:
            fb.write(0b000000, 6)
            fb.write(0, 1)  # no wasted bits
            fb.write(block[0] & 0xFFFF, 16)
        elif kind == 0:
            fb.write(0b000001, 6)  # VERBATIM
            fb.write(0, 1)
            for v in block:
                fb.write(v & 0xFFFF, 16)
        else:
            if kind == 1:
                order = fidx % 5
                if order > n:
                    order = 0
                fb.write(0b001000 | order, 6)  # FIXED
                fb.write(0, 1)
                coefs = _FIXED_COEFS[order]
                shift = 0
            else:
                order = min(2, n)
                fb.write(0b100000 | (order - 1), 6)  # LPC
                fb.write(0, 1)
                coefs, shift = [3, -1][:order], 1
                if order < 2:
                    coefs, shift = [1], 0
            for v in block[:order]:  # warmup
                fb.write(v & 0xFFFF, 16)
            if kind == 2:
                fb.write(15 - 1, 4)  # qlp precision - 1 (15 bits)
                fb.write(shift, 5)  # shift (signed, positive here)
                for c in coefs:
                    fb.write(c & 0x7FFF, 15)
            residuals = [
                block[i]
                - (
                    sum(
                        coefs[j] * block[i - 1 - j] for j in range(order)
                    )
                    >> shift
                    if kind == 2
                    else sum(
                        coefs[j] * block[i - 1 - j] for j in range(order)
                    )
                )
                for i in range(order, n)
            ]
            fb.write(0b00, 2)  # residual method: Rice, 4-bit params
            porder = fidx % 2 if n % 2 == 0 and (n >> 1) > order else 0
            fb.write(porder, 4)
            nparts = 1 << porder
            start = 0
            for p in range(nparts):
                cnt = (n >> porder) - (order if p == 0 else 0)
                part = residuals[start : start + cnt]
                start += cnt
                param = _rice_pick_param(part)
                fb.write(param, 4)
                _rice_encode(fb, part, param)
        fb.align()
        body = fb.bytes()
        frames += body + _crc16_flac(body).to_bytes(2, "big")
    return header + bytes(frames)


def decode_flac_samples(payload: bytes):
    """REAL FLAC decode: STREAMINFO parse, frame-header walk (sync code,
    blocksize/rate/channel/sample-size codes, extended-UTF-8 frame
    number, CRC-8 VERIFIED), subframe decode for CONSTANT / VERBATIM /
    FIXED(0-4) / LPC with Rice residual partitions (any partition
    order), fixed+LPC predictor reconstruction, and frame CRC-16
    VERIFIED over the exact frame bytes. Returns ``(samples int32 array,
    meta)`` for 16-bit mono streams or None for non-FLAC / corrupt /
    unsupported payloads (honest None, like the other decoders)."""
    try:
        if payload[:4] != b"fLaC":
            return None
        pos = 4
        streaminfo = None
        while True:
            if pos + 4 > len(payload):
                return None
            last = payload[pos] & 0x80
            btype = payload[pos] & 0x7F
            size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
            body = payload[pos + 4 : pos + 4 + size]
            if len(body) < size:
                return None
            if btype == 0:
                streaminfo = body
            pos += 4 + size
            if last:
                break
        if streaminfo is None or len(streaminfo) < 34:
            return None
        br = _FlacBitReader(streaminfo)
        br.read(16)  # min blocksize
        br.read(16)
        br.read(24)
        br.read(24)
        sample_rate = br.read(20)
        channels = br.read(3) + 1
        bps = br.read(5) + 1
        total = br.read(36)
        if channels != 1 or bps != 16 or not sample_rate:
            return None  # scope: 16-bit mono (the synth contract)
        out: list[int] = []
        while len(out) < total:
            frame_start = pos
            br = _FlacBitReader(payload, pos * 8)
            if br.read(14) != 0b11111111111110:
                return None
            br.read(1)
            br.read(1)  # blocking strategy
            bs_code = br.read(4)
            sr_code = br.read(4)
            chan = br.read(4)
            ss_code = br.read(3)
            br.read(1)
            if chan != 0:
                return None
            _read_flac_utf8(br)
            if bs_code == 0b0110:
                n = br.read(8) + 1
            elif bs_code == 0b0111:
                n = br.read(16) + 1
            elif bs_code == 0b0001:
                n = 192
            elif 0b0010 <= bs_code <= 0b0101:
                n = 576 << (bs_code - 0b0010)
            elif bs_code >= 0b1000:
                n = 256 << (bs_code - 0b1000)
            else:
                return None
            if sr_code == 0b1100:
                br.read(8)
            elif sr_code in (0b1101, 0b1110):
                br.read(16)
            elif sr_code == 0b1111:
                return None
            hdr_len = (br.pos // 8) - frame_start
            if _crc8_flac(payload[frame_start : frame_start + hdr_len]) != br.read(8):
                return None
            if ss_code == 0b100:
                bits = 16
            elif ss_code == 0b001:
                bits = 8
            elif ss_code == 0b010:
                bits = 12
            elif ss_code == 0b101:
                bits = 20
            elif ss_code == 0b110:
                bits = 24
            elif ss_code == 0b000:
                bits = bps
            else:
                return None
            # subframe
            if br.read(1) != 0:
                return None
            stype = br.read(6)
            wasted = 0
            if br.read(1):
                wasted = 1 + br.read_unary()
            eff = bits - wasted
            if stype == 0b000000:
                v = br.read_signed(eff)
                block = [v] * n
            elif stype == 0b000001:
                block = [br.read_signed(eff) for _ in range(n)]
            elif 0b001000 <= stype <= 0b001100 or stype >= 0b100000:
                if stype >= 0b100000:
                    order = (stype & 0x1F) + 1
                    block = [br.read_signed(eff) for _ in range(order)]
                    prec = br.read(4) + 1
                    if prec == 16:
                        return None
                    shift = br.read_signed(5)
                    coefs = [br.read_signed(prec) for _ in range(order)]
                    lpc = True
                else:
                    order = stype & 0x07
                    block = [br.read_signed(eff) for _ in range(order)]
                    coefs, shift, lpc = _FIXED_COEFS[order], 0, False
                method = br.read(2)
                if method != 0b00:
                    return None  # Rice2 not in scope
                porder = br.read(4)
                nparts = 1 << porder
                residuals: list[int] = []
                for p in range(nparts):
                    cnt = (n >> porder) - (order if p == 0 else 0)
                    if cnt < 0:
                        return None
                    param = br.read(4)
                    if param == 0b1111:
                        esc = br.read(5)
                        for _ in range(cnt):
                            residuals.append(
                                _FlacBitReader.read_signed(br, esc) if esc else 0
                            )
                    else:
                        for _ in range(cnt):
                            q = br.read_unary()
                            u = (q << param) | br.read(param)
                            residuals.append(
                                (u >> 1) if u % 2 == 0 else -((u + 1) >> 1)
                            )
                for i, r in enumerate(residuals):
                    idx = order + i
                    pred = sum(
                        coefs[j] * block[idx - 1 - j] for j in range(order)
                    )
                    if lpc:
                        pred >>= shift
                    block.append(r + pred)
            else:
                return None
            if wasted:
                block = [v << wasted for v in block]
            br.align()
            body_len = (br.pos // 8) - frame_start
            stored_crc16 = br.read(16)
            if (
                _crc16_flac(payload[frame_start : frame_start + body_len])
                != stored_crc16
            ):
                return None
            out.extend(block)
            pos = br.pos // 8
        if len(out) != total:
            return None
        return (
            np.asarray(out, dtype=np.int64),
            {"sample_rate_hz": sample_rate, "channels": 1, "bits": 16},
        )
    except (IndexError, ValueError):
        return None


def flac_pcm_stats(media: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → REAL decoded-sample statistics for FLAC
    streams — the same order-sensitive stats contract as
    :func:`audio_pcm_stats` (a mis-framed subframe or broken predictor
    changes the zero-crossing count), now over a COMPRESSED container.
    Non-FLAC/corrupt payloads yield no row. Shuffle-free mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                decoded = decode_flac_samples(
                    bytes(payload) if payload is not None else b""
                )
                if decoded is None:
                    continue
                samples, _meta = decoded
                s = samples.astype(np.int64)
                neg = s < 0
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": int(s.size),
                        "sum_amp": int(s.sum()),
                        "sum_abs": int(np.abs(s).sum()),
                        "zero_crossings": int(
                            np.count_nonzero(neg[1:] != neg[:-1])
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sum_amp", "sum_abs",
                    "zero_crossings",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, PCM_STATS_SCHEMA
    )


# --- REAL TIFF decode (round-5: sixth format in the dispatch cascade).
# Baseline TIFF 6.0, uncompressed + PackBits, 8-bit grayscale/RGB, both
# byte orders, multi-strip — pure struct/numpy like the other decoders.


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ctrl = data[i]
        i += 1
        if ctrl < 128:  # literal run of ctrl+1 bytes
            out += data[i : i + ctrl + 1]
            i += ctrl + 1
        elif ctrl > 128:  # repeat next byte 257-ctrl times
            out += bytes([data[i]]) * (257 - ctrl)
            i += 1
        # ctrl == 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Simple spec-correct PackBits: repeat runs >= 3 become replicate
    packets, everything else literal packets (<=128 bytes each)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def encode_tiff(
    pixels,
    byteorder: str = "<",
    compression: int = 1,
    rows_per_strip: int = 2,
) -> bytes:
    """Baseline TIFF 6.0 encoder for the synth harness: 8-bit grayscale
    ((h, w) input) or RGB ((h, w, 3)), either byte order, compression 1
    (none) or 32773 (PackBits), multi-strip. The decoder under test must
    invert byte order, strip framing, and PackBits to recover pixels."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    spp = 1 if gray else 3
    rows_per_strip = max(1, rows_per_strip)
    n_strips = (h + rows_per_strip - 1) // rows_per_strip
    strips = []
    for s in range(n_strips):
        rows = px[s * rows_per_strip : (s + 1) * rows_per_strip]
        raw = rows.tobytes()
        strips.append(_packbits_encode(raw) if compression == 32773 else raw)

    E = byteorder  # "<" or ">"
    entries = []  # (tag, type, count, value_bytes_or_int)

    def entry(tag, typ, count, value):
        entries.append((tag, typ, count, value))

    # SHORT=3, LONG=4
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    if gray:
        entry(258, 3, 1, 8)
    else:
        entry(258, 3, 3, None)  # offset to 3 shorts, filled below
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 1 if gray else 2)
    entry(273, 4, n_strips, None)  # strip offsets
    entry(277, 3, 1, spp)
    entry(278, 3, 1, rows_per_strip)
    entry(279, 4, n_strips, None)  # strip byte counts

    header = struct.pack(
        E + "2sHI", b"II" if E == "<" else b"MM", 42, 8
    )
    ifd_size = 2 + 12 * len(entries) + 4
    data_start = 8 + ifd_size
    # layout: [bits-per-sample array][strip offsets][strip counts][strips]
    extra = bytearray()
    extra_offsets = {}
    if not gray:
        extra_offsets[258] = data_start + len(extra)
        extra += struct.pack(E + "3H", 8, 8, 8)
    if n_strips > 1:
        extra_offsets[273] = data_start + len(extra)
        extra += b"\x00" * (4 * n_strips)
        extra_offsets[279] = data_start + len(extra)
        extra += struct.pack(E + f"{n_strips}I", *(len(s) for s in strips))
    strip_start = data_start + len(extra)
    offs = []
    pos = strip_start
    for s in strips:
        offs.append(pos)
        pos += len(s)
    if n_strips > 1:
        extra[
            extra_offsets[273] - data_start : extra_offsets[273] - data_start + 4 * n_strips
        ] = struct.pack(E + f"{n_strips}I", *offs)

    ifd = struct.pack(E + "H", len(entries))
    for tag, typ, count, value in entries:
        if tag == 258 and not gray:
            val = extra_offsets[258]
        elif tag == 273:
            val = offs[0] if n_strips == 1 else extra_offsets[273]
        elif tag == 279:
            val = len(strips[0]) if n_strips == 1 else extra_offsets[279]
        else:
            val = value
        if typ == 3 and count == 1:
            vbytes = struct.pack(E + "HH", val, 0)
        else:
            vbytes = struct.pack(E + "I", val)
        ifd += struct.pack(E + "HHI", tag, typ, count) + vbytes
    ifd += struct.pack(E + "I", 0)  # no next IFD
    return header + ifd + bytes(extra) + b"".join(strips)


def decode_tiff_pixels(payload: bytes):
    """REAL TIFF decode: header/IFD walk in either byte order, tag
    extraction (dims, bits, compression, photometric, strip layout),
    per-strip PackBits expansion, row reassembly across strips. Returns
    ``(h, w, 3)`` uint8 RGB (grayscale replicated) or None for non-TIFF
    / unsupported variants (honest None: only baseline 8-bit gray/RGB,
    compression 1/32773)."""
    try:
        if payload[:4] == b"II*\x00":
            E = "<"
        elif payload[:4] == b"MM\x00*":
            E = ">"
        else:
            return None
        (ifd_off,) = struct.unpack_from(E + "I", payload, 4)
        (n_entries,) = struct.unpack_from(E + "H", payload, ifd_off)
        tags: dict[int, tuple[int, int, bytes]] = {}
        for k in range(n_entries):
            tag, typ, count = struct.unpack_from(
                E + "HHI", payload, ifd_off + 2 + 12 * k
            )
            tags[tag] = (typ, count, payload[ifd_off + 2 + 12 * k + 8 :][:4])

        def tag_values(tag):
            typ, count, raw = tags[tag]
            size = {3: 2, 4: 4}[typ]
            fmt = "H" if typ == 3 else "I"
            if size * count <= 4:
                return list(
                    struct.unpack_from(E + f"{count}{fmt}", raw, 0)
                )
            (off,) = struct.unpack_from(E + "I", raw, 0)
            return list(struct.unpack_from(E + f"{count}{fmt}", payload, off))

        w = tag_values(256)[0]
        h = tag_values(257)[0]
        compression = tag_values(259)[0] if 259 in tags else 1
        photometric = tag_values(262)[0]
        spp = tag_values(277)[0] if 277 in tags else 1
        bits = tag_values(258) if 258 in tags else [8] * spp
        if any(b != 8 for b in bits) or len(bits) != spp:
            return None
        if compression not in (1, 32773):
            return None
        if (photometric, spp) not in ((1, 1), (2, 3)):
            return None
        rows_per_strip = tag_values(278)[0] if 278 in tags else h
        offsets = tag_values(273)
        counts = tag_values(279)
        # strip framing: ceil(h / rows_per_strip) strips, each decoding to
        # exactly its rows (the last one may be short)
        n_strips = -(-h // rows_per_strip) if rows_per_strip > 0 else -1
        if not len(offsets) == len(counts) == n_strips:
            return None
        raw = bytearray()
        for k, (off, cnt) in enumerate(zip(offsets, counts)):
            chunk = payload[off : off + cnt]
            if len(chunk) < cnt:
                return None
            strip = _packbits_decode(chunk) if compression == 32773 else chunk
            rows = min(rows_per_strip, h - k * rows_per_strip)
            if len(strip) != rows * w * spp:
                return None
            raw += strip
        arr = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, w, spp)
        if spp == 1:
            arr = np.repeat(arr, 3, axis=2)
        return arr
    except (struct.error, IndexError, KeyError, ValueError):
        return None


def embed_audio_content(payload: bytes, dim: int = 16) -> list[float] | None:
    """REAL content-derived audio embedding — the waveform counterpart of
    :func:`embed_image_content`: decode (FLAC via
    :func:`decode_flac_samples`, then PCM WAV via
    :func:`decode_wav_samples`) → ``dim`` equal temporal segments
    ``[k·n//dim, (k+1)·n//dim)`` → per-segment floor-mean absolute
    amplitude ``m = seg_abs_sum // seg_len`` (0 for empty segments) →
    component ``m / 32768.0``. Every component is an exact dyadic
    rational (m ≤ 32767 < 2^15), so dots/norms are bit-exact across
    engines while the values are pure waveform energy envelope — a
    re-ordered, mis-framed, or wrongly-predicted decode changes the
    vector. Returns None when no real audio decoder covers the payload."""
    decoded = decode_flac_samples(payload)
    if decoded is None:
        decoded = decode_wav_samples(payload)
    if decoded is None:
        return None
    samples = np.abs(np.asarray(decoded[0], dtype=np.int64))
    n = samples.size
    vec: list[float] = []
    for k in range(dim):
        a, b = (k * n) // dim, ((k + 1) * n) // dim
        seg = samples[a:b]
        m = int(seg.sum()) // seg.size if seg.size else 0
        vec.append(m / 32768.0)
    return vec
