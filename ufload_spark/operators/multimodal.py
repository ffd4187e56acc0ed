"""Multimodal column plumbing (extension surface).

Images/audio/video are carried as opaque ``binary`` columns with typed
metadata; decode/feature-extract runs as Arrow-batched pandas over
``mapInPandas``. :func:`decode_image` is a REAL stdlib parser (PNG
signature + IHDR chunk, JPEG marker walk to SOFn) and
:func:`resize_image` really rewrites the header geometry (struct + zlib.crc32
only — no Pillow). The container has no image *fixtures*, so payloads are
synthesized per document with valid PNG/JPEG structure and dimensions
derived deterministically from ``doc_id`` — which is what gives every query
an exact DuckDB oracle. Pixel-level resampling (the one step that genuinely
needs an image library) is documented at :func:`resize_image`; everything
else — schema, partitioning, Arrow batch shape, the parse itself — is real.

Video is a stdlib-decodable container (``UFV1``: length-prefixed real PNG
frames) because the sandbox ships no codecs: the frame sampler genuinely
walks the length index, slices real frame bytes and CRC-decodes them — only
the codec itself (:func:`iter_video_frames`) is the swap-in point for
pyav/ffmpeg.

Audio is real RIFF/WAV (:func:`decode_wav`): a stdlib chunk walk with the
word-alignment pad rule and fmt/data size invariants enforced — channels,
sample rate and sample count come from the bytes. Compressed codecs swap in
at the same boundary.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.lifetime import cut
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import in_batch, spread, table

PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: deterministic per-doc geometry — the DuckDB oracles repeat this arithmetic
W_MOD, W_OFF = 640, 16
H_MOD, H_OFF = 480, 16

#: fixed synthesized payload sizes (header-only images)
PNG_BYTES = len(PNG_SIG) + 25 + 12  # sig + IHDR chunk + IEND chunk = 45
JPEG_BYTES = 2 + 19 + 2  # SOI + SOF0 segment (3 components) + EOI = 23


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int) -> bytes:
    """Minimal structurally-valid PNG: signature, IHDR (8-bit RGB), IEND."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")


def make_jpeg(width: int, height: int) -> bytes:
    """Minimal structurally-valid JPEG: SOI, SOF0 (3 components), EOI."""
    # SOF0 payload: length(2) precision(1) height(2) width(2) ncomp(1) + 3×3
    comps = b"".join(struct.pack("BBB", i + 1, 0x11, 0) for i in range(3))
    payload = struct.pack(">HBHHB", 2 + 1 + 2 + 2 + 1 + len(comps), 8, height, width, 3)
    return b"\xff\xd8" + b"\xff\xc0" + payload + comps + b"\xff\xd9"


#: SOF markers that carry frame geometry (C0-CF minus DHT/JPG/DAC)
_SOF_MARKERS = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def _jpeg_sof_offset(content: bytes) -> int:
    """Byte offset of the SOF payload (after marker + length), or raise."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", content[pos + 2 : pos + 4])[0]
        if marker in _SOF_MARKERS:
            return pos + 4
        pos += 2 + seg_len
    raise ValueError("no SOF marker found")


def decode_image(content: bytes) -> tuple[str, int, int]:
    """Parse real image bytes → (format, width, height). Pure stdlib:
    PNG = signature check + IHDR big-endian fields (with CRC verification);
    JPEG = marker walk to the first SOFn frame header. Raises ValueError on
    non-image bytes — callers surface that as a corrupt-row flag, the same
    posture as the reference's ZIP corruption detection
    (/root/reference/ufload/cloud.py:215-232)."""
    if content[: len(PNG_SIG)] == PNG_SIG:
        length, ctype = struct.unpack(">I4s", content[8:16])
        if ctype != b"IHDR" or length != 13:
            raise ValueError("PNG missing IHDR")
        data = content[16 : 16 + 13]
        crc = struct.unpack(">I", content[16 + 13 : 16 + 17])[0]
        if crc != (zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF):
            raise ValueError("PNG IHDR CRC mismatch")
        width, height = struct.unpack(">II", data[:8])
        return ("png", width, height)
    if content[:2] == b"\xff\xd8":
        off = _jpeg_sof_offset(content)
        _, height, width = struct.unpack(">BHH", content[off : off + 5])
        return ("jpeg", width, height)
    raise ValueError("unrecognized image format")


def resize_image(content: bytes, edge: int) -> bytes:
    """Header-level resize: parse the geometry, scale so the longest edge is
    ``edge`` (never upscale, floor rounding), and rewrite the header's
    dimension fields — PNG IHDR gets its CRC recomputed, JPEG's SOF height/
    width are patched in place. On these header-only payloads this is the
    complete operation; with real pixel data a resampler (Pillow/libvips)
    would additionally rewrite the IDAT/scan contents — the dataflow around
    it (binary in → mapInPandas → binary out) is unchanged."""
    fmt, w, h = decode_image(content)
    longest = max(w, h)
    if longest <= edge:
        return content
    ow, oh = w * edge // longest, h * edge // longest
    if fmt == "png":
        data = bytearray(content[16 : 16 + 13])
        data[0:8] = struct.pack(">II", ow, oh)
        return (
            content[:8]
            + _png_chunk(b"IHDR", bytes(data))
            + content[16 + 17 :]
        )
    off = _jpeg_sof_offset(content)
    return (
        content[: off + 1]
        + struct.pack(">HH", oh, ow)
        + content[off + 5 :]
    )


def _dims_for(doc_id: int) -> tuple[int, int]:
    return doc_id % W_MOD + W_OFF, doc_id % H_MOD + H_OFF


def synthesize_image(doc_id: int) -> bytes:
    """Deterministic per-doc payload: even ids are PNG, odd are JPEG, with
    dimensions derived from the id (the oracle repeats the arithmetic)."""
    w, h = _dims_for(doc_id)
    return make_png(w, h) if doc_id % 2 == 0 else make_jpeg(w, h)


def _synthesize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(synthesize_image),
            }
        )


def doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents id frame, repartitioned so the Python decode stages
    actually parallelize: the fixture is ONE parquet split, and a
    ``mapInPandas`` chain inherits that single partition — measured as one
    CPU-pinned worker for the whole table (the r6 bench hang). The
    up-front doc_id repartition is the `shingles` device; at 100 TB the
    table arrives in thousands of splits and this exchange disappears
    into the layout."""
    return spread(table(spark, sf_dir, "documents").select("doc_id"), "doc_id")


def with_binary_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents' ids with an opaque binary image payload column (synthetic
    but structurally-valid PNG/JPEG bytes standing in for stored images)."""
    d = doc_ids(spark, sf_dir)
    return d.mapInPandas(_synthesize_batches, schema="doc_id long, content binary")


META_SCHEMA = "doc_id long, fmt string, width int, height int, n_bytes long"


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow hands us column batches; we never materialize more than one
    batch, so memory stays bounded per task regardless of table size."""
    for pdf in batches:
        decoded = pdf["content"].map(decode_image)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "fmt": decoded.map(lambda t: t[0]),
                "width": decoded.map(lambda t: t[1]).astype("int32"),
                "height": decoded.map(lambda t: t[2]).astype("int32"),
                "n_bytes": pdf["content"].map(len).astype("int64"),
            }
        )


@register(
    "multimodal_decode_meta",
    f"""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       CAST(doc_id % {W_MOD} + {W_OFF} AS INT) AS width,
       CAST(doc_id % {H_MOD} + {H_OFF} AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN {PNG_BYTES} ELSE {JPEG_BYTES} END AS BIGINT) AS n_bytes
FROM documents
""",
    doc="real stdlib image decode (PNG IHDR / JPEG SOF) via Arrow mapInPandas",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline shape: binary column in, typed metadata out,
    via ``mapInPandas`` (Arrow batches, ~10-100× faster than row-at-a-time
    Python). The decode genuinely parses the bytes (signature, chunk/marker
    structure, CRC); the oracle independently predicts the dims from the
    synthesizer's arithmetic, so a parser bug hash-mismatches. Narrow map —
    scales linearly, no shuffle."""
    return with_binary_content(spark, sf_dir).mapInPandas(
        _decode_batches, schema=META_SCHEMA
    )


TARGET_EDGE = 128  # resize target: longest edge in px

RESIZE_SCHEMA = "doc_id long, width int, height int, out_width int, out_height int"


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        orig = pdf["content"].map(decode_image)
        resized = pdf["content"].map(lambda c: decode_image(resize_image(c, TARGET_EDGE)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": orig.map(lambda t: t[1]).astype("int32"),
                "height": orig.map(lambda t: t[2]).astype("int32"),
                "out_width": resized.map(lambda t: t[1]).astype("int32"),
                "out_height": resized.map(lambda t: t[2]).astype("int32"),
            }
        )


@register(
    "multimodal_resize_meta",
    f"""
WITH dims AS (
  SELECT doc_id, doc_id % {W_MOD} + {W_OFF} AS w, doc_id % {H_MOD} + {H_OFF} AS h
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(CASE WHEN greatest(w, h) <= {TARGET_EDGE} THEN w
                 ELSE w * {TARGET_EDGE} // greatest(w, h) END AS INT) AS out_width,
       CAST(CASE WHEN greatest(w, h) <= {TARGET_EDGE} THEN h
                 ELSE h * {TARGET_EDGE} // greatest(w, h) END AS INT) AS out_height
FROM dims
""",
    doc="header-level image resize (real byte rewrite + re-decode) via mapInPandas",
)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-stage shape: binary in → rewrite header geometry → re-decode
    the rewritten bytes → per-image output geometry. Round-tripping through
    :func:`resize_image` + :func:`decode_image` means the oracle checks the
    byte-rewrite really happened (a stale-CRC or wrong-offset bug fails the
    re-decode). Narrow Arrow-batched map, no shuffle."""
    return with_binary_content(spark, sf_dir).mapInPandas(
        _resize_batches, schema=RESIZE_SCHEMA
    )


FRAME_STEP = 10  # sample every k-th frame

# --- video container: magic + frame count + length-prefixed PNG frames ----
#
# The sandbox ships no video codecs, so the *codec* is a stdlib-decodable
# container of real PNG frames ("UFV1": magic, uint32 frame count, then each
# frame as uint32 length + PNG bytes). Everything downstream of the codec
# boundary is the real pipeline: the sampler walks the length index, slices
# actual frame bytes out of the binary column, and runs the same
# CRC-verifying PNG parser the image path uses — frame geometry in the
# output comes from DECODED BYTES, not from repeating the synthesizer's
# arithmetic. Swapping in a real codec (pyav/ffmpeg) replaces only
# iter_video_frames.

VIDEO_MAGIC = b"UFV1"


def _frame_dims(doc_id: int, frame_idx: int) -> tuple[int, int]:
    """Per-frame geometry: varies across BOTH doc and frame index so a
    sampler that decodes the wrong frame's bytes can't accidentally match."""
    return (
        (doc_id + frame_idx) % W_MOD + W_OFF,
        (doc_id * 3 + frame_idx) % H_MOD + H_OFF,
    )


def make_video(doc_id: int) -> bytes:
    """Deterministic per-doc video payload: n_frames real PNG frames,
    length-prefixed behind a magic + count header."""
    n_frames = doc_id % 97 + 1
    parts = [VIDEO_MAGIC, struct.pack(">I", n_frames)]
    for idx in range(n_frames):
        png = make_png(*_frame_dims(doc_id, idx))
        parts.append(struct.pack(">I", len(png)))
        parts.append(png)
    return b"".join(parts)


def iter_video_frames(content: bytes) -> Iterator[tuple[int, bytes]]:
    """Walk a UFV1 container, yielding (frame_idx, frame_bytes). Raises
    ValueError on a bad magic, truncated frame, or trailing garbage — the
    corrupt-row-flag posture, like :func:`decode_image`."""
    if content[:4] != VIDEO_MAGIC:
        raise ValueError("not a UFV1 video container")
    (n_frames,) = struct.unpack(">I", content[4:8])
    pos = 8
    for idx in range(n_frames):
        if pos + 4 > len(content):
            raise ValueError(f"truncated at frame {idx}")
        (ln,) = struct.unpack(">I", content[pos : pos + 4])
        pos += 4
        if pos + ln > len(content):
            raise ValueError(f"truncated frame {idx} body")
        yield idx, content[pos : pos + ln]
        pos += ln
    if pos != len(content):
        raise ValueError("trailing bytes after last frame")


def _synthesize_video_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(lambda d: make_video(int(d))),
            }
        )


FRAMES_SCHEMA = (
    "doc_id long, n_frames int, frame_idx int, frame_width int, frame_height int"
)


def _frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Row-expanding sampler: every FRAME_STEP-th frame's REAL bytes are
    sliced out of the container and decoded (PNG IHDR + CRC check). One
    video row fans out to k frame rows; memory stays bounded by one Arrow
    batch of containers per task."""
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in
                                ("doc_id", "n_frames", "frame_idx", "w", "h")}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            frames = list(iter_video_frames(bytes(content)))
            for idx, frame_bytes in frames:
                if idx % FRAME_STEP:
                    continue
                _, w, h = decode_image(frame_bytes)
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(frames))
                out["frame_idx"].append(idx)
                out["w"].append(w)
                out["h"].append(h)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "frame_width": pd.Series(out["w"], dtype="int32"),
                "frame_height": pd.Series(out["h"], dtype="int32"),
            }
        )


@register(
    "multimodal_frame_sample",
    f"""
WITH vids AS (SELECT doc_id, doc_id % 97 + 1 AS n_frames FROM documents),
frames AS (
  SELECT doc_id, n_frames,
         unnest(range(0, n_frames, {FRAME_STEP})) AS frame_idx
  FROM vids
)
SELECT doc_id, CAST(n_frames AS INT) AS n_frames, CAST(frame_idx AS INT) AS frame_idx,
       CAST((doc_id + frame_idx) % {W_MOD} + {W_OFF} AS INT) AS frame_width,
       CAST((doc_id * 3 + frame_idx) % {H_MOD} + {H_OFF} AS INT) AS frame_height
FROM frames
""",
    doc="video frame sampling over a length-prefixed PNG container: sampled "
    "frames' bytes really sliced + CRC-decoded; 1 video → k frame rows",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline: binary video column → row-EXPANDING
    mapInPandas that walks the container's length index, slices each sampled
    frame's actual bytes, and decodes them with the CRC-verifying PNG
    parser. The oracle predicts the per-frame geometry from the
    synthesizer's arithmetic, so a sampler that mis-seeks, off-by-ones the
    length walk, or decodes the wrong frame hash-fails. Narrow map — no
    shuffle; a real codec swaps in at :func:`iter_video_frames` only."""
    d = doc_ids(spark, sf_dir)
    videos = d.mapInPandas(
        _synthesize_video_batches, schema="doc_id long, content binary"
    )
    return videos.mapInPandas(_frame_sample_batches, schema=FRAMES_SCHEMA)


# --- audio: RIFF/WAV chunk walk -------------------------------------------
#
# The audio twin of the PNG/JPEG parsers: WAV is the one mainstream audio
# container that is pure stdlib to parse (RIFF chunk walk, little-endian
# fmt struct), so the decode here is REAL — channels, sample rate, bit
# depth and sample count all come from the bytes, with the RIFF size
# invariants and the word-alignment pad rule enforced. Compressed codecs
# (mp3/aac/flac) swap in at :func:`decode_wav` exactly like pyav does at
# :func:`iter_video_frames`.

WAV_RATES = (8000, 16000, 22050, 44100)
WAV_BITS = 16
DURATION_BUCKET_MS = 20


def _riff_chunk(cid: bytes, data: bytes) -> bytes:
    """A RIFF sub-chunk: id + little-endian size + body + pad byte when the
    body is odd-sized (the RIFF word-alignment rule — the size field still
    records the unpadded length)."""
    pad = b"\x00" if len(data) % 2 else b""
    return cid + struct.pack("<I", len(data)) + data + pad


def make_wav(doc_id: int) -> bytes:
    """Deterministic per-doc WAV: PCM, channels/rate/sample-count derived
    from the id (the oracle repeats the arithmetic). An odd-sized JUNK
    chunk sits before fmt so a parser that assumes fixed offsets — or
    forgets the pad byte — cannot decode it."""
    channels = doc_id % 2 + 1
    rate = WAV_RATES[doc_id % 4]
    n_samples = doc_id % 1000 + 100
    block_align = channels * WAV_BITS // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block_align, block_align, WAV_BITS
    )
    # Real (deterministic) PCM content, not silence: interleaved int16
    # samples s(i) = ((doc_id·31 + i·7919) mod 4096) − 2048 — same byte
    # count as the former zero fill, so size-derived oracles are
    # unaffected, while sample-level operators (loudness) get a waveform
    # whose moments the oracle can recompute from the id arithmetic.
    idx = np.arange(n_samples * channels, dtype=np.int64)
    data = (((doc_id * 31 + idx * 7919) % 4096) - 2048).astype("<i2").tobytes()
    chunks = (
        _riff_chunk(b"JUNK", b"ufload-spark-audio-fixture!")  # 27 bytes: odd
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"data", data)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(content: bytes) -> tuple[int, int, int, int]:
    """Parse real WAV bytes → (channels, sample_rate, bits, n_samples).
    Pure stdlib: RIFF magic + size invariant, chunk walk honoring the
    word-alignment pad, fmt struct fields cross-checked (byte rate, block
    align), sample count from the data chunk's byte length. Raises
    ValueError on malformed bytes — the corrupt-row-flag posture shared
    with :func:`decode_image`."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_size,) = struct.unpack("<I", content[4:8])
    if riff_size != len(content) - 8:
        raise ValueError("RIFF size field disagrees with payload length")
    pos = 12
    fmt_fields: tuple[int, int, int, int, int, int] | None = None
    data_len: int | None = None
    while pos < len(content):
        if pos + 8 > len(content):
            raise ValueError(f"truncated chunk header at {pos}")
        cid = content[pos : pos + 4]
        (ln,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError(f"truncated {cid!r} chunk body")
        if cid == b"fmt ":
            if ln < 16:
                raise ValueError("fmt chunk too short")
            fmt_fields = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data_len = ln
        pos += 8 + ln + (ln % 2)  # odd-sized chunks carry a pad byte
    if fmt_fields is None or data_len is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, byte_rate, block_align, bits = fmt_fields
    if audio_format != 1:
        raise ValueError(f"not PCM (format {audio_format})")
    if block_align != channels * bits // 8 or byte_rate != rate * block_align:
        raise ValueError("inconsistent fmt fields")
    if data_len % block_align:
        raise ValueError("data chunk not a whole number of sample frames")
    return channels, rate, bits, data_len // block_align


def _synthesize_audio_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(lambda d: make_wav(int(d))),
            }
        )


AUDIO_SCHEMA = (
    "doc_id long, channels int, sample_rate int, n_samples int, "
    "duration_ms long, duration_bucket int"
)


def _audio_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        decoded = pdf["content"].map(lambda c: decode_wav(bytes(c)))
        n_samples = decoded.map(lambda t: t[3])
        rate = decoded.map(lambda t: t[1])
        # integer ms so both engines land on the identical value
        duration_ms = (n_samples * 1000 // rate).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "channels": decoded.map(lambda t: t[0]).astype("int32"),
                "sample_rate": rate.astype("int32"),
                "n_samples": n_samples.astype("int32"),
                "duration_ms": duration_ms,
                "duration_bucket": (duration_ms // DURATION_BUCKET_MS).astype(
                    "int32"
                ),
            }
        )


@register(
    "multimodal_audio_meta",
    f"""
WITH a AS (
  SELECT doc_id,
         doc_id % 2 + 1 AS channels,
         CASE doc_id % 4 WHEN 0 THEN {WAV_RATES[0]} WHEN 1 THEN {WAV_RATES[1]}
              WHEN 2 THEN {WAV_RATES[2]} ELSE {WAV_RATES[3]} END AS rate,
         doc_id % 1000 + 100 AS n_samples
  FROM documents
)
SELECT doc_id,
       CAST(channels AS INT) AS channels,
       CAST(rate AS INT) AS sample_rate,
       CAST(n_samples AS INT) AS n_samples,
       CAST(n_samples * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(n_samples * 1000 // rate // {DURATION_BUCKET_MS} AS INT)
         AS duration_bucket
FROM a
""",
    doc="real stdlib RIFF/WAV decode (chunk walk, fmt struct, pad rule) via "
    "Arrow mapInPandas, with integer-ms duration bucketing",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio modality, completing the image/video set: binary WAV column
    in, typed metadata + duration bucket out, via Arrow-batched
    ``mapInPandas``. The decode genuinely walks RIFF chunks (pad rule, size
    invariants, fmt cross-checks) and derives the sample count from the data
    chunk's byte length; the oracle independently predicts every field from
    the synthesizer's arithmetic, so a parser bug hash-mismatches. Narrow
    map — scales linearly, no shuffle."""
    d = doc_ids(spark, sf_dir)
    audio = d.mapInPandas(
        _synthesize_audio_batches, schema="doc_id long, content binary"
    )
    return audio.mapInPandas(_audio_meta_batches, schema=AUDIO_SCHEMA)


# --- pixel-level PNG decode + perceptual average-hash ----------------------

#: aHash geometry: 16×16 RGB images, 2×2 blocks → the classic 8×8 = 64-bit
#: average hash; docs sharing ``doc_id % AH_PATTERN_MOD`` render identical
#: pixel content, planting exact-duplicate groups to find
AH_W = AH_H = 16
AH_BLOCK = 2
AH_PATTERN_MOD = 50


def make_pixel_png(base: int) -> bytes:
    """A REAL renderable PNG — 8-bit RGB, filter-0 scanlines, zlib IDAT —
    of the deterministic gradient ``v(x, y) = (7x + 13y + 31·base) % 256``
    on all three channels. Unlike the header-only fixtures above, this
    carries actual pixel data, so decoding requires the full IDAT path."""
    rows = bytearray()
    for y in range(AH_H):
        rows.append(0)  # filter type 0 (None) per scanline
        for x in range(AH_W):
            v = (7 * x + 13 * y + 31 * base) % 256
            rows += bytes((v, v, v))
    ihdr = struct.pack(">IIBBBBB", AH_W, AH_H, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(rows)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(content: bytes) -> list[list[int]]:
    """Full stdlib PNG pixel decode: chunk walk with CRC verification,
    IDAT concatenation, zlib inflate, scanline unfiltering (filter 0; the
    other filter types are the documented codec swap-in point), returning
    the grayscale grid (R channel — the fixture writes equal channels).
    Raises ValueError on any structural violation, the corrupt-row
    posture shared by every decoder in this module."""
    if content[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = len(PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(content):
        length, ctype = struct.unpack(">I4s", content[pos : pos + 8])
        if pos + 12 + length > len(content):  # truncated mid-chunk
            raise ValueError(f"truncated {ctype!r} chunk")
        data = content[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", content[pos + 8 + length : pos + 12 + length]
        )
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    w, h, depth, color, _, _, interlace = ihdr
    if (depth, color, interlace) != (8, 2, 0):
        raise ValueError(f"unsupported PNG format {(depth, color, interlace)}")
    raw = zlib.decompress(bytes(idat))
    stride = 1 + 3 * w
    if len(raw) != h * stride:
        raise ValueError("scanline payload size mismatch")
    grid = []
    for y in range(h):
        row = raw[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise ValueError(f"unsupported scanline filter {row[0]}")
        grid.append([row[1 + 3 * x] for x in range(w)])
    return grid


def ahash_bits(grid: list[list[int]]) -> str:
    """64-char bit string: block means (2×2) vs the global mean, row-major.
    All means are exact dyadic rationals of small ints, so the >= decisions
    are float-exact on any engine."""
    h, w = len(grid), len(grid[0])
    gm = sum(sum(r) for r in grid) / (w * h)
    bits = []
    for by in range(h // AH_BLOCK):
        for bx in range(w // AH_BLOCK):
            bm = (
                sum(
                    grid[by * AH_BLOCK + dy][bx * AH_BLOCK + dx]
                    for dy in range(AH_BLOCK)
                    for dx in range(AH_BLOCK)
                )
                / (AH_BLOCK * AH_BLOCK)
            )
            bits.append("1" if bm >= gm else "0")
    return "".join(bits)


def _synthesize_pixel_png_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    # per-task render memo (the _phash_batches posture): the render base
    # domain is AH_PATTERN_MOD, so each task deflates each distinct image
    # once instead of once per doc
    memo: dict[int, bytes] = {}

    def one(d: int) -> bytes:
        base = d % AH_PATTERN_MOD
        png = memo.get(base)
        if png is None:
            png = memo[base] = make_pixel_png(base)
        return png

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(lambda d: one(int(d))),
            }
        )


def _ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # content-addressed decode memo — same posture as _phash_batches /
    # _image_histogram_batches: identical bytes ⇒ identical hash
    memo: dict[bytes, str] = {}

    def one(c: bytes) -> str:
        h = memo.get(c)
        if h is None:
            h = memo[c] = ahash_bits(decode_png_pixels(c))
        return h

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "ahash": pdf["content"].map(lambda c: one(bytes(c))),
            }
        )


@register(
    "multimodal_image_ahash",
    f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         (7 * x.x + 13 * y.y + 31 * (d.doc_id % {AH_PATTERN_MOD})) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, {AH_W})) AS x) x,
       (SELECT unnest(range(0, {AH_H})) AS y) y
), blocks AS (
  SELECT doc_id, x // {AH_BLOCK} AS bx, y // {AH_BLOCK} AS by, avg(v) AS bm
  FROM px GROUP BY 1, 2, 3
), g AS (
  SELECT doc_id, avg(v) AS gm FROM px GROUP BY 1
), bits AS (
  SELECT b.doc_id,
         string_agg(CASE WHEN b.bm >= g.gm THEN '1' ELSE '0' END, ''
                    ORDER BY b.by, b.bx) AS ahash
  FROM blocks b JOIN g USING (doc_id) GROUP BY b.doc_id
)
SELECT doc_id, ahash, count(*) OVER (PARTITION BY ahash) AS n_dupes
FROM bits
""",
    doc="perceptual image dedup: REAL pixel-level PNG decode (zlib inflate "
    "+ scanline unfilter) → 8×8 average-hash → exact-hash dup groups; the "
    "oracle predicts every bit closed-form from the render arithmetic",
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup for the multimodal family: every doc renders a REAL
    PNG (IDAT pixel payload, not just headers), an Arrow-batched
    ``mapInPandas`` decodes it back through the honest path — chunk CRC
    walk, zlib inflate, scanline unfilter — and computes the classic
    average hash (block mean ≥ global mean, 64 bits); identical hashes
    then form duplicate groups (the fixture plants them: docs sharing
    ``doc_id % {AH_PATTERN_MOD}`` render the same image). The oracle
    re-derives every pixel, block mean and hash bit CLOSED-FORM from the
    render arithmetic — a decoder bug anywhere in the inflate/unfilter/
    hash path flips bits and hash-mismatches.

    Scale shape: decode + hash is a narrow per-row map (linear in image
    bytes, no shuffle); the only exchange groups 64-bit hashes for the
    dup count — the same one-shuffle-on-fingerprint posture as
    ``dedup_exact``. Near-dup retrieval at Hamming distance would bolt on
    the SimHash pigeonhole machinery (dedup.py) over these same bits.

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    png = d.mapInPandas(
        _synthesize_pixel_png_batches, schema="doc_id long, content binary"
    )
    hashed = png.mapInPandas(_ahash_batches, schema="doc_id long, ahash string")
    w = Window.partitionBy("ahash")
    return hashed.select(
        "doc_id", "ahash", F.count("*").over(w).alias("n_dupes")
    )


# --- near-duplicate image retrieval: Hamming over aHash bits ----------------

#: Hamming radius and pigeonhole banding for aHash near-dup retrieval.
#: 4 bands of 16 bits over the 64-bit hash: two hashes within Hamming
#: distance AH_NEARDUP_T (< 4) MUST agree on at least one band — the
#: banded candidate join is lossless at this radius.
AH_NEARDUP_T = 3
AH_BANDS = 4
AH_BAND_BITS = 64 // AH_BANDS

_AHASH_BITS_CTE = f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         (7 * x.x + 13 * y.y + 31 * (d.doc_id % {AH_PATTERN_MOD})) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, {AH_W})) AS x) x,
       (SELECT unnest(range(0, {AH_H})) AS y) y
), blocks AS (
  SELECT doc_id, x // {AH_BLOCK} AS bx, y // {AH_BLOCK} AS by, avg(v) AS bm
  FROM px GROUP BY 1, 2, 3
), g AS (
  SELECT doc_id, avg(v) AS gm FROM px GROUP BY 1
), bits AS (
  SELECT b.doc_id,
         string_agg(CASE WHEN b.bm >= g.gm THEN '1' ELSE '0' END, ''
                    ORDER BY b.by, b.bx) AS ahash
  FROM blocks b JOIN g USING (doc_id) GROUP BY b.doc_id
)
"""


@register(
    "multimodal_image_neardup",
    _AHASH_BITS_CTE
    + f""", grp AS (
  SELECT ahash, CAST(count(*) AS BIGINT) AS n FROM bits GROUP BY 1
)
SELECT a.ahash AS ahash_a, b.ahash AS ahash_b,
       CAST(hamming(a.ahash, b.ahash) AS BIGINT) AS hamming,
       CAST(a.n * b.n AS BIGINT) AS pair_count
FROM grp a JOIN grp b ON a.ahash < b.ahash
WHERE hamming(a.ahash, b.ahash) <= {AH_NEARDUP_T}
""",
    doc="near-duplicate image retrieval: aHash groups within Hamming "
    f"distance {AH_NEARDUP_T} via lossless {AH_BANDS}x{AH_BAND_BITS}-bit "
    "pigeonhole banding — group-level output, never per-doc pair blowup",
)
def multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE retrieval — the Hamming-radius extension the
    aHash docstring promises: decode every rendered PNG through the real
    pixel path (chunk walk, zlib inflate, scanline unfilter), average-hash
    to 64 bits, then report every pair of distinct hash GROUPS within
    Hamming distance :data:`AH_NEARDUP_T`.

    Scale shape — the three disciplines that survive 100 TB of images:

    - **Group-first**: hashes are aggregated to (ahash, n) groups BEFORE
      any pairing, so a boilerplate image repeated a million times is ONE
      row in the join, and the output reports ``pair_count = n_a * n_b``
      instead of materializing the quadratic doc-pair set (the same
      posture as ``dedup_cluster_size_histogram``).
    - **Pigeonhole banding** (the SimHash machinery over image bits): a
      64-bit hash splits into :data:`AH_BANDS` bands of
      :data:`AH_BAND_BITS` bits; at radius < AH_BANDS two near hashes
      must share a band, so the candidate join is a lossless EQUI-join on
      (band index, band bits) — never an all-pairs product.
    - **JVM-side verify**: the Hamming check XORs the two 32-bit halves
      (``conv`` from the bit string) and ``bit_count``s them — whole-stage
      codegen, no Python in the pairing path.

    The DuckDB oracle re-derives every pixel, block mean and hash bit
    closed-form from the render arithmetic, then verifies with its native
    ``hamming()`` over an all-pairs group join (39 groups at any SF —
    the oracle may brute-force what the engine must band).

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    png = d.mapInPandas(
        _synthesize_pixel_png_batches, schema="doc_id long, content binary"
    )
    hashed = png.mapInPandas(_ahash_batches, schema="doc_id long, ahash string")
    groups = hashed.groupBy("ahash").agg(F.count("*").alias("n"))

    def halves(pfx: str):
        # 64-char bit string -> two exact int64 halves (conv is JVM-side;
        # 32-bit halves never touch the sign bit)
        return [
            F.conv(F.substring(F.col(f"{pfx}.ahash"), 1 + 32 * i, 32), 2, 10)
            .cast("long")
            .alias(f"{pfx}_h{i}")
            for i in range(2)
        ]

    bands = groups.select(
        "ahash",
        "n",
        F.posexplode(
            F.array(
                *[
                    F.substring("ahash", 1 + AH_BAND_BITS * i, AH_BAND_BITS)
                    for i in range(AH_BANDS)
                ]
            )
        ).alias("band_idx", "band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ahash") < F.col("b.ahash")),
        )
        .select(
            F.col("a.ahash").alias("ahash_a"),
            F.col("b.ahash").alias("ahash_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            *halves("a"),
            *halves("b"),
        )
        .dropDuplicates(["ahash_a", "ahash_b"])
    )
    hd = (
        F.bit_count(F.col("a_h0").bitwiseXOR(F.col("b_h0")))
        + F.bit_count(F.col("a_h1").bitwiseXOR(F.col("b_h1")))
    ).cast("long")
    return (
        cand.withColumn("hamming", hd)
        .filter(F.col("hamming") <= AH_NEARDUP_T)
        .select(
            "ahash_a",
            "ahash_b",
            "hamming",
            (F.col("n_a") * F.col("n_b")).cast("long").alias("pair_count"),
        )
    )


@register(
    "multimodal_image_neardup_incremental",
    _AHASH_BITS_CTE
    + f"""
, batch AS (SELECT doc_id, ahash FROM bits WHERE doc_id % 4 = 0),
existing AS (SELECT DISTINCT ahash FROM bits WHERE doc_id % 4 <> 0),
collided AS (
  SELECT DISTINCT b.doc_id
  FROM batch b JOIN existing e ON hamming(b.ahash, e.ahash) <= {AH_NEARDUP_T}
)
SELECT doc_id FROM batch
WHERE doc_id NOT IN (SELECT doc_id FROM collided)
""",
    doc="incremental image near-dup gate: persisted corpus aHash groups, "
    "new-batch hashes probe them through the pigeonhole band join + "
    "Hamming verify; survivors are the images safe to ingest",
)
def multimodal_image_neardup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ingest-time gate for a GROWING image corpus — the
    ``dedup_minhash_incremental`` lifecycle on the pixel side: the
    corpus's distinct aHash groups are published once through the
    audited sink (in production each admitted batch appends its hashes);
    an incoming batch decodes and hashes ONLY ITS OWN images, melts its
    64-bit hashes into :data:`AH_BANDS` pigeonhole bands, equi-joins the
    persisted band table (lossless at radius :data:`AH_NEARDUP_T` <
    bands), Hamming-verifies the collided candidates JVM-side, and emits
    the batch images with NO near-duplicate in the corpus. The corpus is
    never re-decoded or re-hashed.

    Scale shape: batch-only Arrow decode map, persisted-parquet band
    scan, band-key equi-join (never all-pairs), bounded verify, one
    anti-join. The oracle brute-forces the same answer closed-form from
    the render arithmetic (39 hash groups at any SF).

    Reference analog: none (extension surface — multimodal family,
    completing the image dedup tier matrix: exact groups → banded
    near-dup → cluster-keep-best → incremental ingest gate).
    """
    from ufload_spark.sources.loader import memo_read

    d = doc_ids(spark, sf_dir)
    png = d.mapInPandas(
        _synthesize_pixel_png_batches, schema="doc_id long, content binary"
    )
    hashed = png.mapInPandas(_ahash_batches, schema="doc_id long, ahash string")

    def melt(df: DataFrame) -> DataFrame:
        return df.select(
            *[c for c in df.columns],
            F.posexplode(
                F.array(
                    *[
                        F.substring("ahash", 1 + AH_BAND_BITS * i, AH_BAND_BITS)
                        for i in range(AH_BANDS)
                    ]
                )
            ).alias("band_idx", "band"),
        )

    existing = memo_read(
        spark,
        "image_ahash_groups",
        sf_dir,
        lambda: hashed.where(~in_batch()).select("ahash").distinct(),
    )
    batch = hashed.where(in_batch())

    def halves(df: DataFrame, pfx: str) -> DataFrame:
        return df.select(
            *[c for c in df.columns],
            *[
                F.conv(F.substring("ahash", 1 + 32 * i, 32), 2, 10)
                .cast("long")
                .alias(f"{pfx}_h{i}")
                for i in range(2)
            ],
        )

    bmelt = melt(halves(batch, "a")).select(
        "doc_id", "band_idx", "band", "a_h0", "a_h1"
    )
    emelt = melt(halves(existing, "b")).select(
        "band_idx", "band", "b_h0", "b_h1"
    )
    hd = (
        F.bit_count(F.col("a_h0").bitwiseXOR(F.col("b_h0")))
        + F.bit_count(F.col("a_h1").bitwiseXOR(F.col("b_h1")))
    ).cast("long")
    collided = (
        bmelt.join(emelt, ["band_idx", "band"])
        .withColumn("hamming", hd)
        .where(F.col("hamming") <= AH_NEARDUP_T)
        .select("doc_id")
        .distinct()
    )
    return batch.select("doc_id").join(collided, "doc_id", "left_anti")


# --- sample-level PCM analysis ---------------------------------------------


def decode_wav_samples(content: bytes) -> np.ndarray:
    """Interleaved int16 PCM samples from real WAV bytes: validates the
    container via :func:`decode_wav`, then re-walks the chunks for the
    data payload. Little-endian per the RIFF spec regardless of host
    byte order."""
    channels, _rate, bits, n_frames = decode_wav(content)
    pos = 12
    while pos < len(content):
        cid = content[pos : pos + 4]
        (ln,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        if cid == b"data":
            body = content[pos + 8 : pos + 8 + ln]
            return np.frombuffer(body, dtype="<i2").astype(np.int64)
        pos += 8 + ln + (ln % 2)
    raise ValueError("missing data chunk")  # unreachable after decode_wav


LOUDNESS_SCHEMA = (
    "doc_id long, n_frames int, sum_sq long, peak_abs int, mean_sq long"
)


def _audio_loudness_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            s = decode_wav_samples(bytes(content))
            channels, _rate, _bits, n_frames = decode_wav(bytes(content))
            sum_sq = int((s * s).sum())
            rows.append(
                (
                    int(doc_id),
                    n_frames,
                    sum_sq,
                    int(np.abs(s).max()) if s.size else 0,
                    sum_sq // s.size if s.size else 0,
                )
            )
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_frames", "sum_sq", "peak_abs", "mean_sq"]
        ).astype(
            {
                "doc_id": "int64",
                "n_frames": "int32",
                "sum_sq": "int64",
                "peak_abs": "int32",
                "mean_sq": "int64",
            }
        )


@register(
    "multimodal_audio_loudness",
    """
WITH spec AS (
  SELECT doc_id, doc_id % 2 + 1 AS channels,
         doc_id % 1000 + 100 AS n_frames
  FROM documents
), samples AS (
  SELECT s.doc_id, s.n_frames,
         ((s.doc_id * 31 + t.i * 7919) % 4096) - 2048 AS v
  FROM spec s, range(2200) t(i)
  WHERE t.i < s.n_frames * s.channels
)
SELECT doc_id,
       CAST(any_value(n_frames) AS INT) AS n_frames,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(max(abs(v)) AS INT) AS peak_abs,
       CAST(sum(v * v) // count(*) AS BIGINT) AS mean_sq
FROM samples GROUP BY doc_id
""",
    doc="sample-level PCM loudness: real int16 decode of the WAV data "
    "chunk (numpy frombuffer over the validated RIFF walk), exact integer "
    "energy moments (sum/mean of squares, peak) per document",
)
def multimodal_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first SAMPLE-level audio operator (the meta query above stops at
    the container): decode every interleaved int16 PCM frame from the
    real WAV bytes and reduce to the integer energy moments an audio
    curation pipeline filters on — total/mean square (clipping and
    silence gates), peak amplitude (normalization headroom). All moments
    are exact int64 (peak² ≤ 2²², so even billion-sample files stay
    within range), so there is no float path to drift.

    The decode is genuine signal plumbing: numpy ``frombuffer`` over the
    data chunk located by the validated RIFF walk, explicit little-endian
    dtype so big-endian hosts decode identically. The oracle never sees
    the bytes — it recomputes the waveform from the synthesizer's
    id-arithmetic, so a decode bug (sign, endianness, off-by-one in the
    chunk walk, pad-byte slip) hash-mismatches immediately.

    Scale shape: narrow Arrow-batched map, per-file memory = one sample
    buffer; no shuffle, embarrassingly parallel, linear in bytes — the
    posture every decode stage in this module shares.

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    audio = d.mapInPandas(
        _synthesize_audio_batches, schema="doc_id long, content binary"
    )
    return audio.mapInPandas(_audio_loudness_batches, schema=LOUDNESS_SCHEMA)


# --- audio VAD segments (energy islands) ------------------------------------

#: VAD geometry: frame = 64 interleaved samples; a frame is ACTIVE when its
#: exact integer energy sum(v^2) clears VAD_THRESH (~ the waveform's mean
#: frame energy, 4096^2/12*64, so the deterministic fixture yields a rich
#: active/inactive mix: measured 47.8% active, ~1110 segments across the
#: sf0.001 docs, 5 docs with none)
VAD_FRAME = 64
VAD_THRESH = 89_000_000


def _audio_frame_energy_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Decode → frame → exact integer energy, one row per FULL frame (the
    trailing partial frame is dropped on both engines). Narrow Arrow map,
    per-file memory = one sample buffer."""
    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            s = decode_wav_samples(bytes(content)).astype(np.int64)
            nf = len(s) // VAD_FRAME
            if nf == 0:
                continue
            e = (s[: nf * VAD_FRAME].reshape(nf, VAD_FRAME) ** 2).sum(axis=1)
            rows.append(
                pd.DataFrame(
                    {
                        "doc_id": np.full(nf, int(doc_id), dtype=np.int64),
                        "frame": np.arange(nf, dtype=np.int32),
                        "energy": e,
                    }
                )
            )
        if rows:
            yield pd.concat(rows, ignore_index=True)


@register(
    "multimodal_audio_vad_segments",
    f"""
WITH spec AS (
  SELECT doc_id,
         (doc_id % 1000 + 100) * (doc_id % 2 + 1) AS total
  FROM documents
), samples AS (
  SELECT s.doc_id, CAST(t.i // {VAD_FRAME} AS INT) AS frame,
         ((s.doc_id * 31 + t.i * 7919) % 4096) - 2048 AS v
  FROM spec s, range(2200) t(i)
  WHERE t.i < (s.total // {VAD_FRAME}) * {VAD_FRAME}
), fe AS (
  SELECT doc_id, frame, CAST(sum(v * v) AS BIGINT) AS energy
  FROM samples GROUP BY 1, 2
), act AS (
  SELECT doc_id, frame, energy,
         frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
  FROM fe WHERE energy >= {VAD_THRESH}
)
SELECT doc_id,
       CAST(min(frame) AS INT) AS start_frame,
       CAST(max(frame) AS INT) AS end_frame,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(energy) AS BIGINT) AS energy_sum
FROM act GROUP BY doc_id, grp
""",
    doc="energy-threshold VAD over decoded PCM: per-frame exact integer "
    "energy, gaps-and-islands run detection (rank-difference grouping) "
    "emits maximal active segments per document — the audio analog of "
    "sessionization, exact int64 throughout",
)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection segments by energy thresholding — the
    operator an audio curation pipeline runs to keep speech-bearing spans
    and drop silence/noise before transcription. Frames of
    :data:`VAD_FRAME` interleaved samples score their exact integer
    energy (``sum(v²)`` — int64-safe at any file length since
    ``peak² ≤ 2²²``); frames clearing :data:`VAD_THRESH` are active, and
    maximal RUNS of active frames become segments via the classic
    gaps-and-islands rank-difference: ``frame − row_number()`` is
    constant exactly within a consecutive run, so one doc-partitioned
    window plus one hash aggregate materializes every segment — no
    per-row loop, no self-join, no stateful scan.

    The decode is the real RIFF walk (`decode_wav_samples`); the oracle
    never sees bytes — it recomputes the waveform from the synthesizer's
    id-arithmetic, so a decode or framing bug (off-by-one in the frame
    boundary, partial-frame leakage, sign error) hash-mismatches.
    Engine-external replay:
    ``tests/test_multimodal.py::test_vad_segments_match_pure_python_replay``.

    Scale shape: one Arrow decode map (no shuffle) → one window + one
    aggregate, both partitioned by doc_id with per-doc frame counts
    bounded by file length — embarrassingly parallel, linear in bytes.

    Reference analog: none (extension surface — multimodal family; the
    islands pattern `events_session_windows` uses for time gaps, applied
    to signal energy).
    """
    d = doc_ids(spark, sf_dir)
    audio = d.mapInPandas(
        _synthesize_audio_batches, schema="doc_id long, content binary"
    )
    fe = audio.mapInPandas(
        _audio_frame_energy_batches, schema="doc_id long, frame int, energy long"
    )
    w = Window.partitionBy("doc_id").orderBy("frame")
    act = fe.where(F.col("energy") >= VAD_THRESH).withColumn(
        "grp", F.col("frame") - F.row_number().over(w)
    )
    return act.groupBy("doc_id", "grp").agg(
        F.min("frame").cast("int").alias("start_frame"),
        F.max("frame").cast("int").alias("end_frame"),
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("energy_sum"),
    ).select("doc_id", "start_frame", "end_frame", "n_frames", "energy_sum")


# --- video scene-cut detection ----------------------------------------------

#: pixel-video geometry: scene length L = doc_id % SC_L_MOD + SC_L_OFF,
#: frame count nf = doc_id % SC_NF_MOD + SC_NF_OFF, per-scene render base
#: = (doc_id*SC_BASE_A + scene*SC_BASE_B) % SC_BASE_MOD
SC_L_MOD, SC_L_OFF = 4, 3
SC_NF_MOD, SC_NF_OFF = 24, 2
SC_BASE_A, SC_BASE_B, SC_BASE_MOD = 17, 59, 251


def make_pixel_video(doc_id: int, _png_cache: dict | None = None) -> bytes:
    """A UFV1 container of REAL pixel PNGs arranged in scenes: frames
    within a scene are identical, the render base jumps at scene
    boundaries — the ground truth a cut detector must recover.
    ``_png_cache`` (optional, caller-owned, e.g. per task) memoizes
    ``make_pixel_png`` by render base — a pure function with a
    :data:`SC_BASE_MOD`-bounded domain, so the dict stays tiny while the
    per-frame render+deflate drops to a lookup."""
    length = doc_id % SC_L_MOD + SC_L_OFF
    n_frames = doc_id % SC_NF_MOD + SC_NF_OFF
    parts = [VIDEO_MAGIC, struct.pack(">I", n_frames)]
    for idx in range(n_frames):
        base = (doc_id * SC_BASE_A + (idx // length) * SC_BASE_B) % SC_BASE_MOD
        if _png_cache is None:
            png = make_pixel_png(base)
        else:
            png = _png_cache.get(base)
            if png is None:
                png = _png_cache[base] = make_pixel_png(base)
        parts.append(struct.pack(">I", len(png)))
        parts.append(png)
    return b"".join(parts)


def _scene_cut_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Content-addressed per-task memos (guide §4.5 heavyweight state once
    # per task; the _phash_batches posture): frames within a scene are
    # byte-IDENTICAL and render bases repeat across scenes/docs, so a task
    # sees few DISTINCT frames — hash each unique byte payload once
    # (identical bytes ⇒ identical decoded pixels ⇒ identical aHash, on
    # any input) and synthesize each unique render base's PNG once.
    # Measured (pure-Python profile, r12): synth + decode cost ~0.24 ms
    # per frame un-memoized, ×~675k frames at sf1 — the query's wall.
    hash_by_frame: dict[bytes, str] = {}
    png_cache: dict[int, bytes] = {}
    rows = []
    for pdf in batches:
        for doc_id in pdf["doc_id"]:
            content = make_pixel_video(int(doc_id), _png_cache=png_cache)
            prev_hash: str | None = None
            n_frames = n_cuts = max_ham = 0
            for _idx, frame in iter_video_frames(content):
                h = hash_by_frame.get(frame)
                if h is None:
                    h = hash_by_frame[frame] = ahash_bits(
                        decode_png_pixels(frame)
                    )
                n_frames += 1
                if prev_hash is not None:
                    ham = (
                        0
                        if h is prev_hash
                        else sum(a != b for a, b in zip(prev_hash, h))
                    )
                    if ham >= 1:
                        n_cuts += 1
                    max_ham = max(max_ham, ham)
                prev_hash = h
            rows.append((int(doc_id), n_frames, n_cuts, max_ham))
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_frames", "n_cuts", "max_hamming"]
        ).astype(
            {
                "doc_id": "int64",
                "n_frames": "int32",
                "n_cuts": "int32",
                "max_hamming": "int32",
            }
        )
        rows = []


@register(
    "multimodal_video_scene_cuts",
    f"""
WITH spec AS (
  SELECT doc_id,
         doc_id % {SC_L_MOD} + {SC_L_OFF} AS len,
         doc_id % {SC_NF_MOD} + {SC_NF_OFF} AS nf
  FROM documents
), scenes AS (
  SELECT d.doc_id, d.len, d.nf, s.s,
         (d.doc_id * {SC_BASE_A} + s.s * {SC_BASE_B}) % {SC_BASE_MOD} AS base
  FROM spec d, range({(SC_NF_MOD + SC_NF_OFF - 1) // SC_L_OFF + 1}) s(s)
  WHERE s.s <= (d.nf - 1) // d.len
), px AS (
  SELECT sc.doc_id, sc.s, x.x, y.y,
         (7 * x.x + 13 * y.y + 31 * sc.base) % 256 AS v
  FROM scenes sc,
       (SELECT unnest(range(0, {AH_W})) AS x) x,
       (SELECT unnest(range(0, {AH_H})) AS y) y
), blocks AS (
  SELECT doc_id, s, x // {AH_BLOCK} AS bx, y // {AH_BLOCK} AS by, avg(v) AS bm
  FROM px GROUP BY 1, 2, 3, 4
), g AS (
  SELECT doc_id, s, avg(v) AS gm FROM px GROUP BY 1, 2
), bits AS (
  SELECT b.doc_id, b.s,
         string_agg(CASE WHEN b.bm >= g.gm THEN '1' ELSE '0' END, ''
                    ORDER BY b.by, b.bx) AS h
  FROM blocks b JOIN g USING (doc_id, s) GROUP BY b.doc_id, b.s
), trans AS (
  -- one transition row per consecutive FRAME pair that crosses a scene
  -- boundary (within-scene pairs are identical frames: distance 0)
  SELECT a.doc_id,
         (SELECT count(*) FROM range(64) t(i)
          WHERE substr(a.h, CAST(t.i AS INT) + 1, 1)
                <> substr(b.h, CAST(t.i AS INT) + 1, 1)) AS ham
  FROM bits a
  JOIN bits b ON a.doc_id = b.doc_id AND b.s = a.s + 1
)
SELECT d.doc_id,
       CAST(d.nf AS INT) AS n_frames,
       CAST(coalesce(sum(CASE WHEN t.ham >= 1 THEN 1 ELSE 0 END), 0) AS INT)
         AS n_cuts,
       CAST(coalesce(max(t.ham), 0) AS INT) AS max_hamming
FROM spec d LEFT JOIN trans t USING (doc_id)
GROUP BY d.doc_id, d.nf
""",
    doc="video scene-cut detection: per-video sequential aHash walk over "
    "REAL pixel frames (PNG inflate+unfilter per frame), cut where "
    "consecutive-frame Hamming distance >= 1; oracle recovers the planted "
    "scene structure closed-form",
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection, the first step of any video-curation pipeline
    (dedup by scene, sample per scene, caption per scene): walk each
    video's frames IN ORDER, perceptual-hash every frame through the
    honest pixel path (UFV1 container walk → PNG chunk CRC walk → zlib
    inflate → unfilter → 8×8 average hash), and declare a cut where the
    consecutive-frame Hamming distance is ≥ 1. The fixture plants the
    ground truth — scenes of ``doc_id%{SC_L_MOD}+{SC_L_OFF}`` identical
    frames whose render base jumps at boundaries — and the oracle
    recovers every hash bit and cut CLOSED-FORM from the synthesis
    arithmetic, so a bug anywhere in the container walk, the pixel
    decode, or the sequential pairing shifts a count and hash-mismatches.

    Scale shape: the sequential frame walk is PER-VIDEO state inside one
    Arrow-batched map — videos are rows, so the embarrassing parallelism
    is across videos and NO shuffle exists in the plan at all; memory per
    task is one frame hash (64 bits), not the video. This is the
    multimodal twin of the UDTF per-entity walk (`udtf_user_paths`):
    same sequential-state semantics, but the entity boundary is a row,
    so no PARTITION BY machinery is needed.

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    return d.mapInPandas(
        _scene_cut_batches,
        schema="doc_id long, n_frames int, n_cuts int, max_hamming int",
    )


# --- DCT perceptual hash (pHash) over the same real-pixel PNGs --------------

#: pHash geometry: the 16×16 decoded grid folds to an 8×8 integer
#: block-sum matrix, whose full 8×8 DCT-II yields 1 DC + 63 AC
#: coefficients; bits compare each AC coefficient to their median.
PHASH_N = AH_W // AH_BLOCK  # 8
#: fixed-point grain for each DCT term (the chi-square/JSD discipline:
#: round BEFORE summation so the reduction is order-free and cross-engine)
PHASH_SCALE = 12


def phash_bits(grid: list[list[int]]) -> str:
    """63-char bit string: 2D DCT-II of the 8×8 block-sum matrix, each
    term rounded half-away-from-zero to 12 decimals and accumulated in
    exact integer 10^-12 units (so the sum is association-order-free and
    matches the oracle's DECIMAL(38,12) arithmetic bit-for-bit); bit k =
    AC coefficient k strictly above the median (32nd order statistic) of
    the 63 AC coefficients, (u, v) row-major."""
    import math

    n = PHASH_N
    # 8×8 block SUMS, exact ints (dividing by 4 would only rescale every
    # coefficient by a constant, leaving the median comparison unchanged)
    s = [
        [
            sum(
                grid[by * AH_BLOCK + dy][bx * AH_BLOCK + dx]
                for dy in range(AH_BLOCK)
                for dx in range(AH_BLOCK)
            )
            for bx in range(n)
        ]
        for by in range(n)
    ]
    # cos tables with the ORACLE's exact expression order:
    # pi * (2*i + 1) * u / 16.0, evaluated left-to-right
    cos_t = [
        [math.cos(math.pi * (2 * i + 1) * u / (2.0 * n)) for i in range(n)]
        for u in range(n)
    ]
    scale = 10 ** PHASH_SCALE

    def q12(t: float) -> int:
        # DuckDB round(): half away from zero
        return (
            int(math.floor(t * scale + 0.5))
            if t >= 0
            else -int(math.floor(-t * scale + 0.5))
        )

    coefs: list[tuple[int, int, int]] = []
    for u in range(n):
        for v in range(n):
            acc = 0
            for bx in range(n):
                for by in range(n):
                    # identical multiply order to the oracle: (s*cu)*cv
                    acc += q12(s[by][bx] * cos_t[u][bx] * cos_t[v][by])
            coefs.append((u, v, acc))
    ac = [c for u, v, c in coefs if (u, v) != (0, 0)]
    med = sorted(ac)[(len(ac) - 1) // 2]  # 32nd smallest of 63
    return "".join(
        "1" if c > med else "0" for u, v, c in coefs if (u, v) != (0, 0)
    )


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # content-addressed memo: the fixture plants AH_PATTERN_MOD distinct
    # images, so hashing each unique byte payload once collapses the
    # 4096-term DCT to one evaluation per distinct image per batch — the
    # same dedup-before-expensive-work posture as the corpus family
    memo: dict[bytes, str] = {}

    def one(c: bytes) -> str:
        h = memo.get(c)
        if h is None:
            h = memo[c] = phash_bits(decode_png_pixels(c))
        return h

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "phash": pdf["content"].map(lambda c: one(bytes(c))),
            }
        )


@register(
    "multimodal_image_phash",
    f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         (7 * x.x + 13 * y.y + 31 * (d.doc_id % {AH_PATTERN_MOD})) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, {AH_W})) AS x) x,
       (SELECT unnest(range(0, {AH_H})) AS y) y
), blocks AS (
  SELECT doc_id, x // {AH_BLOCK} AS bx, y // {AH_BLOCK} AS by,
         CAST(sum(v) AS BIGINT) AS s
  FROM px GROUP BY 1, 2, 3
), freq AS (
  SELECT unnest(range(0, {PHASH_N})) AS f
), coef AS (
  SELECT b.doc_id, fu.f AS u, fv.f AS v,
         sum(CAST(round(b.s * cos(pi() * (2 * b.bx + 1) * fu.f / {2.0 * PHASH_N})
                            * cos(pi() * (2 * b.by + 1) * fv.f / {2.0 * PHASH_N}),
                  {PHASH_SCALE}) AS DECIMAL(38,{PHASH_SCALE}))) AS c
  FROM blocks b, freq fu, freq fv
  GROUP BY 1, 2, 3
), ac AS (
  SELECT doc_id, u, v, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c, u, v) AS rn
  FROM coef WHERE NOT (u = 0 AND v = 0)
), med AS (
  SELECT doc_id, max(CASE WHEN rn = 32 THEN c END) AS m FROM ac GROUP BY doc_id
), bits AS (
  SELECT c.doc_id,
         string_agg(CASE WHEN c.c > m.m THEN '1' ELSE '0' END, ''
                    ORDER BY c.u, c.v) AS phash
  FROM coef c JOIN med m USING (doc_id)
  WHERE NOT (c.u = 0 AND c.v = 0)
  GROUP BY c.doc_id
)
SELECT doc_id, phash, count(*) OVER (PARTITION BY phash) AS n_dupes
FROM bits
""",
    doc="DCT perceptual hash (pHash) over the real-pixel PNGs: full IDAT "
    "decode → 8×8 block sums → exact fixed-point 2D DCT-II → 63 bits vs "
    "the AC median; the oracle re-derives every coefficient closed-form",
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash over the same real-pixel PNGs as
    ``multimodal_image_ahash`` — the spectral upgrade: aHash compares
    block means (sensitive to global brightness ramps), pHash compares
    the low-frequency DCT structure, the standard near-dup signature for
    images (public pHash algorithm: resize → DCT → median-threshold the
    low-frequency block). Decode is the honest path (chunk CRC walk, zlib
    inflate, scanline unfilter); the 16×16 grid folds to an 8×8 integer
    block-SUM matrix (a constant rescale of the mean — the median
    comparison is scale-invariant, so the matrix stays exact ints), and
    the 2D DCT-II accumulates per-term fixed-point: each s·cos·cos
    product is rounded half-away-from-zero to 10^-12 FIRST, summed in
    exact integer units, so the 64-term reductions are association-free
    and the UDF's bits match the oracle's DECIMAL(38,12) arithmetic
    bit-for-bit (both engines call the same libm cos on identical
    doubles; the 12-decimal grain absorbs ~30 ulp of slack on a ≤1020
    magnitude term). Bit k = AC coefficient k strictly above the 63-AC
    median. Identical hashes form duplicate groups — the fixture plants
    them via ``doc_id % {AH_PATTERN_MOD}``.

    Scale shape: decode + DCT is a narrow Arrow map (content-addressed
    memo collapses repeated payloads within a batch); ONE exchange groups
    the 63-bit hashes for dup counts — the ``dedup_exact`` posture.
    Hamming-radius retrieval at scale would reuse the SimHash pigeonhole
    bands over these bits, exactly as ``multimodal_image_neardup`` does
    for aHash.

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    png = d.mapInPandas(
        _synthesize_pixel_png_batches, schema="doc_id long, content binary"
    )
    hashed = png.mapInPandas(_phash_batches, schema="doc_id long, phash string")
    w = Window.partitionBy("phash")
    return hashed.select(
        "doc_id", "phash", F.count("*").over(w).alias("n_dupes")
    )


# --- spectral analysis: fixed-point DFT probe bins --------------------------

#: DFT probe bins (cycles over the whole interleaved sample stream)
SPECTRUM_BINS = (1, 3, 5, 7)
#: fixed-point grain for each DFT term (the pHash discipline: round BEFORE
#: summation so the reduction is order-free; the 1e-6 grain on a ≤2048
#: magnitude term absorbs ~9 decimal orders of cos() implementation slack)
SPECTRUM_SCALE = 1_000_000


def spectrum_rows(doc_id: int, samples: np.ndarray) -> list[tuple]:
    """Per-bin DFT of the interleaved int16 stream, every s·cos / s·sin
    term rounded half-away-from-zero to 10^-6 and accumulated in exact
    integer units; amplitude via IEEE double sqrt of the exact integer
    components (each < 2^53, so exactly representable)."""
    n = samples.size
    out = []
    i = np.arange(n, dtype=np.float64)
    s = samples.astype(np.float64)
    for k in SPECTRUM_BINS:
        arg = 2 * np.pi * k * i / n
        tre = s * np.cos(arg)
        tim = s * np.sin(arg)

        def q(t: np.ndarray) -> int:
            scaled = np.where(
                t >= 0,
                np.floor(t * SPECTRUM_SCALE + 0.5),
                -np.floor(-t * SPECTRUM_SCALE + 0.5),
            )
            return int(scaled.sum())

        re, im = q(tre), q(tim)
        amp = round((float(re) ** 2 + float(im) ** 2) ** 0.5)
        out.append((doc_id, k, re, im, amp))
    return out


SPECTRUM_SCHEMA = (
    "doc_id long, k_bin int, re_micro long, im_micro long, amp_micro long"
)


def _audio_spectrum_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            rows.extend(spectrum_rows(int(doc_id), decode_wav_samples(bytes(content))))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "k_bin", "re_micro", "im_micro", "amp_micro"],
        ).astype(
            {
                "doc_id": "int64",
                "k_bin": "int32",
                "re_micro": "int64",
                "im_micro": "int64",
                "amp_micro": "int64",
            }
        )


@register(
    "multimodal_audio_spectrum",
    f"""
WITH geom AS (
  SELECT doc_id,
         CAST((doc_id % 1000 + 100) * (doc_id % 2 + 1) AS BIGINT) AS n
  FROM documents
), bins AS (
  SELECT unnest(ARRAY{list(SPECTRUM_BINS)}) AS k_bin
), terms AS (
  SELECT g.doc_id, b.k_bin, g.n, i.i,
         CAST((g.doc_id * 31 + i.i * 7919) % 4096 - 2048 AS DOUBLE) AS s
  FROM geom g, bins b, LATERAL (SELECT unnest(range(g.n)) AS i) i
), summed AS (
  SELECT doc_id, k_bin,
         CAST(sum(round(s * cos(2 * pi() * k_bin * i / n), 6)
                  * {SPECTRUM_SCALE}) AS BIGINT) AS re_micro,
         CAST(sum(round(s * sin(2 * pi() * k_bin * i / n), 6)
                  * {SPECTRUM_SCALE}) AS BIGINT) AS im_micro
  FROM terms GROUP BY 1, 2
)
SELECT doc_id, CAST(k_bin AS INT) AS k_bin, re_micro, im_micro,
       CAST(round(sqrt(CAST(re_micro AS DOUBLE) * re_micro
                       + CAST(im_micro AS DOUBLE) * im_micro), 0) AS BIGINT)
         AS amp_micro
FROM summed
""",
    doc=f"audio spectral probe: fixed-point DFT at bins {SPECTRUM_BINS} over "
    "the REAL decoded PCM stream — every term rounded to 1e-6 before exact "
    "integer summation (order-free, engine-identical); oracle re-derives "
    "each term closed-form from the waveform arithmetic",
)
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frequency-domain sibling of ``multimodal_audio_loudness``: probe
    the decoded PCM stream's DFT at :data:`SPECTRUM_BINS` whole-stream
    cycles — the plumbing (and the float discipline) of any spectral
    feature extractor (spectral centroid, band energy, chroma), with the
    codec-grade decode path in front (RIFF walk, pad rule, int16
    little-endian frombuffer). Terms s·cos / s·sin are rounded
    half-away-from-zero to 10^-6 BEFORE accumulation (the pHash DCT
    discipline), so the per-bin sums are exact integers no matter the
    fold order, numpy's SIMD cos vs the oracle's libm cos differ at
    ~10^-13 absolute on a ≤2048-magnitude term — nine orders below the
    grain — and both engines land on identical integers. The amplitude is
    the IEEE-exact sqrt of two exactly-representable (< 2^53) integer
    components, rounded to the integer grain.

    Scale shape: a narrow Arrow map over the audio payloads (vectorized
    per doc, linear in samples), no shuffle at all — the per-doc DFT at a
    FIXED bin count is O(N·|bins|), not the O(N log N) full transform a
    real pipeline would reach for past a handful of bins.

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    audio = d.mapInPandas(
        _synthesize_audio_batches, schema="doc_id long, content binary"
    )
    return audio.mapInPandas(_audio_spectrum_batches, schema=SPECTRUM_SCHEMA)


# --- image luminance histogram over real pixels -----------------------------

#: luminance buckets: 256 values folded to 8 bands of 32
LUMA_BANDS = 8


def _image_histogram_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    memo: dict[bytes, list[int]] = {}

    def hist(c: bytes) -> list[int]:
        h = memo.get(c)
        if h is None:
            grid = decode_png_pixels(c)
            counts = [0] * LUMA_BANDS
            for row in grid:
                for v in row:
                    counts[v // (256 // LUMA_BANDS)] += 1
            h = memo[c] = counts
        return h

    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            for band, n in enumerate(hist(bytes(content))):
                rows.append((int(doc_id), band, n))
        yield pd.DataFrame(rows, columns=["doc_id", "band", "n_px"]).astype(
            {"doc_id": "int64", "band": "int32", "n_px": "int64"}
        )


@register(
    "multimodal_image_histogram",
    f"""
WITH px AS (
  SELECT d.doc_id,
         (7 * x.x + 13 * y.y + 31 * (d.doc_id % {AH_PATTERN_MOD})) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, {AH_W})) AS x) x,
       (SELECT unnest(range(0, {AH_H})) AS y) y
)
SELECT doc_id, CAST(v // {256 // LUMA_BANDS} AS INT) AS band,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY 1, 2
""",
    doc=f"image luminance histogram over REAL decoded pixels: {LUMA_BANDS} "
    "bands of the 8-bit range per image — exact integer counts, the "
    "exposure/contrast feature a visual-quality filter thresholds on; "
    "oracle predicts every count closed-form from the render arithmetic",
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first non-hash image ANALYSIS operator: an 8-band luminance
    histogram per image, computed from the honestly-decoded pixel grid
    (chunk CRC walk, zlib inflate, scanline unfilter — the aHash/pHash
    path). This is the feature a visual-quality curation filter reads:
    an all-dark or blown-out image concentrates mass in the end bands; a
    dithered gradient (the fixture) spreads it — and the oracle predicts
    every band count closed-form from the render arithmetic, so a decode
    bug shifts counts and hash-mismatches.

    Scale shape: a narrow Arrow map (content-addressed memo collapses
    repeated payloads), emitting ≤:data:`LUMA_BANDS` rows per image; no
    shuffle at all — histogram aggregation happens inside the decode
    batch, the cheapest place for a per-item bounded reduction.

    Reference analog: none (extension surface — multimodal family).
    """
    d = doc_ids(spark, sf_dir)
    png = d.mapInPandas(
        _synthesize_pixel_png_batches, schema="doc_id long, content binary"
    )
    return png.mapInPandas(
        _image_histogram_batches, schema="doc_id long, band int, n_px long"
    )


@register(
    "multimodal_image_cluster_keep_best",
    _AHASH_BITS_CTE.replace("WITH px", "WITH RECURSIVE px", 1)
    + f""", grp AS (
  SELECT ahash, CAST(count(*) AS BIGINT) AS n,
         CAST(min(doc_id) AS BIGINT) AS rep
  FROM bits GROUP BY 1
), gpairs AS (
  SELECT a.rep AS u, b.rep AS v
  FROM grp a JOIN grp b ON a.ahash < b.ahash
  WHERE hamming(a.ahash, b.ahash) <= {AH_NEARDUP_T}
), edges AS (
  SELECT u, v FROM gpairs UNION SELECT v, u FROM gpairs
), nodes AS (SELECT rep AS n FROM grp),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n AS rep, CAST(min(m) AS BIGINT) AS cluster_id
  FROM reach GROUP BY n
), joined AS (
  SELECT c.cluster_id, g.rep, g.n FROM grp g JOIN comp c ON c.rep = g.rep
), keep AS (
  SELECT cluster_id, rep AS keep_doc_id FROM (
    SELECT cluster_id, rep,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n DESC, rep) AS rn
    FROM joined
  ) WHERE rn = 1
)
SELECT j.cluster_id,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(j.n) AS BIGINT) AS n_docs,
       max(k.keep_doc_id) AS keep_doc_id
FROM joined j JOIN keep k ON k.cluster_id = j.cluster_id
GROUP BY 1
""",
    doc="image near-dup CLUSTERS with a keep-best pick: aHash groups, "
    f"pigeonhole-banded pairs at Hamming <= {AH_NEARDUP_T}, connected "
    "components over group representatives, keep = the most-populous "
    "group's rep (ties to smallest doc) — group-level end to end",
)
def multimodal_image_cluster_keep_best(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The image-side completion of the dedup family's cluster tier:
    `multimodal_image_neardup` emits near-duplicate group PAIRS; this
    operator closes them transitively (A≈B, B≈C ⇒ one cluster) and picks
    the keeper — the representative of the cluster's most-populous hash
    group (the canonical variant), ties to the smallest doc id. The same
    compose-from-parts shape as `dedup_cluster_keep_best`: pair
    detection → `min_label_components` fixpoint → per-cluster argmax.

    Scale shape: everything after the per-doc hash map is GROUP-level —
    hashes aggregate to (ahash, n, rep=min doc) before banding, the
    component solver runs over group representatives (≤ distinct-hash
    count, 39 at any fixture SF; boilerplate repeated a million times is
    one node), and the keep-best is a WindowGroupLimit over the
    cluster-keyed group frame. Per-doc data is touched exactly once, in
    the Arrow-batched decode+hash map.

    Reference analog: none (extension surface — multimodal × dedup
    families; oracle: recursive-CTE transitive closure like
    `dedup_connected_components`).
    """
    from ufload_spark.operators.dedup import min_label_components

    d = doc_ids(spark, sf_dir)
    png = d.mapInPandas(
        _synthesize_pixel_png_batches, schema="doc_id long, content binary"
    )
    hashed = png.mapInPandas(_ahash_batches, schema="doc_id long, ahash string")
    groups = hashed.groupBy("ahash").agg(
        F.count("*").cast("long").alias("n"),
        F.min("doc_id").cast("long").alias("rep"),
    )
    groups = cut(groups)
    bands = groups.select(
        "ahash",
        "rep",
        F.posexplode(
            F.array(
                *[
                    F.substring("ahash", 1 + AH_BAND_BITS * i, AH_BAND_BITS)
                    for i in range(AH_BANDS)
                ]
            )
        ).alias("band_idx", "band"),
    )

    def halves(pfx: str):
        return [
            F.conv(F.substring(F.col(f"{pfx}.ahash"), 1 + 32 * i, 32), 2, 10)
            .cast("long")
            .alias(f"{pfx}_h{i}")
            for i in range(2)
        ]

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ahash") < F.col("b.ahash")),
        )
        .select(
            F.col("a.rep").alias("u"),
            F.col("b.rep").alias("v"),
            *halves("a"),
            *halves("b"),
        )
        .dropDuplicates(["u", "v"])
    )
    hd = (
        F.bit_count(F.col("a_h0").bitwiseXOR(F.col("b_h0")))
        + F.bit_count(F.col("a_h1").bitwiseXOR(F.col("b_h1")))
    ).cast("long")
    gpairs = cand.withColumn("hamming", hd).filter(
        F.col("hamming") <= AH_NEARDUP_T
    ).select("u", "v")
    comp = min_label_components(gpairs).withColumnsRenamed(
        {"n": "cnode", "m": "clabel"}
    )
    joined = groups.join(
        comp, groups.rep == comp.cnode, "left"
    ).select(
        "rep",
        "n",  # group size (doc count)
        F.coalesce(F.col("clabel"), F.col("rep")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), "rep")
    keep = (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("rep").alias("keep_doc_id"))
    )
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("n").cast("long").alias("n_docs"),
        )
        .join(F.broadcast(keep), "cluster_id")
        .select("cluster_id", "n_groups", "n_docs", "keep_doc_id")
    )


# --- near-duplicate video retrieval: frame-fingerprint shingles -------------

#: pattern modulus for the trimmed-video fixture: frame CONTENT derives
#: from ``doc_id % VID_PATTERN_MOD`` while the frame COUNT stays per-doc,
#: planting trimmed/extended near-duplicates (same footage, different
#: cut) the way ``make_pixel_png`` plants exact image duplicates.
#: Deliberately COPRIME with the family's batch split modulus (4): with
#: a 4-divisible pattern modulus a batch doc (doc_id ≡ 0 mod 4) could
#: only ever share footage with other batch docs and the ingest gate
#: would be vacuous on the fixture
VID_PATTERN_MOD = 39
#: shingle width over the sampled-frame fingerprint sequence
VID_SHINGLE_W = 3
#: a pair of signature groups is near-dup when they share at least this
#: many shingles (the winnowing ``>= 2`` decision rule)
VID_SHARED_MIN = 2
#: document-frequency cap: a shingle present in more than this many
#: signature GROUPS is boilerplate (test cards, intros) and is dropped
#: from the universe before sizing and pairing — the winnowing df-cap
#: discipline that bounds the bucket join at any corpus size
VID_SHINGLE_DF_CAP = 64


def make_trimmed_video(doc_id: int) -> bytes:
    """Same UFV1 container as :func:`make_video`, but the per-frame
    geometry derives from the doc's PATTERN id (``doc_id %
    VID_PATTERN_MOD``) while the frame count stays the doc's own
    (``doc_id % 97 + 1``): docs sharing a pattern id carry the same
    footage cut to different lengths — the trimmed-upload near-dup case
    an exact container hash can never catch."""
    cid = doc_id % VID_PATTERN_MOD
    n_frames = doc_id % 97 + 1
    parts = [VIDEO_MAGIC, struct.pack(">I", n_frames)]
    for idx in range(n_frames):
        png = make_png(*_frame_dims(cid, idx))
        parts.append(struct.pack(">I", len(png)))
        parts.append(png)
    return b"".join(parts)


def _synthesize_trimmed_video_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(
                    lambda d: make_trimmed_video(int(d))
                ),
            }
        )


def _video_fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Sampled-frame fingerprints through the honest path: walk the
    container's length index, slice every FRAME_STEP-th frame's actual
    bytes, IHDR-decode (CRC-checked), and emit ``f = w * 1000 + h`` — the
    stand-in for a perceptual frame hash (a real codec + pHash swaps in
    here, exactly like :func:`iter_video_frames`'s codec seam)."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "f": []}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            for idx, frame_bytes in iter_video_frames(bytes(content)):
                if idx % FRAME_STEP:
                    continue
                _, w, h = decode_image(frame_bytes)
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["f"].append(w * 1000 + h)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "f": pd.Series(out["f"], dtype="int64"),
            }
        )


def _trimmed_shingles(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) over the docs in ``d``: synthesize the
    trimmed container, slice + decode the sampled frames (Arrow map),
    and shingle the fingerprint sequence through a doc-partitioned
    window bounded by ``ceil(97 / FRAME_STEP)`` rows per video."""
    videos = d.mapInPandas(
        _synthesize_trimmed_video_batches, schema="doc_id long, content binary"
    )
    fp = videos.mapInPandas(
        _video_fp_batches, schema="doc_id long, frame_idx int, f long"
    )
    # SCALE GUARD: doc-partitioned window, <= ceil(97 / FRAME_STEP) rows
    # per video by construction.
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return (
        fp.select(
            "doc_id",
            (
                F.col("f") * F.lit(10**12)
                + F.lead("f", 1).over(w) * F.lit(10**6)
                + F.lead("f", 2).over(w)
            ).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
        .distinct()
    )


def _video_group_frames(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(per_doc, gsh)`` over the docs in ``d``: ``per_doc`` =
    (doc_id, sig, s) where ``sig`` is the md5 of the sorted shingle set
    and ``s`` the DECODED sampled-frame count (shingles are consecutive
    and within-doc distinct, so s = n_shingles + 2 — no second decode
    pass); ``gsh`` = df-capped distinct (sig, shingle), the pairing
    universe shared by the near-dup and keep-best tiers."""
    sh = _trimmed_shingles(d)
    per_doc = sh.groupBy("doc_id").agg(
        F.expr(
            "md5(concat_ws(',', transform(sort_array(collect_set(shingle)), "
            "x -> CAST(x AS STRING))))"
        ).alias("sig"),
        (F.count("*") + F.lit(2)).cast("long").alias("s"),
    )
    gsh0 = (
        sh.join(per_doc.select("doc_id", "sig"), "doc_id")
        .select("sig", "shingle")
        .distinct()
    )
    capped = (
        gsh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= VID_SHINGLE_DF_CAP)
        .select("shingle")
    )
    return per_doc, gsh0.join(capped, "shingle", "left_semi")


def _video_shared_pairs(gsh: DataFrame) -> DataFrame:
    """(sig_a, sig_b, n_shared) group pairs sharing >= VID_SHARED_MIN
    df-capped shingles, each pair once (sig_a < sig_b)."""
    a = gsh.withColumnsRenamed({"sig": "sig_a"})
    b = gsh.withColumnsRenamed({"sig": "sig_b"})
    return (
        a.join(b, ["shingle"])
        .where(F.col("sig_a") < F.col("sig_b"))
        .groupBy("sig_a", "sig_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= VID_SHARED_MIN)
    )


#: shared oracle prefix: per-doc sampled-frame fingerprints and distinct
#: shingles, closed-form from the synthesizer arithmetic
_VID_SH_CTE = f"""
WITH vids AS (
  SELECT doc_id, doc_id % {VID_PATTERN_MOD} AS cid, doc_id % 97 + 1 AS n_frames
  FROM documents
), frames AS (
  SELECT doc_id, cid, unnest(range(0, n_frames, {FRAME_STEP})) AS frame_idx
  FROM vids
), fp AS (
  SELECT doc_id, frame_idx,
         CAST(((cid + frame_idx) % {W_MOD} + {W_OFF}) * 1000
              + ((cid * 3 + frame_idx) % {H_MOD} + {H_OFF}) AS BIGINT) AS f
  FROM frames
), sh AS (
  SELECT doc_id,
         f * 1000000000000
           + lead(f, 1) OVER w * 1000000
           + lead(f, 2) OVER w AS shingle
  FROM fp WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
  QUALIFY lead(f, 2) OVER w IS NOT NULL
), dsh AS (
  SELECT DISTINCT doc_id, shingle FROM sh
)"""


@register(
    "multimodal_video_neardup",
    _VID_SH_CTE
    + f""", sig AS (
  SELECT doc_id,
         md5(string_agg(CAST(shingle AS VARCHAR), ',' ORDER BY shingle)) AS sig
  FROM dsh GROUP BY doc_id
), grp AS (
  SELECT sig, CAST(count(*) AS BIGINT) AS n_videos FROM sig GROUP BY 1
), gsh0 AS (
  SELECT DISTINCT s.sig, d.shingle FROM dsh d JOIN sig s USING (doc_id)
), gsh AS (
  SELECT sig, shingle FROM gsh0
  WHERE shingle IN (SELECT shingle FROM gsh0 GROUP BY 1
                    HAVING count(*) <= {VID_SHINGLE_DF_CAP})
), sizes AS (
  SELECT sig, CAST(count(*) AS BIGINT) AS n_sh FROM gsh GROUP BY 1
), shared AS (
  SELECT a.sig AS sig_a, b.sig AS sig_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM gsh a JOIN gsh b ON a.shingle = b.shingle AND a.sig < b.sig
  GROUP BY 1, 2 HAVING count(*) >= {VID_SHARED_MIN}
)
SELECT s.sig_a, s.sig_b, s.n_shared,
       CAST((1000 * s.n_shared)
            // (za.n_sh + zb.n_sh - s.n_shared) AS BIGINT) AS jaccard_milli,
       CAST(ga.n_videos * gb.n_videos AS BIGINT) AS pair_count
FROM shared s
JOIN sizes za ON za.sig = s.sig_a JOIN sizes zb ON zb.sig = s.sig_b
JOIN grp ga ON ga.sig = s.sig_a JOIN grp gb ON gb.sig = s.sig_b
""",
    doc="near-duplicate VIDEO retrieval: sampled frames really sliced + "
    f"decoded → fingerprint {VID_SHINGLE_W}-shingles over the frame "
    "sequence → signature GROUPS sharing >= "
    f"{VID_SHARED_MIN} shingles pair with exact shingle-Jaccard — catches "
    "trimmed/extended uploads of the same footage, group-first so a "
    "million identical uploads are one join row",
)
def multimodal_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO retrieval — the video member of the dedup
    family (image: ``multimodal_image_neardup``): a trimmed or extended
    re-upload of the same footage shares its sampled-frame fingerprint
    SHINGLES with the original even though no container/byte/exact hash
    matches. Pipeline: binary container → row-expanding Arrow map that
    slices every sampled frame's actual bytes and IHDR-decodes them
    (CRC-checked — the codec swaps in at the same seam as
    :func:`iter_video_frames`), fingerprint per frame, width-3 shingles
    over the ordered sequence (a doc-partitioned window over ≤ 10
    sampled rows per video), then GROUP-FIRST pairing: videos collapse
    to shingle-set signature groups, groups sharing ≥
    :data:`VID_SHARED_MIN` shingles pair with exact shingle-Jaccard
    (integer milli, truncating div) and ``pair_count = n_a · n_b``.

    Scale disciplines (the ``multimodal_image_neardup`` posture):

    - **Group-first**: the quadratic doc-pair set is never materialized;
      a boilerplate video uploaded a million times is ONE row in the
      shingle join and one factor in ``pair_count``.
    - **df-cap**: shingles present in more than
      :data:`VID_SHINGLE_DF_CAP` groups (intro cards, test patterns) are
      dropped from the universe before sizing and pairing — the
      winnowing discipline that bounds every shingle bucket at any
      corpus size.
    - Decode is a narrow Arrow map (no shuffle); the shingle window is
      per-video and bounded by the sampling rate; the only corpus-scale
      exchanges are the signature aggregate and the capped bucket join.

    The fixture plants the structure (:func:`make_trimmed_video`): frame
    content follows ``doc_id % VID_PATTERN_MOD``, length stays per-doc —
    so same-pattern videos are cuts of the same footage, and the
    congruence arithmetic guarantees no cross-pattern shingle collisions
    (2a ≡ 0 (mod 480) has no solution for 0 < a < 40). The oracle
    re-derives every fingerprint closed-form from the synthesizer
    arithmetic — a mis-seek, off-by-one length walk, or wrong-frame
    decode shifts a fingerprint and hash-fails. A pure-python replay
    from the container bytes pins the full pipeline a third way
    (tests/test_multimodal.py).

    Reference analog: none (extension surface — multimodal dedup family).
    """
    per_doc, gsh = _video_group_frames(doc_ids(spark, sf_dir))
    grp = per_doc.groupBy("sig").agg(F.count("*").cast("long").alias("n_videos"))
    sizes = gsh.groupBy("sig").agg(F.count("*").cast("long").alias("n_sh"))
    shared = _video_shared_pairs(gsh)
    za = sizes.withColumnsRenamed({"sig": "sig_a", "n_sh": "n_sh_a"})
    zb = sizes.withColumnsRenamed({"sig": "sig_b", "n_sh": "n_sh_b"})
    ga = grp.withColumnsRenamed({"sig": "sig_a", "n_videos": "n_a"})
    gb = grp.withColumnsRenamed({"sig": "sig_b", "n_videos": "n_b"})
    return (
        shared.join(za, "sig_a").join(zb, "sig_b")
        .join(ga, "sig_a").join(gb, "sig_b")
        .selectExpr(
            "sig_a",
            "sig_b",
            "n_shared",
            "CAST((1000 * n_shared) div (n_sh_a + n_sh_b - n_shared) "
            "AS BIGINT) AS jaccard_milli",
            "CAST(n_a * n_b AS BIGINT) AS pair_count",
        )
    )


@register(
    "multimodal_video_neardup_incremental",
    _VID_SH_CTE
    + f""", bsig AS (
  SELECT doc_id,
         md5(string_agg(CAST(shingle AS VARCHAR), ',' ORDER BY shingle)) AS sig
  FROM dsh WHERE doc_id % 4 <> 0 GROUP BY doc_id
), bgsh0 AS (
  SELECT DISTINCT s.sig, d.shingle
  FROM dsh d JOIN bsig s USING (doc_id)
), bgsh AS (
  SELECT sig, shingle FROM bgsh0
  WHERE shingle IN (SELECT shingle FROM bgsh0 GROUP BY 1
                    HAVING count(*) <= {VID_SHINGLE_DF_CAP})
), collided AS (
  SELECT DISTINCT d.doc_id
  FROM dsh d JOIN bgsh g ON d.shingle = g.shingle
  WHERE d.doc_id % 4 = 0
  GROUP BY d.doc_id, g.sig HAVING count(*) >= {VID_SHARED_MIN}
)
SELECT doc_id FROM documents
WHERE doc_id % 4 = 0 AND doc_id NOT IN (SELECT doc_id FROM collided)
""",
    doc="incremental video near-dup gate: the corpus's signature-group "
    "shingle table is published once; a new batch decodes only its own "
    "videos, probes the persisted shingles, and survivors (no group "
    f"sharing >= {VID_SHARED_MIN} shingles) are safe to ingest",
)
def multimodal_video_neardup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ingest-time gate for a GROWING video corpus — the
    ``multimodal_image_neardup_incremental`` lifecycle on the video
    side: the corpus's df-capped (signature-group, shingle) table is
    published once through the audited sink (in production each admitted
    batch appends its group's shingles); an incoming batch decodes and
    shingles ONLY ITS OWN videos, equi-joins the persisted shingle
    table, and a batch video colliding with any existing group on ≥
    :data:`VID_SHARED_MIN` shingles is held back — the survivors are
    safe to ingest. Videos too short to shingle (< 3 sampled frames)
    carry no near-dup evidence and are admitted, stated.

    Scale shape: batch-only Arrow decode map, persisted-parquet shingle
    scan, shingle-key equi-join bounded by the published df-cap (never
    all-pairs), one bounded (doc, group) aggregate, one anti-join. The
    corpus is never re-decoded or re-shingled.

    Reference analog: none (extension surface — multimodal dedup family,
    completing the video tier matrix: group near-dup → incremental
    ingest gate).
    """
    from ufload_spark.sources.loader import memo_read

    d = doc_ids(spark, sf_dir)
    bgsh = memo_read(
        spark,
        "video_neardup_gsh",
        sf_dir,
        lambda: _video_group_frames(d.where(~in_batch()))[1],
    )
    batch = d.where(in_batch())
    bsh = _trimmed_shingles(batch)
    collided = (
        bsh.join(bgsh, "shingle")
        .groupBy("doc_id", "sig")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= VID_SHARED_MIN)
        .select("doc_id")
        .distinct()
    )
    return batch.select("doc_id").join(collided, "doc_id", "left_anti")


@register(
    "multimodal_video_keep_best_cut",
    _VID_SH_CTE.replace("WITH vids", "WITH RECURSIVE vids", 1)
    + f""", sig AS (
  SELECT doc_id,
         md5(string_agg(CAST(shingle AS VARCHAR), ',' ORDER BY shingle)) AS sig,
         CAST(count(*) + 2 AS BIGINT) AS s
  FROM dsh GROUP BY doc_id
), grp AS (
  SELECT sig, CAST(min(doc_id) AS BIGINT) AS rep,
         CAST(count(*) AS BIGINT) AS n_videos, CAST(max(s) AS BIGINT) AS s
  FROM sig GROUP BY 1
), gsh0 AS (
  SELECT DISTINCT s.sig, d.shingle FROM dsh d JOIN sig s USING (doc_id)
), gsh AS (
  SELECT sig, shingle FROM gsh0
  WHERE shingle IN (SELECT shingle FROM gsh0 GROUP BY 1
                    HAVING count(*) <= {VID_SHINGLE_DF_CAP})
), shared AS (
  SELECT a.sig AS sig_a, b.sig AS sig_b
  FROM gsh a JOIN gsh b ON a.shingle = b.shingle AND a.sig < b.sig
  GROUP BY 1, 2 HAVING count(*) >= {VID_SHARED_MIN}
), edges AS (
  SELECT ga.rep AS u, gb.rep AS v FROM shared s
  JOIN grp ga ON ga.sig = s.sig_a JOIN grp gb ON gb.sig = s.sig_b
  UNION
  SELECT gb.rep, ga.rep FROM shared s
  JOIN grp ga ON ga.sig = s.sig_a JOIN grp gb ON gb.sig = s.sig_b
), nodes AS (SELECT rep AS n FROM grp),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), lab AS (SELECT n, min(m) AS m FROM reach GROUP BY n),
cl AS (
  SELECT g.sig, g.rep, g.n_videos, g.s, l.m AS cluster_id
  FROM grp g JOIN lab l ON g.rep = l.n
), agg AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_videos) AS BIGINT) AS n_videos
  FROM cl GROUP BY 1
), keep AS (
  SELECT cluster_id, rep AS keep_doc_id, s AS keep_frames
  FROM cl
  QUALIFY row_number() OVER (PARTITION BY cluster_id
                             ORDER BY s DESC, rep) = 1
)
SELECT a.cluster_id, a.n_groups, a.n_videos, k.keep_doc_id, k.keep_frames
FROM agg a JOIN keep k USING (cluster_id)
""",
    doc="footage-cluster canonicalization: connected components over the "
    "video near-dup group graph, keeping the MOST COMPLETE cut per "
    "cluster (max decoded sampled-frame count, tie -> smallest doc) — "
    "the re-upload curation rule; group-representative nodes, never a "
    "per-doc graph",
)
def multimodal_video_keep_best_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-cut selection over footage clusters — the video member
    of the keep-best family (``dedup_cluster_keep_best``,
    ``multimodal_image_cluster_keep_best``): trimmed/extended re-uploads
    of the same footage form a CLUSTER (connected components over the
    shingle-pair group graph, since a short cut may only overlap the
    mid-length cut that links it to the full version), and the curation
    rule keeps the MOST COMPLETE cut — the video with the largest
    DECODED sampled-frame count (derived as shingles + 2, no second
    decode pass), tie broken to the smallest doc_id.

    Scale disciplines: the component solver runs over GROUP
    REPRESENTATIVES (min doc_id per signature group, long-keyed — the
    ``multimodal_image_cluster_keep_best`` posture), so a footage group
    uploaded a million times is ONE node; the pair graph is the df-capped
    shingle bucket join of the near-dup tier; `min_label_components`
    picks union-find vs chunked min-label propagation by measured edge
    count; the keep window partitions by cluster over the group-sized
    frame. Singleton groups (no qualifying pair) are their own cluster
    and keep themselves; videos too short to shingle carry no footage
    evidence and are out of scope, stated.

    Oracle: the same group graph closed-form from the synthesizer
    arithmetic, components via a recursive-CTE transitive closure (the
    ``dedup_connected_components`` mapping), keep rule as a window.
    Pure-python union-find replay from the container bytes pins the
    full pipeline a third way (tests/test_multimodal.py).

    Reference analog: none (extension surface — multimodal dedup family,
    completing the video tier matrix: group near-dup → incremental
    ingest gate → cluster keep-best-cut).
    """
    from ufload_spark.operators.dedup import min_label_components

    per_doc, gsh = _video_group_frames(doc_ids(spark, sf_dir))
    grp = per_doc.groupBy("sig").agg(
        F.min("doc_id").cast("long").alias("rep"),
        F.count("*").cast("long").alias("n_videos"),
        F.max("s").cast("long").alias("s"),
    )
    shared = _video_shared_pairs(gsh)
    edges = (
        shared.join(
            grp.select(F.col("sig").alias("sig_a"), F.col("rep").alias("u")),
            "sig_a",
        )
        .join(
            grp.select(F.col("sig").alias("sig_b"), F.col("rep").alias("v")),
            "sig_b",
        )
        .select("u", "v")
    )
    comp = min_label_components(edges)
    joined = grp.join(comp, grp.rep == comp.n, "left").select(
        "sig",
        "rep",
        "n_videos",
        "s",
        F.coalesce(F.col("m"), F.col("rep")).alias("cluster_id"),
    )
    # SCALE GUARD: window over the GROUP-sized frame, partitioned by
    # cluster — bounded by the signature-group count, never per-doc.
    w = Window.partitionBy("cluster_id").orderBy(F.desc("s"), "rep")
    keep = (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("rep").alias("keep_doc_id"),
            F.col("s").alias("keep_frames"),
        )
    )
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("n_videos").cast("long").alias("n_videos"),
        )
        .join(F.broadcast(keep), "cluster_id")
        .select("cluster_id", "n_groups", "n_videos", "keep_doc_id", "keep_frames")
    )
