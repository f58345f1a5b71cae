"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with a metadata struct.
Every Python stage here is one of the Arrow stage pair in
`operators/bytestage.py`, shared with the byte-level PDF family: each
``synthetic_*`` generator is `synthesize(df, payload_fn)`, and every
per-document kernel (decode, transform, frame sampling, shot detection,
audio windows, perceptual hashes, near-dup captures) is a plain
``parse(bytes) -> records`` function run by `parse_stage`.  A null payload
is read as b"", which every kernel answers with its empty result.  Each
container rule exists once: one RIFF chunk walk clamped to the RIFF
envelope (`_wav_layout`), one WAV writer (`_riff_wav`), one P6/P5 header
scan (`_ppm_fields`), one JPEG segment writer (`_jpeg`).

Decode (r2): REAL header parsers for the codec-less container formats —
BMP (BITMAPINFOHEADER), binary PPM/PGM (P6/P5), and RIFF/WAV (fmt + data
chunks).  These need zero codec libraries: width/height/channel/sample-rate/
duration come straight from the byte layout per the public format specs.
Formats beyond these (JPEG/PNG/MP4...) fall back to ``decode_stub``'s
deterministic byte-stats with media_type 'unknown' — swapping in PIL/ffmpeg
remains a one-function change.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_parser_spark.operators.bytestage import parse_stage, synthesize
from pdf_parser_spark.operators.pdflayout import make_pdf, pdf_text

MEDIA_SCHEMA = (
    "doc_id long, media_type string, byte_len long, "
    "width int, height int, n_channels int, sample_rate int, "
    "duration_ms long, checksum string, feature_norm double"
)
_MEDIA_NULLS = {
    "width": None, "height": None, "n_channels": None,
    "sample_rate": None, "duration_ms": None,
}


def decode_stub(payload: bytes) -> dict:
    """Deterministic byte-stat fallback for formats without a header parser.
    Raises for a null payload so the unsupported case stays explicit."""
    if payload is None:
        raise NotImplementedError("real media decoding requires codec libs (PIL/ffmpeg)")
    n = len(payload)
    # vectorized byte sum (the r4-verdict hot-spot note): numpy's uint8
    # reduction, not a per-byte Python loop — the integer sum is identical
    mean = int(np.frombuffer(payload, dtype=np.uint8).sum()) / n if n else 0.0
    return {
        "media_type": "unknown",
        "byte_len": n,
        **_MEDIA_NULLS,
        "checksum": hashlib.md5(payload).hexdigest(),
        "feature_norm": round(mean, 4),
    }


def _decode_bmp(payload: bytes) -> dict | None:
    """BMP: 14-byte file header + BITMAPINFOHEADER.  width int32le@18,
    height int32le@22 (negative = top-down -> abs), planes/bpp follow."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    return {
        "media_type": "image/bmp",
        **_MEDIA_NULLS,
        "width": abs(width),
        "height": abs(height),
    }


def _ppm_fields(payload: bytes, start: int = 0):
    """([width, height, maxval], index just past maxval) for the binary
    PPM/PGM header at ``start`` (offsets are absolute): 'P6'/'P5', then
    whitespace/comment-separated ASCII fields; else None.  The one header
    scan behind _decode_ppm and _ppm_header."""
    if payload[start:start + 2] not in (b"P6", b"P5"):
        return None
    fields: list[int] = []
    i, n = start + 2, len(payload)
    while i < n and len(fields) < 3:
        c = payload[i:i + 1]
        if c == b"#":  # comment to end of line
            while i < n and payload[i:i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and payload[j:j + 1].isdigit():
                j += 1
            fields.append(int(payload[i:j]))
            i = j
        else:
            return None
    if len(fields) < 3:
        return None
    return fields, i


def _decode_ppm(payload: bytes) -> dict | None:
    """Binary PPM/PGM: 'P6'/'P5', then whitespace/comment-separated ASCII
    width height maxval."""
    hd = _ppm_fields(payload)
    if hd is None:
        return None
    (width, height, _), _ = hd
    return {
        "media_type": "image/ppm" if payload[:2] == b"P6" else "image/pgm",
        **_MEDIA_NULLS,
        "width": width,
        "height": height,
    }


def _wav_layout(payload: bytes) -> tuple:
    """(channels, rate, bits, data_off, data_end) of a RIFF/WAVE payload —
    the one RIFF chunk walk behind every WAV reader.  The RIFF header's
    size field is the file's own envelope: the walk stops at it, and the
    data extent clamps to the chunk's declared end, itself clamped to the
    envelope — never to end-of-file, so an oversized data declaration
    cannot pull trailing junk (or a concatenated second payload) in as
    PCM.  'fmt ' gives channels uint16le@+2, sample_rate uint32le@+4,
    bits uint16le@+14.  Fields of a missing chunk, and all five for a
    payload that is not RIFF/WAVE, are None."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return (None,) * 5
    riff_end = min(8 + struct.unpack_from("<I", payload, 4)[0], len(payload))
    channels = rate = bits = data_off = data_end = None
    i = 12
    while i + 8 <= riff_end:
        cid = payload[i:i + 4]
        size = struct.unpack_from("<I", payload, i + 4)[0]
        if cid == b"fmt " and i + 8 + 16 <= riff_end:
            channels = struct.unpack_from("<H", payload, i + 8 + 2)[0]
            rate = struct.unpack_from("<I", payload, i + 8 + 4)[0]
            bits = struct.unpack_from("<H", payload, i + 8 + 14)[0]
        elif cid == b"data":
            data_off, data_end = i + 8, min(i + 8 + size, riff_end)
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return channels, rate, bits, data_off, data_end


def _decode_wav(payload: bytes) -> dict | None:
    """RIFF/WAVE via _wav_layout: 'fmt ' gives channels/sample_rate/bits,
    the envelope-clamped 'data' extent gives duration (floor-ms over the
    byte rate)."""
    channels, rate, bits, data_off, data_end = _wav_layout(payload)
    if channels is None or data_off is None or not rate or not bits:
        return None
    byte_rate = rate * channels * (bits // 8)
    return {
        "media_type": "audio/wav",
        **_MEDIA_NULLS,
        "n_channels": channels,
        "sample_rate": rate,
        "duration_ms": ((data_end - data_off) * 1000 // byte_rate
                        if byte_rate else None),
    }


def _pcm16(payload: bytes) -> np.ndarray | None:
    """The interleaved int16 samples (as int64) of _wav_layout's clamped
    data extent, None without a data chunk — the one sample basis of
    audio_energy and audio_spectral_peaks, so the two faces can never
    disagree about which bytes are samples."""
    data_off, data_end = _wav_layout(payload)[3:]
    if data_off is None:
        return None
    return np.frombuffer(payload, dtype="<i2", count=(data_end - data_off) // 2,
                         offset=data_off).astype(np.int64)


def decode_media(payload: bytes) -> dict:
    """Sniff the container magic and parse the real header; unknown formats
    fall back to decode_stub's byte stats.  Always fills the full MEDIA
    column set (checksum + feature_norm computed for every format)."""
    stats = decode_stub(payload)  # raises for a null payload
    parsed = _decode_bmp(payload) or _decode_ppm(payload) or _decode_wav(payload)
    return {**stats, **(parsed or {})}


def media_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """parse_stage: (doc_id, payload binary) -> MEDIA_SCHEMA rows, one
    decode_media record per document (nullable ints stay exact ints).
    Arrow batches bound memory; the loop is per-batch Python, not per-row UDF."""
    return parse_stage(df, payload_col, lambda b: [decode_media(b)],
                       MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic payload synthesis (test/bench plumbing, not the operator):
# real BMP/WAV/PPM byte layouts whose header fields are pure functions of
# doc_id, so a SQL oracle can verify the DECODE output against the formulas
# without parsing bytes itself.
# ---------------------------------------------------------------------------

def make_bmp(width: int, height: int) -> bytes:
    row = ((width * 3 + 3) // 4) * 4  # rows padded to 4 bytes
    pixel_bytes = row * height
    header = b"BM" + struct.pack("<IHHI", 54 + pixel_bytes, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       pixel_bytes, 2835, 2835, 0, 0)
    pixels = ((np.arange(pixel_bytes) * 7 + width) % 256).astype(np.uint8).tobytes()
    return header + info + pixels


def _riff_wav(channels: int, rate: int, bits: int, data: bytes) -> bytes:
    """The one WAV writer: RIFF envelope, a 16-byte PCM 'fmt ' chunk (byte
    rate and block align derived from channels x bits), one data chunk."""
    frame = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * frame, frame, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_wav(channels: int, rate: int, n_samples: int) -> bytes:
    data_size = n_samples * channels * 2  # 16-bit PCM
    data = ((np.arange(data_size) * 13 + channels) % 256).astype(np.uint8).tobytes()
    return _riff_wav(channels, rate, 16, data)


def make_ppm(width: int, height: int) -> bytes:
    header = f"P6\n{width} {height}\n255\n".encode()
    return header + ((np.arange(3 * width * height) * 11 + height) % 256).astype(
        np.uint8).tobytes()


def synthetic_media_payload(doc_id: int) -> bytes:
    """doc_id -> one of BMP / WAV / PPM with header fields that are simple
    arithmetic in doc_id (mirrored by the m_media_features SQL oracle)."""
    kind = doc_id % 3
    if kind == 0:
        return make_bmp(8 + doc_id % 32, 8 + (doc_id // 3) % 24)
    if kind == 1:
        return make_wav(1 + doc_id % 2, 8000 * (1 + doc_id % 3),
                        200 + doc_id % 100)
    return make_ppm(4 + doc_id % 16, 4 + (doc_id // 5) % 16)


def synthetic_media(df: DataFrame) -> DataFrame:
    """(doc_id, ...) -> (doc_id, payload binary) with deterministic real
    container bytes per doc_id (generator plumbing for tests/benchmarks)."""
    return synthesize(df, synthetic_media_payload)


# frame-sampling knobs, shared with the m_frame_sample oracle (anti-drift:
# the SQL twin interpolates these so a knob change can never silently
# diverge engine vs oracle — ADVICE r2)
SAMPLE_EVERY_DEFAULT = 2
MAX_FRAMES_DEFAULT = 8


def binary_stats(documents: DataFrame) -> DataFrame:
    """JVM-side byte stats over an encoded payload — the pushdown-friendly
    subset of media metadata that needs no Python at all.  Used as the
    oracle-checked face of the multimodal family."""
    payload = F.encode(F.col("text"), "utf-8")
    return documents.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.md5(payload).alias("checksum"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Real transform kernels (r2): nearest-neighbor image resize and audio
# decimation over the codec-less containers — numpy-vectorized, re-encoding
# REAL container bytes.  The synthetic payloads' pixel/sample bytes are
# arithmetic in their byte index, so a SQL oracle can recompute the exact
# integer checksum of the TRANSFORMED data without parsing bytes.
# ---------------------------------------------------------------------------

def _ppm_header(payload: bytes, start: int = 0):
    """(width, height, maxval, data_offset) for the P6/P5 header at
    ``start`` (offsets are absolute), else None."""
    hd = _ppm_fields(payload, start)
    if hd is None or hd[1] >= len(payload):
        return None
    (width, height, maxval), i = hd
    return width, height, maxval, i + 1  # single ws after maxval


def resize_bmp(payload: bytes, out_w: int, out_h: int) -> bytes | None:
    """Real nearest-neighbor resize of a 24bpp BITMAPINFOHEADER BMP:
    decode the padded pixel grid, gather source rows/cols by the standard
    floor map sx = x2*W//W2, re-encode a valid BMP.  Vectorized numpy —
    two fancy-index gathers, no per-pixel Python."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    w, h = abs(w), abs(h)
    # this kernel is 24bpp-uncompressed only: any other layout would be
    # reinterpreted with the wrong stride/pixel size and emit structurally
    # valid but scrambled output — fail soft instead
    if bpp != 24 or compression != 0:
        return None
    stride = ((w * 3 + 3) // 4) * 4
    if len(payload) < 54 + stride * h:
        return None
    pix = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                        offset=54).reshape(h, stride)
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    byte_cols = (3 * cols[:, None] + np.arange(3)[None, :]).reshape(-1)
    out = pix[rows][:, byte_cols]  # out_h x out_w*3
    out_stride = ((out_w * 3 + 3) // 4) * 4
    buf = np.zeros((out_h, out_stride), np.uint8)
    buf[:, : out_w * 3] = out
    header = b"BM" + struct.pack("<IHHI", 54 + out_stride * out_h, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0,
                       out_stride * out_h, 2835, 2835, 0, 0)
    return header + info + buf.tobytes()


def resize_ppm(payload: bytes, out_w: int, out_h: int) -> bytes | None:
    """Real nearest-neighbor resize of a binary P6 PPM (P5 analog: 1
    channel); re-encodes a valid header + raster."""
    hd = _ppm_header(payload)
    if hd is None:
        return None
    w, h, maxval, off = hd
    ch = 3 if payload[:2] == b"P6" else 1
    if len(payload) < off + ch * w * h:
        return None
    pix = np.frombuffer(payload, dtype=np.uint8, count=ch * w * h,
                        offset=off).reshape(h, w * ch)
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    byte_cols = (ch * cols[:, None] + np.arange(ch)[None, :]).reshape(-1)
    out = pix[rows][:, byte_cols]
    magic = "P6" if ch == 3 else "P5"
    return f"{magic}\n{out_w} {out_h}\n{maxval}\n".encode() + out.tobytes()


def decimate_wav(payload: bytes, factor: int = 2) -> bytes | None:
    """Real audio decimation: keep every `factor`-th PCM frame and divide
    the declared sample rate, preserving duration — a valid RIFF/WAVE out.
    (Proper resampling low-pass-filters first; plain decimation is the
    deterministic integer-exact variant the oracle can recompute.)"""
    channels, rate, bits, data_off, data_end = _wav_layout(payload)
    if channels is None or data_off is None or not rate or not bits:
        return None
    frame_bytes = channels * (bits // 8)
    if frame_bytes == 0:
        return None  # bits < 8: not PCM we can frame
    # the extent is _wav_layout's envelope-clamped one: an oversized data
    # declaration (a truncated fetch, trailing junk) never reaches
    # frombuffer, which would raise or read non-RIFF bytes as frames
    n_frames = (data_end - data_off) // frame_bytes
    data = np.frombuffer(payload, dtype=np.uint8, count=n_frames * frame_bytes,
                         offset=data_off).reshape(n_frames, frame_bytes)
    return _riff_wav(channels, rate // factor, bits, data[::factor].tobytes())


TRANSFORM_SCHEMA = (
    "doc_id long, media_type string, out_w int, out_h int, out_rate int, "
    "n_units long, data_sum long, out_len long, payload binary"
)


def _transform(payload: bytes) -> dict:
    """transform_media's per-document kernel: one TRANSFORM_SCHEMA record."""
    base = {
        "media_type": "unknown", "out_w": -1,
        "out_h": -1, "out_rate": -1, "n_units": -1, "data_sum": -1,
        "out_len": len(payload), "payload": payload,
    }
    if payload[:2] == b"BM" and len(payload) >= 54:
        w = abs(struct.unpack_from("<i", payload, 18)[0])
        h = abs(struct.unpack_from("<i", payload, 22)[0])
        w2, h2 = max(w // 2, 1), max(h // 2, 1)
        out = resize_bmp(payload, w2, h2)
        if out is None:
            return base
        stride2 = ((w2 * 3 + 3) // 4) * 4
        arr = np.frombuffer(out, np.uint8, count=stride2 * h2,
                            offset=54).reshape(h2, stride2)[:, : w2 * 3]
        return {**base, "media_type": "image/bmp", "out_w": w2,
                "out_h": h2, "n_units": w2 * h2,
                "data_sum": int(arr.sum()), "out_len": len(out),
                "payload": out}
    if payload[:2] in (b"P6", b"P5"):
        hd = _ppm_header(payload)
        if hd is None:
            return base
        w, h, _, _ = hd
        ch = 3 if payload[:2] == b"P6" else 1
        w2, h2 = max(w // 2, 1), max(h // 2, 1)
        out = resize_ppm(payload, w2, h2)
        if out is None:
            return base
        raster = np.frombuffer(out, np.uint8, count=ch * w2 * h2,
                               offset=len(out) - ch * w2 * h2)
        return {**base, "media_type": "image/ppm" if ch == 3 else "image/pgm",
                "out_w": w2, "out_h": h2, "n_units": w2 * h2,
                "data_sum": int(raster.sum()), "out_len": len(out),
                "payload": out}
    if payload[:4] == b"RIFF":
        out = decimate_wav(payload, 2)
        if out is None:
            return base
        channels, rate, bits = _wav_layout(payload)[:3]
        # the layout we emit is canonical: data chunk starts at byte 44
        data = np.frombuffer(out, np.uint8, offset=44)
        return {**base, "media_type": "audio/wav", "out_w": -1,
                "out_h": -1,
                "out_rate": rate // 2,
                # frames, as decimate_wav frames them: any PCM width
                "n_units": len(data) // (channels * (bits // 8)),
                "data_sum": int(data.sum()), "out_len": len(out),
                "payload": out}
    return base


def transform_media(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """parse_stage transform: images resize to (max(W//2,1),
    max(H//2,1)) nearest-neighbor, WAV decimates 2x; emits the REAL
    re-encoded container plus integer evidence columns — data_sum is the
    exact byte sum of the transformed raster/PCM data (excluding
    header/padding), which the m_transform oracle recomputes from the
    synthesis formulas.  Unknown formats pass through with -1 features."""
    return parse_stage(df, payload_col, lambda b: [_transform(b)],
                       TRANSFORM_SCHEMA)


# ---------------------------------------------------------------------------
# Real frame sampling (r2): concatenated binary-PPM streams — the actual
# wire format of `ffmpeg -f image2pipe -c:v ppm` — parsed frame-by-frame;
# every k-th frame re-emitted as a standalone valid P6 image.
# ---------------------------------------------------------------------------

def make_ppm_seeded(width: int, height: int, seed: int) -> bytes:
    """A P6 frame whose raster byte i is (i*11 + seed) % 256 — per-frame
    seeds let a SQL oracle distinguish (and checksum) individual frames."""
    header = f"P6\n{width} {height}\n255\n".encode()
    return header + ((np.arange(3 * width * height) * 11 + seed) % 256).astype(
        np.uint8).tobytes()


def split_ppm_stream(payload: bytes) -> list[bytes]:
    """Parse a concatenated-P6 stream into its frames (REAL parsing: each
    header is read in place via an absolute offset — no per-frame tail
    copies, so a many-frame stream parses in O(stream) not O(frames x
    stream) — and each raster is skipped by its computed size)."""
    frames: list[bytes] = []
    i, n = 0, len(payload)
    while i < n:
        hd = _ppm_header(payload, i)
        if hd is None:
            break
        w, h, _, off = hd
        ch = 3 if payload[i:i + 2] == b"P6" else 1
        end = off + ch * w * h
        if end > n:
            break
        frames.append(payload[i:end])
        i = end
    return frames


def synthetic_video_payload(doc_id: int) -> bytes:
    """doc_id -> a 3..6-frame P6 stream; frame f uses seed doc_id+f and
    dims (4 + doc_id%8, 4 + (doc_id//7)%8) — all oracle-recomputable."""
    w, h = 4 + doc_id % 8, 4 + (doc_id // 7) % 8
    n_frames = 3 + doc_id % 4
    return b"".join(make_ppm_seeded(w, h, doc_id + f) for f in range(n_frames))


def synthetic_video(df: DataFrame) -> DataFrame:
    return synthesize(df, synthetic_video_payload)


SAMPLE_SCHEMA = (
    "doc_id long, frame_index long, n_frames long, width int, height int, "
    "data_sum long, frame_len long, payload binary"
)


def sample_ppm_frames(
    df: DataFrame, every: int = SAMPLE_EVERY_DEFAULT,
    max_frames: int = MAX_FRAMES_DEFAULT,
    payload_col: str = "payload",
) -> DataFrame:
    """parse_stage frame sampling over REAL P6 streams: one input row fans
    out to ceil(n_frames/every) rows (capped at max_frames), each carrying
    the standalone sampled frame plus integer evidence (data_sum = exact
    raster byte sum) the m_frame_sample oracle recomputes per frame.

    Scale: the fan-out happens inside the Arrow batch — no explode shuffle;
    video rows are fat, so session.py's small Arrow batch size is what
    bounds executor memory, same as the extraction stage."""
    def sampled(raw: bytes) -> list[dict]:
        frames = split_ppm_stream(raw)
        recs = []
        for idx in range(0, len(frames), every):
            if idx // every >= max_frames:
                break
            fb = frames[idx]
            w, h, _, off = _ppm_header(fb)
            raster = np.frombuffer(fb, np.uint8, offset=off)
            recs.append({
                "frame_index": idx, "n_frames": len(frames),
                "width": w, "height": h, "data_sum": int(raster.sum()),
                "frame_len": len(fb), "payload": fb,
            })
        return recs

    return parse_stage(df, payload_col, sampled, SAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (average hash) over decoded BMP rasters
# ---------------------------------------------------------------------------

AHASH_GRID = 8  # 8x8 = 64-bit fingerprint (the classic aHash layout)


def _bmp_raster(b: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, pixel offset, padded row stride) of a decodable
    24bpp BMP, None for anything else (magic/bpp/truncation sniff)."""
    if b[:2] != b"BM" or len(b) < 54:
        return None
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    if bpp != 24 or w <= 0 or h <= 0:
        return None
    off = int.from_bytes(b[10:14], "little")
    bs = ((w * 3 + 3) // 4) * 4
    if len(b) < off + bs * h:
        return None
    return w, h, off, bs


def _gray_grid(b: bytes, off: int, stride: int, w: int, h: int,
               gx: int, gy: int) -> list[int]:
    """Nearest-neighbor gy x gx grid (row-major) of integer grays of the
    3-byte pixels at off + stride*sy + 3*sx, sx = x*w//gx, sy = y*h//gy —
    one addressing rule for BMP rows (padded stride) and P6 rows (3w)."""
    grays: list[int] = []
    for i in range(gx * gy):
        sx = (i % gx) * w // gx
        sy = (i // gx) * h // gy
        o = off + stride * sy + 3 * sx
        grays.append((b[o] + b[o + 1] + b[o + 2]) // 3)
    return grays


def _bmp_gray_sample(b: bytes, gx: int, gy: int) -> list[int] | None:
    """Nearest-neighbor-sample a gy x gx grid of integer grays from a
    24bpp BMP payload (row-major, STORED row order), None for anything
    the kernel can't decode (magic/bpp/truncation sniff).  ONE sampler
    shared by aHash (8x8) and dHash (8x9) so the two fingerprints can
    never disagree about pixel addressing."""
    lay = _bmp_raster(b)
    if lay is None:
        return None
    w, h, off, bs = lay
    return _gray_grid(b, off, bs, w, h, gx, gy)


def _mean_bits(grays: list[int]) -> str:
    """The aHash threshold: bit = 1 iff the cell is strictly above the
    integer grid mean (BMP and P6 kernels alike)."""
    mean = sum(grays) // len(grays)
    return "".join("1" if v > mean else "0" for v in grays)


def _ahash_of(b: bytes) -> str | None:
    """64-char aHash bit string of a 24bpp BMP payload, None for anything
    the kernel can't decode.  Shared by image_ahash and image_neardup so
    both faces hash identically."""
    grays = _bmp_gray_sample(b, AHASH_GRID, AHASH_GRID)
    return None if grays is None else _mean_bits(grays)


def _hash_records(hash_of, col: str):
    """parse function: one {col: hash_of(bytes)} record per document, none
    when the kernel cannot decode it."""
    def parse(b: bytes) -> list[dict]:
        h = hash_of(b)
        return [] if h is None else [{col: h}]
    return parse


def _hash_groups(media: DataFrame, hash_of, col: str) -> DataFrame:
    """(doc_id, <col>, n_same): hash_of per payload in the parse stage,
    n_same = docs sharing the hash (one window shuffle on the hash) — the
    one group tail of image_ahash, image_dhash and image_phash."""
    hashed = parse_stage(media, "payload", _hash_records(hash_of, col),
                         f"doc_id long, {col} string")
    return (
        hashed.withColumn(
            "n_same", F.count("*").over(Window.partitionBy(col)).cast("long")
        )
        .orderBy("doc_id")
    )


def _dhash_of(b: bytes) -> str | None:
    """64-char dHash (difference/gradient hash) bit string: sample an
    8-row x 9-col grid, bit[r*8+c] = 1 iff the right neighbor is strictly
    brighter — 8 comparisons per row x 8 rows.  None for undecodable
    payloads (same sniff as aHash via the shared sampler)."""
    g = AHASH_GRID
    grays = _bmp_gray_sample(b, g + 1, g)
    if grays is None:
        return None
    return "".join(
        "1" if grays[r * (g + 1) + c + 1] > grays[r * (g + 1) + c] else "0"
        for r in range(g) for c in range(g)
    )


def image_ahash(media: DataFrame) -> DataFrame:
    """Average-hash perceptual fingerprints over BMP payloads — the
    image-side near-dup signal (re-encoded/re-scaled copies of one image
    hash identically, unlike byte-level md5): grayscale the raster,
    nearest-neighbor-sample an 8x8 grid, threshold each cell against the
    grid mean.

    Returns (doc_id, ahash, n_same) for decodable 24bpp BMPs — ahash as
    the 64-char bit string (portable across engines; a BIGINT encoding
    would fight sign conventions), n_same = docs sharing the hash (the
    dedup group size).  Non-BMP payloads are skipped by magic-number
    sniff, not by id formula — production media columns are mixed.

    Grid sampling uses the same src = dst*dim//grid mapping as resize_bmp,
    rows indexed in STORED order (BMP bottom-up) — orientation is
    irrelevant for dedup as long as both engines agree, and the DuckDB
    oracle recomputes the identical cells from the pixel formula.

    Scale: hashing is in-scan (Arrow batches, 64 samples per image
    regardless of resolution); the only shuffle is the group-size window
    on the 64-bit hash — the same single-shuffle shape as exact_dedup.
    """
    return _hash_groups(media, _ahash_of, "ahash")


# ---------------------------------------------------------------------------
# Perceptual image NEAR-dup: banded Hamming pairs over aHash fingerprints.
# Identical aHash (image_ahash's n_same) only catches byte-level re-encodes
# of the same raster; the common crawl-scale case is the SAME image with a
# small edit — watermark, banner overlay, timestamp stamp — which flips a
# few fingerprint bits.  The pairing machinery is Manku et al. (WWW 2007)
# simhash banding applied to the image hash: split the 64-bit fingerprint
# into BANDS equal slices; any pair within Hamming distance d < BANDS shares
# at least one identical slice (pigeonhole), so an equi-join per band finds
# every such pair without an all-pairs scan.
# ---------------------------------------------------------------------------

IMG_COPY_OFFSET = 1_000_000  # edited-copy cap_id = doc_id + offset
IMG_OVERLAY_ROWS = 1         # the deterministic edit: 1 raster row overlaid
IMG_OVERLAY_FILL = 0x80      # mid-gray: cell flips stay CONFINED to the grid
                             # row sampling the overlay (all in band 0) and
                             # the global mean barely moves, so the edit
                             # damages ~one band — the regime banding is for
NEARDUP_BANDS = 4            # 4 x 16-bit bands -> all pairs with hamming <= 3
NEARDUP_MAX_HAMMING = 12     # kept pairs; >= hamming 4 detection relies on an
                             # untouched band (the overlay leaves 3; measured
                             # 100% copy-pair recall in pytest, not assumed)


def image_overlay_captures(media: DataFrame) -> DataFrame:
    """(cap_id, payload): every BMP payload plus an edited copy
    (cap_id = doc_id + IMG_COPY_OFFSET) whose bottom IMG_OVERLAY_ROWS
    raster row(s) are overwritten with mid-gray — the banner/watermark
    overlay that
    makes perceptual near-dups exist by construction (re-derivable by the
    oracle from the synthesis formula).  Real bytes both ways: the copy is
    a valid BMP, not a formula shortcut."""
    return _captures(media, _overlay_copies, IMG_COPY_OFFSET)


def _overlay_copies(b: bytes) -> list[dict]:
    """A decodable BMP and its overlay-edited copy (copy flag 1)."""
    lay = _bmp_raster(b)
    if lay is None:
        return []
    _, h, off, bs = lay
    rows = min(IMG_OVERLAY_ROWS, h)
    fill = bytes([IMG_OVERLAY_FILL]) * (bs * rows)
    edited = b[: off] + fill + b[off + bs * rows:]
    return [{"copy": 0, "payload": b}, {"copy": 1, "payload": edited}]


def _captures(media: DataFrame, copies, offset: int) -> DataFrame:
    """(cap_id, payload): copies(bytes) -> records of (copy flag, payload)
    per document in the parse stage, cap_id = doc_id + copy * offset
    computed JVM-side — the one capture stage of the three near-dup
    faces."""
    return parse_stage(
        media, "payload", copies, "doc_id long, copy int, payload binary"
    ).select((F.col("doc_id") + F.col("copy") * offset).alias("cap_id"),
             "payload")


def image_neardup(
    media: DataFrame, max_hamming: int = NEARDUP_MAX_HAMMING
) -> DataFrame:
    """Banded perceptual near-dup pairs over the capture set (originals +
    overlay-edited copies): (cap_a, cap_b, hamming, is_copy_pair) for every
    pair sharing at least one identical 16-bit band with Hamming distance
    <= max_hamming.  Guaranteed complete for hamming <= NEARDUP_BANDS - 1;
    beyond that a pair is found only if an edit left some band untouched
    (the overlay edit concentrates damage in the affected grid rows, so in
    practice copy pairs always survive — measured, not assumed, by the
    is_copy_pair recall check in pytest).

    Scale: hashing is in-scan (64 samples per image); candidates come from
    NEARDUP_BANDS equi-joins on (band_idx, 16-bit slice) — postings-style,
    never all-pairs; the exact Hamming filter runs JVM-side via two 32-bit
    conv/xor/bit_count halves (conv parses binary in both engines' SQL but
    only Spark needs it — the oracle compares the bit strings position-wise)."""
    hashed = parse_stage(image_overlay_captures(media), "payload",
                         _hash_records(_ahash_of, "ahash"),
                         "cap_id long, ahash string")
    w = 64 // NEARDUP_BANDS
    bands = hashed.select(
        "cap_id", "ahash",
        F.posexplode(
            F.array(*[
                F.substring("ahash", 1 + w * i, w) for i in range(NEARDUP_BANDS)
            ])
        ).alias("band", "bits"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            on=(F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.cap_id") < F.col("b.cap_id")),
        )
        .select(
            F.col("a.cap_id").alias("cap_a"),
            F.col("b.cap_id").alias("cap_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    half = lambda c, i: F.conv(F.substring(c, 1 + 32 * i, 32), 2, 10).cast("long")  # noqa: E731
    hamming = (
        F.bit_count(half("ha", 0).bitwiseXOR(half("hb", 0)))
        + F.bit_count(half("ha", 1).bitwiseXOR(half("hb", 1)))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select(
            "cap_a", "cap_b", "hamming",
            (F.col("cap_b") - F.col("cap_a") == IMG_COPY_OFFSET).alias(
                "is_copy_pair"
            ),
        )
        .orderBy("cap_a", "cap_b")
    )


# ---------------------------------------------------------------------------
# Windowed audio energy: the VAD / silence-segmentation primitive every
# audio-ingest pipeline runs before ASR or audio-text alignment (silence
# runs are cut points; all-silent clips are dropped like empty documents).
# 16-bit PCM squares are exact integers (s^2 <= 2^30, a 2^20-sample window
# still fits BIGINT with 2^13 headroom), so the per-window energies are
# byte-agreed cross-engine without any float/dB detour — dB presentation
# is a consumer-side monotone transform of the exact energy.
# ---------------------------------------------------------------------------

AE_WIN = 128            # int16 samples per analysis window (interleaved)
AE_SIL_MEANSQ = 10_000  # silence iff energy < thresh * n_samps (mean-square
                        # < 10^4 ~= peak amplitude < ~1.2% of full scale)
AE_SCHEMA = "doc_id long, win_idx int, n_samps int, energy long, is_silence boolean"


def audio_energy(
    df: DataFrame,
    payload_col: str = "payload",
    win: int = AE_WIN,
    sil_meansq: int = AE_SIL_MEANSQ,
) -> DataFrame:
    """Per-window PCM energy over RIFF/WAVE payloads: (doc_id, win_idx,
    n_samps, energy, is_silence), windows of ``win`` interleaved int16
    samples (the last window is partial), energy = exact BIGINT sum of
    squares, silence iff energy < sil_meansq * n_samps (integer compare —
    no float mean ever computed).  Non-WAV payloads are skipped by magic
    sniff, like decode_media.

    Scale: one Arrow stage (numpy int64 square-sums per batch), no shuffle,
    no explode — the fan-out to windows happens inside the UDF so Spark
    never materializes a per-sample row; output is ~total_bytes/(2*win)
    rows.  The engine parses REAL bytes (chunk walk shared with
    decimate_wav); the oracle recomputes energies from the synthesis
    formula (nfc doctrine: real-parse vs formula-predict)."""
    def windows(b: bytes) -> list[dict]:
        s = _pcm16(b)
        if s is None:
            return []
        recs = []
        for w0 in range(0, len(s), win):
            chunk = s[w0:w0 + win]
            e = int((chunk * chunk).sum())
            recs.append({"win_idx": w0 // win, "n_samps": len(chunk),
                         "energy": e, "is_silence": e < sil_meansq * len(chunk)})
        return recs

    return (
        parse_stage(df, payload_col, windows, AE_SCHEMA)
        .orderBy("doc_id", "win_idx")
    )


# ---------------------------------------------------------------------------
# Shot-boundary detection: the video-curation primitive upstream of frame
# sampling — sample_ppm_frames picks every k-th frame, but a training
# pipeline wants one (or a few) frames PER SHOT, so it first needs the cut
# list.  The classic detector is a frame-pair difference: sum of absolute
# pixel differences (SAD), a cut where the mean per-pixel difference jumps.
# SAD over uint8 rasters is an exact integer, so the verdict is an integer
# strict-compare — the audio_energy doctrine applied to video.
# ---------------------------------------------------------------------------

SHOT_MEANDIFF = 64   # cut iff sad > thresh * n_px (mean |diff| above ~64/255)
SHOT_SCHEMA = ("doc_id long, frame_index int, n_px long, sad long, "
               "is_cut boolean")


def shot_boundaries(
    df: DataFrame,
    payload_col: str = "payload",
    mean_diff: int = SHOT_MEANDIFF,
) -> DataFrame:
    """Per consecutive-frame-pair SAD over concatenated-P6 streams:
    (doc_id, frame_index, n_px, sad, is_cut) with frame_index the LATER
    frame of the pair (1-based), n_px the raster byte count, sad the exact
    BIGINT sum of absolute differences, and is_cut the integer strict
    compare sad > mean_diff * n_px.  A dimension change between frames is
    a format cut: sad = -1, is_cut = true (real detectors resize first;
    at ingest a header flip IS a boundary).

    Scale: one Arrow stage, REAL stream parsing (split_ppm_stream's
    absolute-offset walk), numpy int64 SAD per pair, fan-out inside the
    batch — no explode, no shuffle; output is frames-1 rows per video."""
    def pairs(payload: bytes) -> list[dict]:
        rasters = []
        for fb in split_ppm_stream(payload):
            w, h, _, off = _ppm_header(fb, 0)
            ch = 3 if fb[:2] == b"P6" else 1
            rasters.append(np.frombuffer(
                fb, dtype=np.uint8, count=ch * w * h, offset=off))
        recs = []
        for fi in range(1, len(rasters)):
            a, b = rasters[fi - 1], rasters[fi]
            if len(a) != len(b):
                sad, cut = -1, True
            else:
                sad = int(np.abs(a.astype(np.int64) - b.astype(np.int64)).sum())
                cut = sad > mean_diff * len(b)
            recs.append({"frame_index": fi, "n_px": len(b), "sad": sad,
                         "is_cut": cut})
        return recs

    return (
        parse_stage(df, payload_col, pairs, SHOT_SCHEMA)
        .orderBy("doc_id", "frame_index")
    )


def audio_segments(
    df: DataFrame,
    payload_col: str = "payload",
    win: int = AE_WIN,
    sil_meansq: int = AE_SIL_MEANSQ,
) -> DataFrame:
    """The consumer face of audio_energy: merge consecutive same-verdict
    windows into speech/silence SEGMENTS (gaps-and-islands over the window
    index) — the actual VAD output an ASR pipeline consumes ('speech from
    window 3 to 17'), where audio_energy's per-window rows are the raw
    detector signal.  (doc_id, seg_idx, is_silence, win_start, win_end,
    n_windows, energy_sum) ordered by (doc_id, seg_idx).

    Plan: the per-window table from the shared audio_energy pass, then the
    classic lag + cumulative-flag-change islands — both windows partition
    by doc_id, so the sort is bounded by one clip's window count (seconds
    of audio), never the corpus; one groupBy on (doc_id, seg) closes the
    segments.  Exact integers end to end (energy sums are BIGINT, the
    verdict an integer compare inherited from audio_energy)."""
    en = audio_energy(df, payload_col=payload_col, win=win,
                      sil_meansq=sil_meansq)
    w = Window.partitionBy("doc_id").orderBy("win_idx")
    change = F.when(
        F.lag("is_silence").over(w).isNull()
        | (F.lag("is_silence").over(w) != F.col("is_silence")),
        1,
    ).otherwise(0)
    seg = (
        en.withColumn("chg", change)
        .withColumn("seg", F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        seg.groupBy("doc_id", "seg")
        .agg(
            F.min("is_silence").alias("is_silence"),  # constant per segment
            F.min("win_idx").alias("win_start"),
            F.max("win_idx").alias("win_end"),
            F.count("*").cast("long").alias("n_windows"),
            F.sum("energy").cast("long").alias("energy_sum"),
        )
        .select(
            "doc_id", (F.col("seg") - 1).cast("int").alias("seg_idx"),
            "is_silence", "win_start", "win_end", "n_windows", "energy_sum",
        )
        .orderBy("doc_id", "seg_idx")
    )


# ---------------------------------------------------------------------------
# Video near-dup: keyframe-fingerprint containment over P6 streams.
# The crawl-scale video duplicate is a RE-POST — the same clip trimmed,
# re-muxed, or re-described — so byte hashes miss it; the standard detector
# fingerprints each (key)frame perceptually and calls two videos near-dup
# when one's fingerprint set is mostly contained in the other's.
# ---------------------------------------------------------------------------

VID_COPY_OFFSET = 1_000_000  # trimmed-repost cap_id = doc_id + offset
VID_CONTAIN_BP = 5_000       # near-dup iff shared/min(frames) >= 50%


def _ahash_p6(fb: bytes) -> str | None:
    """64-char aHash of one P6 frame (top-down raster; same 8x8 grid and
    mean-threshold rule as the BMP kernel — only the byte layout differs)."""
    hd = _ppm_header(fb, 0)
    if hd is None or fb[:2] != b"P6":
        return None
    w, h, _, off = hd
    if len(fb) < off + 3 * w * h or w <= 0 or h <= 0:
        return None
    return _mean_bits(_gray_grid(fb, off, 3 * w, w, h, AHASH_GRID, AHASH_GRID))


def video_captures(videos: DataFrame) -> DataFrame:
    """(cap_id, payload): every P6 stream plus its trimmed repost
    (first frame dropped, cap_id = doc_id + VID_COPY_OFFSET) — real
    re-concatenated bytes, re-derivable by the oracle from the frame
    formula.  Streams with < 2 frames emit no copy."""
    return _captures(videos, _trim_copies, VID_COPY_OFFSET)


def _trim_copies(b: bytes) -> list[dict]:
    """A P6 stream and, from 2 frames up, its trimmed repost (copy 1)."""
    frames = split_ppm_stream(b)
    if not frames:
        return []
    copies = [{"copy": 0, "payload": b}]
    if len(frames) >= 2:
        copies.append({"copy": 1, "payload": b"".join(frames[1:])})
    return copies


def _containment_pairs(fps: DataFrame, key: str, contain_bp: int,
                       offset: int) -> DataFrame:
    """(cap_a, cap_b, n_shared, n_a, n_b, contain_bp, is_trim_pair) over
    DISTINCT (cap_id, key) postings: equi-join on the fingerprint key (a
    pair only from an actual shared fingerprint, never all-pairs), exact
    integer containment in bp of the smaller capture, kept at >=
    contain_bp; is_trim_pair iff cap_b = cap_a + offset — the one fold of
    video_neardup and audio_neardup."""
    counts = fps.groupBy("cap_id").agg(F.count("*").cast("long").alias("n"))
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(
            b,
            on=(F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.cap_id") < F.col("b.cap_id")),
        )
        .groupBy(
            F.col("a.cap_id").alias("cap_a"), F.col("b.cap_id").alias("cap_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    ca = counts.select(F.col("cap_id").alias("cap_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("cap_id").alias("cap_b"), F.col("n").alias("n_b"))
    return (
        shared.join(ca, "cap_a").join(cb, "cap_b")
        .withColumn(
            "contain_bp",
            F.expr("CAST((10000 * n_shared) div least(n_a, n_b) AS BIGINT)"),
        )
        .where(F.col("contain_bp") >= contain_bp)
        .select(
            "cap_a", "cap_b", "n_shared", "n_a", "n_b", "contain_bp",
            (F.col("cap_b") - F.col("cap_a") == offset).alias("is_trim_pair"),
        )
        .orderBy("cap_a", "cap_b")
    )


def video_neardup(
    videos: DataFrame, contain_bp: int = VID_CONTAIN_BP
) -> DataFrame:
    """Near-dup video pairs by frame-fingerprint containment: hash every
    frame of every capture (one Arrow stage, REAL stream parsing), join
    captures on shared DISTINCT frame hashes (postings-style — a pair is
    generated only from an actual shared fingerprint, never all-pairs),
    and keep pairs where the smaller video's containment reaches
    contain_bp.  (cap_a, cap_b, n_shared, n_a, n_b, contain_bp,
    is_trim_pair) — exact integers throughout; the trimmed repost is
    contained 100% by construction.

    Scale: fingerprinting is in-scan (64 samples per frame); the postings
    join is keyed on the 64-bit hash (a viral frame makes a hot posting —
    absorbed by the pair groupBy's partial aggregation); per-video counts
    ride a broadcast-sized dim per pair side."""
    def frame_hashes(b: bytes) -> list[dict]:
        hashes = (_ahash_p6(fb) for fb in split_ppm_stream(b))
        return [{"fhash": ah} for ah in hashes if ah is not None]

    fhashes = parse_stage(video_captures(videos), "payload", frame_hashes,
                          "cap_id long, fhash string").distinct()
    return _containment_pairs(fhashes, "fhash", contain_bp, VID_COPY_OFFSET)


# ---------------------------------------------------------------------------
# Audio near-dup: the crawl-scale audio duplicate is a RE-POST (same clip
# with the head trimmed / re-encoded), so byte hashes miss it.  Fingerprint
# every analysis window by its exact PCM energy (the audio_energy kernel —
# REAL RIFF parsing, shared with the VAD face), fold to DISTINCT
# fingerprints per capture, and join captures on shared fingerprints
# (postings-style, like video_neardup) with a containment fold.  A trim of
# whole windows (the re-post case synthesized below) leaves every surviving
# window's energy identical, so the copy is contained 100%.
# ---------------------------------------------------------------------------

AUD_COPY_OFFSET = 1_000_000  # trimmed-repost cap_id = doc_id + offset
AUD_CONTAIN_BP = 5_000       # near-dup iff shared/min(windows) >= 50%
AUD_TONE_N = 200             # samples = AUD_TONE_N + doc_id % 100 (mono)
AUD_TONE_RATE = 8000


def audio_tone_payload(doc_id: int) -> bytes:
    """Deterministic NON-periodic mono WAV for the near-dup corpus: sample
    j = (j*j*7 + doc_id*13) % 4096 - 2048.  (make_wav's byte ramp repeats
    with period exactly AE_WIN samples, collapsing every full window to one
    fingerprint — useless for discriminating captures; the quadratic term
    makes every window's energy distinct and doc-specific.)"""
    n = AUD_TONE_N + doc_id % 100
    j = np.arange(n, dtype=np.int64)
    samples = ((j * j * 7 + doc_id * 13) % 4096 - 2048).astype("<i2")
    return _riff_wav(1, AUD_TONE_RATE, 16, samples.tobytes())


def audio_captures(df: DataFrame) -> DataFrame:
    """(cap_id, payload): a tone WAV per doc_id % 3 == 1 document plus its
    head-trimmed repost (first AE_WIN samples dropped — REAL re-wrapped
    RIFF bytes, cap_id = doc_id + AUD_COPY_OFFSET).  Docs shorter than one
    window emit no copy (never happens for the tone formula's n >= 200)."""
    tones = synthesize(df.where(F.col("doc_id") % 3 == 1), audio_tone_payload)
    return _captures(tones, _tone_copies, AUD_COPY_OFFSET)


def _tone_copies(full: bytes) -> list[dict]:
    """A tone WAV and its repost (copy 1): the samples after the first
    AE_WIN re-wrapped as a fresh RIFF (a repost is a new file, not a
    spliced one) — no copy when nothing is left."""
    data_off, data_end = _wav_layout(full)[3:]
    if data_off is None:
        return []
    copies = [{"copy": 0, "payload": full}]
    if data_end - data_off > 2 * AE_WIN:
        tail = full[data_off + 2 * AE_WIN:data_end]
        copies.append({"copy": 1,
                       "payload": _riff_wav(1, AUD_TONE_RATE, 16, tail)})
    return copies


def audio_neardup(
    df: DataFrame, contain_bp: int = AUD_CONTAIN_BP
) -> DataFrame:
    """Near-dup audio pairs by window-energy fingerprint containment:
    (cap_a, cap_b, n_shared, n_a, n_b, contain_bp, is_trim_pair).

    The fingerprint stage IS audio_energy (the audited VAD kernel — RIFF
    envelope clamps included), so the detector and the energy face can
    never disagree about what a window's energy is.  Fold mirrors
    video_neardup: DISTINCT (capture, energy) postings, equi-join on the
    energy key (never all-pairs), exact integer containment in bp.

    Scale: fingerprinting is the one Arrow stage audio already pays; the
    postings join is keyed on the energy value (a viral clip makes a hot
    posting — absorbed by the pair groupBy's partial aggregation); counts
    ride broadcast-sized dims."""
    caps = audio_captures(df)
    en = audio_energy(caps.withColumnRenamed("cap_id", "doc_id"))
    fps = (
        en.select(F.col("doc_id").alias("cap_id"), "energy").distinct()
    )
    return _containment_pairs(fps, "energy", contain_bp, AUD_COPY_OFFSET)


MIME_LIE_MOD = 7  # doc_id % 7 == 0 declares the WRONG type (the server lie)
_MIME_OF_KIND = ("image/bmp", "audio/wav", "image/ppm")


def with_declared_mime(media: DataFrame) -> DataFrame:
    """Attach the Content-Type a server WOULD have declared for each
    synthetic payload: the true container type, except every
    MIME_LIE_MOD-th doc declares the next kind in the rotation — the
    deliberate lie that gives the sniff audit something to catch
    (crawl-scale reality: ~1-2% of Content-Type headers are wrong, which
    is why every ingest pipeline sniffs magic bytes instead of trusting
    the header)."""
    true_kind = F.col("doc_id") % 3
    lied_kind = (true_kind + 1) % 3
    kind = F.when(F.col("doc_id") % MIME_LIE_MOD == 0,
                  lied_kind).otherwise(true_kind)
    m = F.array(*[F.lit(x) for x in _MIME_OF_KIND])
    return media.withColumn("declared", F.get(m, kind.cast("int")))


def mime_sniff(media: DataFrame) -> DataFrame:
    """(doc_id, declared, sniffed, mismatch) — magic-byte content sniffing
    against the declared Content-Type, the first gate of binary ingest
    (a 'text/html' that is really a ZIP is how crawl pipelines end up
    feeding archives to an HTML parser).  Sniff rules are the standard
    signatures read from the ACTUAL payload bytes: 'BM' -> image/bmp,
    'RIFF' + 'WAVE' at offset 8 -> audio/wav, 'P6'/'P5' -> image/ppm,
    else application/octet-stream.

    Scale: pure JVM byte-slice expressions (hex(substring(payload, ...)))
    inside one scan projection — no Python, no decode, reads at most 12
    leading bytes per row, so the sniffer runs at full parquet scan speed
    and pushes down with column pruning (only doc_id + payload head are
    touched)."""
    h = lambda start, ln: F.hex(F.expr(f"substring(payload, {start}, {ln})"))
    sniffed = (
        F.when(h(1, 2) == "424D", F.lit("image/bmp"))
        .when((h(1, 4) == "52494646") & (h(9, 4) == "57415645"),
              F.lit("audio/wav"))
        .when(h(1, 2).isin("5036", "5035"), F.lit("image/ppm"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return (
        media.select("doc_id", "declared", sniffed.alias("sniffed"))
        .withColumn("mismatch", F.col("declared") != F.col("sniffed"))
        .orderBy("doc_id")
    )


def image_dhash(media: DataFrame) -> DataFrame:
    """Difference-hash (gradient) perceptual fingerprints over BMP
    payloads — the second classic 64-bit image hash next to aHash, and
    the one that survives edits aHash doesn't: aHash thresholds every
    cell against the GLOBAL grid mean, so one bright overlay shifts the
    mean and can flip borderline bits across the whole image; dHash bits
    are LOCAL left-vs-right comparisons (sample an 8x9 grid, bit = right
    neighbor strictly brighter), so an edit only flips bits whose two
    samples it touches.  Production image dedup runs both and unions the
    candidate pairs.

    Returns (doc_id, dhash, n_same) for decodable 24bpp BMPs, same
    contract as image_ahash; the two faces share one pixel sampler
    (_bmp_gray_sample) so they can never disagree about addressing.

    Scale: identical to aHash — in-scan Arrow hashing (72 samples per
    image regardless of resolution), one window shuffle for group size."""
    return _hash_groups(media, _dhash_of, "dhash")


# --- web-image header dimensions (PNG / JPEG / GIF), no decode -------------

IMG_DIMS_MAX_SEGMENTS = 16  # JPEG marker-walk bound (knob; see image_dims)
IMG_CORRUPT_MOD = 13        # doc_id % 13 == 0 -> garbage payload (no magic)


def make_png(width: int, height: int) -> bytes:
    """Minimal well-formed PNG: signature + IHDR (8-bit truecolor, correct
    CRC) + one literal IDAT stub + IEND.  The IDAT bytes are not a valid
    zlib stream (decode is stubbed repo-wide); every CHUNK is structurally
    valid, which is all a header parser may rely on."""
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", b"\x00" * 8) + chunk(b"IEND", b""))


def make_jpeg(width: int, height: int, com_pad: int = 0) -> bytes:
    """Minimal JPEG header: SOI, JFIF APP0, a COM segment of variable
    length (com_pad filler bytes — exercises the marker walk's
    data-dependent offsets), SOF0 for 3 components, EOI.  No entropy-coded
    scan — dimensions live entirely in SOF0."""
    return _jpeg(width, height, com_pad, b"")


def _jpeg(width: int, height: int, com_pad: int, app1: bytes) -> bytes:
    """The one JPEG segment writer: SOI, JFIF APP0, `app1` (b"" for none),
    a COM segment of com_pad filler bytes, SOF0 for 3 components, EOI."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    com = b"\xff\xfe" + struct.pack(">H", 2 + com_pad) + b"x" * com_pad
    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" \
        + struct.pack(">HH", height, width) \
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + app1 + com + sof + b"\xff\xd9"


def make_gif(width: int, height: int) -> bytes:
    """GIF89a header + logical screen descriptor (little-endian u16 dims,
    no global color table) + trailer."""
    return (b"GIF89a" + struct.pack("<HH", width, height)
            + b"\x00\x00\x00" + b"\x3b")


def synthetic_web_image_payload(doc_id: int) -> bytes:
    """doc_id -> PNG / JPEG / GIF bytes with dimensions that are simple
    arithmetic in doc_id (mirrored by the m_image_dims SQL oracle);
    doc_id % IMG_CORRUPT_MOD == 0 -> 3 garbage bytes matching no magic."""
    if doc_id % IMG_CORRUPT_MOD == 0:
        return b"\x00\x00\x00"
    w = 16 + doc_id % 117
    h = 16 + (doc_id * 7) % 93
    kind = doc_id % 3
    if kind == 0:
        return make_png(w, h)
    if kind == 1:
        return make_jpeg(w, h, com_pad=doc_id % 11)
    return make_gif(w, h)


def synthetic_web_images(df: DataFrame) -> DataFrame:
    """(doc_id, ...) -> (doc_id, payload binary) of deterministic real
    PNG/JPEG/GIF header bytes (generator plumbing, like synthetic_media)."""
    return synthesize(df, synthetic_web_image_payload)


def _u16be(pos: str) -> str:
    """SQL fragment: big-endian u16 read at 1-indexed byte `pos` (pos may
    be any SQL expression — substring accepts expression arguments)."""
    return f"CAST(conv(hex(substring(payload, {pos}, 2)), 16, 10) AS BIGINT)"


def _u8(pos: str) -> str:
    return f"CAST(conv(hex(substring(payload, {pos}, 1)), 16, 10) AS BIGINT)"


def image_dims(
    media: DataFrame, max_segments: int = IMG_DIMS_MAX_SEGMENTS
) -> DataFrame:
    """(doc_id, format, width, height, ok) — image dimensions from HEADER
    BYTES ONLY, the metadata pass a crawl pipeline runs on every image
    blob before deciding whether to decode at all (tiny tracking pixels
    and absurd-dimension bombs are filtered on width x height, and a
    thumbnail service plans storage from dims alone).  No codec, no
    Python: the entire parse is JVM column expressions over at most the
    first few hundred payload bytes, so it runs at parquet scan speed,
    prunes to (doc_id, payload), and vectorizes under whole-stage codegen
    — the cheapest possible shape at 10^12 images.

    Formats (the three magics that cover ~99% of web images; the repo's
    native BMP/PPM surface is decode_media's):
      - PNG: dims are fixed-offset big-endian u32s in IHDR (bytes 17-24;
        read as u16 at 19/23 — IHDR dims beyond 65535 are not produced by
        the synthesizer and real-web > 64k-pixel-wide PNGs are bombs a
        gate REJECTS, which ok=false does).  Requires the full 8-byte
        signature.
      - JPEG: dimensions live in the SOF0/SOF2 segment at a DATA-DEPENDENT
        offset behind a variable chain of APP/COM/DQT segments.  The walk
        is a bounded `aggregate` (higher-order fold) over
        sequence(1, max_segments): state (off, w, h, done); each step
        either stops (not 0xFF-led, or SOF found -> height at off+5,
        width at off+7) or hops off += 2 + seglen.  Linear expression
        size in max_segments — NOT the exponential blowup a naive
        unrolled when-chain hits, because the fold carries offsets as
        state instead of re-deriving them.  16 segments bounds every
        JFIF/EXIF header the synthesizer emits; production crawls raise
        the knob (real-world p99 header chains are < 24 segments).
      - GIF: little-endian u16 pair at bytes 7-10 of the logical screen
        descriptor.

    ok=false (dims null) for unknown magic or a walk that exhausts its
    budget — fail-soft columns, never an exception (the S3 scanned-doc
    doctrine)."""
    png_sig = "hex(substring(payload, 1, 8)) = '89504E470D0A1A0A'"
    jpg_sig = "hex(substring(payload, 1, 2)) = 'FFD8'"
    gif_sig = "hex(substring(payload, 1, 6)) = '474946383961'"
    fmt = F.expr(
        f"CASE WHEN {png_sig} THEN 'png' WHEN {jpg_sig} THEN 'jpeg' "
        f"WHEN {gif_sig} THEN 'gif' ELSE 'unknown' END"
    )
    jpeg_fold = f"""
        aggregate(
          sequence(1, {max_segments}),
          named_struct('off', CAST(3 AS BIGINT), 'w', CAST(NULL AS BIGINT),
                       'h', CAST(NULL AS BIGINT), 'done', false),
          (acc, i) -> CASE
            WHEN acc.done OR hex(substring(payload, acc.off, 1)) != 'FF'
              THEN named_struct('off', acc.off, 'w', acc.w, 'h', acc.h,
                                'done', true)
            WHEN hex(substring(payload, acc.off + 1, 1)) IN ('C0', 'C2')
              THEN named_struct('off', acc.off,
                                'w', {_u16be("acc.off + 7")},
                                'h', {_u16be("acc.off + 5")},
                                'done', true)
            ELSE named_struct(
                   'off', acc.off + 2 + {_u16be("acc.off + 2")},
                   'w', acc.w, 'h', acc.h, 'done', false)
          END,
          acc -> named_struct('w', acc.w, 'h', acc.h))
    """
    width = F.expr(
        f"CASE WHEN {png_sig} AND length(payload) >= 24"
        f"       THEN {_u16be('19')} "
        f"     WHEN {jpg_sig} THEN ({jpeg_fold}).w "
        f"     WHEN {gif_sig} AND length(payload) >= 10"
        f"       THEN {_u8('7')} + 256 * {_u8('8')} "
        f"     ELSE CAST(NULL AS BIGINT) END"
    )
    height = F.expr(
        f"CASE WHEN {png_sig} AND length(payload) >= 24"
        f"       THEN {_u16be('23')} "
        f"     WHEN {jpg_sig} THEN ({jpeg_fold}).h "
        f"     WHEN {gif_sig} AND length(payload) >= 10"
        f"       THEN {_u8('9')} + 256 * {_u8('10')} "
        f"     ELSE CAST(NULL AS BIGINT) END"
    )
    return (
        media.select(
            "doc_id", fmt.alias("format"),
            width.alias("width"), height.alias("height"),
        )
        .withColumn(
            "ok", F.col("width").isNotNull() & F.col("height").isNotNull()
        )
        .orderBy("doc_id")
    )


# --- pHash: DCT perceptual fingerprint (third classic image hash) ----------

PHASH_GRID = 32    # sample grid fed to the DCT (classic pHash layout)
PHASH_LOW = 8      # low-frequency block kept: 8x8 = 64-bit fingerprint
PHASH_SHIFT = 14   # fixed-point scale of the cosine table (2^14)


def _phash_table() -> list[list[int]]:
    """PHASH_LOW x PHASH_GRID DCT-II cosine table in fixed-point ints:
    C[u][x] = round(cos(pi*(2x+1)*u / (2*GRID)) * 2^SHIFT).  Rounded ONCE
    here and shared verbatim by the Spark kernel and (as an embedded
    literal) the DuckDB oracle, so the transform is exact integer
    arithmetic in both engines — no float DCT, no platform drift."""
    return [
        [round(math.cos(math.pi * (2 * x + 1) * u / (2 * PHASH_GRID))
               * (1 << PHASH_SHIFT)) for x in range(PHASH_GRID)]
        for u in range(PHASH_LOW)
    ]


PHASH_C = _phash_table()


def _phash_of(b: bytes) -> str | None:
    """64-char pHash bit string of a 24bpp BMP payload: 32x32 gray sample
    (the shared _bmp_gray_sample addressing), UNNORMALIZED integer DCT-II
    (the alpha(u) factors dropped — a fixed positive per-coefficient
    scaling, so the hash is a fixed linear functional of the image
    thresholded on its own lower median; equally a perceptual fingerprint,
    and exactly reproducible in BIGINT), keep the 8x8 low-frequency
    block, bit = coefficient > lower-median of the 64.  Bounds: |C| <=
    2^14, gray <= 255, 1024 terms -> |T| <= 7e13, safely inside int64."""
    g = _bmp_gray_sample(b, PHASH_GRID, PHASH_GRID)
    if g is None:
        return None
    G = np.array(g, dtype=np.int64).reshape(PHASH_GRID, PHASH_GRID)
    C = np.array(PHASH_C, dtype=np.int64)
    T = (C @ G @ C.T).flatten().tolist()
    med = sorted(T)[PHASH_LOW * PHASH_LOW // 2 - 1]  # lower median
    return "".join("1" if v > med else "0" for v in T)


def image_phash(media: DataFrame) -> DataFrame:
    """(doc_id, phash, n_same) — DCT perceptual hash over BMP payloads,
    the third classic fingerprint next to aHash (global mean) and dHash
    (local gradient): pHash thresholds the image's low-FREQUENCY spectrum,
    so it is the one of the three that survives brightness/contrast
    rescales and mild blur (those perturb pixel values but barely move
    the shape of the low-frequency spectrum relative to its median),
    while any high-frequency edit — noise, sharpening, small overlays —
    leaves the kept 8x8 block almost unchanged.  Production image dedup
    runs all three and unions candidate pairs.

    Scale: in-scan Arrow hashing — 1024 samples + one 8x32 x 32x32 x 32x8
    integer matmul per image regardless of resolution; one window shuffle
    for group size.  Same contract as image_ahash/image_dhash."""
    return _hash_groups(media, _phash_of, "phash")


# --- spectral peaks: integer-DFT audio fingerprint primitive ---------------

SPEC_WIN = 64     # interleaved int16 samples per analysis window
SPEC_BINS = 32    # DFT bins kept: k = 1..32 (DC dropped)
SPEC_SHIFT = 7    # fixed-point scale of the trig tables (2^7) — sized so
#                   re/im <= 64*32768*128 ≈ 2.7e8 and mag2 = re²+im² ≈
#                   1.4e17 stays inside int64 WITHOUT any post-division
#                   (no floor-div on negatives, where engines disagree)


def _spec_tables() -> tuple[list[list[int]], list[list[int]]]:
    """SPEC_BINS x SPEC_WIN cos/sin tables in 2^7 fixed point, rounded
    ONCE and shared verbatim by the Python kernel and (as embedded
    literals) the DuckDB oracle — the pHash doctrine for a transform."""
    c = [[round(math.cos(2 * math.pi * k * n / SPEC_WIN) * (1 << SPEC_SHIFT))
          for n in range(SPEC_WIN)] for k in range(1, SPEC_BINS + 1)]
    s = [[round(math.sin(2 * math.pi * k * n / SPEC_WIN) * (1 << SPEC_SHIFT))
          for n in range(SPEC_WIN)] for k in range(1, SPEC_BINS + 1)]
    return c, s


SPEC_C, SPEC_S = _spec_tables()


def audio_spectral_peaks(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, win_idx, peak_bin, peak_mag2) — the dominant frequency
    bin per analysis window, the primitive under constellation-style
    audio fingerprinting (Wang 2003: landmark = time x peak-frequency;
    matching hashes pairs of peaks): per full window of SPEC_WIN
    interleaved int16 samples, an UNNORMALIZED integer DFT (fixed-point
    trig tables, exact BIGINT re/im sums, mag² = re²+im²) and the argmax
    bin with first-max (lowest-bin) tie-break.  DC is dropped (bin 0 is
    loudness, already audio_energy's face); partial tail windows are
    skipped (a 63-sample window's peak is not comparable to a 64-sample
    one).  Same interleaved window basis as audio_energy, same RIFF
    chunk-walk envelope clamps, so the two faces can never disagree
    about which bytes are samples.

    Scale: one Arrow stage — per window a 32x64 integer matvec (two, for
    re and im), no explode, no shuffle; output rows = total_samples/64."""
    C = np.array(SPEC_C, dtype=np.int64)
    S = np.array(SPEC_S, dtype=np.int64)

    def peaks(b: bytes) -> list[dict]:
        s = _pcm16(b)
        if s is None:
            return []
        recs = []
        for w0 in range(0, (len(s) // SPEC_WIN) * SPEC_WIN, SPEC_WIN):
            x = s[w0:w0 + SPEC_WIN]
            re = C @ x
            im = S @ x
            mag2 = re * re + im * im
            k = int(np.argmax(mag2))  # first max = lowest bin
            recs.append({"win_idx": w0 // SPEC_WIN, "peak_bin": k + 1,
                         "peak_mag2": int(mag2[k])})
        return recs

    return (
        parse_stage(df, payload_col, peaks,
                    "doc_id long, win_idx int, peak_bin int, peak_mag2 long")
        .orderBy("doc_id", "win_idx")
    )


# ---------------------------------------------------------------------------
# EXIF metadata (header-only): APP1/TIFF IFD0 parse as JVM byte expressions.
# The TIFF container carries its OWN byte order ('II' little / 'MM' big —
# TIFF 6.0 spec §2), so every multi-byte read branches on the header — the
# wrinkle that makes EXIF the canonical "you must honor the container's
# endianness" format.
# ---------------------------------------------------------------------------

EXIF_MAX_ENTRIES = 8   # IFD0 entry-scan budget (camera IFD0s carry < ~20)
EXIF_TAG_MAKE = 0x010F
EXIF_TAG_ORIENTATION = 0x0112


def _u16le(pos: str) -> str:
    return f"({_u8(pos)} + 256 * {_u8(f'({pos}) + 1')})"


def _u32le(pos: str) -> str:
    return (f"({_u8(pos)} + 256 * {_u8(f'({pos}) + 1')}"
            f" + 65536 * {_u8(f'({pos}) + 2')}"
            f" + 16777216 * {_u8(f'({pos}) + 3')})")


def _u32be(pos: str) -> str:
    return f"CAST(conv(hex(substring(payload, {pos}, 4)), 16, 10) AS BIGINT)"


def make_jpeg_exif(
    width: int, height: int, orientation: int, make: str,
    byte_order: str = "II", com_pad: int = 0,
) -> bytes:
    """JPEG with an APP1 Exif segment: SOI, APP0 JFIF, APP1 (Exif\\0\\0 +
    TIFF header in `byte_order` + IFD0 with Make (ASCII, out-of-line) and
    Orientation (SHORT, inline) in ascending tag order), a COM pad
    segment, SOF0, EOI."""
    e = "<" if byte_order == "II" else ">"
    make_b = make.encode() + b"\x00"
    # TIFF: header(8) + count(2) + 2 entries(24) + next-IFD(4) = 38
    tiff = (byte_order.encode() + struct.pack(e + "H", 42)
            + struct.pack(e + "I", 8)
            + struct.pack(e + "H", 2)
            + struct.pack(e + "HHI", EXIF_TAG_MAKE, 2, len(make_b))
            + struct.pack(e + "I", 38)
            + struct.pack(e + "HHI", EXIF_TAG_ORIENTATION, 3, 1)
            + struct.pack(e + "H", orientation) + b"\x00\x00"
            + struct.pack(e + "I", 0)
            + make_b)
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + 6 + len(tiff)) \
        + b"Exif\x00\x00" + tiff
    return _jpeg(width, height, com_pad, app1)


def synthetic_exif_payload(doc_id: int) -> bytes:
    """doc_id -> JPEG bytes: %IMG_CORRUPT_MOD garbage; %3==2 a plain JPEG
    with no Exif APP1; else Exif with byte order II/MM by parity,
    orientation 1 + doc_id%8, make 'Cam' + doc_id%5 — all mirrored by the
    m_exif_meta SQL oracle."""
    if doc_id % IMG_CORRUPT_MOD == 0:
        return b"\x00\x00\x00"
    if doc_id % 3 == 2:
        return make_jpeg(16 + doc_id % 117, 16 + (doc_id * 7) % 93,
                         com_pad=doc_id % 11)
    return make_jpeg_exif(
        16 + doc_id % 117, 16 + (doc_id * 7) % 93,
        orientation=1 + doc_id % 8, make=f"Cam{doc_id % 5}",
        byte_order="II" if doc_id % 2 == 0 else "MM",
        com_pad=doc_id % 11,
    )


def synthetic_exif_images(df: DataFrame) -> DataFrame:
    return synthesize(df, synthetic_exif_payload)


def exif_meta(
    media: DataFrame, max_segments: int = IMG_DIMS_MAX_SEGMENTS,
    max_entries: int = EXIF_MAX_ENTRIES,
) -> DataFrame:
    """(doc_id, has_exif, byte_order, orientation, make) from HEADER BYTES
    ONLY — the provenance/orientation pass a crawl pipeline runs on every
    image before any decode (orientation decides whether thumbnails need
    rotating; Make/camera strings feed provenance and AI-generated-image
    heuristics; strip-EXIF-before-release is a privacy gate that needs to
    FIND the segment first).

    Pure JVM column expressions, zero Python, same doctrine as
    image_dims: the APP1 hunt reuses the bounded marker-walk `aggregate`
    fold (linear expression size), then the TIFF parse reads IFD0 honoring
    the container's OWN byte order — every multi-byte read is computed in
    both II and MM forms and selected by the header tag, because unlike
    JPEG's always-big-endian segment lengths, TIFF integers follow the
    'II'/'MM' declaration (TIFF 6.0 §2; the II/MM split is pinned
    per-engine in the oracle via the doc_id parity rule).  The IFD0 entry
    scan is a second bounded fold over min(entry count, max_entries)
    12-byte entries: Make (0x010F, ASCII, out-of-line via offset+count)
    and Orientation (0x0112, SHORT, inline left-justified).

    Fail-soft columns, never an exception: no APP1 / corrupt magic /
    truncated IFD all surface as has_exif=false with NULL fields (the
    scanned-doc doctrine)."""
    walk = f"""
        aggregate(
          sequence(1, {max_segments}),
          named_struct('off', CAST(3 AS BIGINT),
                       'tiff', CAST(NULL AS BIGINT), 'done', false),
          (acc, i) -> CASE
            WHEN acc.done OR hex(substring(payload, acc.off, 1)) != 'FF'
              THEN named_struct('off', acc.off, 'tiff', acc.tiff,
                                'done', true)
            WHEN hex(substring(payload, acc.off + 1, 1)) = 'E1'
                 AND hex(substring(payload, acc.off + 4, 6))
                     = '457869660000'
              THEN named_struct('off', acc.off, 'tiff', acc.off + 10,
                                'done', true)
            ELSE named_struct('off', acc.off + 2 + {_u16be("acc.off + 2")},
                              'tiff', acc.tiff, 'done', false)
          END,
          acc -> acc.tiff)
    """
    base = media.select(
        "doc_id", "payload",
        F.when(
            F.expr("hex(substring(payload, 1, 2))") == "FFD8",
            F.expr(walk),
        ).alias("tiff"),
    ).withColumn(
        "byte_order",
        F.when(F.col("tiff").isNotNull(),
               F.when(F.expr("hex(substring(payload, tiff, 2))") == "4949",
                      "II")
               .when(F.expr("hex(substring(payload, tiff, 2))") == "4D4D",
                     "MM")),
    )

    def _ifd_exprs(u16, u32):
        """(orientation, make) SQL fragments for one endianness: IFD0
        entry-scan fold; entry i sits at ifd + 2 + 12*(i-1)."""
        ifd = f"(tiff + {u32('tiff + 4')})"
        n = f"{u16(ifd)}"
        entry = f"({ifd} + 2 + 12 * (i - 1))"
        fold = f"""
            CASE WHEN {n} >= 1 THEN aggregate(
              sequence(1, CAST(least({n}, {max_entries}) AS INT)),
              named_struct('ori', CAST(NULL AS BIGINT),
                           'moff', CAST(NULL AS BIGINT),
                           'mlen', CAST(NULL AS BIGINT)),
              (acc, i) -> named_struct(
                'ori', CASE WHEN {u16(entry)} = {EXIF_TAG_ORIENTATION}
                            THEN {u16(f'{entry} + 8')} ELSE acc.ori END,
                'moff', CASE WHEN {u16(entry)} = {EXIF_TAG_MAKE}
                             THEN {u32(f'{entry} + 8')} ELSE acc.moff END,
                'mlen', CASE WHEN {u16(entry)} = {EXIF_TAG_MAKE}
                             THEN {u32(f'{entry} + 4')} ELSE acc.mlen END))
            END
        """
        return fold

    out = (
        base.withColumn("ifd_le", F.expr(_ifd_exprs(_u16le, _u32le)))
        .withColumn("ifd_be", F.expr(_ifd_exprs(_u16be, _u32be)))
        .withColumn(
            "ifd",
            F.when(F.col("byte_order") == "II", F.col("ifd_le"))
            .when(F.col("byte_order") == "MM", F.col("ifd_be")),
        )
    )
    make_str = F.when(
        F.col("ifd.moff").isNotNull() & (F.col("ifd.mlen") > 1),
        F.expr(
            "CAST(substring(payload, tiff + ifd.moff, "
            "CAST(ifd.mlen AS INT) - 1) AS STRING)"
        ),
    )
    return out.select(
        "doc_id",
        F.col("byte_order").isNotNull().alias("has_exif"),
        "byte_order",
        F.col("ifd.ori").alias("orientation"),
        make_str.alias("make"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal ingest dispatcher: one mixed binary column -> sniff -> typed
# extractors, the treat-media-as-opaque-bytes-with-typed-metadata shape a
# crawl pipeline runs between fetch and storage.
# ---------------------------------------------------------------------------

DISPATCH_CORRUPT_MOD = 13


def synthetic_mixed_payload(doc_id: int) -> bytes:
    """doc_id -> one of four real container families (%4: html, pdf, png,
    wav) or garbage (%DISPATCH_CORRUPT_MOD) — every structural knob
    doc_id arithmetic the dispatch oracle re-derives."""
    if doc_id % DISPATCH_CORRUPT_MOD == 0:
        return b"\x00\x01\x02"
    k = doc_id % 4
    if k == 0:
        return (f"<html><head><title>Doc {doc_id} of {doc_id % 7}</title>"
                f"</head><body><p>payload {doc_id}</p></body></html>"
                ).encode()
    if k == 1:
        return make_pdf(doc_id // 4)
    if k == 2:
        return make_png(16 + doc_id % 117, 16 + (doc_id * 7) % 93)
    return make_wav(1 + doc_id % 2, 8000 + (doc_id % 3) * 4000, 16)


def synthetic_mixed_media(df: DataFrame) -> DataFrame:
    return synthesize(df, synthetic_mixed_payload)


def ingest_dispatch(media: DataFrame) -> DataFrame:
    """Public face of _ingest_dispatch_lazy: materializes the union with
    an eager localCheckpoint and releases the sniffed-base cache before
    returning (the salsa/mmr_rerank release pattern — a bare persist()
    here has no post-action hook to unpersist and accumulates across a
    full registry sweep, the r4-advice leak).  Plan-shape assertions use
    _ingest_dispatch_lazy, since the checkpoint collapses this frame to
    a Scan."""
    out, base = _ingest_dispatch_lazy(media)
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


def _ingest_dispatch_lazy(
    media: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, kind, detail) — the multimodal ingest front door: sniff
    the container from MAGIC BYTES (never a declared type — mime_sniff's
    lesson) and route each family to its typed extractor:

    - html  -> title, via one JVM regexp on the decoded head;
    - pdf   -> page/heading counts through the FULL byte-level layout
      parse (`pdflayout.pdf_text` — xref walk, inflate, segmentation);
    - image -> header-only PNG dimensions (the image_dims u16 reads);
    - audio -> channels/rate from the RIFF fmt chunk (little-endian JVM
      byte reads at the canonical offsets);
    - anything else -> kind 'unknown', empty detail (fail-soft).

    Scale shape: the sniff is a scan projection reading <= 12 leading
    bytes; every branch filters FIRST, so the expensive Arrow stage (pdf)
    touches only pdf rows — the partition-pruning idea applied to format
    dispatch.  Branches union by name into one frame; per-family row
    counts are disjoint by construction, so the union has no dedup
    cost."""
    h = lambda start, ln: F.hex(F.expr(f"substring(payload, {start}, {ln})"))
    kind = (
        F.when(h(1, 5) == "3C68746D6C", F.lit("html"))          # '<html'
        .when(h(1, 4) == "25504446", F.lit("pdf"))              # '%PDF'
        .when(h(1, 8) == "89504E470D0A1A0A", F.lit("image"))    # PNG sig
        .when((h(1, 4) == "52494646") & (h(9, 4) == "57415645"),
              F.lit("audio"))                                   # RIFF+WAVE
        .otherwise(F.lit("unknown"))
    )
    base = media.select("doc_id", "payload", kind.alias("kind")).persist()
    html = base.where(F.col("kind") == "html").select(
        "doc_id", "kind",
        F.concat(
            F.lit("title="),
            F.regexp_extract(F.col("payload").cast("string"),
                             r"<title>([^<]*)</title>", 1),
        ).alias("detail"),
    )
    pdfd = pdf_text(base.where(F.col("kind") == "pdf")).select(
        "doc_id", F.lit("pdf").alias("kind"),
        F.concat(F.lit("pages="), "n_pages",
                 F.lit(";headings="), "n_headings").alias("detail"),
    )
    img = base.where(F.col("kind") == "image").select(
        "doc_id", "kind",
        F.concat(
            F.lit("dims="), F.expr(_u16be("19")),
            F.lit("x"), F.expr(_u16be("23")),
        ).alias("detail"),
    )
    aud = base.where(F.col("kind") == "audio").select(
        "doc_id", "kind",
        F.concat(
            F.lit("ch="), F.expr(_u16le("23")),
            F.lit(";rate="), F.expr(_u32le("25")),
        ).alias("detail"),
    )
    unk = base.where(F.col("kind") == "unknown").select(
        "doc_id", "kind", F.lit("").alias("detail")
    )
    out = (
        html.unionByName(pdfd).unionByName(img)
        .unionByName(aud).unionByName(unk)
        .orderBy("doc_id")
    )
    return out, base


def exif_display_dims(media: DataFrame) -> DataFrame:
    """(doc_id, width, height, rotated) — the dimensions a RENDERER must
    use: EXIF orientations 5-8 are the transposed ones (90/270-degree
    rotations, TIFF 6.0 orientation table), so the stored SOF dimensions
    swap; 1-4 are flips/180s that keep the aspect.  The thumbnailer bug
    this face exists to catch is real and everywhere: planning storage
    from SOF dims alone letter-boxes every portrait phone photo.

    A composition over ONE byte fleet: image_dims (SOF walk) joined with
    exif_meta (APP1/TIFF walk) on the same payloads — two header parses,
    one keyed join, no decode; no-EXIF images keep their stored dims
    (orientation defaults to 1, the spec default)."""
    dims = image_dims(media).select("doc_id", "width", "height")
    meta = exif_meta(media).select("doc_id", "orientation")
    j = dims.join(meta, "doc_id")
    transposed = F.coalesce("orientation", F.lit(1)).between(5, 8)
    return j.select(
        "doc_id",
        F.when(transposed, F.col("height")).otherwise(F.col("width"))
        .cast("long").alias("width"),
        F.when(transposed, F.col("width")).otherwise(F.col("height"))
        .cast("long").alias("height"),
        transposed.alias("rotated"),
    ).orderBy("doc_id")
