"""Real (library-free) media codecs for the multimodal pipeline.

PIL/ffmpeg/torchaudio are not dependencies of this package, so q58's
decode step in ``llm/multimodal.py`` is a deterministic stand-in. Two
formats, however, need no codec library at all — RIFF/WAV PCM and uncompressed 24-bit BMP are plain
struct-and-array layouts — so this module implements REAL encoders and
decoders for them with stdlib ``struct`` + numpy. The decoders are
honest parsers (magic validation, chunk walking, padding arithmetic),
not fixtures that happen to match the writer: feeding them any
spec-conformant file produced elsewhere works.

Payload synthesis is integer-deterministic (no trig, no RNG) so a SQL
oracle can replay the decoded features exactly — which upgrades the
multimodal family from rows-only to value-exact evidence.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# WAV (RIFF, PCM16 mono)
# ---------------------------------------------------------------------------

WAV_RATE = 8000


def wav_samples(media_id: int, n: int) -> np.ndarray:
    """Deterministic int16 waveform: ((id*7 + k*13) % 2003) - 1001."""
    k = np.arange(n, dtype=np.int64)
    return (((media_id * 7 + k * 13) % 2003) - 1001).astype(np.int16)


def wav_n_samples(media_id: int) -> int:
    return 160 + (media_id % 5) * 80


def encode_wav(media_id: int) -> bytes:
    """Canonical 44-byte-header RIFF/WAVE PCM16 mono file."""
    s = wav_samples(media_id, wav_n_samples(media_id))
    data = s.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,  # fmt chunk size
        1,  # PCM
        1,  # mono
        WAV_RATE,
        WAV_RATE * 2,  # byte rate
        2,  # block align
        16,  # bits/sample
        b"data",
        len(data),
    )
    return hdr + data


def decode_wav_samples(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Parse a RIFF/WAVE PCM16 file (chunk walk, not fixed offsets) into
    (sample_rate, int64 sample array) — the sample-level entry point
    q316's frame features consume; decode_wav's summary derives from
    it."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16:
        raise ValueError("only PCM16 mono supported")
    return rate, np.frombuffer(data, dtype="<i2").astype(np.int64)


def decode_wav(payload: bytes) -> dict:
    rate, s = decode_wav_samples(payload)
    return {
        "sample_rate": rate,
        "n_samples": int(s.size),
        "peak": int(np.abs(s).max()) if s.size else 0,
        "rms": float(np.sqrt(np.sum(s * s) / s.size)) if s.size else 0.0,
    }


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER, 24bpp bottom-up, uncompressed)
# ---------------------------------------------------------------------------


def bmp_dims(media_id: int) -> tuple[int, int]:
    return 5 + media_id % 4, 3 + media_id % 3  # (width, height)


def bmp_channel(media_id: int, x: int, y: int, c: int) -> int:
    """Deterministic pixel channels; c: 0=B, 1=G, 2=R (BMP order)."""
    return (media_id * 11 + x * 3 + y * 7 + c * 31) % 256


def encode_bmp(media_id: int) -> bytes:
    w, h = bmp_dims(media_id)
    row_stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    img_size = row_stride * h
    off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(w):
            row += bytes(bmp_channel(media_id, x, y, c) for c in (0, 1, 2))
        row += b"\x00" * (row_stride - 3 * w)
        rows.append(bytes(row))
    return hdr + info + b"".join(rows)


def decode_bmp_pixels(payload: bytes) -> "np.ndarray":
    """Parse a 24bpp uncompressed BMP into a top-down (h, w, 3) uint8
    array in BMP channel order (B, G, R). The pixel-level entry point
    q314's perceptual hash consumes; decode_bmp's features derive from
    it."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP file")
    off = struct.unpack_from("<I", payload, 10)[0]
    hsize, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hsize < 40 or bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24bpp BITMAPINFOHEADER supported")
    top_down = h < 0
    h = abs(h)
    row_stride = (w * 3 + 3) & ~3
    px = np.frombuffer(payload, dtype=np.uint8, offset=off, count=row_stride * h)
    px = px.reshape(h, row_stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return px


def decode_bmp(payload: bytes) -> dict:
    px = decode_bmp_pixels(payload)
    h, w = px.shape[0], px.shape[1]
    px64 = px.astype(np.int64)
    n = w * h
    return {
        "width": w,
        "height": h,
        "mean_b": float(px64[:, :, 0].sum() / n),
        "mean_g": float(px64[:, :, 1].sum() / n),
        "mean_r": float(px64[:, :, 2].sum() / n),
    }


# ---------------------------------------------------------------------------
# "Video": a minimal length-prefixed frame container holding real BMP
# frames. Real video codecs (H.264 etc.) genuinely need libraries the
# container lacks; a frame container + still-image codec is the
# library-free equivalent that exercises the SAME pipeline shape —
# demux, frame sampling, per-frame decode.
# ---------------------------------------------------------------------------

VID_MAGIC = b"VID0"


def vid_n_frames(media_id: int) -> int:
    return 4 + media_id % 5


def encode_vid(media_id: int) -> bytes:
    """Container: magic, u32 frame count, then (u32 length, BMP) frames.
    Frame f's image key is media_id * 1000 + f."""
    frames = [
        encode_bmp(media_id * 1000 + f) for f in range(vid_n_frames(media_id))
    ]
    out = [VID_MAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        out.append(struct.pack("<I", len(fr)))
        out.append(fr)
    return b"".join(out)


def demux_vid(payload: bytes) -> list:
    """Parse the container; returns the list of frame payloads.

    Bounds-checked end to end: a truncated/corrupt container raises a
    container-level ValueError here rather than surfacing later as an
    unrelated struct/reshape error inside decode_bmp (ADVICE r3).
    """
    if payload[:4] != VID_MAGIC:
        raise ValueError("not a VID0 container")
    if len(payload) < 8:
        raise ValueError("truncated header")
    (n,) = struct.unpack_from("<I", payload, 4)
    pos, frames = 8, []
    for _ in range(n):
        if pos + 4 > len(payload):
            raise ValueError("truncated frame length prefix")
        (ln,) = struct.unpack_from("<I", payload, pos)
        if pos + 4 + ln > len(payload):
            raise ValueError("truncated frame")
        frames.append(payload[pos + 4 : pos + 4 + ln])
        pos += 4 + ln
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")
    return frames
