"""Dependency-free media encoders for the synthetic media table.

The container ships no PIL/ffmpeg, so these write the two formats that
need nothing beyond the standard library:

- **PNG** (8-bit grayscale, non-interlaced): filter 0 scanlines, one zlib
  IDAT, CRC-checked chunks; any viewer opens the output.
- **WAV** (PCM16 mono): RIFF/fmt/data chunks.

Video is an MJPEG-style container of these PNGs (see multimodal.py).
Pure functions over ndarrays, with no Spark imports.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """(h, w) uint8 ndarray → 8-bit grayscale PNG bytes (color type 0,
    filter 0, one IDAT)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_png expects a 2-D uint8 array")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """int16 mono samples → WAV (RIFF PCM16) bytes."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("encode_wav expects a 1-D int16 array")
    payload = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", len(body)) + body
