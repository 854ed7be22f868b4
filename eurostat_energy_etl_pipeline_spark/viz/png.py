"""Minimal, dependency-free PNG codec (stdlib ``zlib`` + ``struct`` only).

The reference's chart sink (/root/reference/viz/viz_utils.py:37-81) writes
PNG files via matplotlib/seaborn; neither library exists in this build
environment, so the K4 sink encodes its rasters with this codec instead.
Scope is deliberately tiny: 8-bit RGB, no interlace, filter type 0 on every
scanline — enough to emit valid, deterministic PNGs and to decode them back
in tests for pixel-exact verification.

PNG container format per the public W3C PNG specification (ISO/IEC 15948).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as a deterministic RGB8 PNG."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) RGB array, got shape {rgb.shape}")
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    h, w = rgb.shape[:2]
    # Filter byte 0 (None) before each scanline: trivial to decode, and
    # zlib at a fixed level keeps the byte stream reproducible run-to-run.
    # Level 6 (zlib's default): a chart raster compresses ~5x faster than
    # at level 9 for a ~1.5x larger file.
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = rgb.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, colour type 2 (RGB)
    idat = zlib.compress(raw.tobytes(), level=6)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG produced by :func:`encode_png` back to (H, W, 3) uint8.

    Test-support decoder: accepts only the subset this module emits
    (RGB8, filter 0, single IDAT stream, no interlace).
    """
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, w = 8, None
    h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        crc_expect = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc_expect:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(">IIBBBBB", payload)
            if (depth, ctype, comp, filt, ilace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG variant for this decoder")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or h is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    if (raw[:, 0] != 0).any():
        raise ValueError("unsupported scanline filter for this decoder")
    return raw[:, 1:].reshape(h, w, 3).copy()
