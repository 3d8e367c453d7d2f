"""Minimal pure-stdlib PNG codec — the hermetic half of the multimodal
codec slot.

The reference's image path is PIL: LANCZOS downscale to max edge 1568 and
PNG re-encode before the OCR call (``clients/claude.py:22-38``,
``processors/ocr.py:27-57``).  This container has no imaging libraries,
but PNG itself needs only ``zlib`` (stdlib) — so the engine really
decodes PNG payloads (``media_phash``) and re-wraps raw PDF image
samples as PNG (``pdfmini``).

Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA), non-interlaced; plus color type 3 (indexed/palette) at bit
depths 1/2/4/8 with optional tRNS alpha — palette PNGs are the single
most common web-icon encoding, and expansion yields RGB (no tRNS) or
RGBA rows.  Encoder emits any per-row filter type (0 default; 1-4 exist
so tests exercise every unfilter branch).
"""

from __future__ import annotations

import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


class PngError(ValueError):
    pass


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def encode_png(pixels: bytes, width: int, height: int, channels: int,
               filter_type: int = 0) -> bytes:
    """8-bit pixels (row-major, ``channels`` interleaved) → PNG bytes."""
    if channels not in _COLOR_TYPE:
        raise PngError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise PngError("pixel buffer size mismatch")
    bpp = channels
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += row
        elif filter_type == 1:   # Sub
            raw += bytes((row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                         for i in range(stride))
        elif filter_type == 2:   # Up
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif filter_type == 3:   # Average
            raw += bytes((row[i] - (((row[i - bpp] if i >= bpp else 0)
                                     + prev[i]) >> 1)) & 0xFF
                         for i in range(stride))
        elif filter_type == 4:   # Paeth
            raw += bytes((row[i] - _paeth(row[i - bpp] if i >= bpp else 0,
                                          prev[i],
                                          prev[i - bpp] if i >= bpp else 0))
                         & 0xFF for i in range(stride))
        else:
            raise PngError(f"unsupported filter type {filter_type}")
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8,
                       _COLOR_TYPE[channels], 0, 0, 0)
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG bytes → (width, height, channels, 8-bit interleaved pixels)."""
    if data[:8] != PNG_SIG:
        raise PngError("not a PNG (bad signature)")
    pos, width = 8, None
    height = channels = depth = ctype = 0
    idat = bytearray()
    plte: bytes | None = None
    trns: bytes | None = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length          # len + tag + payload + crc
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", payload)
            if ctype == 3:
                if depth not in (1, 2, 4, 8):
                    raise PngError(f"bad palette bit depth {depth}")
            elif depth != 8:
                raise PngError(f"unsupported bit depth {depth}")
            if ctype != 3 and ctype not in _CHANNELS:
                raise PngError(f"unsupported color type {ctype}")
            if interlace:
                raise PngError("interlaced PNG unsupported")
            channels = 1 if ctype == 3 else _CHANNELS[ctype]
        elif tag == b"PLTE":
            plte = payload
        elif tag == b"tRNS":
            trns = payload
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise PngError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    # stride in BYTES of the filtered scanline (sub-byte packing for
    # indexed depths < 8); filters always operate byte-wise with bpp ≥ 1
    stride = ((width * depth * channels + 7) // 8 if ctype == 3
              else width * channels)
    if len(raw) != (stride + 1) * height:
        raise PngError("decompressed size mismatch")
    out = bytearray()
    prev = bytearray(stride)
    bpp = max(1, (depth * channels) // 8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if ftype == 1:
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise PngError(f"unknown row filter {ftype}")
        out += row
        prev = row
    if ctype != 3:
        return width, height, channels, bytes(out)
    if plte is None or len(plte) % 3:
        raise PngError("palette PNG without a valid PLTE chunk")
    n_pal = len(plte) // 3
    alpha = (bytes(trns) + b"\xff" * (n_pal - len(trns))
             if trns is not None else None)
    out_ch = 3 if alpha is None else 4
    mask = (1 << depth) - 1
    per_byte = 8 // depth
    px = bytearray()
    for y in range(height):
        row = out[y * stride:(y + 1) * stride]
        for x in range(width):
            b = row[x // per_byte]
            shift = 8 - depth * (x % per_byte + 1)   # MSB-first packing
            idx = (b >> shift) & mask
            if idx >= n_pal:
                raise PngError(f"palette index {idx} out of range {n_pal}")
            px += plte[idx * 3:idx * 3 + 3]
            if alpha is not None:
                px.append(alpha[idx])
    return width, height, out_ch, bytes(px)
