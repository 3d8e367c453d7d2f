"""WebP container parser + decode router (pure stdlib): full pixel decode
for BOTH variants (``webp_decode`` — lossless VP8L via ``vp8lmini``,
lossy key-frame VP8 via ``vp8mini``, with ALPH alpha-plane merge) and a
lossless fixture encoder (``encode_webp_lossless``).

Covers the three container layouts of the WebP spec (RFC 9649):
- ``VP8 `` (lossy): key-frame start code ``9D 01 2A``, then 14-bit
  width/height (little-endian u16, low 14 bits);
- ``VP8L`` (lossless): signature ``0x2F``, then 14-bit width-1 /
  height-1 packed little-endian;
- ``VP8X`` (extended): 24-bit canvas width-1 / height-1.

Validation: ``tests/test_vp8l_codec.py`` and ``tests/test_vp8_codec.py``
decode CPython's real ``python.webp`` files and fixture-encoded lossless
files; malformed/truncated containers raise ``WebpError``.
"""

from __future__ import annotations

import struct


class WebpError(ValueError):
    """Malformed or non-WebP payload."""


def looks_like_webp(data: bytes) -> bool:
    return len(data) >= 16 and data[:4] == b"RIFF" and data[8:12] == b"WEBP"


def _chunks(data: bytes):
    pos, n = 12, len(data)
    while pos + 8 <= n:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        yield fourcc, data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)


def webp_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """WebP bytes → (width, height, 4, RGBA pixels) — REAL decode for
    BOTH variants: lossless (VP8L, ``vp8lmini``) and lossy key-frame
    VP8 (``vp8mini`` — boolean arithmetic coder, intra prediction,
    loop filter), including VP8X-wrapped files.  A lossy file's ALPH
    alpha plane (itself VP8L-coded) is merged in; opaque otherwise."""
    if not looks_like_webp(data):
        raise WebpError("not a WebP file (missing RIFF/WEBP)")
    from . import vp8lmini, vp8mini
    alph = None
    vp8_body = None
    for fourcc, body in _chunks(data):
        if fourcc == b"VP8L":
            return vp8lmini.vp8l_decode(body)
        if fourcc == b"ALPH":
            alph = body
        elif fourcc == b"VP8 ":
            vp8_body = body
    if vp8_body is None:
        raise WebpError("no VP8/VP8L image chunk")
    try:
        w, h, _ch, rgb = vp8mini.vp8_decode(vp8_body)
    except vp8mini.Vp8Error as exc:
        raise WebpError(f"bad VP8 bitstream: {exc}") from exc
    alpha = (vp8lmini.alph_decode(alph, w, h) if alph is not None
             else b"\xff" * (w * h))
    rgba = bytearray(w * h * 4)
    rgba[0::4] = rgb[0::3]
    rgba[1::4] = rgb[1::3]
    rgba[2::4] = rgb[2::3]
    rgba[3::4] = alpha
    return w, h, 4, bytes(rgba)


def encode_webp_lossless(rgba: bytes, width: int, height: int,
                         **vp8l_kwargs) -> bytes:
    """RGBA pixels → a real lossless WebP file (VP8L fixture encoder
    wrapped in the RIFF container)."""
    from . import vp8lmini
    body = vp8lmini.vp8l_encode(rgba, width, height, **vp8l_kwargs)
    pad = b"\x00" if len(body) % 2 else b""     # RIFF pads, size excludes it
    payload = b"WEBP" + b"VP8L" + struct.pack("<I", len(body)) + body + pad
    return b"RIFF" + struct.pack("<I", len(payload)) + payload
