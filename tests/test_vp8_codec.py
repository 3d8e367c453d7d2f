"""Lossy VP8 (WebP) decoder parity tests.

Ground truth is the SYSTEM libwebp (the reference VP8 decoder) driven
via ctypes — both as decoder (``WebPDecodeYUV``: byte-exact plane
comparison) and as encoder (``WebPEncodeRGB``: genuine VP8 bitstreams
across sizes / qualities / content, covering segmentation, both filter
types, all intra-mode families and the cat1..6 token codes).  This is
the same real-codec ground-truth strategy the JPEG codec uses with JVM
ImageIO.  Skips loudly if the shared library is absent.

The real-file gate (CPython's ``python.webp``) plus the RGB PSNR gate
run the full container path: VP8 pixels + VP8L-coded ALPH alpha merge.
"""

import hashlib
from pathlib import Path

import pytest

import libwebp_ref
from databricks_pdf_ocr_spark.functions import vp8mini, webpmini

DATA = Path(__file__).parent / "data"

LIB = libwebp_ref.load_libwebp()

needs_libwebp = pytest.mark.skipif(
    LIB is None,
    reason="system libwebp unavailable — VP8 parity ground truth "
           "requires the reference decoder (present in this container)")


def _vp8_body(data: bytes) -> bytes:
    for fourcc, body in webpmini._chunks(data):
        if fourcc == b"VP8 ":
            return body
    raise AssertionError("no VP8 chunk")


def _pattern(name: str, w: int, h: int) -> bytes:
    px = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            o = (y * w + x) * 3
            if name == "flat":
                r = g = b = 128
            elif name == "hgrad":
                r = g = b = (x * 255) // max(1, w - 1)
            elif name == "diag":
                r, g, b = (x * 7) % 256, (y * 5) % 256, ((x + y) * 3) % 256
            elif name == "checker":
                r = g = b = 255 if ((x // 4) + (y // 4)) % 2 else 0
            elif name == "noise":
                d = hashlib.sha256(f"{x},{y}".encode()).digest()
                r, g, b = d[0], d[1], d[2]
            elif name == "edges":
                r = g = b = 255 if x == w // 2 or y == h // 3 else 30
            else:
                raise ValueError(name)
            px[o], px[o + 1], px[o + 2] = r, g, b
    return bytes(px)


@needs_libwebp
def test_real_file_yuv_byte_exact():
    """CPython's python.webp (a real libwebp-encoded lossy file with
    segmentation and a level-12 normal loop filter) decodes to planes
    byte-identical to the reference decoder's."""
    data = (DATA / "python.webp").read_bytes()
    w, h, y, u, v = vp8mini.vp8_decode_yuv(_vp8_body(data))
    rw, rh, ry, ru, rv = libwebp_ref.decode_yuv(LIB, data)
    assert (w, h) == (rw, rh) == (16, 16)
    assert y == ry and u == ru and v == rv


@needs_libwebp
@pytest.mark.parametrize("name", ["flat", "hgrad", "diag", "checker",
                                  "noise", "edges"])
@pytest.mark.parametrize("dims", [(16, 16), (33, 17), (48, 32), (15, 9)])
def test_fixture_yuv_byte_exact(name, dims):
    """libwebp-encoded fixtures decode byte-exactly at every quality
    tier: q10 (coarse quant, strong loop filter), q75 (defaults), q95
    (fine quant, big coefficients → cat3..6 tokens, multi-segment
    headers)."""
    w, h = dims
    rgb = _pattern(name, w, h)
    for q in (10, 75, 95):
        data = libwebp_ref.encode_rgb(LIB, rgb, w, h, q)
        W, H, Y, U, V = vp8mini.vp8_decode_yuv(_vp8_body(data))
        rw, rh, ry, ru, rv = libwebp_ref.decode_yuv(LIB, data)
        assert (W, H) == (rw, rh)
        assert Y == ry, f"{name} {w}x{h} q{q}: Y plane mismatch"
        assert U == ru and V == rv, f"{name} {w}x{h} q{q}: chroma mismatch"


@needs_libwebp
def test_multi_mb_prediction_edges():
    """A frame wider/taller than one MB row exercises the above-right
    quirk (right-column subblocks), the 127/129 borders, and cross-MB
    loop filtering — byte-exact."""
    w, h = 80, 64
    for name in ("edges", "noise"):
        rgb = _pattern(name, w, h)
        for q in (50, 95):
            data = libwebp_ref.encode_rgb(LIB, rgb, w, h, q)
            W, H, Y, U, V = vp8mini.vp8_decode_yuv(_vp8_body(data))
            rw, rh, ry, ru, rv = libwebp_ref.decode_yuv(LIB, data)
            assert (W, H, Y, U, V) == (rw, rh, ry, ru, rv)


@needs_libwebp
def test_full_container_rgba_byte_exact():
    """The full webp_decode path (VP8 pixels + fancy 9-3-3-1 chroma
    upsampling + BT.601 conversion + VP8L-coded ALPH alpha merge) is
    byte-identical to ``WebPDecodeRGBA`` on the real file and on
    libwebp-encoded fixtures, including odd dimensions."""
    data = (DATA / "python.webp").read_bytes()
    w, h, ch, rgba = webpmini.webp_decode(data)
    rw, rh, ref_rgba = libwebp_ref.decode_rgba(LIB, data)
    assert (w, h, ch) == (rw, rh, 4)
    assert rgba == ref_rgba
    for dims in ((33, 17), (16, 16), (15, 9)):
        W, H = dims
        enc = libwebp_ref.encode_rgb(LIB, _pattern("noise", W, H), W, H, 75)
        _, _, _, mine = webpmini.webp_decode(enc)
        _, _, ref_px = libwebp_ref.decode_rgba(LIB, enc)
        assert mine == ref_px, f"RGBA mismatch at {dims}"


def test_real_file_alpha_vs_png():
    """Alpha plane (VP8L-coded ALPH) stays byte-exact vs python.png's
    alpha channel — independent of libwebp."""
    from databricks_pdf_ocr_spark.functions import pngmini

    data = (DATA / "python.webp").read_bytes()
    w, h, ch, rgba = webpmini.webp_decode(data)
    pw, ph, pch, ppx = pngmini.decode_png((DATA / "python.png").read_bytes())
    assert (w, h, ch) == (pw, ph, pch) == (16, 16, 4)
    assert rgba[3::4] == ppx[3::4]


def test_malformed_streams_raise_loudly():
    with pytest.raises(vp8mini.Vp8Error):
        vp8mini.vp8_decode_yuv(b"")
    with pytest.raises(vp8mini.Vp8Error):
        vp8mini.vp8_decode_yuv(b"\x00" * 10)          # bad start code
    data = (DATA / "python.webp").read_bytes()
    body = bytearray(_vp8_body(data))
    tag = body[0] | (body[1] << 8) | (body[2] << 16)
    tag |= 1                                           # interframe bit
    body[0], body[1], body[2] = tag & 0xFF, (tag >> 8) & 0xFF, tag >> 16
    with pytest.raises(vp8mini.Vp8Error, match="key frame"):
        vp8mini.vp8_decode_yuv(bytes(body))


def test_truncated_stream_is_total():
    """Truncation after the headers must not hang or crash — the bool
    decoder zero-extends (the spec's permitted overread) and the frame
    completes deterministically."""
    data = (DATA / "python.webp").read_bytes()
    body = _vp8_body(data)
    for cut in (12, 20, len(body) // 2):
        try:
            w, h, y, u, v = vp8mini.vp8_decode_yuv(body[:cut])
            assert (w, h) == (16, 16) and len(y) == 256
        except vp8mini.Vp8Error:
            pass                                       # loud is also fine


def test_decode_media_routes_lossy_webp(spark):
    """Operator wiring: a real lossy WebP payload flows through the
    ``media_phash`` mapInPandas stage and is hashed from the same
    pixels a direct container decode gives."""
    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators import multimodal

    data = (DATA / "python.webp").read_bytes()
    df = spark.createDataFrame([("python.webp", data)],
                               "name string, content binary")
    row = multimodal.media_phash(df).collect()[0]
    assert row["format"] == "webp" and row["hash_ok"]
    w, h, ch, pix = webpmini.webp_decode(data)
    assert (w, h) == (16, 16)
    assert row["phash"] == imghash.dhash64(pix, w, h, ch)
