"""VP8L (lossless WebP) codec: real-encoder ground truth + round-trips.

Ground truth: ``tests/data/python.webp`` / ``python.png`` are the CPython
test-suite's 16x16 logo (Lib/test/imghdrdata, PSF license) — the SAME
image encoded by real tools.  The webp is lossy VP8 + a VP8L-compressed
ALPH alpha plane (WebP alpha is lossless), so decoding ALPH and comparing
byte-exactly against the PNG's alpha channel validates the whole VP8L
entropy layer (prefix codes, LZ77, stream syntax) against a real libwebp
bitstream — the JPEG codec's ImageIO-parity strategy, without libwebp in
the container.
"""

import random
import struct
import zlib
from pathlib import Path

import pytest

from databricks_pdf_ocr_spark.functions import pngmini, vp8lmini, webpmini

DATA = Path(__file__).parent / "data"


def _rand_rgba(w, h, ncolors=None, seed=7):
    rng = random.Random(f"{seed}:{w}:{h}:{ncolors}")
    if ncolors:
        pal = [bytes(rng.randrange(256) for _ in range(4))
               for _ in range(ncolors)]
        return b"".join(pal[rng.randrange(ncolors)] for _ in range(w * h))
    return bytes(rng.randrange(256) for _ in range(w * h * 4))


# ---------------------------------------------------------------------------
# real-file ground truth
# ---------------------------------------------------------------------------

def test_real_alph_stream_matches_png_alpha_byte_exact():
    webp = (DATA / "python.webp").read_bytes()
    png = (DATA / "python.png").read_bytes()
    w, h, ch, px = pngmini.decode_png(png)
    assert (w, h, ch) == (16, 16, 4)
    plane = webpmini.webp_decode(webp)[3][3::4]
    assert plane == bytes(px[3::4])
    # a real alpha plane, not a constant fill
    assert len(set(plane)) > 20


def test_real_lossy_webp_decodes_for_real_now():
    """Superseded loud-boundary check: lossy VP8 decodes for real since
    vp8mini landed (full parity suite in test_vp8_codec.py)."""
    webp = (DATA / "python.webp").read_bytes()
    w, h, ch, rgba = webpmini.webp_decode(webp)
    assert (w, h, ch) == (16, 16, 4) and len(rgba) == 1024


def test_palette_png_decode_known_pixels():
    """Hand-built 2-bit indexed PNG with tRNS → exact RGBA expansion."""
    pal = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff" + b"\x10\x20\x30"
    trns = b"\x80\xff"                       # alpha for idx 0, 1; rest 255
    # 5x2, depth 2: indices row0 = 0,1,2,3,0  row1 = 3,3,3,3,1
    row0 = bytes([0b00011011, 0b00000000])
    row1 = bytes([0b11111111, 0b01000000])
    raw = b"\x00" + row0 + b"\x00" + row1
    ihdr = struct.pack(">IIBBBBB", 5, 2, 2, 3, 0, 0, 0)
    png = (pngmini.PNG_SIG + pngmini._chunk(b"IHDR", ihdr)
           + pngmini._chunk(b"PLTE", pal) + pngmini._chunk(b"tRNS", trns)
           + pngmini._chunk(b"IDAT", zlib.compress(raw))
           + pngmini._chunk(b"IEND", b""))
    w, h, ch, px = pngmini.decode_png(png)
    assert (w, h, ch) == (5, 2, 4)
    def rgba(i):
        return (pal[i * 3], pal[i * 3 + 1], pal[i * 3 + 2],
                trns[i] if i < len(trns) else 255)
    expect = b"".join(bytes(rgba(i)) for i in (0, 1, 2, 3, 0, 3, 3, 3, 3, 1))
    assert px == expect


# ---------------------------------------------------------------------------
# encoder/decoder round-trips per feature
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mode", list(range(14)))
def test_roundtrip_every_predictor_mode(mode):
    img = _rand_rgba(13, 9)
    body = vp8lmini.vp8l_encode(img, 13, 9, transforms=(("predictor", mode),))
    assert vp8lmini.vp8l_decode(body) == (13, 9, 4, img)


@pytest.mark.parametrize("kw", [
    dict(),
    dict(transforms=(("subtract_green",),)),
    dict(transforms=(("color", (5, 250, 17)),)),
    dict(transforms=(("subtract_green",), ("predictor", 11))),
    dict(cache_bits=4),
    dict(lz77=True),
    dict(lz77=True, plain_distances=False),     # 2D distance map path
    dict(lz77=True, cache_bits=3),
])
def test_roundtrip_coding_modes(kw):
    img = _rand_rgba(11, 7, ncolors=3)
    body = vp8lmini.vp8l_encode(img, 11, 7, **kw)
    assert vp8lmini.vp8l_decode(body) == (11, 7, 4, img)


@pytest.mark.parametrize("ncolors", [2, 4, 16, 17, 200])
def test_roundtrip_palette_sizes(ncolors):
    """Color-indexing transform incl. sub-byte bundling (≤16 colors)."""
    img = _rand_rgba(19, 5, ncolors=ncolors)
    body = vp8lmini.vp8l_encode(img, 19, 5, transforms=(("palette",),))
    assert vp8lmini.vp8l_decode(body) == (19, 5, 4, img)


@pytest.mark.parametrize("filt", [0, 1, 2, 3])
def test_alpha_roundtrip_every_filter(filt):
    plane = _rand_rgba(11, 7)[: 11 * 7]
    body = vp8lmini.alph_encode(plane, 11, 7, filt=filt)
    assert vp8lmini.alph_decode(body, 11, 7) == plane


def test_alpha_raw_method():
    plane = bytes(range(16)) * 4
    assert vp8lmini.alph_decode(b"\x00" + plane, 8, 8) == plane


def test_distance_map_spec_prefix():
    """The generated 2D distance table matches the spec's first rows
    (cross-checked against libwebp's kCodeToPlane packing)."""
    assert len(vp8lmini.DIST_MAP) == 120
    assert vp8lmini.DIST_MAP[:12] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
        (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2)]
    assert vp8lmini.DIST_MAP[34:40] == [
        (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0)]
    # window bounds: dx in [-7, 8], dy >= 0, same-row refs point left
    assert all(-7 <= dx <= 8 and dy >= 0 and (dy > 0 or dx >= 1)
               for dx, dy in vp8lmini.DIST_MAP)


def test_error_contract():
    with pytest.raises(vp8lmini.Vp8lError, match="signature"):
        vp8lmini.vp8l_decode(b"\x00\x00\x00\x00\x00")
    with pytest.raises(vp8lmini.Vp8lError, match="truncated"):
        vp8lmini.vp8l_decode(bytes([0x2F, 0x00, 0x00]))
    good = vp8lmini.vp8l_encode(_rand_rgba(4, 4), 4, 4)
    with pytest.raises(vp8lmini.Vp8lError):
        vp8lmini.vp8l_decode(good[:-2])          # truncated mid-stream


def test_container_roundtrip_and_meta_agree():
    img = _rand_rgba(23, 6, ncolors=5)
    webp = webpmini.encode_webp_lossless(img, 23, 6, lz77=True, cache_bits=3)
    assert webpmini.looks_like_webp(webp)
    assert webpmini.webp_decode(webp) == (23, 6, 4, img)


def test_decode_media_lossless_webp_real_pixels(spark):
    """The live lossless-WebP decode route (``media_phash``): a VP8L
    payload is hashed from its real pixels; a truncated one becomes an
    error row."""
    import hashlib

    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators import multimodal

    pix = _rand_rgba(9, 4)
    good = webpmini.encode_webp_lossless(pix, 9, 4)
    corrupt = good[:len(good) // 2]
    assert webpmini.looks_like_webp(corrupt)
    df = spark.createDataFrame([(good,), (corrupt,)], "content binary")
    rows = {r["media_id"]: r for r in multimodal.media_phash(df).collect()}
    g = rows[hashlib.sha256(good).hexdigest()]
    assert (g["format"], g["hash_ok"]) == ("webp", True)
    assert g["phash"] == imghash.dhash64(pix, 9, 4, 4)
    c = rows[hashlib.sha256(corrupt).hexdigest()]
    assert c["hash_ok"] is False and c["error_message"]
