"""GIF codec: real-file ground truth, LZW + container round-trips,
disposal compositing.

Ground truth: ``tests/data/python.gif`` / ``python.ppm`` / ``python.png``
are the CPython test-suite's 16x16 logo (Lib/test/imghdrdata, PSF
license) — the SAME image written by real, independent tools.  The PPM
is uncompressed RGB, so the GIF decode must reproduce it exactly up to
the GIF writer's 256-color palette quantization; the transparency
pattern must match the PNG's alpha channel exactly (binary in GIF).
"""

import random
import re
import struct
from pathlib import Path

import pytest

from databricks_pdf_ocr_spark.functions import gifmini, pngmini

DATA = Path(__file__).parent / "data"


def _read_ppm(path: Path) -> tuple[int, int, bytes]:
    raw = path.read_bytes()
    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", raw)
    w, h, maxv = map(int, m.groups())
    assert maxv == 255
    return w, h, raw[m.end():]


def _rand_rgba(w, h, ncolors, seed=3, alpha_every=0):
    rng = random.Random(f"gif:{seed}:{w}:{h}:{ncolors}")
    pal = [bytes((rng.randrange(256), rng.randrange(256),
                  rng.randrange(256), 255)) for _ in range(ncolors)]
    px = bytearray()
    for i in range(w * h):
        if alpha_every and i % alpha_every == 0:
            px += b"\x00\x00\x00\x00"          # transparent pixel
        else:
            px += pal[rng.randrange(ncolors)]
    return bytes(px)


# ---------------------------------------------------------------------------
# real-file ground truth
# ---------------------------------------------------------------------------

def test_real_gif_matches_ppm_and_png_alpha():
    gif = (DATA / "python.gif").read_bytes()
    w, h, ch, rgba = gifmini.decode_gif(gif)
    assert (w, h, ch) == (16, 16, 4)
    pw, ph, ppm = _read_ppm(DATA / "python.ppm")
    assert (pw, ph) == (w, h)
    _w, _h, _c, png = pngmini.decode_png((DATA / "python.png").read_bytes())
    exact = 0
    for i in range(w * h):
        a = rgba[i * 4 + 3]
        # binary GIF transparency == thresholded PNG alpha, every pixel
        assert (a == 0) == (png[i * 4 + 3] < 128), f"alpha mismatch @{i}"
        if a == 0:
            continue
        got = rgba[i * 4:i * 4 + 3]
        want = ppm[i * 3:i * 3 + 3]
        # palette-quantized: tiny per-channel deviation allowed
        assert all(abs(g - t) <= 8 for g, t in zip(got, want)), \
            f"pixel {i}: {got!r} vs {want!r}"
        exact += got == want
    assert exact >= 70                          # most pixels are bit-exact


def test_real_gif_meta():
    g = gifmini.parse_gif((DATA / "python.gif").read_bytes())
    assert (g["width"], g["height"], g["version"], g["loop_count"]) == \
        (16, 16, "89a", None)
    assert [f["delay_ms"] for f in g["frames"]] == [0]


# ---------------------------------------------------------------------------
# LZW layer
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mcs", [2, 4, 8])
def test_lzw_roundtrip(mcs):
    rng = random.Random(f"lzw:{mcs}")
    n = 1 << mcs
    data = bytes(rng.randrange(n) for _ in range(5000))
    enc = gifmini.lzw_encode(data, mcs)
    assert bytes(gifmini.lzw_decode(enc, mcs, len(data))) == data


def test_lzw_table_overflow_reset():
    """>4096 dictionary entries forces the encoder's CLEAR-reset and the
    decoder's deferred-clear handling on one stream."""
    rng = random.Random("overflow")
    data = bytes(rng.randrange(4) for _ in range(60_000))
    enc = gifmini.lzw_encode(data, 2)
    assert bytes(gifmini.lzw_decode(enc, 2, len(data))) == data


def test_lzw_underrun_is_loud():
    enc = gifmini.lzw_encode(b"\x00\x01\x02\x03", 2)
    with pytest.raises(gifmini.GifError, match="underrun"):
        gifmini.lzw_decode(enc, 2, 400)


# ---------------------------------------------------------------------------
# encoder/decoder round-trips per feature
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kw", [
    dict(),
    dict(interlace=True),
    dict(local_palettes=True),
    dict(interlace=True, local_palettes=True),
])
def test_roundtrip_still(kw):
    img = _rand_rgba(21, 13, ncolors=9)
    gif = gifmini.encode_gif([(img, 0)], 21, 13, **kw)
    assert gifmini.decode_gif(gif) == (21, 13, 4, img)
    assert len(gifmini.parse_gif(gif)["frames"]) == 1


@pytest.mark.parametrize("ncolors", [2, 3, 16, 200])
def test_roundtrip_palette_sizes(ncolors):
    """2-color hits the spec's min-code-size floor (mcs >= 2)."""
    img = _rand_rgba(17, 6, ncolors=ncolors)
    gif = gifmini.encode_gif([(img, 0)], 17, 6)
    assert gifmini.decode_gif(gif) == (17, 6, 4, img)


def test_roundtrip_transparency():
    img = _rand_rgba(11, 8, ncolors=5, alpha_every=7)
    gif = gifmini.encode_gif([(img, 0)], 11, 8)
    assert gifmini.decode_gif(gif) == (11, 8, 4, img)


def test_roundtrip_animation_frames_and_meta():
    frames = [(_rand_rgba(9, 7, ncolors=4, seed=s), 40 * (s + 1))
              for s in range(5)]
    gif = gifmini.encode_gif(frames, 9, 7, loop=0)
    g = gifmini.parse_gif(gif)
    assert [f["delay_ms"] for f in g["frames"]] == [d for _, d in frames]
    assert g["loop_count"] == 0
    got = list(gifmini.gif_frames(gif))
    assert [g[2] for g in got] == [f[0] for f in frames]
    assert [g[0] for g in got] == [0, 40, 120, 240, 400]   # cumulative ts


def test_palette_exact_encoder_refuses_truecolor():
    rng = random.Random("truecolor")
    img = bytes(rng.randrange(256) for _ in range(40 * 40 * 4))
    with pytest.raises(gifmini.GifError, match="palette-exact"):
        gifmini.encode_gif([(img, 0)], 40, 40)


# ---------------------------------------------------------------------------
# disposal compositing (hand-built partial-frame GIF)
# ---------------------------------------------------------------------------

def _hand_gif(disposal: int) -> bytes:
    """2x2 canvas: frame 1 full red; frame 2 a 1x1 green patch at (1,1)
    with the given disposal; frame 3 a 1x1 blue patch at (0,0)."""
    pal = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff" + b"\x00\x00\x00"
    out = bytearray(b"GIF89a" + struct.pack("<HH", 2, 2))
    out += bytes((0x81, 0, 0)) + pal            # GCT, 4 entries

    def frame(left, top, w, h, idx, disp):
        out.extend(b"\x21\xf9\x04" + bytes(((disp << 2), 10, 0, 0, 0)))
        out.extend(b"\x2c" + struct.pack("<HHHH", left, top, w, h) + b"\x00")
        stream = gifmini.lzw_encode(bytes(idx), 2)
        out.append(2)                           # LZW minimum code size
        out.append(len(stream))                 # single sub-block (tiny)
        out.extend(stream)
        out.append(0)

    frame(0, 0, 2, 2, [0, 0, 0, 0], 1)          # red everywhere, keep
    frame(1, 1, 1, 1, [1], disposal)            # green patch, varies
    frame(0, 0, 1, 1, [2], 0)                   # blue patch
    out += b"\x3b"
    return bytes(out)


RED, GREEN, BLUE = (255, 0, 0, 255), (0, 255, 0, 255), (0, 0, 255, 255)
GONE = (0, 0, 0, 0)


def _px(canvas, x, y, w=2):
    o = (y * w + x) * 4
    return tuple(canvas[o:o + 4])


@pytest.mark.parametrize("disposal,f3_expect", [
    (1, [BLUE, RED, RED, GREEN]),   # keep: everything accumulates
    (2, [BLUE, RED, RED, GONE]),    # background: frame-2 rect cleared
    (3, [BLUE, RED, RED, RED]),     # previous: green patch reverted
])
def test_disposal_semantics(disposal, f3_expect):
    frames = list(gifmini.gif_frames(_hand_gif(disposal)))
    assert len(frames) == 3
    # frame 2 always shows red + the green patch (disposal applies AFTER)
    assert [_px(frames[1][2], x, y) for y in (0, 1) for x in (0, 1)] == \
        [RED, RED, RED, GREEN]
    assert [_px(frames[2][2], x, y) for y in (0, 1) for x in (0, 1)] == \
        f3_expect


def test_interlaced_real_roundtrip_bitstream():
    """Interlaced encode produces a DIFFERENT bitstream that decodes to
    the SAME pixels — proves the 4-pass reorder is actually exercised."""
    img = _rand_rgba(8, 11, ncolors=3)
    plain = gifmini.encode_gif([(img, 0)], 8, 11)
    inter = gifmini.encode_gif([(img, 0)], 8, 11, interlace=True)
    assert plain != inter
    assert gifmini.decode_gif(inter)[3] == gifmini.decode_gif(plain)[3]


def test_error_contract():
    with pytest.raises(gifmini.GifError, match="signature"):
        gifmini.decode_gif(b"NOTAGIF")
    with pytest.raises(gifmini.GifError):
        gifmini.decode_gif(b"GIF89a\x02\x00")   # truncated LSD
    good = gifmini.encode_gif([(_rand_rgba(4, 4, 2), 0)], 4, 4)
    with pytest.raises(gifmini.GifError):
        gifmini.decode_gif(good[:-6])           # truncated mid-stream
    # frame rect escaping the canvas is structural damage, not pixels
    bad = bytearray(good)
    desc = bad.index(b"\x2c")
    struct.pack_into("<H", bad, desc + 1, 9)    # left=9 on a 4x4 canvas
    with pytest.raises(gifmini.GifError, match="outside"):
        gifmini.decode_gif(bytes(bad))


def test_decode_media_gif(spark):
    """The live GIF decode route (``media_phash``): a real and an
    animated GIF are hashed from their first composited frame; a
    truncated GIF becomes an error row."""
    import hashlib

    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators import multimodal

    real = (DATA / "python.gif").read_bytes()
    anim = gifmini.encode_gif(
        [(_rand_rgba(6, 5, 3, seed=s), 500) for s in range(4)], 6, 5)
    corrupt = real[:40]
    df = spark.createDataFrame([(real,), (anim,), (corrupt,)],
                               "content binary")
    rows = {r["media_id"]: r for r in multimodal.media_phash(df).collect()}
    for payload in (real, anim):
        r = rows[hashlib.sha256(payload).hexdigest()]
        w, h, ch, pix = gifmini.decode_gif(payload)
        assert (r["format"], r["hash_ok"]) == ("gif", True)
        assert r["phash"] == imghash.dhash64(pix, w, h, ch)
    c = rows[hashlib.sha256(corrupt).hexdigest()]
    assert c["hash_ok"] is False and c["error_message"]
