"""TIFF codec: strip/LZW/PackBits/Deflate/predictor legs, hand-built
spec vectors, byte-exact parity with JVM ImageIO both directions
(TIFF is lossless — equality, not a rounding band) and totality on
garbage."""

import random
import struct
import zlib

import pytest

from databricks_pdf_ocr_spark.functions.tiffmini import (
    TiffError, decode_tiff, encode_tiff, looks_like_tiff)


def _rand_pix(w, h, ch, seed=0):
    rnd = random.Random(seed)
    return bytes(rnd.randrange(256) for _ in range(w * h * ch))


def _gray3(g):
    return b"".join(bytes([b, b, b]) for b in g)


# ---------------------------------------------------------------------------
# Encoder → decoder round-trips
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("comp", ["none", "packbits"])
@pytest.mark.parametrize("w,h,ch", [(9, 7, 3), (16, 5, 1), (3, 3, 4),
                                    (33, 2, 3), (1, 1, 1)])
def test_roundtrip(comp, w, h, ch):
    pix = _rand_pix(w, h, ch, seed=w * h * ch)
    dw, dh, dc, out = decode_tiff(encode_tiff(pix, w, h, ch, comp))
    assert (dw, dh) == (w, h)
    if ch == 1:
        assert (dc, out) == (3, _gray3(pix))
    else:
        assert (dc, out) == (ch, pix)


def test_packbits_runs_roundtrip():
    # long runs + literals exercise both PackBits opcodes
    pix = bytes([7] * 300 + list(range(84)))        # w=32,h=12,ch=1
    _, _, _, out = decode_tiff(encode_tiff(pix, 32, 12, 1, "packbits"))
    assert out == _gray3(pix)


# ---------------------------------------------------------------------------
# Hand-built spec vectors
# ---------------------------------------------------------------------------

def _build_tiff(endian, tags, body, extra=b""):
    """Minimal hand-assembler: header | body | IFD | extra."""
    e = "<" if endian == "II" else ">"
    ifd_off = 8 + len(body)
    out = bytearray((b"II*\x00" if endian == "II" else b"MM\x00*"))
    out += struct.pack(e + "I", ifd_off)
    out += body
    out += struct.pack(e + "H", len(tags))
    for tag, typ, cnt, val in sorted(tags):
        out += struct.pack(e + "HHII", tag, typ, cnt, val)
    out += struct.pack(e + "I", 0)
    out += extra
    return bytes(out)


def test_big_endian_gray():
    g = bytes(range(12))                            # 4x3 gray, MM order
    data = _build_tiff("MM", [
        (256, 3, 1, 4 << 16), (257, 3, 1, 3 << 16), (258, 3, 1, 8 << 16),
        (259, 3, 1, 1 << 16), (262, 3, 1, 1 << 16), (273, 4, 1, 8),
        (277, 3, 1, 1 << 16), (278, 4, 1, 3), (279, 4, 1, len(g))], g)
    # SHORT inline values sit in the FIRST two bytes big-endian → <<16
    assert looks_like_tiff(data)
    assert decode_tiff(data) == (4, 3, 3, _gray3(g))


def test_white_is_zero_inverts():
    g = bytes([0, 255, 16, 240])                    # 2x2, photometric 0
    data = _build_tiff("II", [
        (256, 3, 1, 2), (257, 3, 1, 2), (258, 3, 1, 8),
        (259, 3, 1, 1), (262, 3, 1, 0), (273, 4, 1, 8),
        (277, 3, 1, 1), (278, 4, 1, 2), (279, 4, 1, 4)], g)
    assert decode_tiff(data) == (2, 2, 3, _gray3(bytes(255 - b for b in g)))


def test_palette_expands_via_colormap():
    idx = bytes([0, 1, 2, 1])                       # 2x2 palette indices
    cmap = [0] * 768
    # 16-bit map entries; decoder takes the high byte
    for i, (r, g, b) in enumerate([(10, 20, 30), (40, 50, 60), (70, 80, 90)]):
        cmap[i], cmap[256 + i], cmap[512 + i] = r << 8, g << 8, b << 8
    extra_off = 8 + 4 + 2 + 12 * 10 + 4
    data = _build_tiff("II", [
        (256, 3, 1, 2), (257, 3, 1, 2), (258, 3, 1, 8),
        (259, 3, 1, 1), (262, 3, 1, 3), (273, 4, 1, 8),
        (277, 3, 1, 1), (278, 4, 1, 2), (279, 4, 1, 4),
        (320, 3, 768, extra_off)], idx,
        extra=struct.pack("<768H", *cmap))
    exp = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 40, 50, 60])
    assert decode_tiff(data) == (2, 2, 3, exp)


def test_deflate_with_horizontal_predictor():
    w, h = 5, 3
    pix = _rand_pix(w, h, 3, seed=11)
    rows = [list(pix[y * 15:(y + 1) * 15]) for y in range(h)]
    diff = bytearray()
    for r in rows:                                  # difference per channel
        d = list(r)
        for i in range(len(r) - 1, 2, -1):
            d[i] = (r[i] - r[i - 3]) & 0xFF
        diff += bytes(d)
    body = zlib.compress(bytes(diff))
    data = _build_tiff("II", [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 3, 8 + 4 + 2 + 12 * 11 + 4),
        (259, 3, 1, 8), (262, 3, 1, 2), (273, 4, 1, 8),
        (277, 3, 1, 3), (278, 4, 1, h), (279, 4, 1, len(body)),
        (317, 3, 1, 2), (338, 3, 1, 0)][:10], body,
        extra=struct.pack("<3H", 8, 8, 8))
    # fix the BitsPerSample offset: extra sits after body+IFD of 10 entries
    data = bytearray(data)
    bps_off = 8 + len(body) + 2 + 12 * 10 + 4
    # patch the 258 entry's value field (entries sorted: 256,257,258,...)
    entry_base = 8 + len(body) + 2 + 12 * 2
    data[entry_base + 8:entry_base + 12] = struct.pack("<I", bps_off)
    got = decode_tiff(bytes(data))
    assert got == (w, h, 3, pix)


def test_multi_strip_lzw_like_packbits_none_mix_rejected_cases():
    # two strips, rows_per_strip=2, uncompressed
    w, h = 4, 3
    pix = _rand_pix(w, h, 1, seed=5)
    s1, s2 = pix[:8], pix[8:]
    body = s1 + s2
    extra_base = 8 + len(body) + 2 + 12 * 9 + 4     # extras follow the IFD
    data = _build_tiff("II", [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8),
        (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, 2, extra_base),                    # offsets array
        (277, 3, 1, 1), (278, 4, 1, 2),
        (279, 4, 2, extra_base + 8)], body,         # counts array
        extra=struct.pack("<2I", 8, 8 + 8) + struct.pack("<2I", 8, 4))
    assert decode_tiff(data) == (w, h, 3, _gray3(pix))


def test_out_of_scope_variants_fail_loudly():
    pix = _rand_pix(4, 4, 3, seed=1)
    base = encode_tiff(pix, 4, 4, 3)
    # flip the compression SHORT to CCITT G4 (7? no: 4) — entry order is
    # 256,257,258,259: patch entry index 3's value
    ifd_off = struct.unpack("<I", base[4:8])[0]
    data = bytearray(base)
    ebase = ifd_off + 2 + 12 * 3
    data[ebase + 8:ebase + 10] = struct.pack("<H", 4)
    with pytest.raises(TiffError):
        decode_tiff(bytes(data))
    with pytest.raises(TiffError):
        decode_tiff(b"II*\x00" + b"\x00" * 3)       # truncated header
    with pytest.raises(TiffError):
        decode_tiff(b"garbage not a tiff")


def test_truncation_totality():
    data = encode_tiff(_rand_pix(6, 4, 3, seed=9), 6, 4, 3, "packbits")
    for cut in range(0, len(data), 7):
        try:
            decode_tiff(data[:cut])
        except TiffError:
            pass                                    # loud, typed — never a crash


# ---------------------------------------------------------------------------
# JVM ImageIO parity (lossless → byte-exact)
# ---------------------------------------------------------------------------

def _imageio_read(spark, data):
    jvm = spark.sparkContext._jvm
    return jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(data))


def _imageio_rgb(spark, data):
    img = _imageio_read(spark, data)
    w, h = img.getWidth(), img.getHeight()
    out = bytearray()
    for y in range(h):
        for x in range(w):
            argb = img.getRGB(x, y)
            out += bytes(((argb >> 16) & 255, (argb >> 8) & 255, argb & 255))
    return w, h, bytes(out)


def _jvm_write_tiff(spark, w, h, comp):
    jvm = spark.sparkContext._jvm
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB)
    for y in range(h):
        for x in range(w):
            img.setRGB(x, y, ((x * 11) % 256 << 16)
                       | ((y * 17) % 256 << 8) | ((x * y) % 256))
    it = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff")
    wr = it.next()
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    p = wr.getDefaultWriteParam()
    if comp:
        p.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionType(comp)
    wr.write(None, jvm.javax.imageio.IIOImage(img, None, None), p)
    ios.flush()
    return bytes(baos.toByteArray())


def _gradient(w, h):
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes(((x * 11) % 256, (y * 17) % 256, (x * y) % 256))
    return bytes(out)


@pytest.mark.parametrize("comp", [None, "LZW", "PackBits", "Deflate", "ZLib"])
def test_imageio_writes_we_decode(spark, comp):
    """Every compression the JVM writer ships → our decode, byte-exact
    (the LZW leg exercises early-change; Deflate/ZLib both map to 8)."""
    w, h = 21, 13
    data = _jvm_write_tiff(spark, w, h, comp)
    assert looks_like_tiff(data)
    assert decode_tiff(data) == (w, h, 3, _gradient(w, h))


@pytest.mark.parametrize("comp", ["none", "packbits"])
def test_we_write_imageio_decodes_rgb(spark, comp):
    w, h = 9, 7
    pix = _rand_pix(w, h, 3, seed=2)
    gw, gh, gt = _imageio_rgb(spark, encode_tiff(pix, w, h, 3, comp))
    assert (gw, gh, gt) == (w, h, pix)


def test_we_write_imageio_decodes_gray_raster(spark):
    """Gray parity at the RASTER level — getRGB() routes TYPE_BYTE_GRAY
    through a linear-gray→sRGB colorspace transform that is not
    identity, so raw samples are the lossless comparison."""
    w, h = 12, 4
    g = _rand_pix(w, h, 1, seed=3)
    img = _imageio_read(spark, encode_tiff(g, w, h, 1, "packbits"))
    r = img.getRaster()
    got = bytes(r.getSample(x, y, 0) for y in range(h) for x in range(w))
    assert got == g


def test_we_write_imageio_decodes_rgba_raster(spark):
    w, h = 5, 4
    pix = _rand_pix(w, h, 4, seed=4)
    img = _imageio_read(spark, encode_tiff(pix, w, h, 4))
    r = img.getRaster()
    got = bytearray()
    for y in range(h):
        for x in range(w):
            for b in range(4):
                got.append(r.getSample(x, y, b))
    assert bytes(got) == pix

