"""Baseline-JPEG codec: validated pixel-for-pixel against the JVM
ImageIO ground truth (``spark.read.format("image")``), plus the image
file source.

Ground-truth corpus: the Apache Spark distribution's own mllib test
images (baseline SOF0 4:2:0 color JPEGs + progressive samples).  Tests
skip loudly if the distribution's data directory isn't present.
"""

import glob
import os

import numpy as np
import pytest

from databricks_pdf_ocr_spark.functions.jpegmini import (
    JPEG_SIG, JpegError, decode_jpeg,
)
from databricks_pdf_ocr_spark.sources import images as image_sources

SPARK_IMAGES = os.environ.get(
    "SPARK_GRAFT_IMAGE_DIR",
    "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin")

needs_images = pytest.mark.skipif(
    not os.path.isdir(SPARK_IMAGES),
    reason=f"Spark-distribution test images not found at {SPARK_IMAGES} "
           "(set SPARK_GRAFT_IMAGE_DIR)")


def _baseline_jpegs():
    out = []
    for f in sorted(glob.glob(os.path.join(SPARK_IMAGES, "**", "*.jpg"),
                              recursive=True)):
        data = open(f, "rb").read()
        try:
            out.append((f, decode_jpeg(data)))
        except JpegError:
            pass  # progressive sample — covered by its own test
    return out


@needs_images
def test_decode_matches_jvm_imageio(spark):
    """Every baseline sample must match ImageIO within IDCT/upsample
    rounding (the spec leaves both decoder-specific)."""
    decoded = _baseline_jpegs()
    assert len(decoded) >= 4, "expected several baseline samples"
    gt_rows = {os.path.basename(r["origin"]): r
               for r in image_sources.read_image_files(
                   spark, SPARK_IMAGES).collect()
               if r["height"] > 0}
    checked = 0
    for path, (w, h, c, pix) in decoded:
        r = gt_rows.get(os.path.basename(path))
        if r is None:
            continue
        assert (w, h, c) == (r["width"], r["height"], r["nChannels"])
        mine = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, c)
        gt = np.frombuffer(bytes(r["data"]),
                           dtype=np.uint8).reshape(h, w, c)
        if c == 3:
            gt = gt[..., ::-1]  # image source emits BGR; ours is RGB
        d = np.abs(mine.astype(int) - gt.astype(int))
        assert d.mean() <= 0.5, f"{path}: meanAbs {d.mean():.2f}"
        assert np.percentile(d, 99) <= 3, f"{path}: p99 {np.percentile(d, 99)}"
        checked += 1
    assert checked >= 4


@needs_images
def test_grayscale_roundtrip_via_jvm_encoder(spark):
    """Gray path: encode a synthetic gradient as baseline JPEG with JVM
    ImageIO, then our decode must match ImageIO's own re-decode."""
    jvm = spark.sparkContext._jvm
    w, h = 96, 64
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    raster = img.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, (x * 2 + y * 3) % 256)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "jpg", baos)
    data = bytes(baos.toByteArray())
    assert data[:2] == JPEG_SIG

    dw, dh, dc, pix = decode_jpeg(data)
    assert (dw, dh, dc) == (w, h, 1)
    mine = np.frombuffer(pix, dtype=np.uint8).reshape(h, w)

    # ImageIO re-decode as ground truth
    bais = jvm.java.io.ByteArrayInputStream(baos.toByteArray())
    back = jvm.javax.imageio.ImageIO.read(bais)
    gt = np.array([[back.getRaster().getSample(x, y, 0)
                    for x in range(w)] for y in range(h)], dtype=int)
    d = np.abs(mine.astype(int) - gt)
    assert d.mean() <= 0.5 and d.max() <= 4


def _has_sof2(data: bytes) -> bool:
    import struct
    i, n = 2, len(data)
    while i < n - 3:
        if data[i] != 0xFF:
            return False
        while i + 2 < n and data[i + 1] == 0xFF:
            i += 1
        m = data[i + 1]
        if m == 0xC2:
            return True
        if m == 0x01 or 0xD0 <= m <= 0xD9:
            i += 2
            continue
        if m == 0xDA:
            return False
        i += 2 + struct.unpack(">H", data[i + 2:i + 4])[0]
    return False


@needs_images
def test_progressive_real_sample_matches_imageio(spark):
    """The mllib corpus ships one real progressive (SOF2) JPEG; our
    multi-scan decode must match ImageIO within the same rounding gate
    as baseline."""
    prog = [f for f in glob.glob(os.path.join(SPARK_IMAGES, "**", "*.jpg"),
                                 recursive=True)
            if _has_sof2(open(f, "rb").read())]
    assert prog, "corpus should include a progressive sample"
    gt_rows = {os.path.basename(r["origin"]): r
               for r in image_sources.read_image_files(
                   spark, SPARK_IMAGES).collect() if r["height"] > 0}
    checked = 0
    for f in prog:
        r = gt_rows.get(os.path.basename(f))
        if r is None:
            continue
        w, h, c, pix = decode_jpeg(open(f, "rb").read())
        assert (w, h, c) == (r["width"], r["height"], r["nChannels"])
        mine = np.frombuffer(pix, np.uint8).reshape(h, w, c)
        gt = np.frombuffer(bytes(r["data"]), np.uint8).reshape(h, w, c)
        if c == 3:
            gt = gt[..., ::-1]
        d = np.abs(mine.astype(int) - gt.astype(int))
        assert d.mean() <= 0.1 and d.max() <= 3, f"{f}: meanAbs {d.mean()}"
        checked += 1
    assert checked >= 1


@needs_images
def test_progressive_reencode_matches_imageio(spark):
    """Color coverage: re-encode baseline samples as progressive with the
    JVM ImageIO writer (spectral-selection + successive-approximation
    scan script, 4:2:0 chroma), then our decode must match ImageIO's own
    re-decode of the same bytes."""
    jvm = spark.sparkContext._jvm

    def prog_encode(path):
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "jpg").next()
        param = writer.getDefaultWriteParam()
        param.setProgressiveMode(
            jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        baos = jvm.java.io.ByteArrayOutputStream()
        out = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(out)
        writer.write(None, jvm.javax.imageio.IIOImage(img, None, None),
                     param)
        out.flush()
        return bytes(baos.toByteArray())

    def jvm_decode_rgb(data):
        img = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(data))
        w, h = img.getWidth(), img.getHeight()
        arr = np.zeros((h, w, 3), np.uint8)
        for y in range(h):
            a = np.array(img.getRGB(0, y, w, 1, None, 0, w), dtype=np.int64)
            arr[y, :, 0] = (a >> 16) & 255
            arr[y, :, 1] = (a >> 8) & 255
            arr[y, :, 2] = a & 255
        return arr

    checked = 0
    for path in sorted(glob.glob(os.path.join(SPARK_IMAGES, "kittens",
                                              "*.jpg")))[:2]:
        data = prog_encode(path)
        assert _has_sof2(data), "JVM writer did not emit SOF2"
        w, h, c, pix = decode_jpeg(data)
        assert c == 3
        mine = np.frombuffer(pix, np.uint8).reshape(h, w, c)
        gt = jvm_decode_rgb(data)
        d = np.abs(mine.astype(int) - gt.astype(int))
        assert d.mean() <= 0.1 and d.max() <= 3, f"{path}: meanAbs {d.mean()}"
        checked += 1
    assert checked == 2


def test_malformed_rejected():
    with pytest.raises(JpegError):
        decode_jpeg(b"\x00\x01not a jpeg")
    with pytest.raises(JpegError):
        decode_jpeg(JPEG_SIG + b"\xff\xd9")  # no frame/scan



@needs_images
def test_decode_media_and_resize_wiring(spark):
    """Operator wiring: baseline JPEG payloads ride the real decode path
    in ``media_phash`` (hash of the decoded pixels); a corrupt JPEG
    becomes an error row, not a crash."""
    import hashlib

    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators import multimodal

    samples = _baseline_jpegs()[:2]
    payloads = [open(p, "rb").read() for p, _ in samples]
    # corrupt payload: valid SOI, garbage after
    corrupt = JPEG_SIG + b"\x00" * 32
    df = spark.createDataFrame([(b,) for b in payloads + [corrupt]],
                               "content binary")
    rows = {r["media_id"]: r for r in multimodal.media_phash(df).collect()}
    for (_path, (w, h, c, pix)), payload in zip(samples, payloads):
        r = rows[hashlib.sha256(payload).hexdigest()]
        assert (r["format"], r["hash_ok"]) == ("jpeg", True)
        assert r["phash"] == imghash.dhash64(pix, w, h, c)
    bad = rows[hashlib.sha256(corrupt).hexdigest()]
    assert bad["hash_ok"] is False and bad["error_message"]

@needs_images
def test_image_file_sources(spark):
    """The JVM image source keeps undecodables (height=-1) and flattens
    the image struct."""
    px = image_sources.read_image_files(spark, SPARK_IMAGES)
    rows = px.collect()
    assert sum(r["height"] > 0 for r in rows) >= 4
    assert px.columns == list(image_sources.IMAGE_STRUCT_FIELDS)


@needs_images
def test_fill_bytes_between_segments_tolerated():
    """ADVICE r3: the spec permits 0xFF fill bytes between marker
    segments; decode must skip them, not misparse the padding as a
    marker with a bogus length."""
    decoded = _baseline_jpegs()
    assert decoded, "expected at least one baseline sample"
    path, (w, h, c, pix) = decoded[0]
    data = open(path, "rb").read()
    # insert fill padding immediately after SOI, before the first segment
    padded = data[:2] + b"\xff\xff\xff" + data[2:]
    pw, ph, pc, ppix = decode_jpeg(padded)
    assert (pw, ph, pc) == (w, h, c)
    assert ppix == pix
