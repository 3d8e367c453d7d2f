"""Embedded-image extraction from PDFs: pdfmini.page_images + the
extraction kernel's payload rows, composed with the real JPEG/PNG codecs.

Reference analogue: ``pdf_to_images`` (``processors/ocr.py:27-57``) —
the reference rasterizes pages via PyMuPDF; this engine extracts the
embedded raster XObjects (what scanned-document pages are made of) and
hands them to the hermetic codecs.
"""

import base64
import os

import numpy as np
import pytest

from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.config import ExtractConfig
from databricks_pdf_ocr_spark.functions import pdfmini, pngmini
from databricks_pdf_ocr_spark.functions.jpegmini import decode_jpeg
from databricks_pdf_ocr_spark.operators.extract import (
    explode_spans, extract_spans, extract_spans_and_payloads, payload_rows,
)
from databricks_pdf_ocr_spark.operators.multimodal import (
    dedup_payloads, media_phash,
)
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA
from databricks_pdf_ocr_spark.session import local_frame

KITTEN = ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
          "kittens/DP802813.jpg")


def _gray_samples(w, h):
    return bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))


def _pdf_spans(spark, docs):
    """``(doc_id, pdf bytes)`` pairs as one-span pdf documents, exploded."""
    return explode_spans(local_frame(spark, [
        (did, [("pdf", base64.b64encode(pdf).decode(), None, 0)])
        for did, pdf in docs], DOCUMENTS_SCHEMA))


def test_page_images_flate_gray_roundtrip():
    """Raw 8-bit gray samples come back as a lossless PNG re-wrap."""
    w, h = 12, 9
    samples = _gray_samples(w, h)
    pdf = pdfmini.write_pdf([{"image": samples, "image_format": "gray",
                              "width": w, "height": h}])
    doc = pdfmini.PdfDocument(pdf)
    imgs = doc.page_images(doc.pages()[0])
    assert len(imgs) == 1
    rec = imgs[0]
    assert rec["format"] == "png" and rec["error"] is None
    pw, ph, pc, pix = pngmini.decode_png(rec["payload"])
    assert (pw, ph, pc) == (w, h, 1) and pix == samples


@pytest.mark.skipif(not os.path.exists(KITTEN),
                    reason="Spark-distribution test JPEG not present")
def test_page_images_dct_passthrough():
    """A /DCTDecode XObject yields the byte-identical JPEG file."""
    jpeg = open(KITTEN, "rb").read()
    pdf = pdfmini.write_pdf([
        {"runs": [(72, 700, "cover page")]},
        {"image": jpeg, "image_format": "jpeg", "width": 199, "height": 313},
    ])
    doc = pdfmini.PdfDocument(pdf)
    pages = doc.pages()
    assert doc.page_images(pages[0]) == []
    rec, = doc.page_images(pages[1])
    assert rec["format"] == "jpeg" and rec["payload"] == jpeg
    w, h, c, _pix = decode_jpeg(rec["payload"])
    assert (w, h, c) == (199, 313, 3)


def test_page_images_stub_stays_loud():
    """The legacy 8x8 stub (arbitrary bytes) is raw + a reason, and the
    OCR-fallback path over Page.image_bytes is unchanged."""
    pdf = pdfmini.write_pdf([{"image": b"\x01\x02\x03notpixels"}])
    doc = pdfmini.PdfDocument(pdf)
    rec, = doc.page_images(doc.pages()[0])
    assert rec["format"] == "raw" and "unsupported sample layout" in rec["error"]
    pages = pdfmini.parse_pdf(pdf)
    assert pages[0].image_bytes == [b"\x01\x02\x03notpixels"]


@pytest.mark.skipif(not os.path.exists(KITTEN),
                    reason="Spark-distribution test JPEG not present")
def test_pdf_images_operator_composes_with_phash(spark):
    jpeg = open(KITTEN, "rb").read()
    w, h = 16, 10
    samples = _gray_samples(w, h)
    docs = [
        ("d1", pdfmini.write_pdf([
            {"runs": [(72, 700, "text only")]},
            {"image": jpeg, "image_format": "jpeg",
             "width": 199, "height": 313}])),
        ("d2", pdfmini.write_pdf([{"image": samples, "image_format": "gray",
                                   "width": w, "height": h}])),
        ("d3", b"not a pdf at all"),
    ]
    pay = payload_rows(extract_spans_and_payloads(_pdf_spans(spark, docs),
                                                  ExtractConfig()))
    rows = {(r["doc_id"], r["page_idx"], r["image_idx"]): r
            for r in pay.collect()}
    assert rows[("d1", 1, 0)]["format"] == "jpeg"
    assert rows[("d1", 1, 0)]["extract_ok"]
    assert bytes(rows[("d1", 1, 0)]["content"]) == jpeg
    assert rows[("d2", 0, 0)]["format"] == "png"
    assert rows[("d3", -1, -1)]["extract_ok"] is False
    assert len(rows) == 3  # d1 page 0 has no images

    # extracted payloads feed the real decode + perceptual-hash path
    hashed = media_phash(pay.filter("extract_ok")).collect()
    assert sorted(r["format"] for r in hashed) == ["jpeg", "png"]
    assert all(r["hash_ok"] for r in hashed)


def test_dedup_payloads_keeps_every_error_row(spark):
    """A ref's copies collapse to one row; each failed pdf span keeps
    its own null-ref error row; a table appended twice dedups to the
    same rows."""
    w, h = 12, 9
    pdf = pdfmini.write_pdf([{"image": _gray_samples(w, h),
                              "image_format": "gray",
                              "width": w, "height": h}])
    docs = [("a", pdf), ("b", pdf),                  # one image, two docs
            ("e1", b"not a pdf"), ("e2", b"nor this"), ("e3", b"%PDF-")]
    pay = payload_rows(extract_spans_and_payloads(_pdf_spans(spark, docs),
                                                  ExtractConfig()))

    def keys(df):
        return sorted((r["media_ref"] or "", r["doc_id"])
                      for r in df.collect())

    (ref,) = {r["media_ref"] for r in pay.collect() if r["media_ref"]}
    once = keys(dedup_payloads(pay))
    assert once[:3] == [("", "e1"), ("", "e2"), ("", "e3")]
    assert [k[0] for k in once[3:]] == [ref]
    assert keys(dedup_payloads(pay.unionByName(pay))) == once


def test_ocr_fallback_flag_marks_the_fallback_page(spark):
    """The results row flagged ``ocr_fallback`` is the OCR text of the
    image-only page, also when an earlier text page's own text starts
    with the fallback's ``[ocr] `` tag."""
    pdf = pdfmini.write_pdf([{"runs": [(72, 720, "[ocr] typed by hand")]},
                             {"image": b"scanned page"}])
    rows = (extract_spans(_pdf_spans(spark, [("d", pdf)]), TEST_CONFIG)
            .orderBy("sub_idx").collect())
    assert [(r["kind"], r["ocr_fallback"]) for r in rows] == [
        ("text", False), ("text", True), ("media", False)]
    assert rows[0]["text"].startswith("[ocr] ")
