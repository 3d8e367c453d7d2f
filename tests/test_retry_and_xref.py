"""Bounded transient-error retry (functions/extract_span.py) and
freed-object shadowing in incremental-update xref chains
(functions/pdfmini.py)."""

import base64
import re

import pytest

from databricks_pdf_ocr_spark.functions import (
    extract_span as es_mod, ocr_fallback, pdfmini,
)

KW = dict(max_payload_bytes=1 << 20, max_pages=16)


def _image_pdf_b64():
    raw = pdfmini.write_pdf([{"image": b"\x01\x02" * 32}], compress=False)
    return base64.b64encode(raw).decode()


def test_transient_error_retried_to_success(monkeypatch):
    payload = _image_pdf_b64()
    calls = {"n": 0}
    real = ocr_fallback.fallback_text

    def flaky(img):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise TimeoutError("ocr backend busy")
        return real(img)

    monkeypatch.setattr(ocr_fallback, "fallback_text", flaky)
    status, err, pages, outputs, _ = es_mod.extract_span(
        "pdf", payload, None, max_retries=2, **KW)
    assert (status, err) == ("success", None)
    assert calls["n"] == 3 and [o[3] for o in outputs] == [True, False]


def test_transient_error_exhausts_retries(monkeypatch):
    payload = _image_pdf_b64()
    calls = {"n": 0}

    def dead(img):
        calls["n"] += 1
        raise ConnectionError("backend down")

    monkeypatch.setattr(ocr_fallback, "fallback_text", dead)
    status, err, *_ = es_mod.extract_span(
        "pdf", payload, None, max_retries=2, **KW)
    assert status == "failed"
    assert "transient error after 3 attempts" in err
    assert calls["n"] == 3


def test_deterministic_error_fails_fast(monkeypatch):
    payload = _image_pdf_b64()
    calls = {"n": 0}

    def boom(img):
        calls["n"] += 1
        raise ValueError("deterministic bug")

    monkeypatch.setattr(ocr_fallback, "fallback_text", boom)
    status, err, *_ = es_mod.extract_span(
        "pdf", payload, None, max_retries=5, **KW)
    assert status == "failed" and "unexpected error" in err
    assert calls["n"] == 1  # no retry for non-transient failures


def _freed_update(raw: bytes, objnum: int) -> bytes:
    """Append an incremental-update section freeing ``objnum``."""
    prev = int(re.search(rb"startxref\s+(\d+)", raw[-200:]).group(1))
    pos = len(raw)
    upd = (b"xref\n%d 1\n0000000000 65535 f \ntrailer\n"
           b"<< /Size 6 /Root 5 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
           % (objnum, prev, pos))
    return raw + upd


def test_freed_object_shadows_older_offset():
    raw = pdfmini.write_pdf([{"runs": [(72.0, 720.0, "hello world")]}],
                            compress=False)
    # baseline parses and extracts the run
    assert pdfmini.parse_pdf(raw)[0].runs
    # the content stream (object 3 in the writer's layout) freed by a newer
    # section: resolving it must fail instead of reading stale bytes
    freed = _freed_update(raw, 3)
    with pytest.raises(pdfmini.PdfError, match="freed"):
        pdfmini.parse_pdf(freed)
