"""extract_span — the pure per-span extraction kernel.

Dispatches one input span ``(kind, text, media_ref)`` to the right
extractor and returns ``(status, error_message, pages_parsed, outputs,
images)`` where ``outputs`` is an ordered list of ``(kind, text,
media_ref, ocr_fallback)`` output spans ('text' | 'media') and
``images`` the rows a pdf span contributes to the ``media_payloads``
table (see ``Image``).

This is the executor-side unit of work: the Spark job calls it from an
Arrow-batched ``mapInPandas`` stage (batch-level vectorization; the
per-span body is pure Python over bytes, exactly the work the reference
ran in its driver loop at ``processors/ocr.py:87-148``), and the golden
generator calls it from a single-process loop — span-sequence equality
between the two is the correctness contract.

Error contract (reference ``processors/ocr.py:132-148``): any failure
yields ``status='failed'`` with a message; the caller never sees an
exception, and the pipeline continues.
"""

from __future__ import annotations

import base64
import binascii
import hashlib
import re
import time

from . import htmlmini, ocr_fallback, pdfmini, segment

#: (kind, text, media_ref, ocr_fallback): ``ocr_fallback`` marks the text
#: of an image-only pdf page, which came from the OCR fallback
Output = tuple[str, str | None, str | None, bool]
#: (page_idx, image_idx, format, width, height, payload, error): an
#: embedded raster image of a pdf span, by the index of the media output
#: whose ref (``"pdfimg:" + sha256(payload)``) keys it; a failed pdf span
#: has one record at index 0, ``(-1, -1, None, 0, 0, None, error)``
Image = tuple[int, int, str | None, int, int, bytes | None, str | None]
Extracted = tuple[str, str | None, int, list[Output], dict[int, Image]]

#: transient-class errors: worth retrying (the reference *declares*
#: max_retries/retry_delay for its OCR client, ``settings.toml:26-27``,
#: but never implements them — this wrapper does).  Deterministic
#: failures (parse errors, size guards, bad base64) never retry.
TRANSIENT_ERRORS = (ConnectionError, TimeoutError, InterruptedError)


def _normalize_text(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _failed(message: str) -> Extracted:
    return "failed", message, 0, [], {}


def extract_span(
    kind: str,
    text: str | None,
    media_ref: str | None,
    *,
    max_payload_bytes: int,
    max_pages: int,
    max_retries: int = 2,
    retry_backoff_s: float = 0.0,
) -> Extracted:
    """Returns (status, error_message, pages_parsed, outputs, images).

    Transient-class errors (``TRANSIENT_ERRORS`` — the kind a real OCR
    backend raises) are retried up to ``max_retries`` times with
    exponential backoff; everything else fails fast (deterministic
    failures don't become cheaper by repeating them).
    """
    attempt = 0
    while True:
        try:
            res = _extract_once(kind, text, media_ref,
                                max_payload_bytes=max_payload_bytes,
                                max_pages=max_pages)
            break
        except TRANSIENT_ERRORS as e:
            attempt += 1
            if attempt > max_retries:
                res = _failed(f"transient error after {attempt} attempts: "
                              f"{type(e).__name__}: {e}")
                break
            if retry_backoff_s:
                time.sleep(retry_backoff_s * (2 ** (attempt - 1)))
    status, err, pages, outputs, images = res
    if kind == "pdf" and status == "failed":
        # the span's null-ref media_payloads row carries the failure
        images = {0: (-1, -1, None, 0, 0, None, err)}
    return status, err, pages, outputs, images


def _extract_once(
    kind: str,
    text: str | None,
    media_ref: str | None,
    *,
    max_payload_bytes: int,
    max_pages: int,
) -> Extracted:
    try:
        if kind == "text":
            if text is None:
                return _failed("text span with null payload")
            t = _normalize_text(text)
            outputs = [("text", t, None, False)] if t else []
            return "success", None, 0, outputs, {}

        if kind == "html":
            if text is None:
                return _failed("html span with null payload")
            if len(text.encode("utf-8", "ignore")) > max_payload_bytes:
                return _failed("payload exceeds max size")
            blocks = htmlmini.extract_blocks(text)
            outputs = [("text", b, None, False) for b in blocks]
            return "success", None, 0, outputs, {}

        if kind == "pdf":
            if text is None:
                return _failed("pdf span with null payload")
            try:
                # tolerate MIME-chunked b64 (Spark's base64() inserts \r\n)
                raw = base64.b64decode(re.sub(r"\s+", "", text), validate=True)
            except (binascii.Error, ValueError):
                return _failed("invalid base64 pdf payload")
            # size guard — reference: config.py:88-95 @ processors/ocr.py:93-98
            if len(raw) > max_payload_bytes:
                return _failed(f"payload exceeds max size "
                               f"({len(raw)} > {max_payload_bytes})")
            try:
                pages = pdfmini.parse_pdf(raw)
            except pdfmini.PdfError as e:
                return _failed(f"pdf parse error: {e}")
            # page truncation — reference: processors/ocr.py:106-107
            pages = pages[:max_pages]
            outputs: list[Output] = []
            images: dict[int, Image] = {}
            for pi, pg in enumerate(pages):
                if pg.runs:
                    page_text = segment.reading_order_text(pg.runs)
                    if page_text:
                        outputs.append(("text", page_text, None, False))
                elif pg.image_bytes:
                    outputs.append(("text",
                                    ocr_fallback.fallback_text(pg.image_bytes[0]),
                                    None, True))
                # blank page: parsed but emits nothing
                # embedded raster images become addressable media spans:
                # content-addressed refs (sha256 of the extracted payload),
                # so identical images dedup globally under one ref, and
                # each keys the media_payloads row built from its record
                for ii, rec in enumerate(pg.images):
                    if rec["payload"]:
                        images[len(outputs)] = (
                            pi, ii, rec["format"], rec["width"],
                            rec["height"], rec["payload"], rec["error"])
                        ref = "pdfimg:" + hashlib.sha256(
                            rec["payload"]).hexdigest()
                        outputs.append(("media", None, ref, False))
            return "success", None, len(pages), outputs, images

        if kind == "image":
            if media_ref is None:
                return _failed("image span with null media_ref")
            return "success", None, 0, [("media", None, media_ref, False)], {}

        return _failed(f"unknown span kind {kind!r}")
    except TRANSIENT_ERRORS:
        raise  # bubble to the retry wrapper
    except Exception as e:  # belt-and-braces: never throw out of the kernel
        return _failed(f"unexpected error: {type(e).__name__}: {e}")
