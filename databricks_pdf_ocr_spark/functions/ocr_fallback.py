"""ocr_fallback — deterministic, hermetic classification for image-only pages.

The reference calls a Claude model-serving endpoint per rendered page
(``clients/claude.py:40-108``, prompt at ``settings.toml:31``, hardcoded
confidence 0.95 at ``clients/claude.py:101``).  Network calls are out of
scope for a hermetic engine; per SURVEY.md §2.10 U6 the contract becomes a
deterministic per-span classification whose output depends only on the
image bytes — so goldens are stable and the Spark/golden comparison is
meaningful.

The classifier hashes the payload and maps it onto a fixed label set,
emitting the reference-shaped ``[ocr] <label> <digest8>`` text.  Real
image decode (resize à la ``clients/claude.py:22-38``, raster OCR) would
slot in here behind the same signature; the container has no imaging
libs, so the deterministic classifier *is* the production path for tests
and bench (clearly marked stub boundary).
"""

from __future__ import annotations

import hashlib

#: the model name every extraction results row carries (``ocr_model``)
OCR_MODEL = "ocr-fallback-deterministic-v1"

LABELS = ("figure", "chart", "table", "photo", "diagram", "map", "equation", "logo")


def classify_bytes(payload: bytes) -> tuple[str, str]:
    """Return (label, digest8) for an image payload — pure + deterministic."""
    h = hashlib.sha256(payload).hexdigest()
    label = LABELS[int(h[:8], 16) % len(LABELS)]
    return label, h[:8]


def fallback_text(payload: bytes) -> str:
    """The text emitted for an image-only page (OCR-fallback path)."""
    label, digest = classify_bytes(payload)
    return f"[ocr] {label} {digest}"
