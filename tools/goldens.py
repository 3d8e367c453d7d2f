"""goldens — the single-process reference pipeline (hermetic oracle).

Re-expresses the reference's sequential driver-loop semantics
(``processors/ocr.py:150-202``: iterate docs in order, extract each page
in order, collect result rows) as plain Python over the same input rows.
The Spark pipeline's assembled output must be **span-sequence-equal per
doc_id on (kind, text, media_ref, order)** to what this produces — that
equality is asserted by ``tests/test_e2e_extraction.py``.

Deliberately naive: one process, one loop, no Spark — so the distributed
plumbing (explode, salted repartition, Arrow batches, offset-sorted
reassembly, checkpoint resume) is the thing under test, not shared code
paths for orchestration.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from databricks_pdf_ocr_spark.config import ExtractConfig
from databricks_pdf_ocr_spark.functions.extract_span import extract_span

OutSpan = tuple[str, str | None, str | None, int]  # kind, text, media_ref, offset


def golden_extract_doc(spans, cfg: ExtractConfig) -> list[OutSpan]:
    """spans: iterable of (kind, text, media_ref, offset) in ANY order."""
    ordered = sorted(spans, key=lambda s: s[3])
    out: list[OutSpan] = []
    for kind, text, media_ref, _off in ordered:
        status, _err, _pages, outputs, _images = extract_span(
            kind, text, media_ref,
            max_payload_bytes=cfg.max_payload_bytes,
            max_pages=cfg.max_pages_per_doc,
            max_retries=cfg.max_retries,
            retry_backoff_s=cfg.retry_backoff_s,
        )
        if status != "success":
            continue  # failed spans produce no output; pipeline continues
        for (k, t, m, _fb) in outputs:
            out.append((k, t, m, len(out)))
    return out


def golden_extract(rows, cfg: ExtractConfig) -> dict[str, list[OutSpan]]:
    """rows: iterable of (doc_id, spans) with spans as dicts or tuples."""
    result: dict[str, list[OutSpan]] = {}
    for doc_id, spans in rows:
        tup = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            if isinstance(s, dict) else tuple(s)
            for s in spans
        ]
        result[doc_id] = golden_extract_doc(tup, cfg)
    return result
