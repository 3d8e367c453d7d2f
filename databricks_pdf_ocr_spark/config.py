"""Engine configuration.

Reference analogue: Dynaconf settings + ``PDFOCRConfig``
(``config.py:17-95``, ``settings.toml``).  We keep the same knobs that
shaped the reference's behavior (max payload size guard, page cap, batch
caps) plus the scale knobs the north rule mandates (salt buckets,
partition counts).

A run's configuration has one source: the job's flags applied over the
``ExtractConfig`` defaults (``load_config``).  There is no settings file
and no environment-variable layer — a file found next to the package
does not exist once the package ships as a ``--py-files`` zip.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class ExtractConfig:
    """Knobs for the extraction job.

    - ``max_payload_bytes``: per-span size guard; oversized payloads become
      ``status='failed'`` rows and the pipeline continues (reference:
      50 MB guard, ``config.py:88-95`` applied at ``processors/ocr.py:93-98``).
    - ``max_pages_per_doc``: page-count truncation (reference:
      ``images[:max_pages_per_pdf]``, ``processors/ocr.py:106-107``).
    - ``max_docs_per_run``: per-run work cap (reference:
      ``settings.toml:21`` applied at ``processors/ocr.py:85``).
    - ``n_buckets``: checkpoint / lineage granularity — work is hashed into
      ``pmod(xxhash64(doc_id), n_buckets)`` buckets; resume skips buckets
      already marked done.
    - ``shuffle_partitions``: target partition count for the extraction
      repartition; at cluster scale set to ~2-3x total cores.
    - ``processing_mode`` / ``specific_doc_ids``: which documents a run
      selects (``--mode`` / ``--doc-ids``).
    - ``max_retries`` / ``retry_backoff_s``: the kernel's bounded retry
      of transient-class errors.
    - ``salt_spans``: the span-level salted repartition (``--salt``).
    """

    max_payload_bytes: int = 50 * 1024 * 1024
    max_pages_per_doc: int = 1000
    max_docs_per_run: int | None = None
    processing_mode: str = "incremental"  # incremental | reprocess_all | reprocess_specific
    specific_doc_ids: tuple[str, ...] = ()
    n_buckets: int = 64
    shuffle_partitions: int = 32
    #: bounded retry for transient-class kernel errors (the reference
    #: declares max_retries/retry_delay, settings.toml:26-27, without
    #: implementing them; functions/extract_span.py does)
    max_retries: int = 2
    retry_backoff_s: float = 0.0
    #: repartition spans on (doc_id, offset) before extraction.  OFF by
    #: default: shuffling raw payload bytes is the wrong plan at 100 TB —
    #: extraction is a narrow map over the scan, and the only shuffle
    #: should be the (far smaller) extracted-text reassembly.  Turn ON
    #: when input files are skewed (single docs comparable to a whole
    #: split, e.g. multi-thousand-page PDFs packed into few files).
    salt_spans: bool = False

    def to_json(self) -> str:
        d = asdict(self)
        d["specific_doc_ids"] = list(d["specific_doc_ids"])
        return json.dumps(d, sort_keys=True)


def load_config(overrides: dict | None = None) -> ExtractConfig:
    """``ExtractConfig`` defaults with the non-``None`` ``overrides``
    (the job's flags; ``None`` means the flag was not given)."""
    return ExtractConfig(**{k: v for k, v in (overrides or {}).items()
                            if v is not None})

