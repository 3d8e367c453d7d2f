"""Engine configuration.

Reference analogue: Dynaconf settings + ``PDFOCRConfig``
(``config.py:17-95``, ``settings.toml``).  We keep the same knobs that
shaped the reference's behavior (max payload size guard, page cap, batch
caps) plus the scale knobs the north rule mandates (salt buckets,
partition counts).

``load_config`` reproduces the reference's dev/test/prod layering
(Dynaconf ``environments=true`` + ``envvar_prefix``,
``config.py:22-30``) with stdlib only:

    dataclass defaults < TOML [default] < TOML [<env>]
                       < ENGINE_<FIELD> env vars < explicit overrides
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, fields


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
    ocr_model: str = "ocr-fallback-deterministic-v1"
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


def _coerce(field_type: str, raw):
    if field_type.startswith("int"):
        return int(raw)
    if field_type.startswith("float"):
        return float(raw)
    if field_type == "bool":
        if isinstance(raw, bool):
            return raw
        return str(raw).strip().lower() in ("1", "true", "yes", "on")
    if field_type.startswith("tuple"):
        if isinstance(raw, (list, tuple)):
            return tuple(raw)
        return tuple(x for x in str(raw).split(",") if x)
    return raw


def load_config(env: str | None = None,
                config_file: str | None = None,
                overrides: dict | None = None) -> ExtractConfig:
    """Layered configuration, lowest to highest precedence:

    1. ``ExtractConfig`` dataclass defaults
    2. ``[default]`` section of the TOML file (``config_file`` arg, or
       ``$ENGINE_SETTINGS_FILE``, or ``settings.toml`` next to the repo
       root if present)
    3. ``[<env>]`` section — env from the arg or ``$ENGINE_ENV``
       (reference: ``ENV_FOR_DYNACONF``), default ``dev``
    4. ``ENGINE_<FIELD>`` environment variables (reference:
       ``PDF_OCR_<name>`` via ``envvar_prefix``)
    5. explicit ``overrides`` (CLI flags win over everything)
    """
    layered: dict = {}
    known = {f.name: str(f.type) for f in fields(ExtractConfig)}

    path = config_file or os.environ.get("ENGINE_SETTINGS_FILE")
    if path is None:
        candidate = os.path.join(os.path.dirname(__file__), os.pardir,
                                 "settings.toml")
        path = candidate if os.path.exists(candidate) else None
    if path:
        import tomllib
        with open(path, "rb") as fh:
            doc = tomllib.load(fh)
        env_name = env or os.environ.get("ENGINE_ENV", "dev")
        for section in ("default", env_name):
            for key, val in doc.get(section, {}).items():
                if key in known:
                    layered[key] = _coerce(known[key], val)

    for name, ftype in known.items():
        raw = os.environ.get(f"ENGINE_{name.upper()}")
        if raw is not None:
            layered[name] = _coerce(ftype, raw)

    for key, val in (overrides or {}).items():
        if val is not None:
            layered[key] = val
    return ExtractConfig(**layered)


#: Small-payload config used by unit tests — a 64 KiB size guard lets
#: fixtures exercise the oversize-failure path cheaply.
TEST_CONFIG = ExtractConfig(max_payload_bytes=64 * 1024, max_pages_per_doc=16,
                            n_buckets=8, shuffle_partitions=8,
                            salt_spans=True)  # tests exercise the salted path
