"""Explicit StructTypes for every table the engine touches.

Reference analogue: ``src/databricks_pdf_ocr/schemas.py`` (StructTypes +
DDL for pdf_source / pdf_ocr_results / pdf_processing_state).  Differences
by design (SURVEY.md §1.2):

- the input is the nested interleaved-document shape from
  ``BASELINE.json`` ``input_hint`` instead of flat binary rows;
- results are one row per extracted *span* (the reference's one row per
  *page*, ``schemas.py:30-46``), with a deterministic ``result_id``
  (``sha2(doc_id||offset||sub)``) instead of ``uuid4`` so reruns are
  idempotent (dedup-on-read);
- the run-state table is upgraded to partition granularity per the north
  rule (per-partition lineage + metrics).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# 1. Input: interleaved text + media documents (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), False),       # 'text'|'html'|'pdf'|'image'
    T.StructField("text", T.StringType(), True),        # payload (b64 for pdf bytes)
    T.StructField("media_ref", T.StringType(), True),   # pointer for media spans
    T.StructField("offset", T.IntegerType(), False),    # dense 0-based doc order
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT, containsNull=False), False),
])

# ---------------------------------------------------------------------------
# 2. Flat per-span results (reference: pdf_ocr_results, schemas.py:30-46)
# ---------------------------------------------------------------------------

RESULTS_SCHEMA = T.StructType([
    T.StructField("result_id", T.StringType(), False),      # sha2(doc_id:offset:sub)
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),        # input-span offset
    T.StructField("sub_idx", T.IntegerType(), False),       # fan-out index within span
    T.StructField("total_spans", T.IntegerType(), False),   # ref: total_pages
    # exactly one true row per document (min-offset span, sub_idx 0) —
    # lets lineage count docs with a plain SUM instead of a
    # count-distinct Expand pass over every results row
    T.StructField("is_first_span", T.BooleanType(), False),
    T.StructField("kind", T.StringType(), False),           # output kind ('text'|'media')
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("status", T.StringType(), False),         # success|failed
    T.StructField("error_message", T.StringType(), True),
    T.StructField("ocr_fallback", T.BooleanType(), False),  # page text came from fallback
    T.StructField("pages_parsed", T.IntegerType(), False),  # pdf pages behind this row
    T.StructField("duration_ms", T.LongType(), False),
    T.StructField("ocr_model", T.StringType(), False),      # ref: schemas.py:41
])

# Full schema of the persisted results table: kernel output plus the run
# columns jobs/extract.py stamps before the write (`bucket` is the
# partition directory column).  Readers pass this explicitly (ADVICE r3):
# inferring from a table that mixes pre-run_seq files with new ones
# samples ONE footer, can miss `run_seq`, and latest_results would then
# fall back to wall-clock ordering — the stale-doc revival run_seq exists
# to prevent.  run_seq is nullable here: old files yield null, which
# loses to any stamped ordinal in the latest-wins struct max.
RESULTS_RUN_SCHEMA = T.StructType(
    RESULTS_SCHEMA.fields + [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("run_seq", T.LongType(), True),
        T.StructField("input_fingerprint", T.StringType(), False),
        T.StructField("processed_at", T.TimestampType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ])



def ddl(schema: T.StructType, names: tuple[str, ...] | None = None) -> str:
    """``"name type, ..."`` for ``schema``'s fields, or for ``names`` in
    that order.  A DDL string declares every column nullable, which is
    what the results files carry: mapInPandas output and the explicit
    reader schemas are both nullable."""
    picked = schema.fields if names is None else [schema[n] for n in names]
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in picked)


# Schema string for mapInPandas.
RESULTS_DDL = ddl(RESULTS_SCHEMA)

# ---------------------------------------------------------------------------
# 3. Checkpoint / lineage (reference: pdf_processing_state, schemas.py:49-63,
#    upgraded to per-partition granularity per the north rule)
# ---------------------------------------------------------------------------

CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("run_seq", T.LongType(), False),               # monotonic run ordinal
    T.StructField("input_fingerprint", T.StringType(), False),  # identifies the work set
    T.StructField("bucket", T.IntegerType(), False),            # pmod(xxhash64(doc_id), n)
    T.StructField("status", T.StringType(), False),             # done|failed
    T.StructField("docs_done", T.LongType(), False),
    T.StructField("spans_in", T.LongType(), False),
    T.StructField("pages_parsed", T.LongType(), False),
    T.StructField("ocr_fallbacks", T.LongType(), False),
    T.StructField("span_count", T.LongType(), False),           # output spans
    T.StructField("failed_spans", T.LongType(), False),
    T.StructField("duration_ms", T.LongType(), False),
    T.StructField("config_json", T.StringType(), False),        # ref: state.py:36
    T.StructField("updated_at", T.TimestampType(), False),
])
