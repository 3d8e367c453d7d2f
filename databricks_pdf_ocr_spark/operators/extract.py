"""The distributed extraction operators: explode → extract → reassemble.

This is the inversion of the reference's sequential driver loop
(``processors/ocr.py:150-202``): the work set never leaves the cluster;
per-span byte work runs in an Arrow-batched ``mapInPandas`` stage on
executors; ordering is restored with built-in array functions.

Plan shape (2 shuffles, both necessary):

    scan(documents)                              -- columnar, pruned
      → posexplode(spans)                        -- doc → span fan-out (A4 inverse)
      → repartition(P, doc_id, offset)           -- SALT: spreads heavy docs'
                                                    spans uniformly; breaks the
                                                    multi-thousand-span skew the
                                                    north rule calls out
      → mapInPandas(extract_batch)               -- Arrow batches; pure-Python
                                                    pdf/html/ocr kernels per span
      → groupBy(doc_id).agg(array_sort(collect_list(struct(...))))
                                                 -- offset-sorted reassembly;
                                                    array_sort makes order
                                                    deterministic regardless of
                                                    collect_list arrival order
      → transform(..., dense renumber)           -- output offsets 0..n-1

At 100 TB: the explode+repartition keys on ``(doc_id, offset)`` so no
single reducer sees a whole heavy document during extraction; only the
final reassembly groups a doc onto one reducer, and by then payloads have
been reduced to extracted text.  AQE handles residual skew.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..config import ExtractConfig
from ..schemas import RESULTS_DDL
from ..worker import drop_zip_importers


def bucket_col(n_buckets: int) -> Column:
    """Checkpoint bucket: pmod(xxhash64(doc_id), n) — cheap, JVM-side,
    deterministic; the unit of lineage + resume granularity."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def explode_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → one row per span.

    ``posexplode`` is the Spark-native form of the reference's per-page
    Python loop (``processors/ocr.py:110-128`` — SURVEY.md §1.2 mapping).
    The *stored* span order is untrusted (fixtures shuffle it); ``offset``
    is the authoritative order, so we drop the explode position.
    """
    offsets = F.transform("spans", lambda s: s["offset"])
    return documents.select(
        "doc_id",
        F.size("spans").cast("int").alias("total_spans"),
        # flag ONE span BEFORE the explode scatters a doc's spans across
        # partitions: downstream lineage counts documents with
        # sum(is_first) — no count-distinct Expand over all rows.
        # array_position of the min (1-based, FIRST occurrence) rather
        # than offset == min: duplicate offsets would flag several spans
        # and silently overcount docs_done (ADVICE r3).
        F.array_position(offsets, F.array_min(offsets)).alias("first_pos"),
        F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        "total_spans",
        (F.col("pos") + 1 == F.col("first_pos")).alias("is_first"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


#: the columns the kernel adds to each results row when payloads are
#: requested: the embedded pdf image behind a media row (``Image`` of
#: ``functions/extract_span.py``), or the error of a failed pdf span
#: (``page_idx`` -1); null on every other row
PAYLOAD_DDL = ("page_idx int, image_idx int, format string, width int, "
               "height int, content binary, extract_ok boolean, "
               "image_error string")
_NO_IMAGE = (None,) * 7


def _make_extract_batch(cfg: ExtractConfig, payloads: bool):
    """Build the mapInPandas kernel (closure over a tiny frozen config —
    safe to pickle per task); with ``payloads``, its rows carry the
    ``PAYLOAD_DDL`` columns too."""
    max_bytes = cfg.max_payload_bytes
    max_pages = cfg.max_pages_per_doc
    max_retries = cfg.max_retries
    backoff = cfg.retry_backoff_s

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the task so --py-files deployment finds the package
        from databricks_pdf_ocr_spark.functions.extract_span import extract_span
        from databricks_pdf_ocr_spark.functions.ocr_fallback import OCR_MODEL
        drop_zip_importers()

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "result_id", "doc_id", "offset", "sub_idx", "total_spans",
                "is_first_span", "kind", "text", "media_ref", "status",
                "error_message", "ocr_fallback", "pages_parsed",
                "duration_ms", "ocr_model")}
            if payloads:
                out.update({k: [] for k in (
                    "page_idx", "image_idx", "format", "width", "height",
                    "content", "extract_ok", "image_error")})

            def emit(rid, did, off, sub, tot, first, kind, text, mref,
                     status, err, fb, pages, dur, image):
                out["result_id"].append(rid)
                out["doc_id"].append(did)
                out["offset"].append(off)
                out["sub_idx"].append(sub)
                out["total_spans"].append(tot)
                out["is_first_span"].append(first)
                out["kind"].append(kind)
                out["text"].append(text)
                out["media_ref"].append(mref)
                out["status"].append(status)
                out["error_message"].append(err)
                out["ocr_fallback"].append(fb)
                out["pages_parsed"].append(pages)
                out["duration_ms"].append(dur)
                out["ocr_model"].append(OCR_MODEL)
                if payloads:
                    pi, ii, fmt, w, h, content, ierr = image or _NO_IMAGE
                    out["page_idx"].append(pi)
                    out["image_idx"].append(ii)
                    out["format"].append(fmt)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["content"].append(content)
                    out["extract_ok"].append(
                        None if image is None else ierr is None)
                    out["image_error"].append(ierr)

            for did, tot, first, kind, text, mref, off in zip(
                    pdf["doc_id"], pdf["total_spans"], pdf["is_first"],
                    pdf["kind"], pdf["text"], pdf["media_ref"],
                    pdf["offset"]):
                t0 = time.perf_counter()
                text_in = None if text is None or (isinstance(text, float)) else text
                mref_in = None if mref is None or (isinstance(mref, float)) else mref
                status, err, pages, outputs, images = extract_span(
                    kind, text_in, mref_in,
                    max_payload_bytes=max_bytes, max_pages=max_pages,
                    max_retries=max_retries, retry_backoff_s=backoff)
                dur = int((time.perf_counter() - t0) * 1000)
                off = int(off); tot = int(tot); first = bool(first)
                if status == "success" and outputs:
                    for sub, (k, t, m, fb) in enumerate(outputs):
                        rid = hashlib.sha256(
                            f"{did}:{off}:{sub}".encode()).hexdigest()
                        emit(rid, did, off, sub, tot, first and sub == 0,
                             k, t, m, "success", None, fb,
                             pages if sub == 0 else 0,
                             dur if sub == 0 else 0, images.get(sub))
                else:
                    # failed span, or success with no extractable output:
                    # exactly one bookkeeping row (error contract —
                    # reference processors/ocr.py:132-148)
                    rid = hashlib.sha256(f"{did}:{off}:0".encode()).hexdigest()
                    emit(rid, did, off, 0, tot, first, kind, None, mref_in,
                         status if status == "failed" else "empty",
                         err, False, pages, dur, images.get(0))
            yield pd.DataFrame(out)

    return extract_batch


def _run_kernel(spans_df: DataFrame, cfg: ExtractConfig, salt: bool,
                payloads: bool) -> DataFrame:
    if salt:
        # hash-repartition on (doc_id, offset): spans of one heavy doc are
        # spread across all partitions → uniform task durations (the 4N-core
        # scaling run must not be straggler-bound — BASELINE.md protocol)
        spans_df = spans_df.repartition(cfg.shuffle_partitions,
                                        F.col("doc_id"), F.col("offset"))
    ddl = RESULTS_DDL + (", " + PAYLOAD_DDL if payloads else "")
    return spans_df.mapInPandas(_make_extract_batch(cfg, payloads), schema=ddl)


def extract_spans(spans_df: DataFrame, cfg: ExtractConfig,
                  salt: bool | None = None) -> DataFrame:
    """Run the extraction kernel over span rows → flat results rows."""
    return _run_kernel(spans_df, cfg,
                       cfg.salt_spans if salt is None else salt, False)


def extract_spans_and_payloads(spans_df: DataFrame,
                               cfg: ExtractConfig) -> DataFrame:
    """``extract_spans`` whose rows also carry the ``PAYLOAD_DDL``
    columns: the one kernel pass that feeds both the results and the
    ``media_payloads`` table (``payload_rows``)."""
    return _run_kernel(spans_df, cfg, cfg.salt_spans, True)


def payload_rows(extracted: DataFrame, *carry: str) -> DataFrame:
    """The ``media_payloads`` rows of an ``extract_spans_and_payloads``
    output, followed by its ``carry`` columns: one per embedded raster
    image of a pdf span, keyed by the ref of its media row, and one
    null-ref ``extract_ok=false`` row per failed pdf span.  Narrow:
    payload bytes never shuffle."""
    return (extracted.filter(F.col("page_idx").isNotNull())
            .select(F.when(F.col("kind") == "media", F.col("media_ref"))
                    .alias("media_ref"),
                    "doc_id", "offset", "page_idx", "image_idx", "format",
                    "width", "height", "content", "extract_ok",
                    F.col("image_error").alias("error_message"), *carry))


def reassemble(results: DataFrame) -> DataFrame:
    """Flat per-span results → (doc_id, spans) with dense output offsets.

    Offset-sorted span reassembly per the north rule: collect_list order is
    nondeterministic, so sort happens *inside* the array (``array_sort`` on
    structs compares fields lexicographically — (offset, sub_idx) lead), then
    a ``transform`` renumbers densely.  All JVM-side; no Python touches data.

    Rerun idempotency folds in for free: duplicate result rows from a
    crash-between-write-and-mark are byte-identical (deterministic
    result ids), so ``array_distinct`` after the sort removes them inside
    the same aggregate — no extra shuffle, unlike a result_id
    ``dropDuplicates`` upstream (which would shuffle+sort every payload a
    second time; measured as the dominant non-extraction cost in
    ``.explain``).
    """
    sortable = F.struct(
        F.col("offset"), F.col("sub_idx"),
        F.col("kind"), F.col("text"), F.col("media_ref"),
    )
    assembled = (
        results.filter(F.col("status") == "success")
        .groupBy("doc_id")
        .agg(F.array_distinct(F.array_sort(F.collect_list(sortable)))
             .alias("sorted_spans"))
        .select(
            "doc_id",
            F.transform(
                "sorted_spans",
                lambda x, i: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    return assembled


def run_extraction(documents: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """documents → flat results (no IO; callers persist + reassemble)."""
    return extract_spans(explode_spans(documents), cfg)
