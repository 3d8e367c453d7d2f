"""End-to-end: Spark extraction output must be span-sequence-equal to the
single-process golden pipeline on (kind, text, media_ref, order) — the
north-rule invariant."""

import pytest

from databricks_pdf_ocr_spark import fixtures
from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.operators.extract import (
    explode_spans, reassemble, run_extraction,
)
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA
from pyspark.sql import functions as F
from tools.goldens import golden_extract


N_DOCS = 60
SEED = 42


@pytest.fixture(scope="module")
def input_rows():
    return list(fixtures.gen_rows(SEED, N_DOCS, fixtures.TINY))


@pytest.fixture(scope="module")
def golden(input_rows):
    return golden_extract(input_rows, TEST_CONFIG)


def _spark_assembled_to_dict(assembled_df):
    out = {}
    for row in assembled_df.collect():
        out[row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]
        ]
    return out


def test_span_sequence_equality(spark, input_rows, golden):
    df = spark.createDataFrame(input_rows, schema=DOCUMENTS_SCHEMA)
    results = run_extraction(df, TEST_CONFIG)
    assembled = reassemble(results)
    got = _spark_assembled_to_dict(assembled)

    gold_nonempty = {k: v for k, v in golden.items() if v}
    assert set(got) == set(gold_nonempty), (
        f"doc set mismatch: missing={set(gold_nonempty) - set(got)} "
        f"extra={set(got) - set(gold_nonempty)}")
    for did, gold_spans in gold_nonempty.items():
        assert got[did] == gold_spans, f"span sequence mismatch for {did}"


def test_fanout_and_failure_rows(spark, input_rows):
    df = spark.createDataFrame(input_rows, schema=DOCUMENTS_SCHEMA)
    results = run_extraction(df, TEST_CONFIG).cache()
    try:
        n_in_spans = sum(len(s) for _, s in input_rows)
        # every input span is accounted for: distinct (doc_id, offset) == input
        accounted = results.select("doc_id", "offset").distinct().count()
        assert accounted == n_in_spans
        # error fixtures produce failed rows with messages
        failed = results.filter(F.col("status") == "failed")
        assert failed.count() > 0
        assert failed.filter(F.col("error_message").isNull()).count() == 0
        # ocr fallback rows exist (image-only pdf pages) and are flagged
        assert results.filter(F.col("ocr_fallback")).count() > 0
        # deterministic ids: rerun produces identical result_ids
        ids1 = {r[0] for r in results.select("result_id").collect()}
        results2 = run_extraction(df, TEST_CONFIG)
        ids2 = {r[0] for r in results2.select("result_id").collect()}
        assert ids1 == ids2
    finally:
        results.unpersist()


def test_rerun_idempotency_via_dedup(spark, input_rows, golden):
    """Simulate a partially-double-processed results table (run died after
    write, before checkpoint mark): union of two identical runs must
    reassemble to the same sequences after dedup-on-read."""
    df = spark.createDataFrame(input_rows, schema=DOCUMENTS_SCHEMA)
    r1 = run_extraction(df, TEST_CONFIG)
    r2 = run_extraction(df.limit(N_DOCS // 2), TEST_CONFIG)
    doubled = r1.unionByName(r2)
    assembled = reassemble(doubled)
    got = _spark_assembled_to_dict(assembled)
    gold_nonempty = {k: v for k, v in golden.items() if v}
    assert got == gold_nonempty


def test_explode_spans_shape(spark, input_rows):
    df = spark.createDataFrame(input_rows, schema=DOCUMENTS_SCHEMA)
    spans = explode_spans(df)
    assert spans.columns == ["doc_id", "total_spans", "is_first", "kind",
                             "text", "media_ref", "offset"]
    assert spans.count() == sum(len(s) for _, s in input_rows)
    # exactly one first-span marker per document
    assert (spans.filter("is_first").count()
            == spans.select("doc_id").distinct().count())


def test_duplicate_offsets_flag_exactly_one_first(spark):
    """ADVICE r3: a doc carrying duplicate offsets must still flag exactly
    ONE is_first span, or lineage docs_done (sum of is_first_span)
    silently overcounts."""
    rows = [("dup-doc", [
        {"kind": "text", "text": "a", "media_ref": None, "offset": 5},
        {"kind": "text", "text": "b", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "c", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "d", "media_ref": None, "offset": 0},
    ])]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    spans = explode_spans(df)
    assert spans.count() == 4
    firsts = spans.filter("is_first").collect()
    assert len(firsts) == 1
    assert firsts[0]["offset"] == 0
