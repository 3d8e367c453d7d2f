"""Skew handling (SURVEY.md §7 step 6): one multi-thousand-span document
among small ones must extract correctly and, with salting on, its spans
must spread across partitions instead of pinning one task."""

from pyspark.sql import functions as F

from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.operators.extract import (
    explode_spans, extract_spans, reassemble,
)
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA
from tools.goldens import golden_extract


def _rows():
    heavy = [{"kind": "text", "text": f"heavy span number {i} content",
              "media_ref": None, "offset": i} for i in range(4000)]
    rows = [("heavy-doc", heavy)]
    for d in range(40):
        rows.append((f"small-{d}", [
            {"kind": "text", "text": f"small doc {d} span {i}",
             "media_ref": None, "offset": i} for i in range(3)]))
    return rows


def test_heavy_doc_spreads_and_reassembles(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    spans = explode_spans(df)

    # with salting: the heavy doc's 4000 spans spread across partitions
    salted = spans.repartition(8, F.col("doc_id"), F.col("offset"))
    per_part = (salted.filter(F.col("doc_id") == "heavy-doc")
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid").count().collect())
    assert len(per_part) >= 6, f"heavy doc stuck in {len(per_part)} partitions"
    assert max(r["count"] for r in per_part) < 4000 * 0.5

    # correctness: full extraction equals golden, order restored
    results = extract_spans(spans, TEST_CONFIG, salt=True)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                         for s in r["spans"]]
           for r in reassemble(results).collect()}
    gold = {k: v for k, v in golden_extract(rows, TEST_CONFIG).items() if v}
    assert got == gold
    assert len(got["heavy-doc"]) == 4000
    assert [s[3] for s in got["heavy-doc"]] == list(range(4000))
