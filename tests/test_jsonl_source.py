"""JSONL crawl-dump source (sources/jsonl).

End-to-end vs the no-Spark golden is the `jsonl_e2e` oracle row; here:
error-row accounting and latest-wins semantics.
"""

from __future__ import annotations

import json

from databricks_pdf_ocr_spark import fixtures
from databricks_pdf_ocr_spark.sources import jsonl as J


def _lines_df(spark, lines):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(lines)], "line_no long, value string")


def test_every_line_is_document_or_error(spark):
    lines = fixtures.jsonl_corpus_lines(seed=42, n=120)
    df = _lines_df(spark, lines)
    docs = J.lines_to_documents(df)
    errs = J.error_lines(df)
    # every line is a document or an error; dup URLs collapse further
    n_valid = len(lines) - errs.count()
    assert 0 < docs.count() <= n_valid
    assert docs.count() == docs.select("doc_id").distinct().count()
    reasons = {r["reason"] for r in errs.collect()}
    assert reasons == {"unparseable", "missing url", "missing text"}


def test_latest_line_wins_per_url(spark):
    lines = [
        json.dumps({"url": "http://a/1", "text": "old", "lang": "en"}),
        json.dumps({"url": "http://a/1", "text": "new", "lang": "en"}),
    ]
    got = J.lines_to_documents(_lines_df(spark, lines)).collect()
    assert len(got) == 1
    assert got[0]["text"] == "new" and got[0]["line_no"] == 1
