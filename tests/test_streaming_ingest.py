"""Streaming ingestion: exactly-once incremental file → source table
(reference contract: handlers/autoloader.py — re-run skips seen files)."""

import base64
import os

from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.functions import pdfmini
from databricks_pdf_ocr_spark.streaming.ingest import ingest_available


def _write_pdf(path: str, text: str):
    with open(path, "wb") as f:
        f.write(pdfmini.write_pdf([{"runs": [(72, 720, text)]}]))


def test_incremental_exactly_once(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "pdf_source")
    ckpt = str(tmp_path / "ckpt")

    _write_pdf(str(landing / "a.pdf"), "doc a")
    _write_pdf(str(landing / "b.pdf"), "doc b")
    (landing / "ignore.txt").write_text("not a pdf")

    ingest_available(spark, str(landing), target, ckpt, glob="*")
    df1 = spark.read.parquet(target)
    assert df1.count() == 2  # txt filtered by the rlike predicate
    cols = set(df1.columns)
    assert {"file_id", "file_path", "file_name", "file_size", "file_content",
            "content_hash", "modification_time", "ingestion_timestamp"} <= cols
    names = {r[0] for r in df1.select("file_name").collect()}
    assert names == {"a.pdf", "b.pdf"}

    # drain again with nothing new → appends nothing (exactly-once)
    ingest_available(spark, str(landing), target, ckpt, glob="*")
    assert spark.read.parquet(target).count() == 2

    # new file lands → only it is ingested
    _write_pdf(str(landing / "c.pdf"), "doc c")
    ingest_available(spark, str(landing), target, ckpt, glob="*")
    df3 = spark.read.parquet(target)
    assert df3.count() == 3
    # deterministic identities: file_id = sha2(path), content_hash = sha2(bytes)
    row = df3.filter(F.col("file_name") == "c.pdf").first()
    import hashlib
    assert row["file_id"] == hashlib.sha256(row["file_path"].encode()).hexdigest()
    assert row["content_hash"] == hashlib.sha256(bytes(row["file_content"])).hexdigest()


def test_ingested_pdfs_feed_extraction(spark, tmp_path):
    """Source-table rows → interleaved documents → extraction: the two
    pipelines compose (ingest S1-S3 then the north-rule batch job)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_pdf(str(landing / "x.pdf"), "hello stream")
    ingest_available(spark, str(landing), str(tmp_path / "src"),
                     str(tmp_path / "ck"), glob="*")
    src = spark.read.parquet(str(tmp_path / "src"))
    docs = src.select(
        F.col("file_id").alias("doc_id"),
        F.array(F.struct(
            F.lit("pdf").alias("kind"),
            F.base64(F.col("file_content")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"))).alias("spans"))
    from conftest import TEST_CONFIG
    from databricks_pdf_ocr_spark.operators.extract import (
        reassemble, run_extraction)
    out = reassemble(run_extraction(docs, TEST_CONFIG)).collect()
    assert len(out) == 1
    assert out[0]["spans"][0]["text"] == "hello stream"
