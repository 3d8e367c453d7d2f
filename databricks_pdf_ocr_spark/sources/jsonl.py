"""JSONL crawl-dump source (WET/CC-style line-delimited documents).

The other common crawl-corpus interchange format besides WARC: one JSON
object per line, ``{"url": ..., "text": ..., "lang": ...}``.  Malformed
lines become ERROR ROWS (the module contract shared with the WARC
source: the pipeline continues, nothing throws), valid lines project
onto the documents contract, and duplicate URLs within a batch resolve
latest-line-wins (the WARC latest-capture rule).

Scale shape: parsing is ``from_json`` column expressions (JVM, zero
Python); the only shuffle is the per-URL latest-wins window, keyed on
the hashed URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: explicit line schema — never inferred (a schema-inference pass over
#: 100 TB of JSONL is a full extra scan).
LINE_SCHEMA = "url string, text string, lang string"


def lines_to_documents(lines: DataFrame) -> DataFrame:
    """(line_no, value) → documents-contract rows
    (doc_id, url, lang, text, line_no); invalid lines are absent here
    (see :func:`error_lines`).  doc_id is the sha256 of the URL — the
    WARC source's identity rule, so both mouths dedup consistently.
    """
    parsed = lines.withColumn("j", F.from_json(F.col("value"),
                                               LINE_SCHEMA))
    valid = (parsed
             .filter(F.col("j").isNotNull()
                     & F.col("j.url").isNotNull()
                     & F.col("j.text").isNotNull())
             .select(F.sha2(F.col("j.url"), 256).alias("doc_id"),
                     F.col("j.url").alias("url"),
                     F.col("j.lang").alias("lang"),
                     F.col("j.text").alias("text"),
                     F.col("line_no")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("line_no"))
    return (valid.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def error_lines(lines: DataFrame) -> DataFrame:
    """(line_no, raw, reason) for every line that did not become a
    document: unparseable JSON, or missing url/text."""
    parsed = lines.withColumn("j", F.from_json(F.col("value"),
                                               LINE_SCHEMA))
    reason = (F.when(F.col("j").isNull(), "unparseable")
              .when(F.col("j.url").isNull(), "missing url")
              .otherwise("missing text"))
    return (parsed
            .filter(F.col("j").isNull()
                    | F.col("j.url").isNull()
                    | F.col("j.text").isNull())
            .select(F.col("line_no"),
                    F.col("value").alias("raw"),
                    reason.alias("reason")))
