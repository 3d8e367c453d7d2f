"""Dirty-CSV tabular source (and sink) for crawl-lake side tables.

Tabular training-data inputs (metadata dumps, label files, click logs)
routinely ship as CSV with a sliver of malformed lines.  The reference
engine has no tabular mouth at all (its only input is a directory of
PDFs, ``managers/state.py``); this module gives the Spark re-expression
the same contract as the JSONL/WARC mouths (``sources/jsonl.py``):

- **Explicit schema, never inference.**  Schema inference is a full
  extra pass over the data — a non-starter at 100 TB.
- **Text scan + ``from_csv``**, not ``spark.read.csv``: the DataFrame
  CSV reader forbids filtering on its internal corrupt-record column
  without a cache (Spark's long-standing restriction), while a text
  scan keeps plain files SPLITTABLE (parallelism = input splits, not
  files) and parses with the same JVM ``from_csv`` expression either
  way.  ``.csv.gz`` files ride the same path at one task per file
  (gzip is unsplittable — the file layout is the shipped parallelism,
  exactly the WARC-segment rule).
- **One record per LINE.**  Quoted embedded newlines require
  ``multiLine``, which makes files unsplittable.  A record that
  fails arity or a field cast under PERMISSIVE becomes a typed error
  row — malformed input NEVER kills the job and is never silently
  dropped (the JSONL mouth's accounting rules).  Fields must not
  contain raw newlines (the sink below never emits them for our
  tables; a writer that needs them must \n-escape at write time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_CORRUPT = "__corrupt"

#: sink/source dialect — quote everything, double embedded quotes, so
#: newline-free string columns survive the round-trip on one line
CSV_OPTIONS = {
    "quote": '"',
    "escape": '"',
    "mode": "PERMISSIVE",
    "columnNameOfCorruptRecord": _CORRUPT,
}


def read_csv_lines(spark: SparkSession, path: str,
                   schema: str) -> DataFrame:
    """Raw lines → parsed struct + error tagging.

    ``schema`` is the DDL of the DATA columns (e.g. ``"doc_id BIGINT,
    text STRING"``).  Returns one row per input line with the typed
    columns, plus ``_error`` (null for good rows) and ``_raw`` (the
    original line, kept only on error rows so the audit trail costs
    nothing on the good path).  Files carry no header line: one would
    be an error row.
    """
    lines = (spark.read.format("text").load(path)
             .select(F.col("value"),
                     F.input_file_name().alias("_file")))
    lines = lines.filter(F.length(F.trim("value")) > 0)
    parsed = lines.select(
        "value", "_file",
        F.from_csv("value", f"{schema}, {_CORRUPT} STRING",
                   CSV_OPTIONS).alias("rec"))
    data_cols = [f.strip().split(" ")[0] for f in schema.split(",")]
    err = (F.when(F.col(f"rec.{_CORRUPT}").isNotNull(),
                  F.lit("malformed"))
           .otherwise(F.lit(None).cast("string")))
    # from_csv under PERMISSIVE yields a null struct only for totally
    # unparseable input; fold that into the same error column
    err = F.when(F.col("rec").isNull(), F.lit("unparseable")).otherwise(err)
    out = parsed.select(
        *[F.col(f"rec.{c}").alias(c) for c in data_cols],
        err.alias("_error"),
        F.when(err.isNotNull(), F.col("value")).alias("_raw"),
        "_file")
    return out


def good_rows(parsed: DataFrame) -> DataFrame:
    """Typed data columns of the clean lines."""
    return (parsed.filter(F.col("_error").isNull())
            .drop("_error", "_raw", "_file"))


def error_rows(parsed: DataFrame) -> DataFrame:
    """(kind, raw line, file) per malformed line — the never-silently-
    dropped leg."""
    return (parsed.filter(F.col("_error").isNotNull())
            .select(F.col("_error").alias("kind"), "_raw", "_file"))


def write_csv(df: DataFrame, path: str) -> None:
    """Line-per-record CSV sink matching the mouth's dialect: every
    field quoted, quotes doubled (RFC 4180), so embedded commas/quotes
    round-trip on a single line (the splittability contract above)."""
    (df.write.mode("overwrite")
     .options(quote='"', escape='"', quoteAll=True, header=False,
              # the writer TRIMS field whitespace by default — data loss
              ignoreLeadingWhiteSpace=False, ignoreTrailingWhiteSpace=False)
     .csv(path))
