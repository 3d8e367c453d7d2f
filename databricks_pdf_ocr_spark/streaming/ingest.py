"""Streaming ingestion: incremental file → source-table pipeline.

Open-source re-expression of the reference's Autoloader handler
(``handlers/autoloader.py:57-116``): a Structured Streaming source over a
landing directory, the same filter + computed projection, an
``availableNow`` (drain-then-stop) trigger, and an exactly-once sink with
a checkpoint location — re-running after new files land ingests only the
new files; re-running with nothing new appends nothing.

Mapping (SURVEY.md §2.1, §2.9):
- S1 ``cloudFiles``/binaryFile stream → ``readStream.format("binaryFile")``
  (true binary ingestion; Spark's binaryFile source is batch+stream capable)
  with a parquet-stream fallback used by hermetic tests.
- S2 ``maxFilesPerTrigger`` rate cap → same option.
- T1/T2/T3 checkpointed exactly-once, ``Trigger.AvailableNow``,
  ``awaitTermination`` → identical API.
- P1 regex path filter (``autoloader.py:73``) → ``rlike`` on path.
- P2 computed projection (``autoloader.py:78-87``) → sha2 file_id,
  regexp_extract basename, content sha2, current_timestamp.

The sink is the parquet/Iceberg source table read downstream by batch
jobs; ``mergeSchema`` is deliberately NOT reproduced (fixed schemas —
SURVEY.md §2.9 T4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def binary_file_stream(spark: SparkSession, landing_dir: str,
                       glob: str = "*.pdf",
                       max_files_per_trigger: int | None = 100) -> DataFrame:
    """Streaming scan of raw files → (path, modificationTime, length, content).

    Reference: ``setup_autoloader_stream`` (autoloader.py:57-69).
    """
    # streaming sources need an explicit schema; this is binaryFile's fixed one
    schema = ("path string, modificationTime timestamp, "
              "length long, content binary")
    r = (spark.readStream.format("binaryFile").schema(schema)
         .option("pathGlobFilter", glob))
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.load(landing_dir)


def project_source_rows(files: DataFrame) -> DataFrame:
    """The reference's filter + computed projection (autoloader.py:73-87)."""
    return (
        files
        .filter(F.col("path").rlike(r".*\.(pdf|PDF)$"))
        .select(
            F.sha2(F.col("path"), 256).alias("file_id"),
            F.col("path").alias("file_path"),
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
            F.col("length").alias("file_size"),
            F.col("content").alias("file_content"),
            F.sha2(F.col("content"), 256).alias("content_hash"),
            F.col("modificationTime").alias("modification_time"),
            F.current_timestamp().alias("ingestion_timestamp"),
        )
    )


def start_ingestion_stream(spark: SparkSession, landing_dir: str,
                           target_dir: str, checkpoint_dir: str,
                           glob: str = "*.pdf",
                           max_files_per_trigger: int | None = 100):
    """Start the drain-all-then-stop ingestion (autoloader.py:91-110).

    Returns the StreamingQuery; callers ``awaitTermination()`` (T3).
    Exactly-once across restarts comes from the checkpoint location —
    the streaming-native form of the engine's batch bucket checkpoint.
    """
    src = binary_file_stream(spark, landing_dir, glob, max_files_per_trigger)
    rows = project_source_rows(src)
    return (rows.writeStream
            .format("parquet")
            .outputMode("append")
            .option("path", target_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def ingest_available(spark: SparkSession, landing_dir: str, target_dir: str,
                     checkpoint_dir: str, glob: str = "*.pdf",
                     max_files_per_trigger: int | None = 100) -> None:
    """Run one drain (reference ``ingest_pdfs_batch``, autoloader.py:112-116)."""
    q = start_ingestion_stream(spark, landing_dir, target_dir, checkpoint_dir,
                               glob, max_files_per_trigger)
    q.awaitTermination()


def start_warc_ingestion_stream(spark: SparkSession, landing_dir: str,
                                target_dir: str, checkpoint_dir: str,
                                glob: str = "*.warc.gz",
                                max_files_per_trigger: int | None = 8,
                                max_record_bytes: int | None = None):
    """Streaming crawl mouth: new .warc.gz segments landing in a
    directory are drained exactly-once into the WARC record table
    (``sources/warc.WARC_RECORD_DDL``), the streaming twin of
    ``warc.read_warc_segments``.

    Shape: binaryFile stream (one task per segment — gzip unsplittable)
    → the SAME streaming-decompress ``warc_records`` mapInPandas kernel
    (stateless, so it runs unchanged under Structured Streaming) →
    checkpointed append sink.  ``maxFilesPerTrigger`` caps segments per
    micro-batch: segments are ~1 GB gz, so the cap IS the ingest memory
    budget.  The latest-capture-per-URI dedup (``warc_to_documents``)
    stays a BATCH step downstream — it needs a global window over
    (target_uri, warc_date), which append-mode streaming cannot
    express; landing raw records exactly-once and curating in batch is
    the standard crawl-lake split.

    Returns the StreamingQuery; callers ``awaitTermination()``.
    """
    from ..sources import warc as warc_src

    src = binary_file_stream(spark, landing_dir, glob, max_files_per_trigger)
    recs = warc_src.warc_records(
        src.select("path", "content"),
        max_record_bytes=max_record_bytes or warc_src.DEFAULT_MAX_RECORD)
    return (recs.writeStream
            .format("parquet")
            .outputMode("append")
            .option("path", target_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def ingest_warc_available(spark: SparkSession, landing_dir: str,
                          target_dir: str, checkpoint_dir: str,
                          glob: str = "*.warc.gz",
                          max_files_per_trigger: int | None = 8) -> None:
    """Run one drain of the WARC landing directory."""
    q = start_warc_ingestion_stream(spark, landing_dir, target_dir,
                                    checkpoint_dir, glob,
                                    max_files_per_trigger)
    q.awaitTermination()


def start_lines_ingestion_stream(spark: SparkSession, landing_dir: str,
                                 target_dir: str, checkpoint_dir: str,
                                 glob: str,
                                 max_files_per_trigger: int | None = 8):
    """Exactly-once raw-LINE landing for any line-delimited crawl dump:
    new files matching ``glob`` drain into a raw-line table
    (value, file).  Parsing + error routing + latest-key-wins stay
    BATCH steps downstream (``jsonl.lines_to_documents`` /
    ``csvsrc.read_csv_lines`` over the landed table) — the dedup needs
    a per-key window append-mode streaming cannot express, and line
    POSITIONS are also assigned in that batch step
    (``monotonically_increasing_id`` is rejected under streaming; the
    landed parquet preserves per-file write order, so batch assignment
    is equivalent).  Landing raw exactly-once and curating in batch is
    the same crawl-lake split as the WARC mouth.

    Returns the StreamingQuery; callers ``awaitTermination()``.
    """
    from pyspark.sql import functions as F

    reader = (spark.readStream.format("text")
              .option("pathGlobFilter", glob))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = (reader.load(landing_dir)
             .select(F.col("value"),
                     F.input_file_name().alias("file")))
    return (lines.writeStream
            .format("parquet")
            .outputMode("append")
            .option("path", target_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def start_jsonl_ingestion_stream(spark: SparkSession, landing_dir: str,
                                 target_dir: str, checkpoint_dir: str,
                                 glob: str = "*.jsonl*",
                                 max_files_per_trigger: int | None = 8):
    """Streaming twin of ``jsonl.read_jsonl_dir`` (see
    ``start_lines_ingestion_stream``)."""
    return start_lines_ingestion_stream(spark, landing_dir, target_dir,
                                        checkpoint_dir, glob,
                                        max_files_per_trigger)


def start_csv_ingestion_stream(spark: SparkSession, landing_dir: str,
                               target_dir: str, checkpoint_dir: str,
                               glob: str = "*.csv*",
                               max_files_per_trigger: int | None = 8):
    """Streaming twin of ``csvsrc.read_csv_lines``: land raw CSV lines
    exactly-once; parse with explicit schema + typed error rows in batch
    over the landed table (see ``start_lines_ingestion_stream``)."""
    return start_lines_ingestion_stream(spark, landing_dir, target_dir,
                                        checkpoint_dir, glob,
                                        max_files_per_trigger)
