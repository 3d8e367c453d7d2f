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
