"""SparkSession factory.

Replaces the reference's Databricks Connect session factory
(``config.py:177-202``) with a plain ``SparkSession.builder`` suitable for
``spark-submit --py-files`` on any cluster, plus local[N] for tests/bench.

Scale-relevant defaults:
- AQE on (runtime partition coalescing + skew-join splitting);
- Arrow enabled, with ``maxRecordsPerBatch`` at 256 rows.  That bounds
  rows, not bytes: what bounds the bytes of a batch of multi-KB..MB
  document payloads (SURVEY.md §4.2.4) is Spark's own
  ``spark.sql.execution.arrow.maxBytesPerBatch`` (at most 64 rows of
  1 MiB per batch at its default, measured on pyspark 4.1.2).  The bound
  holds on the kernel's input; with ``--media-payloads`` the embedded
  image bytes also cross its output boundary, as payload columns;
- shuffle partitions sized to the machine, not the 200 default;
- session timezone pinned UTC so DuckDB-oracle comparisons are stable.

``arrow_table`` turns small driver-held rows into a ``pyarrow.Table``;
``local_frame`` into a DataFrame built from one, which no Spark job reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T


def get_spark(
    master: str | None = None,
    app_name: str = "databricks_pdf_ocr_spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", cores))
    b = (
        SparkSession.builder.appName(app_name)
        # local mode: the driver heap is the only executor memory knob;
        # only honored if set before the JVM starts (first session wins)
        .config("spark.driver.memory",
                driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r06): preferSortMergeJoin=false + the AQE SMJ→SHJ
        # rewrite were tried here and REVERTED — measured at the 10x
        # bench shape they regressed the non-equi band join 7x
        # (band_join_error_clicks 0.7 s → 5.0 s: the banded range
        # condition re-evaluates against every build-side hash bucket)
        # and slowed ann_lsh/lm_bigram joins; sort-merge + AQE broadcast
        # conversion is the right default for this engine's join mix.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_table(rows: list[tuple], schema: T.StructType):
    """Driver-held ``rows`` (tuples in ``schema`` order) as a
    ``pyarrow.Table`` with ``schema``'s Arrow types and nullability,
    also for an empty ``rows`` — the one Spark → Arrow type mapping."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: T.StructType | str) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema`` order; ``schema`` a
    ``StructType`` or a DDL string) as a DataFrame.

    Built from ``arrow_table(rows, schema)``, so it plans as a
    ``LocalTableScan``: building and reading it runs no Spark job.
    ``createDataFrame(list)`` instead plans as ``Scan ExistingRDD`` over a
    PythonRDD, and every read of that frame runs one job of
    ``defaultParallelism`` Python tasks.  This is the package's one
    ``createDataFrame`` call (``tests/test_python_task_floor.py``).
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
