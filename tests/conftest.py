import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from databricks_pdf_ocr_spark.config import ExtractConfig
from databricks_pdf_ocr_spark.session import get_spark

#: Small-payload config for unit tests — a 64 KiB size guard lets
#: fixtures exercise the oversize-failure path cheaply; tests exercise
#: the salted path
TEST_CONFIG = ExtractConfig(max_payload_bytes=64 * 1024, max_pages_per_doc=16,
                            n_buckets=8, shuffle_partitions=8,
                            salt_spans=True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", app_name="tests", shuffle_partitions=8,
                  extra_conf={
                      "spark.sql.execution.arrow.maxRecordsPerBatch": "64"})
    yield s
    s.stop()


@pytest.fixture
def in_job_group(spark):
    """``in_job_group(group, fn)`` runs ``fn()`` with every Spark job it
    starts tagged ``group``; returns its result and the job ids."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sorted(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture
def tmp_tables(tmp_path):
    return str(tmp_path / "tables")


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
