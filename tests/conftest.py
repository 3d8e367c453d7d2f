import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from databricks_pdf_ocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", app_name="tests",
                  shuffle_partitions=8, arrow_batch_rows=64)
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
