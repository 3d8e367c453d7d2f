"""TableIO backend contract, parametrized over BOTH backends.

The parquet-directory backend always runs.  The Iceberg backend
(``IcebergTableIO`` — the north rule's table format) runs whenever an
Iceberg runtime jar + catalog are configured on the session; this
container has no jar and no network to fetch one (verified: no
iceberg/delta jars on disk, no ivy/m2 caches), so it SKIPS loudly here
and exercises the identical contract on any real cluster.  See
COVERAGE.md §"Iceberg".
"""

import pytest

from databricks_pdf_ocr_spark.sources.tables import (
    IcebergTableIO, TableIO, iceberg_available,
)


@pytest.fixture(params=["parquet", "iceberg"])
def io(request, spark, tmp_tables):
    if request.param == "iceberg":
        if not iceberg_available(spark):
            pytest.skip("no Iceberg runtime jar/catalog in this environment "
                        "(no network installs; jar absent from image)")
        yield IcebergTableIO(spark, namespace="local.test_io")
        for t in ("extracted", "appended"):
            IcebergTableIO(spark, namespace="local.test_io").drop(t)
    else:
        yield TableIO(spark, tmp_tables)


def test_overwrite_partitions_replaces_only_touched(spark, io):
    t = "extracted"
    df1 = spark.createDataFrame(
        [(0, "a-v1"), (0, "b-v1"), (1, "c-v1")], "bucket int, payload string")
    io.overwrite_partitions(df1, t, ["bucket"])
    assert io.read(t).count() == 3

    # rewrite ONLY bucket 1; bucket 0 must remain untouched
    df2 = spark.createDataFrame([(1, "c-v2"), (1, "d-v2")],
                                "bucket int, payload string")
    io.overwrite_partitions(df2, t, ["bucket"])
    rows = {(r["bucket"], r["payload"]) for r in io.read(t).collect()}
    assert rows == {(0, "a-v1"), (0, "b-v1"), (1, "c-v2"), (1, "d-v2")}

    # adding a brand-new bucket appends a partition without touching others
    df3 = spark.createDataFrame([(2, "e-v1")], "bucket int, payload string")
    io.overwrite_partitions(df3, t, ["bucket"])
    assert io.read(t).count() == 5


def test_append_create_exists_drop(spark, io):
    t = "appended"
    assert io.read(t) is None and not io.exists(t)
    df = spark.createDataFrame([(0, "x"), (1, "y")],
                               "bucket int, payload string")
    io.append(df, t, partition_by=["bucket"])     # create-if-not-exists
    assert io.exists(t)
    io.append(df, t, partition_by=["bucket"])     # append to existing
    assert io.read(t).count() == 4
    io.drop(t)
    assert not io.exists(t)


def test_append_layout_guard(spark, tmp_tables):
    """Appending a mismatched partitioning layout must refuse loudly —
    mixing layouts in one directory mis-reads depending on which file
    Spark samples for schema (pre-partitioning tables must be dropped)."""
    io = TableIO(spark, tmp_tables)
    df = spark.createDataFrame([(0, "x")], "bucket int, payload string")

    io.append(df, "flat")                          # non-partitioned table
    with pytest.raises(ValueError, match="non-partitioned"):
        io.append(df, "flat", partition_by=["bucket"])

    io.append(df, "parted", partition_by=["bucket"])
    with pytest.raises(ValueError, match="partitioned by"):
        io.append(df, "parted")                    # flat into partitioned
    with pytest.raises(ValueError, match="partitioned by"):
        io.append(df, "parted", partition_by=["payload"])  # wrong column
    io.append(df, "parted", partition_by=["bucket"])   # matching layout ok
    assert io.read("parted").count() == 2


def test_compact_preserves_rows_and_merges_files(spark, tmp_tables):
    """Append-grown table → one file, identical content; missing table
    is a no-op report."""
    from databricks_pdf_ocr_spark.sources.tables import TableIO

    io = TableIO(spark, tmp_tables)
    for wave in range(3):
        io.append(spark.range(wave * 10, wave * 10 + 10)
                  .selectExpr("id", "id * 2 AS v").repartition(4), "t")
    before = {(r["id"], r["v"]) for r in io.read("t").collect()}
    rep = io.compact("t")
    assert rep["rows"] == 30 and rep["files_after"] < rep["files_before"]
    files = [f for f in __import__("os").listdir(io.path("t"))
             if f.endswith(".parquet")]
    assert len(files) == 1
    assert {(r["id"], r["v"]) for r in io.read("t").collect()} == before
    assert io.compact("missing") == {"files_before": 0, "files_after": 0,
                                     "rows": 0}


def test_replace_table_crash_between_renames_keeps_the_original(
        spark, tmp_tables, monkeypatch):
    """A swap killed between its two renames leaves the original only as
    ``<dst>.bak``.  The next access renames it back: the table reads as
    its original rows, and the next swap does not delete the only copy."""
    import os

    io = TableIO(spark, tmp_tables)
    io.overwrite(spark.range(5).selectExpr("id", "id * 2 AS v"), "t")
    original = {tuple(r) for r in io.read("t").collect()}
    io.overwrite(spark.range(3).selectExpr("id", "-id AS v"), "t__staged")
    staged = {tuple(r) for r in io.read("t__staged").collect()}
    dst = os.path.join(tmp_tables, "t")
    rename = os.rename

    def crash_on_swap_in(src, to):
        if to == dst and src != dst + ".bak":
            raise OSError("killed between the two renames")
        rename(src, to)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_swap_in)
        with pytest.raises(OSError, match="killed"):
            io.replace_table("t__staged", "t")
    assert os.path.isdir(dst + ".bak") and not os.path.isdir(dst)

    assert io.exists("t")
    assert {tuple(r) for r in io.read("t").collect()} == original
    io.replace_table("t__staged", "t")
    assert {tuple(r) for r in io.read("t").collect()} == staged
    assert not os.path.exists(dst + ".bak")


def test_compact_raises_on_a_row_count_mismatch(spark, tmp_tables,
                                                monkeypatch):
    """The staging copy's row-count check is a raise, not an ``assert``
    (``python -O`` strips asserts), and a failed check swaps nothing."""
    io = TableIO(spark, tmp_tables)
    io.append(spark.range(10).selectExpr("id"), "t")
    read = io.read
    monkeypatch.setattr(io, "read", lambda name: read(name).limit(3)
                        if name == "t__compacting" else read(name))
    with pytest.raises(RuntimeError, match="row-count mismatch"):
        io.compact("t")
    assert read("t").count() == 10


def _is_local_scan(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_driver_built_frames_are_local_table_scans(spark, tmp_tables,
                                                   in_job_group):
    """The near-dup component labels (driver path, empty or not), the
    empty ``run_history`` fallback and the Iceberg
    ``append_rows`` frame are Arrow-built: each plans as a
    ``LocalTableScan``, building (but for the labels) and collecting it
    runs no Spark job, and
    it equals the list-built frame of the same rows, column types and
    nullability included.  (The Iceberg write itself needs the runtime
    jar; only the frame handed to ``append`` is checked here.)"""
    from datetime import datetime, timezone

    from databricks_pdf_ocr_spark.config import ExtractConfig
    from databricks_pdf_ocr_spark.operators import dedup
    from databricks_pdf_ocr_spark.plans.checkpoint import CheckpointManager
    from databricks_pdf_ocr_spark.schemas import CHECKPOINT_SCHEMA

    cp = CheckpointManager(TableIO(spark, tmp_tables), ExtractConfig())
    lineage = [dict(zip(CHECKPOINT_SCHEMA.names, (
        "run-1", 1, "fp", b, "done", 3, 4, 5, 0, 6, 0, 7, "{}",
        datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc))))
        for b in (0, 5)]
    iceberg = IcebergTableIO.__new__(IcebergTableIO)   # no catalog needed
    iceberg.spark = spark
    appended = []
    iceberg.append = lambda df, name: appended.append(df)

    def append_rows():
        iceberg.append_rows(lineage, "extraction_checkpoint",
                            CHECKPOINT_SCHEMA)
        return appended.pop()

    # labelling runs the pair probe's jobs; reading the labels runs none
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)],
                                  "doc_a bigint, doc_b bigint")
    labels = dedup.neardup_components(pairs)
    no_labels = dedup.neardup_components(pairs.limit(0))
    cases = {
        "labels": (lambda: labels, [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
                   "node bigint, comp bigint"),
        "empty_labels": (lambda: no_labels, [], "node bigint, comp bigint"),
        "run_history": (cp.run_history, [], CHECKPOINT_SCHEMA),
        "append_rows": (append_rows,
                        [tuple(r.values()) for r in lineage],
                        CHECKPOINT_SCHEMA),
    }

    def build_and_collect(build):
        df = build()
        return df, df.collect()

    for name, (build, rows, schema) in cases.items():
        (df, got), jobs = in_job_group(f"local-frame-{name}",
                                       lambda: build_and_collect(build))
        assert jobs == [], name
        assert _is_local_scan(df), name
        want = spark.createDataFrame(rows, schema)
        assert df.schema == want.schema, name
        assert sorted(got) == sorted(want.collect()), name
    # the start-of-run lineage read of a missing table runs no job either
    state, jobs = in_job_group("local-frame-run-state",
                               lambda: cp.run_state(("fp",)))
    assert state == (1, {"fp": set()})
    assert jobs == []
