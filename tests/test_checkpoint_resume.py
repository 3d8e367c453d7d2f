"""Checkpoint lineage + idempotent resume (north rule: 'resumable from
checkpoint with per-partition lineage + metrics')."""

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark import fixtures
from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.operators.extract import (
    bucket_col, reassemble, run_extraction,
)
from databricks_pdf_ocr_spark.plans.checkpoint import (
    CHECKPOINT_TABLE, CheckpointManager, new_run_id,
)
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA
from databricks_pdf_ocr_spark.sources.tables import TableIO
from tools.goldens import golden_extract

SEED = 7
N_DOCS = 40
FP = "test-fingerprint"


@pytest.fixture()
def env(spark, tmp_tables):
    io = TableIO(spark, tmp_tables)
    cp = CheckpointManager(io, TEST_CONFIG)
    rows = list(fixtures.gen_rows(SEED, N_DOCS, fixtures.TINY))
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    return io, cp, rows, df


def _done(cp):
    """The buckets marked done for FP, as a run reads them at its start."""
    return cp.run_state((FP,))[1][FP]


def _pending(cp, df):
    return cp.filter_pending(df, _done(cp))


def _process(io, cp, pending, tag):
    results = run_extraction(pending.select("doc_id", "spans"), TEST_CONFIG)
    results = results.withColumn("bucket", bucket_col(TEST_CONFIG.n_buckets))
    io.append(results, "extraction_results", partition_by=["bucket"])
    pend_buckets = pending.select("bucket").distinct()
    written = (io.read("extraction_results")
               .join(F.broadcast(pend_buckets), "bucket", "left_semi"))
    cp.mark_from_results(written.dropDuplicates(["result_id"]),
                         new_run_id(), (FP,), run_seq=cp.next_run_seq())


def test_kill_and_resume_equals_single_run(env):
    io, cp, rows, df = env

    # run 1 "crashes" after processing only 3 of the buckets
    pending1 = _pending(cp, df)
    subset = (pending1.select("bucket").distinct().orderBy("bucket").limit(3))
    part1 = pending1.join(F.broadcast(subset), "bucket", "left_semi")
    _process(io, cp, part1, "run1")

    done_after_1 = _done(cp)
    assert len(done_after_1) == 3

    # resume: only the remaining buckets are pending
    pending2 = _pending(cp, df)
    pend_buckets = {r[0] for r in pending2.select("bucket").distinct().collect()}
    assert pend_buckets.isdisjoint(done_after_1)
    _process(io, cp, pending2, "run2")

    # nothing pending afterwards
    assert _pending(cp, df).count() == 0

    # final output == golden (crash did not lose or duplicate anything)
    assembled = reassemble(io.read("extraction_results"))
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                         for s in r["spans"]]
           for r in assembled.collect()}
    gold = {k: v for k, v in golden_extract(rows, TEST_CONFIG).items() if v}
    assert got == gold


def test_double_process_one_bucket_is_idempotent(env):
    """Crash *between* write and mark: bucket extracted twice → dedup-on-read
    collapses to exactly one copy."""
    io, cp, rows, df = env
    pending = _pending(cp, df)
    one = pending.select("bucket").distinct().orderBy("bucket").limit(1)
    part = pending.join(F.broadcast(one), "bucket", "left_semi")

    # write results WITHOUT marking (simulated crash), then full run
    results = run_extraction(part.select("doc_id", "spans"), TEST_CONFIG) \
        .withColumn("bucket", bucket_col(TEST_CONFIG.n_buckets))
    io.append(results, "extraction_results", partition_by=["bucket"])
    _process(io, cp, _pending(cp, df), "full")

    all_results = io.read("extraction_results")
    assert (all_results.count()
            > all_results.dropDuplicates(["result_id"]).count())
    assembled = reassemble(all_results)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                         for s in r["spans"]]
           for r in assembled.collect()}
    gold = {k: v for k, v in golden_extract(rows, TEST_CONFIG).items() if v}
    assert got == gold


def test_run_history_topk(env):
    io, cp, rows, df = env
    _process(io, cp, _pending(cp, df), "r")
    hist = cp.run_history(10).collect()
    assert len(hist) == 1
    assert hist[0]["docs_done"] == N_DOCS
    # lineage carries per-bucket metrics rows
    cp_rows = io.read(CHECKPOINT_TABLE)
    assert cp_rows.filter(F.col("status") == "done").count() > 0
    assert cp_rows.select("config_json").first()[0].startswith("{")


def test_next_run_seq_is_monotonic(env):
    io, cp, rows, df = env
    assert cp.next_run_seq() == 1          # empty table
    pending = _pending(cp, df)
    _process(io, cp, pending, "seq1")
    assert cp.next_run_seq() == 2
    # a second mark (different fingerprint) advances it again
    results = io.read("extraction_results")
    cp.mark_from_results(results.dropDuplicates(["result_id"]),
                         new_run_id(), (FP + "-b",),
                         run_seq=cp.next_run_seq())
    assert cp.next_run_seq() == 3


def test_next_run_seq_survives_mixed_schema_table(env, tmp_tables):
    """ADVICE r3: a checkpoint table mixing pre-run_seq files with new
    ones must not footer-sample its schema — run_seq could be invisible
    and next_run_seq would restart at 1, stamping a regressed ordinal
    that revives stale docs in latest-wins reassembly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    io, cp, rows, df = env
    _process(io, cp, _pending(cp, df), "r")      # run_seq=1 marks
    assert cp.next_run_seq() == 2
    # drop a legacy part file WITHOUT the run_seq column into the table
    old = pa.Table.from_pydict({
        "run_id": ["legacy-run"], "input_fingerprint": ["old-fp"],
        "bucket": pa.array([0], pa.int32()), "status": ["done"],
        "docs_done": pa.array([1], pa.int64()),
    })
    pq.write_table(old, os.path.join(tmp_tables, CHECKPOINT_TABLE,
                                     "part-legacy.snappy.parquet"))
    # explicit-schema read: legacy rows surface with run_seq null and the
    # ordinal still advances from the real max regardless of which file
    # Spark would have sampled
    assert cp.next_run_seq() == 2
    assert cp.all_marked_buckets() >= {0}


def test_compaction_preserves_resume_and_bounds_rows(env, tmp_tables):
    """VERDICT r3 #6: compacting the append-only lineage log to its
    latest-wins snapshot must not change resume behavior, and must bound
    the table at one row per (fingerprint, bucket)."""
    io, cp, rows, df = env
    # two full runs + a second fingerprint → runs x buckets rows
    _process(io, cp, _pending(cp, df), "r1")
    results = io.read("extraction_results")
    cp.mark_from_results(results.dropDuplicates(["result_id"]),
                         new_run_id(), (FP,), run_seq=cp.next_run_seq())
    cp.mark_from_results(results.dropDuplicates(["result_id"]),
                         new_run_id(), (FP + "-b",),
                         run_seq=cp.next_run_seq())

    before_seq = cp.next_run_seq()
    before_done = _done(cp)
    before_marked = cp.all_marked_buckets()
    n_keys = (io.read(CHECKPOINT_TABLE)
              .select("input_fingerprint", "bucket").distinct().count())

    out = cp.compact()
    assert out["rows_before"] > out["rows_after"] == n_keys  # bounded

    assert cp.next_run_seq() == before_seq
    assert _done(cp) == before_done
    assert cp.all_marked_buckets() == before_marked
    # a resume run still sees nothing pending for the compacted lineage
    assert _pending(cp, df).count() == 0
    # and the physical file count collapsed too (not just row count)
    import glob
    import os
    files = glob.glob(os.path.join(tmp_tables, CHECKPOINT_TABLE, "*.parquet"))
    assert len(files) <= 8
