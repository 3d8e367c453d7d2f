"""Work-selection modes (reference get_unprocessed_files,
processors/ocr.py:59-85) through ``select_work``, the job's one
work-selection path, + latest-wins views."""

from collections import Counter
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark import fixtures
from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.operators.extract import (
    bucket_col, run_extraction,
)
from databricks_pdf_ocr_spark.operators.incremental import select_work
from databricks_pdf_ocr_spark.plans.checkpoint import (
    CheckpointManager, new_run_id,
)
from databricks_pdf_ocr_spark.plans.state_views import (
    latest_per_key, latest_results,
)
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA
from databricks_pdf_ocr_spark.sources.tables import TableIO

FP = "test-fingerprint"


def _docs(spark, n=20, seed=5):
    rows = list(fixtures.gen_rows(seed, n, fixtures.TINY))
    return rows, spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


def _buckets(df):
    return {r["doc_id"]: r["bucket"] for r in
            df.select("doc_id", bucket_col(TEST_CONFIG.n_buckets)
                      .alias("bucket")).collect()}


def _mark(cp, buckets):
    """Mark ``buckets`` done for FP: lineage rows with no metrics."""
    cp._append_marks([(FP, {"bucket": b}) for b in buckets], new_run_id(),
                     cp.next_run_seq())


def _done(cp, fp=FP):
    """The buckets marked done for ``fp``, as a run reads them at its
    start."""
    return cp.run_state((fp,))[1][fp]


@pytest.fixture()
def cp(spark, tmp_tables):
    return CheckpointManager(TableIO(spark, tmp_tables), TEST_CONFIG)


def test_incremental_anti_join(spark, cp):
    """Incremental mode skips every doc in a bucket already marked done
    for the same fingerprint — and only for that fingerprint."""
    rows, df = _docs(spark)
    bucket_of = _buckets(df)
    done = sorted(set(bucket_of.values()))[:3]
    _mark(cp, done)
    cfg = replace(TEST_CONFIG, processing_mode="incremental")
    pending = select_work(df, cp, _done(cp), cfg)
    got = {r["doc_id"] for r in pending.select("doc_id").collect()}
    assert got == {d for d, b in bucket_of.items() if b not in done}
    assert select_work(df, cp, _done(cp, FP + "#other"),
                       cfg).count() == len(rows)


def test_reprocess_all_and_specific(spark, cp):
    rows, df = _docs(spark)
    _mark(cp, range(TEST_CONFIG.n_buckets))  # never hides reprocess work
    cfg_all = replace(TEST_CONFIG, processing_mode="reprocess_all")
    assert select_work(df, cp, _done(cp), cfg_all).count() == len(rows)

    want = tuple(r[0] for r in rows[3:6])
    cfg_spec = replace(TEST_CONFIG, processing_mode="reprocess_specific",
                       specific_doc_ids=want)
    got = select_work(df, cp, _done(cp), cfg_spec).collect()
    assert {r["doc_id"] for r in got} == set(want)
    bucket_of = _buckets(df)
    assert all(r["bucket"] == bucket_of[r["doc_id"]] for r in got)


def test_max_docs_per_run_cap(spark, cp):
    """The crash cut keeps the first k pending buckets, then the cap keeps
    whole buckets in bucket order while the docs before them number
    under it (so it rounds UP to a bucket boundary) — also over an
    incremental set with done buckets.  Both are decided once on the
    driver and applied as a static ``isin``: the executed plan has no
    window, join or broadcast."""
    rows, df = _docs(spark)
    bucket_of = _buckets(df)
    done = set(sorted(set(bucket_of.values()))[1::3])
    _mark(cp, done)

    def want(mode, max_docs, k):
        per_bucket = Counter(b for b in bucket_of.values()
                             if mode == "reprocess_all" or b not in done)
        keep, total = {}, 0
        for b in sorted(per_bucket)[:k]:
            if max_docs and total >= max_docs:
                break
            keep[b] = per_bucket[b]
            total += per_bucket[b]
        return keep

    for mode, max_docs, k in (("reprocess_all", 5, None),
                              ("incremental", 5, None),
                              ("incremental", None, 3),
                              ("incremental", 5, 1),
                              ("incremental", 100, 0)):
        cfg = replace(TEST_CONFIG, processing_mode=mode,
                      max_docs_per_run=max_docs)
        pending = select_work(df, cp, _done(cp), cfg, k)
        kept = Counter(r["bucket"] for r in pending.collect())
        case = (mode, max_docs, k)
        assert dict(kept) == want(mode, max_docs, k), case
        plan = pending._jdf.queryExecution().executedPlan().toString()
        for node in ("Window", "Join", "BroadcastExchange"):
            assert node not in plan, (case, plan)
    capped = want("reprocess_all", 5, None)
    assert 5 <= sum(capped.values()) < len(rows)


def test_latest_wins_view(spark):
    rows, df = _docs(spark, n=6)
    r1 = run_extraction(df, TEST_CONFIG) \
        .withColumn("processed_at", F.lit("2026-01-01 00:00:00").cast("timestamp"))
    r2 = run_extraction(df, TEST_CONFIG) \
        .withColumn("processed_at", F.lit("2026-01-02 00:00:00").cast("timestamp"))
    both = r1.unionByName(r2)
    latest = latest_results(both)
    # one row per (doc,offset,sub), all from the newer run
    assert latest.count() == r1.count()
    assert latest.filter(F.col("processed_at")
                         < F.lit("2026-01-02 00:00:00").cast("timestamp")).count() == 0
    # generic helper ordering sanity
    d = spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")],
                              "k int, v int, s string")
    top = latest_per_key(d, ["k"], [F.desc("v")])
    assert {(r["k"], r["s"]) for r in top.collect()} == {(1, "b"), (2, "c")}


def test_latest_wins_prefers_run_seq_over_wallclock(spark):
    """run_seq (monotonic checkpoint ordinal) is the latest-wins primary:
    a later run whose wall-clock stepped BACKWARDS (NTP adjustment) must
    still win over the earlier run."""
    rows, df = _docs(spark, n=4)
    r1 = (run_extraction(df, TEST_CONFIG)
          .withColumn("run_seq", F.lit(1).cast("long"))
          .withColumn("processed_at",
                      F.lit("2026-01-02 00:00:00").cast("timestamp")))
    r2 = (run_extraction(df, TEST_CONFIG)       # later run, earlier clock
          .withColumn("run_seq", F.lit(2).cast("long"))
          .withColumn("processed_at",
                      F.lit("2026-01-01 00:00:00").cast("timestamp")))
    latest = latest_results(r1.unionByName(r2))
    assert latest.count() == r1.count()
    assert latest.filter(F.col("run_seq") != 2).count() == 0
