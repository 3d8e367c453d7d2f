"""Job-level resume semantics, driven through ``jobs.extract.run_job``
in-process: bucket-granular --max-docs (no mid-bucket truncation loss),
latest-run-wins reassembly for changed re-ingests, crash/resume equality,
and real partition pruning on the bucket-partitioned results table."""

import contextlib
import io as _io
import itertools
import json

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark import fixtures
from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.config import ExtractConfig, load_config
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA
from jobs.extract import EXTRACTED_TABLE, RESULTS_TABLE, build_parser, run_job
from tools.goldens import golden_extract

SEED = 11
N_DOCS = 40


def _write_input(spark, tmp_path, rows, name):
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA) \
        .write.mode("overwrite").parquet(path)
    return path


def _run(spark, input_path, tables, *extra):
    args = build_parser().parse_args(
        ["--input", input_path, "--tables", tables, "--n-buckets", "8",
         "--partitions", "8", *extra])
    return run_job(spark, args)


def _extracted_dict(spark, tables):
    df = spark.read.parquet(f"{tables}/{EXTRACTED_TABLE}")
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]]
            for r in df.collect()}


@pytest.fixture(scope="module")
def rows():
    return list(fixtures.gen_rows(SEED, N_DOCS, fixtures.TINY))


def test_max_docs_caps_whole_buckets_without_loss(spark, tmp_path, rows):
    """A --max-docs run followed by an uncapped resume must extract EVERY
    doc — the round-1 row-level limit truncated mid-bucket while lineage
    marked the whole bucket done, silently dropping the rest forever."""
    inp = _write_input(spark, tmp_path, rows, "docs_v1")
    tables = str(tmp_path / "t_cap")

    stats1, rc1 = _run(spark, inp, tables, "--max-docs", "10")
    assert rc1 == 0
    assert stats1["docs_done"] < N_DOCS          # genuinely capped
    assert stats1["docs_done"] >= 10             # rounded UP to buckets

    # capped run must not have split any bucket: every touched bucket's
    # results cover all of that bucket's input docs
    res = spark.read.parquet(f"{tables}/{RESULTS_TABLE}")
    docs_by_bucket = {}
    from databricks_pdf_ocr_spark.operators.extract import bucket_col
    full = (spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
            .withColumn("bucket", bucket_col(8)))
    for r in full.select("bucket", "doc_id").collect():
        docs_by_bucket.setdefault(r["bucket"], set()).add(r["doc_id"])
    done = (res.select("bucket", "doc_id").distinct().collect())
    got_by_bucket = {}
    for r in done:
        got_by_bucket.setdefault(r["bucket"], set()).add(r["doc_id"])
    for b, got in got_by_bucket.items():
        assert got == docs_by_bucket[b], f"bucket {b} was truncated mid-bucket"

    stats2, rc2 = _run(spark, inp, tables)       # resume, uncapped
    assert rc2 == 0
    gold = {k: v for k, v in golden_extract(rows, _job_cfg()).items() if v}
    assert _extracted_dict(spark, tables) == gold


def _job_cfg():
    # run_job builds its config from CLI args; mirror the knobs that affect
    # extraction output so goldens match (defaults except bucket count)
    return ExtractConfig(n_buckets=8, shuffle_partitions=8)


def test_latest_run_wins_on_changed_reingest(spark, tmp_path, rows):
    """Re-ingesting a doc_id with CHANGED (and fewer) spans must fully
    replace the old extraction — not merge both versions."""
    inp1 = _write_input(spark, tmp_path, rows, "docs_a")
    tables = str(tmp_path / "t_reingest")
    _run(spark, inp1, tables)

    # v2: same doc ids, one replacement text span each (shrunken fan-out)
    v2_rows = [(did, [{"kind": "text", "text": f"replacement for {did[:8]}",
                       "media_ref": None, "offset": 0}])
               for did, _ in rows[:7]]
    inp2 = _write_input(spark, tmp_path, v2_rows, "docs_b")
    _run(spark, inp2, tables)

    got = _extracted_dict(spark, tables)
    for did, _ in rows[:7]:
        assert got[did] == [("text", f"replacement for {did[:8]}", None, 0)], \
            f"doc {did} merged old+new versions"
    # untouched docs keep their v1 extraction
    gold = {k: v for k, v in golden_extract(rows, _job_cfg()).items() if v}
    for did, spans in gold.items():
        if did not in {d for d, _ in rows[:7]}:
            assert got[did] == spans


def test_crash_resume_equals_single_run(spark, tmp_path, rows):
    """A crash plus resume equals a clean run, on an empty table and on
    one that already holds another input's assembled buckets: the
    crashed run's buckets must be assembled even though every bucket
    already had a partition."""
    inp = _write_input(spark, tmp_path, rows, "docs_crash")
    other = _write_input(spark, tmp_path,
                         list(fixtures.gen_rows(SEED + 1, N_DOCS,
                                                fixtures.TINY)),
                         "docs_crash_other")
    t_crash = str(tmp_path / "t_crash")
    t_clean = str(tmp_path / "t_clean")

    for step in (inp, other):
        stats, rc = _run(spark, step, t_crash, "--fail-after-buckets", "2")
        assert rc == 3 and stats["simulated_crash"]
        _, rc2 = _run(spark, step, t_crash)      # resume
        assert rc2 == 0
        _, rc3 = _run(spark, step, t_clean)      # fresh single run
        assert rc3 == 0
        assert _extracted_dict(spark, t_crash) == \
            _extracted_dict(spark, t_clean)


def test_crash_between_assembly_and_mark_heals(spark, tmp_path, rows,
                                               monkeypatch):
    """A run that dies after assembling its buckets but before marking
    them leaves them pending: the next run re-extracts and re-assembles
    them, and the assembled table equals a clean run's, no doc twice."""
    from databricks_pdf_ocr_spark.plans.checkpoint import CheckpointManager

    inp = _write_input(spark, tmp_path, rows, "docs_mark_crash")
    t_crash = str(tmp_path / "t_mark_crash")
    t_clean = str(tmp_path / "t_mark_clean")
    mark = CheckpointManager.mark_from_results
    calls = []

    def crash_once(self, *a, **kw):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("simulated crash before the mark")
        return mark(self, *a, **kw)

    monkeypatch.setattr(CheckpointManager, "mark_from_results", crash_once)
    with pytest.raises(RuntimeError, match="before the mark"):
        _run(spark, inp, t_crash)
    assert spark.read.parquet(f"{t_crash}/{EXTRACTED_TABLE}").count() > 0
    stats, rc = _run(spark, inp, t_crash)        # every bucket re-extracted
    assert rc == 0 and stats["docs_done"] == N_DOCS
    _, rc2 = _run(spark, inp, t_clean)
    assert rc2 == 0
    ext = spark.read.parquet(f"{t_crash}/{EXTRACTED_TABLE}")
    assert ext.count() == ext.select("doc_id").distinct().count()
    assert _extracted_dict(spark, t_crash) == _extracted_dict(spark, t_clean)


def test_bucket_whose_docs_no_longer_assemble_is_emptied(spark, tmp_path):
    """A re-ingested doc whose only span now fails leaves the assembled
    table, also when it was alone in its bucket: a dynamic partition
    overwrite cannot empty a partition, so the run drops each touched
    bucket it wrote no assembled row to.  Beside it, the same failure in
    a bucket that keeps a good doc, and an untouched bucket."""
    from databricks_pdf_ocr_spark.operators.extract import bucket_col

    n_buckets = 64
    ids = [f"doc-{i}" for i in range(200)]
    by_bucket = {}
    for r in (spark.createDataFrame([(d,) for d in ids], "doc_id string")
              .select("doc_id", bucket_col(n_buckets).alias("b"))
              .collect()):
        by_bucket.setdefault(r["b"], []).append(r["doc_id"])
    lonely = next(ds[0] for ds in by_bucket.values() if len(ds) == 1)
    shared, kept = next(ds[:2] for ds in by_bucket.values() if len(ds) > 1)
    other = next(ds[0] for ds in by_bucket.values()
                 if not {lonely, shared} & set(ds))

    def spans(text):
        return [{"kind": "text", "text": text, "media_ref": None,
                 "offset": 0}]
    bad = [{"kind": "pdf", "text": "%% not base64 %%", "media_ref": None,
            "offset": 0}]
    tables = str(tmp_path / "t_emptied")

    def run(docs, name):
        args = build_parser().parse_args(
            ["--input", _write_input(spark, tmp_path, docs, name),
             "--tables", tables, "--n-buckets", str(n_buckets),
             "--partitions", "8", "--mode", "reprocess_all"])
        return run_job(spark, args)

    _, rc = run([(d, spans(f"text of {d}"))
                 for d in (lonely, shared, kept, other)], "emptied_v1")
    assert rc == 0
    assert set(_extracted_dict(spark, tables)) == {lonely, shared, kept,
                                                   other}
    stats, rc = run([(lonely, bad), (shared, bad)], "emptied_v2")
    assert rc == 0 and stats["failed_spans"] == 2
    assert stats["docs_assembled"] == 1           # `kept`, rebuilt
    assert _extracted_dict(spark, tables) == {
        d: [("text", f"text of {d}", None, 0)] for d in (kept, other)}


def test_results_table_partition_pruning(spark, tmp_path, rows):
    """The results table is partitioned by bucket: a one-bucket read must
    plan a PartitionFilter (directory pruning), and incremental rerun must
    add no new result rows."""
    inp = _write_input(spark, tmp_path, rows, "docs_prune")
    tables = str(tmp_path / "t_prune")
    _run(spark, inp, tables)
    res = spark.read.parquet(f"{tables}/{RESULTS_TABLE}")
    some_bucket = res.select("bucket").first()[0]
    pruned = res.filter(F.col("bucket") == some_bucket)

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]

    # pruned scan touches only that bucket's directory
    files = {r[0] for r in pruned.select(
        F.input_file_name()).distinct().collect()}
    assert files and all(f"bucket={some_bucket}/" in f for f in files)

    # rerun same input+fingerprint: all buckets done → no new rows
    n_before = res.count()
    _run(spark, inp, tables)
    assert spark.read.parquet(f"{tables}/{RESULTS_TABLE}").count() == n_before


def test_observed_mark_equals_readback_mark(spark, tmp_path, rows):
    """The lineage mark must equal a per-bucket aggregate recomputed from
    the written results table, and the driver-side control-plane append
    (pyarrow file, no Spark write job) must produce Spark-readable
    rows/types."""
    inp = _write_input(spark, tmp_path, rows, "obs_in")
    t = str(tmp_path / "obs_tables")
    stats, rc = _run(spark, inp, t)
    assert rc == 0

    res = spark.read.parquet(f"{t}/{RESULTS_TABLE}")
    want = {tuple(r) for r in res.groupBy("bucket").agg(
        F.countDistinct("doc_id"),
        F.countDistinct("doc_id", "offset"),
        F.sum("pages_parsed"),
        F.count(F.when(F.col("ocr_fallback"), 1)),
        F.count(F.when(F.col("status") == "success", 1)),
        F.count(F.when(F.col("status") == "failed", 1)),
        F.sum("duration_ms"),
        F.lit("done"),
        F.lit(stats["run_id"])).collect()}

    cols = ["bucket", "docs_done", "spans_in", "pages_parsed",
            "ocr_fallbacks", "span_count", "failed_spans", "duration_ms",
            "status", "run_id"]
    df = spark.read.parquet(f"{t}/extraction_checkpoint")
    got = {tuple(r) for r in df.select(*cols).collect()}
    assert got == want and len(got) > 0
    # run_seq survives the driver-side parquet write with the right type
    assert df.schema["run_seq"].dataType.simpleString() == "bigint"
    assert df.filter(F.col("updated_at").isNull()).count() == 0


def test_lineage_duration_is_kernel_time(spark, tmp_path, rows):
    """A run's checkpoint rows record the kernel time of its results
    rows, not the run's wall clock on every bucket."""
    inp = _write_input(spark, tmp_path, rows, "dur_in")
    t = str(tmp_path / "dur_tables")
    run_ids = [_run(spark, inp, t, "--mode", "reprocess_all")[0]["run_id"]
               for _ in range(2)]

    def total(table):
        df = spark.read.parquet(f"{t}/{table}")
        return {r[0]: r[1] for r in
                df.groupBy("run_id").agg(F.sum("duration_ms")).collect()}

    assert set(run_ids) == set(total("extraction_checkpoint"))
    assert total("extraction_checkpoint") == total(RESULTS_TABLE)


def test_run_job_spark_jobs_and_stats(spark, tmp_path, rows, in_job_group):
    """A fresh reprocess_all run needs at most 7 Spark jobs (the results
    write's two, three with --salt; the mark's two; the reassembly's
    two), and with --media-payloads at most 8: the payload write reads
    the kernel output the results write cached.  The touched buckets
    come from the results write itself, so a fresh incremental run needs
    no more jobs than that, and a --max-docs run only the cap's
    per-bucket count, once.  A no-op incremental rerun, with or without
    --media-payloads, runs only the lineage read; a --media-payloads
    rerun over a plain run's buckets re-extracts them.  Every run's stats
    equal its lineage as ``run_history`` reads it back; a no-op
    incremental rerun marks nothing and reports nothing."""
    from databricks_pdf_ocr_spark.plans.checkpoint import (
        CHECKPOINT_TABLE, CheckpointManager,
    )

    inp = _write_input(spark, tmp_path, rows, "jobs_in")
    lineage = ("docs_done", "pages_parsed", "ocr_fallbacks", "span_count",
               "failed_spans")
    groups = itertools.count()

    def run(name, *flags):
        t = str(tmp_path / ("jobs_t_" + name))
        (stats, rc), jobs = in_job_group(
            f"{name}-{next(groups)}", lambda: _run(spark, inp, t, *flags))
        assert rc == 0
        cp = CheckpointManager(_table_io(spark, t), _job_cfg())
        hist = [r.asDict() for r in cp.run_history().collect()
                if r["run_id"] == stats["run_id"]]
        if hist:
            assert len(hist) == 1
            assert {k: stats[k] for k in lineage} == \
                {k: hist[0][k] for k in lineage}
        else:
            assert not set(lineage) & set(stats), stats
        return stats, len(jobs), t

    all_jobs = {}
    for extra in ((), ("--media-payloads",)):
        stats, n_jobs, t = run("all" + "".join(extra),
                               "--mode", "reprocess_all", *extra)
        all_jobs[extra] = n_jobs
        assert 0 < n_jobs <= (8 if extra else 7)
        assert stats["docs_done"] == N_DOCS
        assert all(stats[k] >= 0 for k in ("phase_select_sec",
                                           "phase_extract_write_sec",
                                           "phase_mark_sec"))
        # the lineage records the flags over the ExtractConfig defaults:
        # given flags win, unset ones (None, e.g. --salt, --max-docs)
        # leave the default
        recorded = (spark.read.parquet(f"{t}/{CHECKPOINT_TABLE}")
                    .filter(F.col("run_id") == stats["run_id"])
                    .select("config_json").distinct().collect())
        assert [json.loads(r[0]) for r in recorded] == [json.loads(
            ExtractConfig(n_buckets=8, shuffle_partitions=8,
                          processing_mode="reprocess_all").to_json())]

    stats, n_jobs, _ = run("incremental")
    assert stats["docs_done"] == N_DOCS
    assert n_jobs <= all_jobs[()]
    # no-op reruns: the lineage read (done sets included) is one
    # aggregate, and with every bucket done nothing else runs
    fp = f"path:{inp}"
    for name, extra in (("incremental", ()),
                        ("all--media-payloads", ("--media-payloads",))):
        t = str(tmp_path / ("jobs_t_" + name))
        cp = CheckpointManager(_table_io(spark, t), _job_cfg())
        _, read_jobs = in_job_group(f"lineage-read-{next(groups)}",
                                    lambda: cp.run_state((fp, fp + "#media")))
        stats, n_jobs, _ = run(name, *extra)
        assert 0 < n_jobs <= len(read_jobs)
        assert stats["run_id"] and stats["docs_assembled"] == 0
        if extra:
            assert stats["media_buckets"] == 0
    # "incremental" is extracted, but marked only under <fp>: a payload
    # run's done set is the buckets marked under <fp> AND <fp>#media, so
    # it re-extracts every bucket, at a fresh payload run's cost on top
    # of the lineage read
    stats, n_jobs, _ = run("incremental", "--media-payloads")
    assert stats["media_buckets"] == 8
    assert stats["docs_assembled"] == stats["docs_done"] == N_DOCS
    assert n_jobs <= len(read_jobs) + all_jobs[("--media-payloads",)]
    stats, n_jobs, _ = run("capped", "--max-docs", "10")
    assert 10 <= stats["docs_done"] < N_DOCS
    # the cap is one per-bucket count collected on the driver and a
    # static isin, never re-evaluated inside the results write
    assert n_jobs <= all_jobs[()] + 2


def test_config_is_flags_over_defaults(monkeypatch):
    """No environment layer: ENGINE_* variables change nothing, so a run
    from the --py-files zip and one from a checkout get the same config."""
    monkeypatch.setenv("ENGINE_ENV", "prod")
    monkeypatch.setenv("ENGINE_N_BUCKETS", "77")
    assert load_config() == ExtractConfig()


def test_results_write_layout(spark, tmp_path, rows, monkeypatch,
                              in_job_group):
    """Each run writes one file per bucket, from a write stage with no
    more tasks than the cluster's partitions (not one per bucket)."""
    import os

    from databricks_pdf_ocr_spark.sources.tables import TableIO

    inp = _write_input(spark, tmp_path, rows, "layout_in")
    t = str(tmp_path / "layout_t")
    n_buckets, parts = 16, 4
    write_jobs = []
    append = TableIO.append

    def tagged_append(self, df, name, partition_by=None):
        if name != RESULTS_TABLE:
            return append(self, df, name, partition_by)
        _, jobs = in_job_group(f"results-write-{len(write_jobs)}",
                               lambda: append(self, df, name, partition_by))
        write_jobs.append(jobs)

    monkeypatch.setattr(TableIO, "append", tagged_append)
    args = build_parser().parse_args(
        ["--input", inp, "--tables", t, "--mode", "reprocess_all",
         "--n-buckets", str(n_buckets), "--partitions", str(parts)])
    root = f"{t}/{RESULTS_TABLE}"
    for n_files in (1, 2):
        assert run_job(spark, args)[1] == 0
        dirs = [d for d in os.listdir(root) if d.startswith("bucket=")]
        assert dirs
        for d in dirs:
            files = [f for f in os.listdir(os.path.join(root, d))
                     if f.endswith(".parquet")]
            assert len(files) == n_files, (d, files)

    tracker = spark.sparkContext.statusTracker()
    assert len(write_jobs) == 2
    for jobs in write_jobs:
        # the write is the result stage of the group's last job
        stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
        assert tracker.getStageInfo(stage).numTasks <= min(n_buckets, parts)


def _media_dict(spark, tables):
    from databricks_pdf_ocr_spark.operators.multimodal import dedup_payloads
    df = dedup_payloads(spark.read.parquet(f"{tables}/media_payloads"))
    return {r["media_ref"]: (r["format"], r["width"], r["height"],
                             bytes(r["content"]) if r["content"] else None)
            for r in df.collect() if r["media_ref"]}


def test_media_payloads_crash_resume_and_joinback(spark, tmp_path, rows,
                                                  monkeypatch):
    """A --media-payloads run writes results, then payloads, then
    assembles and marks.  Cut after its first buckets (the crash
    simulator), between the results and the payload write, or between
    the payload write and the mark, it resumes to the single run's
    media_payloads and extracted_documents; every pdfimg media_ref in
    the extraction results resolves."""
    from databricks_pdf_ocr_spark.plans.checkpoint import CheckpointManager
    from databricks_pdf_ocr_spark.sources.tables import TableIO
    from jobs.extract import MEDIA_TABLE

    inp = _write_input(spark, tmp_path, rows, "in_media")

    # single clean run (reference table)
    t1 = str(tmp_path / "t_single")
    stats, rc = _run(spark, inp, t1, "--media-payloads")
    assert rc == 0 and stats["media_buckets"] == 8
    single = _media_dict(spark, t1)
    single_ext = _extracted_dict(spark, t1)
    assert single, "corpus should contain embedded pdf images"

    # crashed run (2 of 8 buckets) then resume
    t2 = str(tmp_path / "t_crash")
    stats2, rc2 = _run(spark, inp, t2, "--media-payloads",
                       "--fail-after-buckets", "2")
    assert rc2 == 3 and stats2["media_buckets"] == 2
    stats3, rc3 = _run(spark, inp, t2, "--media-payloads")
    assert rc3 == 0 and stats3["media_buckets"] == 6   # only the rest
    assert _media_dict(spark, t2) == single
    assert _extracted_dict(spark, t2) == single_ext

    # idempotent rerun: nothing pending, no new rows
    n_before = spark.read.parquet(f"{t2}/media_payloads").count()
    stats4, rc4 = _run(spark, inp, t2, "--media-payloads")
    assert rc4 == 0 and stats4["media_buckets"] == 0
    assert spark.read.parquet(f"{t2}/media_payloads").count() == n_before

    # join-back: every pdfimg ref in results resolves in media_payloads
    res = spark.read.parquet(f"{t2}/{RESULTS_TABLE}")
    refs = {r["media_ref"] for r in
            res.filter(F.col("media_ref").startswith("pdfimg:"))
               .select("media_ref").distinct().collect()}
    assert refs and refs <= set(single)

    # a crash before the payload write, and one after it but before the
    # mark: every bucket stays pending and the rerun redoes it
    append = TableIO.append

    def crash_before_payloads(self, df, name, partition_by=None):
        if name == MEDIA_TABLE:
            raise RuntimeError("simulated crash before the payload write")
        return append(self, df, name, partition_by)

    def crash_before_mark(self, *a, **kw):
        raise RuntimeError("simulated crash before the mark")

    for cls, attr, crash, payloads_written in (
            (TableIO, "append", crash_before_payloads, False),
            (CheckpointManager, "mark_from_results", crash_before_mark,
             True)):
        t = str(tmp_path / f"t_crash_{attr}")
        with monkeypatch.context() as m:
            m.setattr(cls, attr, crash)
            with pytest.raises(RuntimeError, match="simulated crash"):
                _run(spark, inp, t, "--media-payloads")
        assert spark.read.parquet(f"{t}/{RESULTS_TABLE}").count() > 0
        assert (tmp_path / f"t_crash_{attr}" / MEDIA_TABLE).exists() \
            == payloads_written
        stats5, rc5 = _run(spark, inp, t, "--media-payloads")
        assert rc5 == 0 and stats5["media_buckets"] == 8
        assert _media_dict(spark, t) == single
        assert _extracted_dict(spark, t) == single_ext


def test_media_payloads_over_a_plain_run(spark, tmp_path, rows):
    """A --media-payloads run over buckets a plain run extracted
    re-extracts them, so its payloads are complete and every pdfimg ref
    resolves; a table whose buckets are also marked ``<fp>#media``, as
    a separate media run used to mark them, needs no re-extraction."""
    from databricks_pdf_ocr_spark.plans.checkpoint import (
        CheckpointManager, new_run_id,
    )

    inp = _write_input(spark, tmp_path, rows, "in_media_plain")
    fp = f"path:{inp}"
    t_fresh = str(tmp_path / "t_plain_fresh")
    assert _run(spark, inp, t_fresh, "--media-payloads")[1] == 0

    t = str(tmp_path / "t_plain_then_media")
    assert _run(spark, inp, t)[1] == 0
    stats, rc = _run(spark, inp, t, "--media-payloads")
    assert rc == 0 and stats["media_buckets"] == 8
    assert _media_dict(spark, t) == _media_dict(spark, t_fresh)
    assert _extracted_dict(spark, t) == _extracted_dict(spark, t_fresh)
    res = spark.read.parquet(f"{t}/{RESULTS_TABLE}")
    refs = {r["media_ref"] for r in
            res.filter(F.col("media_ref").startswith("pdfimg:"))
               .select("media_ref").distinct().collect()}
    assert refs and refs <= set(_media_dict(spark, t))

    t_old = str(tmp_path / "t_old_media_marks")
    assert _run(spark, inp, t_old)[1] == 0
    cp = CheckpointManager(_table_io(spark, t_old), _job_cfg())
    cp._append_marks([(fp + "#media", {"bucket": b}) for b in range(8)],
                     new_run_id(), cp.next_run_seq())
    stats, rc = _run(spark, inp, t_old, "--media-payloads")
    assert rc == 0 and stats["media_buckets"] == 0
    assert stats["docs_assembled"] == 0


def test_media_stage_honours_max_docs(spark, tmp_path, rows):
    """--max-docs bounds a --media-payloads run: a capped run marks the
    same whole buckets under ``<fp>`` and ``<fp>#media``, and an
    uncapped rerun completes both lineages."""
    from databricks_pdf_ocr_spark.plans.checkpoint import CHECKPOINT_TABLE

    inp = _write_input(spark, tmp_path, rows, "in_media_cap")
    tables = str(tmp_path / "t_media_cap")
    fp = f"path:{inp}"

    def marked():
        cp = spark.read.parquet(f"{tables}/{CHECKPOINT_TABLE}")
        return {f: {r["bucket"] for r in
                    cp.filter(F.col("input_fingerprint") == f)
                      .select("bucket").distinct().collect()}
                for f in (fp, fp + "#media")}

    stats, rc = _run(spark, inp, tables, "--max-docs", "10",
                     "--media-payloads")
    assert rc == 0
    first = marked()
    assert 0 < len(first[fp]) < 8                # genuinely capped
    assert first[fp + "#media"] == first[fp]
    assert stats["media_buckets"] == len(first[fp])

    stats2, rc2 = _run(spark, inp, tables, "--media-payloads")
    assert rc2 == 0
    assert marked() == {fp: set(range(8)), fp + "#media": set(range(8))}


def test_media_gc_drops_orphans_keeps_live_and_error_rows(spark, tmp_path, rows):
    """Re-ingesting changed content mints new content-addressed refs; GC
    must drop the superseded payloads, keep every latest-referenced one,
    and preserve null-ref provenance rows."""
    from jobs.extract import gc_media_orphans

    inp = _write_input(spark, tmp_path, rows, "in_gc")
    t = str(tmp_path / "t_gc")
    _run(spark, inp, t, "--media-payloads")
    refs_v1 = set(_media_dict(spark, t))
    assert refs_v1

    # change every pdf span's content (re-wrap with an extra text page) →
    # different embedded-image payload set for SOME docs is not guaranteed,
    # so instead drop all pdf spans to text: every v1 ref becomes orphaned
    changed = [(d, [{**s, "kind": "text",
                     "text": (s["text"] or "")[:40], "media_ref": None}
                    if s["kind"] == "pdf" else s for s in spans])
               for d, spans in rows]
    inp2 = _write_input(spark, tmp_path, changed, "in_gc")  # same path
    _run(spark, inp2, t, "--media-payloads", "--mode", "reprocess_all")

    out = gc_media_orphans(_table_io(spark, t))
    assert out["gc_orphans"] > 0 and out["gc_buckets"] > 0

    # after GC: no v1 refs remain, and every latest-results ref resolves
    left = set(_media_dict(spark, t))
    assert not (left & refs_v1)
    res = spark.read.parquet(f"{t}/{RESULTS_TABLE}")
    from databricks_pdf_ocr_spark.plans.state_views import latest_results
    live = {r["media_ref"] for r in
            latest_results(res).filter(
                F.col("media_ref").startswith("pdfimg:")).collect()}
    assert live <= left

    # idempotent: second GC is a no-op
    assert gc_media_orphans(_table_io(spark, t))["gc_orphans"] == 0


def test_media_gc_crash_between_drop_and_restore_loses_nothing(
        spark, tmp_path, rows):
    """The GC crash window (round-4 ADVICE medium): a run that died
    after ``drop_partitions`` but before the restoring append leaves the
    ONLY copy of live payloads in the ``__gc`` staging table.  The next
    GC entry must restore it — the old code dropped staging on entry,
    silently and permanently losing live rows."""
    from jobs.extract import MEDIA_TABLE, gc_media_orphans

    inp = _write_input(spark, tmp_path, rows, "in_gccrash")
    t = str(tmp_path / "t_gccrash")
    _run(spark, inp, t, "--media-payloads")
    io = _table_io(spark, t)
    live_before = _media_dict(spark, t)
    assert live_before

    # simulate the crashed GC: survivors staged, partitions dropped,
    # restore append never ran
    pay = io.read(MEDIA_TABLE)
    buckets = sorted(r["bucket"] for r in
                     pay.select("bucket").distinct().collect())
    io.overwrite(pay, MEDIA_TABLE + "__gc", partition_by=["bucket"])
    io.drop_partitions(MEDIA_TABLE, "bucket", buckets)
    assert io.read(MEDIA_TABLE) is None or \
        io.read(MEDIA_TABLE).count() == 0       # the table really is gone

    out = gc_media_orphans(_table_io(spark, t))
    assert out["gc_restored"] > 0
    assert _media_dict(spark, t) == live_before  # every live row is back
    # and a further GC is a clean no-op
    out2 = gc_media_orphans(_table_io(spark, t))
    assert out2["gc_orphans"] == 0 and out2["gc_restored"] == 0


def _table_io(spark, tables):
    from databricks_pdf_ocr_spark.sources.tables import TableIO
    return TableIO(spark, tables)
