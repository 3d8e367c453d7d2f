"""The traced run: per-layer metrics measured from outside the program.

Public calls into each layer are wrapped in the benchmark's own code.
Every call becomes a span (name, parent, start, end) and runs under a
Spark job group of its own, so the stage metrics the local UI's REST
endpoint reports can be attributed to the layer that caused them.  Spans
stay in memory and are written to ``trace_spans.json`` at the end.

Every traced run reports every per-layer metric in ``LAYER_METRICS``; a
layer that the workload does not run reads 0 and is listed under
``not_run`` in the detail line.  Optional probes are skipped, and listed
under ``skipped_probes``, once the run nears the benchmark's time limit.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import os
import statistics
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql import Window, functions as F

LAYER_METRICS = {
    # functions: the kernel, called in this process over the workload's spans
    "functions.kernel_s.pdf": "s", "functions.kernel_s.html": "s",
    "functions.kernel_s.text": "s", "functions.kernel_s.image": "s",
    "functions.pdfmini.parse_pdf_s": "s",
    "functions.segment.reading_order_s": "s",
    "functions.htmlmini.extract_blocks_s": "s",
    "functions.ocr_fallback_s": "s",
    "functions.spans_failed": "count",
    # operators.extract: noop-sink cumulative prefixes of the pipeline
    "extract.scan_s": "s", "extract.explode_s": "s",
    "extract.salt_shuffle_s": "s", "extract.mapinpandas_s": "s",
    "extract.reassemble_s": "s", "extract.salt_shuffle_mb": "MB",
    "extract.task_skew": "ratio", "extract.boundary_s": "s",
    # sources.tables, plans.checkpoint, plans.state_views, jobs.extract
    "tables.append_s": "s", "tables.overwrite_partitions_s": "s",
    "tables.read_mb": "MB", "tables.write_mb": "MB",
    "tables.files_written": "count",
    "checkpoint.filter_pending_s": "s", "checkpoint.mark_s": "s",
    "checkpoint.next_run_seq_s": "s", "checkpoint.spark_jobs": "count",
    "state_views.latest_results_s": "s",
    "jobs.extract.spark_jobs": "count", "jobs.extract.spark_stages": "count",
    "jobs.extract.driver_only_s": "s",
    # the crash-resume path, traced once inside extract_full's traced run
    "resume.docs_per_s": "1/s", "resume.checkpoint.filter_pending_s": "s",
    "resume.checkpoint.mark_s": "s",
    "resume.state_views.latest_results_s": "s",
    "resume.tables.read_mb": "MB", "resume.jobs.extract.spark_jobs": "count",
    "resume.jobs.extract.driver_only_s": "s",
    # jobs.curate and operators.dedup
    "curate.features_s": "s", "dedup.minhash_lsh_s": "s",
    "dedup.lsh_candidates": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.components_s": "s",
    "dedup.components_rounds": "count", "curate.write_s": "s",
    "curate.spark_jobs": "count", "curate.spark_stages": "count",
    "curate.docs_in": "count", "curate.docs_gated": "count",
    "curate.docs_exact_kept": "count", "curate.docs_kept": "count",
    # Spark runtime over the traced operations
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.tasks": "count",
    # tracing overhead, scaling diagnostic and host calibration
    "trace.docs_per_s_untraced": "1/s", "trace.docs_per_s_traced": "1/s",
    "trace.overhead_docs_per_s": "1/s",
    # JIT compiler CPU of one untraced operation (not in cpu_s_per_kdoc)
    "jvm.jit_cpu_s": "s",
    "scaling.docs_per_s_local1": "1/s",
    "scaling.docs_per_s_localk": "1/s", "scaling.speedup": "ratio",
    "host.hw_ceiling_before": "ratio", "host.hw_ceiling_after": "ratio",
}

_MB = 2 ** 20
#: the traced run starts no further probe once this long after start-up
TIME_BUDGET_S = 110
SCALING_DOCS = 250


class Tracer:
    """Wraps callables so that each call is a span under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{name}#{len(self.spans) + len(self._stack)}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.sc.setLocalProperty("spark.jobGroup.id", sid)
        self.sc.setLocalProperty("spark.job.description", name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def tree(self, root: dict) -> list[dict]:
        """``root`` and every span nested under it."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    @staticmethod
    def seconds(spans: list[dict], name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


class Rest:
    """Reads job and stage metrics from the local Spark UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        """All jobs, once the listener has caught up with the driver."""
        prev = None
        for _ in range(100):
            jobs = self.get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            prev = key
            time.sleep(0.2)
        return jobs

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def tasks(self, stage: dict) -> list[dict]:
        return self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                        "/taskList?length=100000")


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class Attribution:
    """Spark jobs and stages caused by a set of spans.  ``stage_ids``
    counts every stage of the jobs, skipped ones included; ``stages``
    holds the completed ones, whose metrics are summed."""

    def __init__(self, spans: list[dict], jobs: list[dict], stages: list[dict]):
        groups = {s["id"] for s in spans}
        self.jobs = [j for j in jobs if j.get("jobGroup") in groups]
        self.stage_ids = {i for j in self.jobs for i in j["stageIds"]}
        self.stages = [s for s in stages if s["stageId"] in self.stage_ids
                       and s["status"] == "COMPLETE"]

    def busy_s(self) -> float:
        """Wall time covered by at least one of the jobs."""
        spans = sorted((_ts(j["submissionTime"]), _ts(j["completionTime"]))
                       for j in self.jobs if j.get("completionTime"))
        total, end = 0.0, float("-inf")
        for a, b in spans:
            if b > end:
                total += b - max(a, end)
                end = b
        return total

    def total(self, field: str) -> float:
        return sum(s.get(field, 0) or 0 for s in self.stages)

    def runtime(self) -> dict:
        return {
            "spark.executor_cpu_s": self.total("executorCpuTime") / 1e9,
            "spark.gc_s": self.total("jvmGcTime") / 1e3,
            "spark.shuffle_write_mb": self.total("shuffleWriteBytes") / _MB,
            "spark.spill_mb": (self.total("memoryBytesSpilled")
                               + self.total("diskBytesSpilled")) / _MB,
            "spark.tasks": self.total("numCompleteTasks"),
        }


def _count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _median_dicts(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


# -- traced operations -----------------------------------------------------

def _install_wrappers(tracer: Tracer) -> None:
    from databricks_pdf_ocr_spark.operators import dedup, text_analysis
    from databricks_pdf_ocr_spark.plans.checkpoint import CheckpointManager
    from databricks_pdf_ocr_spark.sources.tables import TableIO
    from jobs import extract as extract_job

    for m in ("append", "overwrite", "overwrite_partitions", "read",
              "append_rows"):
        tracer.wrap(TableIO, m, f"tables.{m}")
    for m in ("filter_pending", "mark_from_results", "next_run_seq",
              "all_marked_buckets", "run_history"):
        tracer.wrap(CheckpointManager, m, f"checkpoint.{m}")
    # jobs/extract.py binds these names at import time
    tracer.wrap(extract_job, "latest_results", "state_views.latest_results")
    tracer.wrap(extract_job, "reassemble", "extract.reassemble")
    tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs")
    tracer.wrap(dedup, "neardup_components", "dedup.neardup_components")
    tracer.wrap(text_analysis, "with_features", "curate.with_features")


def traced_op(bench, tracer: Tracer, rest: Rest) -> dict:
    """One traced repetition of the workload's operation: layer times
    from the spans, Spark work from the REST stage metrics."""
    wl = bench.wl
    files0 = _count_files(wl.tables)
    with tracer.span(f"jobs.{wl.entry}") as top:
        stats = wl.run(bench.spark)
    wall = top["end"] - top["start"]
    spans = tracer.tree(top)
    att = Attribution(spans, rest.jobs(), rest.stages())
    sec = functools.partial(Tracer.seconds, spans)
    out = {"wall_s": wall, "stats": stats, **att.runtime()}
    if wl.entry == "run_job":
        ck = [s for s in spans if s["name"].startswith("checkpoint.")]
        ck_tree = [t for s in ck for t in tracer.tree(s)]
        out.update({
            "tables.append_s": sec("tables.append"),
            "tables.overwrite_partitions_s": sec("tables.overwrite_partitions"),
            "tables.read_mb": att.total("inputBytes") / _MB,
            "tables.write_mb": att.total("outputBytes") / _MB,
            "tables.files_written": _count_files(wl.tables) - files0,
            "checkpoint.filter_pending_s": sec("checkpoint.filter_pending"),
            "checkpoint.mark_s": sec("checkpoint.mark_from_results"),
            "checkpoint.next_run_seq_s": sec("checkpoint.next_run_seq"),
            "checkpoint.spark_jobs": len(Attribution(
                ck_tree, att.jobs, att.stages).jobs),
            "state_views.latest_results_s": sec("state_views.latest_results"),
            "jobs.extract.spark_jobs": len(att.jobs),
            "jobs.extract.spark_stages": len(att.stage_ids),
            "jobs.extract.driver_only_s": wall - att.busy_s(),
        })
    else:
        comps = [s for s in spans if s["name"] == "dedup.neardup_components"]
        out.update({
            "dedup.minhash_lsh_s": sec("dedup.minhash_lsh_pairs"),
            "dedup.components_s": sec("dedup.neardup_components"),
            "dedup.components_rounds": stats.get("components_rounds") or 0,
            "curate.write_s": top["end"] - max(s["end"] for s in comps),
            "curate.spark_jobs": len(att.jobs),
            "curate.spark_stages": len(att.stage_ids),
            "curate.docs_kept": stats["docs"],
        })
    return out


# -- layer probes ----------------------------------------------------------

def functions_probe(wl, docs) -> dict:
    """The kernel over the spans of ``docs``, in this one process: CPU
    time per span kind, then (second pass) per wrapped sub-function."""
    from databricks_pdf_ocr_spark.functions import (
        extract_span as es, htmlmini, ocr_fallback, pdfmini, segment)

    cfg = wl.cfg
    spans = [s for _, doc in docs for s in doc]

    def run_all() -> tuple[dict, int]:
        per_kind, failed = {}, 0
        for s in spans:
            t0 = time.process_time()
            status = es.extract_span(
                s["kind"], s["text"], s["media_ref"],
                max_payload_bytes=cfg.max_payload_bytes,
                max_pages=cfg.max_pages_per_doc,
                max_retries=cfg.max_retries,
                retry_backoff_s=cfg.retry_backoff_s)[0]
            per_kind[s["kind"]] = (per_kind.get(s["kind"], 0.0)
                                   + time.process_time() - t0)
            failed += status == "failed"
        return per_kind, failed

    per_kind, failed = run_all()
    subs = {"functions.pdfmini.parse_pdf_s": (pdfmini, "parse_pdf"),
            "functions.segment.reading_order_s": (segment, "reading_order_text"),
            "functions.htmlmini.extract_blocks_s": (htmlmini, "extract_blocks"),
            "functions.ocr_fallback_s": (ocr_fallback, "fallback_text")}
    spent = dict.fromkeys(subs, 0.0)
    originals = {k: getattr(m, a) for k, (m, a) in subs.items()}

    def timed(key, fn):
        def call(*args, **kwargs):
            t0 = time.process_time()
            try:
                return fn(*args, **kwargs)
            finally:
                spent[key] += time.process_time() - t0
        return call

    for k, (m, a) in subs.items():
        setattr(m, a, timed(k, originals[k]))
    try:
        run_all()
    finally:
        for k, (m, a) in subs.items():
            setattr(m, a, originals[k])
    out = {f"functions.kernel_s.{k}": per_kind.get(k, 0.0)
           for k in ("pdf", "html", "text", "image")}
    out.update(spent)
    out["functions.spans_failed"] = failed
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def operators_probe(bench, tracer: Tracer, rest: Rest, kernel_s: float) -> dict:
    """Noop-sink wall time of each cumulative prefix of the extraction
    pipeline; each layer is the difference of two prefixes."""
    from databricks_pdf_ocr_spark.operators.extract import (
        explode_spans, extract_spans, reassemble)
    from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA

    spark = bench.spark
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cfg = dataclasses.replace(bench.wl.cfg, shuffle_partitions=parts)
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(bench.wl.input)
    spans = explode_spans(docs.select("doc_id", "spans"))
    prefixes = [
        ("scan", docs),
        ("explode", spans),
        ("salt", spans.repartition(parts, F.col("doc_id"), F.col("offset"))),
        ("mapinpandas", extract_spans(spans, cfg, salt=True)),
        ("reassemble", reassemble(extract_spans(spans, cfg, salt=True))),
    ]
    wall, recs = {}, {}
    for name, df in prefixes:
        with tracer.span(f"extract.prefix.{name}") as rec:
            _noop(df)
        wall[name] = rec["end"] - rec["start"]
        recs[name] = rec
    jobs, stages = rest.jobs(), rest.stages()
    salt = Attribution([recs["salt"]], jobs, stages)
    kern = Attribution([recs["mapinpandas"]], jobs, stages)
    stage = max(kern.stages, key=lambda s: s.get("executorRunTime", 0))
    times = sorted(t["taskMetrics"]["executorRunTime"]
                   for t in rest.tasks(stage) if t.get("taskMetrics"))
    return {
        "extract.scan_s": wall["scan"],
        "extract.explode_s": wall["explode"] - wall["scan"],
        "extract.salt_shuffle_s": wall["salt"] - wall["explode"],
        "extract.mapinpandas_s": wall["mapinpandas"] - wall["salt"],
        "extract.reassemble_s": wall["reassemble"] - wall["mapinpandas"],
        "extract.salt_shuffle_mb": salt.total("shuffleWriteBytes") / _MB,
        "extract.task_skew": (times[-1] / statistics.median(times)
                              if times and statistics.median(times) else 0.0),
        "extract.boundary_s": stage.get("executorRunTime", 0) / 1e3 - kernel_s,
    }


def resume_probe(bench, tracer: Tracer, rest: Rest) -> dict:
    """One traced crash-resume: set-up crashes a run after ¾ of the
    buckets, the traced operation resumes it (untimed restore first)."""
    from extractbench.workloads import ExtractResume

    wl = ExtractResume(bench.work, bench.cores, bench.seed)
    wl.ref = bench.wl.ref
    wl.prepare(bench.spark)
    wl.before_rep()
    saved, bench.wl = bench.wl, wl
    try:
        rep = traced_op(bench, tracer, rest)
        if not wl.check(rep["stats"]).ok:
            raise RuntimeError("traced resume output differs from the reference")
    finally:
        bench.wl = saved
    return {
        "resume.docs_per_s": wl.n_docs / rep["wall_s"],
        "resume.checkpoint.filter_pending_s": rep["checkpoint.filter_pending_s"],
        "resume.checkpoint.mark_s": rep["checkpoint.mark_s"],
        "resume.state_views.latest_results_s":
            rep["state_views.latest_results_s"],
        "resume.tables.read_mb": rep["tables.read_mb"],
        "resume.jobs.extract.spark_jobs": rep["jobs.extract.spark_jobs"],
        "resume.jobs.extract.driver_only_s": rep["jobs.extract.driver_only_s"],
    }


def curate_probe(bench, tracer: Tracer) -> dict:
    """Funnel counts, LSH candidate and verified-pair counts, and the
    feature pass as a noop-sink prefix difference, on the curate input."""
    from databricks_pdf_ocr_spark.operators import dedup, text_analysis
    from jobs.curate import doc_text

    spark = bench.spark
    ext = spark.read.parquet(os.path.join(bench.wl.tables, "extracted_documents"))
    docs = doc_text(ext)
    t0 = time.perf_counter()
    _noop(docs)
    t1 = time.perf_counter()
    _noop(text_analysis.with_features(docs))
    t2 = time.perf_counter()
    min_q = int(bench.wl.curate_args().min_quality)
    gated = text_analysis.with_features(docs).filter(
        F.col("quality_score_e6") >= min_q).cache()
    h = F.sha2(F.col("text"), 256)
    exact = (gated.withColumn("__m", F.min("doc_id").over(Window.partitionBy(h)))
             .filter(F.col("doc_id") == F.col("__m")).drop("__m").cache())
    try:
        cand = dedup.minhash_lsh_pairs(exact, hash_mode="xxhash64").count()
        verified = dedup.minhash_lsh_pairs(
            exact, hash_mode="xxhash64", verify_threshold=0.3).count()
        out = {"curate.docs_in": docs.count(),
               "curate.docs_gated": gated.count(),
               "curate.docs_exact_kept": exact.count()}
    finally:
        exact.unpersist()
        gated.unpersist()
    out.update({
        "curate.features_s": (t2 - t1) - (t1 - t0),
        "dedup.lsh_candidates": cand, "dedup.verified_pairs": verified,
        "dedup.verify_yield": verified / cand if cand else 0.0,
    })
    return out


def scaling_probe(bench) -> dict:
    """Non-gating 1→k diagnostic: one fresh extract of the first
    ``SCALING_DOCS`` documents at local[1] and at local[k].  Read it next
    to ``host.hw_ceiling_*``, the host's pure-Python 1→k ceiling.  (A
    4-core host cannot run an N vs 4N protocol with N ≥ 8.)"""
    from extractbench import corpus

    wl, saved_input = bench.wl, bench.wl.input
    wl.input = os.path.join(bench.work, "input_scaling")
    corpus.write_documents(bench.rows[:SCALING_DOCS], wl.input)
    out = {}
    try:
        for cores, key in ((1, "scaling.docs_per_s_local1"),
                           (bench.cores, "scaling.docs_per_s_localk")):
            bench.start_session(cores)
            wl.before_rep()
            t0 = time.perf_counter()
            wl.run(bench.spark)
            out[key] = SCALING_DOCS / (time.perf_counter() - t0)
    finally:
        wl.input = saved_input
    out["scaling.speedup"] = (out["scaling.docs_per_s_localk"]
                              / out["scaling.docs_per_s_local1"])
    return out


def traced_run(bench, seconds: float, started: float) -> tuple[dict, list[dict], dict]:
    """After one warm-up operation, untraced and traced repetitions
    alternate (their difference is the tracing overhead); then the layer
    probes of the workload run.  No probe starts later than
    ``TIME_BUDGET_S`` after ``started``."""
    wl = bench.wl
    bench.warm_up()
    tracer, rest = Tracer(bench.spark), Rest(bench.spark)
    metrics = dict.fromkeys(LAYER_METRICS)
    skipped = []
    try:
        untraced, traced = [], []
        end = time.perf_counter() + seconds
        while len(traced) < 2 or time.perf_counter() < end:
            # ABBA order, so a drift within the run hits both sides alike
            if len(traced) % 2 == 0:
                untraced += bench.timed_loop(0, min_reps=1)
            _install_wrappers(tracer)
            wl.before_rep()
            rep = traced_op(bench, tracer, rest)
            tracer.unwrap()
            rep["check"] = wl.check(rep["stats"])
            traced.append(rep)
            if len(traced) % 2 == 0:
                untraced += bench.timed_loop(0, min_reps=1)
        _install_wrappers(tracer)
        metrics.update(_median_dicts([{k: v for k, v in r.items()
                                       if k in LAYER_METRICS} for r in traced]))
        dps_u = statistics.median(wl.n_docs / r["wall_s"] for r in untraced)
        dps_t = statistics.median(wl.n_docs / r["wall_s"] for r in traced)
        metrics.update({"trace.docs_per_s_untraced": dps_u,
                        "trace.docs_per_s_traced": dps_t,
                        "trace.overhead_docs_per_s": dps_t - dps_u,
                        "jvm.jit_cpu_s": statistics.median(
                            r["jit_cpu_s"] for r in untraced)})
        if wl.entry == "run_job":
            fn = functions_probe(wl, bench.rows)
            metrics.update(fn)
            kernel_s = sum(fn[f"functions.kernel_s.{k}"]
                           for k in ("pdf", "html", "text", "image"))
            probes = [("operators", lambda: operators_probe(
                           bench, tracer, rest, kernel_s)),
                      ("resume", lambda: resume_probe(bench, tracer, rest))]
        else:
            probes = [("curate", lambda: curate_probe(bench, tracer))]
        for name, probe in probes:
            if time.perf_counter() - started > TIME_BUDGET_S:
                skipped.append(name)
            else:
                metrics.update(probe())
    finally:
        tracer.unwrap()
    if wl.entry == "run_job":
        if time.perf_counter() - started > TIME_BUDGET_S:
            skipped.append("scaling")
        else:
            metrics.update(scaling_probe(bench))

    with open(os.path.join(bench.work, "trace_spans.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    # the host ceilings are filled in once the JVM has stopped
    not_run = sorted(k for k, v in metrics.items()
                     if v is None and not k.startswith("host."))
    out = {k: {"value": 0.0 if v is None else v, "unit": LAYER_METRICS[k]}
           for k, v in metrics.items()}
    reps = untraced + [{"wall_s": r["wall_s"], "cpu_s": None,
                        "peak_rss_mb": None, "error": None,
                        "check": r["check"]} for r in traced]
    return out, reps, {"not_run": not_run, "skipped_probes": skipped}
