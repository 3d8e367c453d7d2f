"""The closed-loop workloads: set-up, the timed operation, and the
check of each timed run's output against the single-process reference.

Each workload drives a real public entry point in-process:
``jobs/extract.py:run_job`` or ``jobs/curate.py:run_curate``.
"""

from __future__ import annotations

import os
import shutil
import zlib
from collections import Counter
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from databricks_pdf_ocr_spark.config import load_config
from databricks_pdf_ocr_spark.operators.extract import bucket_col
from jobs import curate as curate_job
from jobs import extract as extract_job

from . import corpus

#: checkpoint buckets (``run_job --n-buckets``), 4 per core of a 4-core host
N_BUCKETS = 16
#: the crashed run of ``extract_resume`` completes this many buckets
CRASH_AFTER_BUCKETS = N_BUCKETS * 3 // 4
#: bench.py's curate flags (production xxhash64 near-duplicate hashing)
CURATE_FLAGS = ["--min-quality", "450000", "--sample", "en=60,*=40"]


@dataclass
class Check:
    """Outcome of one timed run, compared with the reference."""
    docs: int              # input-corpus documents the run completes
    mismatched_docs: int
    failed_spans: int = 0
    spans_in: int = 0
    ref_failed_spans: int = 0
    ref_spans_in: int = 0

    @property
    def ok(self) -> bool:
        return (self.mismatched_docs == 0
                and self.failed_spans == self.ref_failed_spans
                and self.spans_in == self.ref_spans_in)


def _read_extracted(path: str) -> dict[str, list[tuple]]:
    table = pq.read_table(path, columns=["doc_id", "spans"])
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]]
            for r in table.to_pylist()}


def _mismatches(got: dict, want: dict) -> int:
    return sum(got.get(d) != want.get(d) for d in set(got) | set(want))


class Workload:
    """Paths live under ``work``.  ``reference`` runs once, untimed;
    ``prepare`` is the state preparation inside every set-up pass;
    ``before_rep`` runs untimed before every timed ``run``."""

    name = ""
    entry = ""   # the public entry point the timed operation calls

    def __init__(self, work: str, cores: int, seed: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.input = os.path.join(work, "input")
        self.tables = os.path.join(work, "tables")
        self.cfg = load_config()
        self.ref: corpus.Reference | None = None
        self.shape: dict = {}   # input counts printed with the corpus shape

    def reference(self, rows) -> None:
        self.ref = corpus.extraction_reference(rows, self.cfg)

    def prepare(self, spark: SparkSession) -> None:
        pass

    def before_rep(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)

    def run(self, spark: SparkSession) -> dict:
        raise NotImplementedError

    def check(self, stats: dict) -> Check:
        raise NotImplementedError

    @property
    def n_docs(self) -> int:
        """Input-corpus documents one timed operation completes."""
        return len(self.ref.spans_in)


class ExtractFull(Workload):
    name = "extract_full"
    entry = "run_job"

    def pending_docs(self) -> list[str]:
        """Input documents the timed operation extracts."""
        return list(self.ref.spans_in)

    def job_args(self, tables: str, *extra: str) -> list[str]:
        return ["--input", self.input, "--tables", tables, "--salt",
                "--n-buckets", str(N_BUCKETS), *extra]

    def run(self, spark):
        args = extract_job.build_parser().parse_args(
            self.job_args(self.tables, "--mode", "reprocess_all"))
        stats, rc = extract_job.run_job(spark, args)
        if rc != 0:
            raise RuntimeError(f"run_job exited {rc}")
        return stats

    def check(self, stats) -> Check:
        got = _read_extracted(os.path.join(self.tables, "extracted_documents"))
        want = {d: o for d, o in self.ref.outputs.items() if o}
        res = pq.read_table(
            os.path.join(self.tables, "extraction_results"),
            columns=["doc_id", "sub_idx", "status"],
            filters=[("run_id", "=", stats["run_id"])]).to_pydict()
        docs = set(res["doc_id"])
        expected = set(self.pending_docs())
        ref_failed, ref_spans = self.ref.failed_share(expected)
        return Check(
            docs=self.n_docs,
            mismatched_docs=_mismatches(got, want) + len(docs ^ expected),
            failed_spans=Counter(res["status"])["failed"],
            spans_in=sum(1 for s in res["sub_idx"] if s == 0),
            ref_failed_spans=ref_failed, ref_spans_in=ref_spans)


class ExtractResume(ExtractFull):
    """Set-up crashes a run after ¾ of the buckets and keeps its tables;
    every timed run resumes from a fresh copy of them."""

    name = "extract_resume"

    def prepare(self, spark):
        self.pristine = os.path.join(self.work, "crashed")
        shutil.rmtree(self.pristine, ignore_errors=True)
        args = extract_job.build_parser().parse_args(self.job_args(
            self.pristine, "--mode", "incremental",
            "--fail-after-buckets", str(CRASH_AFTER_BUCKETS)))
        _, rc = extract_job.run_job(spark, args)
        if rc != 3:
            raise RuntimeError(f"crashed run exited {rc}, expected 3")
        done = set(pq.read_table(
            os.path.join(self.pristine, "extraction_checkpoint"),
            columns=["bucket"]).column("bucket").to_pylist())
        buckets = (spark.read.parquet(self.input)
                   .select("doc_id", bucket_col(N_BUCKETS).alias("b"))
                   .collect())
        self._pending = [r["doc_id"] for r in buckets if r["b"] not in done]

    def before_rep(self):
        shutil.rmtree(self.tables, ignore_errors=True)
        shutil.copytree(self.pristine, self.tables)

    def run(self, spark):
        args = extract_job.build_parser().parse_args(
            self.job_args(self.tables, "--mode", "incremental"))
        stats, rc = extract_job.run_job(spark, args)
        if rc != 0:
            raise RuntimeError(f"run_job exited {rc}")
        return stats

    def pending_docs(self):
        return self._pending


class Curate(Workload):
    """``run_curate`` over a fixed ``extracted_documents`` table written
    in set-up from the reference output; no extraction layer runs.

    It takes the documents that are not heavy.  One filter of the
    near-duplicate stage re-splits a document's text once per shingle, so
    its cost grows with tokens squared: a heavy document (60k characters)
    makes a single run take minutes.  The corpus has no near-duplicates
    of its own (on seeds 1-3 no pair reaches a Jaccard similarity of 0.1),
    so a few are planted, and their removal is part of every check."""

    name = "curate"
    entry = "run_curate"

    def reference(self, rows):
        super().reference(rows)
        docs = {d: o for d, o in self.ref.outputs.items()
                if o and self.ref.spans_in[d] < corpus.PROFILE.heavy_spans_min}
        kept = corpus.curate_reference(docs, self.cores)
        copies = corpus.plant_near_duplicates(
            docs, [r[0] for r in kept], self.seed)
        self.docs = {**docs, **copies}
        pairs = corpus.near_duplicate_pairs(corpus.doc_texts(self.docs))
        before = corpus.curate_reference(self.docs, self.cores)
        self.kept = corpus.curate_reference(self.docs, self.cores, pairs)
        dropped = {r[0] for r in before} - {r[0] for r in self.kept}
        if not dropped:
            raise RuntimeError("no planted near-duplicate reaches the output")
        self.shape = {"planted_copies": len(copies),
                      "neardup_pairs": len(pairs),
                      "neardup_dropped": len(dropped),
                      "kept": len(self.kept)}

    def prepare(self, spark):
        """Writes ``extracted_documents`` laid out as ``run_job`` writes it,
        one directory per bucket.  ``run_curate`` reads all buckets alike,
        so a document's bucket here is a CRC32 of its id, not the job's
        xxhash64."""
        shutil.rmtree(self.tables, ignore_errors=True)
        table = os.path.join(self.tables, "extracted_documents")
        buckets: dict[int, list] = {}
        for d, spans in self.docs.items():
            buckets.setdefault(zlib.crc32(d.encode()) % N_BUCKETS, []).append(
                (d, [dict(zip(("kind", "text", "media_ref", "offset"), s))
                     for s in spans]))
        for b, rows in buckets.items():
            corpus.write_documents(rows, os.path.join(table, f"bucket={b}"),
                                   n_files=1)
        self.out = os.path.join(self.work, "curated")

    def before_rep(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def curate_args(self):
        return curate_job.build_parser().parse_args(
            ["--tables", self.tables, "--out", self.out, *CURATE_FLAGS])

    def run(self, spark):
        return curate_job.run_curate(spark, self.curate_args())

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def check(self, stats) -> Check:
        """Kept rows must equal the reference's, which drops every
        non-canonical member of each near-duplicate component."""
        t = pq.read_table(self.out).to_pydict()
        got = {r[0]: r for r in zip(
            t["doc_id"], map(str, t["predicted_lang"]), t["quality_score_e6"],
            t["ws_tokens"], t["bpe_tokens"])}
        want = {r[0]: r for r in self.kept}
        return Check(docs=self.n_docs, mismatched_docs=_mismatches(got, want))


#: the gated workloads; ``ExtractResume`` runs inside the traced run
WORKLOADS = {w.name: w for w in (ExtractFull, Curate)}
