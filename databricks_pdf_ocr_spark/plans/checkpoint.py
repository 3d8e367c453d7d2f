"""Per-partition checkpoint lineage + idempotent resume.

North-rule mandate: "resumable from checkpoint with per-partition lineage +
metrics".  Reference analogues: the run-state table
(``managers/state.py:22-73`` — one row per *run*) and the streaming
checkpoint (``handlers/autoloader.py:104``); this module generalizes both
to **bucket granularity**: work is hashed into
``pmod(xxhash64(doc_id), n_buckets)`` buckets, each bucket gets a lineage
row with extraction metrics when its results land, and a restarted run
drops the buckets already done from its pending work.

Write-then-mark ordering gives crash safety: results for a bucket are
committed *before* the bucket is marked done, so a crash between the two
re-extracts that bucket; deterministic ``result_id``s make the rerun
byte-identical and ``reassemble``'s ``array_distinct`` collapses the
duplicates on read (SURVEY.md §4.2.3).  The extraction job also
assembles a bucket before it marks it, so every marked bucket is
assembled and a crash before the mark re-assembles on the next run.
The lineage log is append-only: the reference's full-table-rewrite
update (``managers/state.py:64-73``) is replaced by latest-wins reads.
"""

from __future__ import annotations

import secrets

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import ExtractConfig
from ..operators.extract import bucket_col
from ..schemas import CHECKPOINT_SCHEMA
from ..session import local_frame
from ..sources.tables import TableIO

CHECKPOINT_TABLE = "extraction_checkpoint"

#: the per-bucket metric fields of a lineage row (CHECKPOINT_SCHEMA)
_MARK_METRICS = ("docs_done", "spans_in", "pages_parsed", "ocr_fallbacks",
                 "span_count", "failed_spans", "duration_ms")


def new_run_id() -> str:
    return "run-" + secrets.token_hex(8)


class CheckpointManager:
    def __init__(self, io: TableIO, cfg: ExtractConfig):
        self.io = io
        self.cfg = cfg
        self.spark: SparkSession = io.spark

    # -- read side ---------------------------------------------------------

    def _read_checkpoint(self) -> DataFrame | None:
        """All checkpoint reads pass the explicit schema (ADVICE r3): a
        table holding pre-run_seq files plus new ones would otherwise be
        footer-SAMPLED for schema — run_seq could be invisible and
        next_run_seq would restart at 1, stamping a regressed ordinal
        that makes latest_results revive an old run.  With the explicit
        schema, old files yield run_seq=null and max() ignores them."""
        return self.io.read(CHECKPOINT_TABLE, schema=CHECKPOINT_SCHEMA)

    def filter_pending(self, documents: DataFrame,
                       done: set[int]) -> DataFrame:
        """documents (+bucket col) minus docs in the ``done`` buckets.

        ``done`` is the ≤ n_buckets ints ``run_state`` read, so the cut
        is a static filter: no join, no lineage re-read per action — the
        scale-correct twin of the reference's collect-every-processed-id
        ``isin`` (``processors/ocr.py:67-70``, SURVEY.md §2.2 P3).
        """
        return (documents
                .withColumn("bucket", bucket_col(self.cfg.n_buckets))
                .filter(~F.col("bucket").isin(sorted(done))))

    def next_run_seq(self) -> int:
        """Monotonic run ordinal: 1 + the max sequence ever recorded.

        Wall-clock (``processed_at``) + random run-id hex is NOT a safe
        latest-wins ordering — an NTP step between runs, or a timestamp
        tie, would pick the "latest" run arbitrarily and silently revive a
        stale doc version in reassembly.  The checkpoint table is the
        engine's one durable, totally-ordered record of runs, so its max
        ordinal + 1 is the authoritative next sequence (control-plane
        aggregate over the tiny lineage table).
        """
        return self.run_state()[0]

    def all_marked_buckets(self) -> set[int]:
        """Distinct buckets with any lineage mark, across fingerprints
        (≤ n_buckets ints from the tiny checkpoint table)."""
        cp = self._read_checkpoint()
        if cp is None:
            return set()
        return set(cp.agg(F.collect_set("bucket")).first()[0])

    def run_state(self, fingerprints: tuple[str, ...] = ()
                  ) -> tuple[int, dict[str, set[int]]]:
        """``(next_run_seq(), {fp: done buckets})`` from ONE aggregate
        over the lineage table — a job's start-of-run control-plane read.
        The done buckets of a fingerprint are those marked 'done' for it.
        An empty table costs no Spark job."""
        cp = self._read_checkpoint()
        if cp is None:
            return 1, {fp: set() for fp in fingerprints}
        done = F.col("status") == "done"
        mx, *per_fp = cp.agg(
            F.max("run_seq"),
            *[F.collect_set(F.when(done & (F.col("input_fingerprint") == fp),
                                   F.col("bucket")))
              for fp in fingerprints]).first()
        return (int(mx or 0) + 1,
                {fp: set(b) for fp, b in zip(fingerprints, per_fp)})

    def run_history(self, k: int = 10) -> DataFrame:
        """Latest runs with aggregate metrics (reference:
        ``managers/state.py:106-132`` orderBy+limit top-k)."""
        cp = self._read_checkpoint()
        if cp is None:
            return local_frame(self.spark, [], CHECKPOINT_SCHEMA)
        return (cp.groupBy("run_id")
                  .agg(F.max("updated_at").alias("run_timestamp"),
                       F.count_distinct("bucket").alias("buckets_done"),
                       F.sum("docs_done").alias("docs_done"),
                       F.sum("pages_parsed").alias("pages_parsed"),
                       F.sum("ocr_fallbacks").alias("ocr_fallbacks"),
                       F.sum("span_count").alias("span_count"),
                       F.sum("failed_spans").alias("failed_spans"))
                  .orderBy(F.desc("run_timestamp"))
                  .limit(k))

    def compact(self) -> dict:
        """Rewrite the append-only lineage log to a latest-wins snapshot:
        one row per ``(input_fingerprint, bucket)`` — the highest
        ``run_seq`` mark (VERDICT r3 #6).

        The log grows runs × n_buckets rows forever; ``run_state``
        scans it once at the start of every run, so a years-running
        deployment compacts periodically (``jobs/status.py
        --compact-checkpoint``).  Every reader's contract survives: done
        buckets per fingerprint, the distinct-marked-bucket set, the
        global max run_seq (its row is by definition the latest for its
        own key), and the newest config per fingerprint all live in the
        kept rows.  What compaction drops is superseded runs' HISTORY —
        ``run_history`` afterwards shows only surviving marks.

        Commit: the snapshot is fully written to a staging table first,
        then swapped in (``TableIO.replace_table`` — directory-rename hop
        for parquet, catalog-atomic createOrReplace for Iceberg).
        """
        from .state_views import latest_per_key

        cp = self._read_checkpoint()
        if cp is None:
            return {"rows_before": 0, "rows_after": 0}
        rows_before = cp.count()
        snap = latest_per_key(
            cp, ["input_fingerprint", "bucket"],
            [F.desc("run_seq"), F.desc("updated_at"), F.desc("run_id")])
        staging = CHECKPOINT_TABLE + "__compacting"
        self.io.drop(staging)
        self.io.overwrite(snap, staging)      # materialized BEFORE the swap
        rows_after = self.io.read(staging, schema=CHECKPOINT_SCHEMA).count()
        self.io.replace_table(staging, CHECKPOINT_TABLE)
        return {"rows_before": int(rows_before), "rows_after": int(rows_after)}

    # -- write side --------------------------------------------------------

    def mark_from_results(self, results: DataFrame, run_id: str,
                          fingerprints: tuple[str, ...],
                          run_seq: int) -> list[dict]:
        """Aggregate per-bucket metrics from a results DataFrame (which
        carries the ``bucket`` and per-span ``duration_ms`` columns),
        append the run's 'done' lineage rows for each bucket and return
        them: one with the metrics under ``fingerprints[0]``, the input,
        and a bare one under each further fingerprint (``<input>#media``:
        the bucket's payloads are written too).  A bucket's
        ``duration_ms`` is the kernel time of its rows.  ``run_seq`` is
        the run's ordinal, read once at the start of the run
        (``run_state``).

        The aggregate runs distributed (map-side partial agg → tiny
        shuffle); the ≤ n_buckets result rows are CONTROL-PLANE data, so
        they're collected and appended driver-side (``io.append_rows``) —
        a Spark parquet write job costs ~1-2 s of fixed committer overhead
        even for 64 rows, pure tax on the job's critical path."""
        metrics = (
            results
            .groupBy("bucket")
            .agg(
                # exactly one is_first_span row per document (min-offset
                # span, sub_idx 0) — an exact doc count as a plain SUM,
                # no count-distinct Expand pass over every results row
                F.sum(F.col("is_first_span").cast("long")).alias("docs_done"),
                # every input span emits exactly ONE sub_idx==0 row (success
                # fan-out starts at 0; failed/empty emit a single 0 row), so
                # this counts input spans without a second count-distinct
                # Expand pass
                F.sum((F.col("sub_idx") == 0).cast("long")).alias("spans_in"),
                F.sum("pages_parsed").cast("long").alias("pages_parsed"),
                F.sum(F.col("ocr_fallback").cast("long")).alias("ocr_fallbacks"),
                F.sum((F.col("status") == "success").cast("long")).alias("span_count"),
                F.sum((F.col("status") == "failed").cast("long")).alias("failed_spans"),
                F.sum("duration_ms").cast("long").alias("duration_ms"),
            )
        )
        rows = [r.asDict() for r in metrics.collect()]  # ≤ n_buckets rows
        first, *rest = fingerprints
        return self._append_marks(
            [(first, m) for m in rows]
            + [(fp, {"bucket": m["bucket"]}) for fp in rest for m in rows],
            run_id, run_seq)

    def _append_marks(self, marks: list[tuple[str, dict]], run_id: str,
                      run_seq: int) -> list[dict]:
        """The one place lineage rows are built: one 'done' row per
        ``(fingerprint, per-bucket metric dict)`` (missing metrics are
        0), appended driver-side and returned."""
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        rows = [{
            "run_id": run_id,
            "run_seq": int(run_seq),
            "input_fingerprint": fp,
            "bucket": int(m["bucket"]),
            "status": "done",
            **{k: int(m.get(k) or 0) for k in _MARK_METRICS},
            "config_json": self.cfg.to_json(),
            "updated_at": now,
        } for fp, m in marks]
        self.io.append_rows(rows, CHECKPOINT_TABLE, CHECKPOINT_SCHEMA)
        return rows
