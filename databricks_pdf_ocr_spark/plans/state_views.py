"""Latest-wins reads over append-only tables.

The reference updates its run-state table by rewriting the whole table
with when/otherwise (``managers/state.py:64-73``) — non-atomic and
unscalable.  The engine's replacement (SURVEY.md §4.1): tables are
append-only logs; readers take the latest version per key with a
row_number window — the §2.5 "window dedup" pattern as a reusable view.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def latest_per_key(df: DataFrame, keys: list[str],
                   order_by: list[Column]) -> DataFrame:
    """Keep the newest row per key (ties broken by the given ordering)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn"))


def latest_results(results: DataFrame) -> DataFrame:
    """Latest-wins read over a results log: keep every row of the NEWEST
    run that touched each document, drop all rows from older runs.

    Doc granularity, not (doc_id, offset, sub_idx): a run always extracts
    a document whole (work selection is bucket- and therefore doc-atomic),
    so the newest run's rows are the complete truth for that doc.  A
    per-span latest-wins would leave stale rows behind whenever a
    re-ingested doc *shrinks* (fewer offsets / smaller sub_idx fan-out
    than the previous version) and corrupt the reassembled sequence.

    Run recency is ``run_seq`` (the checkpoint table's monotonic run
    ordinal, stamped on every results row) when present: wall-clock +
    random-hex run_id alone would order arbitrarily on a ``processed_at``
    tie or wrongly after a backwards NTP step between runs, silently
    reviving a stale doc version in reassembly.  ``processed_at`` /
    ``run_id`` remain as tiebreakers (and as the fallback ordering for
    pre-run_seq tables).

    Plan: group-max over a ``Window.partitionBy(doc_id)`` — requires only
    ClusteredDistribution(doc_id), so a downstream ``groupBy(doc_id)``
    (reassembly) reuses the same exchange: latest-wins costs no extra
    shuffle in the assembly path.
    """
    order = []
    if "run_seq" in results.columns:
        order.append(F.col("run_seq"))
    order.append(F.col("processed_at"))
    if "run_id" in results.columns:
        order.append(F.col("run_id"))
    w = Window.partitionBy("doc_id")
    return (results
            .withColumn("__mx", F.max(F.struct(*order)).over(w))
            .filter(F.struct(*order) == F.col("__mx"))
            .drop("__mx"))


def results_as_of(results: DataFrame, run_seq: int) -> DataFrame:
    """Time travel over the append-only results log: the table state AS
    OF run ordinal ``run_seq`` — the Iceberg/Delta snapshot-read
    equivalent this engine gets for free from never updating in place.
    One partition-pruning-friendly filter (``run_seq`` is a plain
    column; on a run-partitioned layout it prunes files) composed with
    the same latest-wins window as the current-state read — no second
    code path to trust."""
    return latest_results(results.filter(F.col("run_seq") <= run_seq))
