"""Time-series downsampling with gap fill — the hypertable
continuous-aggregate / rollup shape (TimescaleDB's ``time_bucket`` +
``time_bucket_gapfill``), Spark-first.

Task-brief component: the reference pipeline's lineage/metrics tables
are event streams; dashboards over them need dense fixed-grid rollups
where an hour with NO events is an explicit zero row, not a missing
one (gaps silently vanish in a plain ``groupBy`` and break rate /
moving-average math downstream).

Scale design (100 TB of events):

- the fact aggregation is ONE hash-agg with map-side partial combine —
  the only full-data shuffle;
- bucket ids are integer epoch-hours (``timestampdiff`` from the
  epoch), so the grid is a plain integer ``sequence`` — no timestamp
  arithmetic in the explode and no TZ semantics in the result;
- the dense grid (dims × hours) and the aggregated facts are both
  model-scale (thousands of rows however big the input); the gap-fill
  left join broadcasts the aggregate side, so densification costs no
  shuffle at all;
- ``sequence(lo, hi)`` is safe from the ``sequence(1, 0)`` reverse
  trap: lo/hi come from min/max over the same non-empty input, so
  lo ≤ hi always.

Reference analogue: none — the reference has no rollup surface; this
is the engine's time-series extension (SURVEY.md §2 A2/W family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: integer hour bucket since the epoch — floor(epoch_seconds / 3600),
#: expressed as a complete-hours diff so TIMESTAMP_NTZ works (a direct
#: long cast of NTZ does not; see CLAUDE.md)
_HOUR_BUCKET = "timestampdiff(HOUR, timestamp'1970-01-01 00:00:00', ts)"


def downsample_gapfill(events: DataFrame) -> DataFrame:
    """Per (dim, hour-bucket) event count + value sum over a DENSE
    hour grid spanning [min(ts), max(ts)]: buckets with no events for
    a dim appear with n_events=0 / sum_value=0.0.

    Returns columns (dim_col, hr, n_events, sum_value) where ``hr`` is
    the integer epoch-hour of the bucket.
    """
    hr = F.expr(_HOUR_BUCKET).alias("hr")
    agg = (events
           .groupBy(F.col("event_type"), hr)
           .agg(F.count("*").alias("n_events"),
                F.sum("value").alias("sum_value")))
    span = events.agg(F.expr(f"min({_HOUR_BUCKET})").alias("lo"),
                      F.expr(f"max({_HOUR_BUCKET})").alias("hi"))
    grid = (events.select("event_type").distinct()
            .crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence("lo", "hi")).alias("hr")))
    return (grid.join(F.broadcast(agg), ["event_type", "hr"], "left")
            .select("event_type", "hr",
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.round(F.coalesce("sum_value", F.lit(0.0)), 2)
                     .alias("sum_value")))


def moving_window(events: DataFrame) -> DataFrame:
    """Trailing 4-hour rolling value sum per dim — the
    continuous-aggregate consumer the gap fill exists FOR: only on a
    dense grid does a ROWS frame mean "last N hours"; on a sparse one
    it silently means "last N hours WITH events" (and the rolling mean
    is just this over the window length).

    One window per dim partition over the model-scale dense grid (the
    heavy lifting — the fact hash-agg — already happened inside
    ``downsample_gapfill``).  Emits (dim, hr, n_events, sum_value,
    win_sum_e2): the rolling sum round-half-up-scaled to 1e-2 ints —
    the 2-dp inputs make the scaled sum integer-valued, so the int is
    engine-portable where a ``round()`` of the divided mean is not
    (sliding frames accumulate in different orders per engine; avg/4
    lands exactly on .5 at 3 dp)."""
    from pyspark.sql import Window
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-3, 0))
    return (downsample_gapfill(events)
            .withColumn(
                "win_sum_e2",
                F.floor(F.sum("sum_value").over(w) * 100 + F.lit(0.5))
                 .cast("long")))
