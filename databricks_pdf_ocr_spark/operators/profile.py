"""Table profiler: per-column completeness / cardinality / range summary
— the data-quality sweep a pipeline runs over a new 100 TB drop before
admitting it (null rates catch broken extractors, cardinalities catch
key collisions, ranges catch unit bugs).

ONE pass over the table: every column's aggregates live in a single
``agg`` whose results are unpivoted driver-side into the per-column
rows (the unpivot touches a 1-row result, not data).  Exact distinct
counts make the result oracle-checkable; Spark plans the N
``count(DISTINCT …)`` in one Expand (N× row multiplier).

Typed min/max: numeric columns report ``min_num``/``max_num`` (exact
data values — no summation, so cross-engine hash parity is free) and
string columns ``min_str``/``max_str``; the other pair is NULL.  This
avoids casting min/max through strings, where engines disagree on
float/timestamp rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

#: (column, kind) — kind 'num' reports min_num/max_num, 'str' the string
#: pair.  Timestamps are profiled as microseconds since a fixed anchor.
NUM, STR = "num", "str"


def profile_table(spark: SparkSession, df: DataFrame,
                  cols: list[tuple[str, str]]) -> DataFrame:
    """One row per profiled column:
    (col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str,
    max_str)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c, kind in cols:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).cast("long")
                    .alias(f"{c}__n_null"))
        aggs.append(F.countDistinct(col).cast("long")
                    .alias(f"{c}__n_distinct"))
        if kind == NUM:
            aggs.append(F.min(col).cast("double").alias(f"{c}__min_num"))
            aggs.append(F.max(col).cast("double").alias(f"{c}__max_num"))
        else:
            aggs.append(F.min(col).alias(f"{c}__min_str"))
            aggs.append(F.max(col).alias(f"{c}__max_str"))
    row = df.agg(*aggs).first()
    out = [(c, row["n_rows"], row[f"{c}__n_null"], row[f"{c}__n_distinct"],
            row.asDict().get(f"{c}__min_num"),
            row.asDict().get(f"{c}__max_num"),
            row.asDict().get(f"{c}__min_str"),
            row.asDict().get(f"{c}__max_str"))
           for c, _ in cols]
    return local_frame(
        spark, out, "col_name string, n_rows long, n_null long, "
                    "n_distinct long, min_num double, max_num double, "
                    "min_str string, max_str string")
