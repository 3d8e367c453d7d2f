"""Z-order (Morton) data layout: multi-dimensional clustering for scan
pruning — the primitive behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

Sorting 100 TB by one column makes file-level min/max stats prune that
column only; interleaving the bits of TWO normalized keys into one
space-filling-curve key keeps rows that are close in EITHER dimension in
the same files, so a predicate on either column (or both) skips most
files.  The key computation is a pure projection — zero shuffle, zero
Python; the production write is ``repartitionByRange(zkey)`` +
``sortWithinPartitions(zkey)`` (Spark's sampling-based distributed range
sort).  The registered summary query instead pins EXACT file boundaries
with an explicit global window so DuckDB can replay file assignment
bit-for-bit, and emits per-file min/max bounds — the numbers a scan
planner would prune with.

The bit-interleave is generated ONCE as SQL text and rendered for both
engines (only the shift-left spelling differs), so parity is by
construction.  Dimensions are min/max-normalized to 16 bits with
integer-exact arithmetic (`*65535.0` then floor — IEEE-identical in any
engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: Morton spread masks: 16-bit value -> even bit positions of 32 bits.
_SPREAD_STEPS = ((8, 16711935), (4, 252645135), (2, 858993459),
                 (1, 1431655765))


def _spread16_sql(e: str, shl) -> str:
    """SQL for spreading the 16-bit expr ``e`` onto even bit positions.

    ``shl(expr, n)`` renders a shift-left (``shiftleft(x, n)`` on Spark,
    ``(x << n)`` on DuckDB).  Each step doubles the text — 16 copies of
    ``e`` at the end, so callers pass a short column reference.
    """
    s = f"(cast({e} as bigint) & 65535)"
    for n, mask in _SPREAD_STEPS:
        s = f"(({s} | {shl(s, n)}) & {mask})"
    return s


def norm16_sql(col: str, mn: str, mx: str) -> str:
    """Min/max-normalize ``col`` into [0, 65535] with engine-portable
    integer-exact arithmetic (guarded against a constant dimension)."""
    return (f"cast(floor((({col}) - ({mn})) * 65535.0 / "
            f"greatest(({mx}) - ({mn}), 1)) as bigint)")


def zorder_key_sql(x16: str, y16: str, shl) -> str:
    """Interleave two normalized 16-bit exprs into the 32-bit Morton key
    (x on even bits, y on odd)."""
    return f"({_spread16_sql(x16, shl)} | {shl(_spread16_sql(y16, shl), 1)})"


def _shl_spark(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})"


def _shl_duck(e: str, n: int) -> str:
    return f"({e} << {n})"


def with_zorder_key(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Add ``zkey``: the Morton key over min/max-normalized (x, y).

    One tiny stats agg rides a broadcast 1-row cross join; the key
    itself is a pure JVM projection.  Write path at scale:
    ``df.repartitionByRange(n, "zkey").sortWithinPartitions("zkey")``.
    """
    stats = df.agg(F.min(x_col).alias("mn_x"), F.max(x_col).alias("mx_x"),
                   F.min(y_col).alias("mn_y"), F.max(y_col).alias("mx_y"))
    zkey = zorder_key_sql(norm16_sql(x_col, "mn_x", "mx_x"),
                          norm16_sql(y_col, "mn_y", "mx_y"), _shl_spark)
    return (df.crossJoin(F.broadcast(stats))
            .withColumn("zkey", F.expr(zkey))
            .drop("mn_x", "mx_x", "mn_y", "mx_y"))


def zorder_layout_summary(df: DataFrame, id_col: str, x_col: str,
                          y_col: str, rows_per_file: int) -> DataFrame:
    """Per-file clustering bounds under Z-order layout: assign rows to
    files of ``rows_per_file`` in zkey order and report each file's
    (min, max) on both dimensions — the min/max stats scan pruning uses.

    The explicit global window exists to make file boundaries exact for
    the oracle; production uses the sampling-based range sort instead
    (boundaries then differ run-to-run, bounds quality is the same).
    """
    keyed = with_zorder_key(df, x_col, y_col)
    rn = F.row_number().over(Window.orderBy("zkey", id_col))
    return (keyed.withColumn("rn", rn)
            .withColumn("file_id",
                        F.floor((F.col("rn") - 1) / F.lit(float(rows_per_file)))
                        .cast("long"))
            .groupBy("file_id")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.min(x_col).cast("long").alias("min_x"),
                 F.max(x_col).cast("long").alias("max_x"),
                 F.min(y_col).cast("long").alias("min_y"),
                 F.max(y_col).cast("long").alias("max_y")))


def zorder_oracle_sql() -> str:
    """DuckDB replay of zorder_layout_summary over the orders table
    (x = o_custkey, y = days since 1992-01-01)."""
    zkey = zorder_key_sql(norm16_sql("x", "mn_x", "mx_x"),
                          norm16_sql("y", "mn_y", "mx_y"), _shl_duck)
    return f"""
WITH dims AS (
  SELECT o_orderkey AS id, o_custkey AS x,
         CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
              AS BIGINT) AS y
  FROM orders
), stats AS (
  SELECT min(x) AS mn_x, max(x) AS mx_x,
         min(y) AS mn_y, max(y) AS mx_y
  FROM dims
), keyed AS (
  SELECT id, x, y, {zkey} AS zkey FROM dims CROSS JOIN stats
), ranked AS (
  SELECT id, x, y,
         row_number() OVER (ORDER BY zkey, id) AS rn
  FROM keyed
)
SELECT CAST(floor((rn - 1) / 500.0) AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
       CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
FROM ranked GROUP BY 1
"""


def assign_dense_ids(df: DataFrame, order_col: str) -> DataFrame:
    """Dense 0..n-1 ``row_id`` values in ``order_col`` order WITHOUT a
    global sort funnel — the distributed answer to ``row_number() OVER
    (ORDER BY …)`` (embedding-matrix row ids, token-offset bases,
    file-split manifests all want this).

    Two-phase with EXACTLY ONE full-data exchange: the sampled range
    exchange + in-partition sort give ordered, non-overlapping
    partitions; ``monotonically_increasing_id`` then encodes
    (partition, local ordinal) as ``pid·2³³ + ordinal`` in a pure
    projection — no window, so no second full-data shuffle (a
    ``Window.partitionBy(pid)`` here would re-exchange everything on
    pid).  Per-partition counts reduce map-side to ≤ 8 rows (one per
    range partition), collect as control-plane ints, and their exclusive
    prefix sums ride back in a tiny literal map:
    ``id = offset[pid] + ordinal``.  The id values are a pure function of
    the ``order_col`` total order — the sampled range boundaries shift
    split points, never ids — so results
    are deterministic across runs, engines, and cluster sizes (oracle:
    ``row_number() OVER (ORDER BY …) - 1``).  Requires unique
    ``order_col`` values (ties across a range boundary would make the
    order — and any engine's row_number — ambiguous anyway)."""
    ranged = (df.repartitionByRange(8, F.col(order_col))
              .sortWithinPartitions(order_col)
              .withColumn("_mid", F.monotonically_increasing_id()))
    # pin the sampled exchange + id assignment: the counts pass and the
    # projection below must see the SAME physical rows, not re-sample
    ranged = ranged.localCheckpoint()
    pid = F.shiftright("_mid", 33)
    local = F.expr(f"_mid & {(1 << 33) - 1}")
    counts = {r["p"]: r["cnt"] for r in
              ranged.groupBy(pid.alias("p")).agg(
                  F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.create_map(*[F.lit(v) for kv in sorted(offsets.items())
                         for v in kv])
    return (ranged
            .withColumn("row_id",
                        (F.element_at(off, pid) + local).cast("long"))
            .drop("_mid"))
