"""Shuffle-geometry join strategies: key salting for skew.

AQE's skew-join handling (``spark.sql.adaptive.skewJoin``) splits
oversized SORT-MERGE partitions at runtime, but it cannot help when the
plan is a shuffled-hash join, when a single hot key exceeds what one
split can stream, or when the same skewed partitioning is reused by a
downstream aggregation.  The classic fix is explicit salting: the fact
side gets a deterministic salt in ``[0, n_salts)``, the dimension side
is replicated once per salt value, and the join key becomes
``(key, salt)`` — one hot key's rows now land in ``n_salts`` different
shuffle partitions instead of one (``salted_join`` uses ``N_SALTS``).

Correctness is exact, not approximate: every fact row carries exactly
one salt value, and the dimension replica with that salt value exists
for every salt, so the salted equi-join produces precisely the rows of
the unsalted join (oracled as a plain SQL join in ``queries.py``).

Cost model at 100 TB: the dimension is scanned once and exploded
``n_salts``× (dimensions are orders of magnitude smaller than facts, or
you would broadcast instead of salt); the fact side is scanned once and
shuffles on ``(key, salt)``.  The win is schedule quality — the
straggler task holding the hot key disappears.

Reference anchor: the reference engine processes documents in a
sequential driver loop (``processors/ocr.py:88-120``) and never joins at
scale; this module is part of the scale surface the Spark re-expression
adds (SURVEY.md §3.3, §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SALT_COL = "__salt"
N_SALTS = 8


def salt_column(df: DataFrame, n_salts: int) -> Column:
    """Deterministic per-row salt in ``[0, n_salts)``.

    Hashes every column with xxhash64 so reruns
    assign identical salts — random salts would also be CORRECT (any
    single value per row joins against the matching replica) but would
    make A/B plan comparisons and resume debugging needlessly noisy.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(n_salts)).cast("int")


def replicate_with_salts(dim: DataFrame, n_salts: int) -> DataFrame:
    """Dimension side: one replica per salt value (explode of a literal
    array — a narrow n_salts× fan-out, no shuffle)."""
    salts = F.array(*[F.lit(i).cast("int") for i in range(n_salts)])
    return dim.withColumn(SALT_COL, F.explode(salts))


def salted_join(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str) -> DataFrame:
    """Inner equi-join ``fact[fact_key] == dim[dim_key]`` with the fact
    side's hot keys spread across ``N_SALTS`` shuffle partitions.  Each
    fact row carries ONE salt, so join multiplicity is preserved exactly.

    The dimension is pinned to a SHUFFLE_HASH strategy:
    salting exists precisely because the dimension is too large to
    broadcast, and letting Catalyst broadcast the exploded replica set
    at test scale would silently bench a different plan than production
    runs.
    """
    f = fact.withColumn(SALT_COL, salt_column(fact, N_SALTS))
    d = replicate_with_salts(dim, N_SALTS).hint("shuffle_hash")
    cond = ((f[fact_key] == d[dim_key]) & (f[SALT_COL] == d[SALT_COL]))
    return f.join(d, cond).drop(f[SALT_COL]).drop(d[SALT_COL])
