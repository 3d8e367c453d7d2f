"""Shuffle-geometry operators: skew-salted join + Bloom-gated anti join.

Both are EXACT rewrites of plain joins (oracled in queries.py as plain
SQL); these tests pin the semantics on adversarial fixtures and assert
the plan/pruning properties that are the operators' reason to exist.
"""

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.operators.incremental import (
    bloom_build, might_contain_expr, split_by_bloom, unprocessed_bloom,
)
from databricks_pdf_ocr_spark.operators.joins import (
    SALT_COL, salt_column, salted_join,
)


def _skewed_fact(spark, hot_n=400, cold_keys=50):
    # one hot key with hot_n rows (distinct payloads), plus cold keys,
    # plus keys with NO dim match and a NULL key row
    rows = [(7, f"hot-{i}") for i in range(hot_n)]
    rows += [(k, f"cold-{k}") for k in range(100, 100 + cold_keys)]
    rows += [(9999, "unmatched"), (None, "nullkey")]
    return spark.createDataFrame(rows, "k int, payload string")


def _dim(spark):
    rows = [(7, "hot-dim")] + [(k, f"dim-{k}") for k in range(100, 130)]
    return spark.createDataFrame(rows, "dk int, name string")


def _sorted(df):
    # None-tolerant canonical order
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_salted_join_equals_plain(spark):
    fact, dim = _skewed_fact(spark), _dim(spark)
    plain = fact.join(dim, fact.k == dim.dk)
    assert _sorted(salted_join(fact, dim, "k", "dk")) == _sorted(plain)


def test_salt_spreads_hot_key(spark):
    """The hot key's rows must land on MANY salt values — that is the
    entire point (one shuffle partition per (key, salt) pair)."""
    fact = _skewed_fact(spark, hot_n=400)
    salts = (fact.filter(F.col("k") == 7)
             .select(salt_column(fact, 8).alias("s"))
             .distinct().count())
    assert salts >= 6, f"hot key only spread over {salts}/8 salts"


def test_salt_deterministic_across_runs(spark):
    fact = _skewed_fact(spark)
    a = _sorted(fact.select("k", "payload", salt_column(fact, 8).alias("s")))
    b = _sorted(fact.select("k", "payload", salt_column(fact, 8).alias("s")))
    assert a == b


def test_salted_join_plan_shuffles_on_salt(spark):
    """The executed plan must partition on (key, __salt) — a broadcast of
    the replicated dim would silently bench the strategy salting exists
    to avoid, so the operator pins SHUFFLE_HASH."""
    fact, dim = _skewed_fact(spark), _dim(spark)
    j = salted_join(fact, dim, "k", "dk")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert SALT_COL in plan
    assert "BroadcastHashJoin" not in plan


# ---------------------------------------------------------------------------
# Bloom gate
# ---------------------------------------------------------------------------

def _src(spark, n=2000):
    return spark.range(n).select(F.col("id").alias("key"))


def test_bloom_gate_equals_plain_anti(spark):
    src = _src(spark, 2000)
    done = spark.range(0, 2000, 3).select(F.col("id").alias("dk"))
    got = unprocessed_bloom(src, done, "key", done_key="dk")
    want = src.join(done, src.key == done.dk, "left_anti")
    assert _sorted(got) == _sorted(want)


def test_bloom_gate_string_keys_and_nulls(spark):
    src = spark.createDataFrame(
        [("a",), ("b",), ("c",), (None,)], "key string")
    done = spark.createDataFrame([("b",), ("x",)], "key string")
    got = unprocessed_bloom(src, done, "key")
    want = src.join(done.withColumnRenamed("key", "dk"),
                    F.col("key") == F.col("dk"), "left_anti")
    assert _sorted(got) == _sorted(want)
    # NULL-key rows survive (anti-join semantics: NULL never matches)
    assert (None,) in _sorted(got)


def test_bloom_empty_done_is_all_definite(spark):
    src = _src(spark, 500)
    done = spark.createDataFrame([], "dk bigint")
    definite, candidates = split_by_bloom(src, done, "key", done_key="dk")
    assert candidates.count() == 0
    assert definite.count() == 500
    assert unprocessed_bloom(src, done, "key", done_key="dk").count() == 500


def test_bloom_all_done_is_empty(spark):
    src = _src(spark, 500)
    done = src.select(F.col("key").alias("dk"))
    assert unprocessed_bloom(src, done, "key", done_key="dk").count() == 0


def test_bloom_prunes_mapside(spark):
    """Disjoint source/done keys: no false negatives ever, and the
    maybe-done sliver (false positives) must be a tiny fraction — the
    map-side pruning that makes the operator worth its build cost."""
    src = spark.range(4000).select((F.col("id") + 1_000_000).alias("key"))
    done = spark.range(4000).select(F.col("id").alias("dk"))
    definite, candidates = split_by_bloom(src, done, "key", done_key="dk",
                                          m_bits=1 << 18)
    n_cand = candidates.count()
    assert definite.count() + n_cand == 4000
    assert n_cand < 4000 * 0.05, f"{n_cand} false positives — bloom broken"
    # and every true done key is ALWAYS a candidate (no false negatives)
    d2, c2 = split_by_bloom(done.select(F.col("dk").alias("key")), done,
                            "key", done_key="dk", m_bits=1 << 18)
    assert d2.count() == 0
    assert c2.count() == 4000


def test_might_contain_expr_direct(spark):
    done = spark.createDataFrame([(i,) for i in range(100)], "k bigint")
    bloom = bloom_build(done, "k", m_bits=1 << 14)
    probe = (spark.range(100)
             .crossJoin(F.broadcast(bloom))
             .select(might_contain_expr(F.col("__bloom"), F.col("id"),
                                        m_bits=1 << 14).alias("mc")))
    assert all(r["mc"] for r in probe.collect())


# ---------------------------------------------------------------------------
# randomized differential checks (seeded — one Spark job per seed)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", [1, 2, 3])
def test_salted_join_random_differential(spark, seed):
    """Random keys with duplicates on BOTH sides and nulls: salted must
    preserve full join multiplicity (dup dim keys fan out per fact row)."""
    import random
    rng = random.Random(f"salted-{seed}")
    fact = [(rng.choice([None] + list(range(20))), rng.randint(0, 9))
            for _ in range(300)]
    dim = [(rng.choice(list(range(25))), rng.randint(0, 9))
           for _ in range(60)]  # dup dim keys on purpose
    f = spark.createDataFrame(fact, "k int, v int")
    d = spark.createDataFrame(dim, "dk int, w int")
    plain = f.join(d, f.k == d.dk)
    assert _sorted(salted_join(f, d, "k", "dk")) == _sorted(plain), seed


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bloom_random_differential(spark, seed):
    import random
    rng = random.Random(f"bloom-{seed}")
    src = [(rng.randint(0, 500),) for _ in range(400)]
    done = [(rng.randint(0, 500),) for _ in range(200)]
    s = spark.createDataFrame(src, "key bigint")
    d = spark.createDataFrame(done, "dk bigint")
    got = unprocessed_bloom(s, d, "key", done_key="dk", m_bits=1 << 14)
    want = s.join(d, s.key == d.dk, "left_anti")
    assert _sorted(got) == _sorted(want), seed
