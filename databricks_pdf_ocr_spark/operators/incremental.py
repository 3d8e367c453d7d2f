"""Work-selection operators: the reference's processing modes, Spark-first.

Reference: ``get_unprocessed_files`` (``processors/ocr.py:59-85``) collects
all processed ids to the driver and filters with ``isin`` — the collapse
point at 10^12 docs (SURVEY.md §3.3).  Here the work set stays a DataFrame
(:func:`select_work`, the one work-selection path of the extraction job)
and every decision in it is a static list of at most ``n_buckets``
bucket ints, made once on the driver:

- incremental  → ``~isin`` over the checkpoint buckets already done for
  the input (read once per run, ``CheckpointManager.run_state``)
- reprocess_all → full scan
- reprocess_specific → ``isin`` over ``specific_doc_ids``

plus the crash simulator's first-k-buckets cut and the per-run cap
(``max_docs_per_run``, reference ``settings.toml:21``), both applied at
bucket granularity from one per-bucket count.  The Bloom-gated anti join
below is the 10^12-row shape of a doc-level anti join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import ExtractConfig
from .extract import bucket_col


def select_work(documents: DataFrame, cp, done: set[int],
                cfg: ExtractConfig,
                fail_after_buckets: int | None = None) -> DataFrame:
    """The work set of one run: ``documents`` stamped with ``bucket``.

    The mode comes from ``cfg.processing_mode``; ``incremental`` keeps
    only the buckets not in ``done``, the buckets ``cp`` (a
    ``CheckpointManager``) has marked done for the run's input.
    ``fail_after_buckets`` (the crash simulator) then keeps the first k
    pending buckets, and ``cfg.max_docs_per_run`` caps the set at whole
    buckets: buckets are kept in order while the docs before them number
    under the cap, so the cap rounds UP to a bucket boundary.  Buckets
    are the lineage/resume unit — a run marks every touched bucket done,
    so a row-level cut inside one would lose the rest on resume.

    Either cut costs one per-bucket count, collected (≤ n_buckets rows);
    the kept buckets are applied as a static ``isin``, so the plan holds
    no join and no decision that a later action could make again.
    """
    mode = cfg.processing_mode
    if mode == "reprocess_all":
        pending = documents.withColumn("bucket", bucket_col(cfg.n_buckets))
    elif mode == "reprocess_specific":
        pending = (documents
                   .filter(F.col("doc_id").isin(list(cfg.specific_doc_ids)))
                   .withColumn("bucket", bucket_col(cfg.n_buckets)))
    else:
        pending = cp.filter_pending(documents, done)
    if fail_after_buckets is None and not cfg.max_docs_per_run:
        return pending
    counts = sorted(tuple(r) for r in
                    pending.groupBy("bucket").count().collect())
    if fail_after_buckets is not None:
        counts = counts[:fail_after_buckets]
    keep, before = [], 0
    for bucket, n in counts:
        if cfg.max_docs_per_run and before >= cfg.max_docs_per_run:
            break
        keep.append(bucket)
        before += n
    return pending.filter(F.col("bucket").isin(keep))


# ---------------------------------------------------------------------------
# Bloom-gated anti join — the 10^12-row shape of a doc-level anti join.
#
# At extreme scale the plain left_anti shuffles the ENTIRE source on the
# key just to discover that most rows were never processed.  A Bloom
# filter over the done-key set is fixed-size (m bits regardless of key
# count, vs a broadcast of raw distinct keys that grows with them) and
# removes the definitely-new rows map-side; only the maybe-done sliver
# pays the exact anti-join shuffle.  No false negatives by construction,
# so the composition is EXACT — false positives merely ride into the
# verification join and are kept there.
#
# Spark's own BloomFilterAggregate/might_contain pair is not exposed to
# SQL in this build (UNRESOLVED_ROUTINE — it exists only for Catalyst's
# runtime row-level filtering), so the filter is built from public
# column expressions: BLOOM_K seeded xxhash64 probes → explode → ONE
# bit_or hash-agg over ≤ m/64 word rows → a one-row broadcast
# map<int,bigint>.  Membership is BLOOM_K element_at lookups — pure JVM
# codegen, no join, no UDF.
# ---------------------------------------------------------------------------

#: probes per key of the Bloom filter
BLOOM_K = 5


def bloom_build(done: DataFrame, key: str,
                m_bits: int = 1 << 20) -> DataFrame:
    """ONE-row DataFrame ``(__bloom: array<bigint>)`` — a Bloom filter
    over ``done[key]`` as a DENSE bitmap of ``m_bits/64`` words.

    Dense array, NOT ``map<int,bigint>``: Spark's MapData has no hash
    index — ``element_at`` on a map is a LINEAR scan of all entries, so
    a sparse-map filter costs O(words) per probe (measured 10 s for
    100 k probe rows at the default size; the array variant is O(1) per
    probe and milliseconds).  At the default m=2^20 the row is 128 KiB;
    size m ≈ 10 bits/key for ~1 % fpp, and shard the filter by key
    range past ~10^9 keys rather than growing one giant row.

    Build cost: a BLOOM_K× narrow fan-out of hashes, one hash-agg down
    to the present words, a broadcast left join onto the 0..n_words
    index span (zeros for absent words), one ordered collect-to-array
    global agg.
    Only the fixed-size sketch ever leaves the executors.
    """
    n_words = (m_bits + 63) // 64
    probes = done.select(F.explode(F.array(*[
        F.pmod(F.xxhash64(F.lit(i), F.col(key)), F.lit(m_bits))
        for i in range(BLOOM_K)])).alias("__pos"))
    words = (probes
             .select(F.floor(F.col("__pos") / 64).cast("int").alias("__w"),
                     F.call_function(
                         "shiftleft", F.lit(1).cast("bigint"),
                         (F.col("__pos") % 64).cast("int")).alias("__mask"))
             .groupBy("__w").agg(F.bit_or("__mask").alias("__bits")))
    span = (done.sparkSession.range(n_words)
            .select(F.col("id").cast("int").alias("__w")))
    dense = (span.join(F.broadcast(words), "__w", "left")
             .select("__w", F.coalesce("__bits", F.lit(0).cast("bigint"))
                     .alias("__bits")))
    return dense.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("__w", "__bits"))),
                    lambda s: s["__bits"]).alias("__bloom"))


def might_contain_expr(bloom, key_col, m_bits: int = 1 << 20):
    """Column: True iff every one of the BLOOM_K probe bits for
    ``key_col`` is set in the ``bloom`` dense-bitmap column (O(1) array
    indexing per probe).  Out-of-range/absent words coalesce to 0 (an
    empty done set says "definitely not contained" for everything)."""
    cond = F.lit(True)
    for i in range(BLOOM_K):
        pos = F.pmod(F.xxhash64(F.lit(i), key_col), F.lit(m_bits))
        w = F.floor(pos / 64).cast("int")
        mask = F.call_function("shiftleft", F.lit(1).cast("bigint"),
                               (pos % 64).cast("int"))
        word = F.coalesce(F.try_element_at(bloom, w + F.lit(1)),
                          F.lit(0).cast("bigint"))
        cond = cond & (word.bitwiseAND(mask) == mask)
    return cond


def split_by_bloom(source: DataFrame, done: DataFrame, key: str,
                   done_key: str | None = None,
                   m_bits: int = 1 << 20) -> tuple[DataFrame, DataFrame]:
    """(definitely_unprocessed, maybe_done) — the map-side Bloom split.

    ``definitely_unprocessed`` needs NO join (no false negatives);
    ``maybe_done`` is the sliver (true-done rows + ~fpp false positives)
    that still needs the exact anti-join.

    Cost shape: the two legs each scan ``source`` once — two
    column-pruned scans replace one full-width shuffle of the whole
    source, which is the winning trade at 10^12 rows (scan bandwidth is
    the cheap resource; the shuffle is the bottleneck).  The one-row
    bloom DF is persisted so its build (the done-set scan + bit_or agg)
    runs once, not once per leg — verified in PLANS.md: without the
    persist the two broadcast subtrees are NOT exchange-reused."""
    done_key = done_key or key
    bloom = bloom_build(done.select(F.col(done_key).alias("__k")), "__k",
                        m_bits).persist()
    tagged = source.crossJoin(F.broadcast(bloom))
    mc = might_contain_expr(F.col("__bloom"), F.col(key), m_bits)
    return (tagged.filter(~mc).drop("__bloom"),
            tagged.filter(mc).drop("__bloom"))


def unprocessed_bloom(source: DataFrame, done: DataFrame, key: str,
                      done_key: str | None = None,
                      m_bits: int = 1 << 20) -> DataFrame:
    """EXACT ``source ∖ done`` on ``key`` with the anti-join shuffle paid
    only by the Bloom-positive sliver.  Equals the plain left_anti row
    for row (oracled as NOT EXISTS in ``queries.py::bloom_gate``)."""
    done_key = done_key or key
    definite, candidates = split_by_bloom(source, done, key, done_key,
                                          m_bits)
    done_keys = done.select(F.col(done_key).alias("__dk")).distinct()
    exact = (candidates
             .join(done_keys, candidates[key] == done_keys["__dk"],
                   "left_anti"))
    return definite.unionByName(exact)
