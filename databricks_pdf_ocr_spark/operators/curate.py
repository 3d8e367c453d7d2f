"""The curation ladder: quality gate → exact dedup → near-dup dedup →
stratified sample.

One composition, run by both ``jobs/curate.py:run_curate`` (production
``xxhash64`` near-dup hashing) and the ``curate_e2e`` registered query
(``sha2``, the DuckDB-oracled hash family), so the correctness gate
checks the ladder the job runs.

The dedup and feature operators are called through their modules, not
bound by ``from … import``: the benchmark's tracer swaps those module
attributes to time each layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

from . import dedup, text_analysis

#: exact n-gram Jaccard a MinHash-LSH candidate pair must reach before
#: either document is dropped
NEARDUP_JACCARD = 0.3


def exact_kept(docs: DataFrame, min_quality: int,
               funnel: Observation | None = None) -> DataFrame:
    """(doc_id, text) → fused features, gated at ``quality_score_e6 >=
    min_quality``, one canonical (min doc_id) copy per content hash.

    The features are one narrow select (no join, no shuffle).  Exact
    dedup is ONE shuffle: the per-hash min(doc_id) as a whole-partition
    window (no orderBy, so no sort) — the kept set equals
    ``dedup.exact_duplicates``' canonical ids without its aggregate +
    join-back.  ``funnel`` observes ``docs_in`` and ``docs_gated`` on
    the featured rows, during whatever action first computes them.
    """
    feats = text_analysis.with_features(docs)
    passes = F.col("quality_score_e6") >= min_quality
    if funnel is not None:
        feats = feats.observe(funnel, F.count(F.lit(1)).alias("docs_in"),
                              F.count_if(passes).alias("docs_gated"))
    gated = feats.filter(passes)
    by_hash = Window.partitionBy(F.sha2(F.col("text"), 256))
    return (gated
            .withColumn("__min_id", F.min("doc_id").over(by_hash))
            .filter(F.col("doc_id") == F.col("__min_id"))
            .drop("__min_id"))


def neardup_sample(exact_kept: DataFrame, strata: dict[str, int],
                   default_pct: int, hash_mode: str,
                   stats: dict | None = None,
                   funnel: Observation | None = None) -> DataFrame:
    """Drop near-duplicates, then keep a deterministic per-language sample.

    LSH candidates are VERIFIED by exact n-gram Jaccard before any doc
    is dropped (raw candidates hold near-zero-similarity collisions in
    every hash family), then connected components keep ONE member per
    transitive cluster, its min-id label (a pair rule keeps extra
    members of a~b, b~c chains).  ``strata``/``default_pct`` are keep
    percentages by ``predicted_lang`` (``text_analysis.hash_sample``);
    both empty keeps every survivor.  ``stats`` receives the component
    rounds; ``funnel`` observes ``docs_neardup_kept``, the survivors
    before the sample.
    """
    pairs = dedup.minhash_lsh_pairs(exact_kept, hash_mode=hash_mode,
                                    verify_threshold=NEARDUP_JACCARD)
    labels = dedup.neardup_components(pairs, stats=stats)
    losers = (labels.filter(F.col("comp") != F.col("node"))
              .select(F.col("node").alias("doc_id")))
    kept = exact_kept.join(losers, "doc_id", "left_anti")
    if funnel is not None:
        kept = kept.observe(funnel,
                            F.count(F.lit(1)).alias("docs_neardup_kept"))
    if not (strata or default_pct):
        return kept
    return text_analysis.hash_sample(kept, strata, strata_col="predicted_lang",
                                     default_pct=default_pct)
