"""Corpus-curation entrypoint: extracted documents → curated training set.

Composes the engine's training-data operators into the pipeline a 100 TB
run would execute AFTER extraction (the stage the reference stops short
of — it ends at OCR'd text):

  1. assembled span sequences → one text blob per doc (JVM-side concat
     of text-kind spans, document order preserved)
  2. the ladder of ``operators/curate.py`` — the same code the
     ``curate_e2e`` oracle query runs: fused text features, the
     --min-quality gate (micro-units), exact dedup (canonical min doc_id
     per content hash), verified MinHash-LSH near-dup dedup (production
     xxhash64 mode; the oracle runs sha2) with one survivor per
     connected component, and the deterministic --sample by predicted
     language
  3. a language-partitioned parquet write

Plan shape at scale: doc_text and the features are narrow (zero
shuffles); exact dedup is one window shuffle; near-dup is the banded LSH
join (linear, no cross product) plus the component labelling — a
union-find on the driver while the verified pairs number at most
``dedup.SMALL_GRAPH_EDGES`` (one probe job collects them), a few small
frontier rounds above that; the sample is a filter.

The printed report carries the funnel — ``docs_in`` → ``docs_gated`` →
``docs_exact_kept`` → ``docs_neardup_kept`` → ``docs_sampled`` — from
Observations on the run's own actions.

Usage:
    spark-submit --py-files dist/pkg.zip jobs/curate.py \\
        --tables /tmp/engine_tables --out /tmp/engine_tables/curated \\
        [--min-quality 300000] [--sample en=50,de=20,*=10]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, functions as F

from databricks_pdf_ocr_spark.operators.curate import (exact_kept,
                                                       neardup_sample)
from databricks_pdf_ocr_spark.session import get_spark
from databricks_pdf_ocr_spark.sources.tables import make_table_io

EXTRACTED_TABLE = "extracted_documents"


def doc_text(extracted: DataFrame) -> DataFrame:
    """(doc_id, spans) → (doc_id, text): text-kind spans joined in order.

    spans are already offset-ordered (reassembly contract), so a filter +
    transform + array_join stays narrow — no window, no shuffle.
    """
    txt = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"),
            lambda s: s["text"]),
        " ")
    return (extracted.select("doc_id", txt.alias("text"))
            .filter(F.length("text") > 0))


def parse_sample_spec(spec: str) -> tuple[dict[str, int], int]:
    """'en=50,de=20,*=10' → ({en:50, de:20}, default 10)."""
    strata, default = {}, 0
    for part in (p for p in spec.split(",") if p):
        key, _, val = part.partition("=")
        if key == "*":
            default = int(val)
        else:
            strata[key.strip()] = int(val)
    return strata, default


def run_curate(spark, args) -> dict:
    io = make_table_io(spark, args.tables)
    extracted = io.read(EXTRACTED_TABLE)
    if extracted is None:
        raise SystemExit(f"no {EXTRACTED_TABLE} table under {args.tables}")

    t0 = time.time()
    # the funnel's row counts are Observations on frames the run already
    # computes: they ride on its actions and add no Spark job
    gate_obs, exact_obs = Observation("gate"), Observation("exact")
    kept_obs, obs = Observation("neardup_kept"), Observation("curate")
    # the near-dup stage reads exact_kept twice (signatures and the
    # left_anti against its losers): materialize it once
    exact = (exact_kept(doc_text(extracted), args.min_quality, gate_obs)
             .observe(exact_obs, F.count(F.lit(1)).alias("docs_exact_kept"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        strata, default = parse_sample_spec(args.sample)
        cc_stats: dict = {}
        sampled = neardup_sample(exact, strata, default, "xxhash64",
                                 stats=cc_stats, funnel=kept_obs)

        # cluster the output before the partitioned write (guide §6):
        # without this every upstream task writes a sliver into every
        # language dir (~tasks × strata tiny files + their commit
        # overhead).  The deterministic sub-split key (xxhash64,
        # retry-safe) caps files per stratum while keeping write
        # parallelism — scale the constant with the per-stratum output
        # size in production.
        files_per_stratum = 4
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        sampled = sampled.repartition(
            n_shuffle, F.col("predicted_lang"),
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_stratum)))

        sampled = sampled.observe(
            obs, F.count(F.lit(1)).alias("docs"),
            F.sum("ws_tokens").alias("ws_tokens"),
            F.sum("bpe_tokens").alias("bpe_tokens"))
        (sampled.write.mode("overwrite").partitionBy("predicted_lang")
         .parquet(args.out))
    finally:
        exact.unpersist()

    written = {k: obs.get[k] for k in ("docs", "ws_tokens", "bpe_tokens")}
    funnel = {**gate_obs.get, **exact_obs.get, **kept_obs.get,
              "docs_sampled": written["docs"]}
    return {"out": args.out, **written, **funnel,
            "components_rounds": cc_stats.get("rounds"),
            "elapsed_sec": round(time.time() - t0, 2)}


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=int, default=0,
                    help="drop docs with quality_score_e6 below this")
    ap.add_argument("--sample", default="",
                    help="stratified keep-percentages, e.g. 'en=50,de=20,*=10'"
                         " (empty = keep all)")
    return ap


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="curate-job")
    stats = run_curate(spark, args)
    print(json.dumps(stats, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
