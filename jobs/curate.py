"""Corpus-curation entrypoint: extracted documents → curated training set.

Composes the engine's training-data operators into the pipeline a 100 TB
run would execute AFTER extraction (the stage the reference stops short
of — it ends at OCR'd text):

  1. assembled span sequences → one text blob per doc (JVM-side concat
     of text-kind spans, document order preserved)
  2. text analysis: language ID, quality features, token counts
  3. quality gate: drop docs below --min-quality (micro-units)
  4. exact dedup: keep the canonical (min doc_id) copy per content hash
  5. near-dup dedup: MinHash+LSH candidate pairs (production
     xxhash64 mode — the sha2 oracle mode is the correctness gate's
     configuration), greedy keep-smaller-id survivor rule
  6. deterministic stratified sampling by predicted language
     (hash gate — reproducible across engines/cluster sizes/reruns)

Plan shape at scale: stages 1-3 are narrow (zero shuffles); 4 is one
hash-agg; 5 is the banded LSH join (linear, no cross product); 6 is a
filter.  The near-dup survivor rule uses pair doc_a < doc_b, so dropping
every doc_b of a pair is a single distinct + left_anti join.

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

from pyspark.sql import DataFrame, Window, functions as F

from databricks_pdf_ocr_spark.operators import dedup, text_analysis
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
    docs = doc_text(extracted)

    # -- text analysis: ALL features in one narrow select (zero joins, zero
    # shuffles before the dedup stage — three derive-and-join-back passes
    # here would shuffle the corpus text three times at 100 TB) -------------
    enriched = text_analysis.with_features(docs)

    gated = enriched.filter(F.col("quality_score_e6") >= args.min_quality)
    extra_stats: dict = {}

    # -- optional rule gates: Gopher battery + C4-style blocklist, both
    # in-place flag columns (filter → drop — a derive-and-join-back would
    # shuffle the corpus text; these stay inside the narrow feature stage)
    if args.gopher:
        gated = (text_analysis.with_gopher_flag(gated)
                 .filter(F.col("gopher_passes") == 1).drop("gopher_passes"))
        extra_stats["gopher"] = True
    if args.badwords_max_e6 >= 0:
        gated = (text_analysis.with_badwords_flag(
                     gated, max_rate_e6=args.badwords_max_e6)
                 .filter(F.col("badwords_kept") == 1).drop("badwords_kept"))
        extra_stats["badwords_max_e6"] = args.badwords_max_e6

    # -- the optional learned-gate/DSIR stages each consume ``gated``
    # several times (train + join-back); materialize it for them.  The
    # default ladder skips this: there ``gated`` has exactly one
    # downstream consumer (the exact-dedup window) and a persist would
    # add a materialization pass for nothing — the multi-consumer
    # intermediate of the default ladder is ``exact_kept`` below.
    from pyspark import StorageLevel
    __persisted = []
    if args.learned_gate_min > 0 or args.dsir_keep_pct > 0:
        gated = gated.persist(StorageLevel.MEMORY_AND_DISK)
        __persisted.append(gated)

    # -- optional learned quality gate: distill the heuristic rule into the
    # hashed feature space (train on high-heuristic-quality docs as weak
    # positives, the CCNet/GPT-3 curated-vs-crawl pattern) and drop docs
    # the MODEL scores low — smoother than the rule it was trained on.
    # Training collects only the 65-float gradient per epoch.
    if args.learned_gate_min > 0:
        from databricks_pdf_ocr_spark.operators import classifier
        scored = classifier.quality_classifier(
            spark, gated,
            label_expr=(F.col("quality_score_e6")
                        >= F.lit(args.learned_gate_label_quality)))
        gated = (gated.join(scored.select("doc_id", "score_e4"), "doc_id")
                 .filter(F.col("score_e4") >= args.learned_gate_min)
                 .drop("score_e4"))
        extra_stats["learned_gate_min"] = args.learned_gate_min

    # -- optional DSIR selection: keep the docs whose hashed-unigram
    # distribution most resembles the weak-positive target slice.  The
    # cutoff is one approxQuantile scalar (control-plane), then a filter.
    if args.dsir_keep_pct > 0:
        dsir = text_analysis.dsir_logweights(
            gated, F.col("quality_score_e6")
            >= F.lit(args.learned_gate_label_quality))
        w = gated.join(dsir.select("doc_id", "logw"), "doc_id")
        cutoff = w.approxQuantile(
            "logw", [1.0 - args.dsir_keep_pct / 100.0], 0.001)[0]
        gated = w.filter(F.col("logw") >= cutoff).drop("logw")
        extra_stats["dsir_cutoff"] = round(cutoff, 3)
        extra_stats["dsir_keep_pct"] = args.dsir_keep_pct

    # -- exact dedup: canonical copy per content hash — ONE shuffle: the
    # per-hash min(doc_id) as a whole-partition window (no orderBy → no
    # sort) replaces the old aggregate + left_semi join-back (three
    # corpus-size exchanges).  Kept set identical: rows whose doc_id is
    # the min within their sha2(text) group (= dedup.exact_duplicates'
    # canonical_id).
    __h = F.sha2(F.col("text"), 256)
    exact_kept = (gated
                  .withColumn("__min_id", F.min("doc_id").over(
                      Window.partitionBy(__h)))
                  .filter(F.col("doc_id") == F.col("__min_id"))
                  .drop("__min_id")
                  .persist(StorageLevel.MEMORY_AND_DISK))

    # -- near-dup dedup: LSH candidates VERIFIED by exact n-gram Jaccard
    # before any doc is dropped (raw candidates contain spurious
    # near-zero-similarity collisions in every hash family — dropping on
    # them deletes non-duplicates), then ONE canonical per transitive
    # cluster via connected components (r4: the pair survivor rule keeps
    # extra members of a~b, b~c chains — template families and mirror
    # chains are routinely transitive at web scale) --------------------------
    pairs = dedup.minhash_lsh_pairs(exact_kept, hash_mode=args.hash_mode,
                                    verify_threshold=args.neardup_jaccard)
    cc_stats: dict = {}
    labels = dedup.neardup_components(pairs, stats=cc_stats)
    if args.canonical == "best":
        # keep the BEST member of each cluster (highest quality score,
        # ties by id) instead of the min-id label — the most complete
        # copy survives.  One equi-join against the already-computed
        # features + one row_number window per component partition.
        members = (labels.select(F.col("node").alias("doc_id"), "comp")
                   .join(exact_kept.select("doc_id", "quality_score_e6"),
                         "doc_id"))
        w = Window.partitionBy("comp").orderBy(
            F.col("quality_score_e6").desc(), F.col("doc_id"))
        losers = (members.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") > 1).select("doc_id"))
        extra_stats["canonical"] = "best"
    else:
        losers = (labels.filter(F.col("comp") != F.col("node"))
                  .select(F.col("node").alias("doc_id")))
    neardup_kept = exact_kept.join(losers, "doc_id", "left_anti")

    # -- deterministic stratified sample by predicted language ---------------
    strata, default = parse_sample_spec(args.sample)
    if strata or default:
        # default_pct covers unlisted languages inside the filter itself —
        # no distinct-collect pass over the curated corpus to enumerate them
        sampled = text_analysis.hash_sample(
            neardup_kept, strata, strata_col="predicted_lang",
            default_pct=default)
    else:
        sampled = neardup_kept

    # -- optional PII scrub: swap text for its redacted form IN PLACE
    # (one narrow select, no join-back shuffle) with per-class audit
    # counts riding along into the output table
    if args.redact_pii:
        sampled = text_analysis.pii_redact(sampled, replace_text=True)
        extra_stats["redact_pii"] = True

    # cluster the output before the partitioned write (guide §6): without
    # this every upstream task writes a sliver into every language dir
    # (~tasks × strata tiny files + their commit overhead).  The
    # deterministic sub-split key (xxhash64, retry-safe) caps files per
    # stratum while keeping write parallelism — scale the constant with
    # the per-stratum output size in production.
    files_per_stratum = 4
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sampled = sampled.repartition(
        n_shuffle, F.col("predicted_lang"),
        F.pmod(F.xxhash64("doc_id"), F.lit(files_per_stratum)))

    from pyspark.sql import Observation
    obs = Observation("curate")
    sampled = sampled.observe(
        obs, F.count(F.lit(1)).alias("docs"),
        F.sum("ws_tokens").alias("ws_tokens"),
        F.sum("bpe_tokens").alias("bpe_tokens"))
    (sampled.write.mode("overwrite").partitionBy("predicted_lang")
     .parquet(args.out))
    for __df in (*__persisted, exact_kept):
        __df.unpersist()

    stats = {"out": args.out, **{k: obs.get[k]
                                 for k in ("docs", "ws_tokens", "bpe_tokens")},
             "components_rounds": cc_stats.get("rounds"),
             **extra_stats,
             "elapsed_sec": round(time.time() - t0, 2)}

    # -- optional: training-sequence packing plan (concat-and-chop) over
    # the curated corpus, one plan row per doc, written PARTITIONED BY
    # shard — the layout a packed-dataset writer consumes one shard per
    # task.  Read back from the just-written table so the plan reflects
    # exactly what shipped.
    if args.pack_seq_len:
        curated = spark.read.parquet(args.out)
        plan = text_analysis.pack_plan(
            curated, seq_len=args.pack_seq_len,
            n_shards=args.pack_shards,
            shard_expr=F.pmod(F.xxhash64("doc_id"),
                              F.lit(args.pack_shards)).cast("int"))
        plan.write.mode("overwrite").partitionBy("shard") \
            .parquet(args.out + "_packplan")
        seqs = (plan.groupBy("shard").agg(F.max("last_seq").alias("m"))
                .agg(F.sum(F.col("m") + 1).alias("n"))
                .collect()[0]["n"])              # ≤ n_shards rows
        stats["packed_sequences"] = int(seqs or 0)
        stats["pack_seq_len"] = args.pack_seq_len
    return stats


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=int, default=0,
                    help="drop docs with quality_score_e6 below this")
    ap.add_argument("--sample", default="",
                    help="stratified keep-percentages, e.g. 'en=50,de=20,*=10'"
                         " (empty = keep all)")
    ap.add_argument("--hash-mode", default="xxhash64",
                    choices=["xxhash64", "sha2"],
                    help="near-dup hash family (xxhash64 = production)")
    ap.add_argument("--neardup-jaccard", type=float, default=0.3,
                    help="exact-Jaccard verification threshold for LSH "
                         "candidate pairs (docs are only dropped on "
                         "verified pairs)")
    ap.add_argument("--canonical", default="min", choices=["min", "best"],
                    help="near-dup cluster survivor rule: min = component "
                         "label (min id), best = highest quality score "
                         "(ties by id)")
    ap.add_argument("--redact-pii", action="store_true",
                    help="scrub emails/IPs/phones from the curated text "
                         "in place (audit counts n_email/n_ip/n_phone "
                         "ride along in the output table)")
    ap.add_argument("--pack-seq-len", type=int, default=0,
                    help="also emit the concat-and-chop sequence-packing "
                         "plan at this token length (0 = off); written to "
                         "<out>_packplan partitioned by shard")
    ap.add_argument("--pack-shards", type=int, default=32,
                    help="number of independent packing shards")
    ap.add_argument("--learned-gate-min", type=int, default=0,
                    help="drop docs the trained quality classifier scores "
                         "below this (score_e4 units; 0 = stage off)")
    ap.add_argument("--learned-gate-label-quality", type=int,
                    default=500000,
                    help="weak-positive label: heuristic quality_score_e6 "
                         "at or above this trains as class 1")
    ap.add_argument("--dsir-keep-pct", type=float, default=0.0,
                    help="keep this percent of docs by DSIR importance "
                         "weight toward the weak-positive slice (0 = off)")
    ap.add_argument("--gopher", action="store_true",
                    help="apply the Gopher quality-rule battery "
                         "(Rae et al. 2021) as an in-place gate")
    ap.add_argument("--badwords-max-e6", type=int, default=-1,
                    help="drop docs whose blocklisted-token rate exceeds "
                         "this (micro-units; -1 = off)")
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
