"""Dump formatted physical plans for the headline operators → PLANS.md.

Evidence that the plans are the intended ones: filters pushed to scans,
narrow extraction (no payload shuffle), broadcast where a side is small,
partial aggregation before shuffles.  Regenerate with:
``python tools/dump_plans.py``.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from databricks_pdf_ocr_spark.config import ExtractConfig
from databricks_pdf_ocr_spark.operators.extract import reassemble, run_extraction
from databricks_pdf_ocr_spark.queries import QUERIES
from databricks_pdf_ocr_spark.session import get_spark

SF = "/root/testdata/sf0.01"
HAND_MARKER = "<!-- HAND-CURATED BELOW: preserved by dump_plans.py -->"
SHOW = ["q1_pricing_summary", "q3_shipping_priority", "anti_join_unprocessed",
        "dedup_minhash_lsh", "embed_cosine_topk", "asof_join_events_orders",
        "bm25_topk", "dedup_substring_spans", "robots_gate",
        "band_join_error_clicks", "dsir_logweights", "zorder_layout",
        "quality_classifier", "q5_local_supplier_volume", "chunk_overlap",
        "salted_join_skew", "bloom_gate", "tfidf_topterms",
        "timeseries_gapfill", "vocab_topk", "sample_weighted_per_lang",
        "scd2_history", "graph_triangles", "rrf_fusion", "event_funnel",
        "histogram_numeric", "gopher_rules", "sitemap_urls",
        "order_share_of_priority"]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    spark = get_spark(master="local[8]", app_name="plans",
                      shuffle_partitions=8)
    parts = ["# PLANS — formatted physical plans for headline operators\n",
             "Regenerate: `python tools/dump_plans.py`.  Read for: pushed "
             "filters / pruned schemas at the scans, narrow (shuffle-free) "
             "extraction, broadcast joins on small sides, partial "
             "aggregation before every exchange.\n"]

    from databricks_pdf_ocr_spark import fixtures
    docs = fixtures.fixture_df(spark, 42, 200, fixtures.TINY, n_partitions=4)
    cfg = ExtractConfig(shuffle_partitions=8)
    parts.append("## extraction pipeline (scan → explode → mapInPandas "
                 "→ reassembly)\n```\n"
                 + plan_of(reassemble(run_extraction(docs, cfg))) + "```\n")

    # bucket-partitioned results table: partition pruning + single-exchange
    # latest-wins assembly (the two round-2 scale fixes, VERDICT #1/#2)
    import tempfile

    from pyspark.sql import functions as F

    from databricks_pdf_ocr_spark.operators.extract import bucket_col
    from databricks_pdf_ocr_spark.plans.state_views import latest_results

    tdir = tempfile.mkdtemp(prefix="plans_results_")
    results = (run_extraction(docs, cfg)
               .withColumn("bucket", bucket_col(16))
               .withColumn("run_id", F.lit("run-demo"))
               .withColumn("processed_at", F.current_timestamp()))
    (results.repartition("bucket").write.mode("overwrite")
     .partitionBy("bucket").parquet(tdir))
    table = spark.read.parquet(tdir)
    pruned = (table.filter(F.col("bucket").isin([0, 1, 2]))
              .filter(F.col("run_id") == "run-demo"))
    parts.append("## results-table scan: bucket partition pruning\n"
                 "(read of the bucket-partitioned results log exactly as "
                 "the lineage re-scan and incremental reassembly do: the "
                 "touched-bucket list is control-plane metadata, applied "
                 "as a static isin — see `PartitionFilters` on `bucket` "
                 "(directory pruning) plus the pushed `run_id` filter.  A "
                 "broadcast semi-join was NOT enough: DPP declines to fire "
                 "without a selective build-side predicate and the scan "
                 "read every bucket dir.)\n```\n"
                 + plan_of(pruned) + "```\n")
    parts.append("## incremental assembly: latest-run-wins + reassemble\n"
                 "(ONE exchange total: the window needs only "
                 "ClusteredDistribution(doc_id), which the reassembly "
                 "groupBy reuses)\n```\n"
                 + plan_of(reassemble(latest_results(table))) + "```\n")

    # curate feature+gate stage: the fused with_features select — ZERO
    # joins/exchanges before the dedup stage (round-2 verdict: the three
    # derive-and-join-back passes were three corpus shuffles)
    from databricks_pdf_ocr_spark.operators.text_analysis import with_features
    from jobs.curate import doc_text

    docs_table = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    feat = with_features(docs_table).filter(
        F.col("quality_score_e6") >= 400000)
    feat_plan = plan_of(feat)
    assert "Join" not in feat_plan and "Exchange" not in feat_plan, \
        "curate feature stage widened"
    parts.append("## curate feature stage: with_features → quality gate\n"
                 "(every per-doc feature — language ID, quality, token "
                 "counts — is a column expression over `text` computed in "
                 "ONE narrow select: the whole stage is scan → project → "
                 "filter, no Exchange, no Join.  jobs/curate.py consumes "
                 "exactly this over doc_text(extracted).)\n```\n"
                 + feat_plan + "```\n")

    for name in SHOW:
        df = QUERIES[name]["fn"](spark, SF)
        parts.append(f"## {name}\n```\n{plan_of(df)}```\n")

    # --media-payloads: ONE kernel pass, persisted, feeds both writes
    from databricks_pdf_ocr_spark.operators.extract import (
        explode_spans, extract_spans_and_payloads, payload_rows,
    )
    from databricks_pdf_ocr_spark.schemas import RESULTS_RUN_SCHEMA

    extracted = (extract_spans_and_payloads(explode_spans(docs), cfg)
                 .withColumns({"bucket": bucket_col(16),
                               "run_id": F.lit("run-demo"),
                               "run_seq": F.lit(1).cast("long"),
                               "input_fingerprint": F.lit("fixture:demo"),
                               "processed_at": F.current_timestamp()})
                 .repartition(8, "bucket").persist())
    parts.append("## --media-payloads extraction: one kernel pass → "
                 "results write + payload write\n"
                 "(jobs/extract.py with the flag: the kernel's rows carry "
                 "the pdf images it parsed as payload columns; the output "
                 "after the one bucket exchange is persisted, the results "
                 "write reads it through an `InMemoryTableScan` that "
                 "prunes the payload columns, and the payload write "
                 "filters its image rows from the same cache — no second "
                 "scan, explode, base64 decode or PDF parse)\n"
                 "Results write:\n```\n"
                 + plan_of(extracted.select(*RESULTS_RUN_SCHEMA.fieldNames()))
                 + "```\nPayload write:\n```\n"
                 + plan_of(payload_rows(extracted, "bucket", "run_id",
                                        "run_seq", "processed_at"))
                 + "```\n")
    extracted.unpersist()

    # hand-curated audit sections (media/shingled/warc/pack/...) live
    # below the marker and survive regeneration
    out = Path("PLANS.md")
    tail = ""
    if out.exists() and HAND_MARKER in out.read_text():
        tail = HAND_MARKER + out.read_text().split(HAND_MARKER, 1)[1]
    out.write_text("\n".join(parts) + "\n" + tail)
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
