"""spark-submit entrypoint for continuous rolling near-dup dedup.

    spark-submit --py-files dist/databricks_pdf_ocr_spark.zip \\
        jobs/dedup_stream.py --input /landing/docs --tables /tmp/t \\
        [--continuous] [--compact]

Drains a (doc_id, text) parquet landing dir through the rolling dedup
recursion (`streaming/curate_stream.py`): per micro-batch signature
upsert into the persisted banded MinHash index, delta-vs-all verified
candidates, star-collapse label merge, all hashed with xxhash64 (the
sha2 oracle mode is ``start_dedup_stream(hash_mode="sha2")``).
``availableNow`` by default (drain-and-stop — rerunning after new files
land continues from the stream checkpoint); ``--continuous`` keeps the
query running.

Prints one JSON line: corpus/index/label row counts and the current
canonical (deduplicated) doc count.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from databricks_pdf_ocr_spark.session import get_spark
from databricks_pdf_ocr_spark.sources.tables import make_table_io
from databricks_pdf_ocr_spark.streaming import curate_stream as cs


def run_job(spark, args) -> dict:
    q = cs.start_dedup_stream(
        spark, args.input, args.tables, args.checkpoint
        or args.tables + "/_dedup_stream_ck",
        hash_mode="xxhash64", available_now=not args.continuous)
    q.awaitTermination()
    io = make_table_io(spark, args.tables)
    if args.compact:
        for t in (cs.CORPUS_TABLE, cs.INDEX_TABLE):
            io.compact(t)
    corpus = io.read(cs.CORPUS_TABLE)
    index = io.read(cs.INDEX_TABLE)
    labels = io.read(cs.LABELS_TABLE)
    return {
        "corpus_docs": corpus.count() if corpus is not None else 0,
        "index_rows": index.count() if index is not None else 0,
        "label_rows": labels.count() if labels is not None else 0,
        "canonical_docs": cs.canonical_docs(io).count()
        if corpus is not None else 0,
    }


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="(doc_id, text) parquet landing dir (streamed)")
    ap.add_argument("--tables", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default: under --tables)")
    ap.add_argument("--compact", action="store_true",
                    help="after the drain, rewrite the append-grown "
                         "corpus/index tables into single files "
                         "(small-files maintenance)")
    ap.add_argument("--continuous", action="store_true",
                    help="keep the query running instead of availableNow")
    return ap


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="dedup-stream")
    try:
        print(json.dumps(run_job(spark, args)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
