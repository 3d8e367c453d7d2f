"""Continuous rolling near-dup dedup (streaming/curate_stream.py):
after every drain the persisted corpus/index/labels state must equal
the from-scratch batch recursion over everything ingested so far."""

from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.operators import dedup
from databricks_pdf_ocr_spark.sources.tables import TableIO
from databricks_pdf_ocr_spark.streaming import curate_stream as cs

BASE = ("the quick brown fox jumps over the lazy dog while the crawler "
        "parses content streams and reassembles ordered spans for every "
        "document in the corpus before the dedup stage runs")


def _docs(*rows):
    return list(rows)


def _expected_labels(spark, rows):
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.minhash_lsh_pairs(df, verify_threshold=0.3)
    return {r["node"]: r["comp"]
            for r in dedup.neardup_components(pairs).collect()}


def _drain(spark, input_dir, tables, ck):
    cs.start_dedup_stream(spark, input_dir, tables, ck).awaitTermination()


def test_rolling_dedup_stream_matches_from_scratch(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    tables = str(tmp_path / "tables")
    ck = str(tmp_path / "ck")

    batch_a = _docs(("a1", BASE),
                    ("a2", BASE.replace("lazy", "sleepy")),
                    ("a3", "completely different words about engine "
                           "internals and query plans " * 3))
    spark.createDataFrame(batch_a, "doc_id string, text string") \
        .write.mode("append").parquet(input_dir)
    _drain(spark, input_dir, tables, ck)

    io = TableIO(spark, tables)
    got = {r["node"]: r["comp"] for r in io.read(cs.LABELS_TABLE).collect()}
    assert got == _expected_labels(spark, batch_a)
    assert io.read(cs.CORPUS_TABLE).count() == 3

    # second drain: a near-dup of a1 arrives plus a fresh unique doc —
    # the rolling merge must land the SAME labeling a full recompute gives
    batch_b = _docs(("b1", BASE.replace("dog", "cat")),
                    ("b2", "another unrelated document mentioning "
                           "broadcast joins and shuffle partitions " * 3))
    spark.createDataFrame(batch_b, "doc_id string, text string") \
        .write.mode("append").parquet(input_dir)
    _drain(spark, input_dir, tables, ck)

    all_rows = batch_a + batch_b
    expected = _expected_labels(spark, all_rows)
    got = {r["node"]: r["comp"] for r in io.read(cs.LABELS_TABLE).collect()}
    assert got == expected
    assert expected.get("b1") == "a1"        # sanity: the cluster grew

    canon = {r["doc_id"] for r in cs.canonical_docs(io).collect()}
    losers = {n for n, c in expected.items() if c != n}
    assert canon == {d for d, _ in all_rows} - losers

    # third drain with nothing new: state must not move
    before = (io.read(cs.CORPUS_TABLE).count(),
              io.read(cs.INDEX_TABLE).count())
    _drain(spark, input_dir, tables, ck)
    assert (io.read(cs.CORPUS_TABLE).count(),
            io.read(cs.INDEX_TABLE).count()) == before

    # foreachBatch replay simulation: re-feeding an already-landed batch
    # through the batch kernel is a no-op (anti-join idempotence)
    replay = spark.createDataFrame(batch_b, "doc_id string, text string")
    stats = cs.dedup_batch(spark, io, replay)
    assert stats == {"new_docs": 0, "new_pairs": 0}
    got = {r["node"]: r["comp"] for r in io.read(cs.LABELS_TABLE).collect()}
    assert got == expected
