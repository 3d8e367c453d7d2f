"""Continuous rolling near-dup dedup (streaming/curate_stream.py):
after every drain the persisted corpus/index/labels state must equal
the from-scratch batch recursion over everything ingested so far."""

import pytest

from databricks_pdf_ocr_spark.operators import dedup
from databricks_pdf_ocr_spark.sources.tables import TableIO
from databricks_pdf_ocr_spark.streaming import curate_stream as cs

BASE = ("the quick brown fox jumps over the lazy dog while the crawler "
        "parses content streams and reassembles ordered spans for every "
        "document in the corpus before the dedup stage runs")

BATCH_A = [("a1", BASE),
           ("a2", BASE.replace("lazy", "sleepy")),
           ("a3", "completely different words about engine "
                  "internals and query plans " * 3)]
# a near-dup of a1 plus a fresh unique doc
BATCH_B = [("b1", BASE.replace("dog", "cat")),
           ("b2", "another unrelated document mentioning "
                  "broadcast joins and shuffle partitions " * 3)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _expected_labels(spark, rows, mode):
    pairs = dedup.minhash_lsh_pairs(_df(spark, rows), hash_mode=mode,
                                    verify_threshold=0.3)
    return {r["node"]: r["comp"]
            for r in dedup.neardup_components(pairs).collect()}


def _labels(io):
    return {r["node"]: r["comp"] for r in io.read(cs.LABELS_TABLE).collect()}


def _drain(spark, input_dir, tables, ck, mode):
    cs.start_dedup_stream(spark, input_dir, tables, ck,
                          hash_mode=mode).awaitTermination()


@pytest.mark.parametrize("mode", ["sha2", "xxhash64"])
def test_rolling_dedup_stream_matches_from_scratch(spark, tmp_path, mode):
    input_dir = str(tmp_path / "in")
    tables = str(tmp_path / "tables")
    ck = str(tmp_path / "ck")

    _df(spark, BATCH_A).write.mode("append").parquet(input_dir)
    _drain(spark, input_dir, tables, ck, mode)

    io = TableIO(spark, tables)
    assert _labels(io) == _expected_labels(spark, BATCH_A, mode)
    assert io.read(cs.CORPUS_TABLE).count() == 3

    # second drain: the rolling merge must land the SAME labeling a full
    # recompute gives
    _df(spark, BATCH_B).write.mode("append").parquet(input_dir)
    _drain(spark, input_dir, tables, ck, mode)

    all_rows = BATCH_A + BATCH_B
    expected = _expected_labels(spark, all_rows, mode)
    assert _labels(io) == expected
    assert expected.get("b1") == "a1"        # sanity: the cluster grew

    canon = {r["doc_id"] for r in cs.canonical_docs(io).collect()}
    losers = {n for n, c in expected.items() if c != n}
    assert canon == {d for d, _ in all_rows} - losers

    # third drain with nothing new: state must not move
    before = (io.read(cs.CORPUS_TABLE).count(),
              io.read(cs.INDEX_TABLE).count())
    _drain(spark, input_dir, tables, ck, mode)
    assert (io.read(cs.CORPUS_TABLE).count(),
            io.read(cs.INDEX_TABLE).count()) == before

    # foreachBatch replay simulation: re-feeding an already-landed batch
    # through the batch kernel is a no-op (anti-join idempotence)
    stats = cs.dedup_batch(spark, io, _df(spark, BATCH_B), hash_mode=mode)
    assert stats == {"new_docs": 0, "new_pairs": 0}
    assert _labels(io) == expected


def test_replay_after_crash_before_commit_dedups_the_batch(
        spark, tmp_path, monkeypatch):
    """A batch that crashes before its corpus append (the commit point)
    must replay in full: the replay re-absorbs the delta, so the labels
    equal the from-scratch labels and the index holds each doc once."""
    io = TableIO(spark, str(tmp_path / "tables"))
    cs.dedup_batch(spark, io, _df(spark, BATCH_A), hash_mode="sha2")

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(dedup, "merge_components", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        cs.dedup_batch(spark, io, _df(spark, BATCH_B), hash_mode="sha2")
    monkeypatch.undo()

    stats = cs.dedup_batch(spark, io, _df(spark, BATCH_B), hash_mode="sha2")
    assert stats["new_docs"] == len(BATCH_B)
    expected = _expected_labels(spark, BATCH_A + BATCH_B, "sha2")
    assert expected.get("b1") == "a1"
    assert _labels(io) == expected
    assert io.read(cs.INDEX_TABLE).count() == \
        len(BATCH_A + BATCH_B) * dedup.BANDS
    assert io.read(cs.CORPUS_TABLE).count() == len(BATCH_A + BATCH_B)
