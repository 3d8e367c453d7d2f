"""Continuous near-dup dedup over a document stream.

The rolling-ingest dedup recursion (``dedup.minhash_index_upsert`` →
``minhash_lsh_pairs_incremental`` → ``merge_components``) driven by
Structured Streaming ``foreachBatch``: each micro-batch of crawl
documents upserts ONLY its own MinHash signatures into the persisted
banded index, generates candidate pairs delta-vs-all (never corpus²),
exact-Jaccard-verifies them, folds them into the persisted component
labeling via the star-collapse merge, and lands in the corpus table.
State between batches is the three tables, not a Spark state store —
restartable, inspectable, and exactly the layout the batch jobs use.

Idempotence under foreachBatch's at-least-once replay: the corpus
append is the batch's LAST write — its commit point.  The delta is the
batch minus the corpus, so a batch whose corpus append landed replays
as a no-op; a batch that crashed anywhere before it replays in full.
The index upsert anti-joins what is already indexed (a replay appends
nothing), the pairs are verified against ``corpus ∪ delta``, the label
merge is a pure function of (labels, pairs) so re-running it rewrites
the same labeling, and the label swap itself is the crash-safe
``TableIO.replace_table`` two-rename hop.

Reference analogue: none — the reference's ingestion stream lands files
only (`SURVEY.md §3`); dedup-as-you-ingest is the capability a 100 TB
crawl pipeline actually needs (re-signing the corpus per batch is the
quadratic trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import curate, dedup
from ..sources.tables import make_table_io

CORPUS_TABLE = "dedup_corpus"
INDEX_TABLE = "minhash_index"
LABELS_TABLE = "dedup_labels"


def dedup_batch(spark: SparkSession, io, batch_df: DataFrame,
                hash_mode: str) -> dict:
    """One rolling-dedup step: absorb a (doc_id, text) delta into the
    index/labels/corpus tables, corpus last.  Returns control-plane
    stats."""
    batch_df = batch_df.select("doc_id", "text").localCheckpoint()

    existing = io.read(CORPUS_TABLE)
    if existing is None:
        delta = batch_df
    else:
        delta = batch_df.join(existing.select("doc_id"), "doc_id",
                              "left_anti")
    delta = delta.dropDuplicates(["doc_id"]).localCheckpoint()
    n_new = delta.count()                      # batch-bounded scalar
    if n_new == 0:
        return {"new_docs": 0, "new_pairs": 0}

    dedup.minhash_index_upsert(io, delta, INDEX_TABLE, hash_mode=hash_mode)
    docs = delta if existing is None else existing.unionByName(delta)
    pairs = dedup.minhash_lsh_pairs_incremental(
        io, delta.select(F.col("doc_id").alias("id")), INDEX_TABLE,
        docs=docs, verify_threshold=curate.NEARDUP_JACCARD).localCheckpoint()
    n_pairs = pairs.count()                    # pair-bounded scalar

    old_labels = io.read(LABELS_TABLE)
    if old_labels is None:
        labels = dedup.neardup_components(pairs)
    else:
        labels = dedup.merge_components(old_labels, pairs)
    io.overwrite(labels, LABELS_TABLE + "__staged")
    io.replace_table(LABELS_TABLE + "__staged", LABELS_TABLE)
    io.append(delta, CORPUS_TABLE)             # the batch's commit point
    return {"new_docs": int(n_new), "new_pairs": int(n_pairs)}


def canonical_docs(io) -> DataFrame:
    """Current deduplicated view: corpus minus every labeled non-
    canonical member (comp != node) — the read side of the rolling
    recursion, same anti-join as the batch curate job."""
    corpus = io.read(CORPUS_TABLE)
    labels = io.read(LABELS_TABLE)
    if labels is None:
        return corpus
    losers = (labels.filter(F.col("comp") != F.col("node"))
              .select(F.col("node").alias("doc_id")))
    return corpus.join(losers, "doc_id", "left_anti")


def start_dedup_stream(spark: SparkSession, input_dir: str,
                       tables_dir: str, checkpoint_dir: str,
                       hash_mode: str, available_now: bool = True):
    """(doc_id, text) parquet stream → continuously deduplicated
    corpus/index/labels tables."""
    io = make_table_io(spark, tables_dir)
    stream = (spark.readStream.schema("doc_id string, text string")
              .option("maxFilesPerTrigger", "8")
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch(spark, io, batch_df, hash_mode)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
