"""Full-text relevance search (BM25) — the retrieval operator of the
curation stack.

A training-data pipeline needs keyword retrieval over the corpus it
curates (targeted audits: "show me the top documents about X", seed-set
expansion, contamination spot-checks) long before it needs a learned
retriever.  BM25 (Robertson/Sparck Jones, the Okapi formulation) over
the documents table is the standard answer, and it maps to a pure
DataFrame plan — no index service, no UDFs.

Scale shape (the 100 TB reading):
- tokens are filtered to the QUERY terms **before** any shuffle, so the
  per-query cost is proportional to matching postings, not corpus size;
- document length rides the explode row, so term frequencies and
  lengths land in ONE hash aggregation — no corpus-wide second join;
- document frequencies / corpus stats are aggregates over that already
  tiny posting set plus a single-row global agg, both broadcast back;
- the final top-k is `orderBy(...).limit(20)` — Spark's TakeOrdered,
  a per-partition heap + driver merge, never a full sort to one node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bm25_topk(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Okapi BM25 top-20: ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    summed over matched query terms, with k1 = 1.2 and b = 0.75;
    ``idf = ln(1 + (N-df+0.5)/(df+0.5))``.

    Returns ``(doc_id, n_terms, score_e4)`` — the score floor-scaled to
    1e-4 ints (the engine-portable composite recipe), ranked by
    ``(score_e4 DESC, doc_id)`` so ordering is deterministic across
    engines."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    toks = docs.select(
        F.col("doc_id"),
        F.size(F.split(F.lower(F.col("text")), " ")).alias("dl"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term").isin(terms))          # prune BEFORE the shuffle

    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"),
        F.first("dl").cast("double").alias("dl"))

    dfs = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("df"))  # docs per term

    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.lower(F.col("text")), " "))).alias("avgdl"))

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    k1, b = 1.2, 0.75
    tf_norm = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                      / F.col("avgdl"))))
    scored = (tf
              .join(F.broadcast(dfs), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_terms"),
                   F.sum(idf * tf_norm).alias("score")))
    return (scored
            .select("doc_id", "n_terms",
                    F.floor(F.col("score") * 1e4 + F.lit(0.5))
                    .cast("long").alias("score_e4"))
            .orderBy(F.col("score_e4").desc(), F.col("doc_id"))
            .limit(20))

def tfidf_topterms(docs: DataFrame) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the keyword/feature-extraction
    twin of ``bm25_topk`` (that one ranks docs for a query; this one
    summarises every doc): ``tf * ln((N+1)/(df+1))``, the smoothed IDF
    that never divides by zero and stays positive.

    Scale shape: one explode feeding ONE (doc, term) hash-agg; document
    frequency is a second agg over that already-deduplicated pair table
    (never a count-DISTINCT Expand); corpus size is a single-row agg
    cross-joined broadcast.  The tf↔df join keys on term — vocab-sized,
    far smaller than the corpus, AQE picks broadcast when it fits.  The
    per-doc top-3 is a window over the doc partition: every doc ranks
    in parallel, no global sort.

    Emits ``(doc_id, word, tfidf_e6)`` floor-scaled to 1e-6 ints (the
    engine-portable composite recipe), ties broken by word.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(
        F.count("*").cast("double").alias("tf"))
    # tf feeds BOTH the df aggregation and the scoring join; without a
    # materialization Catalyst re-derives it from a second corpus
    # scan+explode (exchange reuse does not fire across the two
    # different column-pruned branches — verified on the final AQE
    # plan), doubling the heaviest stage.  localCheckpoint computes the
    # pair table once; both consumers read the materialized partitions.
    tf = tf.localCheckpoint()
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + 1.0)
                                / (F.col("df") + 1))
    # per-doc top-3 WITHOUT a window: a row_number window must exchange
    # AND fully sort the (doc, term) table; a hash-agg collect_list +
    # array_sort + slice gets partial aggregation map-side and sorts
    # only each doc's own (tens of) terms.  Ordering key (-score, word)
    # ascending == (score desc, word asc), the window's order; IDF ≥ 0
    # so the negation is exact and -0.0 compares equal to 0.0.
    top = F.slice(F.array_sort(F.collect_list(
        F.struct((-score).alias("ns"), F.col("word")))), 1, 3)
    return (tf.join(dfreq, "word")
            .crossJoin(F.broadcast(n))
            .groupBy("doc_id")
            .agg(top.alias("__top"))
            .select("doc_id", F.explode("__top").alias("t"))
            .select("doc_id", F.col("t.word").alias("word"),
                    F.floor(-F.col("t.ns") * 1e6).cast("long")
                    .alias("tfidf_e6")))
