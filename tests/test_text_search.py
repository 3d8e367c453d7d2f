"""BM25 retrieval: ranking semantics on a hand corpus + the scale-shape
plan assertions (prune-before-shuffle, broadcast stats, TakeOrdered)."""

import math

import pytest

from databricks_pdf_ocr_spark.operators import text_search


def _corpus(spark):
    rows = [
        (1, "spark join hash join merge join"),       # tf(join)=3, dl=6
        (2, "hash table scan"),                       # rare term once
        (3, "window agg window"),                     #
        (4, "scan scan scan scan scan scan scan scan"),  # no query terms
        (5, "join window hash"),                      # all three, short
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_ranking_semantics(spark):
    got = {r["doc_id"]: r for r in text_search.bm25_topk(
        _corpus(spark), ["join", "window", "hash"]).collect()}
    assert 4 not in got                       # no matching term → no row
    assert got[5]["n_terms"] == 3 and got[1]["n_terms"] == 2
    # doc 5 matches all three terms and is short → highest score
    top = max(got.values(), key=lambda r: r["score_e4"])
    assert top["doc_id"] == 5
    # hand-check one cell: doc 3, term 'window' (tf=2, dl=3, df=2, N=5)
    avgdl = (6 + 3 + 3 + 8 + 3) / 5
    idf = math.log(1 + (5 - 2 + 0.5) / (2 + 0.5))
    window_part = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / avgdl))
    assert got[3]["n_terms"] == 1
    assert got[3]["score_e4"] == math.floor(window_part * 1e4 + 0.5)


def test_bm25_validates_and_ranks_deterministically(spark):
    with pytest.raises(ValueError):
        text_search.bm25_topk(_corpus(spark), [])
    a = [r["doc_id"] for r in
         text_search.bm25_topk(_corpus(spark), ["join"]).collect()]
    b = [r["doc_id"] for r in
         text_search.bm25_topk(_corpus(spark), ["JOIN"]).collect()]
    assert a == b                              # case-folded query terms


def test_bm25_plan_prunes_before_shuffle(spark):
    """The term filter must sit BELOW the aggregation exchange (postings
    pruned before any shuffle) and the df/stats joins must broadcast."""
    plan = text_search.bm25_topk(_corpus(spark), ["join"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    # the isin filter appears under a Generate (explode), not above an
    # Exchange: no Exchange line precedes the first 'term#... IN'
    lines = plan.splitlines()
    filt = next(i for i, ln in enumerate(lines) if " IN (" in ln
                or "term" in ln and "Filter" in ln)
    gen = next(i for i, ln in enumerate(lines) if "Generate explode" in ln)
    assert abs(filt - gen) <= 3, plan[:2000]
