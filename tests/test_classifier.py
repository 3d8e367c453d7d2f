"""Trained hashed-bag logistic-regression classifier (operators/classifier).

Cross-engine parity of the full training trajectory is covered by the
`quality_classifier` oracle row (tools/check_oracle.py, all 3 sfs); these
tests cover learning behavior, determinism, weight quantization, and the
plan shape of the training loop.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.operators import classifier
from databricks_pdf_ocr_spark.session import local_frame


def _corpus(spark, n=120):
    """Synthetic corpus where docs with the label token are the positive
    class; filler vocabulary is shared across classes."""
    filler = ["red", "green", "blue", "cyan", "teal", "plum", "gold",
              "iron", "sand", "mist"]
    rows = []
    for i in range(n):
        words = [filler[(i * 7 + j) % len(filler)] for j in range(12)]
        if i % 3 == 0:
            words.insert(i % 12, classifier.LABEL_TOKEN)
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_recovers_keyword_rule(spark):
    docs = _corpus(spark)
    scored = classifier.quality_classifier(spark, docs).collect()
    assert len(scored) == 120
    acc = sum(r["pred"] == r["label"] for r in scored) / len(scored)
    majority = max(sum(r["label"] for r in scored) / len(scored),
                   1 - sum(r["label"] for r in scored) / len(scored))
    assert acc >= 0.95 > majority


def test_deterministic(spark):
    docs = _corpus(spark, n=60)
    a = sorted(map(tuple, classifier.quality_classifier(
        spark, docs).collect()))
    b = sorted(map(tuple, classifier.quality_classifier(
        spark, docs).collect()))
    assert a == b


def test_weights_quantized(spark):
    docs = _corpus(spark, n=60)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.array_contains(F.split("text", " "), classifier.LABEL_TOKEN)
        .cast("double").alias("y"))
    feats = classifier.hashed_features(docs)
    w = classifier.train_logreg(spark, feats, labels)
    assert len(w) == classifier.DIM + 1
    for v in w.values():
        assert v == classifier._quantize(v)  # exact 1e-6 grid


def test_margin_plan_broadcasts_weights(spark):
    docs = _corpus(spark, n=30)
    feats = classifier.hashed_features(docs)
    wdf = local_frame(spark, [(f, 0.0) for f in range(classifier.DIM + 1)],
                      "fidx int, w double")
    plan = (classifier._margins(feats, wdf)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_oracle_sql_epoch_count():
    # full default-parameter accuracy (1.0 at all 3 sfs) is covered by
    # the driver's quality_classifier oracle row; here just pin the
    # generated oracle's structure to the configured trajectory.
    sql = classifier.logreg_oracle_sql()
    assert sql.count("MATERIALIZED") == 5 + 3 * classifier.EPOCHS
    assert f"w{classifier.EPOCHS} USING (fidx)" in sql
