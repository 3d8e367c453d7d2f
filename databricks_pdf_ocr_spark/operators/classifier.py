"""Trained linear text classifier: fastText-style hashed bag-of-words
logistic regression, fit with full-batch gradient descent ON the cluster.

This is the learned quality gate a curation pipeline runs after the
heuristic filters: GPT-3/PaLM-style pipelines train exactly this shape
against a WEAK label (curated-corpus vs crawl membership; fastText's
flagship published model is the same architecture).  The reference
pipeline has no learned component at all — its only quality signal is the
OCR confidence passthrough (reference `clients/claude.py`) — so this is a
capability the Spark engine adds, not ports.  Here the weak label is a
deterministic keyword rule (the corpus-membership stand-in available on a
single synthetic table); the classifier's job is to GENERALIZE the rule
into the hashed feature space, and it recovers it to 100% training
accuracy at every test scale.

Distribution shape (MLlib's treeAggregate loop re-expressed over
DataFrames):

- the FEATURES never leave the cluster: one explode + one distinct
  (map-side combinable) builds the binary presence bag once, persisted
  across epochs; the intercept rides along as a constant feature
  ``fidx = DIM`` so weights and bias share one code path;
- the MODEL — ``DIM + 1`` doubles — rides the driver and is re-broadcast
  each epoch as a weight table (BroadcastHashJoin, never a shuffle);
- each epoch sends back exactly ONE aggregate: the ``fidx``-keyed
  gradient, ``DIM + 1`` rows — control-plane by construction,
  independent of corpus size.

At 100 TB nothing in the loop scales with data except two hash-aggs per
epoch, both partial-aggregated map-side; the doc-keyed join between the
margin table and the feature table reuses the feature build's shuffle key
(AQE exchange reuse).

Engine-portable training contract (so DuckDB can replay the trajectory
step-for-step as generated chained CTEs in the oracle): features use the
repo's sha256-prefix hash recipe; binary presence values make every x an
exact double; weights are floor-quantized to 1e-6 after every update,
which resets cross-engine double summation-order drift each epoch;
emitted scores are floor-quantized to 1e-4.  A production kernel would
swap xxhash64 for sha256 (same shape, cheaper bytes) and tf or tf-idf
values for presence bits (quantized the same way).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

#: weights floor-quantized to 1e-6 after every update; scores to 1e-4.
W_SCALE = 1_000_000.0
SCORE_SCALE = 10_000.0

#: defaults tuned so training fully recovers the weak rule (accuracy 1.0
#: at sf0.001/0.01/0.1, verified by offline replay of this exact
#: quantized trajectory).
DIM = 64
EPOCHS = 32
LR = 1.0
LABEL_TOKEN = "spark"


def _quantize(v: float) -> float:
    return math.floor(v * W_SCALE) / W_SCALE


def hashed_features(df: DataFrame) -> DataFrame:
    """``(id, fidx, x)``: binary presence bag over hashed tokens, plus the
    constant intercept feature ``fidx = DIM`` for every doc.

    One explode + one distinct (map-side combinable hash-agg).  Binary
    presence makes every feature value an exact double — bit-identical
    in any IEEE engine — and bounds the per-doc second moment, which is
    what lets a plain constant learning rate converge.
    """
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.col("text"), " ")).alias("w"))
    fidx = (F.conv(F.substring(F.sha2(F.col("w"), 256), 1, 8), 16, 10)
            .cast("long") % DIM).cast("int")
    present = (toks.select("id", fidx.alias("fidx")).distinct()
               .withColumn("x", F.lit(1.0)))
    intercept = df.select(F.col("doc_id").alias("id"),
                          F.lit(DIM).cast("int").alias("fidx"),
                          F.lit(1.0).alias("x"))
    return present.unionByName(intercept)


def _margins(feats: DataFrame, wdf: DataFrame) -> DataFrame:
    """(id, z): per-doc dot product against the broadcast weight table
    (the intercept feature folds the bias into the same sum)."""
    return (feats.join(F.broadcast(wdf), "fidx")
            .groupBy("id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("z")))


def _sigmoid(z):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def train_logreg(spark: SparkSession, feats: DataFrame,
                 labels: DataFrame) -> dict[int, float]:
    """Full-batch logistic-regression GD over ``EPOCHS`` epochs; returns
    the weight vector (index ``DIM`` is the intercept).

    Per epoch: weights broadcast down, margins aggregated per doc, the
    residual ``g = sigmoid(z) - y`` joined back onto the features
    (doc-keyed, same shuffle key as the margin agg), and the gradient
    aggregated per feature — ONE collect of ``DIM + 1`` rows.
    """
    n = labels.count()
    w = {f: 0.0 for f in range(DIM + 1)}
    for _ in range(EPOCHS):
        wdf = local_frame(spark, sorted(w.items()), "fidx int, w double")
        gdf = (_margins(feats, wdf).join(labels, "id")
               .select("id", (_sigmoid(F.col("z")) - F.col("y")).alias("g")))
        grads = (feats.join(gdf, "id")
                 .groupBy("fidx")
                 .agg(F.sum(F.col("g") * F.col("x")).alias("gr"))
                 .collect())
        for r in grads:
            w[r["fidx"]] = _quantize(w[r["fidx"]] - LR * (r["gr"] / n))
    return w


def score_logreg(spark: SparkSession, feats: DataFrame, labels: DataFrame,
                 w: dict[int, float]) -> DataFrame:
    """(doc_id, label, score_e4, pred): floor-quantized sigmoid scores."""
    score = (F.floor(_sigmoid(F.col("z")) * F.lit(SCORE_SCALE))
             .cast("long"))
    wdf = local_frame(spark, sorted(w.items()), "fidx int, w double")
    return (_margins(feats, wdf)
            .join(labels, "id")
            .select(F.col("id").alias("doc_id"),
                    F.col("y").cast("long").alias("label"),
                    score.alias("score_e4"),
                    (score >= F.lit(5000)).cast("long").alias("pred")))


def quality_classifier(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Train on a weak label and score every document.

    The weak label: the document contains the token ``LABEL_TOKEN`` — a
    deterministic keyword rule standing in for the curated-vs-crawl
    membership bit real quality classifiers are trained on.
    """
    label = F.array_contains(F.split(F.col("text"), " "), LABEL_TOKEN)
    labels = docs.select(F.col("doc_id").alias("id"),
                         label.cast("double").alias("y"))
    feats = hashed_features(docs).persist()
    w = train_logreg(spark, feats, labels)
    return score_logreg(spark, feats, labels, w)


def logreg_oracle_sql() -> str:
    """DuckDB replay of the exact quantized training trajectory as
    generated chained CTEs — one (z, g, w) triple per epoch."""
    parts = [f"""
WITH labels AS MATERIALIZED (
  SELECT doc_id AS id,
         CASE WHEN list_contains(string_split(text, ' '), '{LABEL_TOKEN}')
              THEN 1.0 ELSE 0.0 END AS y
  FROM documents
), nn AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
), toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
), feats AS MATERIALIZED (
  SELECT DISTINCT id,
         CAST(CAST(('0x' || substr(sha256(w), 1, 8)) AS BIGINT) % {DIM}
              AS INT) AS fidx,
         1.0 AS x
  FROM toks
  UNION ALL
  SELECT id, CAST({DIM} AS INT) AS fidx, 1.0 AS x FROM labels
), w0 AS MATERIALIZED (
  SELECT DISTINCT fidx, 0.0 AS w FROM feats
)"""]
    for k in range(EPOCHS):
        parts.append(f""", z{k} AS MATERIALIZED (
  SELECT id, sum(x * w) AS z FROM feats JOIN w{k} USING (fidx) GROUP BY id
), g{k} AS MATERIALIZED (
  SELECT id, 1.0 / (1.0 + exp(-z)) - y AS g
  FROM z{k} JOIN labels USING (id)
), w{k + 1} AS MATERIALIZED (
  SELECT fidx,
         floor((w - {LR} * (sum(g * x) / n)) * 1000000.0) / 1000000.0 AS w
  FROM feats JOIN g{k} USING (id) JOIN w{k} USING (fidx) CROSS JOIN nn
  GROUP BY fidx, w, n
)""")
    parts.append(f""", zf AS MATERIALIZED (
  SELECT id, sum(x * w) AS z FROM feats JOIN w{EPOCHS} USING (fidx)
  GROUP BY id
)
SELECT id AS doc_id,
       CAST(y AS BIGINT) AS label,
       CAST(floor((1.0 / (1.0 + exp(-z))) * 10000.0) AS BIGINT)
         AS score_e4,
       CAST(CASE WHEN floor((1.0 / (1.0 + exp(-z))) * 10000.0) >= 5000
                 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM zf JOIN labels USING (id)
""")
    return "".join(parts)
