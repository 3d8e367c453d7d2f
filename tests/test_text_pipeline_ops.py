"""Repetition quality signals + train/test decontamination (planted cases)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.operators import text_analysis as T


def _bucket(doc_id: int, mod: int = 20) -> int:
    return int(hashlib.sha256(str(doc_id).encode()).hexdigest()[:8], 16) % mod


def _eval_ids(n: int, mod: int = 20):
    """First n ints whose sha2 bucket is 0 (the eval gate) and n whose isn't."""
    ev, co, i = [], [], 0
    while len(ev) < n or len(co) < n:
        (ev if _bucket(i, mod) == 0 else co).append(i)
        i += 1
    return ev[:n], co[:n]


def test_repetition_features_planted(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"),          # 2-grams: 'spam spam' x3
         (2, "a b c d"),                      # all distinct
         (3, "x y x y x y"),                  # 'x y' x3, 'y x' x2
         (4, "solo")],                        # too short: no 2-grams
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            T.repetition_features(df).collect()}
    assert set(rows) == {1, 2, 3}             # doc 4 filtered (n_ngrams=0)
    r1 = rows[1]
    assert (r1["n_ngrams"], r1["n_distinct"], r1["top_ngram_count"]) == (3, 1, 3)
    assert r1["dup_ngram_frac_e6"] == (3 - 1) * 1000000 // 3
    r2 = rows[2]
    assert (r2["n_ngrams"], r2["n_distinct"], r2["top_ngram_count"]) == (3, 3, 1)
    assert r2["dup_ngram_frac_e6"] == 0
    r3 = rows[3]
    assert (r3["n_ngrams"], r3["n_distinct"], r3["top_ngram_count"]) == (5, 2, 3)


def test_contamination_pairs_planted(spark):
    ev_id = _eval_ids(1)[0][0]
    co_a, co_b = _eval_ids(2)[1]
    df = spark.createDataFrame(
        [(ev_id, "the quick brown fox jumps over dogs"),
         # shares 3-grams 'the quick brown', 'quick brown fox' with eval
         (co_a, "see the quick brown fox run away"),
         (co_b, "completely unrelated words here now")],
        "doc_id long, text string")
    rows = T.contamination_pairs(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["eval_id"], r["n_common"]) == (co_a, ev_id, 2)
    # eval doc has 5 distinct 3-grams -> contam = floor(2e6 / 5)
    assert r["contam_e6"] == 2 * 1000000 // 5


def test_contamination_eval_side_never_self_pairs(spark):
    ev_ids, _ = _eval_ids(2)
    # two eval docs sharing text must NOT produce an (eval, eval) pair
    df = spark.createDataFrame(
        [(ev_ids[0], "alpha beta gamma delta epsilon"),
         (ev_ids[1], "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    assert T.contamination_pairs(df).count() == 0


# ---------------------------------------------------------------------------
# round-5 additions: paragraph dedup / unigram LM / mixture / PII
# ---------------------------------------------------------------------------

def _chunk(word):
    """One 10-token paragraph-dedup chunk."""
    return " ".join(f"{word}{i}" for i in range(10))


def test_paragraph_dedup_first_occurrence_wins(spark):
    from databricks_pdf_ocr_spark.operators import dedup as D
    a, d, x = _chunk("a"), _chunk("d"), _chunk("x")
    df = spark.createDataFrame(
        [(1, f"{a} {d}"),           # chunks a, d (both first)
         (2, f"{a} {x}"),           # a dup of doc1 idx0; x kept
         (3, f"{d} {a}"),           # both chunks seen earlier -> empty
         (4, "a b")],               # short tail chunk, unique -> kept
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in D.paragraph_dedup(df).collect()}
    assert (rows[1]["n_chunks"], rows[1]["n_kept"]) == (2, 2)
    assert rows[1]["kept_text"] == f"{a} {d}"
    assert (rows[2]["n_chunks"], rows[2]["n_kept"]) == (2, 1)
    assert rows[2]["kept_text"] == x
    assert (rows[3]["n_chunks"], rows[3]["n_kept"]) == (2, 0)
    assert rows[3]["kept_text"] == ""
    assert (rows[4]["n_chunks"], rows[4]["n_kept"]) == (1, 1)
    assert rows[4]["kept_text"] == "a b"


def test_paragraph_dedup_order_preserved_within_doc(spark):
    from databricks_pdf_ocr_spark.operators import dedup as D
    # doc 2 keeps its 1st and 3rd chunks; kept_text must preserve idx order
    m, p, q = _chunk("m"), _chunk("p"), _chunk("q")
    df = spark.createDataFrame(
        [(1, m), (2, f"{p} {m} {q}")], "doc_id long, text string")
    r = {x["doc_id"]: x for x in D.paragraph_dedup(df).collect()}[2]
    assert (r["n_chunks"], r["n_kept"], r["kept_text"]) == (3, 2, f"{p} {q}")


def test_unigram_lm_scores_hand_computed(spark):
    import math
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "b")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in T.unigram_lm_scores(df).collect()}
    # corpus: a x3, b x2, tot 5
    exp1 = round((3 * math.log(3 / 5) + math.log(2 / 5)) / 4, 3)
    exp2 = round(math.log(2 / 5), 3)
    assert rows[1]["n_tokens"] == 4 and rows[1]["avg_logp"] == exp1
    assert rows[2]["n_tokens"] == 1 and rows[2]["avg_logp"] == exp2


def test_mixture_rebalance_rates_and_gate(spark):
    df = spark.createDataFrame(
        [(i, "en" if i < 8 else "de", "t") for i in range(10)],
        "doc_id long, lang string, text string")
    out = T.mixture_rebalance(df).collect()
    rates = {r["lang"]: r["rate_e6"] for r in out}
    # target = 10/2 = 5 per stratum: en 8 docs -> 625000, de 2 docs -> capped
    assert rates.get("en", 625000) == 625000      # absent if no en survives
    assert rates["de"] == 1000000                 # minority keeps everything
    assert {r["doc_id"] for r in out if r["lang"] == "de"} == {8, 9}
    # the kept/dropped split is exactly the sha2 gate, independently computed
    kept_en = {r["doc_id"] for r in out if r["lang"] == "en"}
    for i in range(8):
        gate = int(hashlib.sha256(str(i).encode()).hexdigest()[:8], 16) \
            % 1000000 < 625000
        assert (i in kept_en) == gate


def test_mixture_rebalance_deterministic_rerun(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr", "t") for i in range(30)],
        "doc_id long, lang string, text string")
    a = sorted(r["doc_id"] for r in T.mixture_rebalance(df).collect())
    b = sorted(r["doc_id"] for r in T.mixture_rebalance(df).collect())
    assert a == b


def test_pii_redact_planted_cases(spark):
    df = spark.createDataFrame(
        [(1, "mail alice.smith+tag@mail.co and bob@x.org now"),
         (2, "server 192.168.0.1 and 10.0.255.7 up"),
         (3, "call +44-123-4567 or 1-555-0100 today"),
         (4, "no pii here 999.999 @ not-an-email")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in T.pii_redact(df).collect()}
    assert (rows[1]["n_email"], rows[1]["redacted"]) == \
        (2, "mail <EMAIL> and <EMAIL> now")
    assert (rows[2]["n_ip"], rows[2]["redacted"]) == \
        (2, "server <IP> and <IP> up")
    assert (rows[3]["n_phone"], rows[3]["redacted"]) == \
        (2, "call <PHONE> or <PHONE> today")
    r4 = rows[4]
    assert (r4["n_email"], r4["n_ip"], r4["n_phone"]) == (0, 0, 0)
    assert r4["redacted"] == "no pii here 999.999 @ not-an-email"


# round-5 addition: DSIR importance weights

def _fidx(tok, dim=256):
    return int(hashlib.sha256(tok.encode()).hexdigest()[:8], 16) % dim


def test_dsir_logweights_hand_computed(spark):
    import math
    docs = [(1, "aim aim"), (2, "usual usual"), (3, "aim usual")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rule = F.array_contains(F.split("text", " "), "aim")
    got = {r["doc_id"]: r for r in T.dsir_logweights(df, rule).collect()}
    # replicate: hashed-unigram dist over all tokens vs target (docs 1,3)
    dim = 256
    dist_all, dist_tgt = {}, {}
    for did, text in docs:
        tgt = "aim" in text.split(" ")
        for tok in text.split(" "):
            f = _fidx(tok)
            dist_all[f] = dist_all.get(f, 0) + 1
            if tgt:
                dist_tgt[f] = dist_tgt.get(f, 0) + 1
    tot_all = sum(dist_all.values())
    tot_tgt = sum(dist_tgt.values())
    for did, text in docs:
        toks = text.split(" ")
        exp = round(sum(
            math.log((dist_tgt.get(_fidx(t), 0) + 1.0) / (tot_tgt + dim))
            - math.log((dist_all[_fidx(t)] + 1.0) / (tot_all + dim))
            for t in toks), 3) + 0.0
        assert got[did]["n_tokens"] == len(toks)
        assert got[did]["logw"] == exp
    # target-vocab doc must outweigh raw-vocab doc
    assert got[1]["logw"] > got[2]["logw"]


def test_dsir_plan_broadcasts_distribution(spark):
    df = spark.createDataFrame(
        [(i, "x y z") for i in range(20)], "doc_id long, text string")
    out = T.dsir_logweights(df, F.lit(True))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# round-5 addition: interpolated bigram LM

def test_bigram_lm_hand_computed(spark):
    import math
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "x")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.bigram_lm_scores(df).collect()}
    # corpus bigrams: (a,b)x2 (b,a)x2 ; contexts: a->2, b->2 ; uni a3 b3 x1 tot7
    def p(c12, c1, c2, tot=7):
        return 0.9 * (c12 * 1.0 / c1) + 0.1 * (c2 * 1.0 / tot)
    exp1 = round((2 * math.log(p(2, 2, 3)) + math.log(p(2, 2, 3))) / 3, 3)
    exp2 = round(math.log(p(2, 2, 3)), 3)
    assert got[1]["n_bigrams"] == 3 and got[1]["avg_logp"] == exp1
    assert got[2]["n_bigrams"] == 1 and got[2]["avg_logp"] == exp2
    assert 3 not in got  # single-token doc has no bigrams


# round-5 addition: keyless time-band join

def test_band_join_boundaries_and_no_dups(spark):
    from databricks_pdf_ocr_spark.operators.asof import band_join
    left = spark.createDataFrame([(1, 100)], "a_id long, t long")
    right = spark.createDataFrame(
        [(10, 100),   # dt=0   -> excluded (strict lower bound)
         (11, 101),   # dt=1   -> included
         (12, 150),   # dt=50  -> included, crosses bin boundary (band=50)
         (13, 151),   # dt=51  -> excluded
         (14, 99)],   # dt=-1  -> excluded
        "b_id long, t long")
    got = sorted((r["a_id"], r["b_id"], r["dt_us"]) for r in band_join(
        left, right, "t", "t", band_us=50,
        left_cols=["a_id"], right_cols=["b_id"]).collect())
    assert got == [(1, 11, 1), (1, 12, 50)]


def test_band_join_plan_is_equi_not_nested_loop(spark):
    from databricks_pdf_ocr_spark.operators.asof import band_join
    left = spark.createDataFrame([(i, i * 7) for i in range(50)],
                                 "a_id long, t long")
    right = spark.createDataFrame([(i, i * 11) for i in range(50)],
                                  "b_id long, t long")
    out = band_join(left, right, "t", "t", 100,
                    left_cols=["a_id"], right_cols=["b_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# round-5 addition: one-pass table profiler

def test_profile_table_planted(spark):
    from databricks_pdf_ocr_spark.operators.profile import profile_table
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (3, 5.0, None), (3, 7.5, "b")],
        "k long, v double, s string")
    rows = {r["col_name"]: r for r in profile_table(
        spark, df, [("k", "num"), ("v", "num"), ("s", "str")]).collect()}
    k, v, s = rows["k"], rows["v"], rows["s"]
    assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (4, 0, 3)
    assert (k["min_num"], k["max_num"]) == (1.0, 3.0)
    assert (v["n_null"], v["n_distinct"], v["min_num"], v["max_num"]) == \
        (1, 2, 5.0, 7.5)
    assert (s["n_null"], s["n_distinct"], s["min_str"], s["max_str"]) == \
        (1, 2, "a", "b")
    assert s["min_num"] is None and k["min_str"] is None


# round-5 addition: cross-split leakage gate

def test_split_leakage_flags_only_cross_split_pairs(spark):
    from databricks_pdf_ocr_spark.queries import QUERIES
    # replicate the sha2 split gate to pick ids deterministically
    def bucket(i):
        return int(hashlib.sha256(str(i).encode()).hexdigest()[:8], 16) % 100
    train = [i for i in range(200) if bucket(i) < 90]
    test = [i for i in range(200) if bucket(i) >= 95]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = ([(train[0], base), (test[0], base)]          # cross-split dup
            + [(train[1], base + " mu"), (train[2], base + " mu")]  # same-split dup
            + [(train[3], "totally different words here nothing shared at all")])
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(os.path.join(d, "documents.parquet"))
        got = sorted((r["doc_a"], r["doc_b"], r["split_a"], r["split_b"])
                     for r in QUERIES["split_leakage"]["fn"](spark, d)
                     .collect())
    # base, base+mu x2 are MUTUAL near-dups (Jaccard 8/9): every
    # train-side copy pairs with the test-side copy; same-split pairs
    # (train[0..2] among themselves) are filtered out.
    exp = sorted((min(t, test[0]), max(t, test[0]),
                  "train" if t < test[0] else "test",
                  "test" if t < test[0] else "train")
                 for t in (train[0], train[1], train[2]))
    assert got == exp


# round-5 addition: text normalization

def test_normalize_text_planted(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! (café #1) "), (2, "already clean")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.normalize_text(df).collect()}
    assert got[1]["text_norm"] == "hello world café 1"
    assert got[1]["changed"] == 1
    assert got[1]["n_chars_norm"] == len("hello world café 1")
    assert got[2]["text_norm"] == "already clean"
    assert got[2]["changed"] == 0


# round-5 addition: FK integrity + two-phase rollup

def test_fk_integrity_detects_planted_orphans(spark, tmp_path):
    import os
    from databricks_pdf_ocr_spark.queries import QUERIES
    d = str(tmp_path)
    spark.createDataFrame([(1, 100.0, "O"), (2, 50.0, "F")],
                          "o_orderkey long, o_totalprice double, "
                          "o_orderstatus string") \
        .withColumn("o_custkey", F.col("o_orderkey") * 10) \
        .write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame([(1,), (1,), (3,)], "l_orderkey long") \
        .write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame([(10,)], "c_custkey long") \
        .write.parquet(os.path.join(d, "customer.parquet"))
    got = {r["relationship"]: r for r in
           QUERIES["fk_integrity"]["fn"](spark, d).collect()}
    assert (got["lineitem->orders"]["n_child"],
            got["lineitem->orders"]["n_orphans"]) == (3, 1)
    assert (got["orders->customer"]["n_child"],
            got["orders->customer"]["n_orphans"]) == (2, 1)


# round-5 addition: sliding-window chunking

def test_chunk_overlap_planted(spark, tmp_path):
    import os
    from databricks_pdf_ocr_spark.queries import QUERIES
    d = str(tmp_path)
    text = " ".join(f"w{i}" for i in range(40))   # 40 tokens
    spark.createDataFrame([(1, text), (2, "a b")],
                          "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = sorted((r["doc_id"], r["chunk_idx"], r["n_tokens"],
                  r["chunk_text"].split(" ")[0])
                 for r in QUERIES["chunk_overlap"]["fn"](spark, d).collect())
    # doc 1: starts 1, 25 -> chunks of 32 and 16 tokens; 8-token overlap
    assert got == [(1, 0, 32, "w0"), (1, 1, 16, "w24"), (2, 0, 2, "a")]


# round-5 addition: robust outlier flagging

def test_value_outliers_planted(spark, tmp_path):
    import os
    from databricks_pdf_ocr_spark.queries import QUERIES
    d = str(tmp_path)
    # type A: tight cluster around 10 plus one wild point
    rows = [(i, "A", 10.0 + (i % 5) * 0.1) for i in range(20)]
    rows.append((99, "A", 1000.0))
    # type B: constant values -> mad == 0 -> type excluded entirely
    rows += [(200 + i, "B", 7.0) for i in range(5)]
    spark.createDataFrame(rows, "event_id long, event_type string, "
                                "value double") \
        .write.parquet(os.path.join(d, "events.parquet"))
    got = QUERIES["value_outliers"]["fn"](spark, d).collect()
    assert [(r["event_id"], r["event_type"]) for r in got] == [(99, "A")]
    assert got[0]["rz_e3"] >= 3000


# ---------------------------------------------------------------------------
# weighted sampling (Efraimidis–Spirakis top-k)
# ---------------------------------------------------------------------------

def _es_reference(rows, k, seed=42):
    """Sequential E-S with the identical sha-derived uniforms."""
    import hashlib
    import math
    scored = []
    for rid, w in rows:
        if w is None or w <= 0:
            continue
        h = hashlib.sha256(f"{rid}:{seed}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 1.0) / 4294967296.0
        scored.append((math.log(u) / w, rid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [rid for _, rid in scored[:k]]


def test_sample_weighted_matches_sequential_reference(spark):
    from databricks_pdf_ocr_spark.operators.text_analysis import (
        sample_weighted)
    rows = [(i, (i % 7) + 1) for i in range(500)] + [(900, 0), (901, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, w int")
    got = [r.doc_id for r in
           sample_weighted(df, "w", k=40).collect()]
    assert sorted(got) == sorted(_es_reference(rows, 40))
    # zero/null weights never sampled
    assert 900 not in got and 901 not in got


def test_sample_weighted_is_deterministic_and_weighted(spark):
    from databricks_pdf_ocr_spark.operators.text_analysis import (
        sample_weighted)
    # 100 heavy (w=10) + 400 light (w=1): heavy should be strongly
    # overrepresented vs its 20% population share
    rows = [(i, 10) for i in range(100)] + [(i, 1) for i in range(100, 500)]
    df = spark.createDataFrame(rows, "doc_id bigint, w int")
    a = sorted(r.doc_id for r in sample_weighted(df, "w", k=50).collect())
    b = sorted(r.doc_id for r in sample_weighted(df, "w", k=50).collect())
    assert a == b
    heavy = sum(1 for d in a if d < 100)
    assert heavy > 25, f"heavy class got {heavy}/50 — weighting broken"
    # k > population: every positive-weight row returned
    assert sample_weighted(df, "w", k=9999).count() == 500

def test_sample_weighted_per_group_quota_and_reference(spark):
    from databricks_pdf_ocr_spark.operators.text_analysis import (
        sample_weighted_per_group)
    # 3 groups x 60 rows, varied weights; group quota k=5 each
    rows = [(g * 100 + i, f"g{g}", (i % 9) + 1)
            for g in range(3) for i in range(60)]
    rows += [(999, "g0", 0), (998, "g1", None)]   # never sampled
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, w int")
    got = sample_weighted_per_group(df, "lang", "w", k=5).collect()
    by_group = {}
    for r in got:
        by_group.setdefault(r.lang, []).append(r.doc_id)
    assert {g: len(v) for g, v in by_group.items()} == \
        {"g0": 5, "g1": 5, "g2": 5}
    assert 999 not in by_group["g0"] and 998 not in by_group["g1"]
    # per-group selection == sequential E-S run on that group alone
    for g in range(3):
        grp = [(rid, w) for rid, lang, w in rows if lang == f"g{g}"]
        assert sorted(by_group[f"g{g}"]) == sorted(_es_reference(grp, 5))


def test_sample_weighted_per_group_matches_global_on_one_group(spark):
    """Same hash keys => the per-group variant restricted to a single
    group must select exactly what the global sampler selects."""
    from databricks_pdf_ocr_spark.operators.text_analysis import (
        sample_weighted, sample_weighted_per_group)
    rows = [(i, "only", (i % 4) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, w int")
    a = sorted(r.doc_id for r in sample_weighted(df, "w", k=25).collect())
    b = sorted(r.doc_id for r in
               sample_weighted_per_group(df, "lang", "w", k=25).collect())
    assert a == b


# ---------------------------------------------------------------------------
# time-series downsample with gap fill
# ---------------------------------------------------------------------------

def test_timeseries_gapfill_dense_grid_and_zero_rows(spark):
    import datetime as dt
    from databricks_pdf_ocr_spark.operators.timeseries import (
        downsample_gapfill)
    base = dt.datetime(2024, 3, 1, 0, 30)
    # type A: events in hours 0, 1, 3 (hour 2 is a gap)
    rows = [(1, base, 10, "A", 1.5, "{}"),
            (2, base + dt.timedelta(hours=1), 10, "A", 2.25, "{}"),
            (3, base + dt.timedelta(hours=1, minutes=20), 11, "A", 1.0, "{}"),
            (4, base + dt.timedelta(hours=3), 12, "A", 4.0, "{}"),
            # type B: only hour 1 -> B must gap-fill hours 0, 2, 3
            (5, base + dt.timedelta(hours=1), 13, "B", 7.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    got = {(r.event_type, r.hr): (r.n_events, r.sum_value)
           for r in downsample_gapfill(df).collect()}
    h0 = int(dt.datetime(2024, 3, 1).timestamp() -
             dt.datetime(1970, 1, 1).timestamp()) // 3600
    # dense grid: 2 types x 4 hours, every cell present
    assert len(got) == 8
    assert got[("A", h0)] == (1, 1.5)
    assert got[("A", h0 + 1)] == (2, 3.25)
    assert got[("A", h0 + 2)] == (0, 0.0)       # the gap is an explicit zero
    assert got[("A", h0 + 3)] == (1, 4.0)
    assert got[("B", h0)] == (0, 0.0)
    assert got[("B", h0 + 1)] == (1, 7.0)
    assert got[("B", h0 + 2)] == (0, 0.0)
    assert got[("B", h0 + 3)] == (0, 0.0)

def test_timeseries_moving_window_rolls_over_gaps(spark):
    import datetime as dt
    from databricks_pdf_ocr_spark.operators.timeseries import moving_window
    base = dt.datetime(2024, 3, 1, 0, 15)
    # A: sums per hour = [2.0, 0, 0, 0, 3.0, 1.0] (hours 1-3 are gaps)
    rows = [(1, base, 1, "A", 2.0, "{}"),
            (2, base + dt.timedelta(hours=4), 1, "A", 3.0, "{}"),
            (3, base + dt.timedelta(hours=5), 1, "A", 1.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    got = {r.hr: r.win_sum_e2 for r in moving_window(df).collect()}
    h0 = min(got)
    # trailing 4h sums x100: [200, 200, 200, 200, 300, 400]
    assert [got[h0 + i] for i in range(6)] == [200, 200, 200, 200, 300, 400]


def test_tfidf_topterms_hand_computed(spark):
    import math
    from databricks_pdf_ocr_spark.operators.text_search import tfidf_topterms
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c d")],
        "doc_id long, text string")
    got = {}
    for r in tfidf_topterms(df).collect():
        got.setdefault(r.doc_id, []).append((r.word, r.tfidf_e6))
    def e6(tf, df_):
        return math.floor(tf * math.log(4.0 / (df_ + 1)) * 1e6)
    # doc1: b=1*ln(2) beats a=2*ln(4/3)
    assert sorted(got[1]) == sorted([("b", e6(1, 1)), ("a", e6(2, 2))])
    # doc2: both terms idf ln(4/3); tie broken by word => a, c (top-3
    # keeps both)
    assert sorted(got[2]) == sorted([("a", e6(1, 2)), ("c", e6(1, 2))])
    # doc3: c=3*ln(4/3) vs d=1*ln(2) -> c first; top-3 keeps both
    assert sorted(got[3]) == sorted([("c", e6(3, 2)), ("d", e6(1, 1))])


def test_tfidf_topterms_k_cut_is_deterministic(spark):
    from databricks_pdf_ocr_spark.operators.text_search import tfidf_topterms
    # 5 words with identical tf-idf: the top-3 cut must take a, b, c (word asc)
    df = spark.createDataFrame([(1, "a b c d e"), (2, "z")],
                               "doc_id long, text string")
    words = sorted(r.word for r in
                   tfidf_topterms(df).where("doc_id = 1").collect())
    assert words == ["a", "b", "c"]

# ---------------------------------------------------------------------------
# skew diagnostics + daily growth rollup (planted)
# ---------------------------------------------------------------------------

def _write_events(spark, d, rows):
    import os
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string") \
        .write.parquet(os.path.join(d, "events.parquet"))


def test_key_skew_stats_planted(spark, tmp_path):
    import datetime as dt
    from databricks_pdf_ocr_spark.queries import QUERIES
    base = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # user 7 is hot: 12 events; users 1-6 get 2 each -> total 24, 7 keys
    for _ in range(12):
        rows.append((eid, base, 7, "A", 1.0, "{}")); eid += 1
    for u in range(1, 7):
        for _ in range(2):
            rows.append((eid, base, u, "A", 1.0, "{}")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["key_skew_stats"]["fn"](spark, str(tmp_path)).collect()
    assert (got[0].user_id, got[0].cnt) == (7, 12)
    # hot key carries 12/24 of rows across 7 keys -> 3.5x the mean
    assert got[0].ratio_e3 == 3500
    assert all(r.ratio_e3 == 583 for r in got[1:])  # floor(2*7000/24)


def test_user_growth_daily_planted(spark, tmp_path):
    import datetime as dt
    from databricks_pdf_ocr_spark.queries import QUERIES
    d0 = dt.datetime(2024, 6, 1, 5)
    rows = [
        (1, d0, 10, "A", 1.0, "{}"),                          # u10 new day0
        (2, d0, 11, "A", 1.0, "{}"),                          # u11 new day0
        (3, d0 + dt.timedelta(days=1), 10, "A", 1.0, "{}"),   # u10 returns
        (4, d0 + dt.timedelta(days=2), 12, "A", 1.0, "{}"),   # u12 new day2
        (5, d0 + dt.timedelta(days=2), 10, "A", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    got = sorted(QUERIES["user_growth_daily"]["fn"](
        spark, str(tmp_path)).collect(), key=lambda r: r.day)
    day0 = got[0].day
    assert [(r.day - day0, r.n_events, r.new_users, r.cum_users)
            for r in got] == [(0, 2, 2, 2), (1, 1, 0, 2), (2, 2, 1, 3)]


# ---------------------------------------------------------------------------
# zlib compressibility quality signal
# ---------------------------------------------------------------------------

def test_compression_signal_exact_and_ordered(spark):
    import zlib
    from databricks_pdf_ocr_spark.operators.text_analysis import (
        compression_signal)
    boiler = "spam ham " * 200                 # highly compressible
    import hashlib
    noise = "".join(hashlib.sha256(str(i).encode()).hexdigest()
                    for i in range(30))        # high entropy, incompressible
    df = spark.createDataFrame(
        [(1, boiler), (2, noise), (3, "")], "doc_id long, text string")
    rows = {r.doc_id: r for r in compression_signal(df).collect()}
    assert 3 not in rows                        # empty text excluded
    for did, text in ((1, boiler), (2, noise)):
        raw = text.encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        assert (rows[did].n_bytes, rows[did].comp_bytes) == (len(raw), comp)
        assert rows[did].ratio_e6 == comp * 1000000 // len(raw)
    # boilerplate compresses far better than noise
    assert rows[1].ratio_e6 < rows[2].ratio_e6 // 5


def test_compression_golden_is_fresh():
    import pyarrow.parquet as pq
    from tools.make_golden_parquet import (
        COMP_GOLDEN_PATH, compression_golden_table)
    assert pq.read_table(COMP_GOLDEN_PATH).equals(compression_golden_table())


def test_dedup_canonical_best_keeps_longest(spark, tmp_path):
    import os
    from databricks_pdf_ocr_spark.queries import QUERIES
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    rows = [
        (1, base + "tail one", "en", "w", len(base) + 8),
        (2, base + "tail one two", "en", "w", len(base) + 12),   # longest
        (3, base, "en", "w", len(base)),
        (9, "completely different text " * 10, "en", "w", 260),  # no cluster
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint") \
        .write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = QUERIES["dedup_canonical_best"]["fn"](spark, str(tmp_path)).collect()
    assert len(got) == 1                      # one cluster, doc 9 untouched
    r = got[0]
    assert (r.component_id, r.kept_doc_id, r.n_members) == (1, 2, 3)


def test_gopher_rules_planted(spark):
    good = "the data and that of sets have gone with " * 9   # 90 words, stops
    bully = "\n".join(["- item one here now", "- item two here now",
                       "plain line here now"])
    elly = "\n".join(["tail one goes on...", "tail two goes on...",
                      "plain line stays here"])
    symb = " ".join(["###"] * 10)
    df = spark.createDataFrame(
        [(1, good.strip()), (2, "tiny doc"), (3, bully), (4, elly), (5, symb)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            T.gopher_rules(df).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 81 and r1["passes"] == 1
    assert r1["n_stop"] == 9 * 6        # the/and/that/of/have/with per rep
    assert rows[2]["passes"] == 0               # word count < 50
    # bullet lines: 2 of 3 -> 666666 e6 (< 900000 so this rule alone passes)
    assert rows[3]["bullet_frac_e6"] == 2 * 1000000 // 3
    # ellipsis-ended lines: 2 of 3 -> 666666 e6, over the 30% bar
    r4 = rows[4]
    assert r4["ellipsis_frac_e6"] == 2 * 1000000 // 3 and r4["passes"] == 0
    # symbols: '###' = 3 hashes per word -> ratio 3.0 >> 0.1; also no letters
    r5 = rows[5]
    assert r5["symbol_ratio_e6"] == 3_000_000
    assert r5["alpha_frac_e6"] == 0 and r5["passes"] == 0


def test_badwords_gate_planted(spark):
    df = spark.createDataFrame(
        [(1, "clean words only here"),               # 0/4
         (2, "slow merge dup scan error batch"),     # 3/6 = 50%
         (3, "slower dupes errors stay clean"),      # substrings don't trip
         (4, " ".join(["fine"] * 99 + ["slow"]))],   # 1/100 = 1% <= 4%
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in T.badwords_gate(df).collect()}
    assert (rows[1]["n_bad"], rows[1]["kept"]) == (0, 1)
    assert (rows[2]["n_bad"], rows[2]["bad_rate_e6"], rows[2]["kept"]) == \
        (3, 500000, 0)
    assert (rows[3]["n_bad"], rows[3]["kept"]) == (0, 1)
    assert (rows[4]["n_bad"], rows[4]["bad_rate_e6"], rows[4]["kept"]) == \
        (1, 10000, 1)
