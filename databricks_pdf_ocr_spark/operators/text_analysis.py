"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All pure column expressions (``pyspark.sql.functions`` — JVM codegen, zero
Python in the hot path), each with an exact DuckDB-SQL twin for oracle
checking.  These are the corpus-curation stages a 100 TB training-data
pipeline runs between extraction and dedup.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..worker import drop_zip_importers
from .dedup import shingles_of, tokens_col

# n-gram-heuristic language ID: marker-token hit counts per language.
# Deterministic argmax with lexicographic tie-break on the language code.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "a", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "que", "y", "es"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "he2"),
}

_STOPWORDS = ("the", "a", "and", "of", "to", "is", "in", "it", "that", "for")


def _in_set(values: tuple[str, ...]):
    # single-arg lambda factory (two-parameter lambdas get the element index)
    return lambda t: t.isin(*values)


def lang_scores(toks: Column) -> list[Column]:
    # ``toks`` is a MATERIALIZED attribute: an inline split(lower(text))
    # here is re-evaluated once per marker filter (codegen subexpression
    # elimination does not cover the HOF-fallback filter expressions —
    # measured 28% of the fused feature pass)
    return [
        F.size(F.filter(toks, _in_set(markers)))
        .cast("long").alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]


def language_id(df: DataFrame) -> DataFrame:
    """(id, predicted_lang, best_score): argmax marker hits, ties → lex-min lang."""
    staged = df.select(F.col("doc_id"), tokens_col().alias("__tk"))
    scored = staged.select(F.col("doc_id"),
                           *lang_scores(F.col("__tk")))
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{la}") for la in langs])
    pred = None
    for la in reversed(langs):  # reversed so earlier langs win ties
        cond = F.when(F.col(f"score_{la}") == best, F.lit(la))
        pred = cond.otherwise(pred) if pred is not None else cond
    return scored.select(
        F.col("doc_id"),
        pred.alias("predicted_lang"),
        best.cast("long").alias("best_score"),
    )


def quality_features(df: DataFrame) -> DataFrame:
    """Per-doc quality features + a composite score in [0, 1].

    Features follow the classic curation heuristics: length, mean word
    length, punctuation density, stopword ratio.  The composite is a
    deterministic arithmetic blend — portable to SQL for the oracle.
    """
    # token array materialized as an attribute: the stopword filter and
    # token count each referenced an inline split(lower(text)) that
    # codegen CSE does not deduplicate through the HOF fallback
    staged = df.select(F.col("doc_id"), F.col("text"),
                       tokens_col().alias("__tk"))
    toks = F.col("__tk")
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(F.col("text")).cast("long")
    avg_word_len = F.round((n_chars - (n_tokens - 1)) / n_tokens, 6)
    punct = F.size(F.split(F.col("text"), r"[.,;:!?]")) - 1
    punct_ratio = F.round(punct / n_chars, 6)
    stop_ratio = F.round(
        F.size(F.filter(toks, _in_set(_STOPWORDS))) / n_tokens, 6)
    # composite emitted as floor-scaled micro-units: identical IEEE-double
    # expression trees are bit-deterministic across engines, while decimal
    # round() implementations differ in the last digit
    raw_score = (
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.4
        + F.least((F.size(F.filter(toks, _in_set(_STOPWORDS))) / n_tokens) * 5,
                  F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least((punct / n_chars) * 20, F.lit(1.0))) * 0.3)
    score_e6 = F.floor(raw_score * 1e6 + F.lit(0.5)).cast("long")
    return staged.select(
        F.col("doc_id"), n_tokens.alias("n_tokens"), n_chars.alias("n_chars"),
        avg_word_len.alias("avg_word_len"), punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"), score_e6.alias("quality_score_e6"))


#: BPE-ish pre-tokenizer: letter runs | single digits | single punctuation
BPE_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per doc."""
    ws = F.size(F.split(F.col("text"), " ")).cast("long")
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)")) \
        .cast("long")
    return df.select(F.col("doc_id"), ws.alias("ws_tokens"),
                     bpe.alias("bpe_tokens"))


def hash_sample(df: DataFrame, fraction_pct: dict[str, int],
                strata_col: str = "lang",
                default_pct: int = 0) -> DataFrame:
    """Deterministic stratified sampling: keep a row when
    ``sha2(id) mod 100 < pct[stratum]``.

    Unlike ``sampleBy`` (engine-RNG dependent), the hash gate is
    reproducible across engines, runs, and cluster sizes — the property a
    training-data pipeline needs so re-running curation yields the same
    corpus.  Cost: a projection filter, no shuffle.  ``default_pct``
    applies to strata absent from ``fraction_pct`` — callers never need to
    enumerate the stratum values (no distinct-collect over the corpus).
    """
    bucket = F.expr(
        f"cast(conv(substr(sha2(cast(doc_id as string), 256), 1, 8), 16, 10) "
        f"as bigint) % 100")
    pct = None
    for stratum, p in sorted(fraction_pct.items()):
        pct = (F.when(F.col(strata_col) == stratum, F.lit(p)) if pct is None
               else pct.when(F.col(strata_col) == stratum, F.lit(p)))
    pct = (pct.otherwise(F.lit(default_pct)) if pct is not None
           else F.lit(default_pct))
    return df.filter(bucket < pct)


def sample_weighted(df: DataFrame, weight_col: str, k: int) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement, top-k shape
    (Efraimidis–Spirakis): each row draws a deterministic uniform
    u ∈ (0, 1] from ``sha2(id:42)`` and is ranked by ``ln(u)/w``;
    the k best rows are a weighted sample (inclusion ∝ weight, exactly
    the sequential algorithm's distribution).

    Deterministic + idempotent like ``hash_sample``: reruns, engines,
    and cluster sizes cannot change the selection — ``rand()`` or
    driver reservoirs are neither.  Cost: one narrow projection + a
    TakeOrdered (per-partition partial top-k, merge on the driver —
    never a global sort shuffle).  Rows with w ≤ 0 or null are excluded
    (zero weight = never sampled); ties broken by id.

    The composition target is DSIR/quality scores: ``dsir_logweights``
    or the learned-gate margin as ``weight_col`` turns a scored corpus
    into a fixed-size training subset drawn ∝ importance.
    """
    return (df.filter(F.col(weight_col) > 0)
            .withColumn("__es", _es_score(weight_col))
            .orderBy(F.col("__es").desc(), F.col("doc_id"))
            .limit(k)
            .drop("__es"))


def _es_score(weight_col: str):
    """The Efraimidis–Spirakis key ``ln(u)/w`` with a deterministic
    hash-derived uniform u ∈ (0, 1] — shared by the global and
    per-group samplers so both select identically for the same rows."""
    u = (F.expr(
        f"cast(conv(substr(sha2(concat(cast(doc_id as string), "
        f"':42'), 256), 1, 8), 16, 10) as bigint)")
        .cast("double") + F.lit(1.0)) / F.lit(4294967296.0)
    return F.log(u) / F.col(weight_col)


def sample_weighted_per_group(df: DataFrame, group_col: str,
                              weight_col: str, k: int) -> DataFrame:
    """``sample_weighted`` stratified: an exact weighted sample of k
    rows WITHIN each group (per-language / per-source quota draws —
    the mixture-rebalance shape where each stratum's subset must
    itself be ∝-weight).

    One window over (group, score): rank inside each hash-partitioned
    group and keep the k best keys.  No global sort, no driver merge —
    groups rank in parallel, so this is the variant that scales when
    k × n_groups is too big for the global sampler's TakeOrdered."""
    w = Window.partitionBy(group_col).orderBy(
        F.col("__es").desc(), F.col("doc_id"))
    return (df.filter(F.col(weight_col) > 0)
            .withColumn("__es", _es_score(weight_col))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__es", "__rn"))


def with_features(df: DataFrame) -> DataFrame:
    """All text-analysis features in ONE narrow pass — language ID, quality
    features, token counts appended to the input columns.

    The fused form of ``language_id`` + ``quality_features`` +
    ``token_counts`` for pipelines that need several features per doc:
    three derive-then-self-join round-trips would shuffle the corpus text
    three times at 100 TB, while every feature here is a pure column
    expression over ``text`` — zero joins, zero shuffles (the two chained
    ``select``s below collapse into the same narrow stage).
    """
    # token array materialized ONCE in its own projection: the five
    # language filters, the stopword filter and the token count each
    # referenced an inline split(lower(text)) otherwise — re-evaluated
    # per reference because codegen CSE does not reach into HOF-fallback
    # expressions (measured: 3.8 s → 2.8 s for this pass at the 10x
    # bench shape).  A second materialized projection (__mk) pre-filters
    # the tokens to the UNION of every marker/stopword set in ONE pass:
    # the 35-value isin crosses the InSet threshold (hash-set lookup per
    # token), and the six per-set HOF filters then traverse only the
    # surviving tokens instead of the full array six times.  Each final
    # set is a subset of the union, so filter∘filter ≡ filter — counts
    # identical (measured: lang+stopword filters 0.77 s → ~0.3 s over
    # 20k bench docs).
    all_markers = tuple(sorted(
        {m for ms in LANG_MARKERS.values() for m in ms} | set(_STOPWORDS)))
    base = df.select("*", tokens_col().alias("__tk"))
    base = base.select("*", F.filter(F.col("__tk"),
                                     _in_set(all_markers)).alias("__mk"))
    toks = F.col("__tk")
    marked = F.col("__mk")
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(F.col("text")).cast("long")
    punct = F.size(F.split(F.col("text"), r"[.,;:!?]")) - 1
    n_stop = F.size(F.filter(marked, _in_set(_STOPWORDS))).cast("long")
    ws = F.size(F.split(F.col("text"), " ")).cast("long")
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)")) \
        .cast("long")
    staged = base.select(
        *df.columns, *lang_scores(marked),
        n_tokens.alias("n_tokens"), n_chars.alias("n_chars"),
        punct.alias("__punct"), n_stop.alias("__n_stop"),
        ws.alias("ws_tokens"), bpe.alias("bpe_tokens"))

    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{la}") for la in langs])
    pred = None
    for la in reversed(langs):  # reversed so earlier langs win ties
        cond = F.when(F.col(f"score_{la}") == best, F.lit(la))
        pred = cond.otherwise(pred) if pred is not None else cond
    nt, nc = F.col("n_tokens"), F.col("n_chars")
    pu, st = F.col("__punct"), F.col("__n_stop")
    raw_score = (
        F.least(nt / F.lit(200.0), F.lit(1.0)) * 0.4
        + F.least((st / nt) * 5, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least((pu / nc) * 20, F.lit(1.0))) * 0.3)
    return (staged.select(
        *df.columns, "n_tokens", "n_chars", "ws_tokens", "bpe_tokens",
        pred.alias("predicted_lang"),
        best.cast("long").alias("best_score"),
        F.round((nc - (nt - 1)) / nt, 6).alias("avg_word_len"),
        F.round(pu / nc, 6).alias("punct_ratio"),
        F.round(st / nt, 6).alias("stopword_ratio"),
        F.floor(raw_score * 1e6 + F.lit(0.5)).cast("long")
        .alias("quality_score_e6")))


def fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: the 4 lexicographically
    smallest sha2 digests over word 5-gram shingles, concatenated.

    Robust to small edits (only windows overlapping the edit change) —
    the rolling-hash fingerprint used for fuzzy containment detection.
    """
    # tokens materialized in their own projection: the shingle lambda must
    # slice an attribute, not re-evaluate split(lower(text)) per element
    # (O(tokens²·len) otherwise — see dedup.shingles_of)
    staged = df.select(F.col("doc_id"),
                       tokens_col().alias("__toks"))
    hashes = F.transform(shingles_of(F.col("__toks"), 5),
                         lambda s: F.sha2(s, 256))
    fp = F.concat_ws("", F.slice(F.array_sort(hashes), 1, 4))
    return staged.select(F.col("doc_id"), fp.alias("fingerprint"))


def repetition_features(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document: word bigram
    counts, distinct counts, the most-frequent n-gram's occurrence count,
    and the duplicated-n-gram fraction (1 - distinct/total).

    Boilerplate, templated spam, and decode loops all show up as a high
    duplicate-n-gram fraction — the standard pretraining quality gate the
    length/punct/stopword features cannot see (Rae et al., Gopher §A1.1).

    Plan shape: ONE narrow projection — the shingle array is sorted
    per-doc and the top count is the longest equal-run in the sorted
    array, computed with a linear ``aggregate`` scan (struct state:
    previous shingle, current run, best run).  No explode, no per-doc
    groupBy shuffle: at 100 TB this runs in the same scan as the other
    quality features.  All outputs are integers (exactly oracle-able;
    the e6 fraction is floor-scaled — decimal round() differs across
    engines in the last ulp).
    """
    staged = df.select(F.col("doc_id"), tokens_col().alias("__toks"))
    staged = staged.select(
        F.col("doc_id"),
        F.array_sort(shingles_of(F.col("__toks"), 2)).alias("__sh"))
    n_ngrams = F.size("__sh").cast("long")
    n_distinct = F.size(F.array_distinct("__sh")).cast("long")
    init = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))

    def step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc.best, run).alias("best"))

    top_count = F.aggregate(F.col("__sh"), init, step, lambda acc: acc.best)
    dup_frac_e6 = F.floor(
        (n_ngrams - n_distinct) * F.lit(1000000.0) / n_ngrams).cast("long")
    return (staged
            .select(F.col("doc_id"), n_ngrams.alias("n_ngrams"),
                    n_distinct.alias("n_distinct"),
                    top_count.alias("top_ngram_count"),
                    dup_frac_e6.alias("dup_ngram_frac_e6"))
            .filter(F.col("n_ngrams") > 0))


def contamination_pairs(df: DataFrame) -> DataFrame:
    """Train/test decontamination: n-gram overlap between the training
    corpus and a benchmark/eval subset (here the deterministic
    ``sha2(id) mod 20 == 0`` slice — in production the eval side is
    the actual benchmark suite).

    Emits one row per (corpus doc, eval doc) sharing ≥ 2 distinct word
    3-grams, with the contamination fraction
    ``n_common / |eval doc's shingle set|`` floor-scaled to e6 — the
    gate pretraining pipelines apply before held-out evaluation is
    trustworthy (e.g. GPT-3 App. C / PaLM-style 13-gram overlap checks;
    3-grams suit the small synthetic docs).

    Scale shape: the benchmark side is tiny by construction → its
    distinct-shingle table and per-doc sizes are BROADCAST; the corpus
    side is one narrow shingle explode feeding a broadcast-hash-join —
    the 100 TB corpus is never shuffled, and the per-pair aggregate keys
    on (corpus doc, eval doc) which the broadcast join leaves
    co-partitioned with the corpus scan.
    """
    staged = df.select(F.col("doc_id"), tokens_col().alias("__toks"))
    bucket = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8),
               16, 10).cast("long") % 20)
    shingles = staged.select(
        F.col("doc_id"), bucket.alias("__b"),
        F.explode(F.array_distinct(shingles_of(F.col("__toks"), 3)))
        .alias("shingle"))
    evals = (shingles.filter(F.col("__b") == 0)
             .select(F.col("doc_id").alias("eval_id"), "shingle"))
    eval_sizes = evals.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_eval_sh"))
    corpus = (shingles.filter(F.col("__b") != 0)
              .select(F.col("doc_id"), "shingle"))
    overlap = (corpus.join(F.broadcast(evals), "shingle")
               .groupBy("doc_id", "eval_id")
               .agg(F.count("*").cast("long").alias("n_common"))
               .filter(F.col("n_common") >= 2))
    return (overlap.join(F.broadcast(eval_sizes), "eval_id")
            .select(F.col("doc_id"), F.col("eval_id"), F.col("n_common"),
                    F.floor(F.col("n_common") * F.lit(1000000.0)
                            / F.col("n_eval_sh")).cast("long")
                    .alias("contam_e6")))


def pack_plan(df: DataFrame) -> DataFrame:
    """Sequence-packing plan (concat-and-chop, the standard pretraining
    layout): documents are concatenated in deterministic (shard, id)
    order and chopped into fixed 2048-token sequences; a doc may
    span sequences.  Emits per doc: shard, token count, the first/last
    sequence it lands in, and its start offset inside the first.

    Scale shape: packing is per-SHARD (``pmod(id, 32)``) so the
    window sort is 32 independent local sorts after one hash
    shuffle — never a global sort; each shard's plan is a running-sum
    window, all integer math (exactly oracle-able).  Real pipelines
    write one packed file per shard from exactly this plan."""
    seq_len = 2048
    ws = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    shard = F.pmod(F.col("doc_id").cast("long"), F.lit(32)).cast("int")
    staged = (df.select(F.col("doc_id"), ws.alias("n_tokens"))
              .filter(F.col("n_tokens") > 0)
              .withColumn("shard", shard))
    cum_end = F.sum("n_tokens").over(w)
    return (staged
            .withColumn("cum_end", cum_end)
            .select(
                "doc_id", "shard", "n_tokens",
                F.floor((F.col("cum_end") - F.col("n_tokens"))
                        / seq_len).cast("long").alias("first_seq"),
                F.floor((F.col("cum_end") - 1) / seq_len).cast("long")
                .alias("last_seq"),
                ((F.col("cum_end") - F.col("n_tokens"))
                 % seq_len).cast("long").alias("start_in_seq")))


# ---------------------------------------------------------------------------
# unigram-LM quality scoring (the KenLM-perplexity stand-in)
# ---------------------------------------------------------------------------

def unigram_lm_scores(df: DataFrame) -> DataFrame:
    """Per-document mean unigram log-probability under a corpus-fit LM —
    the classic perplexity-style quality gate (CCNet / Gopher filter
    documents whose LM score is an outlier; a unigram LM over the corpus
    itself is the engine-portable, training-free version).

    Two aggregations, both map-side-combinable: (1) the LM build is one
    hash-agg over exploded tokens producing a |vocab|-row table — tiny
    relative to the corpus, so it BROADCASTS back onto the token stream;
    (2) the per-doc mean is a second hash-agg on the doc id.  The corpus
    total rides along as a broadcast single-row cross join — nothing is
    collected to the driver.  Emits (id, n_tokens, avg_logp) with the
    mean rounded to absorb double summation-order differences.
    """
    toks = df.select(F.col("doc_id").alias("id"),
                     F.explode(F.split(F.col("text"), " ")).alias("w"))
    lm = toks.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    tot = lm.agg(F.sum("cnt").cast("long").alias("tot"))
    scored = (toks.join(F.broadcast(lm), "w")
              .crossJoin(F.broadcast(tot))
              .select("id", F.log(F.col("cnt") / F.col("tot")).alias("logp")))
    return (scored.groupBy("id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.avg("logp"), 3).alias("avg_logp"))
            .withColumnRenamed("id", "doc_id"))


# ---------------------------------------------------------------------------
# domain-mixture rebalancing
# ---------------------------------------------------------------------------

def mixture_rebalance(df: DataFrame) -> DataFrame:
    """Resample toward a UNIFORM ``lang`` mixture: each stratum's
    acceptance rate is ``min(1, target/count)`` where target =
    corpus_size / n_strata, applied through the deterministic sha2 hash
    gate (same idempotence property as :func:`hash_sample` — reruns and
    cluster-size changes keep the identical sample).

    Unlike :func:`hash_sample`, the rates come FROM the data: one tiny
    count aggregation (|strata| rows) broadcast-joined back onto the
    corpus — the standard two-phase shape for data-dependent sampling at
    scale.  Rates are e6-scaled floor ints so the gate is integer math;
    the rate expression is a fixed IEEE expression tree (mul before div)
    evaluated identically by any engine.  Emits the surviving rows as
    (id, stratum, rate_e6).
    """
    counts = df.groupBy("lang").agg(F.count("*").cast("long").alias("cnt"))
    tot = counts.agg(F.sum("cnt").cast("long").alias("tot"),
                     F.count("*").cast("long").alias("n_strata"))
    rates = (counts.crossJoin(F.broadcast(tot))
             .select("lang",
                     F.least(
                         F.lit(1000000).cast("long"),
                         F.floor(F.lit(1000000.0) * (F.col("tot") * 1.0
                                                     / F.col("n_strata"))
                                 / F.col("cnt")).cast("long"))
                     .alias("rate_e6")))
    bucket = F.expr(
        f"cast(conv(substr(sha2(cast(doc_id as string), 256), 1, 8), 16, 10) "
        f"as bigint) % 1000000")
    return (df.join(F.broadcast(rates), "lang")
            .filter(bucket < F.col("rate_e6"))
            .select(F.col("doc_id"), F.col("lang"), F.col("rate_e6")))


# ---------------------------------------------------------------------------
# text normalization (corpus canonical form before dedup/tokenization)
# ---------------------------------------------------------------------------

#: keep lowercase latin (incl. the 00C0-024F accented block), digits,
#: spaces; \x{...} escapes are the Java-regex ∩ RE2 ∩ DuckDB spelling
#: (\uXXXX is Java-only).
NORMALIZE_STRIP = "[^a-z0-9\\x{00c0}-\\x{024f} ]"

def normalize_text(df: DataFrame) -> DataFrame:
    """Canonical text form ahead of dedup/tokenization: lowercase,
    punctuation stripped to spaces, whitespace runs collapsed, ends
    trimmed — so near-dup and fingerprint stages see one spelling of
    the same content.  Every step is an engine-portable regex (no
    backrefs/lookaround; Java ∩ RE2 ∩ DuckDB semantics), zero shuffle,
    zero Python.  Unicode NFC/NFKC canonicalization is deliberately NOT
    here: Spark has no built-in normalizer and a per-row Python UDF in
    the hottest full-corpus stage is the wrong trade — a production
    deployment does NFC in the extraction kernel's Arrow batches
    (functions/extract_span.py) where Python already owns the bytes.

    Emits (id, text_norm, n_chars_norm, changed).
    """
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), NORMALIZE_STRIP, " "),
        " +", " ")
    norm = F.regexp_replace(norm, "^ | $", "")
    return df.select(
        F.col("doc_id"),
        norm.alias("text_norm"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != F.col("text")).cast("long").alias("changed"))


# ---------------------------------------------------------------------------
# bigram-LM quality scoring (the interpolated-KenLM stand-in)
# ---------------------------------------------------------------------------

def bigram_lm_scores(df: DataFrame) -> DataFrame:
    """Per-document mean bigram log-probability under a corpus-fit
    Jelinek-Mercer LM: ``p(w2|w1) = 0.9·c(w1,w2)/c(w1·) + 0.1·c(w2)/N``
    — one order up from :func:`unigram_lm_scores`, the direction real
    perplexity gates (CCNet's KenLM) take.

    The bigram stream is built with ZERO joins: the token array is
    materialized once, two aligned slices are zipped and exploded (the
    HOF per-element re-eval trap does not bite — slices reference the
    projected attribute).  Three count tables follow: bigrams (vocab²-
    bounded — plain equi-join, AQE broadcasts it when small and shuffles
    it at open-web scale), contexts and unigrams (vocab-bounded —
    broadcast).  Docs with fewer than two tokens have no bigrams and are
    absent from the output, matching the oracle.  round(3)+0.0 absorbs
    summation order / the −0.0 sign split.
    """
    toked = df.select(F.col("doc_id").alias("id"),
                      F.split(F.col("text"), " ").alias("toks"))
    n = F.size("toks")
    sliced = toked.select(
        "id",
        F.slice("toks", 1, n - 1).alias("w1s"),
        F.slice("toks", 2, n - 1).alias("w2s"))
    big = (sliced.select("id", F.explode(F.arrays_zip("w1s", "w2s"))
                         .alias("bg"))
           .select("id", F.col("bg.w1s").alias("w1"),
                   F.col("bg.w2s").alias("w2")))
    bg_lm = big.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12"))
    # context counts DERIVE from the bigram table (c1 = Σ_w2 c12) — one
    # fewer corpus-wide explode+aggregate pass than grouping the bigram
    # stream a second time; exact integer equality.  (A tempting further
    # step — pre-aggregating per-(doc, bigram) counts and weighting the
    # mean — measured SLOWER: it trades cheap explode passes for an
    # extra full-size (id,w1,w2) exchange with no map-side collapse.)
    ctx = bg_lm.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    uni = (df.select(F.explode(F.split(F.col("text"), " ")).alias("w2"))
           .groupBy("w2").agg(F.count("*").cast("long").alias("c2")))
    tot = uni.agg(F.sum("c2").cast("long").alias("tot"))
    p = (F.lit(0.9) * (F.col("c12") * F.lit(1.0) / F.col("c1"))
         + F.lit(0.1) * (F.col("c2") * F.lit(1.0) / F.col("tot")))
    return (big.join(bg_lm, ["w1", "w2"])
            .join(F.broadcast(ctx), "w1")
            .join(F.broadcast(uni), "w2")
            .crossJoin(F.broadcast(tot))
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 (F.round(F.avg(F.log(p)), 3) + F.lit(0.0))
                 .alias("avg_logp"))
            .withColumnRenamed("id", "doc_id"))


# ---------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# ---------------------------------------------------------------------------

def dsir_logweights(df: DataFrame, target_expr) -> DataFrame:
    """Per-document DSIR log importance weight: how much more likely the
    document is under the TARGET corpus' hashed-unigram distribution
    than under the raw corpus' (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — the published
    hashed-n-gram recipe for choosing pretraining data that looks like a
    curated target).  ``target_expr`` is the boolean membership column
    defining the target slice (a curated-source flag in production; any
    deterministic rule here).

    Scale shape: both feature distributions come from ONE hash-agg over
    the token stream (map-side combinable down to 256 rows — one row
    carries target and raw counts together), broadcast back onto the
    stream with the two totals riding a broadcast 1-row cross join (the
    `unigram_lm_scores` idiom); the per-doc sum is the only corpus-sized
    exchange.  Add-one smoothing keeps every log finite; round(3)
    absorbs double summation order.
    """
    hashed = df.select(
        F.col("doc_id").alias("id"),
        target_expr.cast("int").alias("tgt"),
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).select(
        "id", "tgt",
        (F.conv(F.substring(F.sha2(F.col("w"), 256), 1, 8), 16, 10)
         .cast("long") % 256).cast("int").alias("fidx"))
    dist = hashed.groupBy("fidx").agg(
        F.count("*").cast("long").alias("cnt_all"),
        F.sum("tgt").cast("long").alias("cnt_tgt"))
    tot = dist.agg(F.sum("cnt_all").cast("long").alias("tot_all"),
                   F.sum("cnt_tgt").cast("long").alias("tot_tgt"))
    logr = (F.log((F.col("cnt_tgt") + F.lit(1.0))
                  / (F.col("tot_tgt") + F.lit(256.0)))
            - F.log((F.col("cnt_all") + F.lit(1.0))
                    / (F.col("tot_all") + F.lit(256.0))))
    return (hashed.join(F.broadcast(dist), "fidx")
            .crossJoin(F.broadcast(tot))
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 # + 0.0 folds IEEE -0.0 to +0.0 (engines disagree on the
                 # sign of a rounded -1e-4 sum; bytewise hash parity needs one)
                 (F.round(F.sum(logr), 3) + F.lit(0.0)).alias("logw"))
            .withColumnRenamed("id", "doc_id"))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: engine-portable PII patterns (Java regex AND RE2 — no backrefs, no
#: lookaround): email, international-ish phone, dotted-quad IP
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
)


def pii_redact(df: DataFrame) -> DataFrame:
    """Scrub PII before training: replace emails, dotted-quad IPs and
    phone numbers with typed placeholder tokens, and count what was
    removed per class (the audit columns a compliance review needs).

    Order matters and is fixed: emails first (their local parts contain
    digits a later pattern could chew up), then IPs (dotted digits),
    then phones.  Counts are taken on the ORIGINAL text.  Pure JVM
    column expressions — ``regexp_extract_all`` + chained
    ``regexp_replace`` — zero Python in the hot path, no shuffle at all.
    """
    out = F.col("text")
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
            .cast("long").alias(f"n_{name}"))
        out = F.regexp_replace(out, pat, repl)
    return df.select(F.col("doc_id"), *counts, out.alias("redacted"))


def compression_signal(df: DataFrame) -> DataFrame:
    """zlib level-6 compressibility as a quality signal (the
    Gopher/CCNet-family heuristic): highly compressible text is repetitive boilerplate,
    incompressible text is noise/binary junk — the keep band sits in
    the middle.  Emits ``(id, n_bytes, comp_bytes, ratio_e6)`` with
    ``ratio_e6 = comp_bytes * 1e6 div n_bytes`` (exact integer
    division — engine-portable; zero-byte docs excluded).

    Scale shape: ONE Arrow-vectorized pandas UDF computes the
    compressed length per batch (compression is genuinely Python —
    there is no JVM column expression for it); byte length and the
    ratio stay JVM-side column expressions, so the stage is a narrow
    projection — no shuffle, text bytes never leave their partition.

    Determinism: zlib output for a fixed level is deterministic within
    this container (golden and executors share one CPython/zlib build
    — the committed golden pins exactly that).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def comp_len(texts: pd.Series) -> pd.Series:
        import zlib
        drop_zip_importers()
        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)))

    return (df.filter(F.octet_length("text") > 0)
            .select(F.col("doc_id"),
                    F.octet_length("text").cast("long").alias("n_bytes"),
                    comp_len(F.col("text")).alias("comp_bytes"))
            .withColumn("ratio_e6", F.expr(
                "(comp_bytes * 1000000) div n_bytes")))


#: Gopher's stop-word presence set (Rae et al. 2021, appendix A1.1)
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_counts(df: DataFrame) -> DataFrame:
    """All Gopher rule counts appended as ``__``-prefixed columns.
    The token/line arrays are materialized in their own projections and
    the HOF lambdas reference the attributes (an inlined split()
    re-evaluates PER ELEMENT)."""
    d = (df.withColumn("__toks", F.split(F.lower(F.col("text")), " "))
         .withColumn("__lines", F.split(F.col("text"), "\n")))
    return (d
            .withColumn("__n_words", F.size("__toks").cast("long"))
            .withColumn("__sum_chars", F.aggregate(
                F.transform("__toks", lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"), lambda acc, x: acc + x))
            .withColumn("__n_hash",
                        (F.length("text")
                         - F.length(F.expr(f"replace(text, '#', '')")))
                        .cast("long"))
            .withColumn("__n_ell", F.expr(
                f"CAST((length(text) - "
                f"length(replace(text, '...', ''))) div 3 AS BIGINT)"))
            .withColumn("__n_alpha",
                        F.size(F.filter("__toks",
                                        lambda x: x.rlike("[a-zA-Z]")))
                        .cast("long"))
            .withColumn("__n_stop",
                        F.size(F.filter("__toks", _in_set(_GOPHER_STOPS)))
                        .cast("long"))
            .withColumn("__n_lines", F.size("__lines").cast("long"))
            .withColumn("__n_bullet", F.size(F.filter(
                "__lines",
                lambda x: (x.startswith("- ") | x.startswith("* ")
                           | x.startswith("• ")))).cast("long"))
            .withColumn("__n_ellline", F.size(F.filter(
                "__lines", lambda x: x.endswith("...") | x.endswith("…")))
                .cast("long")))


#: combined rule flag over _gopher_counts columns (scaled-int compares only)
_GOPHER_PASS_SQL = (
    "CAST(__n_words BETWEEN 50 AND 100000"
    " AND (__sum_chars * 1000000) div __n_words BETWEEN 3000000 AND 10000000"
    " AND ((__n_hash + __n_ell) * 1000000) div __n_words <= 100000"
    " AND (__n_alpha * 1000000) div __n_words >= 800000"
    " AND __n_stop >= 2"
    " AND (__n_bullet * 1000000) div __n_lines < 900000"
    " AND (__n_ellline * 1000000) div __n_lines < 300000 AS INT)")


def gopher_rules(df: DataFrame) -> DataFrame:
    """Gopher-style quality rule battery (Rae et al. 2021, App. A1.1):
    word count 50..100k, mean word length 3..10, symbol-to-word ratio
    (``#`` + ``...``) <= 0.1, >= 80% of words contain a letter, >= 2
    stop words, < 90% bullet lines, < 30% ellipsis-ended lines — per-doc
    signals plus the combined ``passes`` flag.

    Every ratio is exact integer micro-units (``(a * 1e6) div b``) so the
    signals and the flag are bit-identical across engines — the flag
    compares scaled integers, never doubles.  Scale shape: one narrow
    projection chain, zero shuffle, pure JVM codegen.
    """
    counts = _gopher_counts(df.select("doc_id", "text"))
    return counts.select(
        F.col("doc_id"),
        F.col("__n_words").alias("n_words"),
        F.expr("(__sum_chars * 1000000) div __n_words")
        .alias("mean_word_len_e6"),
        F.expr("((__n_hash + __n_ell) * 1000000) div __n_words")
        .alias("symbol_ratio_e6"),
        F.expr("(__n_alpha * 1000000) div __n_words").alias("alpha_frac_e6"),
        F.col("__n_stop").alias("n_stop"),
        F.expr("(__n_bullet * 1000000) div __n_lines")
        .alias("bullet_frac_e6"),
        F.expr("(__n_ellline * 1000000) div __n_lines")
        .alias("ellipsis_frac_e6"),
        F.expr(_GOPHER_PASS_SQL).alias("passes"))


#: blocklist drawn from the fixture vocabulary so the gate discriminates
_BADWORDS = ("slow", "dup", "error")


def badwords_gate(df: DataFrame) -> DataFrame:
    """C4-style blocklist gate: per-doc blocklisted-token count and rate
    (exact integer micro-units), plus ``kept = rate <= 40000``.
    Token-set membership (not substring match) — 'class' never trips a
    'ass' entry.  The blocklist is a compile-time literal set folded into
    the codegen'd filter, so at 100 TB this is a narrow zero-shuffle scan
    with no join against a wordlist table.
    """
    base = df.select(F.col("doc_id"),
                     F.split(F.lower(F.col("text")), " ").alias("__toks"))
    counts = base.select(
        F.col("doc_id"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(F.filter("__toks", _in_set(_BADWORDS)))
        .cast("long").alias("n_bad"))
    return counts.select(
        F.col("doc_id"), "n_tokens", "n_bad",
        F.expr("(n_bad * 1000000) div n_tokens").alias("bad_rate_e6"),
        F.expr(f"CAST((n_bad * 1000000) div n_tokens <= 40000 "
               "AS INT)").alias("kept"))
