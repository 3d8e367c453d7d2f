"""BPE tokenizer: distributed training statistics + distributed encode.

Task-brief component (training-data pipeline): turning a curated corpus
into model-ready token ids.  The shape follows how production tokenizers
actually run at 100 TB:

- **training statistics are distributed**: pre-tokenization and the
  word-frequency table are one JVM-side ``regexp_extract_all`` +
  explode + hash-agg over the whole corpus (map-side combine; the only
  shuffle), capped to a deterministic top-K vocabulary table;
- **the merge loop is a driver-side model fit**: classic
  character-level BPE (Sennrich et al. 2016) over the top-K
  word-frequency table — model-scale input (≤ K rows), exactly like
  the k-means centroid fit in ``similarity.ivf_build``; ties break
  lexicographically so the model is reproducible bit-for-bit;
- **encoding is distributed and shuffle-free**: the merge ranks are a
  broadcast model applied by an Arrow-batched pandas UDF (per-batch
  word cache — crawl text repeats words heavily), emitting
  ``token_ids array<int>`` + ``n_tokens`` per document.

The pre-tokenizer is an ASCII regex (letter runs / digit runs /
punctuation runs, each with an optional attached leading space, plus
whitespace runs) chosen to behave identically under Java regex (the
JVM scan side) and Python ``re`` (the encode UDF + the no-Spark golden
builder) — no lookarounds, no unicode classes.

Oracle strategy: ``bpe_tokenize`` runs the full distributed path over a
deterministic fixture corpus and is hash-compared against a committed
single-process golden (``tools/make_golden_parquet.py::bpe_golden_table``
— the pure kernels with no Spark), the ``warc_e2e`` pattern: the
driver row proves the distributed path equals the sequential truth.

Reference analogue: none — the reference pipeline stops at extracted
text (``src/pdf_ocr/extraction.py``); tokenization is part of this
engine's training-data surface beyond it.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..worker import drop_zip_importers

#: ASCII pre-tokenization pattern, identical under Java regex and
#: Python re (no lookaround, no unicode classes)
PRETOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"

#: end-of-word sentinel appended to every pre-token before merging
EOW = ""   # private-use, never in the ASCII corpus

UNK_ID = 0


# ---------------------------------------------------------------------------
# distributed training statistics
# ---------------------------------------------------------------------------

def word_counts(df: DataFrame, top_k: int = 32768) -> DataFrame:
    """Corpus → the top-K (word, count) table that BPE training
    consumes.  One hash-agg shuffle; the top-K is a TakeOrdered (never
    a full sort) with a (count desc, word asc) deterministic order.
    K bounds the driver-side model fit regardless of corpus size."""
    return (df
            .select(F.explode(
                F.regexp_extract_all("text", F.lit(PRETOKEN_PATTERN), 0)
            ).alias("word"))
            .groupBy("word").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("word"))
            .limit(top_k))


# ---------------------------------------------------------------------------
# driver-side model fit (pure, deterministic)
# ---------------------------------------------------------------------------

def bpe_train(word_freqs, num_merges: int):
    """Classic character-level BPE over a (word, count) table.

    Returns ``(merges, vocab)`` where ``merges`` is the ordered list of
    symbol pairs and ``vocab`` maps token string → id (id 0 = <unk>,
    then the observed alphabet sorted, then merged tokens in merge
    order).  Ties on pair frequency break on the lexicographically
    smallest pair, so the model is a pure function of its input."""
    words: dict[tuple, int] = {}
    alphabet = set()
    for word, n in word_freqs:
        syms = tuple(word) + (EOW,)
        words[syms] = words.get(syms, 0) + int(n)
        alphabet.update(syms)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        # deterministic: highest count, then lexicographically smallest
        top_n = max(pairs.values())
        best_pair = min(p for p, n in pairs.items() if n == top_n)
        if top_n < 2:
            break                       # nothing left worth merging
        merges.append(best_pair)
        a, b = best_pair
        ab = a + b
        new_words = {}
        for syms, n in words.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + n
        words = new_words
    vocab = {"<unk>": UNK_ID}
    for ch in sorted(alphabet):
        vocab[ch] = len(vocab)
    for a, b in merges:
        tok = a + b
        if tok not in vocab:
            vocab[tok] = len(vocab)
    return merges, vocab


def bpe_encode_word(word: str, ranks: dict, vocab: dict) -> list[int]:
    """Greedy lowest-rank merging of one pre-token (the standard BPE
    encode), then vocab lookup (<unk> for symbols outside the model)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        a, b = syms[best_i], syms[best_i + 1]
        ab = a + b
        out = []
        i = 0
        while i < len(syms):            # merge ALL occurrences of (a, b)
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(ab)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return [vocab.get(s, UNK_ID) for s in syms]


def bpe_encode_text(text: str, ranks: dict, vocab: dict,
                    cache: dict | None = None) -> list[int]:
    """Pre-tokenize + encode a document (the no-Spark reference path
    shared with the golden builder)."""
    out: list[int] = []
    for word in re.findall(PRETOKEN_PATTERN, text):
        if cache is not None and word in cache:
            out.extend(cache[word])
            continue
        ids = bpe_encode_word(word, ranks, vocab)
        if cache is not None:
            cache[word] = ids
        out.extend(ids)
    return out


# ---------------------------------------------------------------------------
# distributed encode
# ---------------------------------------------------------------------------

def bpe_encode(df: DataFrame, merges, vocab) -> DataFrame:
    """Corpus → (id, token_ids, n_tokens) with the merge-rank model
    broadcast into an Arrow-batched pandas UDF.  Narrow (zero shuffle);
    a per-batch word cache amortizes the merge loop over the heavy
    word repetition of natural text."""
    spark = df.sparkSession
    model = spark.sparkContext.broadcast((list(merges), dict(vocab)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        merges_l, vocab_l = model.value
        ranks = {tuple(p): i for i, p in enumerate(merges_l)}
        cache: dict = {}
        for pdf in batches:
            ids_out = []
            n_out = []
            for text in pdf["text"]:
                ids = bpe_encode_text(text or "", ranks, vocab_l, cache)
                ids_out.append(ids)
                n_out.append(len(ids))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "token_ids": ids_out,
                                "n_tokens": n_out})

    return df.select("doc_id", "text").mapInPandas(
        run, schema="doc_id string, token_ids array<int>, n_tokens int")
