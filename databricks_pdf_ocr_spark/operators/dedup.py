"""Deduplication operators for large-scale corpus curation.

The reference's only dedup is SHA-256 content hashing (volsync upload skip,
``packages/volsync/src/volsync/volume_sync.py:167-191``, and the
``content_hash`` column, ``handlers/autoloader.py:87``).  A 100 TB
training-data pipeline needs the full ladder, implemented here Spark-first:

- **exact**: hash-groupBy on ``sha2(text)`` — one shuffle, map-side
  partial agg for free;
- **n-gram Jaccard**: shingle-explode → equi-join on shingle → per-pair
  overlap counts (exact but quadratic in shared shingles — use for
  verification or after candidate generation);
- **MinHash + LSH**: k min-hash signatures (min over lexicographic
  sha2(seed:shingle) — engine-portable, no custom hash needed) → banded
  buckets → candidate pairs from same-bucket joins.  This is the scale
  path: cost is linear in corpus size + bucket-collision pairs;
- **SimHash**: 32-bit sign-aggregated token hashes; near-dups = small
  Hamming distance (``bit_count(xor)``).

Everything is built-in ``pyspark.sql.functions`` (JVM, codegen) — no UDFs.

Two hash configurations (``hash_mode``):
- ``"sha2"`` — oracle mode: sha2 hex (+ ``conv`` hex→int) is bit-identical
  in DuckDB SQL, so every operator has an independent oracle.  Default,
  and what the driver's correctness gate runs.
- ``"xxhash64"`` — production mode, the configuration to run at 100 TB:
  minhash becomes a narrow vectorized Arrow kernel (memoized blake2b-64
  token hashes + affine-permutation mins — no explode shuffle); simhash
  uses JVM-native xxhash64 token hashes.  Same algorithms, different hash
  family, so near-dup pair sets can differ on borderline-Jaccard pairs
  (tested for agreement on planted dups in tests/test_dedup_modes.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from ..session import local_frame
from ..worker import drop_zip_importers


# ---------------------------------------------------------------------------
# shared shingling
# ---------------------------------------------------------------------------

def tokens_col() -> Column:
    return F.split(F.lower(F.col("text")), " ")


def shingles_of(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array.

    Guarded: Spark's ``sequence(1, 0)`` auto-steps backwards instead of
    yielding an empty array, so short docs take the explicit empty branch.

    SCALE-CRITICAL: ``tokens`` must be a projected attribute (see
    :func:`shingled`), never the inline ``split(lower(text))`` expression
    — expressions referenced inside a higher-order-function lambda body
    are re-evaluated PER ELEMENT, turning shingling O(tokens² · len) per
    document.  Measured on the 2 k-doc bench corpus (~300 tokens/doc):
    inlined 86 s vs materialized 0.7 s for the same logical result.
    """
    return F.when(
        F.size(tokens) >= n,
        F.transform(F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(tokens, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def shingled(df: DataFrame, n: int = 3) -> DataFrame:
    """(id, shingles: array<string>) with the token array materialized in
    its own projection so the shingle lambda slices an attribute — the
    linear-cost shape every shingle consumer must use."""
    return (df.select(F.col("doc_id").alias("id"),
                      tokens_col().alias("__toks"))
            .select("id",
                    shingles_of(F.col("__toks"), n).alias("shingles")))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, canonical_id, n_dups).

    canonical_id = min(id) is the keep-one representative.  Scale: single
    hash-aggregate shuffle on a 64-hex key; skew-free (hash keys uniform).
    """
    return (
        df.select(F.col("doc_id"),
                  F.sha2(F.col("text"), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count("*").cast("long").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard over distinct word 3-grams for all candidate pairs.

    Plan: explode distinct shingles → self-equi-join on shingle (Catalyst
    picks SMJ/shuffled-hash; AQE splits skewed shingles) → count overlap →
    join per-doc shingle counts (broadcast — it's |docs| rows of 2 ints) →
    |A∩B| / (|A|+|B|-|A∩B|).  Emits (doc_a < doc_b, jaccard).
    """
    sh = (shingled(df)
          .select("id", F.explode("shingles").alias("shingle"))
          .distinct())
    sizes = sh.groupBy("id").agg(F.count("*").cast("long").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    overlap = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        overlap
        .join(F.broadcast(sizes.withColumnRenamed("id", "doc_a")
                          .withColumnRenamed("n_sh", "sh_a")), "doc_a")
        .join(F.broadcast(sizes.withColumnRenamed("id", "doc_b")
                          .withColumnRenamed("n_sh", "sh_b")), "doc_b")
        .withColumn("jaccard",
                    F.round(F.col("n_common")
                            / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: the prefix-filter join's Jaccard threshold, ``T_NUM / T_DEN``
T_NUM, T_DEN = 19, 20


def prefix_filter_pairs(df: DataFrame) -> DataFrame:
    """EXACT token-set Jaccard self-join via AllPairs/PPJoin prefix
    filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08) — the
    exact-recall complement to the probabilistic MinHash-LSH rung: no
    banding recall loss, candidates bounded by the prefix principle
    instead of signatures.

    Threshold is the rational ``T_NUM/T_DEN`` and EVERY comparison is
    integer cross-multiplication — no float ``ceil`` (0.95·20 in IEEE
    is 19.000…004, whose ceil silently shrinks the prefix and drops
    true pairs) and no float ``>=`` boundary for the oracle to disagree
    on.  ``jaccard_e6`` is the floor-scaled integer ratio (the repo's
    cross-engine parity recipe for quotients).

    Plan (all relational, no UDF):
      1. distinct tokens per doc (narrow) → explode → global document
         frequency (one hash-agg with map-side combine);
      2. rarest-first total order per doc WITHOUT a window: the
         token↔freq equi-join re-uses the token partitioning, then ONE
         hash-agg per doc collects (df, token) structs, ``sort_array``
         orders them, ``slice`` keeps the length-(n − ⌈t·n⌉ + 1)
         prefix — the pigeonhole guarantee that any pair with
         J ≥ t shares a prefix token under a shared total order;
      3. candidate generation: prefix-token self-equi-join with the
         symmetric Jaccard length filter (t·|x| ≤ |y| ∧ t·|y| ≤ |x|)
         applied IN the join condition, then distinct pairs;
      4. exact verification: ``array_intersect`` of the materialized
         token arrays (broadcast is wrong here — the token-set table
         scales with the corpus, so both verify joins shuffle on the
         id, which AQE plans as SMJ).

    100 TB shape: every stage is an equi-join or hash-agg on a
    hashable key; the classic skew hazard (a stop-word shared by every
    doc) cannot enter step 3 because prefixes keep only each doc's
    RAREST tokens — the frequent-token join fan-out that sinks naive
    token self-joins is pruned by construction, and AQE skew-split
    covers the residue.  Exactness is gate-proven: the DuckDB oracle
    computes unfiltered all-pairs Jaccard, so any prefix-recall bug
    hash-mismatches.
    """
    toks = (df.select(
                F.col("doc_id").alias("id"),
                F.array_distinct(
                    F.filter(tokens_col(),
                             lambda x: x != F.lit(""))).alias("toks"))
            .withColumn("n_tok", F.size("toks"))
            .filter(F.col("n_tok") > 0))
    tok = toks.select("id", "n_tok", F.explode("toks").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    # prefix length p = n − ⌈t·n⌉ + 1, exact in integers:
    # ⌈a·n/b⌉ = (a·n + b − 1) div b
    plen = (F.col("n_tok")
            - F.expr(f"(n_tok * {T_NUM} + {T_DEN} - 1) DIV {T_DEN}") + 1)
    prefix = (tok.join(freq, "token")
              .groupBy("id", "n_tok")
              .agg(F.sort_array(
                  F.collect_list(F.struct("dfreq", "token"))).alias("ord"))
              .select("id", "n_tok",
                      F.explode(
                          F.slice(F.col("ord.token"), F.lit(1),
                                  plen.cast("int"))).alias("token")))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a.token") == F.col("b.token"))
                   & (F.col("a.id") < F.col("b.id"))
                   & (F.col("b.n_tok") * T_DEN >= F.col("a.n_tok") * T_NUM)
                   & (F.col("a.n_tok") * T_DEN >= F.col("b.n_tok") * T_NUM))
            .select(F.col("a.id").alias("doc_a"),
                    F.col("b.id").alias("doc_b"))
            .distinct())
    ta = toks.select(F.col("id").alias("doc_a"), F.col("toks").alias("ta"),
                     F.col("n_tok").alias("na"))
    tb = toks.select(F.col("id").alias("doc_b"), F.col("toks").alias("tb"),
                     F.col("n_tok").alias("nb"))
    return (cand.join(ta, "doc_a").join(tb, "doc_b")
            .withColumn("inter",
                        F.size(F.array_intersect("ta", "tb")).cast("long"))
            .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
            .filter(F.col("inter") * T_DEN >= F.col("uni") * T_NUM)
            .select("doc_a", "doc_b",
                    F.expr("inter * 1000000 DIV uni").alias("jaccard_e6"))
            )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: the MinHash shape, fixed for every caller and the DuckDB oracle: word
#: ``NGRAM``-gram shingles, ``K`` signatures in ``BANDS`` bands, over
#: ``(doc_id, text)`` rows
NGRAM, K, BANDS = 3, 8, 4


def _minhash_signatures_fast(df: DataFrame) -> DataFrame:
    """Production-mode signatures: one vectorized Arrow kernel, NO shuffle.

    The JVM oracle path (explode shingle strings → k hashes/row → group-min)
    spends its time building shingle strings and shuffling 260k+ hashed
    rows per 5k docs.  Here signatures are a *narrow map*:

      token hash   = blake2b-64 per token (C speed, deterministic),
      shingle hash = affine combination of the n token hashes (numpy
                     uint64 wrap arithmetic — no string materialization),
      k min-hashes = (a_s · shingle + c_s) mod 2^64 permutations, odd a_s
                     (the classic affine MinHash family), one vectorized
                     outer-product min per doc.

    Same algorithm and band-join downstream as the oracle mode; only the
    hash family differs (pair sets agree on planted dups —
    tests/test_dedup_modes.py).  At 100 TB this removes the explode
    shuffle entirely: signatures are k longs per doc computed where the
    doc lives.
    """
    import pandas as pd

    n, k = NGRAM, K
    id_type = df.schema["doc_id"].dataType.simpleString()
    schema = f"id {id_type}, " + ", ".join(f"mh{i} long" for i in range(k))

    def kern(batches):
        import hashlib

        import numpy as np
        drop_zip_importers()

        rng = np.random.RandomState(0x5EED)
        a = (rng.randint(0, 2 ** 62, size=k, dtype=np.uint64)
             << np.uint64(1)) | np.uint64(1)          # odd multipliers
        c = rng.randint(0, 2 ** 63, size=k, dtype=np.uint64)
        m = [np.uint64(x) for x in
             (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
              0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63)]
        bl = hashlib.blake2b
        memo: dict = {}  # token → uint64 hash; Zipfian reuse makes the
        # blake2b call the exception, not the rule (bounded below)

        def tok_hash(t, _bl=bl, _memo=memo):
            h = _memo.get(t)
            if h is None:
                h = int.from_bytes(_bl(t.encode(), digest_size=8).digest(),
                                   "big")
                if len(_memo) < 1 << 18:
                    _memo[t] = h
            return h

        for pdf in batches:
            # batch-level vectorization: one flat token-hash array for the
            # whole Arrow batch, shingle hashes as strided adds over it,
            # per-doc minima via ONE minimum.reduceat — the per-doc numpy
            # calls (the old shape) spent more time in tiny-array overhead
            # than in arithmetic.  Formula and hash family are unchanged
            # (uint64 wraparound affine permutations), so the signatures
            # are bit-identical to the per-doc loop's.
            ids, tok_lists = [], []
            for did, text in zip(pdf["id"], pdf["t"]):
                if text is None:
                    continue
                toks = text.lower().split(" ")
                if len(toks) < n:
                    continue
                ids.append(did)
                tok_lists.append(toks)
            if not ids:
                continue
            lens = np.fromiter((len(t) for t in tok_lists),
                               dtype=np.int64, count=len(tok_lists))
            th = np.fromiter((tok_hash(t) for toks in tok_lists
                              for t in toks),
                             dtype=np.uint64, count=int(lens.sum()))
            # windows per doc and their global start offsets in `th`
            n_win = lens - (n - 1)
            doc_start = np.concatenate(([0], np.cumsum(lens)[:-1]))
            win_start = np.concatenate(([0], np.cumsum(n_win)[:-1]))
            total_w = int(n_win.sum())
            # global window-start indices, skipping cross-doc windows
            gidx = (np.arange(total_w, dtype=np.int64)
                    - np.repeat(win_start, n_win)
                    + np.repeat(doc_start, n_win))
            base = th[gidx] * m[0]
            for j in range(1, n):
                base = base + th[gidx + j] * m[j % len(m)]
            sig = a[:, None] * base[None, :] + c[:, None]       # k × W
            mins = np.minimum.reduceat(sig, win_start, axis=1) \
                .astype(np.int64)                               # k × docs
            out = {"id": ids}
            for i in range(k):
                out[f"mh{i}"] = mins[i]
            yield pd.DataFrame(out)

    return (df.select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
            .mapInPandas(kern, schema=schema))


def minhash_signatures_df(df: DataFrame,
                          hash_mode: str = "sha2") -> DataFrame:
    """(id, mh0..mh{K-1}) via explode + grouped min.

    Shaped for scale: one explode pass computes all K hashes per shingle
    row (vs K duplicated whole-array transforms, which re-evaluate the
    tokenize+shingle pipeline K times), then a single hash-agg takes the
    K mins — map-side partial aggregation keeps the shuffle tiny.

    ``hash_mode``:
      - ``"sha2"`` (oracle mode): lexicographic min over hex digests —
        bit-reproducible in DuckDB, the correctness-gate configuration;
      - ``"xxhash64"`` (production mode): delegates to
        :func:`_minhash_signatures_fast` — a narrow vectorized Arrow
        kernel (no explode, no shuffle), ~3x faster end-to-end; the
        configuration to run at corpus scale.
    """
    if hash_mode == "xxhash64":
        return _minhash_signatures_fast(df)

    sh = (shingled(df, n=NGRAM)
          .select("id", F.explode("shingles").alias("s")))
    hashed = sh.select("id", *[
        F.sha2(F.concat(F.lit(f"{s}:"), F.col("s")), 256).alias(f"h{s}")
        for s in range(K)
    ])
    return hashed.groupBy("id").agg(*[
        F.min(f"h{s}").alias(f"mh{s}") for s in range(K)
    ])


def verify_pairs(df: DataFrame, pairs: DataFrame,
                 threshold: float) -> DataFrame:
    """Exact n-gram-Jaccard verification of candidate pairs.

    LSH candidates are probabilistic: a band hash that draws a small value
    for one moderately-common shingle makes every doc containing it
    pairwise-collide (measured: ~10 spurious jaccard<0.02 candidates per
    500 fixture docs in BOTH hash families).  Dropping docs on raw
    candidates would therefore delete non-duplicates.  Verification is the
    standard second rung of the ladder and stays linear: cost is two
    equi-joins of the (small) candidate set against per-doc shingle
    arrays + one JVM ``array_intersect`` per candidate — never all-pairs.

    Emits (``pairs``' columns, jaccard) for pairs with jaccard ≥ threshold.

    Scale note: only documents that actually appear in a candidate pair
    are shingled — a semi-join prunes the corpus to candidate ids BEFORE
    the shingle projection.  The naive form (shingle the full corpus,
    inner-join candidates onto the shingle table) pays two full-corpus
    shingle passes even when candidates are rare, the common case after
    banding (A/B at 13k docs, empty candidates: 3.6 s → 1.8 s).  The
    shingles must stay BELOW the join: computing them above it lets the
    jaccard predicate get pushed into the join condition with the
    split→slice→concat tree substituted into the HOF lambdas, which
    re-evaluates split(lower(text)) per array element per probed row,
    interpreted (observed: one join task burning 12+ CPU-minutes).
    The pair result is identical (inner joins never used non-candidate
    rows).
    """
    ids = (pairs.select(F.col("doc_a").alias("__vid"))
           .union(pairs.select(F.col("doc_b")))
           .distinct())
    cand_docs = df.join(ids, F.col("doc_id") == F.col("__vid"), "left_semi")
    sh = (shingled(cand_docs, n=NGRAM)
          .select(F.col("id").alias("__vid"),
                  F.array_distinct("shingles").alias("__sh")))
    j = (pairs
         .join(sh.select(F.col("__vid").alias("doc_a"),
                         F.col("__sh").alias("__sha")), "doc_a")
         .join(sh.select(F.col("__vid").alias("doc_b"),
                         F.col("__sh").alias("__shb")), "doc_b"))
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    return (j.withColumn("jaccard", F.round(inter / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select(*pairs.columns, "jaccard"))


def minhash_banded(df: DataFrame, hash_mode: str) -> DataFrame:
    """Banded MinHash rows ``(id, band_idx, band_hash)`` — one row per
    (doc, band).  A pure per-document function of the frozen hash
    family, which is what makes the near-dup index incrementally
    maintainable (:func:`minhash_index_upsert`)."""
    r = K // BANDS
    sig = minhash_signatures_df(df, hash_mode)
    if hash_mode == "xxhash64":
        band_cols = [
            F.xxhash64(*[F.col(f"mh{b * r + i}") for i in range(r)])
            .alias(f"band{b}")
            for b in range(BANDS)
        ]
    else:
        band_cols = [
            F.sha2(F.concat_ws(
                "|", *[F.col(f"mh{b * r + i}") for i in range(r)]), 256)
            .alias(f"band{b}")
            for b in range(BANDS)
        ]
    return sig.select("id", F.posexplode(F.array(*band_cols))
                      .alias("band_idx", "band_hash"))


def _band_pairs(banded: DataFrame, docs: DataFrame | None,
                verify_threshold: float | None) -> DataFrame:
    """THE band join: candidate pairs ``(doc_a < doc_b)`` touching at
    least one ``new`` row of ``banded`` ``(id, band_idx, band_hash,
    new)``.  Each pair is formed once: a new row pairs with every
    higher-id row and with every old row; old↔old pairs are never formed
    (earlier batches resolved them).  With ``new`` a literal true — the
    batch case — the condition constant-folds to ``a.id < b.id``.

    ``verify_threshold`` + ``docs``: second-rung exact-Jaccard
    verification (:func:`verify_pairs`) over the pair texts."""
    a, b = banded.filter(F.col("new")).alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & ((F.col("a.id") < F.col("b.id")) | ~F.col("b.new")))
        .select(F.least("a.id", "b.id").alias("doc_a"),
                F.greatest("a.id", "b.id").alias("doc_b"))
        .distinct()
    )
    if verify_threshold is None:
        return cand
    assert docs is not None, "verification needs the documents table"
    # the verifier references the candidate set three times (id prune +
    # both shingle joins) — materialize it so the band join + distinct
    # run once, not three times; a corpus with no band collisions (the
    # common clean case) then skips the verify subtree outright
    cand = cand.localCheckpoint()
    if cand.isEmpty():
        return cand
    return verify_pairs(docs, cand, verify_threshold).drop("jaccard")


def minhash_index_upsert(io, new_docs: DataFrame,
                         table: str = "minhash_index",
                         hash_mode: str = "sha2") -> int:
    """Absorb an ingest delta into the persisted banded MinHash table —
    the text-dedup twin of ``similarity.build_lsh_index``.  Signatures
    are per-document, so the upsert is the signature pipeline over ONLY
    the delta plus an append; ids already indexed are skipped (anti-join
    on the pruned id column — idempotent re-ingest), and a missing index
    is an empty one, so the first upsert builds it — even from a delta
    too short to sign, so the pair step always has a table to read.
    Returns rows appended (= |delta| × BANDS)."""
    existing = io.read(table)
    pending = new_docs if existing is None else new_docs.join(
        existing.select("id"), F.col("doc_id") == F.col("id"), "left_anti")
    banded = minhash_banded(pending, hash_mode).localCheckpoint()
    cnt = banded.count()
    if cnt or existing is None:
        io.append(banded, table)
    return int(cnt)


def minhash_lsh_pairs_incremental(io, new_ids: DataFrame,
                                  table: str = "minhash_index",
                                  docs: DataFrame | None = None,
                                  verify_threshold: float | None = None
                                  ) -> DataFrame:
    """Candidate near-dup pairs TOUCHING the delta: the stored banding,
    its delta rows flagged ``new``, through the one band join — each
    ingest batch pays |delta| × corpus-bucket work instead of corpus².
    Old↔old pairs were already resolved by earlier batches — exactly
    the incremental dedup recursion a rolling crawl ingest runs.

    ``new_ids``: one-column (id) DataFrame of the delta's doc ids.
    ``verify_threshold`` + ``docs``: second-rung exact-Jaccard
    verification over the pair texts (the drop-safe configuration)."""
    flag = F.broadcast(new_ids.select("id", F.lit(True).alias("new")))
    banded = (io.read(table).join(flag, "id", "left")
              .withColumn("new", F.coalesce("new", F.lit(False))))
    return _band_pairs(banded, docs, verify_threshold)


def merge_components(old_labels: DataFrame,
                     new_pairs: DataFrame) -> DataFrame:
    """Incrementally merge an ingest delta's near-dup pairs into an
    EXISTING component labeling: each old component collapses to its
    star edges ``(node → comp)`` — connectivity-equivalent to the whole
    old pair graph but diameter 1 — and propagation runs over
    ``stars ∪ new_pairs``.  The result equals a from-scratch
    ``neardup_components`` over the full historical+delta pair set,
    while each batch pays for a graph whose old side is ONE edge per
    already-labeled node (the rolling-crawl dedup recursion, third rung
    after the signature upsert and the delta-only candidates).

    Correctness: ``comp`` is the min member id of its old component and
    itself a node of the star, so min-label propagation over the union
    reaches exactly the same minima as over the original graph.
    """
    star = old_labels.select(F.col("node").alias("doc_a"),
                             F.col("comp").alias("doc_b"))
    return neardup_components(star.unionByName(new_pairs))


def minhash_lsh_pairs(df: DataFrame, hash_mode: str = "sha2",
                      verify_threshold: float | None = None) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH: the
    incremental recursion with every document new.

    K signatures split into BANDS bands of r = K/BANDS rows; docs
    agreeing on any full band collide.  Plan: signatures (narrow, per-row)
    → posexplode(band digests) → self-join on (band_idx, band_hash) —
    the classic linear-scale near-dup pipeline (vs the quadratic
    shingle join).  Empty-shingle docs (< NGRAM tokens) are excluded:
    their null signatures would otherwise all-collide.

    ``hash_mode="xxhash64"`` is the production configuration (see
    :func:`minhash_signatures_df`); band digests are then xxhash64 longs
    instead of sha2 hex.  Pair sets differ only where the two hash
    families estimate borderline Jaccard differently.

    ``verify_threshold``: when set, candidates are second-rung verified
    with exact n-gram Jaccard (:func:`verify_pairs`) — the configuration
    any pipeline that DROPS documents must run (raw candidates include
    spurious near-zero-Jaccard collisions in every hash family).
    """
    # materialize the banded signatures ONCE before the self-join: both
    # join inputs are the same subtree, but Spark only reuses identical
    # *exchanges* — when one side broadcasts (or the two sides prune
    # differently) the signature pipeline (the mapInPandas Arrow kernel
    # in production mode, the shingle explode in oracle mode) executes
    # TWICE (verified: two MapInPandas nodes in the r06 before-plan).
    # localCheckpoint computes it once; both sides read the materialized
    # partitions.  Same rows, half the signature work.
    banded = minhash_banded(df, hash_mode).localCheckpoint()
    return _band_pairs(banded.withColumn("new", F.lit(True)), df,
                       verify_threshold)


#: verified-pair edge count up to which ``neardup_components`` labels on
#: the driver; above it the graph is labelled by distributed propagation.
#: Measured with ``tools/components_crossover.py`` (local[4]): the driver
#: path labels 100k edges in 2.0-2.5 s, below the 3.0-3.5 s the frontier
#: loop costs at 1k, so up to this bound it wins however many cores the
#: loop gets; past it the loop's per-edge work shrinks with its cores
#: while the driver's does not
SMALL_GRAPH_EDGES = 100_000


def _min_id_labels(edges) -> dict:
    """node → min id of its connected component, by union-find over
    ``(a, b)`` edges; a union hangs the larger root under the smaller,
    so each root is its component's min id."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]       # path halving
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def neardup_components(pairs: DataFrame, max_iter: int = 20,
                       stats: dict | None = None) -> DataFrame:
    """Connected components over verified near-dup pairs:
    ``(node, component)`` where component = the smallest node id
    reachable through the pair graph.

    Dropping ``doc_b`` of each pair (the simple survivor rule) handles
    a~b but keeps BOTH b and c of a transitive cluster a~b, b~c when c
    never directly paired with a — at web scale near-dup clusters are
    routinely transitive (template families, mirror chains).  Components
    give one canonical survivor per cluster.

    Two paths, chosen at run time from the observed edge count (the pair
    set is materialized once, then ONE bounded ``toArrow`` probe):

    - **≤ SMALL_GRAPH_EDGES edges: union-find on the driver.**  The
      probe already holds every edge; each union hangs the larger root
      under the smaller, so every root is its component's min id — the
      labelling the frontier loop converges to.  The labels come back as
      an Arrow-built ``LocalTableScan`` (``session.local_frame``), so
      reading them runs no job.  On such a graph the loop below is
      nearly all fixed per-job cost: on the benchmark's ``curate`` (22
      verified pairs, 4 cores) the driver path took the run from 42 to
      19 Spark jobs.  Synthetic chain graphs, local[4], driver vs loop
      (``tools/components_crossover.py``): 1k edges 0.5 vs 3.0 s wall;
      100k int64 ids 2.0 vs 5.5 s, 5.0 vs 13.9 CPU-s, process-tree peak
      RSS 1.1 vs 1.5 GB; 1M string ids 14.5 vs 25.9 s, but a 3.1 vs 2.8
      GB peak, the driver's own Python at 0.52 GB.  ``rounds`` reads 0.
    - **More edges: distributed FRONTIER min-label propagation**
      (round-4 verdict #8) — a graph that outgrows the driver.  Labels
      only move along edges out of nodes that improved last round, so
      each round joins the edge table against the (shrinking) frontier
      instead of the full label set, and convergence is detected the
      moment the frontier is empty — on the common sparse graph (mostly
      2-node components, diameter 1) that is ONE small frontier round
      after the first sweep, not a second full-graph no-change sweep.
      Rounds needed = graph diameter, which for near-dup clusters is
      small.  Each round ``localCheckpoint``s labels AND frontier:
      ``persist`` alone caches DATA but leaves the LOGICAL PLAN nesting
      round-over-round, and by ~7 rounds the plan tree OOMs the driver
      (caught by the random-graph pytest) — checkpointing is the
      lineage cut every iterative DataFrame algorithm needs (a real
      cluster would use ``checkpoint()`` with a reliable dir for fault
      tolerance).  The convergence check is a control-plane count OF
      THE FRONTIER (cheap).  Raises loudly if ``max_iter`` rounds don't
      converge rather than returning a partial labeling.

    ``stats``: optional dict the caller passes to receive
    ``{"rounds": <improvement rounds run>}`` — the bench/round-count
    assertion hook.
    """
    # materialize the pair set ONCE: the size probe below and the
    # symmetric edge union of the frontier path both read it, so an
    # unmaterialized verified-pair subtree (two shingle joins +
    # array_intersect) would otherwise execute more than once
    pairs = pairs.localCheckpoint()
    # the size probe: one job, edges as Arrow columns (no Row objects)
    head = (pairs.select("doc_a", "doc_b").limit(SMALL_GRAPH_EDGES + 1)
            .toArrow())
    if head.num_rows <= SMALL_GRAPH_EDGES:
        if stats is not None:
            stats["rounds"] = 0
        t = pairs.schema["doc_a"].dataType
        labels = _min_id_labels(zip(head.column(0).to_pylist(),
                                    head.column(1).to_pylist()))
        return local_frame(pairs.sparkSession, list(labels.items()),
                           T.StructType([T.StructField("node", t),
                                         T.StructField("comp", t)]))
    edges = pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
    edges = (edges.union(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
             .distinct().persist())
    try:
        # eager localCheckpoint: materializes AND truncates plan lineage
        labels = (edges.select(F.col("src").alias("node")).distinct()
                  .withColumn("comp", F.col("node")).localCheckpoint())
        frontier = labels                       # round 0: everyone moves
        rounds = 0
        for it in range(max_iter + 1):
            # candidate labels reachable FROM the frontier only
            cand = (edges.join(frontier,
                               edges["src"] == frontier["node"])
                    .select(F.col("dst").alias("node"), F.col("comp"))
                    .groupBy("node").agg(F.min("comp").alias("cand")))
            improved = (cand.join(labels, "node")
                        .filter(F.col("cand") < F.col("comp"))
                        .select("node", F.col("cand").alias("comp"))
                        .localCheckpoint())
            if improved.count() == 0:           # control-plane scalar
                if stats is not None:
                    stats["rounds"] = rounds
                return labels
            if it == max_iter:
                break                           # improved but out of budget
            rounds += 1
            labels = (labels.alias("l")
                      .join(improved.select(
                          "node", F.col("comp").alias("new_comp")),
                          "node", "left")
                      .select("node",
                              F.coalesce("new_comp", F.col("l.comp"))
                              .alias("comp"))
                      .localCheckpoint())
            frontier = improved
        raise ValueError(
            f"neardup_components did not converge in {max_iter} rounds — "
            f"pathological graph diameter; raise max_iter")
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, hash_mode: str = "sha2") -> DataFrame:
    """32-bit SimHash per document: (id, simhash bigint).

    token hash = first 8 hex chars of sha256 → int32-range; bit i of the
    fingerprint is the sign of Σ_tokens (2·bit_i(h) − 1).  Plan: explode
    tokens → one hash per row → groupBy doc with ``bits`` conditional sums
    (all codegen) → recombine bits.  Ties (sum == 0) round DOWN to 0 —
    deterministic and engine-portable.

    ``hash_mode="xxhash64"``: token hash = low 32 bits of xxhash64 —
    JVM-native production configuration (sha2 hex + conv stays the
    DuckDB-parity oracle mode).
    """
    tok = df.select(F.col("doc_id").alias("id"),
                    F.explode(tokens_col()).alias("t"))
    if hash_mode == "xxhash64":
        h = F.xxhash64("t").bitwiseAND(F.lit(0xFFFFFFFF))
    else:
        h = F.expr("cast(conv(substr(sha2(t, 256), 1, 8), 16, 10) as bigint)")
    tok = tok.select("id", h.alias("h"))
    sums = tok.groupBy("id").agg(*[
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"s{i}")
        for i in range(32)
    ])
    fingerprint = None
    for i in range(32):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return sums.select("id", fingerprint.cast("long").alias("simhash"))


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs within 3 bits of SimHash Hamming distance (the sha2
    token hash).

    Candidate generation: split the 32-bit fingerprint into
    ``max_hamming + 1`` = 4 chunks — any pair within the distance
    budget agrees on ≥1 whole chunk (pigeonhole), so equi-join on
    (chunk_idx, chunk value) finds all true pairs without a cross join;
    a final ``bit_count(xor)`` filter removes false positives.
    """
    max_hamming = 3
    chunks = max_hamming + 1
    width = 32 // chunks
    sh = simhash(df)
    chunk_cols = [
        F.shiftright(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1)).alias(f"c{i}")
        for i in range(chunks)
    ]
    ex = sh.select("id", "simhash",
                   F.posexplode(F.array(*chunk_cols)).alias("ci", "cv"))
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.ci") == F.col("b.ci"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# paragraph-level exact dedup (RefinedWeb-style)
# ---------------------------------------------------------------------------

def paragraph_dedup(df: DataFrame) -> DataFrame:
    """Sub-document exact dedup: remove repeated passages corpus-wide,
    keeping only the FIRST occurrence (RefinedWeb / MassiveText recipe —
    boilerplate paragraphs repeated across pages survive document-level
    dedup but still poison training data).

    Documents are chopped into non-overlapping 10-token chunks (the
    paragraph unit for newline-free corpora); a chunk survives only in
    its globally-first occurrence, ordered by (id, chunk index).  Emits
    per doc: total chunks, surviving chunks, and the re-joined surviving
    text (empty string when every chunk was seen earlier).

    Scale shape: chunking is a narrow per-row transform over a
    MATERIALIZED token array (attribute, not inline expression — the HOF
    per-element re-eval trap); first-occurrence ranking is ONE window
    shuffle keyed on chunk content (boilerplate chunks are hot keys —
    AQE skew handling applies; the rank itself is a cheap per-key
    row_number, never a cross join); reassembly is one hash-agg back on
    the doc id.  No driver-side state, no all-pairs anything.
    """
    k = 10
    base = df.select(F.col("doc_id").alias("id"),
                     F.split(F.col("text"), " ").alias("__toks"))
    n_chunks = F.ceil(F.size("__toks") / F.lit(k)).cast("int")
    chunks = F.when(
        F.size("__toks") >= 1,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__toks"), i * k + 1, k))),
    ).otherwise(F.array().cast("array<string>"))
    ex = base.select("id", F.posexplode(chunks).alias("idx", "chunk"))
    w = Window.partitionBy("chunk").orderBy("id", "idx")
    ranked = ex.withColumn("rn", F.row_number().over(w))
    kept_structs = F.array_sort(F.collect_list(         # nulls dropped by
        F.when(F.col("rn") == 1,                        # collect_list →
               F.struct(F.col("idx"), F.col("chunk")))))  # survivors only
    return (ranked.groupBy("id")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.array_join(
                     F.transform(kept_structs, lambda s: s["chunk"]),
                     " ").alias("kept_text"))
            .withColumnRenamed("id", "doc_id"))


# ---------------------------------------------------------------------------
# exact-substring dedup (span level)
# ---------------------------------------------------------------------------

def shared_substring_spans(df: DataFrame) -> DataFrame:
    """Span-level exact-substring dedup (the Lee-et-al. training-data
    operator): every MAXIMAL run of >= ``min_tokens`` = 12 consecutive
    tokens
    that two documents share verbatim, as
    ``(id_a, id_b, a_start, b_start, n_tokens)`` with 1-based token
    positions — the output a pipeline needs to CUT duplicated spans, not
    just drop whole documents.

    Plan (the suffix-array semantics re-expressed as joins):
    1. slide a ``min_tokens`` window over each token array (materialized
       attribute — the HOF per-element re-eval trap) and hash each
       window with sha2 (engine-portable);
    2. per-gram doc frequency gates the self-join BOTH ways: ``df >= 2``
       anti-prunes the (overwhelmingly) unique grams before any pair is
       formed, and ``df <= max_gram_docs`` = 200 caps boilerplate skew
       — a gram shared by millions of pages would otherwise form a
       quadratic pair set (at 100 TB this cap is what keeps the op
       bounded; the dropped grams are exactly the ones a boilerplate
       filter should handle upstream);
    3. equi-join window hashes (id_a < id_b), then merge consecutive
       matching positions per (pair, diagonal) into maximal spans with
       the islands trick: ``pos - row_number()`` is constant within a
       run — one window + one hash-agg, no iterative extension.
    """
    min_tokens, max_gram_docs = 12, 200
    toks = df.select(F.col("doc_id").alias("id"),
                     tokens_col().alias("__toks"))
    win = F.when(
        F.size("__toks") >= min_tokens,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (min_tokens - 1)),
            lambda i: F.substring(
                F.sha2(F.concat_ws(" ", F.slice(F.col("__toks"), i,
                                                min_tokens)), 256),
                1, 16)),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select("id", F.posexplode(win).alias("pos0", "gh")) \
        .select("id", (F.col("pos0") + 1).alias("pos"), "gh")

    shareable = (grams.groupBy("gh")
                 .agg(F.countDistinct("id").alias("gdf"))
                 .filter((F.col("gdf") >= 2)
                         & (F.col("gdf") <= max_gram_docs))
                 .select("gh"))
    cand = grams.join(shareable, "gh")      # unique grams never pair

    a, b = cand.alias("a"), cand.alias("b")
    matches = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                      & (F.col("a.id") < F.col("b.id")))
               .select(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"),
                       F.col("a.pos").alias("a_pos"),
                       F.col("b.pos").alias("b_pos")))
    w = Window.partitionBy("id_a", "id_b",
                           F.col("a_pos") - F.col("b_pos")) \
        .orderBy("a_pos")
    runs = matches.withColumn(
        "run", F.col("a_pos") - F.row_number().over(w))
    return (runs.groupBy("id_a", "id_b",
                         (F.col("a_pos") - F.col("b_pos")).alias("__diag"),
                         "run")
            .agg(F.min("a_pos").cast("long").alias("a_start"),
                 F.min("b_pos").cast("long").alias("b_start"),
                 (F.count("*") + (min_tokens - 1)).cast("long")
                 .alias("n_tokens"))
            .drop("__diag", "run"))
