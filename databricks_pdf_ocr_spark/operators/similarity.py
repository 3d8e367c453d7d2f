"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
compute dot/norms with ``zip_with`` + ``aggregate`` (JVM-side array
kernels, no Python), rank with a window.  Scale path: random-hyperplane
LSH — bucket vectors by sign-bit signatures so candidate generation is an
equi-join on buckets instead of a full cross product; probe multiple
bucket permutations to recover recall.

No reference analogue (the reference has no vector ops); mandated by the
task brief as a first-class training-data-pipeline component.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import local_frame
from ..worker import drop_zip_importers

#: the approximate operators' fixed shape: ``TOP_K`` neighbours per
#: query; IVF over ``N_CLUSTERS`` k-means lists, probing the ``NPROBE``
#: nearest; LSH over ``N_PLANES`` hyperplane bits in ``BANDS`` bands;
#: PQ codes of ``PQ_M`` subspaces, each a ``PQ_KSUB``-entry codebook
TOP_K, N_CLUSTERS, NPROBE = 5, 16, 4
N_PLANES, BANDS = 12, 3
PQ_M, PQ_KSUB = 4, 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"),
                       lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_sim_double(a: Column, b: Column) -> Column:
    """Cosine with each element cast to double BEFORE the product.

    ``cosine_sim`` multiplies float32 elements in float32 (Spark keeps
    the narrower type inside the lambda), which loses ~1e-7 relative
    precision per product — enough for a pair to straddle a round(·, 6)
    boundary against an engine that multiplies in double (measured:
    0.352699 vs 0.352698 on the sf0.01 corpus).  Casting first makes the
    whole expression the same sequential double fold DuckDB's
    ``list_sum`` evaluates — bit-identical doubles, so rounding is safe.
    """
    dot = F.aggregate(F.zip_with(a, b,
                                 lambda x, y: x.cast("double") * y),
                      F.lit(0.0).cast("double"), lambda acc, v: acc + v)

    def norm(c):
        return F.sqrt(F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x),
            F.lit(0.0).cast("double"), lambda acc, v: acc + v))

    return dot / (norm(a) * norm(b))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan: broadcast-nested-loop join (queries are small by construction) →
    per-pair cosine → ``row_number`` window per query → rank ≤ k.  Self
    matches (same id) are excluded.  At 100 TB the corpus side stays
    partitioned and is scanned once; no shuffle of the big side.
    """
    # norms hoisted OUT of the per-pair expression: cosine_sim inline
    # would re-derive both norms for every (query, neighbor) pair —
    # 2·dim·|Q|·|N| interpreted HOF work instead of dim·(|Q|+|N|).  The
    # hoisted columns are the identical expressions over the identical
    # arrays, so dot/(qn·nn) is bit-equal to the inline form.
    q = F.broadcast(queries.select(F.col("query_id"),
                                   F.col("embedding").alias("qvec"))
                    .withColumn("__qn", _norm(F.col("qvec"))))
    pairs = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                              F.col("embedding").alias("nvec")) \
        .withColumn("__nn", _norm(F.col("nvec"))) \
        .crossJoin(q) \
        .filter(F.col("neighbor_id") != F.col("query_id")) \
        .select("query_id", "neighbor_id",
                F.round(_dot(F.col("qvec"), F.col("nvec"))
                        / (F.col("__qn") * F.col("__nn")), 6)
                .alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def quantized_cosine(a: Column, b: Column) -> Column:
    """Cosine over two int8-quantized vectors: the per-vector scales
    CANCEL in cosine (cos(s_a·qa, s_b·qb) = cos(qa, qb)), so scoring is
    exact integer dot products + one double division — the SIMD-friendly
    int8 kernel a 4×-compressed corpus scores with at scale, and
    engine-exact for the oracle (int sums have no float summation-order
    ambiguity)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    na = F.aggregate(F.transform(a, lambda x: (x * x).cast("long")),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(b, lambda x: (x * x).cast("long")),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    return dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))


def quantized_topk(quantized: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-``TOP_K`` under int8-quantized cosine:
    ``quantized``/``queries`` are ``quantize_embeddings`` outputs (id,
    scale, qvec).  Same
    broadcast-nested-loop shape as ``brute_force_topk``; zero vectors
    (all-0 qvec) are excluded on both sides — division by zero."""
    def norm_pos(col):
        return F.aggregate(F.transform(col, lambda x: (x * x).cast("long")),
                           F.lit(0).cast("long"), lambda acc, x: acc + x) > 0

    q = F.broadcast(queries.select(F.col("id").alias("query_id"),
                                   F.col("qvec").alias("qq"))
                    .filter(norm_pos(F.col("qvec"))))
    pairs = (quantized
             .select(F.col("id").alias("neighbor_id"),
                     F.col("qvec").alias("nq"))
             .filter(norm_pos(F.col("qvec")))
             .crossJoin(q)
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "neighbor_id",
                     F.round(quantized_cosine(F.col("qq"), F.col("nq")), 6)
                     .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cosine"))


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95
                         ) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Exact quadratic form for verification-scale inputs; the LSH variant
    below is the candidate generator at corpus scale.
    """
    e = embeddings.select(F.col("vec_id").alias("id"),
                          F.col("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.round(cosine_sim(F.col("a.v"), F.col("b.v")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs(embeddings: DataFrame,
                         threshold: float = 0.9) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space near-duplicate pairs
    found WITHIN k-means clusters — the scalable form of semantic dedup.

    The exact all-pairs cosine is O(N²); SemDeDup's observation is that
    semantic duplicates land in the same coarse cluster, so the quadratic
    term is bounded by cluster size: cluster with the same deterministic
    k-means the IVF index uses (``ivf_assign`` — sha2-ordered init, two
    Lloyd rounds, broadcast centroids), then compute exact cosine only
    inside each cluster via a cluster-keyed equi-join.  At 100 TB the
    join shuffles on the cluster key (``N_CLUSTERS`` of them; at scale
    the count grows with the corpus to keep clusters bounded) and
    nothing all-pairs survives.

    Output: (cluster, id_a, id_b, cosine) for pairs ≥ ``threshold``;
    downstream keeps ``min(id)`` per group exactly like the text
    near-dup ladder.
    """
    assigned, _ = ivf_assign(embeddings, N_CLUSTERS)
    a = assigned.select("cluster", F.col("id").alias("id_a"),
                        F.col("v").alias("__va"))
    b = assigned.select("cluster", F.col("id").alias("id_b"),
                        F.col("v").alias("__vb"))
    return (a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("cluster", "id_a", "id_b",
                    F.round(cosine_sim_double(F.col("__va"), F.col("__vb")), 6)
                    .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def plane_vector(p: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane components: sign from a sha256 bit of
    (1, p, i).  Pure driver-side model — no stored state, same plane
    set on every engine/run."""
    import hashlib
    return [1.0 if int(hashlib.sha256(f"1:{p}:{i}".encode())
                       .hexdigest()[:4], 16) % 2 == 0 else -1.0
            for i in range(dim)]


def hyperplane_signature(vec_col: Column, dim: int) -> Column:
    """Random-hyperplane LSH signature (``N_PLANES``-bit mask) as a
    vectorized pandas UDF: one BLAS matmul per Arrow batch (V @ P.T),
    sign bits packed into a long.  A pure column-expression variant
    (N_PLANES nested ``aggregate``/``zip_with`` lambdas) measured ~10x
    slower — deep higher-order-function trees fall out of codegen;
    embedding math belongs in numpy.
    """
    import numpy as np

    planes = np.array([plane_vector(p, dim) for p in range(N_PLANES)])
    weights = np.power(2.0, np.arange(N_PLANES))

    @F.pandas_udf("long")
    def sig(v):  # pd.Series of list[float] -> pd.Series of long
        drop_zip_importers()
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        if len(mat) == 0:
            return v.iloc[0:0].astype("int64")
        bits = (mat @ planes.T) >= 0
        import pandas as pd
        return pd.Series((bits @ weights).astype("int64"))

    return sig(vec_col)


def assign_to_centroids(e: DataFrame, cdf: DataFrame) -> DataFrame:
    """(id, v) rows → (id, v, cluster): nearest-centroid argmin against
    a broadcast centroid table via ``min_by`` — one hash aggregate.  (A
    chained-when argmin over k aliased distance expressions gets
    inline-substituted by Catalyst into an exponentially large Project —
    OOMs the driver at k=16, dim=64.)"""
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("cvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"), lambda a, x: a + x)
    pairs = e.crossJoin(F.broadcast(cdf)).withColumn("dist", dist)
    return (pairs.groupBy("id")
            .agg(F.min_by("cluster", F.struct("dist", "cluster"))
                 .alias("cluster"),
                 F.first("v").alias("v"))
            .select("id", "v", "cluster"))


def _centroid_frame(spark, centroids: list) -> DataFrame:
    """``(cluster, cvec)``: k-means centroids (cluster = list index) as
    an Arrow-built frame, the tiny table every IVF step broadcasts."""
    return local_frame(
        spark, [(ci, [float(x) for x in c]) for ci, c in enumerate(centroids)],
        "cluster int, cvec array<double>")


def _kmeans(e: DataFrame, n_clusters: int) -> list:
    """Deterministic k-means over ``(id, v)`` rows; returns the
    ``n_clusters`` centroids.

    Centroid init: the ``n_clusters`` vectors with the smallest
    ``sha2(id)`` (a deterministic pseudo-random sample, no RNG state;
    sha2 rather than xxhash64 so the ordering is ENGINE-PORTABLE — the
    DuckDB correctness oracle recomputes the same k-means end-to-end);
    then two Lloyd rounds — assign via broadcast nearest-centroid,
    update via per-cluster mean (one hash-agg shuffle per round).
    """
    seed_rows = (e.withColumn("h", F.sha2(F.col("id").cast("string"), 256))
                 .orderBy("h").limit(n_clusters).select("v").collect())
    centroids = [list(r["v"]) for r in seed_rows]
    dim = len(centroids[0])
    for _ in range(2):
        assigned = assign_to_centroids(
            e, _centroid_frame(e.sparkSession, centroids))
        means = (assigned.groupBy("cluster")
                 .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}")
                        for i in range(dim)])
                 .collect())
        new = {r["cluster"]: [r[f"m{i}"] for i in range(dim)]
               for r in means}
        centroids = [new.get(ci, centroids[ci]) for ci in range(len(centroids))]
    return centroids


def ivf_assign(embeddings: DataFrame, n_clusters: int
               ) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: ``_kmeans`` over the corpus, then every
    vector assigned to its nearest centroid.  Returns (assignments
    [id, v, cluster], centroid frame [cluster, cvec]).

    Scale: centroids are tiny and broadcast; the corpus is scanned once
    per round; the final assignment is the IVF index one would persist
    as a table partitioned by cluster.
    """
    e = embeddings.select(F.col("vec_id").alias("id"),
                          F.col("embedding").alias("v"))
    cdf = _centroid_frame(embeddings.sparkSession, _kmeans(e, n_clusters))
    return assign_to_centroids(e, cdf), cdf


def ivf_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF approximate top-``TOP_K``: probe the ``NPROBE`` nearest
    clusters per query, exact cosine within candidates.

    The assignment side is the persisted index at scale (partition/bucket
    by cluster → query touches NPROBE/N_CLUSTERS of the corpus).
    """
    assigned, cdf = ivf_assign(embeddings, N_CLUSTERS)
    # nearest clusters per query, fully distributed: broadcast the tiny
    # centroid table onto the queries side and rank with a per-query
    # window — no .collect() of user data (queries can be arbitrarily
    # large; only the k×dim centroid model rides the driver).
    probes = _probe_clusters(queries, cdf, NPROBE)
    cands = assigned.join(F.broadcast(probes), "cluster") \
        .filter(F.col("id") != F.col("query_id"))
    scored = cands.select(
        "query_id", F.col("id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("qv"), F.col("v")), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def ivf_topk_quantized(embeddings: DataFrame,
                       queries: DataFrame) -> DataFrame:
    """IVF probe + int8-quantized candidate scoring — the full
    memory-compressed ANN path: the coarse quantizer (float k-means
    centroids, tiny) routes queries, while candidate re-ranking runs on
    the 4×-compressed int8 vectors (``quantized_cosine`` — exact int
    dot products; scales cancel).  What a 100 TB vector corpus actually
    serves: float centroids in memory, quantized vectors on disk."""
    assigned, cdf = ivf_assign(embeddings, N_CLUSTERS)
    qz = quantize_embeddings(embeddings).select(F.col("id"), F.col("qvec"))
    probes = _probe_clusters(queries, cdf, NPROBE)
    # quantization is per-vector, so the (small) query side quantizes
    # independently — only query-sized tables are broadcast, never the
    # quantized corpus
    qz_q = quantize_embeddings(queries, id_col="query_id") \
        .select(F.col("id").alias("query_id"), F.col("qvec").alias("qq"))
    cands = (assigned.select("cluster", "id")
             .join(F.broadcast(probes.select("query_id", "cluster")),
                   "cluster")
             .filter(F.col("id") != F.col("query_id"))
             .join(qz.withColumnRenamed("qvec", "nq"), "id")
             .join(F.broadcast(qz_q), "query_id"))
    scored = cands.select(
        "query_id", F.col("id").alias("neighbor_id"),
        F.round(quantized_cosine(F.col("qq"), F.col("nq")), 6)
        .alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cosine"))


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` — 4× smaller
    embedding storage (the difference between 100 TB and 25 TB of
    vectors) at ~0.4 % max reconstruction error, the standard first rung
    before product quantization.

    Pure column expressions (JVM, codegen).  The scale is materialized
    in its OWN projection before the quantizing ``transform`` — an
    expression referenced inside a HOF lambda body re-evaluates per
    element (the shingle lesson), which would make this O(dim²) per
    vector.  Zero vectors quantize to zeros with scale 0 (try_divide).

    Output: ``(id, scale, qvec array<int>)``; dequantization is
    ``q_i * scale``.
    """
    amax = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.abs(x)),
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, x))
    staged = df.select(F.col(id_col).alias("id"),
                       F.col("embedding").alias("__v"),
                       (amax / F.lit(127.0)).alias("scale"))
    q = F.transform(
        F.col("__v"),
        lambda x: F.coalesce(
            F.round(F.try_divide(x, F.col("scale")), 0), F.lit(0.0))
        .cast("int"))
    return staged.select("id", "scale", q.alias("qvec"))


def _probe_clusters(queries: DataFrame, cdf: DataFrame, nprobe: int
                    ) -> DataFrame:
    """(query_id, cluster, qv): each query's ``nprobe`` nearest centroids
    — broadcast the tiny centroid table, rank with a per-query window
    (no driver collect of query data)."""
    qdist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"), lambda a, x: a + x)
    wq = Window.partitionBy("query_id").orderBy("dist", "cluster")
    return (queries
            .select(F.col("query_id"), F.col("embedding").alias("qv"))
            .crossJoin(F.broadcast(cdf))
            .withColumn("dist", qdist)
            .withColumn("__r", F.row_number().over(wq))
            .filter(F.col("__r") <= nprobe)
            .select("query_id", "cluster", "qv"))


def build_ivf_index(embeddings: DataFrame, io) -> None:
    """Persist the IVF index: assignments PARTITIONED BY cluster
    (``ivf_index``) plus the tiny centroid model table
    (``ivf_index_centroids``).

    This is the at-100-TB shape ``ivf_topk`` only describes: build once,
    probe many times — each query batch reads ``NPROBE/N_CLUSTERS`` of
    the corpus via partition-directory pruning instead of re-running
    k-means per query call.
    """
    assigned, cdf = ivf_assign(embeddings, N_CLUSTERS)
    io.overwrite(assigned, "ivf_index", partition_by=["cluster"])
    io.overwrite(cdf, "ivf_index_centroids")


def ivf_index_upsert(io, new_embeddings: DataFrame) -> int:
    """Incremental index maintenance: assign NEW vectors to the
    EXISTING centroid model and append them cluster-partitioned —
    absorbing a corpus delta without re-running k-means over the full
    corpus (at 100 TB a rebuild per ingest batch is a non-starter;
    periodic re-clustering remains an offline maintenance op, exactly
    like checkpoint compaction).

    Idempotent: ids already present are skipped via an anti-join on a
    column-pruned id scan of the index, so re-running a crashed ingest
    batch appends nothing twice.  Returns the number of rows appended.

    Scale shape: one broadcast of the model-sized centroid table, one
    hash-agg argmin over ONLY the delta, one anti-join against the
    pruned id column, and a partitioned append that touches only the
    clusters the delta lands in.
    """
    cdf = io.read("ivf_index_centroids")
    e = new_embeddings.select(F.col("vec_id").alias("id"),
                              F.col("embedding").alias("v"))
    pending = e.join(io.read("ivf_index").select("id"), "id", "left_anti")
    assigned = assign_to_centroids(pending, cdf).localCheckpoint()
    n = assigned.count()
    if n:
        io.append(assigned, "ivf_index", partition_by=["cluster"])
    return int(n)


def ivf_topk_indexed(io, queries: DataFrame) -> DataFrame:
    """Approximate top-``TOP_K`` against a PERSISTED IVF index
    (build_ivf_index).

    The distinct probed clusters are collected driver-side — bounded by
    ``N_CLUSTERS`` ints regardless of query count (model-sized
    control-plane data, never query data) — and applied as a static
    ``isin`` on the partition column: guaranteed directory pruning (DPP
    declines to fire for broadcast-semi joins without a selective
    build-side predicate — PLANS.md), so a probe touches only
    ``NPROBE/N_CLUSTERS`` of the corpus on disk.
    """
    cdf = io.read("ivf_index_centroids")
    probes = _probe_clusters(queries, cdf, NPROBE)
    probed = sorted({r["cluster"] for r in
                     probes.select("cluster").distinct().collect()})
    assigned = (io.read("ivf_index")
                .filter(F.col("cluster").isin(probed) if probed
                        else F.lit(False)))
    cands = assigned.join(F.broadcast(probes), "cluster") \
        .filter(F.col("id") != F.col("query_id"))
    scored = cands.select(
        "query_id", F.col("id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("qv"), F.col("v")), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def _banded(df: DataFrame, idc: str, out_id: str, dim: int) -> DataFrame:
    """(id, vec, band_idx, band_val) — the signature rows both the
    in-memory path and the persisted index share."""
    r = N_PLANES // BANDS
    mask = (1 << r) - 1
    sig = hyperplane_signature(F.col("embedding"), dim)
    bandv = F.array(*[
        F.shiftright(sig, b * r).bitwiseAND(F.lit(mask)).alias(f"b{b}")
        for b in range(BANDS)
    ])
    return df.select(F.col(idc).alias(out_id),
                     F.col("embedding").alias(out_id + "_v"),
                     F.posexplode(bandv).alias("band_idx", "band_val"))


def _score_banded_candidates(joined: DataFrame) -> DataFrame:
    """Band-join candidate rows → exact top-``TOP_K``, shuffling SCORES not
    vectors: the old shape deduplicated band collisions with a
    ``distinct`` that carried BOTH embedding arrays through its exchange
    (~20x the bytes of the ids), then ranked with a row_number window
    (a second exchange + full sort).  Here the cosine is computed on the
    band-duplicate rows (≤ bands copies, all identical — the join output
    is still co-located with the corpus scan), deduplicated by a
    (query, neighbor) hash-agg over 3-column rows, and the per-query
    top-k is array_sort + slice inside ONE more hash-agg — each query
    sorts only its own candidate list, no partition-wide sort.
    Ordering key (-cosine, neighbor_id) ascending == the old window's
    (cosine desc, neighbor_id asc); negation is exact, so ranks and
    emitted values are unchanged."""
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(cosine_sim(F.col("query_id_v"), F.col("neighbor_id_v")), 6)
        .alias("cosine"))
    uniq = scored.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine"))       # duplicates are identical
    top = F.slice(F.array_sort(F.collect_list(
        F.struct((-F.col("cosine")).alias("nc"), F.col("neighbor_id")))),
        1, TOP_K)
    return (uniq.groupBy("query_id").agg(top.alias("__t"))
            .select("query_id", F.posexplode("__t").alias("pos", "t"))
            .select("query_id",
                    F.col("t.neighbor_id").alias("neighbor_id"),
                    (F.col("pos") + 1).cast("int").alias("rank"),
                    (-F.col("t.nc")).alias("cosine")))


def build_lsh_index(embeddings: DataFrame, io, dim: int = 16) -> None:
    """Persist the LSH signature table ``lsh_index`` — the index an
    at-scale ANN deployment builds ONCE: the corpus-side pandas-UDF
    signature matmul (the expensive stage) never re-runs per query batch;
    probes are an equi-join against these rows.  (Unlike the IVF index
    there is no partition-pruning win — every query touches all band_idx
    values — the win is amortizing signature compute + scan-ready
    banding.)"""
    io.overwrite(_banded(embeddings, "vec_id", "neighbor_id", dim),
                 "lsh_index")


def lsh_index_upsert(io, new_embeddings: DataFrame, dim: int = 16) -> int:
    """Incremental signature-index maintenance: band signatures are a
    pure per-vector function of the FROZEN hyperplanes, so absorbing a
    corpus delta is exactly the signature matmul over the delta plus an
    append — no global state to revisit (the LSH twin of
    ``ivf_index_upsert``).  Idempotent via an anti-join on the pruned
    id column; returns rows appended (rows = |delta| × 3 bands)."""
    existing = io.read("lsh_index").select(F.col("neighbor_id").alias("id"))
    pending = (new_embeddings     # left_anti needs no distinct right side
               .join(existing, F.col("vec_id") == F.col("id"), "left_anti"))
    banded = _banded(pending, "vec_id", "neighbor_id", dim).localCheckpoint()
    n = banded.count()
    if n:
        io.append(banded, "lsh_index")
    return int(n)


def lsh_ann_topk_indexed(io, queries: DataFrame,
                         dim: int = 16) -> DataFrame:
    """Approximate top-``TOP_K`` against a persisted signature index
    (build_lsh_index): only the (small) query side computes signatures;
    candidates come from the band equi-join against the stored rows."""
    c = io.read("lsh_index")
    q = F.broadcast(_banded(queries, "query_id", "query_id", dim))
    return _score_banded_candidates(
        c.join(q, ["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id")))


def lsh_ann_topk(embeddings: DataFrame, queries: DataFrame,
                 dim: int = 16) -> DataFrame:
    """Approximate top-``TOP_K``: hyperplane-signature bands → bucket
    equi-join → exact cosine re-rank within candidates.

    The signature splits into ``BANDS`` sub-signatures; a corpus vector is
    a candidate if it shares ≥1 band with the query (multi-probe recall).
    Scale: corpus signatures are computed once (a narrow projected column,
    ideal for writing back as an index table); the join is an equi-join on
    (band_idx, band_value) — shuffle keyed on small ints, no cross product.
    """
    c = _banded(embeddings, "vec_id", "neighbor_id", dim)
    q = F.broadcast(_banded(queries, "query_id", "query_id", dim))
    return _score_banded_candidates(
        c.join(q, ["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id")))


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ): the memory-compressed ANN serving shape
# ---------------------------------------------------------------------------

def pq_train(embeddings: DataFrame, dim: int):
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    space splits into ``PQ_M`` subspaces of dim/PQ_M and each gets its
    own ``PQ_KSUB``-centroid k-means codebook — so a vector stores as
    PQ_M small codes (PQ_M bytes at PQ_KSUB ≤ 256) instead of dim floats.

    Reuses the deterministic ``_kmeans`` recursion per subspace slice
    (sha2-seeded init, Lloyd rounds, engine-portable arithmetic); the
    returned model is PQ_M × PQ_KSUB × (dim/PQ_M) floats —
    control-plane sized, like the coarse centroids."""
    dsub = dim // PQ_M
    if dsub * PQ_M != dim:
        raise ValueError(f"dim {dim} not divisible by {PQ_M}")
    codebooks = []
    for s in range(PQ_M):
        sub = embeddings.select(
            F.col("vec_id").alias("id"),
            F.slice(F.col("embedding"), s * dsub + 1, dsub).alias("v"))
        codebooks.append([[float(x) for x in c]
                          for c in _kmeans(sub, PQ_KSUB)])
    return codebooks


def pq_encode(embeddings: DataFrame, codebooks) -> DataFrame:
    """(id, vector) → (id, codes array<int>): nearest codebook entry
    per subspace.  ONE broadcast crossJoin against the m·ksub codebook
    rows + two hash-aggs (per-(id,sub) argmin via ``min_by``, then
    ordered code assembly) — the same engine-portable arithmetic the
    DuckDB oracle replays, never a chained-when argmin."""
    dsub = len(codebooks[0][0])
    cdf = local_frame(
        embeddings.sparkSession,
        [(s, ci, c) for s, cb in enumerate(codebooks)
         for ci, c in enumerate(cb)],
        "sub int, code int, cvec array<double>")
    e = embeddings.select(F.col("vec_id").alias("id"),
                          F.col("embedding").alias("v"))
    sub_slice = F.slice(F.col("v"), F.col("sub") * dsub + 1, dsub)
    dist = F.aggregate(
        F.zip_with(sub_slice, F.col("cvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"), lambda a, x: a + x)
    pairs = e.crossJoin(F.broadcast(cdf)).withColumn("dist", dist)
    per_sub = (pairs.groupBy("id", "sub")
               .agg(F.min_by("code", F.struct("dist", "code"))
                    .alias("code")))
    return (per_sub.groupBy("id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda st: st["code"]).alias("codes")))


def _adc_scorer(codebooks):
    """Asymmetric-distance scorer: per query, an m × ksub lookup table
    of subspace distances (one numpy broadcastized square per distinct
    query, cached per Arrow batch); each candidate scores as m table
    lookups — the PQ hot path, no reconstruction materialized."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)    # m x ksub x dsub
    m, _ksub, dsub = cb.shape

    @F.pandas_udf("double")
    def adc(qv, codes):
        import pandas as pd
        drop_zip_importers()
        out = []
        luts: dict = {}
        idx = np.arange(m)
        for q, cs in zip(qv, codes):
            tq = tuple(q)
            lut = luts.get(tq)
            if lut is None:
                qa = np.asarray(q, dtype=np.float64).reshape(m, dsub)
                lut = ((cb - qa[:, None, :]) ** 2).sum(axis=2)
                luts[tq] = lut
            out.append(float(lut[idx, np.asarray(cs)].sum()))
        return pd.Series(out, dtype="float64")

    return adc


def ivf_pq_topk(embeddings: DataFrame, queries: DataFrame, dim: int,
                rerank: int | None = None) -> DataFrame:
    """IVF-PQ approximate top-``TOP_K``: float coarse centroids route
    queries (``NPROBE`` of ``N_CLUSTERS`` lists), candidates score by
    asymmetric distance against their ``PQ_M``-byte PQ codes.  The
    100 TB serving shape one step beyond int8: the corpus holds
    dim/PQ_M-fold-compressed codes, only the two tiny models (coarse
    centroids + codebooks) and the query batch are broadcast.  Returns
    (query_id, neighbor_id, rank, dist) ranked by ascending ADC
    distance."""
    assigned, cdf = ivf_assign(embeddings, N_CLUSTERS)
    codebooks = pq_train(embeddings, dim=dim)
    codes = pq_encode(embeddings, codebooks)
    probes = _probe_clusters(queries, cdf, NPROBE)
    cands = (assigned.select("cluster", "id")
             .join(F.broadcast(probes.select("query_id", "cluster", "qv")),
                   "cluster")
             .filter(F.col("id") != F.col("query_id"))
             .join(codes, "id"))
    adc = _adc_scorer(codebooks)
    scored = cands.select(
        "query_id", F.col("id").alias("neighbor_id"), "qv",
        F.round(adc(F.col("qv"), F.col("codes")), 6).alias("dist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("neighbor_id"))
    if rerank is None:
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= TOP_K)
                .select("query_id", "neighbor_id",
                        F.col("rank").cast("int").alias("rank"), "dist"))
    # two-stage serving: ADC shortlist of `rerank` candidates per query
    # (order within a shared-code cell is arbitrary — ties cut by
    # neighbor_id, deterministically), then exact cosine over the
    # shortlist's float vectors — the only stage that touches them
    short = (scored.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= rerank)
             .drop("rn", "dist"))
    vecs = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("embedding").alias("nv"))
    rr = short.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id",
        F.round(cosine_sim(F.col("qv"), F.col("nv")), 6).alias("cosine"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("neighbor_id"))
    return (rr.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cosine"))


def hard_negative_topk(embeddings: DataFrame,
                       queries: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    ``TOP_K`` MOST similar vectors strictly below the positive band
    (``cosine < 0.95``) — similar enough to be informative,
    dissimilar enough to be true negatives.

    Same scale shape as :func:`brute_force_topk` (broadcast query side,
    corpus scanned once, per-query window); the threshold compares the
    ROUNDED cosine so any engine draws the band at the same boundary.
    Production swaps the scan for IVF/LSH probes (the indexed ANN
    operators) with the same band filter.
    """
    q = F.broadcast(queries.select(F.col("query_id"),
                                   F.col("embedding").alias("qvec")))
    pairs = (embeddings.select(F.col("vec_id").alias("neg_id"),
                               F.col("embedding").alias("nvec"))
             .crossJoin(q)
             .filter(F.col("neg_id") != F.col("query_id"))
             .select("query_id", "neg_id",
                     F.round(cosine_sim(F.col("qvec"), F.col("nvec")), 6)
                     .alias("cosine"))
             .filter(F.col("cosine") < F.lit(0.95)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                              F.asc("neg_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neg_id", "rank", "cosine"))
