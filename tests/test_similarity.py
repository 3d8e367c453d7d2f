"""Similarity-search operators: exact vs approximate recall, determinism."""

import re

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return (emb.filter(F.col("vec_id") < 6)
            .select(F.col("vec_id").alias("query_id"), "embedding"))


def _as_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


def test_brute_force_topk_exact_and_deterministic(emb, queries):
    a = _as_map(S.brute_force_topk(emb, queries, k=5))
    b = _as_map(S.brute_force_topk(emb, queries, k=5))
    assert a == b and all(len(v) == 5 for v in a.values())


# The embeddings are unstructured random vectors, so recall@5 is bounded
# by the corpus share an index scans; the floors are the registered
# ann_lsh_recall / ann_ivf_recall gates': LSH (3 bands of 4 planes scan
# ~19%) must beat 0.25, IVF (4 of 16 lists, 25%) 0.40.

def test_lsh_recall_against_brute_force(emb, queries):
    exact = _as_map(S.brute_force_topk(emb, queries, k=5))
    dim = len(emb.select("embedding").first()[0])
    approx = _as_map(S.lsh_ann_topk(emb, queries, dim=dim))
    hits = sum(len(set(exact[q]) & set(approx.get(q, []))) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.25, f"LSH recall too low: {hits}/{total}"


def test_ivf_recall_against_brute_force(emb, queries):
    exact = _as_map(S.brute_force_topk(emb, queries, k=5))
    approx = _as_map(S.ivf_topk(emb, queries))
    hits = sum(len(set(exact[q]) & set(approx.get(q, []))) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.40, f"IVF recall too low: {hits}/{total}"


def test_ivf_assign_partitions_corpus(emb):
    assigned, centroids = S.ivf_assign(emb, n_clusters=8)
    rows = assigned.groupBy("cluster").count().collect()
    assert sum(r["count"] for r in rows) == emb.count()
    assert len(rows) >= 4, "clusters should be populated"
    assert sorted(r["cluster"] for r in centroids.collect()) == list(range(8))


def test_cosine_neardup_threshold(emb):
    pairs = S.cosine_neardup_pairs(emb, threshold=0.5)
    for r in pairs.limit(10).collect():
        assert r["cosine"] >= 0.5
        assert r["id_a"] < r["id_b"]


def test_semdedup_finds_planted_within_cluster_pair(spark):
    """Identical vectors land in the same cluster and surface as a
    cosine-1.0 pair; orthogonal vectors never pair."""
    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    ortho = [0.0, 1.0] + [0.0] * (dim - 2)
    near = [0.99, 0.1] + [0.0] * (dim - 2)
    rows = [(0, base), (1, base), (2, near), (3, ortho)] + [
        (10 + i, [0.0] * (dim - 1) + [float(i + 1)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in S.semantic_dedup_pairs(df, threshold=0.9).collect()}
    assert pairs.get((0, 1)) == 1.0
    assert all(0.9 <= c <= 1.0 for c in pairs.values())
    assert not any({a, b} & {3} for a, b in pairs)   # ortho never pairs


def test_semdedup_subset_of_brute_force_pairs(emb):
    """Every SemDeDup pair is a true cosine-threshold pair (the cluster
    restriction only DROPS candidates, never invents them)."""
    sem = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in S.semantic_dedup_pairs(emb, threshold=0.35).collect()}
    assert sem, "planted-free corpus still has >0 pairs at 0.35"
    brute = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in S.cosine_neardup_pairs(emb, threshold=0.35).collect()}
    for k, v in sem.items():
        assert k in brute and abs(brute[k] - v) < 2e-6


def test_ivf_indexed_equals_inmemory_and_prunes(spark, tmp_path):
    """The persisted-index probe path returns the exact in-memory ivf_topk
    rows, and its index scan directory-prunes to the clusters its probe
    chose, fewer than ``N_CLUSTERS``."""
    from databricks_pdf_ocr_spark.sources.tables import TableIO

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    io = TableIO(spark, str(tmp_path / "idx"))
    S.build_ivf_index(emb, io)

    mem = {tuple(r) for r in S.ivf_topk(emb, q).collect()}
    # the plan string truncates scan metadata at 100 characters unless
    # the limit is raised before the plan is built
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        idx_df = S.ivf_topk_indexed(io, q)
        assert {tuple(r) for r in idx_df.collect()} == mem
        plan = idx_df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)

    # pruning: the clusters the probe chose reach the index scan as its
    # PartitionFilters
    probed = {r["cluster"] for r in S._probe_clusters(
        q, io.read("ivf_index_centroids"), S.NPROBE)
        .select("cluster").distinct().collect()}
    m = re.search(r"/ivf_index\], PartitionFilters: "
                  r"\[cluster#\d+ IN(?:SET)? \(?([\d, ]+)", plan)
    assert m, plan
    assert {int(c) for c in re.findall(r"\d+", m.group(1))} == probed
    assert 0 < len(probed) < S.N_CLUSTERS


def test_quantize_roundtrip_error_and_zero_vector(spark):
    """Dequantized values must sit within scale/2 of the originals
    (symmetric int8 contract), and a zero vector quantizes to zeros with
    scale 0 instead of dividing by zero."""
    rows = [(0, [1.0, -0.5, 0.25, 0.127]), (1, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in S.quantize_embeddings(df).collect()}

    v0, q0, s0 = rows[0][1], out[0]["qvec"], out[0]["scale"]
    assert s0 == pytest.approx(1.0 / 127.0)
    assert all(abs(q * s0 - x) <= s0 / 2 + 1e-9 for q, x in zip(q0, v0))
    assert max(abs(q) for q in q0) == 127

    assert out[1]["scale"] == 0.0 and out[1]["qvec"] == [0, 0, 0, 0]


def test_lsh_indexed_equals_inmemory(spark, tmp_path, emb):
    """The persisted-signature index returns the exact in-memory
    lsh_ann_topk rows (the corpus matmul runs only at build time)."""
    from databricks_pdf_ocr_spark.sources.tables import TableIO

    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    io = TableIO(spark, str(tmp_path / "lshidx"))
    S.build_lsh_index(emb, io, dim=dim)
    mem = {tuple(r) for r in S.lsh_ann_topk(emb, q, dim=dim).collect()}
    idx = {tuple(r) for r in S.lsh_ann_topk_indexed(io, q, dim=dim).collect()}
    assert idx == mem and mem


def test_pack_plan_concat_and_chop(spark):
    """Hand-built shard: docs of 2000/3000/1200 tokens in 2048-token
    sequences — the 3000-token doc must span sequences 0→2, offsets
    exact."""
    from databricks_pdf_ocr_spark.operators.text_analysis import pack_plan

    rows = [(0, " ".join(["w"] * 2000)),
            (32, " ".join(["w"] * 3000)),       # same shard (id % 32 == 0)
            (64, " ".join(["w"] * 1200)),
            (1, " ".join(["w"] * 5))]           # different shard
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pack_plan(df).collect()}
    a, b, c, d = got[0], got[32], got[64], got[1]
    assert (a["first_seq"], a["last_seq"], a["start_in_seq"]) == (0, 0, 0)
    # doc 32 starts at token 2000 (seq 0), ends at 4999 (seq 2)
    assert (b["first_seq"], b["last_seq"], b["start_in_seq"]) == (0, 2, 2000)
    # doc 64 starts at 5000 (seq 2), ends at 6199 (seq 3)
    assert (c["first_seq"], c["last_seq"], c["start_in_seq"]) == (2, 3, 904)
    assert (d["shard"], d["first_seq"], d["start_in_seq"]) == (1, 0, 0)
    # every shard's layout is gapless: token spans tile the shard
    assert a["n_tokens"] + b["n_tokens"] == 5000


def test_pq_encode_shape_and_determinism(emb):
    dim = len(emb.select("embedding").first()[0])
    cbs = S.pq_train(emb, dim=dim)
    assert len(cbs) == S.PQ_M and all(len(cb) == S.PQ_KSUB for cb in cbs)
    assert all(len(c) == dim // S.PQ_M for cb in cbs for c in cb)
    codes = {r["id"]: list(r["codes"])
             for r in S.pq_encode(emb, cbs).collect()}
    again = {r["id"]: list(r["codes"])
             for r in S.pq_encode(emb, cbs).collect()}
    assert codes == again
    assert all(len(c) == S.PQ_M and all(0 <= x < S.PQ_KSUB for x in c)
               for c in codes.values())


def test_ivf_pq_recall_on_clustered_data(spark, monkeypatch):
    """PQ resolution comes from the codebooks fitting the data's
    cluster structure (on isotropic noise ANY strong compression
    destroys neighbor order — measured ~10% here vs 0.8% random).  On
    planted clusters, the standard embedding shape, IVF-PQ must
    recover the true neighbors.  The coarse index matches the planted
    shape: one list per center, probing two."""
    import hashlib

    monkeypatch.setattr(S, "N_CLUSTERS", 6)
    monkeypatch.setattr(S, "NPROBE", 2)

    dim, n_centers, per = 64, 6, 30

    def unit(seed, scale):
        h = hashlib.sha256(seed.encode()).digest() * 3
        return [scale * ((h[i] / 255.0) * 2 - 1) for i in range(dim)]

    rows = []
    for c in range(n_centers):
        center = unit(f"c{c}", 4.0)
        for j in range(per):
            noise = unit(f"n{c}:{j}", 0.3)
            rows.append((c * per + j,
                         [center[i] + noise[i] for i in range(dim)]))
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % per == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # pure ADC: same-cluster members share codes, so order WITHIN a
    # quantization cell is arbitrary — the guarantee is cell-level:
    # neighbors come from the query's planted cluster
    approx = _as_map(S.ivf_pq_topk(emb, q, dim=dim))
    in_cluster = total = 0
    for qq, ns in approx.items():
        for n in ns:
            total += 1
            in_cluster += (n // per) == (qq // per)
    assert total and in_cluster / total >= 0.8, \
        f"IVF-PQ cell recall too low: {in_cluster}/{total}"
    # ADC shortlist + exact re-rank (the production two-stage) must
    # recover the true top-k
    exact = _as_map(S.brute_force_topk(emb, q, k=5))
    rr = _as_map(S.ivf_pq_topk(emb, q, dim=dim, rerank=20))
    hits = sum(len(set(exact[qq]) & set(rr.get(qq, []))) for qq in exact)
    tot = sum(len(v) for v in exact.values())
    assert hits / tot >= 0.6, f"reranked recall too low: {hits}/{tot}"


def test_adc_equals_reconstructed_distance(emb, spark):
    """The ADC lookup-table path must equal the explicit
    reconstruction distance (same subspace-square sums)."""
    import numpy as np

    dim = len(emb.select("embedding").first()[0])
    cbs = S.pq_train(emb, dim=dim)
    cb = np.asarray(cbs)
    codes = {r["id"]: list(r["codes"])
             for r in S.pq_encode(emb, cbs).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.limit(10).collect()}
    dsub = dim // 4
    for qid, qv in list(vecs.items())[:3]:
        for nid, cs in list(codes.items())[:20]:
            recon = np.concatenate([cb[s][cs[s]] for s in range(4)])
            want = float(((qv - recon) ** 2).sum())
            qa = qv.reshape(4, dsub)
            lut = ((cb - qa[:, None, :]) ** 2).sum(axis=2)
            got = float(lut[np.arange(4), np.asarray(cs)].sum())
            assert abs(want - got) < 1e-9


def test_hard_negatives_band_and_rank(spark):
    from databricks_pdf_ocr_spark.operators import similarity as S
    from pyspark.sql import functions as F
    # query [1,0]; candidates at cosines 1.0 (positive band), ~0.94, 0.0
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [10.0, 0.0]), (2, [1.0, 0.36]),
         (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = [(r["neg_id"], r["rank"]) for r in
           S.hard_negative_topk(emb, q).orderBy("rank").collect()]
    # vec 1 (cos 1.0) excluded as in-band positive; 2 then 3 by cosine
    assert got == [(2, 1), (3, 2)]
