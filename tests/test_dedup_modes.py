"""Production (xxhash64) vs oracle (sha2) hash-mode agreement for the
dedup ladder: both configurations must find the planted duplicates.

The two modes use different hash families, so borderline-Jaccard candidate
sets may differ — but exact duplicates (identical signatures by
construction) and strong near-dups (collision probability ≈ 1 at these
band parameters) must be found by both.
"""

import random
import re

import pytest

from databricks_pdf_ocr_spark.operators import dedup

_VOCAB = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu merge join sort hash "
          "scan filter").split()


def _text(rng, n=80):
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(99)
    rows = [(f"doc{i}", _text(rng)) for i in range(20)]
    dup_text = _text(rng)
    rows += [("dup_a", dup_text), ("dup_b", dup_text)]
    near = _text(rng).split()
    near_b = list(near)
    near_b[40] = "CHANGED"
    rows += [("near_a", " ".join(near)), ("near_b", " ".join(near_b))]
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.mark.parametrize("mode", ["sha2", "xxhash64"])
def test_minhash_lsh_finds_planted_dups(corpus, mode):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_lsh_pairs(corpus, hash_mode=mode).collect()}
    assert ("dup_a", "dup_b") in pairs
    assert ("near_a", "near_b") in pairs


@pytest.mark.parametrize("mode", ["sha2", "xxhash64"])
def test_simhash_modes(corpus, mode):
    fp = {r["id"]: r["simhash"] for r in
          dedup.simhash(corpus, hash_mode=mode).collect()}
    assert fp["dup_a"] == fp["dup_b"]
    assert 0 <= fp["dup_a"] < 2 ** 32
    assert bin(fp["near_a"] ^ fp["near_b"]).count("1") <= 6
    if mode == "sha2":              # simhash_pairs' token hash
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
                 dedup.simhash_pairs(corpus).collect()}
        assert pairs[("dup_a", "dup_b")] == 0
        assert ("near_a", "near_b") in pairs


def test_modes_agree_true_on_dup_free_corpus(spark, tmp_path):
    """ADVICE r3: zero verified pairs in BOTH hash families → union 0 →
    the agreement ratio is null; the gate must report vacuous agreement
    (true), not null/fail."""
    from databricks_pdf_ocr_spark import queries as Q

    rng = random.Random(5)
    # texts with disjoint vocabulary chunks — no near-dup pairs survive
    rows = [(f"u{i}", " ".join(f"w{i}_{j}" for j in range(60)))
            for i in range(12)]
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id string, text string") \
        .write.parquet(f"{sf_dir}/documents.parquet")
    out = Q.queries()["dedup_modes_agree"](spark, sf_dir).collect()
    assert len(out) == 1
    assert out[0]["n_sha2_pairs"] == 0
    assert out[0]["modes_agree"] is True


#: ``dedup.SMALL_GRAPH_EDGES`` values pinning each components path: 0
#: sends every non-empty pair set to the frontier loop, the default sends
#: these small graphs to the driver-side union-find
BOUNDS = (0, dedup.SMALL_GRAPH_EDGES)


def test_neardup_components_empty_pairs(spark, monkeypatch):
    """An empty pair set (the common clean-corpus case) must return an
    empty (node, comp) frame with the pair id type and report rounds=0,
    whether the input is lazy or already materialized, under either
    components bound."""
    empty = spark.createDataFrame([], "doc_a string, doc_b string")
    for bound in BOUNDS:
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", bound)
        for pairs in (empty, empty.localCheckpoint()):
            st = {}
            out = dedup.neardup_components(pairs, stats=st)
            assert out.columns == ["node", "comp"]
            assert out.schema["node"].dataType.simpleString() == "string"
            assert out.count() == 0
            assert st["rounds"] == 0


def test_neardup_components_transitive_chain(spark, monkeypatch):
    """a~b and b~c (no a~c pair) must land in ONE component labeled by
    the smallest id; disjoint pairs stay separate.  Frontier path (bound
    pinned at 0): rounds == graph diameter, and a too-small max_iter
    raises instead of returning partial labels.  Driver path (default
    bound): no propagation round, so no round budget to run out of."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("y", "x")],
        "doc_a string, doc_b string")
    # long chain: diameter 6 needs several frontier rounds
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)],
        "doc_a string, doc_b string")
    # bound → (rounds for a-b-c, whether max_iter=1 on the chain raises)
    for bound, rounds, raises in ((0, 2, True),
                                  (dedup.SMALL_GRAPH_EDGES, 0, False)):
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", bound)
        st = {}
        comp = {r["node"]: r["comp"]
                for r in dedup.neardup_components(pairs, stats=st).collect()}
        assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
        # frontier propagation: no extra full-graph no-change sweep
        assert st["rounds"] == rounds, bound
        comp2 = {r["node"]: r["comp"]
                 for r in dedup.neardup_components(chain).collect()}
        assert set(comp2.values()) == {"n0"}
        if raises:
            with pytest.raises(ValueError, match="did not converge"):
                dedup.neardup_components(chain, max_iter=1)
        else:
            assert {r["comp"] for r in dedup.neardup_components(
                chain, max_iter=1).collect()} == {"n0"}


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_neardup_components_random_graphs_vs_union_find(spark, monkeypatch,
                                                         seed):
    """Seeded random pair graphs: both components paths (frontier loop
    and driver union-find) must agree with a local union-find reference
    on every node, for int64 ids (the sf tables' doc_id) and string ids
    (the benchmark's), and keep the id type."""
    rng = random.Random(seed)
    nodes = list(range(30))
    pairs = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(25)})

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    in_graph = {n for p in pairs for n in p}
    expected = {n: min(m for m in in_graph if find(m) == find(n))
                for n in in_graph}

    for id_type, name in (("bigint", lambda n: n),
                          ("string", lambda n: f"v{n:02d}")):
        df = spark.createDataFrame([(name(a), name(b)) for a, b in pairs],
                                   f"doc_a {id_type}, doc_b {id_type}")
        for bound in BOUNDS:
            monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", bound)
            out = dedup.neardup_components(df)
            assert out.schema.simpleString() == \
                f"struct<node:{id_type},comp:{id_type}>", (id_type, bound)
            got = {r["node"]: r["comp"] for r in out.collect()}
            assert got == {name(n): name(c) for n, c in expected.items()}, \
                (id_type, bound)


def test_minhash_incremental_equals_from_scratch(spark, tmp_path):
    """Index upserts + delta-vs-all candidates must equal the
    from-scratch full-corpus pairs restricted to pairs touching the
    delta: in BOTH hash modes; with delta = everything upserted into an
    empty index (exactly the batch pairs — batch IS the incremental path
    with every document new); and verified (the stream's configuration)
    against the batch-verified pairs."""
    from pyspark.sql import functions as F

    from databricks_pdf_ocr_spark.sources.tables import TableIO

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    old = docs.filter(F.col("doc_id") < 350)
    new = docs.filter(F.col("doc_id") >= 350)
    # (case, indexed before the delta, delta, hash mode, verify threshold)
    cases = [("xxhash64", old, new, "xxhash64", None),
             ("sha2", old, new, "sha2", None),
             ("everything", None, docs, "sha2", None),
             ("verified", old, new, "xxhash64", 0.3)]
    for case, base, delta, mode, thr in cases:
        io = TableIO(spark, str(tmp_path / f"idx_{case}"))
        if base is not None:
            assert dedup.minhash_index_upsert(io, base, hash_mode=mode) > 0
        assert dedup.minhash_index_upsert(io, delta, hash_mode=mode) > 0
        assert dedup.minhash_index_upsert(io, delta, hash_mode=mode) == 0
        delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
        inc = {(r["doc_a"], r["doc_b"]) for r in
               dedup.minhash_lsh_pairs_incremental(
                   io, delta.select(F.col("doc_id").alias("id")),
                   docs=docs, verify_threshold=thr).collect()}
        full = {(r["doc_a"], r["doc_b"]) for r in
                dedup.minhash_lsh_pairs(docs, hash_mode=mode,
                                        verify_threshold=thr).collect()
                if r["doc_a"] in delta_ids or r["doc_b"] in delta_ids}
        assert full, case                      # non-vacuous comparison
        assert inc == full, case


def test_batch_lsh_forms_each_pair_once(corpus):
    """Batch pairs run the incremental band join with every row new: the
    ``new`` flag must constant-fold away, leaving ONE band join on
    ``a.id < b.id`` and no OR — each candidate is formed once, never
    from both sides of the join."""
    plan = (dedup.minhash_lsh_pairs(corpus)
            ._jdf.queryExecution().executedPlan().toString())
    joins = [ln for ln in plan.splitlines()
             if re.search(r"(HashJoin|SortMergeJoin|NestedLoopJoin) ", ln)]
    assert len(joins) == 1, plan
    assert re.search(r"\(id#\d+L? < id#\d+L?\)", joins[0]), plan
    assert " OR " not in plan, plan


def test_merge_components_equals_from_scratch(spark, monkeypatch):
    """Star-collapse merge: old labels + delta pairs must converge to
    exactly the from-scratch components over the full pair set —
    including a delta pair that BRIDGES two old components — on both
    components paths."""
    old_pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("x", "y")], "doc_a string, doc_b string")
    # delta: bridges {a,b} and {c,d}; attaches a brand-new node to x
    delta = spark.createDataFrame(
        [("b", "c"), ("x", "z")], "doc_a string, doc_b string")
    for bound in BOUNDS:
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", bound)
        old_labels = dedup.neardup_components(old_pairs)
        merged = {r["node"]: r["comp"] for r in
                  dedup.merge_components(old_labels, delta).collect()}
        full = {r["node"]: r["comp"] for r in
                dedup.neardup_components(
                    old_pairs.unionByName(delta)).collect()}
        assert merged == full, bound
        assert merged["d"] == "a" and merged["z"] == "x"
