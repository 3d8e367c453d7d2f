"""Span-level exact-substring dedup: maximal-run merging, disjoint
spans, the boilerplate df-cap guard, and short-doc safety."""

from databricks_pdf_ocr_spark.operators import dedup


# ---------------------------------------------------------------------------
# exact-substring spans
# ---------------------------------------------------------------------------

def _span_rows(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted((r["id_a"], r["id_b"], r["a_start"], r["b_start"],
                   r["n_tokens"])
                  for r in dedup.shared_substring_spans(df).collect())


def test_substring_spans_maximal_run_and_offsets(spark):
    shared = " ".join(f"s{i}" for i in range(16))
    rows = [(1, "a1 a2 a3 " + shared + " a4"),
            (2, "b1 " + shared),
            (3, " ".join(f"c{i}" for i in range(13)))]
    assert _span_rows(spark, rows) == [(1, 2, 4, 2, 16)]


def test_substring_spans_two_disjoint_spans_per_pair(spark):
    s1 = " ".join(f"x{i}" for i in range(12))
    s2 = " ".join(f"y{i}" for i in range(13))
    rows = [(1, s1 + " gap1 gap2 " + s2),
            (2, s2 + " other filler words here " + s1)]
    got = _span_rows(spark, rows)
    assert got == [(1, 2, 1, 18, 12), (1, 2, 15, 1, 13)]


def test_substring_spans_boilerplate_cap(spark):
    """A gram shared by more than 200 docs must be dropped — the
    quadratic-pair guard."""
    bp = " ".join(f"b{i}" for i in range(12))
    rows = [(i, f"u{i} " + bp) for i in range(201)]
    assert _span_rows(spark, rows) == []
    got = _span_rows(spark, rows[:200])
    assert len(got) == 200 * 199 // 2          # C(200,2), all pairs found


def test_substring_spans_short_docs_and_no_false_positives(spark):
    rows = [(1, "one two three"), (2, "one two three"),
            (3, " ".join(f"z{i}" for i in range(30)))]
    assert _span_rows(spark, rows) == []


# ---------------------------------------------------------------------------
# prefix-filter exact set-similarity join (AllPairs/PPJoin)
# ---------------------------------------------------------------------------

def _brute_jaccard_pairs(rows):
    """Sequential all-pairs truth with the same integer threshold math."""
    sets = {i: {w for w in text.lower().split(" ") if w} for i, text in rows}
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if inter * dedup.T_DEN >= uni * dedup.T_NUM:
                out.add((a, b, inter * 1000000 // uni))
    return out


def _prefix_pairs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.prefix_filter_pairs(df).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert len(pairs) == len(got)              # no duplicate pairs
    return {(r["doc_a"], r["doc_b"], r["jaccard_e6"]) for r in got}


def test_prefix_filter_matches_bruteforce(spark):
    """Exact recall AND precision vs a sequential all-pairs oracle on a
    corpus with graded overlap (identical, 19/21, 16/24, disjoint)."""
    base = [f"w{i}" for i in range(20)]
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base[:19] + ["x1"])),          # J = 19/21
        (3, " ".join(base)),                        # identical to 1
        (4, " ".join(base[:16] + ["y1", "y2", "y3", "y4"])),  # J = 16/24
        (5, " ".join(f"z{i}" for i in range(20))),  # disjoint
        (6, ""),                                    # empty → excluded
    ]
    got = _prefix_pairs(spark, rows)
    assert got == _brute_jaccard_pairs(rows)
    assert got == {(1, 3, 1000000)}


def test_prefix_filter_integer_ceil_boundary(spark):
    """n_tok=20 at t=19/20: float ceil(0.95·20)=ceil(19.000…004)=20
    would shrink the prefix to 1 token and can drop the identical pair
    when the kept token differs — the integer DIV path keeps p=2 and
    the boundary pair J=19/20 exactly at threshold must survive."""
    base = [f"w{i}" for i in range(19)]
    rows = [(1, " ".join(base + ["only_a"])),
            (2, " ".join(base + ["only_b"]))]        # J = 19/21 < 19/20
    got = _prefix_pairs(spark, rows)
    assert got == set()                                # below threshold
    rows2 = [(1, " ".join(base + ["only_a"])),
             (2, " ".join(base))]                      # J = 19/20 == t
    got2 = _prefix_pairs(spark, rows2)
    assert got2 == {(1, 2, 19 * 1000000 // 20)}
