"""Z-order layout operator (operators/layout).

Cross-engine parity of key + file assignment is covered by the
`zorder_layout` oracle row at all 3 sfs; here: exact Morton interleave
on corner values and the clustering property that justifies the
operator (bounded 2-D extents per file vs a 1-D sort).
"""

from __future__ import annotations

from databricks_pdf_ocr_spark.operators import layout


def test_morton_corners_exact(spark):
    # mn=0 / mx=65535 makes norm16 the identity, so corner keys are the
    # exact interleave constants.
    df = spark.createDataFrame(
        [(1, 0, 0), (2, 65535, 0), (3, 0, 65535), (4, 65535, 65535)],
        "id long, x long, y long")
    got = {r["id"]: r["zkey"] for r in
           layout.with_zorder_key(df, "x", "y").collect()}
    assert got == {1: 0, 2: 0x55555555, 3: 0xAAAAAAAA, 4: 0xFFFFFFFF}


def test_zorder_files_are_aligned_blocks(spark):
    # 32x32 grid, 64 rows/file: Morton order makes every file an 8x8
    # block (span 7 in BOTH dims); an x-sorted layout would give every
    # file the full y span (31).
    rows = [(x * 32 + y, x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    files = layout.zorder_layout_summary(df, "id", "x", "y", 64).collect()
    assert len(files) == 16
    for f in files:
        assert f["n_rows"] == 64
        assert f["max_x"] - f["min_x"] == 7
        assert f["max_y"] - f["min_y"] == 7


def test_dense_ids_match_global_order_on_skewed_input(spark):
    """Ids are exactly row_number-1 in key order regardless of how the
    sampled range boundaries split a skewed key distribution."""
    import random
    rng = random.Random(7)
    # heavy repetition region + sparse tail: range partitions end up
    # uneven, offsets must still compose to the exact global order
    keys = sorted({f"k{rng.randrange(10_000):05d}" for _ in range(3_000)})
    rng.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k string") \
        .repartition(13)
    got = {r["k"]: r["row_id"] for r in
           layout.assign_dense_ids(df, "k").collect()}
    expect = {k: i for i, k in enumerate(sorted(keys))}
    assert got == expect
