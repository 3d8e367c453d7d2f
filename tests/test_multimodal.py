"""Perceptual media near-dup: dHash rows over the real image codecs and
the Hamming-banded pair join."""

import itertools
from pathlib import Path

from databricks_pdf_ocr_spark.operators import multimodal

DATA = Path(__file__).parent / "data"


# ---------------------------------------------------------------------------
# perceptual media near-dup (dHash)
# ---------------------------------------------------------------------------

def test_media_phash_rows_and_error_contract(spark):
    import hashlib

    from databricks_pdf_ocr_spark import fixtures
    from databricks_pdf_ocr_spark.functions import jpegenc

    rows = list(itertools.islice(fixtures.image_corpus_rows(7), 6))
    # the baseline-JPEG and lossy-WebP (VP8) decode routes
    grad = bytes((x * 9 + y * 5 + c * 40) % 256
                 for y in range(24) for x in range(32) for c in range(3))
    jpeg = jpegenc.encode_jpeg(grad, 32, 24)
    lossy = (DATA / "python.webp").read_bytes()
    rows += [("grad.jpg", jpeg), ("python.webp", lossy),
             ("broken", b"not an image at all")]
    df = spark.createDataFrame(rows, "name string, content binary")
    got = {r["media_id"]: r for r in multimodal.media_phash(df).collect()}
    assert sum(1 for r in got.values() if r["hash_ok"]) == 8
    bad = [r for r in got.values() if not r["hash_ok"]]
    assert len(bad) == 1 and bad[0]["error_message"]
    assert {r["format"] for r in got.values() if r["hash_ok"]} == \
        {"png", "gif", "webp", "jpeg"}
    for payload, fmt in ((jpeg, "jpeg"), (lossy, "webp")):
        r = got[hashlib.sha256(payload).hexdigest()]
        assert (r["format"], r["hash_ok"]) == (fmt, True)



def test_decode_media_schema_and_determinism(spark):
    """``media_phash`` keeps its row schema, gives the same rows on a
    rerun over a repartitioned input, and turns a null payload into an
    error row."""
    from databricks_pdf_ocr_spark import fixtures

    df = spark.createDataFrame(
        list(itertools.islice(fixtures.image_corpus_rows(3), 12)),
        "name string, content binary").repartition(4)
    hashes = multimodal.media_phash(df)
    assert hashes.columns == ["media_id", "phash", "format", "hash_ok",
                              "error_message"]
    rows = hashes.collect()
    assert len(rows) == 12 and all(r["hash_ok"] for r in rows)
    again = multimodal.media_phash(df).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    bad = spark.createDataFrame([("x", None)], "name string, content binary")
    brow = multimodal.media_phash(bad).first()
    assert brow["hash_ok"] is False and brow["error_message"]

def test_phash_pairs_banding_equals_brute_force(spark):
    """The pigeonhole equi-join must find exactly the pairs a full
    pairwise comparison finds."""
    from databricks_pdf_ocr_spark import fixtures
    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators.multimodal import _decode_pixels

    rows = list(itertools.islice(fixtures.image_corpus_rows(11), 12))
    hs = {}
    import hashlib as _h
    for _n, p in rows:
        fmt, w, h, ch, pix = _decode_pixels(p)
        hs[_h.sha256(p).hexdigest()] = imghash.dhash64(pix, w, h, ch)
    want = set()
    for a, b in itertools.combinations(sorted(hs), 2):
        if imghash.hamming64(hs[a], hs[b]) <= 7:
            want.add((a, b))
    df = spark.createDataFrame(rows, "name string, content binary")
    pairs = multimodal.phash_pairs(multimodal.media_phash(df))
    got = {(r["media_a"], r["media_b"]) for r in pairs.collect()}
    assert got == want and want, "banding must equal brute force"


def test_dhash_invariant_to_reencode_not_to_content():
    from databricks_pdf_ocr_spark.functions import imghash

    w, h = 36, 28
    grad = bytes(min(255, (x * 7 + y) % 256)
                 for y in range(h) for x in range(w) for _ in range(3))
    a = imghash.dhash64(grad, w, h, 3)
    # tiny perturbation: a few pixels nudged
    g2 = bytearray(grad)
    for i in range(0, len(g2), 977):
        g2[i] = min(255, g2[i] + 2)
    b = imghash.dhash64(bytes(g2), w, h, 3)
    assert imghash.hamming64(a, b) <= 4
    # different content: inverted gradient
    inv = bytes(255 - v for v in grad)
    c = imghash.dhash64(inv, w, h, 3)
    assert imghash.hamming64(a, c) >= 20
