"""Perceptual video near-dup (per-frame dHash over real MJPEG decode):
operator rows, banding == brute force, error contract."""

import hashlib
import itertools

from databricks_pdf_ocr_spark import fixtures
from databricks_pdf_ocr_spark.functions import imghash, jpegmini, mp4mini
from databricks_pdf_ocr_spark.operators import multimodal


def _frame_hashes(payload):
    hs = []
    for _ts, jpg in mp4mini.mjpeg_frames(payload):
        w, h, ch, pix = jpegmini.decode_jpeg(jpg)
        hs.append(imghash.dhash64(pix, w, h, ch))
    return hs


def test_video_phash_rows_match_direct_decode(spark):
    rows = list(itertools.islice(fixtures.video_corpus_rows(7), 0, 6, 3))
    rows.append(("broken", b"\x00\x00\x00\x08ftypmp42 junk"))
    df = spark.createDataFrame(rows, "name string, content binary")
    got = multimodal.video_phash(df).collect()
    by_media = {}
    for r in got:
        by_media.setdefault(r["media_id"], []).append(r)
    bad = [rs for rs in by_media.values() if not rs[0]["hash_ok"]]
    assert len(bad) == 1 and bad[0][0]["frame_idx"] == -1 \
        and bad[0][0]["error_message"]
    for name, payload in rows[:2]:
        mid = hashlib.sha256(payload).hexdigest()
        want = _frame_hashes(payload)
        rs = sorted(by_media[mid], key=lambda r: r["frame_idx"])
        assert [r["phash"] for r in rs] == want
        assert all(r["hash_ok"] and r["width"] == 36 for r in rs)
        assert [r["ts_ms"] for r in rs] == [i * 1000
                                            for i in range(len(want))]


def test_video_banding_equals_brute_force(spark):
    rows = list(itertools.islice(fixtures.video_corpus_rows(11), 9))
    fh = {hashlib.sha256(p).hexdigest(): _frame_hashes(p)
          for _n, p in rows}
    want = {}
    for a, b in itertools.combinations(sorted(fh), 2):
        hit = [d for d in (imghash.hamming64(x, y)
                           for x, y in zip(fh[a], fh[b])) if d <= 7]
        if len(hit) >= 2:
            want[(a, b)] = (len(hit), max(hit))
    df = spark.createDataFrame(rows, "name string, content binary")
    pairs = multimodal.video_phash_pairs(multimodal.video_phash(df))
    got = {(r["media_a"], r["media_b"]): (r["frames_matched"],
                                          r["max_hamming"])
           for r in pairs.collect()}
    assert got == want and want, "banding must equal brute force"


def test_min_frames_gate_excludes_single_frame_coincidence(spark):
    """A pair matching on only one frame index must not pair."""
    base = list(itertools.islice(fixtures.video_corpus_rows(5), 0, 6, 3))
    (n0, p0), (n1, p1) = base
    # splice: clip2 = clip0's frame 0 + clip1's frames 1..3
    f0 = [j for _t, j in mp4mini.mjpeg_frames(p0)]
    f1 = [j for _t, j in mp4mini.mjpeg_frames(p1)]
    spliced = mp4mini.write_mjpeg([f0[0]] + f1[1:],
                                  width=36, height=28)
    df = spark.createDataFrame(
        [(n0, p0), ("spliced", spliced)], "name string, content binary")
    # the clips do match on their one shared frame
    shared = [imghash.hamming64(x, y) <= multimodal.MAX_HAMMING
              for x, y in zip(_frame_hashes(p0), _frame_hashes(spliced))]
    assert shared[0] and sum(shared) == 1
    pairs = multimodal.video_phash_pairs(multimodal.video_phash(df))
    assert pairs.count() == 0
