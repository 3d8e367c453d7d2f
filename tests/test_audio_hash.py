"""Perceptual audio fingerprint (audiohash) — kernel, operator, golden.

Mirrors the image-dHash test battery (`test_multimodal.py`) on the
audio axis: encode round-trips, re-encode invariance, banding ==
brute-force, error-row contract.
"""

import hashlib
import itertools

from databricks_pdf_ocr_spark import fixtures
from databricks_pdf_ocr_spark.functions import audiohash, imghash, wavmini
from databricks_pdf_ocr_spark.operators import multimodal


def test_encode_wav_roundtrips_every_format():
    samples = [int(12000 * (1 if i % 7 < 3 else -0.5)) for i in range(500)]
    for bits in (8, 16, 24, 32):
        scale = 1 << (bits - 1)
        vals = [max(-scale, min(scale - 1, s * scale // (1 << 15)))
                for s in samples]
        d = wavmini.decode_wav(wavmini.encode_wav(vals, 1, 8000, bits=bits))
        assert d["samples"] == vals and d["bits"] == bits
    fvals = [s / (1 << 15) for s in samples]
    d = wavmini.decode_wav(wavmini.encode_wav(fvals, 1, 8000, fmt="float32"))
    assert d["fmt"] == "float32" and len(d["samples"]) == len(fvals)
    assert max(abs(a - b) for a, b in zip(d["samples"], fvals)) < 1e-6
    # stereo block alignment
    d = wavmini.decode_wav(wavmini.encode_wav(samples[:40], 2, 8000, bits=16))
    assert d["channels"] == 2 and d["n_frames"] == 20


def test_ahash_invariant_to_reencode_not_to_content():
    """The fixture corpus IS the invariance claim: same base re-encoded
    across bit depth, gain, AND sample rate must stay within the pair
    budget; different bases must be far apart."""
    hs = {}
    for name, payload in itertools.islice(fixtures.audio_corpus_rows(7), 9):
        hs[name] = audiohash.ahash64(wavmini.decode_wav(payload))
    for a, b in itertools.combinations(sorted(hs), 2):
        d = imghash.hamming64(hs[a], hs[b])
        if a.rsplit("-", 1)[0] == b.rsplit("-", 1)[0]:
            assert d <= 7, (a, b, d)
        else:
            assert d >= 15, (a, b, d)


def test_ahash_gain_invariance_exact():
    """Uniform gain preserves every energy comparison → identical hash."""
    _, payload = next(fixtures.audio_corpus_rows(3))
    d = wavmini.decode_wav(payload)
    h1 = audiohash.ahash64(d)
    halved = dict(d, samples=[s // 2 for s in d["samples"]])
    assert audiohash.ahash64(halved) == h1


def test_media_ahash_rows_and_error_contract(spark):
    rows = list(itertools.islice(fixtures.audio_corpus_rows(5), 6))
    rows.append(("broken", b"RIFFxxxxWAVEjunk"))
    rows.append(("tiny", wavmini.encode_wav([1, 2, 3], 1, 8000)))
    df = spark.createDataFrame(rows, "name string, content binary")
    got = list(multimodal.media_ahash(df).collect())
    ok = [r for r in got if r["hash_ok"]]
    bad = [r for r in got if not r["hash_ok"]]
    assert len(ok) == 6 and len(bad) == 2
    assert all(r["error_message"] for r in bad)
    assert {r["duration_ms"] for r in ok} == {1800}


def test_ahash_banding_equals_brute_force(spark):
    rows = list(itertools.islice(fixtures.audio_corpus_rows(11), 12))
    hs = {hashlib.sha256(p).hexdigest():
          audiohash.ahash64(wavmini.decode_wav(p)) for _n, p in rows}
    want = {(a, b) for a, b in itertools.combinations(sorted(hs), 2)
            if imghash.hamming64(hs[a], hs[b]) <= 7}
    df = spark.createDataFrame(rows, "name string, content binary")
    pairs = multimodal.phash_pairs(multimodal.media_ahash(df))
    got = {(r["media_a"], r["media_b"]) for r in pairs.collect()}
    assert got == want and want, "banding must equal brute force"
