"""Pure-stdlib PNG codec (functions/pngmini.py)."""

import random

import pytest
from databricks_pdf_ocr_spark.functions import pngmini


def _pixels(rng, w, h, ch):
    return bytes(rng.getrandbits(8) for _ in range(w * h * ch))


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters(channels, filter_type):
    rng = random.Random(channels * 10 + filter_type)
    w, h = 13, 7          # odd sizes: stride not a multiple of anything
    pix = _pixels(rng, w, h, channels)
    png = pngmini.encode_png(pix, w, h, channels, filter_type=filter_type)
    assert png[:8] == pngmini.PNG_SIG
    gw, gh, gch, gpix = pngmini.decode_png(png)
    assert (gw, gh, gch) == (w, h, channels)
    assert gpix == pix


def test_png_decode_rejects_garbage():
    with pytest.raises(pngmini.PngError):
        pngmini.decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")
    with pytest.raises(pngmini.PngError):
        pngmini.decode_png(b"JFIF....")


def test_decode_media_real_png_path(spark):
    """The live PNG decode route (``media_phash``): a real PNG is hashed
    from its decoded pixels; a corrupt PNG and a non-image blob become
    error rows, not exceptions."""
    import hashlib

    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators import multimodal

    rng = random.Random(3)
    pix = _pixels(rng, 20, 9, 3)
    real_png = pngmini.encode_png(pix, 20, 9, 3)
    # corrupt: zero out part of the IDAT and drop a byte
    corrupt = real_png[:40] + b"\x00" * 10 + real_png[51:]
    fake_blob = bytes(rng.getrandbits(8) for _ in range(64))
    df = spark.createDataFrame(
        [(real_png,), (corrupt,), (fake_blob,)], "content binary")
    rows = {r["media_id"]: r for r in multimodal.media_phash(df).collect()}
    real = rows[hashlib.sha256(real_png).hexdigest()]
    assert (real["format"], real["hash_ok"]) == ("png", True)
    assert real["phash"] == imghash.dhash64(pix, 20, 9, 3)
    for payload in (corrupt, fake_blob):
        bad = rows[hashlib.sha256(payload).hexdigest()]
        assert bad["hash_ok"] is False and bad["error_message"]
