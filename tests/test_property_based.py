"""Property-based tests (hypothesis) for the pure kernels.

Round-trip and invariance properties that fixed fixtures cannot sweep:
arbitrary text through the PDF writer→tokenizer, arbitrary span orders
through the golden reassembly, arbitrary HTML-ish strings through the
boilerplate stripper (must never crash, must never leak dropped content).
"""

import string

from hypothesis import given, settings, strategies as st

from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.functions import htmlmini, pdfmini
from tools.goldens import golden_extract_doc

# latin-1-safe printable text for PDF string round-trips
_pdf_text = st.text(
    alphabet=st.characters(codec="latin-1", exclude_characters="\r\n"),
    min_size=1, max_size=120)


@settings(max_examples=60, deadline=None)
@given(st.lists(_pdf_text, min_size=1, max_size=6), st.booleans())
def test_pdf_writer_tokenizer_roundtrip(lines, compress):
    pages = [{"runs": [(72.0, 720.0 - 20 * i, t) for i, t in enumerate(lines)]}]
    data = pdfmini.write_pdf(pages, compress=compress)
    out = pdfmini.parse_pdf(data)
    assert len(out) == 1
    got = [r.text for r in out[0].runs]
    assert got == lines


_any_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\r\n"),
    min_size=1, max_size=60)


@settings(max_examples=40, deadline=None)
@given(st.lists(_any_text, min_size=1, max_size=4))
def test_pdf_unicode_string_roundtrip(lines):
    """Non-latin text rides as BOM-prefixed UTF-16BE strings (PDF 32000
    §7.9.2.2) and round-trips exactly."""
    pages = [{"runs": [(72.0, 720.0 - 20 * i, t) for i, t in enumerate(lines)]}]
    out = pdfmini.parse_pdf(pdfmini.write_pdf(pages))
    assert [r.text for r in out[0].runs] == lines


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["text"]),
                          st.text(string.printable, max_size=50)),
                min_size=1, max_size=12),
       st.randoms())
def test_reassembly_order_invariance(spans, rnd):
    """Golden extraction is invariant to stored span order (the offset is
    authoritative) — the core north-rule property."""
    tagged = [(k, t, None, i) for i, (k, t) in enumerate(spans)]
    shuffled = list(tagged)
    rnd.shuffle(shuffled)
    assert (golden_extract_doc(tagged, TEST_CONFIG)
            == golden_extract_doc(shuffled, TEST_CONFIG))


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=300))
def test_htmlmini_never_crashes_and_strips_scripts(html):
    blocks = htmlmini.extract_blocks(html)
    assert isinstance(blocks, list)
    joined = " ".join(blocks)
    assert "<script>" not in joined.lower()


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_pdf_parser_never_hangs_on_garbage(data):
    """Arbitrary bytes either parse (only if truly a PDF) or raise PdfError —
    never any other exception, never a hang (the extraction error contract
    depends on this)."""
    try:
        pdfmini.parse_pdf(b"%PDF-" + data)
    except pdfmini.PdfError:
        pass


# ---------------------------------------------------------------- codecs

@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_codec_parsers_never_hang_on_garbage(data):
    """Every pure-Python parser in the multimodal path must terminate on
    arbitrary bytes with either a decode or an exception (the mapInPandas
    kernels convert any exception into an error row — the contract is
    no hang, no partial garbage)."""
    from databricks_pdf_ocr_spark.functions import (gifmini, jpegmini,
                                                    mp4mini, vp8lmini,
                                                    vp8mini, wavmini)
    # VP8: a valid key-frame tag + start code pinning small (16x16)
    # dimensions, so garbage exercises the header/token/partition paths
    vp8_sig = b"\x20\x00\x00\x9d\x01\x2a\x10\x00\x10\x00"
    for fn, sig in ((jpegmini.decode_jpeg, b"\xff\xd8"),
                    (wavmini.decode_wav, b"RIFF"),
                    (mp4mini.mjpeg_frames, b"\x00\x00\x00\x14ftyp"),
                    (vp8lmini.vp8l_decode, bytes([0x2F, 0x07, 0x10, 0x38,
                                                  0x00])),
                    (vp8mini.vp8_decode_yuv, vp8_sig),
                    (gifmini.decode_gif, b"GIF89a")):
        for payload in (data, sig + data):
            try:
                fn(payload)
            except Exception:
                pass


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 14), st.integers(1, 9), st.integers(0, 9),
       st.sampled_from([0, 2, 4]), st.booleans(), st.booleans())
def test_vp8l_roundtrip_property(w, h, seed, cache_bits, lz77, bundle):
    """vp8l_encode ∘ vp8l_decode is the identity over random small images
    across transform/cache/LZ77 combinations."""
    import random as _random

    from databricks_pdf_ocr_spark.functions import vp8lmini
    rng = _random.Random(f"vp8l:{w}:{h}:{seed}")
    ncolors = rng.choice([2, 3, 7, None])
    if ncolors:
        pal = [bytes(rng.randrange(256) for _ in range(4))
               for _ in range(ncolors)]
        rgba = b"".join(pal[rng.randrange(ncolors)] for _ in range(w * h))
    else:
        rgba = bytes(rng.randrange(256) for _ in range(w * h * 4))
    transforms = []
    if bundle and ncolors:
        transforms.append(("palette",))
    elif rng.random() < 0.5:
        transforms.append(("subtract_green",))
        if rng.random() < 0.5:
            transforms.append(("predictor", rng.randrange(14)))
    body = vp8lmini.vp8l_encode(rgba, w, h, transforms=tuple(transforms),
                                cache_bits=cache_bits, lz77=lz77,
                                plain_distances=bool(seed % 2))
    assert vp8lmini.vp8l_decode(body) == (w, h, 4, rgba)


# ---------------------------------------------------------------------------
# WARC kernels (r5)
# ---------------------------------------------------------------------------

def _chunk(body: bytes, sizes: list[int]) -> bytes:
    """RFC 7230 §4.1 framing with an arbitrary chunk-size split."""
    out, pos = bytearray(), 0
    for s in sizes:
        piece = body[pos:pos + s]
        if not piece:
            break
        out += f"{len(piece):x}".encode() + b"\r\n" + piece + b"\r\n"
        pos += len(piece)
    rest = body[pos:]
    if rest:
        out += f"{len(rest):x}".encode() + b"\r\n" + rest + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=400),
       st.lists(st.integers(min_value=1, max_value=64), min_size=0,
                max_size=8))
def test_dechunk_roundtrip_arbitrary_splits(body, sizes):
    from databricks_pdf_ocr_spark.sources.warc import _dechunk
    assert _dechunk(_chunk(body, sizes)) == body


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_dechunk_never_crashes_on_garbage(data):
    from databricks_pdf_ocr_spark.sources.warc import _dechunk
    out = _dechunk(data)           # malformed framing → raw passthrough
    assert isinstance(out, bytes)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=300),
       st.sampled_from([None, "text/html", "text/html; charset=utf-8",
                        "text/html; charset=latin-1",
                        "text/plain; charset=utf-16",
                        "text/plain; charset=bogus"]))
def test_decode_payload_total_function(payload, ctype):
    """decode_payload must NEVER raise, whatever bytes a crawl hands it
    (the ANSI F.decode failure mode this replaces)."""
    from databricks_pdf_ocr_spark.sources.warc import decode_payload
    out = decode_payload(payload, ctype)
    assert isinstance(out, str)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=300), min_size=1,
                max_size=6),
       st.booleans(), st.integers(min_value=0, max_value=5))
def test_warc_writer_reader_roundtrip(bodies, gz, n_resources):
    """Arbitrary bodies through the writer → streaming reader returns
    exactly the records, in order, byte-identical."""
    from databricks_pdf_ocr_spark.sources import warc
    recs = [{"type": "resource", "uri": f"http://p/{i}", "body": b}
            for i, b in enumerate(bodies)]
    data = warc.write_warc(recs, gzip_per_record=gz)
    out = list(warc.parse_warc(data))
    assert len(out) == len(bodies)
    assert [r["body"] for r in out] == bodies
