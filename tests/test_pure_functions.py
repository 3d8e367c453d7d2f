"""Unit tests for the pure extraction libraries (no Spark)."""

import base64
import hashlib

import pytest

from databricks_pdf_ocr_spark.functions import htmlmini, ocr_fallback, pdfmini, segment
from databricks_pdf_ocr_spark.functions.extract_span import extract_span
from databricks_pdf_ocr_spark import fixtures
from conftest import TEST_CONFIG


# ---------------------------------------------------------------- pdfmini

def test_pdf_roundtrip_single_page():
    pdf = pdfmini.write_pdf([{"runs": [(72, 720, "Hello world."),
                                       (72, 700, "Second line.")]}])
    pages = pdfmini.parse_pdf(pdf)
    assert len(pages) == 1
    assert [r.text for r in pages[0].runs] == ["Hello world.", "Second line."]
    assert segment.reading_order_text(pages[0].runs) == "Hello world.\nSecond line."


def test_pdf_roundtrip_multi_page_and_compression():
    pages_in = [{"runs": [(72, 720, f"Page {i} text")]} for i in range(4)]
    for compress in (False, True):
        pdf = pdfmini.write_pdf(pages_in, compress=compress)
        pages = pdfmini.parse_pdf(pdf)
        assert [p.runs[0].text for p in pages] == [f"Page {i} text" for i in range(4)]


def test_pdf15_xref_stream_and_objstm_roundtrip():
    """PDF 1.5 layout: /XRef stream (Flate + PNG-Up predictor) with a
    type-2 entry pointing into a /Type /ObjStm object stream."""
    pdf = pdfmini.write_pdf(
        [{"runs": [(72, 720, "modern xref"), (72, 700, "second line")]},
         {"image": b"img" * 10}],
        xref_stream=True)
    assert b"/Type /XRef" in pdf and b"/ObjStm" in pdf
    assert b"\nxref\n" not in pdf  # no classic table ("startxref" is fine)
    pages = pdfmini.parse_pdf(pdf)
    assert len(pages) == 2
    assert segment.reading_order_text(pages[0].runs) == "modern xref\nsecond line"
    assert pages[1].image_bytes


def test_pdf_tounicode_cmap():
    """Custom font encodings: /ToUnicode CMap maps raw byte codes to
    unicode (the mechanism real-world PDFs use for non-standard fonts)."""
    cmap = {0x41: "Α", 0x42: "β", 0x43: "→", 0x44: "fi"}  # incl. ligature
    pdf = pdfmini.write_pdf([{"cmap": cmap,
                              "cmap_runs": [(72, 720, b"ABCD"),
                                            (72, 700, b"AZ")]}])
    pages = pdfmini.parse_pdf(pdf)
    texts = [r.text for r in pages[0].runs]
    assert texts == ["Αβ→fi", "ΑZ"]  # unmapped byte falls back to chr()
    # bfrange parsing
    cm = pdfmini.parse_cmap(
        b"2 beginbfrange\n<61> <63> <0041>\nendbfrange")
    assert cm == {0x61: "A", 0x62: "B", 0x63: "C"}


def test_pdf_escapes_and_octal():
    text = "paren (x) \\ backslash æøå"
    pdf = pdfmini.write_pdf([{"runs": [(72, 720, text)]}])
    pages = pdfmini.parse_pdf(pdf)
    assert pages[0].runs[0].text == text


def test_pdf_image_only_page():
    pdf = pdfmini.write_pdf([{"image": b"\x01\x02\x03" * 16}])
    pages = pdfmini.parse_pdf(pdf)
    assert pages[0].runs == []
    assert pages[0].image_bytes, "Do-drawn XObject should be captured"


def test_pdf_malformed_raises():
    good = pdfmini.write_pdf([{"runs": [(72, 720, "x")]}])
    with pytest.raises(pdfmini.PdfError):
        pdfmini.parse_pdf(good[: len(good) // 2])
    with pytest.raises(pdfmini.PdfError):
        pdfmini.parse_pdf(b"not a pdf at all")


def test_pdf_reference_fixture_parses():
    """The reference repo's real 4-page sample.pdf (PDF 1.3, linearized,
    RC4-encrypted R2/V1, Flate content streams): full xref walk + standard-
    security decryption + content tokenization + reading order."""
    try:
        data = open("/root/reference/fixtures/sample.pdf", "rb").read()
    except OSError:
        pytest.skip("reference fixture unavailable")
    pages = pdfmini.parse_pdf(data)
    assert len(pages) == 4
    assert all(p.runs for p in pages)
    page1 = segment.reading_order_text(pages[0].runs)
    assert "PDF" in page1 and "Sample" in page1
    assert "Page 1 of 4" in page1


# ---------------------------------------------------------------- segment

def test_reading_order_two_columns():
    runs = [
        pdfmini.Run(330, 720, "R1"), pdfmini.Run(50, 720, "L1"),
        pdfmini.Run(50, 700, "L2"), pdfmini.Run(330, 700, "R2"),
    ]
    assert segment.reading_order_text(runs) == "L1\nL2\nR1\nR2"


def test_reading_order_line_merge():
    runs = [pdfmini.Run(150, 719.5, "world"), pdfmini.Run(72, 720, "hello")]
    assert segment.reading_order_text(runs) == "hello world"


# ---------------------------------------------------------------- htmlmini

def test_html_strips_boilerplate():
    blocks = htmlmini.extract_blocks(fixtures._html_payload(
        __import__("random").Random(1)))
    joined = " ".join(blocks)
    assert "tracking" not in joined            # script dropped
    assert "color:red" not in joined           # style dropped
    assert "Home" not in joined                # nav dropped
    assert "Site Chrome" not in joined         # header dropped
    assert "ads ads ads" not in joined         # class=sidebar dropped
    assert "Accept cookies?" not in joined     # id=cookie-banner dropped
    assert "fixture corp" not in joined        # footer dropped
    assert any(b for b in blocks), "main content must survive"


def test_html_entities_and_blocks():
    blocks = htmlmini.extract_blocks(
        "<body><p>a &amp; b</p><p>c&#64;d</p><div>e &lt;f&gt;</div></body>")
    assert blocks == ["a & b", "c@d", "e <f>"]


def test_html_nested_boilerplate():
    blocks = htmlmini.extract_blocks(
        "<div><nav><div><p>menu stuff</p></div></nav><p>keep me</p></div>")
    assert blocks == ["keep me"]


# ---------------------------------------------------------------- fallback

def test_ocr_fallback_deterministic():
    t1 = ocr_fallback.fallback_text(b"same bytes")
    t2 = ocr_fallback.fallback_text(b"same bytes")
    assert t1 == t2 and t1.startswith("[ocr] ")
    assert ocr_fallback.fallback_text(b"other") != t1


# ---------------------------------------------------------------- kernel

def test_extract_span_text_normalizes():
    s, e, p, out, images = extract_span("text", "  a\n b\tc ", None,
                                        max_payload_bytes=10**6, max_pages=10)
    assert (s, out, images) == ("success", [("text", "a b c", None, False)], {})


def test_extract_span_pdf_fanout():
    payload = base64.b64encode(pdfmini.write_pdf(
        [{"runs": [(72, 720, "p1")]}, {"image": b"imgbytes"},
         {"runs": [(72, 720, "p3")]}])).decode()
    s, e, pages, out, images = extract_span("pdf", payload, None,
                                            max_payload_bytes=10**6,
                                            max_pages=10)
    assert s == "success" and pages == 3
    # the image page yields its OCR-fallback text AND an addressable
    # media span whose content-addressed ref joins back to media_payloads
    assert [o[0] for o in out] == ["text", "text", "media", "text"]
    assert [o[3] for o in out] == [False, True, False, False]
    assert out[0][1] == "p1" and out[1][1].startswith("[ocr] ") and out[3][1] == "p3"
    assert out[2][2].startswith("pdfimg:") and len(out[2][2]) == 7 + 64
    # the media span's image record, keyed by its output index: page 1,
    # image 0, and the payload its ref hashes
    (pi, ii, fmt, _w, _h, img, _err), = images.values()
    assert list(images) == [2] and (pi, ii, fmt) == (1, 0, "raw")
    assert out[2][2] == "pdfimg:" + hashlib.sha256(img).hexdigest()


def test_extract_span_error_paths():
    s, err, _, out, images = extract_span("pdf", "!!!notb64", None,
                                          max_payload_bytes=10**6,
                                          max_pages=10)
    # a failed pdf span hands back its one null-ref payload error record
    assert (s, out) == ("failed", [])
    assert images == {0: (-1, -1, None, 0, 0, None, err)}
    assert extract_span("image", None, None,
                        max_payload_bytes=10**6, max_pages=10)[0] == "failed"
    assert extract_span("wat", "x", None,
                        max_payload_bytes=10**6, max_pages=10)[0] == "failed"
    big = base64.b64encode(b"%PDF" + b"0" * 200).decode()
    assert extract_span("pdf", big, None,
                        max_payload_bytes=10, max_pages=10)[0] == "failed"


def test_extract_span_page_truncation():
    payload = base64.b64encode(pdfmini.write_pdf(
        [{"runs": [(72, 720, f"p{i}")]} for i in range(6)])).decode()
    s, _, pages, out, _ = extract_span("pdf", payload, None,
                                       max_payload_bytes=10**6, max_pages=2)
    assert s == "success" and pages == 2 and len(out) == 2


# ---------------------------------------------------------------- fixtures

def test_fixture_determinism_and_shape():
    a = list(fixtures.gen_rows(42, 30, fixtures.TINY))
    b = list(fixtures.gen_rows(42, 30, fixtures.TINY))
    assert a == b, "generator must be deterministic"
    for did, spans in a:
        offs = sorted(s["offset"] for s in spans)
        assert offs == list(range(len(spans))), "offsets dense 0..n-1"
    # shuffled storage order: at least one doc not already sorted
    assert any([s["offset"] for s in spans] != sorted(s["offset"] for s in spans)
               for _, spans in a if len(spans) > 3)
    kinds = {s["kind"] for _, spans in a for s in spans}
    assert kinds >= {"text", "html", "pdf", "image"}


def test_goldens_run_over_fixtures():
    from tools.goldens import golden_extract
    rows = list(fixtures.gen_rows(42, 20, fixtures.TINY))
    gold = golden_extract(rows, TEST_CONFIG)
    assert len(gold) == 20
    total = sum(len(v) for v in gold.values())
    assert total > 0
    for spans in gold.values():
        assert [s[3] for s in spans] == list(range(len(spans)))
