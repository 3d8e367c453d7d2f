"""Deterministic synthetic-fixture generator for the interleaved documents table.

Implements FIXTURES.md §1 + §5: seeded, no wall clock, no uuid4 — doc ids
are sha256 of (seed, index).  Span mix ≈ 70% text / 10% html / 10% pdf /
10% image; offsets are dense 0..n-1 per doc but spans are stored in
SHUFFLED order so tests prove offset-sorted reassembly; a configurable
fraction of docs are "heavy" (hundreds of spans — the multi-thousand-page
analogue that motivates skew salting); error fixtures cover truncated PDFs,
oversized payloads, and null media_refs.

The per-doc generator ``gen_doc(seed, idx, profile)`` is a pure function of
its arguments, so fixture tables can be built either on the driver (tests)
or distributed via ``spark.range(n).mapInPandas`` (bench scale) with
identical content.
"""

from __future__ import annotations

import base64
import hashlib
import random
from dataclasses import dataclass

from .functions import pdfmini
from .worker import drop_zip_importers

_WORDS = (
    "analysis baseline catalyst dataframe executor filter graph hash "
    "iceberg join kernel lineage merge nested order partition query row "
    "schema shuffle span stream table union vector window extract layout "
    "segment column page document media pipeline checkpoint resume skew"
).split()

_SENTENCE_LENS = (4, 6, 8, 11, 15)


#: share of pdf pages that are image-only, and of text pages laid out in
#: two columns (the same for every profile)
IMAGE_PAGE_PROB = 0.2
TWO_COLUMN_PROB = 0.25


@dataclass(frozen=True)
class FixtureProfile:
    """Scale + shape knobs (FIXTURES.md §1 'scale knobs'): spans per doc
    (``spans_min``/``spans_max``), every ``heavy_every``-th doc heavy
    with ``heavy_spans_min``..``heavy_spans_max`` spans, pages per pdf
    (``pdf_pages_max``), one error span every ``error_every``-th doc (0 =
    none) and the cumulative span-kind thresholds ``w_text`` / ``w_html``
    / ``w_pdf`` (the rest are images)."""
    spans_min: int = 3
    spans_max: int = 10
    heavy_every: int = 50          # every k-th doc is heavy
    heavy_spans_min: int = 150
    heavy_spans_max: int = 400
    pdf_pages_max: int = 4
    error_every: int = 25          # every k-th doc gets one error span (0=off)
    # cumulative span-kind thresholds (text | html | pdf | image)
    w_text: float = 0.70
    w_html: float = 0.80
    w_pdf: float = 0.90


SMOKE = FixtureProfile()
#: tiny docs for quick unit tests
TINY = FixtureProfile(spans_min=2, spans_max=5, heavy_every=10,
                      heavy_spans_min=40, heavy_spans_max=80, error_every=7)
#: bench profile: no error docs (uniform work), moderate heavies
BENCH = FixtureProfile(error_every=0, heavy_every=100,
                       heavy_spans_min=100, heavy_spans_max=250)
#: scaling-bench profile: compute-heavy docs (pdf parse dominates) so the
#: two-parallelism run measures kernel throughput, not job overhead
BENCH_HEAVY = FixtureProfile(
    spans_min=8, spans_max=24, error_every=0,
    heavy_every=40, heavy_spans_min=120, heavy_spans_max=300,
    pdf_pages_max=6,
    w_text=0.35, w_html=0.50, w_pdf=0.85)


def doc_id_for(seed: int, idx: int) -> str:
    return hashlib.sha256(f"{seed}:{idx}".encode()).hexdigest()


def _sentence(rng: random.Random) -> str:
    n = rng.choice(_SENTENCE_LENS)
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, nmin: int = 1, nmax: int = 4) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(nmin, nmax)))


def _html_payload(rng: random.Random) -> str:
    paras = "".join(f"<p>{_paragraph(rng)}</p>"
                    for _ in range(rng.randint(1, 3)))
    heading = f"<h2>{_sentence(rng)}</h2>" if rng.random() < 0.5 else ""
    li = "".join(f"<li>Item {i} &amp; more</li>" for i in range(rng.randint(0, 3)))
    lst = f"<ul>{li}</ul>" if li else ""
    return (
        "<!DOCTYPE html><html><head><title>Fixture</title>"
        "<style>body{color:red}</style>"
        "<script>var tracking = 'evil';</script></head><body>"
        f"<nav><a href='/'>Home</a><a href='/x'>X</a></nav>"
        f"<header><h1>Site Chrome</h1></header>"
        f"<div class='sidebar'><p>ads ads ads</p></div>"
        f"<main><article>{heading}{paras}{lst}</article></main>"
        f"<div id='cookie-banner'>Accept cookies?</div>"
        f"<footer>&copy; 2026 fixture corp</footer>"
        "</body></html>"
    )


_CMAP_GREEK = {0x41 + i: ch for i, ch in enumerate("αβγδεζηθικλμ")}


def _page_lines(rng: random.Random) -> list[str]:
    """Structured content shapes per FIXTURES.md §6 (mirrors the reference's
    mock corpus: dictionary lists, invoices with labeled fields + totals,
    textbook chapters with numbered sections)."""
    shape = rng.choice(("plain", "invoice", "textbook", "dictionary"))
    if shape == "invoice":
        n_items = rng.randint(2, 4)
        lines = [f"INVOICE #{rng.randint(1000, 9999)}",
                 f"Date: 2026-01-{rng.randint(1, 28):02d}"]
        total = 0
        for _ in range(n_items):
            qty, price = rng.randint(1, 9), rng.randint(5, 400)
            total += qty * price
            lines.append(f"Item: {rng.choice(_WORDS)} Qty: {qty} "
                         f"Price: {price}.00")
        lines.append(f"Total: {total}.00")
        return lines
    if shape == "textbook":
        ch = rng.randint(1, 12)
        return [f"Chapter {ch}: {_sentence(rng)}",
                f"{ch}.1 {rng.choice(_WORDS).capitalize()} basics",
                _sentence(rng),
                f"{ch}.2 Advanced {rng.choice(_WORDS)}",
                _sentence(rng)]
    if shape == "dictionary":
        return [f"{rng.choice(_WORDS)} (n.) {_sentence(rng)}"
                for _ in range(rng.randint(3, 5))]
    return [_sentence(rng) for _ in range(rng.randint(2, 6))]


def _pdf_payload(rng: random.Random, profile: FixtureProfile) -> str:
    n_pages = rng.randint(1, profile.pdf_pages_max)
    pages = []
    for _ in range(n_pages):
        r = rng.random()
        if r < IMAGE_PAGE_PROB:
            img = bytes(rng.getrandbits(8) for _ in range(64))
            pages.append({"image": img})
            continue
        if r < IMAGE_PAGE_PROB + 0.1:
            # custom-encoded page: raw codes map through a /ToUnicode CMap
            raw = bytes(rng.randrange(0x41, 0x41 + 12)
                        for _ in range(rng.randint(4, 12)))
            pages.append({"cmap": _CMAP_GREEK,
                          "cmap_runs": [(72.0, 720.0, raw)]})
            continue
        runs = []
        two_col = rng.random() < TWO_COLUMN_PROB
        lines = _page_lines(rng)
        for li, line in enumerate(lines):
            y = 720.0 - 20.0 * li
            if two_col:
                runs.append((50.0, y, line))
                runs.append((330.0, y, _sentence(rng)))
            else:
                runs.append((72.0, y, line))
        pages.append({"runs": runs})
    raw = pdfmini.write_pdf(pages, compress=rng.random() < 0.5)
    return base64.b64encode(raw).decode("ascii")


def gen_doc(seed: int, idx: int, profile: FixtureProfile = SMOKE
            ) -> tuple[str, list[tuple[str, str | None, str | None, int]]]:
    """Generate one document: (doc_id, [(kind, text, media_ref, offset), ...]).

    Spans come back in shuffled storage order; offsets are dense 0..n-1.
    """
    did = doc_id_for(seed, idx)
    rng = random.Random(f"{seed}:{idx}:spans")
    heavy = profile.heavy_every and (idx % profile.heavy_every == profile.heavy_every - 1)
    n = (rng.randint(profile.heavy_spans_min, profile.heavy_spans_max) if heavy
         else rng.randint(profile.spans_min, profile.spans_max))
    spans: list[tuple[str, str | None, str | None, int]] = []
    for off in range(n):
        r = rng.random()
        if r < profile.w_text:
            spans.append(("text", _paragraph(rng), None, off))
        elif r < profile.w_html:
            spans.append(("html", _html_payload(rng), None, off))
        elif r < profile.w_pdf:
            spans.append(("pdf", _pdf_payload(rng, profile), None, off))
        else:
            spans.append(("image", None, f"mediaref://{did}/{off}", off))
    # error fixtures (FIXTURES.md §5) — replace one span deterministically
    if profile.error_every and idx % profile.error_every == profile.error_every - 2:
        off = rng.randrange(n)
        which = idx % 3
        if which == 0:   # truncated / malformed pdf
            good = _pdf_payload(rng, profile)
            spans[off] = ("pdf", good[: len(good) // 3], None, off)
        elif which == 1:  # oversized payload (caller sets a small guard in tests)
            spans[off] = ("pdf",
                          base64.b64encode(b"%PDF-1.4" + b"\x00" * 200_000).decode(),
                          None, off)
        else:            # unclassifiable image span
            spans[off] = ("image", None, None, off)
    rng.shuffle(spans)
    return did, spans


def gen_rows(seed: int, n_docs: int, profile: FixtureProfile = SMOKE):
    """Yield (doc_id, spans) rows; spans as list of dicts (Spark Row-friendly)."""
    for idx in range(n_docs):
        did, spans = gen_doc(seed, idx, profile)
        yield did, [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in spans
        ]


def fixture_df(spark, seed: int, n_docs: int, profile: FixtureProfile = SMOKE,
               n_partitions: int | None = None):
    """Distributed fixture build: spark.range → mapInPandas(gen per index).

    Generation happens on executors (each task materializes only its own
    index range), so bench-scale tables never pass through the driver.
    """
    import pandas as pd
    from .schemas import DOCUMENTS_SCHEMA

    def gen(batches):
        drop_zip_importers()
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                did, spans = gen_doc(seed, int(idx), profile)
                rows.append({
                    "doc_id": did,
                    "spans": [{"kind": k, "text": t, "media_ref": m, "offset": o}
                              for (k, t, m, o) in spans],
                })
            yield pd.DataFrame(rows)

    rng = spark.range(0, n_docs, numPartitions=n_partitions or max(2, n_docs // 500))
    return rng.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


# ===========================================================================
# PDF-document corpus (for the embedded-image extraction oracle)
# ===========================================================================

def pdf_corpus_rows(seed: int, n_docs: int):
    """Deterministic ``(doc_id, pdf_bytes)`` corpus for the extraction
    kernel's payload rows (``extract.payload_rows``).

    Every byte is a pure function of ``(seed, idx)`` — both the Spark
    queries (`queries.pdf_images_e2e`, `queries.media_payloads_e2e`, which
    feed it as base64 pdf spans) and the no-Spark golden generator
    (`tools/make_golden_parquet.py`) build the identical corpus, so a
    committed parquet of the expected rows can hash-gate the distributed
    operator.  Page mix per doc cycles through: text page, real gray
    image, real RGB image, and (every 5th doc) the legacy undecodable
    stub that must surface as a loud ``extract_ok=false`` row.
    """
    from .functions import pdfmini

    for idx in range(n_docs):
        did = doc_id_for(seed, idx)
        w, h = 6 + (idx % 5), 4 + (idx % 3)
        gray = bytes((seed + idx + x * 7 + y * 13) % 256
                     for y in range(h) for x in range(w))
        rgb = bytes((seed + idx * 3 + i) % 256 for i in range(w * h * 3))
        pages = [
            {"runs": [(72.0, 700.0, f"doc {idx} page one")]},
            {"image": gray, "image_format": "gray", "width": w, "height": h},
            {"image": rgb, "image_format": "rgb", "width": w, "height": h},
        ]
        if idx % 5 == 0:
            pages.append({"image": b"stub" + bytes([idx % 251])})
        yield did, pdfmini.write_pdf(pages, compress=True,
                                     xref_stream=(idx % 2 == 1))


def text_corpus_rows(seed: int, n_docs: int):
    """Deterministic plain-text corpus ``(doc_id, text)`` for the
    tokenizer path — every byte a pure function of ``(seed, idx)`` so
    the Spark query and the no-Spark golden builder see the identical
    corpus (the ``pdf_corpus_rows`` pattern).  Mixes prose with digit /
    punctuation runs so training sees every pre-token class."""
    for idx in range(n_docs):
        rng = random.Random(f"text:{seed}:{idx}")
        parts = [_paragraph(rng) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.5:
            parts.append(f"Ref {rng.randint(0, 9999)}-{rng.randint(0, 99)}"
                         f": total ${rng.randint(1, 500)}"
                         f".{rng.randint(0, 99):02d} (qty {rng.randint(1, 40)})")
        yield doc_id_for(seed, idx), "\n\n".join(parts)


def image_corpus_rows(seed: int):
    """Deterministic ``(name, payload)`` media corpus for the perceptual
    near-dup path: 10 visually distinct block-structured images, each
    re-encoded 3 ways (PNG / GIF / lossless WebP, with a
    tiny per-variant pixel perturbation) — same-base variants are true
    near-duplicates (dHash within a few bits), different bases are far
    apart.  Every byte is a pure function of ``(seed, idx)`` so the
    Spark query and the no-Spark golden builder see identical payloads.
    Rows come base by base, so a prefix is a smaller corpus.
    """
    from .functions import gifmini, pngmini, webpmini

    w, h = 36, 28
    for b in range(10):
        cell = {}
        for cy in range(4):
            for cx in range(6):
                d = hashlib.sha256(
                    f"img:{seed}:{b}:{cx}:{cy}".encode()).digest()
                cell[(cx, cy)] = (d[0], d[1], d[2])
        for v in range(3):
            rgb = bytearray(w * h * 3)
            for y in range(h):
                for x in range(w):
                    r, g, bl = cell[(x * 6 // w, y * 4 // h)]
                    if v and (x * 31 + y * 17 + b) % 37 == 0:
                        jit = ((x + y + v) % 5) - 2      # tiny, sparse
                        r = min(255, max(0, r + jit))
                        g = min(255, max(0, g + jit))
                    o = (y * w + x) * 3
                    rgb[o], rgb[o + 1], rgb[o + 2] = r, g, bl
            if v == 0:
                payload = pngmini.encode_png(bytes(rgb), w, h, 3)
            else:
                rgba = bytearray(w * h * 4)
                rgba[0::4] = rgb[0::3]
                rgba[1::4] = rgb[1::3]
                rgba[2::4] = rgb[2::3]
                rgba[3::4] = b"\xff" * (w * h)
                if v == 1:
                    payload = gifmini.encode_gif([(bytes(rgba), 0)], w, h)
                else:
                    payload = webpmini.encode_webp_lossless(
                        bytes(rgba), w, h)
            yield f"img-{b}-{v}", payload


def video_corpus_rows(seed: int):
    """Deterministic ``(name, payload)`` Motion-JPEG corpus for the
    perceptual VIDEO near-dup path: 6 distinct block-pattern
    animations, each re-encoded 3 ways (JPEG quality 90 / 82 / 96 inside
    an ISO-BMFF MJPEG container) — same-base variants are true
    near-duplicates frame-for-frame under dHash, different bases are far
    apart on every frame.  Rows come base by base."""
    from .functions import jpegenc, mp4mini

    w, h = 36, 28
    for b in range(6):
        frames_rgb = []
        for fi in range(4):
            rgb = bytearray(w * h * 3)
            for y in range(h):
                for x in range(w):
                    d = hashlib.sha256(
                        f"vid:{seed}:{b}:{fi}:{x * 6 // w}:{y * 4 // h}"
                        .encode()).digest()
                    o = (y * w + x) * 3
                    rgb[o], rgb[o + 1], rgb[o + 2] = d[0], d[1], d[2]
            frames_rgb.append(bytes(rgb))
        for v, q in enumerate((90, 82, 96)):
            jpegs = [jpegenc.encode_jpeg(f, w, h, quality=q)
                     for f in frames_rgb]
            yield f"vid-{b}-{v}", mp4mini.write_mjpeg(
                jpegs, width=w, height=h)


def audio_corpus_rows(seed: int):
    """Deterministic ``(name, payload)`` WAV corpus for the perceptual
    audio near-dup path: 8 spectrally distinct clips, each re-encoded
    3 ways (pcm16@8k, pcm24@8k at half gain,
    float32@16k) — same-base variants are true near-duplicates under
    ``audiohash.ahash64`` (gain- and rate-invariant gradient grid),
    different bases are far apart.  Every sample is a pure function of
    ``(seed, idx)``; generation is TIME-based (``sin(2*pi*f*t)``), so
    the 8 kHz and 16 kHz variants sample the same continuous signal.
    Rows come base by base.
    """
    import math

    from .functions import audiohash, wavmini

    n_slices = audiohash.TIME_SLICES
    slice_sec = 0.2
    # per-(base, band, slice) amplitude level: geometric ladder, with
    # consecutive-slice ties bumped so every gradient bit is decisive
    # (a near-tie would flip under PCM quantization noise)
    def amp(b, band, t, prev_k):
        d = hashlib.sha256(f"aud:{seed}:{b}:{band}:{t}".encode()).digest()
        k = d[0] % 6
        if k == prev_k:
            k = (k + 1) % 6
        return 0.02 * (1.7 ** k), k

    encodings = [("pcm16", 16, 8000, 1.0), ("pcm24", 24, 8000, 0.5),
                 ("float32", 32, 16000, 0.8)]
    for b in range(8):
        plan = []                       # per band: list of slice amps
        for band_i, _f in enumerate(audiohash.BAND_HZ):
            prev_k, amps = -1, []
            for t in range(n_slices):
                a, prev_k = amp(b, band_i, t, prev_k)
                amps.append(a)
            plan.append(amps)
        phases = [hashlib.sha256(f"ph:{seed}:{b}:{i}".encode())
                  .digest()[0] / 256.0
                  * 2 * math.pi for i in range(len(audiohash.BAND_HZ))]
        for v, (fmt, bits, rate, gain) in enumerate(encodings):
            n = int(n_slices * slice_sec * rate)
            vals = []
            for i in range(n):
                tau = i / rate
                sl = min(n_slices - 1, int(tau / slice_sec))
                x = sum(plan[bi][sl]
                        * math.sin(2 * math.pi * f * tau + phases[bi])
                        for bi, f in enumerate(audiohash.BAND_HZ))
                vals.append(0.3 * gain * x)
            if fmt == "float32":
                samples = vals
                payload = wavmini.encode_wav(samples, 1, rate,
                                             fmt="float32")
            else:
                full = 1 << (bits - 1)
                samples = [max(-full, min(full - 1, int(x * full)))
                           for x in vals]
                payload = wavmini.encode_wav(samples, 1, rate, bits=bits)
            yield f"aud-{b}-{v}", payload


def warc_corpus_records(seed: int, n_segments: int = 6,
                        recs_per_segment: int = 8):
    """Deterministic crawl-segment corpus for the ``warc_e2e`` oracle:
    per segment, a list of ``sources.warc.write_warc`` record dicts
    covering the real-crawl shapes the source must survive — declared
    charsets (latin-1, utf-16), chunked transfer framing, invalid bytes
    under a declared utf-8, duplicate-URI re-crawls across segments,
    non-2xx and non-text records (filtered), and a warcinfo header
    record.  Pure function of (seed, n_segments, recs_per_segment)."""
    segments = []
    for s in range(n_segments):
        rng = random.Random(f"{seed}:warc:{s}")
        recs = [{"type": "warcinfo", "uri": None,
                 "body": f"software: fixture/{s}\r\n".encode()}]
        for i in range(recs_per_segment):
            uri = f"http://site{s}.example/page{i}"
            date = f"2026-0{1 + s % 3}-{10 + i:02d}T00:00:00Z"
            r = rng.random()
            if r < 0.40:
                recs.append({"type": "response", "uri": uri,
                             "body": _html_payload(rng).encode(),
                             "http_content_type": "text/html; charset=utf-8",
                             "date": date, "chunked": rng.random() < 0.3})
            elif r < 0.55:
                recs.append({"type": "response", "uri": uri,
                             "body": _paragraph(rng, 2, 5).encode(),
                             "http_content_type": "text/plain",
                             "date": date})
            elif r < 0.65:   # declared latin-1, bytes not valid utf-8
                body = f"<html><body><p>café précis {_sentence(rng)}" \
                    "</p></body></html>"
                recs.append({"type": "response", "uri": uri,
                             "body": body.encode("latin-1"),
                             "http_content_type":
                                 "text/html; charset=ISO-8859-1",
                             "date": date})
            elif r < 0.72:   # declared utf-16
                recs.append({"type": "response", "uri": uri,
                             "body": f"straße {_sentence(rng)}"
                             .encode("utf-16"),
                             "http_content_type":
                                 "text/plain; charset=utf-16",
                             "date": date})
            elif r < 0.79:   # dirty: invalid multibyte under declared utf-8
                recs.append({"type": "response", "uri": uri,
                             "body": b"<html><p>dirty \xff\xfe tail "
                             + _sentence(rng).encode() + b"</p></html>",
                             "http_content_type": "text/html; charset=utf-8",
                             "date": date})
            elif r < 0.87:   # filtered: non-2xx
                recs.append({"type": "response", "uri": uri,
                             "body": b"gone", "status": 404,
                             "http_content_type": "text/html",
                             "date": date})
            else:            # filtered: non-text payload
                recs.append({"type": "response", "uri": uri,
                             "body": b"\x89PNG fake" + bytes([s, i]),
                             "http_content_type": "image/png",
                             "date": date})
        # link-rich page: absolute outlinks for the link-graph operator
        # (hosts deterministic from the rng), relative links ignored
        n_links = rng.randint(2, 5)
        links = "".join(
            f"<a href='http://{rng.choice(('cdn', 'blog', 'shop', 'www'))}"
            f".site{rng.randint(0, n_segments - 1)}.example/p{j}'>L{j}</a> "
            for j in range(n_links))
        recs.append({"type": "response",
                     "uri": f"http://site{s}.example/links",
                     "body": (f"<html><body><main><p>{_sentence(rng)} "
                              f"{links}<a href='/relative/x'>rel</a>"
                              "</p></main></body></html>").encode(),
                     "http_content_type": "text/html; charset=utf-8",
                     "date": f"2026-05-{10 + s:02d}T00:00:00Z"})
        # wire-compressed capture: crawls store the raw server response,
        # so Content-Encoding: gzip bodies are routine
        recs.append({"type": "response",
                     "uri": f"http://site{s}.example/gzipped",
                     "body": f"<html><p>wire-gzipped {_paragraph(rng)}"
                     "</p></html>".encode(),
                     "http_content_type": "text/html; charset=utf-8",
                     "content_encoding": "gzip" if s % 2 else "deflate",
                     "date": f"2026-04-{10 + s:02d}T00:00:00Z",
                     "chunked": s % 3 == 0})
        # cross-segment re-crawl: segment s also re-captures a page of
        # segment (s-1) with a LATER date — latest capture must win
        if s > 0:
            recs.append({"type": "response",
                         "uri": f"http://site{s - 1}.example/page0",
                         "body": f"<html><p>recrawl of site{s - 1} "
                         f"{_sentence(rng)}</p></html>".encode(),
                         "http_content_type": "text/html; charset=utf-8",
                         "date": f"2026-06-{10 + s:02d}T00:00:00Z"})
        segments.append(recs)
    return segments


def warc_corpus_segments(seed: int, n_segments: int = 6,
                         recs_per_segment: int = 8) -> list[bytes]:
    """The corpus as gzipped WARC segment bytes (Common Crawl layout)."""
    from .sources.warc import write_warc

    return [write_warc(recs, gzip_per_record=True)
            for recs in warc_corpus_records(seed, n_segments,
                                            recs_per_segment)]


def wet_corpus_records(seed: int, n_segments: int = 4):
    """Deterministic WET (extracted-text) segment corpus for the
    ``wet_e2e`` oracle: ``conversion`` records whose bodies are plain
    text — plus the shapes the mouth must filter or survive: a warcinfo
    header per segment, interleaved raw ``response`` records (a WET
    reader must ignore them), a BOM'd body, a latin-1 body with a
    declared charset, and duplicate-URI re-conversions across segments
    (latest WARC-Date wins).  Pure function of its arguments."""
    segments = []
    for s in range(n_segments):
        rng = random.Random(f"{seed}:wet:{s}")
        recs = [{"type": "warcinfo", "uri": None,
                 "body": f"software: wet-fixture/{s}\r\n".encode()}]
        for i in range(10):
            uri = f"http://wet-site{s}.example/page{i}"
            date = f"2026-0{1 + s % 3}-{10 + i:02d}T00:00:00Z"
            r = rng.random()
            if r < 0.55:
                recs.append({"type": "conversion", "uri": uri,
                             "body": _paragraph(rng, 2, 6).encode(),
                             "date": date})
            elif r < 0.65:   # BOM'd UTF-8 body (sniffer consumes the BOM)
                recs.append({"type": "conversion", "uri": uri,
                             "body": b"\xef\xbb\xbf"
                             + _paragraph(rng, 1, 3).encode(),
                             "date": date})
            elif r < 0.75:   # declared latin-1
                recs.append({"type": "conversion", "uri": uri,
                             "body": f"café {_sentence(rng)}"
                             .encode("latin-1"),
                             "record_content_type":
                                 "text/plain; charset=ISO-8859-1",
                             "date": date})
            elif r < 0.88:   # raw response record inside a WET set: skip
                recs.append({"type": "response", "uri": uri,
                             "body": _html_payload(rng).encode(),
                             "http_content_type": "text/html; charset=utf-8",
                             "date": date})
            else:            # request record: skip
                recs.append({"type": "request", "uri": uri,
                             "body": b"GET / HTTP/1.1\r\n",
                             "record_content_type":
                                 "application/http; msgtype=request",
                             "date": date})
        # duplicate-URI re-conversion: later date must win
        if s >= 1:
            uri = f"http://wet-site{s - 1}.example/page0"
            recs.append({"type": "conversion", "uri": uri,
                         "body": f"reconverted by segment {s}: "
                         f"{_sentence(rng)}".encode(),
                         "date": f"2026-06-{10 + s:02d}T00:00:00Z"})
        segments.append(recs)
    return segments


def wet_corpus_segments(seed: int, n_segments: int = 4) -> list[bytes]:
    """The WET corpus as gzipped segment bytes (Common Crawl layout)."""
    from .sources.warc import write_warc

    return [write_warc(recs, gzip_per_record=True)
            for recs in wet_corpus_records(seed, n_segments)]


def jsonl_corpus_lines(seed: int = 42, n: int = 120) -> list[str]:
    """Deterministic JSONL crawl-dump lines: mostly valid documents with
    planted dirt — truncated JSON, missing url, missing text, empty
    lines, JSON arrays — plus duplicate-URL re-crawls (latest line must
    win).  Pure function of (seed, n): the no-Spark golden replays it.
    """
    import json as _json

    rng = random.Random(f"jsonl:{seed}")
    words = ("crawl", "corpus", "spark", "engine", "table", "stream",
             "shard", "token", "vector", "filter")
    lines: list[str] = []
    for i in range(n):
        url = f"http://site{i % 17}.example/p/{i}"
        text = " ".join(rng.choice(words) for _ in range(rng.randint(5, 30)))
        kind = i % 12
        if kind == 7:
            lines.append('{"url": "' + url + '", "text": "trunc')  # cut off
        elif kind == 8:
            lines.append(_json.dumps({"text": text, "lang": "en"}))  # no url
        elif kind == 9:
            lines.append(_json.dumps({"url": url, "lang": "de"}))    # no text
        elif kind == 10:
            lines.append("")                                         # blank
        elif kind == 11:
            lines.append(_json.dumps([url, text]))                   # array
        else:
            lines.append(_json.dumps(
                {"url": url, "text": text,
                 "lang": rng.choice(("en", "de", "fr"))}))
    # duplicate-URL re-crawls: last occurrence must win
    for j in range(6):
        url = f"http://site{j}.example/p/{j}"
        lines.append(_json.dumps(
            {"url": url, "text": f"recrawled version {j}", "lang": "en"}))
    return lines
