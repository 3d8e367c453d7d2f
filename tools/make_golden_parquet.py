"""Materialize the extract_e2e golden as parquet (committed test data).

The flagship pipeline query (``queries.extract_e2e``) runs the full
distributed extraction over the deterministic fixture corpus; this script
produces the same rows from the single-process golden pipeline
(``tools/goldens.py``) with NO Spark, so DuckDB can hash-compare the two
via ``oracle_sql()`` — giving the flagship an independent correctness
oracle instead of a rows-only check.

Regenerate (and assert unchanged) with:
    python tools/make_golden_parquet.py [--check]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyarrow as pa
import pyarrow.parquet as pq

from databricks_pdf_ocr_spark import fixtures
from databricks_pdf_ocr_spark.config import ExtractConfig
from tools.goldens import golden_extract

#: must mirror queries.extract_e2e exactly
E2E_SEED, E2E_DOCS, E2E_PROFILE = 42, 80, fixtures.TINY
E2E_CFG = ExtractConfig(n_buckets=16, shuffle_partitions=8)

GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / "data" / \
    "golden_extract_e2e.parquet"


def golden_table() -> pa.Table:
    rows = list(fixtures.gen_rows(E2E_SEED, E2E_DOCS, E2E_PROFILE))
    gold = golden_extract(rows, E2E_CFG)
    doc_ids, offs, kinds, texts, mrefs = [], [], [], [], []
    for did in sorted(gold):
        for (kind, text, mref, off) in gold[did]:
            doc_ids.append(did)
            offs.append(off)
            kinds.append(kind)
            texts.append(text)
            mrefs.append(mref)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "out_offset": pa.array(offs, pa.int32()),
        "kind": pa.array(kinds, pa.string()),
        "text": pa.array(texts, pa.string()),
        "media_ref": pa.array(mrefs, pa.string()),
    })


#: must mirror queries.pdf_images_e2e exactly
PDFIMG_SEED, PDFIMG_DOCS = 42, 40

PDFIMG_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_pdf_images.parquet"


def pdf_images_golden_table() -> pa.Table:
    """Single-process truth for the distributed extraction kernel's
    payload rows (``pdf_images_e2e`` and ``media_payloads_e2e``):
    the identical deterministic corpus through ``PdfDocument.page_images``
    with no Spark, payloads reduced to sha256/length (what the queries
    project)."""
    import hashlib

    from databricks_pdf_ocr_spark.functions import pdfmini

    cols = {k: [] for k in ("doc_id", "page_idx", "image_idx", "format",
                            "width", "height", "content_len", "content_sha",
                            "extract_ok", "error_message")}
    for did, pdf_bytes in fixtures.pdf_corpus_rows(PDFIMG_SEED, PDFIMG_DOCS):
        doc = pdfmini.PdfDocument(pdf_bytes)
        for pi, page in enumerate(doc.pages()):
            for ii, rec in enumerate(doc.page_images(page)):
                cols["doc_id"].append(did)
                cols["page_idx"].append(pi)
                cols["image_idx"].append(ii)
                cols["format"].append(rec["format"])
                cols["width"].append(rec["width"])
                cols["height"].append(rec["height"])
                cols["content_len"].append(len(rec["payload"]))
                cols["content_sha"].append(
                    hashlib.sha256(rec["payload"]).hexdigest())
                cols["extract_ok"].append(rec["error"] is None)
                cols["error_message"].append(rec["error"])
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.string()),
        "page_idx": pa.array(cols["page_idx"], pa.int32()),
        "image_idx": pa.array(cols["image_idx"], pa.int32()),
        "format": pa.array(cols["format"], pa.string()),
        "width": pa.array(cols["width"], pa.int32()),
        "height": pa.array(cols["height"], pa.int32()),
        "content_len": pa.array(cols["content_len"], pa.int64()),
        "content_sha": pa.array(cols["content_sha"], pa.string()),
        "extract_ok": pa.array(cols["extract_ok"], pa.bool_()),
        "error_message": pa.array(cols["error_message"], pa.string()),
    })


#: must mirror queries.warc_e2e exactly
WARC_SEED, WARC_SEGMENTS = 42, 6
WARC_CFG = ExtractConfig(n_buckets=16, shuffle_partitions=8)

WARC_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_warc_e2e.parquet"


def warc_golden_rows():
    """Single-process truth for the WARC mouth: the deterministic crawl
    segments parsed/filtered/deduped with the pure kernels (no Spark),
    mirroring ``warc.warc_to_documents`` — text/2xx responses only,
    latest (WARC-Date, record-id) capture per URI, charset-aware lossy
    decode — then the extraction golden over the resulting documents."""
    import hashlib
    import re

    from databricks_pdf_ocr_spark.sources import warc as W

    caps: dict[str, tuple] = {}        # uri -> ((date, rid), hct, body)
    for seg in fixtures.warc_corpus_segments(WARC_SEED, WARC_SEGMENTS):
        for rec in W.parse_warc(seg):
            h = rec["headers"]
            if h.get("warc-type") != "response":
                continue
            uri = h.get("warc-target-uri")
            if uri is None:
                continue
            status, hct, body = W.split_http(rec["body"])
            if not (hct and re.match("(?i)^text/(html|plain)", hct)):
                continue
            if not (status is not None and 200 <= status <= 299):
                continue
            key = (h.get("warc-date") or "", h.get("warc-record-id") or "")
            if uri not in caps or key > caps[uri][0]:
                caps[uri] = (key, hct, body)
    rows = []
    for uri, (_key, hct, body) in caps.items():
        kind = "html" if re.search("(?i)html", hct) else "text"
        rows.append((hashlib.sha256(uri.encode()).hexdigest(),
                     [{"kind": kind, "text": W.decode_payload(body, hct),
                       "media_ref": None, "offset": 0}]))
    return rows


def warc_golden_table() -> pa.Table:
    gold = golden_extract(warc_golden_rows(), WARC_CFG)
    doc_ids, offs, kinds, texts, mrefs = [], [], [], [], []
    for did in sorted(gold):
        for (kind, text, mref, off) in gold[did]:
            doc_ids.append(did)
            offs.append(off)
            kinds.append(kind)
            texts.append(text)
            mrefs.append(mref)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "out_offset": pa.array(offs, pa.int32()),
        "kind": pa.array(kinds, pa.string()),
        "text": pa.array(texts, pa.string()),
        "media_ref": pa.array(mrefs, pa.string()),
    })


#: must mirror queries.wet_e2e exactly
WET_SEED, WET_SEGMENTS = 42, 4

WET_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_wet_e2e.parquet"


def wet_golden_table() -> pa.Table:
    """Single-process truth for the WET mouth: the deterministic WET
    segments parsed with the pure kernels (no Spark), mirroring
    ``warc.wet_to_documents`` — conversion/text-plain records only,
    latest (WARC-Date, record-id) capture per URI, charset-aware lossy
    decode of the raw record body (no HTTP split)."""
    import hashlib
    import re

    from databricks_pdf_ocr_spark.sources import warc as W

    caps: dict[str, tuple] = {}        # uri -> ((date, rid), ctype, body)
    for seg in fixtures.wet_corpus_segments(WET_SEED, WET_SEGMENTS):
        for rec in W.parse_warc(seg):
            h = rec["headers"]
            if h.get("warc-type") != "conversion":
                continue
            uri = h.get("warc-target-uri")
            ct = h.get("content-type")
            if uri is None or not (ct and re.match("(?i)^text/plain", ct)):
                continue
            key = (h.get("warc-date") or "", h.get("warc-record-id") or "")
            if uri not in caps or key > caps[uri][0]:
                caps[uri] = (key, ct, rec["body"])
    doc_ids, texts = [], []
    for uri in sorted(caps):
        _key, ct, body = caps[uri]
        doc_ids.append(hashlib.sha256(uri.encode()).hexdigest())
        texts.append(W.decode_payload(body, ct))
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "text": pa.array(texts, pa.string()),
    })


#: must mirror queries.warc_outlink_hosts exactly
OUTLINK_RE = r"(?i)href\s*=\s*[\"']https?://([^/\"'>]+)"

OUTLINK_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_warc_outlinks.parquet"


def warc_outlinks_golden_table() -> pa.Table:
    """Independent truth for the link-graph operator: Python ``re`` over
    the single-process documents rows (vs Spark's JVM regex engine in
    the query) — host → count of absolute outlinks."""
    import re
    from collections import Counter

    counts: Counter = Counter()
    for _did, spans in warc_golden_rows():
        for s in spans:
            if s["kind"] == "html":
                counts.update(
                    h.lower() for h in re.findall(OUTLINK_RE, s["text"]))
    hosts = sorted(counts)
    return pa.table({
        "host": pa.array(hosts, pa.string()),
        "n_links": pa.array([counts[h] for h in hosts], pa.int64()),
    })


ANCHOR_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_warc_anchors.parquet"


def warc_anchors_golden_table() -> pa.Table:
    """Independent truth for the anchor-text operator: Python ``re``
    over the single-process documents rows (vs Spark's JVM regex in the
    query) — (dst_host, normalized anchor text) → count."""
    import re
    from collections import Counter

    from databricks_pdf_ocr_spark.operators.linkgraph import ANCHOR_RE

    counts: Counter = Counter()
    for _did, spans in warc_golden_rows():
        for s in spans:
            if s["kind"] != "html":
                continue
            for host, txt in re.findall(ANCHOR_RE, s["text"]):
                anchor = re.sub(r"\s+", " ",
                                re.sub(r"<[^>]*>", " ", txt)).strip().lower()
                if anchor:
                    counts[(host.lower(), anchor)] += 1
    keys = sorted(counts)
    return pa.table({
        "dst_host": pa.array([k[0] for k in keys], pa.string()),
        "anchor": pa.array([k[1] for k in keys], pa.string()),
        "n": pa.array([counts[k] for k in keys], pa.int64()),
    })


LINKGRAPH_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_warc_linkgraph.parquet"


def warc_linkgraph_golden_table() -> pa.Table:
    """Host→host edge list (src = page's own host, dst = absolute href
    host, distinct, lowercased) from the single-process documents rows
    with Python ``re`` — the committed input for the PageRank oracle
    and the independent check of Spark's distributed edge build."""
    import hashlib
    import re

    # invert doc_id back to host via the corpus URIs (doc_id = sha2(uri))
    uri_of = {}
    for recs in fixtures.warc_corpus_records(WARC_SEED, WARC_SEGMENTS):
        for r in recs:
            if r.get("uri"):
                uri_of[hashlib.sha256(r["uri"].encode()).hexdigest()] = \
                    r["uri"]
    edges = set()
    for did, spans in warc_golden_rows():
        src = re.match(r"https?://([^/]+)", uri_of[did]).group(1).lower()
        for s in spans:
            if s["kind"] == "html":
                for h in re.findall(OUTLINK_RE, s["text"]):
                    edges.add((src, h.lower()))
    rows = sorted(edges)
    return pa.table({
        "src_host": pa.array([a for a, _ in rows], pa.string()),
        "dst_host": pa.array([b for _, b in rows], pa.string()),
    })


BPE_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_bpe.parquet"

#: must mirror queries.bpe_tokenize exactly
BPE_SEED, BPE_DOCS, BPE_TOP_K, BPE_MERGES = 42, 300, 4096, 200


def bpe_golden_table() -> pa.Table:
    """Single-process truth for the tokenizer path: the identical
    fixture corpus pre-tokenized with Python ``re``, word-frequency
    table built with a Counter (same (count desc, word asc) top-K cut
    as the distributed hash-agg), the same deterministic BPE fit, and
    the sequential encoder — NO Spark anywhere."""
    import re as _re
    from collections import Counter

    from databricks_pdf_ocr_spark.operators import tokenize as T

    rows = list(fixtures.text_corpus_rows(BPE_SEED, BPE_DOCS))
    counts: Counter = Counter()
    for _did, text in rows:
        counts.update(_re.findall(T.PRETOKEN_PATTERN, text))
    wc = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    merges, vocab = T.bpe_train(wc, num_merges=BPE_MERGES)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    dids, n_col, tok_col = [], [], []
    for did, text in rows:
        ids = T.bpe_encode_text(text, ranks, vocab)
        dids.append(did)
        n_col.append(len(ids))
        tok_col.append(" ".join(str(i) for i in ids))
    return pa.table({
        "doc_id": pa.array(dids, pa.string()),
        "n_tokens": pa.array(n_col, pa.int32()),
        "tokens": pa.array(tok_col, pa.string()),
    })


PHASH_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_phash.parquet"

#: must mirror queries.media_phash_neardup exactly
PHASH_SEED, PHASH_MAX_HAMMING = 42, 7


def phash_golden_table() -> pa.Table:
    """Single-process truth for perceptual media near-dup: the identical
    fixture images decoded with the pure codecs, dHashed, and paired by
    FULL O(n^2) Hamming comparison (no banding — the golden must catch a
    banding bug in the distributed pigeonhole path)."""
    import hashlib
    import itertools

    from databricks_pdf_ocr_spark.functions import imghash
    from databricks_pdf_ocr_spark.operators.multimodal import _decode_pixels

    hs = {}
    for _name, payload in fixtures.image_corpus_rows(PHASH_SEED):
        mid = hashlib.sha256(payload).hexdigest()
        fmt, w, h, ch, pix = _decode_pixels(payload)
        hs[mid] = imghash.dhash64(pix, w, h, ch)
    rows = []
    for a, b in itertools.combinations(sorted(hs), 2):
        d = imghash.hamming64(hs[a], hs[b])
        if d <= PHASH_MAX_HAMMING:
            rows.append((a, b, d))
    rows.sort()
    return pa.table({
        "media_a": pa.array([r[0] for r in rows], pa.string()),
        "media_b": pa.array([r[1] for r in rows], pa.string()),
        "hamming": pa.array([r[2] for r in rows], pa.int64()),
    })


AHASH_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_ahash.parquet"

#: must mirror queries.audio_ahash_neardup exactly
AHASH_SEED, AHASH_MAX_HAMMING = 42, 7


def ahash_golden_table() -> pa.Table:
    """Single-process truth for perceptual AUDIO near-dup: the identical
    fixture WAVs decoded with the pure codec, fingerprinted, and paired
    by FULL O(n^2) Hamming comparison (no banding — the golden must
    catch a banding bug in the distributed pigeonhole path)."""
    import hashlib
    import itertools

    from databricks_pdf_ocr_spark.functions import audiohash, imghash, \
        wavmini

    hs = {}
    for _name, payload in fixtures.audio_corpus_rows(AHASH_SEED):
        mid = hashlib.sha256(payload).hexdigest()
        hs[mid] = audiohash.ahash64(wavmini.decode_wav(payload))
    rows = []
    for a, b in itertools.combinations(sorted(hs), 2):
        d = imghash.hamming64(hs[a], hs[b])
        if d <= AHASH_MAX_HAMMING:
            rows.append((a, b, d))
    rows.sort()
    return pa.table({
        "media_a": pa.array([r[0] for r in rows], pa.string()),
        "media_b": pa.array([r[1] for r in rows], pa.string()),
        "hamming": pa.array([r[2] for r in rows], pa.int64()),
    })


VHASH_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_vhash.parquet"

#: must mirror queries.video_phash_neardup exactly
VHASH_SEED, VHASH_MAX_HAMMING, VHASH_MIN_FRAMES = 42, 7, 2


def vhash_golden_table() -> pa.Table:
    """Single-process truth for perceptual VIDEO near-dup: the identical
    MJPEG fixtures frame-decoded with the pure codecs, per-frame dHashed,
    and paired by FULL O(n^2) frame-aligned comparison (no banding)."""
    import hashlib
    import itertools

    from databricks_pdf_ocr_spark.functions import imghash, jpegmini, \
        mp4mini

    fh = {}
    for _name, payload in fixtures.video_corpus_rows(VHASH_SEED):
        mid = hashlib.sha256(payload).hexdigest()
        hs = []
        for _ts, jpg in mp4mini.mjpeg_frames(payload):
            w, h, ch, pix = jpegmini.decode_jpeg(jpg)
            hs.append(imghash.dhash64(pix, w, h, ch))
        fh[mid] = hs
    rows = []
    for a, b in itertools.combinations(sorted(fh), 2):
        ds = [imghash.hamming64(x, y) for x, y in zip(fh[a], fh[b])
              ]
        hit = [d for d in ds if d <= VHASH_MAX_HAMMING]
        if len(hit) >= VHASH_MIN_FRAMES:
            rows.append((a, b, len(hit), max(hit)))
    rows.sort()
    return pa.table({
        "media_a": pa.array([r[0] for r in rows], pa.string()),
        "media_b": pa.array([r[1] for r in rows], pa.string()),
        "frames_matched": pa.array([r[2] for r in rows], pa.int64()),
        "max_hamming": pa.array([r[3] for r in rows], pa.int64()),
    })


#: must mirror queries.jsonl_e2e exactly
JSONL_SEED, JSONL_N = 42, 120

JSONL_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_jsonl_e2e.parquet"


def jsonl_golden_table() -> pa.Table:
    """No-Spark truth for the JSONL mouth: json.loads per line; dict
    lines with a string url AND string text become documents
    (sha256(url) identity); later lines win per document — mirroring
    ``jsonl.lines_to_documents``."""
    import hashlib
    import json

    docs: dict[str, tuple] = {}
    for i, line in enumerate(fixtures.jsonl_corpus_lines(JSONL_SEED,
                                                         JSONL_N)):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        url, text, lang = obj.get("url"), obj.get("text"), obj.get("lang")
        if not isinstance(url, str) or not isinstance(text, str):
            continue
        did = hashlib.sha256(url.encode()).hexdigest()
        docs[did] = (url, lang if isinstance(lang, str) else None, text, i)
    items = sorted(docs.items())
    return pa.table({
        "doc_id": pa.array([k for k, _ in items], pa.string()),
        "url": pa.array([v[0] for _, v in items], pa.string()),
        "lang": pa.array([v[1] for _, v in items], pa.string()),
        "text": pa.array([v[2] for _, v in items], pa.string()),
        "line_no": pa.array([v[3] for _, v in items], pa.int64()),
    })


COMP_GOLDEN_PATH = Path(__file__).resolve().parent.parent / "tests" / \
    "data" / "golden_compression.parquet"

#: must mirror queries.compression_quality exactly
COMP_SEED, COMP_DOCS, COMP_LEVEL = 42, 300, 6


def compression_golden_table() -> pa.Table:
    """No-Spark truth for the zlib compressibility signal: the identical
    fixture corpus compressed sequentially with the same CPython zlib
    build the executors use (the golden pins the container's zlib —
    compressed LENGTH for a fixed level is what the signal reads)."""
    import zlib

    dids, nb, cb, ratio = [], [], [], []
    for did, text in fixtures.text_corpus_rows(COMP_SEED, COMP_DOCS):
        raw = text.encode("utf-8")
        if not raw:
            continue
        comp = len(zlib.compress(raw, COMP_LEVEL))
        dids.append(did)
        nb.append(len(raw))
        cb.append(comp)
        ratio.append(comp * 1000000 // len(raw))
    return pa.table({
        "doc_id": pa.array(dids, pa.string()),
        "n_bytes": pa.array(nb, pa.int64()),
        "comp_bytes": pa.array(cb, pa.int64()),
        "ratio_e6": pa.array(ratio, pa.int64()),
    })


def main(argv=None) -> int:
    check = "--check" in (argv or sys.argv[1:])
    for path, table in ((GOLDEN_PATH, golden_table()),
                        (PDFIMG_GOLDEN_PATH, pdf_images_golden_table()),
                        (WARC_GOLDEN_PATH, warc_golden_table()),
                        (WET_GOLDEN_PATH, wet_golden_table()),
                        (OUTLINK_GOLDEN_PATH, warc_outlinks_golden_table()),
                        (ANCHOR_GOLDEN_PATH, warc_anchors_golden_table()),
                        (LINKGRAPH_GOLDEN_PATH,
                         warc_linkgraph_golden_table()),
                        (BPE_GOLDEN_PATH, bpe_golden_table()),
                        (PHASH_GOLDEN_PATH, phash_golden_table()),
                        (AHASH_GOLDEN_PATH, ahash_golden_table()),
                        (VHASH_GOLDEN_PATH, vhash_golden_table()),
                        (JSONL_GOLDEN_PATH, jsonl_golden_table()),
                        (COMP_GOLDEN_PATH, compression_golden_table())):
        if check:
            existing = pq.read_table(path)
            assert existing.equals(table), f"{path} is stale — regenerate"
            print(f"golden up to date: {path} ({table.num_rows} rows)")
            continue
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, path)
        print(f"wrote {path} ({table.num_rows} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
