"""WARC source: parse/round-trip, Common Crawl gzip layout, HTTP split,
error contract, and segment → documents → extraction composition."""

import gzip
import hashlib

import pytest
from pyspark.sql import functions as F

from databricks_pdf_ocr_spark.sources import warc


def _records():
    return [
        {"type": "response", "uri": "http://a.example/x",
         "body": b"<html><body><p>hello crawl</p></body></html>",
         "http_content_type": "text/html; charset=utf-8"},
        {"type": "response", "uri": "http://b.example/robots.txt",
         "body": b"plain text body here",
         "http_content_type": "text/plain"},
        {"type": "response", "uri": "http://c.example/404",
         "body": b"gone", "status": 404,
         "http_content_type": "text/html"},
        {"type": "response", "uri": "http://d.example/img",
         "body": b"\x89PNG fake", "http_content_type": "image/png"},
        {"type": "warcinfo", "uri": None, "body": b"software: test\r\n"},
    ]


@pytest.mark.parametrize("gz", [True, False])
def test_parse_roundtrip(gz):
    data = warc.write_warc(_records(), gzip_per_record=gz)
    if gz:
        assert data[:2] == b"\x1f\x8b"
    recs = list(warc.parse_warc(data))
    assert len(recs) == 5
    assert recs[0]["headers"]["warc-type"] == "response"
    assert recs[0]["headers"]["warc-target-uri"] == "http://a.example/x"
    status, ctype, body = warc.split_http(recs[0]["body"])
    assert status == 200 and ctype.startswith("text/html")
    assert body == b"<html><body><p>hello crawl</p></body></html>"
    assert recs[4]["headers"]["warc-type"] == "warcinfo"


def test_multi_member_gzip_is_commoncrawl_layout():
    data = warc.write_warc(_records()[:2], gzip_per_record=True)
    # each record is its OWN gzip member: decompressing only the first
    # member's bytes yields exactly one record
    buf = gzip.GzipFile(fileobj=__import__("io").BytesIO(data))
    first = buf.read()
    assert first.count(b"WARC/1.1") >= 1


def test_error_contract():
    with pytest.raises(warc.WarcError, match="version"):
        list(warc.parse_warc(b"NOPE/1.0\r\n\r\n"))
    data = warc.write_warc(_records()[:1], gzip_per_record=False)
    with pytest.raises(warc.WarcError, match="overruns"):
        list(warc.parse_warc(data[:-30]))


def test_chunked_transfer_unwrapped():
    """RFC 7230 chunked framing must not leak hex-size lines into the
    document text (round-4 ADVICE low)."""
    data = warc.write_warc([
        {"type": "response", "uri": "http://c.example/chunked",
         "body": b"first part and second part",
         "http_content_type": "text/plain", "chunked": True}])
    rec = next(warc.parse_warc(data))
    status, ctype, body = warc.split_http(rec["body"])
    assert status == 200
    assert body == b"first part and second part"
    # malformed framing → raw passthrough, never a crash
    assert warc._dechunk(b"ZZ\r\nbroken") == b"ZZ\r\nbroken"
    assert warc._dechunk(b"5\r\nab") == b"5\r\nab"


def test_charset_decode():
    """Declared charsets are honored; undeclared/unknown → lossy UTF-8;
    invalid bytes NEVER raise (the ANSI F.decode failure mode —
    round-4 ADVICE high)."""
    assert warc.charset_of("text/html; charset=ISO-8859-1") == "iso8859-1"
    assert warc.charset_of('text/html; charset="utf-16"') == "utf-16"
    assert warc.charset_of("text/html") == "utf-8"
    assert warc.charset_of("text/html; charset=bogus-x") == "utf-8"
    assert warc.decode_payload(
        b"caf\xe9", "text/html; charset=latin-1") == "café"
    assert warc.decode_payload(
        "straße".encode("utf-16"), "text/plain; charset=utf-16") == "straße"
    # dirty crawl body: invalid multibyte under declared utf-8
    out = warc.decode_payload(b"ok \xff\xfe end", "text/html; charset=utf-8")
    assert out.startswith("ok ") and out.endswith(" end")


def test_streaming_reader_bounded_memory():
    """The reader holds ONE record at a time: peak traced allocation on
    a high-inflation segment stays far below the decompressed size
    (round-4 verdict weak #2 — whole-buffer gzip.decompress held it
    all)."""
    import io
    import tracemalloc

    rec_body = b"x" * (4 << 20)                      # 4 MiB, compresses tiny
    n = 50                                           # 200 MiB decompressed
    segment = warc.write_warc(
        [{"type": "resource", "uri": f"http://m.example/{i}",
          "body": rec_body} for i in range(n)])
    assert len(segment) < (1 << 20)                  # fixture inflates ≥200×
    tracemalloc.start()
    count = total = 0
    for rec in warc.iter_warc_stream(io.BytesIO(segment)):
        count += 1
        total += len(rec["body"])
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == n and total == n * len(rec_body)
    assert peak < (32 << 20), \
        f"peak {peak} B should be ~one record, decompressed total {total} B"


def test_oversize_record_becomes_error_row():
    import io

    data = warc.write_warc([
        {"type": "response", "uri": "http://big.example/a",
         "body": b"z" * 1000, "http_content_type": "text/plain"},
        {"type": "response", "uri": "http://ok.example/b",
         "body": b"small", "http_content_type": "text/plain"}])
    out = list(warc.iter_warc_stream(io.BytesIO(data), max_record_bytes=200))
    assert len(out) == 2
    assert out[0]["body"] is None and "exceeds" in out[0]["error"]
    # reader recovers cleanly past the skipped body
    assert out[1]["error"] is None and b"small" in out[1]["body"]


def test_duplicate_uri_latest_capture_wins(spark, tmp_path):
    """Two captures of one URI in one ingest batch must collapse to the
    latest WARC-Date before hitting the documents contract (round-4
    ADVICE low: same-run_seq duplicates interleave two page versions)."""
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "s0.warc.gz").write_bytes(warc.write_warc([
        {"type": "response", "uri": "http://dup.example/page",
         "body": b"<html><p>old capture</p></html>",
         "http_content_type": "text/html",
         "date": "2026-01-01T00:00:00Z"}]))
    (seg_dir / "s1.warc.gz").write_bytes(warc.write_warc([
        {"type": "response", "uri": "http://dup.example/page",
         "body": b"<html><p>new capture</p></html>",
         "http_content_type": "text/html",
         "date": "2026-03-01T00:00:00Z"},
        # dirty body under declared utf-8: must degrade, not fail the job
        {"type": "response", "uri": "http://dirty.example/x",
         "body": b"<html><p>broken \xff\xfe bytes</p></html>",
         "http_content_type": "text/html; charset=utf-8"},
        # declared latin-1 honored
        {"type": "response", "uri": "http://latin.example/y",
         "body": b"<html><p>caf\xe9</p></html>",
         "http_content_type": "text/html; charset=ISO-8859-1"}]))
    docs = warc.warc_to_documents(
        warc.read_warc_segments(spark, str(seg_dir)))
    texts = {r["doc_id"]: r["spans"][0]["text"] for r in docs.collect()}
    assert len(texts) == 3
    joined = " ".join(texts.values())
    assert "new capture" in joined and "old capture" not in joined
    assert "café" in joined
    assert "broken" in joined        # dirty body survived as degraded text


def test_from_path_and_content_modes_agree(spark, tmp_path):
    """The stream-from-disk fast path (local posix) must produce exactly
    the rows of the binaryFile-content fallback (object stores)."""
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "s0.warc.gz").write_bytes(warc.write_warc(_records()))
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc.gz").load(str(seg_dir)))
    a = warc.warc_records_from_paths(files.select("path"))
    b = warc.warc_records(files.select("path", "content"))
    key = ["segment", "record_id"]
    rows_a = sorted([tuple(r) for r in a.collect()])
    rows_b = sorted([tuple(r) for r in b.collect()])
    assert rows_a == rows_b and len(rows_a) == 5
    assert warc._local_dir("file:///x/y") == "/x/y"
    assert warc._local_dir("/x/y") == "/x/y"
    assert warc._local_dir("s3://bucket/x") is None


def test_segment_to_documents_to_extraction(spark, tmp_path):
    """End-to-end: .warc.gz segments → record table → documents contract
    → the real extraction pipeline (html block extraction)."""
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "seg-00000.warc.gz").write_bytes(warc.write_warc(_records()))
    (seg_dir / "seg-00001.warc.gz").write_bytes(warc.write_warc([
        {"type": "response", "uri": "http://e.example/y",
         "body": b"<html><h1>Title</h1><p>para one</p></html>",
         "http_content_type": "text/html"}]))
    (seg_dir / "seg-trunc.warc.gz").write_bytes(
        warc.write_warc(_records()[:1])[:-10])  # corrupt tail → error row

    recs = warc.read_warc_segments(spark, str(seg_dir))
    by_type = {(r["warc_type"], r["parse_ok"]) for r in recs.collect()}
    assert ("response", True) in by_type and ("warcinfo", True) in by_type
    assert (None, False) in by_type                 # the corrupt segment
    ok = recs.filter("parse_ok")
    assert ok.filter(F.col("http_status") == 404).count() == 1

    docs = warc.warc_to_documents(recs)
    got = {r["doc_id"]: r["spans"] for r in docs.collect()}
    # 2xx text/html+text/plain only: a.example, b.example, e.example
    assert len(got) == 3
    kinds = {s["kind"] for spans in got.values() for s in spans}
    assert kinds == {"html", "text"}

    # straight into the extraction pipeline
    from conftest import TEST_CONFIG
    from databricks_pdf_ocr_spark.operators.extract import (
        reassemble, run_extraction,
    )
    assembled = {r["doc_id"]: [s["text"] for s in r["spans"]]
                 for r in reassemble(
                     run_extraction(docs, TEST_CONFIG)).collect()}
    texts = [t for ts in assembled.values() for t in ts]
    assert any("hello crawl" in t for t in texts)
    assert any("para one" in t for t in texts)
    assert any("plain text body here" in t for t in texts)


def test_meta_charset_prescan_and_bom():
    """WHATWG order: BOM > HTTP header charset > <meta> prescan > utf-8."""
    # header absent, <meta charset> present
    body = '<html><head><meta charset="iso-8859-1"></head>' \
           '<body>café</body></html>'
    assert warc.decode_payload(body.encode("latin-1"),
                               "text/html") == body
    # http-equiv form
    body2 = ('<html><head><meta http-equiv="Content-Type" '
             'content="text/html; charset=ISO-8859-1"></head>'
             '<body>précis</body></html>')
    assert warc.decode_payload(body2.encode("latin-1"),
                               "text/html") == body2
    # BOM wins over a WRONG header declaration
    b16 = "straße".encode("utf-16")            # BOM-led
    assert warc.decode_payload(
        b16, "text/plain; charset=latin-1") == "straße"
    # header wins over meta when both present
    body3 = '<meta charset="utf-16"><p>plain ascii</p>'
    assert warc.decode_payload(
        body3.encode(), "text/html; charset=utf-8") == body3
    # neither: lossy utf-8 default
    assert warc.sniff_charset(b"just bytes", None) == "utf-8"


def test_extract_job_warc_input(spark, tmp_path):
    """The spark-submit job accepts --input warc:<segment dir>: crawl
    segments flow through the full checkpointed extraction (incremental
    rerun processes nothing new)."""
    from jobs.extract import build_parser, run_job

    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "s0.warc.gz").write_bytes(warc.write_warc([
        {"type": "response", "uri": f"http://w.example/p{i}",
         "body": f"<html><h1>T{i}</h1><p>warc job body {i}</p></html>"
         .encode(), "http_content_type": "text/html"}
        for i in range(6)]))
    tables = str(tmp_path / "t")
    stats, rc = run_job(spark, build_parser().parse_args(
        ["--input", f"warc:{seg_dir}", "--tables", tables,
         "--n-buckets", "4", "--partitions", "4"]))
    assert rc == 0 and stats["docs_done"] == 6
    ext = spark.read.parquet(f"{tables}/extracted_documents")
    texts = [s["text"] for r in ext.collect() for s in r["spans"]]
    assert any("warc job body 3" in t for t in texts)

    # incremental rerun: nothing new
    stats2, rc2 = run_job(spark, build_parser().parse_args(
        ["--input", f"warc:{seg_dir}", "--tables", tables,
         "--n-buckets", "4", "--partitions", "4"]))
    assert rc2 == 0 and stats2["docs_assembled"] == 0


def test_content_encoding_unwrapped():
    """Content-Encoding: gzip/x-gzip/deflate (zlib AND raw dialects)
    entity bodies are inflated — crawl captures store wire bytes, which
    would otherwise reach extraction as compressed garbage.  Bounded:
    a zip-bomb keeps the raw bytes instead of inflating past the cap;
    garbage under a declared encoding passes through."""
    import zlib as _z

    body = b"<html><p>the actual text</p></html>"
    for enc in ("gzip", "x-gzip", "deflate"):
        data = warc.write_warc([
            {"type": "response", "uri": "http://ce.example/a", "body": body,
             "http_content_type": "text/html", "content_encoding": enc}])
        _st, _ct, ent = warc.split_http(next(warc.parse_warc(data))["body"])
        assert ent == body, enc
    # CE under TE: unchunk first, then inflate
    data = warc.write_warc([
        {"type": "response", "uri": "http://ce.example/b", "body": body,
         "http_content_type": "text/html", "content_encoding": "gzip",
         "chunked": True}])
    _st, _ct, ent = warc.split_http(next(warc.parse_warc(data))["body"])
    assert ent == body
    # raw-deflate dialect (no zlib header), as some servers send
    raw = _z.compress(b"raw dialect")[2:-4]
    assert warc._decompress_entity(raw, "deflate") == b"raw dialect"
    # garbage + inflation cap
    assert warc._decompress_entity(b"junk", "gzip") == b"junk"
    bomb = _z.compress(b"\x00" * 10_000_000)
    out = warc._decompress_entity(bomb, "deflate", max_bytes=1000)
    assert out == bomb                     # refused to inflate past cap


def test_pagerank_matches_dense_reference(spark):
    """Distributed PageRank vs a dense numpy power iteration on a
    hand-built graph (same simplified formulation: dangling mass
    dropped)."""
    import numpy as np

    from databricks_pdf_ocr_spark.operators import linkgraph

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src_host string, dst_host string")
    got = {r["host"]: r["rank"]
           for r in linkgraph.pagerank(df).collect()}

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        nxt = np.full(n, 0.15 / n)
        for s, t in edges:
            nxt[idx[t]] += 0.85 * r[idx[s]] / deg[idx[s]]
        r = nxt
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-12, node
    # ranks are a probability-ish vector (≤1 total; dangling mass lost)
    assert 0 < sum(got.values()) <= 1.000001


def test_outlink_edges_shape(spark):
    from databricks_pdf_ocr_spark.operators import linkgraph

    docs = spark.createDataFrame(
        [("http://a.example/p", [{"kind": "html",
          "text": "<a href='http://B.example/x'>l</a>"
                  "<a href='http://b.example/y'>l</a>"
                  "<a href='/rel'>r</a>", "media_ref": None, "offset": 0}]),
         ("http://c.example/q", [{"kind": "text",
          "text": "href='http://ignored.example/'", "media_ref": None,
          "offset": 0}])],
        "target_uri string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    got = {(r["src_host"], r["dst_host"])
           for r in linkgraph.outlink_edges(docs).collect()}
    # host lowercased, duplicates collapsed, text spans + relative ignored
    assert got == {("a.example", "b.example")}


def test_lf_only_http_headers():
    """Sloppy servers emit LF-only header blocks; the response must
    still be recognized (it previously fell through as a non-HTTP body
    and was filtered out of the documents contract entirely)."""
    body = (b"HTTP/1.1 200 OK\nContent-Type: text/html; charset=utf-8\n\n"
            b"<html><p>lf only</p></html>")
    status, ctype, ent = warc.split_http(body)
    assert status == 200 and "utf-8" in ctype
    assert ent == b"<html><p>lf only</p></html>"
    # a \n\n inside the body must NOT truncate a CRLF header block
    b2 = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\na \n\n b"
    assert warc.split_http(b2) == (200, "text/plain", b"a \n\n b")


def test_zstd_segment_rejected_loudly(spark, tmp_path):
    """A .warc.zst segment (newer Common Crawl encoding; no stdlib
    codec here) must become a loud per-segment error row naming the
    production fix — never a silent skip or a failed job."""
    import io

    with pytest.raises(warc.WarcError, match="zstandard"):
        list(warc.iter_warc_stream(io.BytesIO(
            b"\x28\xb5\x2f\xfd" + b"\x00" * 64)))
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "a.warc.gz").write_bytes(warc.write_warc(_records()[:1]))
    (seg_dir / "b.warc.gz").write_bytes(b"\x28\xb5\x2f\xfd" + b"\x00" * 64)
    recs = warc.read_warc_segments(spark, str(seg_dir)).collect()
    errs = [r for r in recs if not r["parse_ok"]]
    assert len(errs) == 1 and "zstandard" in errs[0]["error_message"]
    assert any(r["parse_ok"] for r in recs)      # the good segment landed


def test_wet_to_documents_semantics(spark):
    """WET mouth: conversion records only, latest capture wins, BOM
    consumed, declared charset honored, response/request records and
    non-text conversions skipped."""
    recs = [
        {"type": "conversion", "uri": "http://w.example/a",
         "body": b"extracted plain text", "date": "2026-01-01T00:00:00Z"},
        # re-conversion of the same URI, later date: must win
        {"type": "conversion", "uri": "http://w.example/a",
         "body": b"newer conversion", "date": "2026-02-01T00:00:00Z"},
        # BOM'd body: BOM consumed by the sniffer
        {"type": "conversion", "uri": "http://w.example/bom",
         "body": b"\xef\xbb\xbfbom body"},
        # declared latin-1
        {"type": "conversion", "uri": "http://w.example/l1",
         "body": "café".encode("latin-1"),
         "record_content_type": "text/plain; charset=ISO-8859-1"},
        # skipped: raw response interleaved in the set
        {"type": "response", "uri": "http://w.example/raw",
         "body": b"<html><p>raw</p></html>",
         "http_content_type": "text/html"},
        # skipped: non-text conversion
        {"type": "conversion", "uri": "http://w.example/bin",
         "body": b"\x00\x01", "record_content_type": "application/pdf"},
    ]
    seg = warc.write_warc(recs, gzip_per_record=True)
    files = spark.createDataFrame([("mem:wet-0.warc.wet.gz", seg)],
                                  "path string, content binary")
    docs = warc.wet_to_documents(warc.warc_records(files))
    # doc_id = sha256(target_uri)
    uris = ["http://w.example/a", "http://w.example/bom",
            "http://w.example/l1"]
    by_id = {hashlib.sha256(u.encode()).hexdigest(): u for u in uris}
    rows = {by_id.get(r["doc_id"]): r for r in docs.collect()}
    assert set(rows) == set(uris)
    by_uri = {u: r["spans"][0]["text"] for u, r in rows.items()}
    assert by_uri["http://w.example/a"] == "newer conversion"
    assert by_uri["http://w.example/bom"] == "bom body"
    assert by_uri["http://w.example/l1"] == "café"
    for r in rows.values():
        assert r["spans"][0]["kind"] == "text"
        assert r["spans"][0]["offset"] == 0


def test_wet_golden_is_fresh():
    """Committed WET golden equals a fresh single-process regeneration."""
    import pyarrow.parquet as pq
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import make_golden_parquet as G
    assert pq.read_table(G.WET_GOLDEN_PATH).equals(G.wet_golden_table())
