"""The benchmark's seeded input corpus, its shape summary, and the
single-process references every timed run is checked against."""

from __future__ import annotations

import dataclasses
import hashlib
import itertools
import math
import os
import random
import statistics
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from databricks_pdf_ocr_spark import fixtures
from databricks_pdf_ocr_spark.config import ExtractConfig

#: The repo's own bench profile (``fixtures.BENCH``: FIXTURES.md §1's
#: mix of ~70% text, 10% html, 10% pdf of 1-4 pages and 10% image spans,
#: 3-10 spans per document, every 100th document heavy with 100-250
#: spans, the skew case), plus one deterministic error span in every 40th
#: document (truncated pdf, unparseable oversized pdf, or an image without
#: a media ref) so the failure path runs.
PROFILE = dataclasses.replace(fixtures.BENCH, error_every=40)
N_DOCS = 400
N_INPUT_FILES = 8

_SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
_DOCS_SCHEMA = pa.schema([("doc_id", pa.string()),
                          ("spans", pa.list_(_SPAN_TYPE))])


def generate(seed: int, n_docs: int = N_DOCS) -> list[tuple[str, list[dict]]]:
    return list(fixtures.gen_rows(seed, n_docs, PROFILE))


def write_documents(rows, path: str, n_files: int = N_INPUT_FILES) -> None:
    """A ``(doc_id, spans)`` table as ``n_files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(rows) / n_files)
    for i in range(n_files):
        part = rows[i * per:(i + 1) * per]
        table = pa.Table.from_pydict(
            {"doc_id": [d for d, _ in part], "spans": [s for _, s in part]},
            schema=_DOCS_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def shape(rows) -> dict:
    """Spans/doc, kind mix and a log2 payload-bytes/doc histogram, so a
    new seed can be checked to give a corpus of the same shape."""
    per_doc = [len(s) for _, s in rows]
    kinds = Counter(x["kind"] for _, s in rows for x in s)
    n_spans = sum(per_doc)
    hist = Counter()
    for _, spans in rows:
        b = sum(len(x["text"] or "") for x in spans)
        hist[f"<2^{max(b, 1).bit_length()}"] += 1
    return {
        "docs": len(rows), "spans": n_spans,
        "spans_per_doc": {"mean": round(n_spans / len(rows), 2),
                          "median": statistics.median(per_doc),
                          "max": max(per_doc)},
        "kind_mix": {k: round(v / n_spans, 4) for k, v in sorted(kinds.items())},
        "payload_bytes_per_doc_hist": dict(sorted(
            hist.items(), key=lambda kv: int(kv[0][3:]))),
    }


@dataclass
class Reference:
    """Per-document expected output and span accounting."""
    outputs: dict[str, list[tuple]]   # doc_id -> [(kind, text, media_ref, offset)]
    spans_in: dict[str, int]
    spans_failed: dict[str, int]

    def failed_share(self, docs) -> tuple[int, int]:
        """(failed spans, input spans) over ``docs``."""
        return (sum(self.spans_failed[d] for d in docs),
                sum(self.spans_in[d] for d in docs))


def extraction_reference(rows, cfg: ExtractConfig) -> Reference:
    """``tools/goldens`` run over the corpus in this one process.  The
    golden skips failed spans silently, so its kernel call is wrapped
    here to count them per document."""
    from tools import goldens

    kernel = goldens.extract_span
    failed = [0]

    def counting(*args, **kwargs):
        res = kernel(*args, **kwargs)
        failed[0] += res[0] == "failed"
        return res

    outputs, spans_in, spans_failed = {}, {}, {}
    goldens.extract_span = counting
    try:
        for doc_id, spans in rows:
            failed[0] = 0
            outputs[doc_id] = goldens.golden_extract_doc(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], cfg)
            spans_in[doc_id] = len(spans)
            spans_failed[doc_id] = failed[0]
    finally:
        goldens.extract_span = kernel
    return Reference(outputs, spans_in, spans_failed)


def doc_texts(outputs: dict[str, list[tuple]]) -> dict[str, str]:
    """What ``jobs/curate.doc_text`` derives from an assembled document:
    its text spans joined by a space, empty documents dropped."""
    texts = {d: " ".join(t for k, t, _, _ in spans if k == "text")
             for d, spans in outputs.items()}
    return {d: t for d, t in texts.items() if t}


#: ``run_curate --neardup-jaccard`` default: pairs at or above this
#: word-3-gram Jaccard similarity are near-duplicates
NEARDUP_JACCARD = 0.3
#: documents that get a planted near-duplicate copy in the curate input
PLANTED_SOURCES = 12
#: a planted copy's source has at least this many words, so each copy's
#: Jaccard similarity with it is above 0.95 and LSH finds the pair
PLANTED_MIN_WORDS = 60
#: ``curate_e2e`` keeps a document when its sample bucket is below its
#: language's percentage (en 60, others 40); copy ids have a bucket below
#: both
_SAMPLE_FLOOR = 40


def sample_bucket(doc_id: str) -> int:
    """``curate_e2e``'s hash-sample bucket of a document id (0-99)."""
    return int(hashlib.sha256(doc_id.encode()).hexdigest()[:8], 16) % 100


def _edit(spans: list[tuple], how: str) -> list[tuple]:
    """A copy of ``spans`` with its last text span's last word repeated
    (``append``) or removed (``drop``)."""
    i = max(j for j, s in enumerate(spans) if s[0] == "text")
    kind, text, ref, off = spans[i]
    words = text.split(" ")
    words = words + words[-1:] if how == "append" else words[:-1]
    return [*spans[:i], (kind, " ".join(words), ref, off), *spans[i + 1:]]


def plant_near_duplicates(docs: dict[str, list[tuple]], candidates,
                          seed: int) -> dict[str, list[tuple]]:
    """Near-duplicate copies of ``PLANTED_SOURCES`` documents drawn from
    ``candidates``: one copy with a word appended each, and for every
    other source a second copy with a word removed, so some components
    have three members.  Copy ids sort after their source's and pass the
    sample gate, so each dropped copy shows in the output."""
    texts = doc_texts(docs)
    pool = sorted(d for d in candidates
                  if len(texts[d].split(" ")) >= PLANTED_MIN_WORDS)
    sources = random.Random(f"{seed}:neardup").sample(pool, PLANTED_SOURCES)
    copies, k = {}, 0
    for n, src in enumerate(sources):
        for how in ("append", "drop")[:1 + n % 2]:
            k += 1
            while sample_bucket(f"{src}~{k}") >= _SAMPLE_FLOOR:
                k += 1
            copies[f"{src}~{k}"] = _edit(docs[src], how)
    return copies


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_duplicate_pairs(texts: dict[str, str]) -> list[tuple[str, str]]:
    """Every ``(doc_a, doc_b)``, ``doc_a < doc_b``, whose word-3-gram
    Jaccard similarity, rounded to 6 places as ``dedup.verify_pairs``
    rounds it, reaches ``NEARDUP_JACCARD``: all pairs, exact, no LSH."""
    sh = {d: _shingles(t) for d, t in texts.items()}
    out = []
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if inter and round(inter / (len(sh[a]) + len(sh[b]) - inter), 6) \
                >= NEARDUP_JACCARD:
            out.append((a, b))
    return out


def curate_reference(outputs: dict[str, list[tuple]], threads: int,
                     pairs: list[tuple[str, str]] | None = None) -> set[tuple]:
    """``(doc_id, predicted_lang, quality_score_e6, ws_tokens, bpe_tokens)``
    rows that ``run_curate --min-quality 450000 --sample en=60,*=40``
    keeps: the registry's ``curate_e2e`` DuckDB oracle with its
    near-duplicate pair set replaced by ``pairs`` (restricted, as there,
    to the documents that pass the quality gate and exact dedup).  Its
    MinHash stage in SQL takes minutes on this corpus; exact all-pairs
    Jaccard from :func:`near_duplicate_pairs` is quicker and has no
    misses.  ``pairs=None`` gives the rows kept before near-duplicate
    removal."""
    import duckdb

    from databricks_pdf_ocr_spark import queries

    sql = queries.QUERIES["curate_e2e"]["sql"]
    cte = f"pairs AS (SELECT * FROM ({queries._verified_pairs_sql(src='exact_kept')}) t)"
    if cte not in sql:
        raise RuntimeError("curate_e2e oracle no longer has the expected pairs CTE")
    sql = sql.replace(cte, "pairs AS (SELECT doc_a, doc_b FROM given_pairs "
                           "WHERE doc_a IN (SELECT doc_id FROM exact_kept) "
                           "AND doc_b IN (SELECT doc_id FROM exact_kept))")
    texts = doc_texts(outputs)
    a, b = zip(*pairs) if pairs else ((), ())
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.register("documents", pa.table({"doc_id": list(texts),
                                            "text": list(texts.values())}))
        con.register("given_pairs", pa.table(
            {"doc_a": pa.array(a, pa.string()),
             "doc_b": pa.array(b, pa.string())}))
        return set(con.execute(sql).fetchall())
    finally:
        con.close()
