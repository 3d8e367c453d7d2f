"""Multimodal column operators: opaque binary media + typed metadata.

Task-brief component: at 100 TB, images/audio/video ride through the
pipeline as opaque ``binary`` columns (or ``media_ref`` pointers); image
extraction and perceptual hashing run as Arrow-batched ``mapInPandas``
stages, so payload bytes never shuffle.

Two families live here:
- ``dedup_payloads``, the dedup-on-read of the bucket-partitioned
  ``media_payloads`` table: the embedded raster images of PDF pages,
  which the extraction kernel hands back while it parses each pdf span
  (``operators/extract.payload_rows``);
- media near-dup: 64-bit perceptual hashes for images
  (``media_phash``), audio (``media_ahash``) and MJPEG video frames
  (``video_phash``), paired by Hamming banding (``phash_pairs``,
  ``video_phash_pairs``).

This container has no imaging/audio libraries, so the engine carries its
own pure-stdlib+numpy decoders: PNG (``functions/pngmini.py``), baseline
+ progressive JPEG (``functions/jpegmini.py``, validated against the JVM
ImageIO ground truth of ``spark.read.format("image")``), GIF
(``functions/gifmini.py``), BOTH WebP variants (lossless VP8L in
``functions/vp8lmini.py``, lossy VP8 in ``functions/vp8mini.py`` —
validated byte-exact against the system libwebp reference decoder), WAV
(``functions/wavmini.py``) and MJPEG-in-MP4 (``functions/mp4mini.py``).
Undecodable payloads become error rows, never exceptions.

Reference analogue: the image path in ``clients/claude.py:22-49``
(PIL resize → base64 → request payload) — here generalized into reusable
column operators instead of an inline API-call helper.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..worker import drop_zip_importers


def dedup_payloads(payloads: DataFrame) -> DataFrame:
    """Dedup-on-read for the media_payloads table: refs are
    content-addressed (sha256 of the payload), so duplicate rows — crash
    reruns of an unmarked bucket, or the same image embedded in many
    documents — are byte-identical per ref; keep either.  A null-ref
    error row stands for one failed pdf span, so those dedup on
    ``(doc_id, offset)``: a rerun's copy collapses, the other spans'
    rows stay.  (Extraction results need no such pass:
    ``reassemble``'s ``array_distinct`` drops their duplicate rows on
    read.)"""
    error = F.col("media_ref").isNull()
    return (payloads
            .withColumn("__doc", F.when(error, F.col("doc_id")))
            .withColumn("__off", F.when(error, F.col("offset")))
            .dropDuplicates(["media_ref", "__doc", "__off"])
            .drop("__doc", "__off"))


# ---------------------------------------------------------------------------
# perceptual media near-dup (dHash + Hamming banding)
# ---------------------------------------------------------------------------

def _decode_pixels(payload: bytes):
    """Payload → (format, w, h, channels, pixels) via the real codecs."""
    from ..functions import gifmini, jpegmini, pngmini, webpmini
    if payload[:8] == pngmini.PNG_SIG:
        w, h, ch, pix = pngmini.decode_png(payload)
        return "png", w, h, ch, pix
    if payload[:2] == jpegmini.JPEG_SIG:
        w, h, ch, pix = jpegmini.decode_jpeg(payload)
        return "jpeg", w, h, ch, pix
    if webpmini.looks_like_webp(payload):
        w, h, ch, pix = webpmini.webp_decode(payload)
        return "webp", w, h, ch, pix
    if gifmini.looks_like_gif(payload):
        w, h, ch, pix = gifmini.decode_gif(payload)
        return "gif", w, h, ch, pix
    raise NotImplementedError("no real codec for payload")


def media_phash(df: DataFrame) -> DataFrame:
    """Media payloads → 64-bit perceptual dHash rows
    (media_id, phash, format, hash_ok, error_message).

    Narrow ``mapInPandas`` over the binary column — bytes never
    shuffle; undecodable payloads become error rows (the
    pipeline-continues contract), never exceptions."""
    from ..functions import imghash

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            out = {k: [] for k in ("media_id", "phash", "format",
                                   "hash_ok", "error_message")}
            for payload in pdf["content"]:
                payload = bytes(payload) if payload is not None else b""
                mid = hashlib.sha256(payload).hexdigest()
                out["media_id"].append(mid)
                try:
                    fmt, w, h, ch, pix = _decode_pixels(payload)
                    out["phash"].append(imghash.dhash64(pix, w, h, ch))
                    out["format"].append(fmt)
                    out["hash_ok"].append(True)
                    out["error_message"].append(None)
                except Exception as exc:   # noqa: BLE001 — error-row contract
                    out["phash"].append(0)
                    out["format"].append(None)
                    out["hash_ok"].append(False)
                    out["error_message"].append(
                        f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema=("media_id string, phash long, format string, "
                     "hash_ok boolean, error_message string"))


def media_ahash(df: DataFrame) -> DataFrame:
    """Audio payloads → 64-bit perceptual fingerprint rows
    (media_id, phash, duration_ms, hash_ok, error_message).

    The audio leg of media near-dup: ``functions/audiohash.ahash64``
    over the real RIFF/WAVE decode — gain-, bit-depth- and
    sample-rate-invariant, so re-encoded clips pair within a few
    Hamming bits.  Narrow ``mapInPandas``; audio bytes never shuffle;
    undecodable/too-short payloads become error rows.  Emits the hash
    under the same ``phash`` column name as ``media_phash`` so
    ``phash_pairs`` composes unchanged."""
    from ..functions import audiohash, wavmini

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            out = {k: [] for k in ("media_id", "phash", "duration_ms",
                                   "hash_ok", "error_message")}
            for payload in pdf["content"]:
                payload = bytes(payload) if payload is not None else b""
                out["media_id"].append(
                    hashlib.sha256(payload).hexdigest())
                try:
                    d = wavmini.decode_wav(payload)
                    out["phash"].append(audiohash.ahash64(d))
                    out["duration_ms"].append(d["duration_ms"])
                    out["hash_ok"].append(True)
                    out["error_message"].append(None)
                except Exception as exc:  # noqa: BLE001 — error-row contract
                    out["phash"].append(0)
                    out["duration_ms"].append(0)
                    out["hash_ok"].append(False)
                    out["error_message"].append(
                        f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema=("media_id string, phash long, duration_ms long, "
                     "hash_ok boolean, error_message string"))


def video_phash(df: DataFrame) -> DataFrame:
    """Motion-JPEG videos → one 64-bit dHash row PER DECODED FRAME
    (media_id, frame_idx, ts_ms, phash, width, height, hash_ok,
    error_message).

    The video leg of media near-dup: every MJPEG sample is a standalone
    JPEG, so each frame rides the same real decode + ``imghash.dhash64``
    kernel as still images.  Fan-out happens inside the Arrow batch
    (the extraction kernel's page fan-out shape) — a long video never
    becomes a driver loop, and video bytes never shuffle.  Non-MJPEG or undecodable
    payloads become a single error row."""
    from ..functions import imghash, jpegmini, mp4mini

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            out = {k: [] for k in ("media_id", "frame_idx", "ts_ms",
                                   "phash", "width", "height",
                                   "hash_ok", "error_message")}

            def emit(mid, i, ts, ph, w, h, ok, err):
                out["media_id"].append(mid)
                out["frame_idx"].append(i)
                out["ts_ms"].append(ts)
                out["phash"].append(ph)
                out["width"].append(w)
                out["height"].append(h)
                out["hash_ok"].append(ok)
                out["error_message"].append(err)

            for payload in pdf["content"]:
                payload = bytes(payload) if payload is not None else b""
                mid = hashlib.sha256(payload).hexdigest()
                try:
                    frames = mp4mini.mjpeg_frames(payload)
                    if not frames:
                        raise mp4mini.Mp4Error("no MJPEG samples")
                except Exception as exc:  # noqa: BLE001 — error-row contract
                    emit(mid, -1, 0, 0, 0, 0, False,
                         f"{type(exc).__name__}: {exc}"[:200])
                    continue
                for i, (ts, jpg) in enumerate(frames):
                    try:
                        w, h, ch, pix = jpegmini.decode_jpeg(jpg)
                        emit(mid, i, ts, imghash.dhash64(pix, w, h, ch),
                             w, h, True, None)
                    except Exception as exc:  # noqa: BLE001
                        emit(mid, i, ts, 0, 0, 0, False,
                             f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema=("media_id string, frame_idx int, ts_ms long, "
                     "phash long, width int, height int, hash_ok boolean, "
                     "error_message string"))


#: a near-duplicate media pair's dHash budget in bits (MAX_HAMMING + 1
#: must divide 64: the pigeonhole chunks), and the aligned frames a video
#: pair must match on
MAX_HAMMING = 7
MIN_FRAMES = 2


def video_phash_pairs(frames: DataFrame) -> DataFrame:
    """Near-duplicate video pairs: clips whose dHashes match within
    ``MAX_HAMMING`` bits on at least ``MIN_FRAMES`` ALIGNED frame
    indices (the re-encode/transcode semantics — a re-edit is a
    different video).

    Scale shape: the pigeonhole chunk split applies per frame, so
    candidates come from an equi-join on (frame_idx, chunk_idx,
    chunk_value) — never a cross join over clips, never a frame-level
    cross product — followed by two hash-aggs."""
    from pyspark.sql import functions as F

    chunks = MAX_HAMMING + 1
    width = 64 // chunks
    src = frames.filter(F.col("hash_ok")).select(
        F.col("media_id").alias("id"), "frame_idx", "phash")
    chunk_cols = [
        F.shiftrightunsigned(F.col("phash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1)).alias(f"c{i}")
        for i in range(chunks)
    ]
    ex = src.select("id", "frame_idx", "phash",
                    F.posexplode(F.array(*chunk_cols)).alias("ci", "cv"))
    a, b = ex.alias("a"), ex.alias("b")
    frame_matches = (
        a.join(b, (F.col("a.frame_idx") == F.col("b.frame_idx"))
               & (F.col("a.ci") == F.col("b.ci"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("media_a"),
                F.col("b.id").alias("media_b"),
                F.col("a.frame_idx").alias("frame_idx"),
                F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
                .cast("long").alias("hamming"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .distinct())
    return (frame_matches
            .groupBy("media_a", "media_b")
            .agg(F.count("*").cast("long").alias("frames_matched"),
                 F.max("hamming").alias("max_hamming"))
            .filter(F.col("frames_matched") >= MIN_FRAMES))


def phash_pairs(hashes: DataFrame) -> DataFrame:
    """Near-duplicate media pairs by dHash Hamming distance.

    The 64-bit hash splits into ``MAX_HAMMING + 1`` = 8 chunks of 8
    bits — any pair within the budget agrees on ≥ 1
    whole chunk (pigeonhole), so candidates come from an equi-join on
    (chunk_idx, chunk_value), never a cross join; ``bit_count(xor)``
    removes false positives.  The ``simhash_pairs`` recursion on the
    media axis."""
    from pyspark.sql import functions as F

    chunks = MAX_HAMMING + 1
    width = 64 // chunks
    src = hashes.filter(F.col("hash_ok")).select(
        F.col("media_id").alias("id"), "phash")
    chunk_cols = [
        F.shiftrightunsigned(F.col("phash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1)).alias(f"c{i}")
        for i in range(chunks)
    ]
    ex = src.select("id", "phash",
                    F.posexplode(F.array(*chunk_cols)).alias("ci", "cv"))
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.ci") == F.col("b.ci"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("media_a"),
                F.col("b.id").alias("media_b"),
                F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
                .cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= MAX_HAMMING))
