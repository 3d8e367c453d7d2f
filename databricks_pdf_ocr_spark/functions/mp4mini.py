"""Pure-stdlib ISO-BMFF (MP4/MOV) container walk — the video slot of
the multimodal column.

Motion-JPEG is the one video codec this container can decode for real,
so the walk serves it: box traversal (32-bit and 64-bit largesize), the
first video track's sample table, and ``mjpeg_frames`` — the
``(ts_ms, jpeg_bytes)`` frames ``operators/multimodal.video_phash``
hashes.  ``write_mjpeg`` is the spec-conformant fixture writer.

Validation: ``tests/test_mp4_meta.py`` builds spec-conformant box
structures byte-by-byte from ISO/IEC 14496-12 field layouts (the same
hand-built-vector strategy as the 24-bit WAV and PDF xref tests) and
asserts the walk; malformed/truncated boxes raise ``Mp4Error``.
"""

from __future__ import annotations

import struct


class Mp4Error(ValueError):
    """Malformed or non-ISO-BMFF payload."""


def _boxes(data: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) over a sibling box run."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:                       # 64-bit largesize
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box header")
            (size,) = struct.unpack(">Q", data[pos + 8:pos + 16])
            body = pos + 16
        elif size == 0:                     # box extends to end of file
            size = end - pos
        if size < (body - pos) or pos + size > end:
            raise Mp4Error(f"box {btype!r} overruns its container")
        yield btype, body, pos + size
        pos += size


def looks_like_mp4(data: bytes) -> bool:
    return len(data) >= 12 and data[4:8] == b"ftyp"


# ---------------------------------------------------------------------------
# Sample tables + MJPEG frame extraction (round-4 verdict #4)
#
# Motion-JPEG is the one video codec this container CAN decode for real:
# each sample is a complete baseline/progressive JPEG, individually
# decodable by ``functions/jpegmini``.  The sample-table walk (stsd
# codec, stts timestamps, stsc chunk mapping, stsz sizes, stco/co64
# offsets — ISO/IEC 14496-12 §8.5-8.7) is general; only the per-sample
# DECODE is gated on the codec fourcc.
# ---------------------------------------------------------------------------

#: stsd sample-entry fourccs whose samples are standalone JPEG images
MJPEG_CODECS = ("jpeg", "mjpa", "mjpb")


def _parse_stbl(data: bytes, s0: int, s1: int) -> dict:
    tbl: dict = {"codec": None, "stts": [], "stsc": [],
                 "stsz": (0, 0, []), "stco": []}
    for btype, b0, b1 in _boxes(data, s0, s1):
        if btype == b"stsd":
            (cnt,) = struct.unpack(">I", data[b0 + 4:b0 + 8])
            if cnt >= 1 and b0 + 16 <= b1:
                tbl["codec"] = data[b0 + 12:b0 + 16].decode("latin-1").strip()
        elif btype == b"stts":
            (cnt,) = struct.unpack(">I", data[b0 + 4:b0 + 8])
            off = b0 + 8
            if off + 8 * cnt > b1:
                raise Mp4Error("stts overruns its box")
            tbl["stts"] = [struct.unpack(">II", data[off + 8 * i:
                                                     off + 8 * i + 8])
                           for i in range(cnt)]
        elif btype == b"stsc":
            (cnt,) = struct.unpack(">I", data[b0 + 4:b0 + 8])
            off = b0 + 8
            if off + 12 * cnt > b1:
                raise Mp4Error("stsc overruns its box")
            tbl["stsc"] = [struct.unpack(">III", data[off + 12 * i:
                                                      off + 12 * i + 12])
                           for i in range(cnt)]
        elif btype == b"stsz":
            uniform, cnt = struct.unpack(">II", data[b0 + 4:b0 + 12])
            sizes: list[int] = []
            if uniform == 0:
                if b0 + 12 + 4 * cnt > b1:
                    raise Mp4Error("stsz overruns its box")
                sizes = [struct.unpack(">I", data[b0 + 12 + 4 * i:
                                                  b0 + 16 + 4 * i])[0]
                         for i in range(cnt)]
            tbl["stsz"] = (uniform, cnt, sizes)
        elif btype in (b"stco", b"co64"):
            (cnt,) = struct.unpack(">I", data[b0 + 4:b0 + 8])
            w, f = (4, ">I") if btype == b"stco" else (8, ">Q")
            off = b0 + 8
            if off + w * cnt > b1:
                raise Mp4Error(f"{btype.decode()} overruns its box")
            tbl["stco"] = [struct.unpack(f, data[off + w * i:
                                                 off + w * i + w])[0]
                           for i in range(cnt)]
    return tbl


def _resolve_samples(tbl: dict, timescale: int) -> list[tuple[int, int, int]]:
    """Sample table → ``[(file_offset, size, ts_ms)]`` per sample, via
    the standard stsc chunk-run resolution."""
    uniform, cnt, sizes = tbl["stsz"]
    sizes = [uniform] * cnt if uniform else sizes
    stsc, stco = tbl["stsc"], tbl["stco"]
    placed: list[tuple[int, int]] = []
    si = 0
    for ci in range(len(stco)):                 # chunk index, 0-based
        spc = 1
        for (first, n_per, _sdi) in stsc:       # last run with first<=ci+1
            if first <= ci + 1:
                spc = n_per
            else:
                break
        pos = stco[ci]
        for _ in range(spc):
            if si >= cnt:
                break
            placed.append((pos, sizes[si]))
            pos += sizes[si]
            si += 1
    ts: list[int] = []
    t = 0
    for (c, delta) in tbl["stts"]:
        for _ in range(c):
            ts.append(t)
            t += delta
    out = []
    for i, (off, sz) in enumerate(placed):
        tms = (ts[i] * 1000) // timescale if timescale and i < len(ts) else 0
        out.append((off, sz, tms))
    return out


def video_samples(data: bytes) -> tuple[str | None,
                                        list[tuple[int, int, int]]]:
    """First video track → (codec fourcc, [(offset, size, ts_ms)]).
    Raises Mp4Error when not ISO-BMFF / no moov."""
    if not looks_like_mp4(data):
        raise Mp4Error("not an ISO-BMFF file (missing ftyp)")
    for btype, b0, b1 in _boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for mtype, m0, m1 in _boxes(data, b0, b1):
            if mtype != b"trak":
                continue
            handler = None
            stbl = None
            mts = 0
            for ttype, t0, t1 in _boxes(data, m0, m1):
                if ttype != b"mdia":
                    continue
                for dtype, d0, d1 in _boxes(data, t0, t1):
                    if dtype == b"hdlr":
                        handler = data[d0 + 8:d0 + 12].decode("latin-1")
                    elif dtype == b"mdhd":
                        if data[d0] == 1:
                            mts = struct.unpack(">I", data[d0 + 20:
                                                           d0 + 24])[0]
                        else:
                            mts = struct.unpack(">I", data[d0 + 12:
                                                           d0 + 16])[0]
                    elif dtype == b"minf":
                        for stype, s0, s1 in _boxes(data, d0, d1):
                            if stype == b"stbl":
                                stbl = _parse_stbl(data, s0, s1)
            if handler == "vide" and stbl is not None:
                return stbl["codec"], _resolve_samples(stbl, mts)
    raise Mp4Error("no video track with a sample table")


def mjpeg_frames(data: bytes) -> list[tuple[int, bytes]]:
    """MJPEG track → ``[(ts_ms, jpeg_bytes)]`` — the real-frame source
    for ``operators/multimodal.video_phash``.  Raises Mp4Error when
    the video codec is not Motion-JPEG."""
    codec, samples = video_samples(data)
    if codec not in MJPEG_CODECS:
        raise Mp4Error(f"video codec {codec!r} is not Motion-JPEG")
    out = []
    for off, sz, tms in samples:
        if off + sz > len(data):
            raise Mp4Error("sample overruns the file")
        out.append((tms, data[off:off + sz]))
    return out


# ---------------------------------------------------------------------------
# Writer (test fixture generator — spec-conformant MJPEG-in-MP4)
# ---------------------------------------------------------------------------

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def write_mjpeg(frames: list[bytes], width: int = 0,
                height: int = 0) -> bytes:
    """JPEG frame list → minimal ISO-BMFF Motion-JPEG file (``ftyp`` +
    ``mdat`` + ``moov`` with a ``jpeg`` sample entry; one chunk per
    frame, one frame per second).  Fixture writer for the MJPEG decode
    tests — the same hand-built-spec-vector strategy as the WARC/WAV
    writers."""
    if not frames:
        raise ValueError("need ≥1 frame")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    mdat = _box(b"mdat", b"".join(frames))
    base = len(ftyp) + 8                        # first frame's file offset
    n = len(frames)
    timescale = delta = 1000
    duration = n * delta
    offsets = []
    pos = base
    for fr in frames:
        offsets.append(pos)
        pos += len(fr)

    def full(btype: bytes, body: bytes, version: int = 0) -> bytes:
        return _box(btype, bytes([version]) + b"\x00\x00\x00" + body)

    mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, timescale, duration)
                + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
                + b"\x00" * 10 + _identity_matrix() + b"\x00" * 24
                + struct.pack(">I", 2))
    tkhd = full(b"tkhd", struct.pack(">IIIII", 0, 0, 1, 0, duration)
                + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
                + _identity_matrix()
                + struct.pack(">II", width << 16, height << 16),
                version=0)
    mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, timescale, duration)
                + struct.pack(">HH", 0x55C4, 0))        # 'und'
    hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12
                + b"mjpeg\x00")
    entry = _box(b"jpeg", b"\x00" * 6 + struct.pack(">H", 1)
                 + b"\x00" * 16
                 + struct.pack(">HH", width, height)
                 + struct.pack(">II", 0x00480000, 0x00480000)
                 + struct.pack(">I", 0) + struct.pack(">H", 1)
                 + b"\x00" * 32
                 + struct.pack(">H", 24) + struct.pack(">h", -1))
    stsd = full(b"stsd", struct.pack(">I", 1) + entry)
    stts = full(b"stts", struct.pack(">I", 1)
                + struct.pack(">II", n, delta))
    stsc = full(b"stsc", struct.pack(">I", 1)
                + struct.pack(">III", 1, 1, 1))
    stsz = full(b"stsz", struct.pack(">II", 0, n)
                + b"".join(struct.pack(">I", len(fr)) for fr in frames))
    stco = full(b"stco", struct.pack(">I", n)
                + b"".join(struct.pack(">I", o) for o in offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _identity_matrix() -> bytes:
    return struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                       0x40000000)
