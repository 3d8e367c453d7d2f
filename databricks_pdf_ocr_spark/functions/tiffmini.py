"""TIFF (rev 6.0 baseline) decoder + minimal encoder, pure stdlib+numpy.

TIFF is THE scanned-document interchange format — a pipeline whose
reference ingests scans (zaxier/databricks-pdf-ocr renders PDF pages to
rasters, ``processors/ocr.py:27-57``) meets it constantly as both a
standalone payload and the framing PDFs borrow for embedded rasters.

Scope (decode): both byte orders (II/MM); strip-organized baseline
images; compressions none(1), LZW(5, MSB-first codes with the
spec's early-change rule), PackBits(32773), Deflate(8 and the legacy
32946); horizontal-differencing predictor(2); photometric
WhiteIsZero(0) / BlackIsZero(1) / RGB(2) / Palette(3); 8-bit samples;
1/3/4 samples per pixel (chunky).  Out-of-scope variants fail LOUDLY
with ``TiffError`` (tiles, planar=2, 16-bit, CCITT fax, JPEG-in-TIFF)
— never a silent wrong decode.

Encoder: single-IFD chunky 8-bit gray/RGB/RGBA with compression
none or PackBits (the test-fixture leg).

Returns/accepts the family convention: ``(width, height, channels,
pixels)`` with pixels row-major top-down RGB/RGBA/gray-as-RGB bytes.
Parity gate: JVM ImageIO's TIFF plugin (tests/test_tiff_codec.py) —
TIFF is lossless, so both directions assert byte-exact equality.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class TiffError(ValueError):
    pass


TIFF_SIGS = (b"II*\x00", b"MM\x00*")

#: field type -> byte size (the ones baseline files use)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def looks_like_tiff(data: bytes) -> bool:
    return data[:4] in TIFF_SIGS


def _tag_values(data: bytes, endian: str, typ: int, cnt: int,
                inline: bytes) -> list[int]:
    """Decode one IFD entry's value list (integer types only)."""
    size = _TYPE_SIZE.get(typ)
    if size is None:
        raise TiffError(f"unknown field type {typ}")
    total = size * cnt
    raw = (inline[:total] if total <= 4 else
           data[struct.unpack(endian + "I", inline)[0]:][:total])
    if len(raw) < total:
        raise TiffError("truncated tag value")
    if typ in (1, 2, 6, 7):
        return list(raw)
    if typ in (3, 8):
        return list(struct.unpack(f"{endian}{cnt}H", raw))
    if typ in (4, 9):
        return list(struct.unpack(f"{endian}{cnt}I", raw))
    # RATIONAL: return numerators (metadata-only here)
    return list(struct.unpack(f"{endian}{2 * cnt}I", raw))[0::2]


def _read_ifd(data: bytes, endian: str, off: int) -> dict[int, list[int]]:
    if off + 2 > len(data):
        raise TiffError("truncated IFD")
    n = struct.unpack(endian + "H", data[off:off + 2])[0]
    tags: dict[int, list[int]] = {}
    for i in range(n):
        e = data[off + 2 + 12 * i: off + 14 + 12 * i]
        if len(e) < 12:
            raise TiffError("truncated IFD entry")
        tag, typ, cnt = struct.unpack(endian + "HHI", e[:8])
        tags[tag] = _tag_values(data, endian, typ, cnt, e[8:12])
    return tags


def _lzw_decode(buf: bytes, expected: int) -> bytes:
    """TIFF-variant LZW: MSB-first code packing, Clear=256, EOI=257,
    and the spec's "early change" — the code width bumps one bit BEFORE
    the table fills (at table length 2^w - 1), matching every shipping
    writer (spec p.61)."""
    out = bytearray()
    acc = nbits = 0
    pos = 0
    width = 9
    table: list[bytes] = []
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    n = len(buf)
    while len(out) < expected:
        while nbits < width:
            if pos >= n:
                raise TiffError("LZW stream ran out before row data did")
            acc = (acc << 8) | buf[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == 256:
            reset()
            continue
        if code == 257:
            break
        if prev is None:
            if code > 255:
                raise TiffError("LZW: first code after clear not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise TiffError("LZW: code beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expected:
        raise TiffError("LZW output shorter than the strip")
    return bytes(out[:expected])


def _packbits_decode(buf: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(buf)
    while len(out) < expected and i < n:
        c = buf[i]
        i += 1
        if c < 128:                                  # literal run
            if i + c + 1 > n:
                raise TiffError("PackBits literal overruns strip")
            out += buf[i:i + c + 1]
            i += c + 1
        elif c > 128:                                # replicate run
            if i >= n:
                raise TiffError("PackBits replicate overruns strip")
            out += bytes([buf[i]]) * (257 - c)
            i += 1
        # 128 = no-op
    if len(out) < expected:
        raise TiffError("PackBits output shorter than the strip")
    return bytes(out[:expected])


def decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    """TIFF payload → ``(width, height, channels, pixels)``; pixels are
    row-major top-down RGB (gray and palette expand to RGB) or RGBA
    when a fourth sample is present.  Total: every malformed input
    raises ``TiffError`` (struct underruns included), never a crash."""
    try:
        return _decode_tiff(data)
    except struct.error as e:
        raise TiffError(f"truncated structure: {e}") from None


def _decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    if not looks_like_tiff(data):
        raise TiffError("not a TIFF signature")
    endian = "<" if data[:2] == b"II" else ">"
    ifd_off = struct.unpack(endian + "I", data[4:8])[0]
    t = _read_ifd(data, endian, ifd_off)

    def one(tag, default=None):
        v = t.get(tag)
        if v is None:
            if default is None:
                raise TiffError(f"required tag {tag} missing")
            return default
        return v[0]

    if 322 in t or 323 in t:
        raise TiffError("tiled TIFF not supported (strips only)")
    if one(284, 1) != 1:
        raise TiffError("planar configuration 2 not supported")
    w, h = one(256), one(257)
    spp = one(277, 1)
    bps = t.get(258, [1] * spp)
    comp = one(259, 1)
    photo = one(262, 1)
    if any(b != 8 for b in bps):
        raise TiffError(f"only 8-bit samples supported, got {bps}")
    if spp not in (1, 3, 4):
        raise TiffError(f"samples-per-pixel {spp} not supported")
    if comp not in (1, 5, 8, 32773, 32946):
        raise TiffError(f"compression {comp} not supported "
                        "(none/LZW/Deflate/PackBits)")
    if photo not in (0, 1, 2, 3):
        raise TiffError(f"photometric {photo} not supported")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise TiffError(f"predictor {predictor} not supported")

    offsets = t.get(273)
    counts = t.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise TiffError("strip offsets/byte-counts missing or mismatched")
    rows_per_strip = one(278, h)
    stride = w * spp

    rows = bytearray()
    remaining = h
    for off, cnt in zip(offsets, counts):
        strip_rows = min(rows_per_strip, remaining)
        remaining -= strip_rows
        expected = strip_rows * stride
        raw = data[off:off + cnt]
        if len(raw) < cnt:
            raise TiffError("truncated strip data")
        if comp == 1:
            if len(raw) < expected:
                raise TiffError("uncompressed strip shorter than rows")
            part = raw[:expected]
        elif comp == 5:
            part = _lzw_decode(raw, expected)
        elif comp == 32773:
            part = _packbits_decode(raw, expected)
        else:                                        # Deflate (8 / 32946)
            try:
                part = zlib.decompress(raw)
            except zlib.error as e:
                raise TiffError(f"Deflate strip: {e}") from None
            if len(part) < expected:
                raise TiffError("Deflate output shorter than the strip")
            part = part[:expected]
        rows += part
    if remaining:
        raise TiffError("strips cover fewer rows than ImageLength")

    a = np.frombuffer(bytes(rows), np.uint8).reshape(h, w, spp)
    if predictor == 2:
        # horizontal differencing per channel; cumsum in int64 then mod 256
        # equals the sequential byte-wise accumulation
        a = (a.astype(np.int64).cumsum(axis=1) & 0xFF).astype(np.uint8)

    if photo == 3:
        cmap = t.get(320)
        if not cmap or len(cmap) < 3 * 256 or spp != 1:
            raise TiffError("palette image without a usable ColorMap")
        lut = (np.array(cmap[:3 * 256], np.uint16)
               .reshape(3, 256).T >> 8).astype(np.uint8)
        a = lut[a[:, :, 0]]
        return w, h, 3, a.tobytes()
    if spp == 1:
        if photo == 0:                               # WhiteIsZero
            a = 255 - a
        a = np.repeat(a, 3, axis=2)
        return w, h, 3, a.tobytes()
    return w, h, spp, a.tobytes()


# ---------------------------------------------------------------------------
# Encoder (fixture / transcode leg)
# ---------------------------------------------------------------------------

def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        j = i
        while j + 1 < n and row[j + 1] == row[j] and j - i < 127:
            j += 1
        if j > i:                                    # run of j-i+1 equal bytes
            out += bytes([257 - (j - i + 1), row[i]])
            i = j + 1
            continue
        j = i
        while (j + 1 < n and row[j + 1] != row[j] and j - i < 127):
            j += 1
        if j + 1 < n and j > i:                      # stop literal before run
            j -= 1
        out += bytes([j - i]) + row[i:j + 1]
        i = j + 1
    return bytes(out)


def encode_tiff(pix: bytes, w: int, h: int, channels: int,
                compression: str = "none") -> bytes:
    """(pixels, w, h, channels∈{1,3,4}) → little-endian single-strip
    TIFF; ``compression`` = 'none' | 'packbits' (rows packed
    independently, concatenated into the one strip per spec)."""
    if channels not in (1, 3, 4):
        raise TiffError(f"channels {channels} not supported")
    stride = w * channels
    if len(pix) != stride * h:
        raise TiffError("pixel buffer size mismatch")
    if compression == "none":
        strip, comp_tag = pix, 1
    elif compression == "packbits":
        strip = b"".join(_packbits_encode(pix[y * stride:(y + 1) * stride])
                         for y in range(h))
        comp_tag = 32773
    else:
        raise TiffError(f"encoder compression {compression!r} not supported")

    # layout: header(8) | strip | IFD | out-of-line tag arrays
    strip_off = 8
    ifd_off = strip_off + len(strip)
    photo = 1 if channels == 1 else 2
    entries: list[tuple[int, int, list[int]]] = [    # tag, type, values
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8] * channels),
        (259, 3, [comp_tag]),
        (262, 3, [photo]),
        (273, 4, [strip_off]),
        (277, 3, [channels]),
        (278, 4, [h]),
        (279, 4, [len(strip)]),
    ]
    if channels == 4:
        entries.append((338, 3, [2]))                # unassociated alpha
    entries.sort(key=lambda e: e[0])                 # spec: ascending tags
    extra_base = ifd_off + 2 + 12 * len(entries) + 4
    extra = bytearray()
    ifd = bytearray(struct.pack("<H", len(entries)))
    for tag, typ, values in entries:
        cnt = len(values)
        fmt = "H" if typ == 3 else "I"
        raw = struct.pack(f"<{cnt}{fmt}", *values)
        if len(raw) <= 4:
            val = struct.unpack("<I", raw.ljust(4, b"\x00"))[0]
        else:                                        # out-of-line array
            val = extra_base + len(extra)
            extra += raw
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)                      # no next IFD
    return b"II*\x00" + struct.pack("<I", ifd_off) + strip + ifd + extra
