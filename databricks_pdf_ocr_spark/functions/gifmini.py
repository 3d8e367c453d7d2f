"""Pure-stdlib GIF decoder/encoder — the animated-image slot of the
multimodal column.

GIF remains one of the most common image encodings in web-crawl corpora
(icons, memes, short animations), so the engine decodes it for real:
GIF87a/GIF89a, global + local color tables, variable-code-size LZW
(including code-width growth, CLEAR/EOI handling and the deferred-clear
full-table state), Adam-style 4-pass interlacing, Graphic Control
Extension transparency + frame delays + all four disposal methods, and
NETSCAPE2.0 loop counts.  ``gif_frames`` yields fully composited RGBA
canvas frames; ``decode_gif`` hands the first one to ``media_phash``.

The encoder is the deterministic fixture generator (palette-exact input
only — this is a test tool, not a quantizer).

Validation (``tests/test_gif_codec.py``): CPython's real 16x16
``python.gif`` (PSF) decodes pixel-consistent with the independent
uncompressed ``python.ppm`` ground truth of the same image; encoder and
decoder round-trip across interlace / transparency / multi-frame /
local-palette / LZW code-growth variants; hypothesis garbage-totality.

Reference analogue: the reference pipeline renders PDFs to PNG only
(``clients/claude.py:22-38``); GIF is part of this engine's wider
crawl-media surface, not a reference port.
"""

from __future__ import annotations

import struct

GIF_SIGS = (b"GIF87a", b"GIF89a")


class GifError(ValueError):
    """Malformed or unsupported GIF payload."""


def looks_like_gif(data: bytes) -> bool:
    return data[:6] in GIF_SIGS


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable code width 3..12)
# ---------------------------------------------------------------------------

_MAX_CODE_WIDTH = 12
_TABLE_LIMIT = 1 << _MAX_CODE_WIDTH


def lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytearray:
    """GIF LZW stream → pixel indices.

    ``expected`` bounds the output (width*height of the frame) — real
    encoders may omit EOI; extra trailing codes are ignored per the
    many-writers reality of the format.  Raises on structural damage
    (code beyond table, width overflow) rather than emitting garbage.
    """
    if not 2 <= min_code_size <= 11:
        raise GifError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    # table: index → bytes chunk; roots are single indices
    roots = [bytes((i,)) for i in range(clear)]

    table: list[bytes] = roots + [b"", b""]
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    pos, n = 0, len(data)
    while pos < n or nbits >= width:
        while nbits < width and pos < n:
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        if nbits < width:
            break
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = roots + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise GifError(f"first LZW code {code} not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table) and len(table) < _TABLE_LIMIT:
            entry = prev + prev[:1]
        else:
            raise GifError(f"LZW code {code} beyond table {len(table)}")
        out += entry
        if prev is not None and len(table) < _TABLE_LIMIT:
            table.append(prev + entry[:1])
            # grow width when the NEXT code would not fit; at 12 bits the
            # table freezes (deferred clear) until an explicit CLEAR
            if len(table) == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
        prev = entry
        if len(out) >= expected:
            break
    if len(out) < expected:
        raise GifError(f"LZW underrun: {len(out)} of {expected} pixels")
    return out[:expected]


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Pixel indices → GIF LZW stream (CLEAR first, EOI last, table
    reset on overflow) — the exact dual of :func:`lzw_decode`."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes((i,)): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes((b,))
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < _TABLE_LIMIT:
            table[cand] = next_code
            if next_code == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
            next_code += 1
        else:                                   # table full → reset
            emit(clear, width)
            table = {bytes((i,)): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes((b,))
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container walk
# ---------------------------------------------------------------------------

#: 4-pass interlace: (row offset, row step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a data-sub-block chain; returns (payload, new pos)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise GifError("truncated sub-block chain")
        size = data[pos]
        pos += 1
        if size == 0:
            return b"".join(chunks), pos
        chunks.append(data[pos:pos + size])
        if len(chunks[-1]) != size:
            raise GifError("truncated sub-block")
        pos += size


def _color_table(data: bytes, pos: int, packed: int,
                 flag_bit: int) -> tuple[list[bytes] | None, int]:
    if not (packed >> flag_bit) & 1:
        return None, pos
    n = 2 << (packed & 0x07)
    raw = data[pos:pos + 3 * n]
    if len(raw) != 3 * n:
        raise GifError("truncated color table")
    return [raw[i * 3:i * 3 + 3] for i in range(n)], pos + 3 * n


def parse_gif(data: bytes) -> dict:
    """GIF bytes → ``{version, width, height, bg_index, loop_count,
    frames: [{left, top, width, height, delay_ms, disposal,
    transparent_index, interlaced, indices, palette}]}``.

    ``indices`` are the LZW-decoded (de-interlaced) pixel indices of the
    frame rect; ``palette`` is its effective (local-else-global) table.
    Compositing to canvas RGBA lives in :func:`gif_frames`.
    """
    if not looks_like_gif(data):
        raise GifError("not a GIF (missing GIF87a/GIF89a signature)")
    if len(data) < 13:
        raise GifError("truncated logical screen descriptor")
    width, height = struct.unpack("<HH", data[6:10])
    packed, bg_index = data[10], data[11]
    pos = 13
    gct, pos = _color_table(data, pos, packed, 7)
    frames: list[dict] = []
    loop_count: int | None = None
    delay_ms = 0
    disposal = 0
    transparent: int | None = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:                       # trailer
            break
        if block == 0x21:                       # extension
            if pos >= len(data):
                raise GifError("truncated extension")
            label = data[pos]
            pos += 1
            payload, pos = _sub_blocks(data, pos)
            if label == 0xF9:                   # Graphic Control Extension
                if len(payload) < 4:
                    raise GifError("short GCE payload")
                flags = payload[0]
                disposal = (flags >> 2) & 0x07
                delay_ms = struct.unpack("<H", payload[1:3])[0] * 10
                transparent = payload[3] if flags & 1 else None
            elif label == 0xFF and payload[:11] == b"NETSCAPE2.0" and \
                    len(payload) >= 14 and payload[11] == 1:
                loop_count = struct.unpack("<H", payload[12:14])[0]
            # 0xFE comment / 0x01 plain text: skipped
        elif block == 0x2C:                     # image descriptor
            if pos + 9 > len(data):
                raise GifError("truncated image descriptor")
            left, top, fw, fh = struct.unpack("<HHHH", data[pos:pos + 8])
            fpacked = data[pos + 8]
            pos += 9
            lct, pos = _color_table(data, pos, fpacked, 7)
            palette = lct if lct is not None else gct
            if palette is None:
                raise GifError("frame without global or local color table")
            if fw == 0 or fh == 0 or left + fw > width or top + fh > height:
                raise GifError(
                    f"frame rect {left},{top} {fw}x{fh} outside "
                    f"{width}x{height} canvas")
            if pos >= len(data):
                raise GifError("missing LZW minimum code size")
            mcs = data[pos]
            pos += 1
            stream, pos = _sub_blocks(data, pos)
            indices = lzw_decode(stream, mcs, fw * fh)
            if any(i >= len(palette) for i in indices):
                raise GifError("pixel index outside color table")
            if (fpacked >> 6) & 1:              # de-interlace (4 passes)
                rows = [indices[y * fw:(y + 1) * fw] for y in range(fh)]
                ordered: list[bytearray | None] = [None] * fh
                src = iter(rows)
                for off, step in _INTERLACE_PASSES:
                    for y in range(off, fh, step):
                        ordered[y] = next(src)
                indices = bytearray().join(ordered)  # type: ignore[arg-type]
            frames.append({
                "left": left, "top": top, "width": fw, "height": fh,
                "delay_ms": delay_ms, "disposal": disposal,
                "transparent_index": transparent,
                "interlaced": bool((fpacked >> 6) & 1),
                "indices": bytes(indices), "palette": palette,
            })
            delay_ms, disposal, transparent = 0, 0, None  # GCE is one-shot
        else:
            raise GifError(f"unknown block introducer 0x{block:02x}")
    if not frames:
        raise GifError("GIF with no image frames")
    return {"version": data[3:6].decode("ascii"), "width": width,
            "height": height, "bg_index": bg_index,
            "loop_count": loop_count, "frames": frames}


def gif_frames(data: bytes):
    """Yield ``(ts_ms, delay_ms, rgba_canvas_bytes)`` per frame, fully
    composited on the logical screen with GIF89a disposal semantics:
    1 = keep, 2 = restore-to-background (transparent, per the modern
    browser interpretation), 3 = restore-previous."""
    g = parse_gif(data)
    w, h = g["width"], g["height"]
    canvas = bytearray(w * h * 4)               # transparent RGBA
    ts = 0
    for f in g["frames"]:
        before = bytes(canvas) if f["disposal"] == 3 else None
        pal, tr = f["palette"], f["transparent_index"]
        fw = f["width"]
        for fy in range(f["height"]):
            row = (f["top"] + fy) * w + f["left"]
            base = fy * fw
            for fx in range(fw):
                idx = f["indices"][base + fx]
                if idx == tr:
                    continue
                o = (row + fx) * 4
                canvas[o:o + 3] = pal[idx]
                canvas[o + 3] = 255
        yield ts, f["delay_ms"], bytes(canvas)
        ts += f["delay_ms"]
        if f["disposal"] == 2:
            for fy in range(f["height"]):
                row = (f["top"] + fy) * w + f["left"]
                for fx in range(fw):
                    o = (row + fx) * 4
                    canvas[o:o + 4] = b"\x00\x00\x00\x00"
        elif f["disposal"] == 3 and before is not None:
            canvas = bytearray(before)


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """GIF bytes → (width, height, 4, first composited RGBA frame) —
    the still-image contract shared with ``decode_png``/``webp_decode``."""
    g = parse_gif(data)
    _ts, _delay, rgba = next(gif_frames(data))
    return g["width"], g["height"], 4, rgba


# ---------------------------------------------------------------------------
# Encoder (fixture generator)
# ---------------------------------------------------------------------------

def _build_palette(frames_rgba: list[bytes]) -> tuple[list[bytes], bool]:
    """Exact palette over all frames; True if any pixel is transparent
    (alpha < 128).  Raises when >256 colors (incl. the transparency
    slot) — this encoder is palette-exact by design, not a quantizer."""
    colors: dict[bytes, None] = {}
    has_alpha = False
    for rgba in frames_rgba:
        for i in range(0, len(rgba), 4):
            if rgba[i + 3] < 128:
                has_alpha = True
            else:
                colors.setdefault(rgba[i:i + 3], None)
    limit = 255 if has_alpha else 256
    if len(colors) > limit:
        raise GifError(
            f"{len(colors)} distinct colors exceed the palette-exact "
            f"encoder's {limit}-entry limit (quantize upstream)")
    return list(colors), has_alpha


def encode_gif(frames: list[tuple[bytes, int]], width: int, height: int,
               interlace: bool = False, loop: int | None = None,
               local_palettes: bool = False) -> bytes:
    """``[(rgba, delay_ms), ...]`` → real GIF89a bytes.

    Transparency (alpha < 128) maps to a reserved palette slot with a
    GCE transparent index; multi-frame inputs become an animation
    (disposal=2 so each frame stands alone on the canvas).
    """
    if not frames:
        raise GifError("no frames")
    rgbas = [f[0] for f in frames]
    for rgba in rgbas:
        if len(rgba) != width * height * 4:
            raise GifError("frame byte length != width*height*4")
    palette, has_alpha = _build_palette(rgbas)
    if not local_palettes:
        tables = [palette] * len(frames)
    else:
        tables = []
        for rgba in rgbas:
            p, _ = _build_palette([rgba])
            tables.append(p)

    def table_bytes(pal: list[bytes]) -> tuple[bytes, int, int]:
        n = len(pal) + (1 if has_alpha else 0)
        bits = max(1, (max(0, n - 1)).bit_length())
        raw = b"".join(pal) + b"\x00\x00\x00" * ((1 << bits) - len(pal))
        return raw, bits, len(pal)              # transparent idx = len(pal)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    if not local_palettes:
        raw, bits, tr_idx = table_bytes(palette)
        out += bytes((0x80 | (bits - 1), 0, 0))
        out += raw
    else:
        out += bytes((0, 0, 0))                 # no GCT
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += struct.pack("<H", loop) + b"\x00"
    for frame_i, (rgba, delay_ms) in enumerate(frames):
        pal = tables[frame_i]
        lut = {c: i for i, c in enumerate(pal)}
        if local_palettes:
            raw, bits, tr_idx = table_bytes(pal)
        idx = bytearray()
        for i in range(0, len(rgba), 4):
            idx.append(tr_idx if has_alpha and rgba[i + 3] < 128
                       else lut[rgba[i:i + 3]])
        if interlace:
            rows = [idx[y * width:(y + 1) * width] for y in range(height)]
            idx = bytearray()
            for off, step in _INTERLACE_PASSES:
                for y in range(off, height, step):
                    idx += rows[y]
        # GCE (transparency and/or animation timing)
        flags = (2 << 2 if len(frames) > 1 else 0) | (1 if has_alpha else 0)
        out += b"\x21\xf9\x04" + bytes((flags,))
        out += struct.pack("<H", delay_ms // 10)
        out += bytes((tr_idx if has_alpha else 0, 0))
        # image descriptor (full-canvas frames)
        fpacked = ((0x80 if local_palettes else 0)
                   | (0x40 if interlace else 0)
                   | ((bits - 1) if local_palettes else 0))
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes((fpacked,))
        if local_palettes:
            out += raw
        mcs = max(2, bits)
        out += bytes((mcs,))
        stream = lzw_encode(bytes(idx), mcs)
        for i in range(0, len(stream), 255):
            chunk = stream[i:i + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
