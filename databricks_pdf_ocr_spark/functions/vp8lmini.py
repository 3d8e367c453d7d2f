"""VP8L (WebP lossless) bitstream decoder — pure stdlib, plus a minimal
encoder used by the test fixtures.

Real WebP pixels, lossless half: ``webpmini`` walks the RIFF container;
this module decodes the ``VP8L`` (lossless) image chunk and the ``ALPH``
alpha plane of lossy images (WebP alpha is itself compressed with the
VP8L entropy coder), so ``media_phash`` sees true pixels for lossless
WebP and true alpha planes for extended lossy files.  Lossy VP8 RGB is
``vp8mini``'s job.

Implements the WebP Lossless Bitstream Specification (RFC 9649 §3-5):

- LSB-first bit packing; canonical prefix codes read MSB-of-code-first
  (the DEFLATE convention), including the "simple" 1/2-symbol form and
  the code-length-coded normal form with 16/17/18 repeats and the
  optional max_symbol budget;
- the four transforms (predictor with all 14 modes, color transform,
  subtract-green, color-indexing incl. sub-byte pixel bundling), applied
  inverse in reverse bitstream order;
- color cache (hash 0x1e35a7bd), LZ77 backward references with the
  2D distance mapping for codes 1..120, and meta prefix-code groups
  selected by the entropy image;
- ALPH chunk decoding: lossless-compressed alpha planes + the
  horizontal/vertical/gradient alpha filters.

Validation: the ALPH stream of CPython's ``python.webp`` test image is a
genuine libwebp-encoded VP8L bitstream; the suite decodes it and
compares byte-exactly against the alpha channel of the sibling
``python.png`` (decoded by ``pngmini``) — real-encoder ground truth, the
same strategy the JPEG codec uses with JVM ImageIO.  Round-trips against
the fixture encoder cover each transform and coding mode.
"""

from __future__ import annotations


class Vp8lError(ValueError):
    """Malformed VP8L bitstream."""


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------

class BitReader:
    """LSB-first bit reader over bytes (VP8L §3)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bit = pos * 8

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.bit >> 3
            if byte >= len(self.data):
                raise Vp8lError("bitstream truncated")
            v |= ((self.data[byte] >> (self.bit & 7)) & 1) << i
            self.bit += 1
        return v


class BitWriter:
    """LSB-first bit writer (encoder twin of :class:`BitReader`)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """Canonical prefix codes are written MSB-first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

def canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """code lengths → {symbol: (code, length)}, DEFLATE canonical order."""
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes: dict[int, tuple[int, int]] = {}
    code, prev_len = 0, 0
    for l, s in pairs:
        code <<= (l - prev_len)
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


class PrefixCode:
    """Bit-by-bit canonical prefix decoder (codes read MSB-first)."""

    def __init__(self, lengths: list[int]):
        nonzero = [s for s, l in enumerate(lengths) if l > 0]
        if not nonzero:
            raise Vp8lError("prefix code with no symbols")
        if len(nonzero) == 1:
            self.single: int | None = nonzero[0]   # 0-bit code (§4.2)
            self.table: dict[tuple[int, int], int] = {}
            return
        self.single = None
        self.table = {(l, c): s
                      for s, (c, l) in canonical_codes(lengths).items()}
        # completeness check: Kraft sum must be exactly 1
        if sum(1 << (15 - l) for l in lengths if l) != (1 << 15):
            raise Vp8lError("prefix code lengths not complete")

    def read(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        code = length = 0
        while length <= 15:
            code = (code << 1) | br.read(1)
            length += 1
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise Vp8lError("invalid prefix code in stream")


#: order in which code-length-code lengths are stored (§4.2.2)
KCODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10,
                      11, 12, 13, 14, 15)


def _read_prefix_code(br: BitReader, alphabet_size: int) -> PrefixCode:
    lengths = [0] * alphabet_size
    if br.read(1):                       # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        if s0 >= alphabet_size:
            raise Vp8lError("simple-code symbol out of range")
        lengths[s0] = 1
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise Vp8lError("bad second simple-code symbol")
            lengths[s1] = 1
        return PrefixCode(lengths)
    # normal code: code lengths are themselves prefix-coded
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[KCODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)
    if br.read(1):                       # optional symbol budget
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    symbol, prev_len = 0, 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        code_len = cl_code.read(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            if code_len == 16:
                repeat, value = 3 + br.read(2), prev_len
            elif code_len == 17:
                repeat, value = 3 + br.read(3), 0
            else:
                repeat, value = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise Vp8lError("code-length repeat overflows alphabet")
            for _ in range(repeat):
                lengths[symbol] = value
                symbol += 1
    return PrefixCode(lengths)


# ---------------------------------------------------------------------------
# LZ77 helpers
# ---------------------------------------------------------------------------

def _lz77_value(code: int, br: BitReader) -> int:
    """Length/distance prefix coding (§4.2.1.1): code → value ≥ 1."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_code(value: int) -> tuple[int, int, int]:
    """value ≥ 1 → (code, extra_bits_value, extra_bits_count) (encoder)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    high = v.bit_length() - 1
    extra = high - 1
    code = 2 * high + ((v >> extra) & 1)
    return code, v & ((1 << extra) - 1), extra


def _distance_map() -> list[tuple[int, int]]:
    """The 120 close-neighborhood (dx, dy) offsets for distance codes
    1..120 (§4.2.1.2): the window dx ∈ [-7, 8] (dy > 0) plus dx ∈ [1, 8]
    on the current row, ordered by squared euclidean distance, then by
    |dx| ascending with the positive dx first."""
    cands = [(dx, 0) for dx in range(1, 9)] + \
            [(dx, dy) for dy in range(1, 16) for dx in range(-7, 9)]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1],
                              abs(p[0]), p[0] < 0))
    return cands[:120]


DIST_MAP = _distance_map()


def _plane_to_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = DIST_MAP[code - 1]
    return max(1, dy * xsize + dx)


# ---------------------------------------------------------------------------
# image-stream decoding (§5)
# ---------------------------------------------------------------------------

_GREEN_EXTRA = 24      # length codes appended to the green alphabet
_ALPHABETS = (256 + _GREEN_EXTRA, 256, 256, 256, 40)


def _read_code_group(br: BitReader, cache_bits: int) -> list[PrefixCode]:
    sizes = list(_ALPHABETS)
    sizes[0] += (1 << cache_bits) if cache_bits else 0
    return [_read_prefix_code(br, size) for size in sizes]


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image(br: BitReader, w: int, h: int,
                  level0: bool) -> tuple[list[int], list, int]:
    """Entropy-coded ARGB image → (pixels, transforms, packed_width).

    ``transforms`` is non-empty only for level0 streams; ``packed_width``
    is the (possibly color-index-bundled) width the pixel array actually
    has — the caller applies the inverse transforms.
    """
    transforms: list = []
    if level0:
        seen = set()
        while br.read(1):
            t = br.read(2)
            if t in seen:
                raise Vp8lError(f"transform {t} appears twice")
            seen.add(t)
            if t in (0, 1):              # predictor / color transform
                bits = br.read(3) + 2
                sw, sh = _subsample_size(w, bits), _subsample_size(h, bits)
                sub, _, _ = _decode_image(br, sw, sh, False)
                transforms.append((t, bits, sub, w, h))
            elif t == 2:                 # subtract green
                transforms.append((2,))
            else:                        # color indexing
                n_colors = br.read(8) + 1
                deltas, _, _ = _decode_image(br, n_colors, 1, False)
                palette, acc = [], 0
                for d in deltas:         # per-channel cumulative sum
                    acc = _add_pixels(acc, d)
                    palette.append(acc)
                xbits = (3 if n_colors <= 2 else 2 if n_colors <= 4
                         else 1 if n_colors <= 16 else 0)
                transforms.append((3, n_colors, palette, xbits, w))
                w = _subsample_size(w, xbits)   # packed width from here on

    # meta prefix-code groups (level0 only)
    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw, mh = _subsample_size(w, meta_bits), _subsample_size(h, meta_bits)
        meta, _, _ = _decode_image(br, mw, mh, False)
        n_groups = max((p >> 8) & 0xFFFF for p in meta) + 1

    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise Vp8lError(f"bad color-cache bits {cache_bits}")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    groups = [_read_code_group(br, cache_bits) for _ in range(n_groups)]

    def insert(argb: int) -> None:
        cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    meta_w = _subsample_size(w, meta_bits) if meta is not None else 0
    n = w * h
    out: list[int] = []
    group = groups[0]
    while len(out) < n:
        pos = len(out)
        if meta is not None:
            x, y = pos % w, pos // w
            g = (meta[(y >> meta_bits) * meta_w + (x >> meta_bits)] >> 8) \
                & 0xFFFF
            group = groups[g]
        s = group[0].read(br)
        if s < 256:                      # literal
            red = group[1].read(br)
            blue = group[2].read(br)
            alpha = group[3].read(br)
            argb = (alpha << 24) | (red << 16) | (s << 8) | blue
            out.append(argb)
            if cache is not None:
                insert(argb)
        elif s < 256 + _GREEN_EXTRA:     # backward reference
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(group[4].read(br), br)
            dist = _plane_to_distance(dist_code, w)
            if dist > pos:
                raise Vp8lError("backward reference before image start")
            if pos + length > n:
                raise Vp8lError("backward reference past image end")
            for _ in range(length):
                argb = out[len(out) - dist]
                out.append(argb)
                if cache is not None:
                    insert(argb)
        else:                            # color-cache hit
            if cache is None:
                raise Vp8lError("cache symbol without a color cache")
            out.append(cache[s - 256 - _GREEN_EXTRA])
    return out, transforms, w


# ---------------------------------------------------------------------------
# inverse transforms (§3)
# ---------------------------------------------------------------------------

def _add_pixels(a: int, b: int) -> int:
    """Per-channel modular addition of two ARGB pixels."""
    return (((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00) | \
           (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF)


def _avg2(a: int, b: int) -> int:
    """Per-channel (a + b) // 2."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _sub3(a: int, b: int, c: int) -> int:
    return abs(b - c) - abs(a - c)


def _select(top: int, left: int, topleft: int) -> int:
    delta = sum(_sub3((top >> s) & 0xFF, (left >> s) & 0xFF,
                      (topleft >> s) & 0xFF) for s in (24, 16, 8, 0))
    return top if delta <= 0 else left


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    return sum(_clip255(((a >> s) & 0xFF) + ((b >> s) & 0xFF)
                        - ((c >> s) & 0xFF)) << s for s in (24, 16, 8, 0))


def _clamp_add_sub_half(ave: int, c: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        a_c, c_c = (ave >> s) & 0xFF, (c >> s) & 0xFF
        d = a_c - c_c
        half = d // 2 if d >= 0 else -((-d) // 2)   # C truncating /2
        out |= _clip255(a_c + half) << s
    return out


def _predict(mode: int, px: list[int], i: int, w: int) -> int:
    left = px[i - 1]
    top = px[i - w]
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return px[i - w + 1]
    if mode == 4:
        return px[i - w - 1]
    if mode == 5:
        return _avg2(_avg2(left, px[i - w + 1]), top)
    if mode == 6:
        return _avg2(left, px[i - w - 1])
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(px[i - w - 1], top)
    if mode == 9:
        return _avg2(top, px[i - w + 1])
    if mode == 10:
        return _avg2(_avg2(left, px[i - w - 1]),
                     _avg2(top, px[i - w + 1]))
    if mode == 11:
        return _select(top, left, px[i - w - 1])
    if mode == 12:
        return _clamp_add_sub_full(left, top, px[i - w - 1])
    if mode == 13:
        return _clamp_add_sub_half(_avg2(left, top), px[i - w - 1])
    raise Vp8lError(f"predictor mode {mode} out of range")


def _inverse_predictor(px: list[int], w: int, h: int, bits: int,
                       sub: list[int]) -> None:
    sub_w = _subsample_size(w, bits)
    for i in range(len(px)):
        x, y = i % w, i // w
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]
        elif x == 0:
            pred = px[i - w]
        else:
            mode = (sub[(y >> bits) * sub_w + (x >> bits)] >> 8) & 0xFF
            pred = _predict(mode, px, i, w)
        px[i] = _add_pixels(px[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """(int8)t * (int8)c >> 5 with arithmetic shift (§3.5)."""
    st = t - 256 if t >= 128 else t
    sc = c - 256 if c >= 128 else c
    return (st * sc) >> 5


def _inverse_color_transform(px: list[int], w: int, h: int, bits: int,
                             sub: list[int]) -> None:
    sub_w = _subsample_size(w, bits)
    for i in range(len(px)):
        x, y = i % w, i // w
        cte = sub[(y >> bits) * sub_w + (x >> bits)]
        g2r, g2b, r2b = cte & 0xFF, (cte >> 8) & 0xFF, (cte >> 16) & 0xFF
        p = px[i]
        green = (p >> 8) & 0xFF
        red = (((p >> 16) & 0xFF) + _ct_delta(g2r, green)) & 0xFF
        blue = ((p & 0xFF) + _ct_delta(g2b, green)
                + _ct_delta(r2b, red)) & 0xFF
        px[i] = (p & 0xFF00FF00) | (red << 16) | blue


def _inverse_subtract_green(px: list[int]) -> None:
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        red = (((p >> 16) & 0xFF) + g) & 0xFF
        blue = ((p & 0xFF) + g) & 0xFF
        px[i] = (p & 0xFF00FF00) | (red << 16) | blue


def _inverse_color_index(px: list[int], packed_w: int, h: int,
                         n_colors: int, palette: list[int],
                         xbits: int, orig_w: int) -> list[int]:
    if xbits == 0:
        out = []
        for p in px:
            idx = (p >> 8) & 0xFF
            if idx >= n_colors:
                raise Vp8lError(f"palette index {idx} >= {n_colors}")
            out.append(palette[idx])
        return out
    per = 1 << xbits                     # pixels bundled per green byte
    depth = 8 >> xbits                   # bits per pixel index
    mask = (1 << depth) - 1
    out = []
    for y in range(h):
        row = px[y * packed_w:(y + 1) * packed_w]
        for x in range(orig_w):
            g = (row[x >> xbits] >> 8) & 0xFF
            idx = (g >> (depth * (x & (per - 1)))) & mask
            if idx >= n_colors:
                raise Vp8lError(f"palette index {idx} >= {n_colors}")
            out.append(palette[idx])
    return out


def _apply_inverse_transforms(px: list[int], packed_w: int, w: int, h: int,
                              transforms: list) -> list[int]:
    cur_w = packed_w
    for t in reversed(transforms):
        if t[0] == 0:
            _inverse_predictor(px, cur_w, h, t[1], t[2])
        elif t[0] == 1:
            _inverse_color_transform(px, cur_w, h, t[1], t[2])
        elif t[0] == 2:
            _inverse_subtract_green(px)
        else:
            _, n_colors, palette, xbits, orig_w = t
            px = _inverse_color_index(px, cur_w, h, n_colors, palette,
                                      xbits, orig_w)
            cur_w = orig_w
    if cur_w != w:
        raise Vp8lError("transform width bookkeeping broken")
    return px


# ---------------------------------------------------------------------------
# public decode entry points
# ---------------------------------------------------------------------------

#: decode-size guard: a corrupt header can claim 16383x16383 and a
#: degenerate all-single-symbol code stream then "decodes" it from zero
#: bits — cap pixels so garbage fails loudly instead of spinning
MAX_PIXELS = 1 << 24


def vp8l_decode(body: bytes) -> tuple[int, int, int, bytes]:
    """VP8L chunk body → (width, height, 4, RGBA bytes)."""
    if not body or body[0] != 0x2F:
        raise Vp8lError("bad VP8L signature byte")
    br = BitReader(body, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    if w * h > MAX_PIXELS:
        raise Vp8lError(f"image {w}x{h} exceeds the {MAX_PIXELS}-pixel cap")
    br.read(1)                           # alpha-is-used hint
    version = br.read(3)
    if version != 0:
        raise Vp8lError(f"unsupported VP8L version {version}")
    px, transforms, packed_w = _decode_image(br, w, h, True)
    px = _apply_inverse_transforms(px, packed_w, w, h, transforms)
    out = bytearray()
    for p in px:
        out += bytes(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF,
                      (p >> 24) & 0xFF))
    return w, h, 4, bytes(out)


def _unfilter_alpha(plane: bytearray, w: int, h: int, method: int) -> None:
    """WebP alpha filters 1-3 (horizontal/vertical/gradient), in place."""
    if method == 0:
        return
    for y in range(h):
        row = y * w
        for x in range(w):
            i = row + x
            if method == 1:              # horizontal
                pred = (plane[i - 1] if x else
                        (plane[i - w] if y else 0))
            elif method == 2:            # vertical
                pred = plane[i - w] if y else (plane[i - 1] if x else 0)
            else:                        # gradient
                if y == 0:
                    pred = plane[i - 1] if x else 0
                elif x == 0:
                    pred = plane[i - w]
                else:
                    pred = _clip255(plane[i - 1] + plane[i - w]
                                    - plane[i - w - 1])
            plane[i] = (plane[i] + pred) & 0xFF
    return


def _sub_pixels(a: int, b: int) -> int:
    """Per-channel modular subtraction a - b (forward-transform twin)."""
    return sum((((a >> s) & 0xFF) - ((b >> s) & 0xFF)) % 256 << s
               for s in (24, 16, 8, 0))


def _huff_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Symbol frequencies → prefix-code lengths (plain Huffman)."""
    import heapq
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in freqs}
    tie = len(heap)
    while len(heap) > 1:
        fa, _, sa = heapq.heappop(heap)
        fb, _, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, tie, sa + sb))
        tie += 1
    if max(depth.values()) > max_len:
        raise Vp8lError("fixture encoder: code too deep")   # tiny alphabets only
    return depth


def _write_prefix_code(bw: BitWriter, lengths: dict[int, int],
                       alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Emit a prefix-code definition; returns {symbol: (code, len)}."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(lengths[s] == 1 for s in syms) \
            and all(s < 256 for s in syms):
        bw.write(1, 1)                           # simple code
        bw.write(len(syms) - 1, 1)
        bw.write(1, 1)                           # first symbol in 8 bits
        bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        full = [0] * alphabet_size
        for s in syms:
            full[s] = 1
        return canonical_codes(full)
    bw.write(0, 1)                               # normal code
    full = [0] * alphabet_size
    for s, l in lengths.items():
        full[s] = l
    cl_freqs: dict[int, int] = {}
    for l in full:
        cl_freqs[l] = cl_freqs.get(l, 0) + 1
    cl_lengths = _huff_lengths(cl_freqs, max_len=7)
    cl_stored = [0] * 19
    for v, l in cl_lengths.items():
        cl_stored[v] = l
    last = max(i for i, o in enumerate(KCODE_LENGTH_ORDER)
               if cl_stored[o]) + 1
    num_codes = max(last, 4)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_stored[KCODE_LENGTH_ORDER[i]], 3)
    bw.write(0, 1)                               # no max_symbol budget
    cl_codes = canonical_codes(cl_stored)
    single_cl = len([l for l in cl_stored if l]) == 1
    for l in full:                               # literal lengths, no repeats
        if not single_cl:
            code, length = cl_codes[l]
            bw.write_code(code, length)
    return canonical_codes(full)


def _writer_codes(codes: dict[int, tuple[int, int]]) -> dict:
    """Single-symbol codes are 0-bit on the wire (§4.2) — the writer must
    emit nothing for them even though canonical assignment says 1 bit."""
    if len(codes) == 1:
        return {s: (0, 0) for s in codes}
    return codes


def _encode_stream(bw: BitWriter, px: list[int], w: int, h: int,
                   cache_bits: int = 0, lz77: bool = False,
                   plain_distances: bool = True,
                   level0: bool = False) -> None:
    """Entropy-code one ARGB image (the per-image part shared by the main
    image and transform subimages).  ``lz77`` emits greedy dist-1 runs —
    via plain (code+120) distances or the 2D neighborhood map."""
    if level0:
        bw.write(0, 1)                           # no meta prefix image
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
        cache = [None] * (1 << cache_bits)
    else:
        bw.write(0, 1)
        cache = None

    def slot_of(p: int) -> int:
        return ((0x1E35A7BD * p) & 0xFFFFFFFF) >> (32 - cache_bits)

    tokens: list[tuple] = []
    i, n = 0, len(px)
    while i < n:
        if lz77 and i > 0:
            run = 0
            while i + run < n and px[i + run] == px[i + run - 1] \
                    and run < 4096:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, 1))
                if cache is not None:    # decoder inserts copied pixels
                    cache[slot_of(px[i])] = px[i]
                i += run
                continue
        p = px[i]
        if cache is not None:
            if cache[slot_of(p)] == p:
                tokens.append(("cache", slot_of(p)))
                i += 1
                continue
            cache[slot_of(p)] = p
        tokens.append(("lit", p))
        i += 1

    hist = [dict() for _ in range(5)]

    def bump(h_idx: int, s: int) -> None:
        hist[h_idx][s] = hist[h_idx].get(s, 0) + 1

    def dist_symbol(dist: int) -> tuple[int, int, int]:
        if not plain_distances and dist == 1:
            dist_value = DIST_MAP.index((1, 0)) + 1     # 2D code for (1,0)
        else:
            dist_value = dist + 120
        return _lz77_code(dist_value)

    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            bump(0, (p >> 8) & 0xFF)
            bump(1, (p >> 16) & 0xFF)
            bump(2, p & 0xFF)
            bump(3, (p >> 24) & 0xFF)
        elif t[0] == "copy":
            bump(0, 256 + _lz77_code(t[1])[0])
            bump(4, dist_symbol(t[2])[0])
        else:
            bump(0, 256 + _GREEN_EXTRA + t[1])

    sizes = list(_ALPHABETS)
    sizes[0] += (1 << cache_bits) if cache_bits else 0
    codes = []
    for k in range(5):
        if not hist[k]:
            hist[k] = {0: 1}             # unused code: 1-symbol placeholder
        codes.append(_writer_codes(
            _write_prefix_code(bw, _huff_lengths(hist[k]), sizes[k])))

    def emit(k: int, s: int) -> None:
        c, l = codes[k][s]
        bw.write_code(c, l)

    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            emit(0, (p >> 8) & 0xFF)
            emit(1, (p >> 16) & 0xFF)
            emit(2, p & 0xFF)
            emit(3, (p >> 24) & 0xFF)
        elif t[0] == "copy":
            code, extra_v, extra_n = _lz77_code(t[1])
            emit(0, 256 + code)
            bw.write(extra_v, extra_n)
            code, extra_v, extra_n = dist_symbol(t[2])
            emit(4, code)
            bw.write(extra_v, extra_n)
        else:
            emit(0, 256 + _GREEN_EXTRA + t[1])


def _forward_predictor(px: list[int], w: int, h: int, mode: int) -> list[int]:
    out = []
    for i in range(len(px)):
        x, y = i % w, i // w
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]
        elif x == 0:
            pred = px[i - w]
        else:
            pred = _predict(mode, px, i, w)
        out.append(_sub_pixels(px[i], pred))
    return out


def vp8l_encode(rgba: bytes, w: int, h: int, *, transforms: tuple = (),
                cache_bits: int = 0, lz77: bool = False,
                plain_distances: bool = True) -> bytes:
    """RGBA bytes → VP8L chunk body (fixture encoder).

    ``transforms`` entries, applied in stream order: ``("subtract_green",)``,
    ``("predictor", mode)`` / ``("color", (g2r, g2b, r2b))`` (uniform —
    one 512-px block, so the subimage is a single pixel), ``("palette",)``
    (with sub-byte bundling for ≤16 colors).  Not a production encoder —
    it exists so the decoder's transform/cache/LZ77 paths round-trip
    under test without libwebp in the container.
    """
    if len(rgba) != w * h * 4:
        raise Vp8lError("pixel buffer size mismatch")
    px = [(rgba[i * 4 + 3] << 24) | (rgba[i * 4] << 16)
          | (rgba[i * 4 + 1] << 8) | rgba[i * 4 + 2]
          for i in range(w * h)]

    bw = BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)                       # alpha hint
    bw.write(0, 3)                       # version

    cur_w = w
    for t in transforms:
        bw.write(1, 1)
        if t[0] == "subtract_green":
            bw.write(2, 2)
            px = [(p & 0xFF00FF00)
                  | ((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) % 256) << 16
                  | (((p & 0xFF) - ((p >> 8) & 0xFF)) % 256)
                  for p in px]
        elif t[0] == "predictor":
            bw.write(0, 2)
            bw.write(7, 3)               # block bits 9 → one 512-px block
            px = _forward_predictor(px, cur_w, h, t[1])
            sub = [0xFF000000 | (t[1] << 8)] * (
                _subsample_size(cur_w, 9) * _subsample_size(h, 9))
            _encode_stream(bw, sub, _subsample_size(cur_w, 9),
                           _subsample_size(h, 9))
        elif t[0] == "color":
            bw.write(1, 2)
            bw.write(7, 3)               # block bits 9 → one 512-px block
            g2r, g2b, r2b = t[1]
            out = []
            for p in px:
                green = (p >> 8) & 0xFF
                red = (p >> 16) & 0xFF
                new_red = (red - _ct_delta(g2r, green)) % 256
                new_blue = ((p & 0xFF) - _ct_delta(g2b, green)
                            - _ct_delta(r2b, red)) % 256
                out.append((p & 0xFF00FF00) | (new_red << 16) | new_blue)
            px = out
            sub = [0xFF000000 | (r2b << 16) | (g2b << 8) | g2r] * (
                _subsample_size(cur_w, 9) * _subsample_size(h, 9))
            _encode_stream(bw, sub, _subsample_size(cur_w, 9),
                           _subsample_size(h, 9))
        elif t[0] == "palette":
            bw.write(3, 2)
            colors = sorted(set(px))
            n_colors = len(colors)
            if n_colors > 256:
                raise Vp8lError("palette transform needs ≤256 colors")
            bw.write(n_colors - 1, 8)
            deltas, prev = [], 0
            for c in colors:
                deltas.append(_sub_pixels(c, prev))
                prev = c
            _encode_stream(bw, deltas, n_colors, 1)
            index = {c: i for i, c in enumerate(colors)}
            xbits = (3 if n_colors <= 2 else 2 if n_colors <= 4
                     else 1 if n_colors <= 16 else 0)
            if xbits == 0:
                px = [0xFF000000 | (index[p] << 8) for p in px]
            else:
                per, depth = 1 << xbits, 8 >> xbits
                packed_w = _subsample_size(cur_w, xbits)
                out = []
                for y in range(h):
                    row = px[y * cur_w:(y + 1) * cur_w]
                    for bx in range(packed_w):
                        g = 0
                        for k in range(per):
                            x = bx * per + k
                            if x < cur_w:
                                g |= index[row[x]] << (depth * k)
                        out.append(0xFF000000 | (g << 8))
                px = out
                cur_w = packed_w
        else:
            raise Vp8lError(f"unknown fixture transform {t[0]!r}")
    bw.write(0, 1)                       # end of transforms

    _encode_stream(bw, px, cur_w, h, cache_bits=cache_bits, lz77=lz77,
                   plain_distances=plain_distances, level0=True)
    return bw.bytes()


def alph_encode(plane: bytes, w: int, h: int, filt: int = 0) -> bytes:
    """Alpha plane → ALPH chunk body (method 1, lossless) for fixtures."""
    if len(plane) != w * h:
        raise Vp8lError("alpha plane size mismatch")
    vals = list(plane)
    if filt:                             # forward filter (§2.3.2)
        out = []
        for y in range(h):
            for x in range(w):
                i = y * w + x
                if filt == 1:
                    pred = (vals[i - 1] if x else (vals[i - w] if y else 0))
                elif filt == 2:
                    pred = vals[i - w] if y else (vals[i - 1] if x else 0)
                else:
                    if y == 0:
                        pred = vals[i - 1] if x else 0
                    elif x == 0:
                        pred = vals[i - w]
                    else:
                        pred = _clip255(vals[i - 1] + vals[i - w]
                                        - vals[i - w - 1])
                out.append((vals[i] - pred) % 256)
        vals = out
    px = [v << 8 for v in vals]          # alpha rides the green channel
    bw = BitWriter()
    bw.write(0, 1)                       # no transforms
    _encode_stream(bw, px, w, h, level0=True)
    return bytes([1 | (filt << 2)]) + bw.bytes()


def alph_decode(body: bytes, w: int, h: int) -> bytes:
    """ALPH chunk body → w*h alpha bytes (RFC 9649 §2.3.2).

    Method 0 = uncompressed plane; method 1 = a headerless VP8L stream
    whose GREEN channel carries the alpha values.
    """
    if not body:
        raise Vp8lError("empty ALPH chunk")
    if w * h > MAX_PIXELS:
        raise Vp8lError(f"alpha plane {w}x{h} exceeds the pixel cap")
    head = body[0]
    method, filt = head & 3, (head >> 2) & 3
    if method == 0:
        if len(body) < 1 + w * h:
            raise Vp8lError("raw alpha plane truncated")
        plane = bytearray(body[1:1 + w * h])
    elif method == 1:
        br = BitReader(body, 1)
        px, transforms, packed_w = _decode_image(br, w, h, True)
        px = _apply_inverse_transforms(px, packed_w, w, h, transforms)
        plane = bytearray(((p >> 8) & 0xFF) for p in px)
    else:
        raise Vp8lError(f"unknown alpha compression method {method}")
    _unfilter_alpha(plane, w, h, filt)
    return bytes(plane)
