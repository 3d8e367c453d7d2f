"""pdfmini — a minimal, dependency-free PDF writer and byte-stream tokenizer.

The reference renders PDF pages with PyMuPDF and ships the pixels to a
model endpoint (``processors/ocr.py:27-57``, ``clients/claude.py:40-108``).
Per the north star, this engine instead performs *batched PDF byte-stream
tokenization* in pure Python: xref-table walk, page-tree traversal, and
content-stream operator decoding, yielding positioned text runs that the
layout segmenter (``segment.py``) orders into page text.

Supported subset (everything the fixture writer emits, plus slack):

- classic cross-reference tables, including ``/Prev`` chains;
- indirect objects, dictionaries, arrays, names, numbers, booleans, null,
  literal strings (with escapes + octal), hex strings, references;
- streams with integer or indirect ``/Length``; ``/FlateDecode`` filter
  (zlib is stdlib — no dependency);
- page trees with nested ``/Pages`` nodes; ``/Contents`` as a single ref
  or an array of refs;
- text operators ``BT ET Tf Td TD Tm T* Tj TJ ' "`` with a
  translation-only text matrix (what our writer emits; ``Tm`` is honored
  for its e/f translation terms);
- image XObjects referenced by ``Do`` (used to detect image-only pages for
  the OCR-fallback path).

Anything outside the subset raises :class:`PdfError`; the extraction stage
converts that into a ``status='failed'`` row and the pipeline continues —
the reference's error contract (``processors/ocr.py:132-148``).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field


class PdfError(ValueError):
    """Raised for any PDF the tokenizer cannot parse."""


# ===========================================================================
# Object model
# ===========================================================================

@dataclass(frozen=True)
class Ref:
    num: int
    gen: int


@dataclass
class Run:
    """One positioned text show-operation."""
    x: float
    y: float
    text: str


@dataclass
class Page:
    runs: list[Run] = field(default_factory=list)
    image_bytes: list[bytes] = field(default_factory=list)  # XObject streams drawn via Do
    #: embedded raster-image records (``PdfDocument.page_images`` dicts):
    #: the extraction kernel derives a media span's ref from the payload
    #: hash and hands the record back as the span's media_payloads row
    images: list[dict] = field(default_factory=list)


# ===========================================================================
# Lexer / object parser
# ===========================================================================

# compiled-regex fast paths: the tokenizer is the extraction hot loop
# (hundreds of thousands of calls per batch) — regex .match jumps replace
# per-character Python loops with identical semantics
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_TOKEN_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_NAME_RE = _TOKEN_RE
_STR_SIMPLE = re.compile(rb"\(([^\\()]*)\)")
# content-stream scanner: optional ws/comments, then a bare token OR the
# first byte of a structured operand (string/hex/dict/array/name)
_CS_TOK = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:(?P<tok>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)|(?P<delim>[(<\[/]))")


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        m = _WS_RE.match(self.data, self.pos)
        if m:
            self.pos = m.end()

    def peek(self, k: int = 1) -> bytes:
        self._skip_ws()
        return self.data[self.pos:self.pos + k]

    def _read_token(self) -> bytes:
        """Read a bare token (number / keyword)."""
        self._skip_ws()
        m = _TOKEN_RE.match(self.data, self.pos)
        if m is None or m.start() != self.pos:
            raise PdfError(f"unexpected delimiter at byte {self.pos}")
        self.pos = m.end()
        return m.group(0)

    # -- object grammar ----------------------------------------------------

    def parse_object(self):
        self._skip_ws()
        if self.pos >= len(self.data):
            raise PdfError("unexpected EOF")
        c = self.data[self.pos:self.pos + 1]
        if c == b"/":
            return self._parse_name()
        if c == b"(":
            return self._parse_literal_string()
        if c == b"<":
            if self.data[self.pos:self.pos + 2] == b"<<":
                return self._parse_dict()
            return self._parse_hex_string()
        if c == b"[":
            return self._parse_array()
        tok = self._read_token()
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — or the start of an indirect reference "N G R"
        try:
            num = int(tok)
        except ValueError:
            try:
                return float(tok)
            except ValueError as e:
                raise PdfError(f"bad token {tok!r} at byte {self.pos}") from e
        # lookahead for "G R"
        save = self.pos
        try:
            tok2 = self._read_token()
            gen = int(tok2)
            tok3 = self._read_token()
            if tok3 == b"R":
                return Ref(num, gen)
        except (PdfError, ValueError):
            pass
        self.pos = save
        return num

    def _parse_name(self) -> str:
        assert self.data[self.pos:self.pos + 1] == b"/"
        self.pos += 1
        m = _NAME_RE.match(self.data, self.pos)
        raw = m.group(0) if m else b""
        if m:
            self.pos = m.end()
        # #xx hex escapes in names
        if b"#" in raw:
            raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                         lambda m: bytes([int(m.group(1), 16)]), raw)
        return raw.decode("latin-1")

    def _parse_literal_string(self) -> bytes:
        assert self.data[self.pos:self.pos + 1] == b"("
        # fast path: no escapes, no nested parens (the overwhelming case)
        m = _STR_SIMPLE.match(self.data, self.pos)
        if m:
            self.pos = m.end()
            return m.group(1)
        self.pos += 1
        out = bytearray()
        depth = 1
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                esc = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
                       0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
                if e in esc:
                    out.append(esc[e]); self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytearray()
                    while (self.pos < n and len(oct_digits) < 3
                           and 0x30 <= d[self.pos] <= 0x37):
                        oct_digits.append(d[self.pos]); self.pos += 1
                    out.append(int(oct_digits.decode(), 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e); self.pos += 1
            elif c == 0x28:
                depth += 1; out.append(c); self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c); self.pos += 1
        raise PdfError("unterminated literal string")

    def _parse_hex_string(self) -> bytes:
        assert self.data[self.pos:self.pos + 1] == b"<"
        self.pos += 1
        end = self.data.find(b">", self.pos)
        if end < 0:
            raise PdfError("unterminated hex string")
        hx = re.sub(rb"\s", b"", self.data[self.pos:end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError as e:
            raise PdfError("bad hex string") from e

    def _parse_array(self) -> list:
        assert self.data[self.pos:self.pos + 1] == b"["
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.pos >= len(self.data):
                raise PdfError("unterminated array")
            if self.data[self.pos:self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_dict(self) -> dict:
        assert self.data[self.pos:self.pos + 2] == b"<<"
        self.pos += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                return out
            if self.data[self.pos:self.pos + 1] != b"/":
                raise PdfError(f"dict key must be a name at byte {self.pos}")
            key = self._parse_name()
            out[key] = self.parse_object()


# ===========================================================================
# Document parser: xref walk → objects → page tree → content streams
# ===========================================================================

# -- standard security handler (RC4) ---------------------------------------
# PDF 32000-1 §7.6.3: empty-user-password decryption for R2/R3 documents
# (the reference's own fixtures/sample.pdf is R2/V1 40-bit RC4).

_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _file_key(enc: dict, id0: bytes) -> bytes:
    import hashlib
    r = enc.get("R")
    if enc.get("Filter") != "Standard" or r not in (2, 3) or enc.get("V") not in (1, 2):
        raise PdfError(f"unsupported encryption {enc.get('Filter')}/V{enc.get('V')}")
    o = enc["O"]
    p = int(enc["P"]) & 0xFFFFFFFF
    n = 5 if r == 2 else max(5, int(enc.get("Length", 40)) // 8)
    h = hashlib.md5(_PAD + o + p.to_bytes(4, "little") + id0).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


class PdfDocument:
    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            raise PdfError("missing %PDF header")
        self.data = data
        self._cache: dict[tuple[int, int], object] = {}
        self.xref: dict[int, int] = {}
        self.trailer: dict = {}
        self._enc_key: bytes | None = None
        self._load_xref()
        if "Encrypt" in self.trailer:
            enc = self.resolve(self.trailer["Encrypt"])
            ids = self.trailer.get("ID") or [b""]
            self._enc_key = _file_key(enc, ids[0])

    def _object_key(self, num: int, gen: int) -> bytes:
        import hashlib
        assert self._enc_key is not None
        h = hashlib.md5(self._enc_key + num.to_bytes(3, "little")
                        + gen.to_bytes(2, "little")).digest()
        return h[: min(len(self._enc_key) + 5, 16)]

    # -- xref --------------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("no startxref")
        pos = int(m.group(1))
        seen = set()
        while True:
            if pos in seen or pos >= len(self.data):
                raise PdfError("bad xref chain")
            seen.add(pos)
            lex = _Lexer(self.data, pos)
            if lex.peek(4) == b"xref":
                trailer = self._parse_xref_section(pos)
                # hybrid-reference files: classic table + /XRefStm pointer
                xrs = trailer.get("XRefStm")
                if isinstance(xrs, int) and xrs not in seen:
                    seen.add(xrs)
                    self._parse_xref_stream(xrs)
            else:
                trailer = self._parse_xref_stream(pos)  # PDF 1.5+ xref stream
            if not self.trailer:
                self.trailer = trailer
            prev = trailer.get("Prev")
            if prev is None:
                break
            pos = int(prev)
        if "Root" not in self.trailer:
            raise PdfError("trailer has no /Root")

    def _parse_xref_section(self, pos: int) -> dict:
        lex = _Lexer(self.data, pos)
        tok = lex._read_token()
        if tok != b"xref":
            raise PdfError(f"expected 'xref' at byte {pos}")
        while True:
            lex._skip_ws()
            if self.data[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                return lex.parse_object()
            start = int(lex._read_token())
            count = int(lex._read_token())
            lex._skip_ws()
            for i in range(count):
                entry = self.data[lex.pos:lex.pos + 20]
                em = re.match(rb"(\d{10}) (\d{5}) ([nf])", entry)
                if not em:
                    raise PdfError(f"bad xref entry at byte {lex.pos}")
                objnum = start + i
                # first-seen wins (later sections in a /Prev chain are older);
                # free ('f') entries are recorded too so an object DELETED by
                # an incremental update shadows the older section's offset
                # instead of resolving to stale bytes
                if em.group(3) == b"n":
                    self.xref.setdefault(objnum, ("n", int(em.group(1))))
                else:
                    self.xref.setdefault(objnum, ("f",))
                # entries are 20 bytes, but tolerate 19/20 via regex-anchored advance
                lex.pos += 20 if entry[18:20] in (b"\r\n", b" \n", b" \r") else 19

    def _parse_xref_stream(self, pos: int) -> dict:
        """PDF 1.5+ cross-reference stream (/Type /XRef): W-packed binary
        entries, optional PNG-predictor Flate encoding, /Index subsections.
        Type-2 entries point into object streams (/Type /ObjStm)."""
        lex = _Lexer(self.data, pos)
        try:
            num = int(lex._read_token())
            gen = int(lex._read_token())
            kw = lex._read_token()
        except (PdfError, ValueError) as e:
            raise PdfError(f"no xref table or stream at byte {pos}") from e
        if kw != b"obj":
            raise PdfError(f"no xref table or stream at byte {pos}")
        d = lex.parse_object()
        if not isinstance(d, dict) or d.get("Type") != "XRef":
            raise PdfError("object at startxref is not an /XRef stream")
        lex._skip_ws()
        if self.data[lex.pos:lex.pos + 6] != b"stream":
            raise PdfError("/XRef object has no stream")
        p = lex.pos + 6
        if self.data[p:p + 2] == b"\r\n":
            p += 2
        elif self.data[p:p + 1] == b"\n":
            p += 1
        length = d.get("Length")
        if isinstance(length, Ref):
            raise PdfError("indirect /Length in xref stream unsupported")
        data = _Stream(d, self.data[p:p + int(length)]).decoded()

        w = [int(x) for x in d.get("W", [])]
        if len(w) != 3:
            raise PdfError("bad /W in xref stream")
        row = sum(w)
        size = int(d.get("Size", 0))
        index = [int(x) for x in d.get("Index", [0, size])]

        def field(buf: bytes, off: int, width: int, default: int) -> int:
            if width == 0:
                return default
            return int.from_bytes(buf[off:off + width], "big")

        pos_in = 0
        for si in range(0, len(index), 2):
            start, count = index[si], index[si + 1]
            for i in range(count):
                if pos_in + row > len(data):
                    raise PdfError("truncated xref stream")
                t = field(data, pos_in, w[0], 1)
                f2 = field(data, pos_in + w[0], w[1], 0)
                f3 = field(data, pos_in + w[0] + w[1], w[2], 0)
                objnum = start + i
                if t == 1:
                    self.xref.setdefault(objnum, ("n", f2))
                elif t == 2:
                    self.xref.setdefault(objnum, ("c", f2, f3))
                elif t == 0:  # freed object — shadow older 'n' entries
                    self.xref.setdefault(objnum, ("f",))
                pos_in += row
        return d

    # -- objects -----------------------------------------------------------

    def resolve(self, obj):
        while isinstance(obj, Ref):
            obj = self._load_object(obj)
        return obj

    def _load_object(self, ref: Ref):
        key = (ref.num, ref.gen)
        if key in self._cache:
            return self._cache[key]
        entry = self.xref.get(ref.num)
        if entry is None:
            raise PdfError(f"object {ref.num} not in xref")
        if entry[0] == "f":
            raise PdfError(f"object {ref.num} is freed (deleted by a newer "
                           "incremental-update section)")
        if entry[0] == "c":  # lives inside an object stream
            obj = self._load_from_objstm(entry[1], entry[2], ref.num)
            self._cache[key] = obj
            return obj
        off = entry[1]
        if off >= len(self.data):
            raise PdfError(f"object {ref.num} offset out of range")
        lex = _Lexer(self.data, off)
        num = int(lex._read_token())
        gen = int(lex._read_token())
        kw = lex._read_token()
        if num != ref.num or kw != b"obj":
            raise PdfError(f"xref offset for obj {ref.num} is wrong")
        obj = lex.parse_object()
        # stream?
        lex._skip_ws()
        if self.data[lex.pos:lex.pos + 6] == b"stream":
            if not isinstance(obj, dict):
                raise PdfError("stream without dict")
            p = lex.pos + 6
            if self.data[p:p + 2] == b"\r\n":
                p += 2
            elif self.data[p:p + 1] == b"\n":
                p += 1
            length = self.resolve(obj.get("Length"))
            if not isinstance(length, int):
                raise PdfError("stream /Length missing")
            raw = self.data[p:p + length]
            if self._enc_key is not None:
                raw = _rc4(self._object_key(num, gen), raw)
            obj = _Stream(obj, raw)
        self._cache[key] = obj
        return obj

    def _load_from_objstm(self, stm_num: int, idx: int, want_num: int):
        """Extract object #want_num from an object stream (/Type /ObjStm):
        header of (objnum, offset) pairs, then the objects back-to-back
        starting at /First."""
        stm = self.resolve(Ref(stm_num, 0))
        if not isinstance(stm, _Stream) or stm.dict.get("Type") != "ObjStm":
            raise PdfError(f"object {stm_num} is not an /ObjStm")
        data = stm.decoded()
        n = int(self.resolve(stm.dict.get("N", 0)))
        first = int(self.resolve(stm.dict.get("First", 0)))
        hdr = _Lexer(data)
        pairs = []
        for _ in range(n):
            onum = int(hdr._read_token())
            ooff = int(hdr._read_token())
            pairs.append((onum, ooff))
        if idx >= len(pairs):
            # tolerate off-by-index files: fall back to searching by number
            match = [p for p in pairs if p[0] == want_num]
            if not match:
                raise PdfError(f"object {want_num} not in objstm {stm_num}")
            onum, ooff = match[0]
        else:
            onum, ooff = pairs[idx]
            if onum != want_num:
                match = [p for p in pairs if p[0] == want_num]
                if not match:
                    raise PdfError(f"objstm index mismatch for {want_num}")
                onum, ooff = match[0]
        return _Lexer(data, first + ooff).parse_object()

    # -- page tree ---------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        if not isinstance(root, dict):
            raise PdfError("bad catalog")
        pages_ref = root.get("Pages")
        if pages_ref is None:
            raise PdfError("catalog has no /Pages")
        out: list[dict] = []
        self._walk_pages(pages_ref, out, depth=0)
        return out

    def _walk_pages(self, node_ref, out: list, depth: int) -> None:
        if depth > 32:
            raise PdfError("page tree too deep")
        node = self.resolve(node_ref)
        if not isinstance(node, dict):
            raise PdfError("bad page-tree node")
        t = node.get("Type")
        if t == "Pages" or (t is None and "Kids" in node):
            for kid in self.resolve(node.get("Kids", [])):
                self._walk_pages(kid, out, depth + 1)
        elif t == "Page":
            out.append(node)
        else:
            raise PdfError(f"unexpected page-tree node type {t!r}")

    def content_bytes(self, page: dict) -> bytes:
        contents = page.get("Contents")
        if contents is None:
            return b""
        contents = self.resolve(contents)
        parts = contents if isinstance(contents, list) else [contents]
        out = bytearray()
        for part in parts:
            st = self.resolve(part)
            if not isinstance(st, _Stream):
                raise PdfError("/Contents is not a stream")
            out += st.decoded()
            out += b"\n"
        return bytes(out)

    def font_cmaps(self, page: dict) -> dict[str, dict[int, str]]:
        """Per-font /ToUnicode CMaps from the page's /Resources /Font."""
        res = self.resolve(page.get("Resources", {})) or {}
        fonts = self.resolve(res.get("Font", {})) or {}
        out: dict[str, dict[int, str]] = {}
        for name, ref in fonts.items():
            fd = self.resolve(ref)
            if isinstance(fd, dict) and "ToUnicode" in fd:
                st = self.resolve(fd["ToUnicode"])
                if isinstance(st, _Stream):
                    cmap = parse_cmap(st.decoded())
                    if cmap:
                        out[name] = cmap
        return out

    def xobject_streams(self, page: dict) -> dict[str, bytes]:
        res = self.resolve(page.get("Resources", {})) or {}
        xob = self.resolve(res.get("XObject", {})) or {}
        out = {}
        for name, ref in xob.items():
            st = self.resolve(ref)
            if isinstance(st, _Stream):
                out[name] = st.raw  # raw (possibly compressed) bytes: identity input
        return out

    def page_images(self, page: dict) -> list[dict]:
        """Decodable embedded raster images of a page (reference analogue:
        ``pdf_to_images``, ``processors/ocr.py:27-57`` — the reference
        RENDERS pages via PyMuPDF; without a rasterizer this extracts the
        embedded image XObjects instead, which is what scanned-document
        pages are made of).

        Each dict: ``{name, width, height, format, payload, error}`` where
        ``format`` is

        - ``"jpeg"`` — ``/DCTDecode`` stream: the payload IS the JFIF file
          (decodable by ``jpegmini``),
        - ``"png"``  — Flate/uncompressed 8-bit DeviceGray/DeviceRGB
          samples re-wrapped losslessly via ``pngmini.encode_png``,
        - ``"raw"``  — anything else (CCITT/JBIG2/exotic colorspaces):
          undecoded stream bytes + a loud ``error`` reason.
        """
        res = self.resolve(page.get("Resources", {})) or {}
        xob = self.resolve(res.get("XObject", {})) or {}
        out = []
        for name, ref in xob.items():
            st = self.resolve(ref)
            if not isinstance(st, _Stream):
                continue
            d = {k: self.resolve(v) for k, v in st.dict.items()}
            if d.get("Subtype") not in (None, "Image"):
                continue
            w = int(d.get("Width", 0) or 0)
            h = int(d.get("Height", 0) or 0)
            bpc = int(d.get("BitsPerComponent", 8) or 8)
            cs = d.get("ColorSpace")
            filt = d.get("Filter")
            filters = filt if isinstance(filt, list) else \
                ([filt] if filt else [])
            rec = {"name": name, "width": w, "height": h,
                   "format": "raw", "payload": st.raw, "error": None}
            try:
                if filters and filters[-1] == "DCTDecode":
                    data = st.raw
                    if len(filters) > 1:  # e.g. Flate-then-DCT chains
                        data = _Stream(
                            {**st.dict, "Filter": filters[:-1]}, data
                        ).decoded()
                    rec.update(format="jpeg", payload=data)
                elif all(f == "FlateDecode" for f in filters):
                    samples = st.decoded()
                    channels = {"DeviceGray": 1, "DeviceRGB": 3}.get(cs)
                    if channels and bpc == 8 and \
                            len(samples) == w * h * channels:
                        from . import pngmini
                        rec.update(format="png",
                                   payload=pngmini.encode_png(
                                       samples, w, h, channels))
                    else:
                        rec["error"] = (f"unsupported sample layout "
                                        f"(cs={cs!r} bpc={bpc} "
                                        f"len={len(samples)})")
                else:
                    rec["error"] = f"unsupported image filter chain {filters!r}"
            except Exception as e:  # corrupt stream → raw + reason
                rec["error"] = str(e)
            out.append(rec)
        return out


class _Stream:
    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def decoded(self) -> bytes:
        filt = self.dict.get("Filter")
        if filt is None:
            return self.raw
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.dict.get("DecodeParms")
        parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
        data = self.raw
        for f, pm in zip(filters, parms_list):
            if f == "FlateDecode":
                try:
                    data = zlib.decompress(data)
                except zlib.error as e:
                    raise PdfError("bad FlateDecode stream") from e
                if isinstance(pm, dict) and int(pm.get("Predictor", 1)) >= 10:
                    data = _png_unpredict(
                        data,
                        int(pm.get("Columns", 1)) * int(pm.get("Colors", 1))
                        * int(pm.get("BitsPerComponent", 8)) // 8)
            else:
                raise PdfError(f"unsupported filter {f!r}")
        return data


def _png_unpredict(data: bytes, row_len: int) -> bytes:
    """Reverse PNG row predictors (None/Sub/Up/Average/Paeth) — xref
    streams are almost always Flate + Predictor 12 (Up)."""
    if row_len <= 0:
        raise PdfError("bad predictor columns")
    out = bytearray()
    prev = bytearray(row_len)
    stride = row_len + 1
    for r in range(0, len(data) - stride + 1, stride):
        ftype = data[r]
        row = bytearray(data[r + 1:r + stride])
        if ftype == 1:  # Sub
            for i in range(1, row_len):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_len):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_len):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise PdfError(f"unknown PNG predictor {ftype}")
        out += row
        prev = row
    return bytes(out)


# ===========================================================================
# Content-stream tokenizer → positioned runs
# ===========================================================================

def _decode_pdf_text(raw: bytes) -> str:
    # PDF text strings: UTF-16BE with BOM (the standard non-Latin encoding),
    # else PDFDocEncoding ≈ latin-1 for our purposes
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return raw.decode("latin-1")
    return raw.decode("latin-1")


def parse_cmap(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap (single-byte code space): bfchar pairs and
    bfrange runs, destinations decoded as UTF-16BE."""
    out: dict[int, str] = {}

    def hex2int(h: bytes) -> int:
        return int(h, 16)

    def hex2str(h: bytes) -> str:
        return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", "replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        for src, dst in re.findall(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                                   m.group(1)):
            out[hex2int(src)] = hex2str(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        body = m.group(1)
        for lo, hi, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                body):
            lo_i, start, width = hex2int(lo), hex2int(dst), len(dst)
            for code in range(lo_i, hex2int(hi) + 1):
                out[code] = bytes.fromhex(
                    format(start + code - lo_i, f"0{width}x")
                ).decode("utf-16-be", "replace")
    return out


def parse_content(content: bytes,
                  font_cmaps: dict[str, dict[int, str]] | None = None
                  ) -> tuple[list[Run], list[str]]:
    """Decode a content stream into positioned text runs + names drawn by Do.

    Postfix token stream: operands accumulate until an operator consumes
    them.  Text positioning follows the PDF model restricted to translation:
    ``Td``/``TD`` translate the line matrix, ``Tm`` sets it (e/f terms),
    ``T*`` advances by the leading, ``BT`` resets.  When the current font
    (tracked via ``Tf``) has a /ToUnicode CMap, shown bytes map through it.
    """
    operands: list = []
    runs: list[Run] = []
    do_names: list[str] = []
    lx = ly = 0.0          # line-matrix translation
    cx = cy = 0.0          # current text position
    leading = 0.0
    in_text = False
    cur_cmap: dict[int, str] | None = None

    def show(raw: bytes) -> None:
        nonlocal cx
        if cur_cmap is not None:
            txt = "".join(cur_cmap.get(b, chr(b)) for b in raw)
        else:
            txt = _decode_pdf_text(raw)
        if txt:
            runs.append(Run(cx, cy, txt))
        # crude advance so consecutive Tj on one line keep left-to-right x order
        cx += 0.5 * 12 * len(txt) / 10

    # single-pass scan: one regex match per token (the content stream is the
    # extraction hot loop); strings/hex/dicts/arrays delegate to the full
    # object parser at the matched position
    scan = _CS_TOK.match
    pos = 0
    n = len(content)
    while pos < n:
        m = scan(content, pos)
        if m is None or m.end() == pos:
            pos += 1  # stray delimiter (]/>>): skip, like the lexer would
            continue
        pos = m.end()
        tok = m.group("tok")
        if tok is None:  # ( < [ / — structured operand
            lex = _Lexer(content, m.start("delim"))
            operands.append(lex.parse_object())
            pos = lex.pos
            continue
        try:
            operands.append(int(tok))
            continue
        except ValueError:
            pass
        try:
            operands.append(float(tok))
            continue
        except ValueError:
            pass
        op = tok
        if op == b"BT":
            in_text = True
            lx = ly = cx = cy = 0.0
            leading = 0.0
        elif op == b"ET":
            in_text = False
        elif op == b"Tf" and len(operands) >= 2:
            fname = operands[-2]
            cur_cmap = (font_cmaps or {}).get(fname) \
                if isinstance(fname, str) else None
        elif op == b"Td" and len(operands) >= 2:
            lx += float(operands[-2]); ly += float(operands[-1])
            cx, cy = lx, ly
        elif op == b"TD" and len(operands) >= 2:
            leading = -float(operands[-1])
            lx += float(operands[-2]); ly += float(operands[-1])
            cx, cy = lx, ly
        elif op == b"Tm" and len(operands) >= 6:
            lx, ly = float(operands[-2]), float(operands[-1])
            cx, cy = lx, ly
        elif op == b"T*":
            ly -= leading if leading else 12.0
            cx, cy = lx, ly
        elif op == b"TL" and operands:
            leading = float(operands[-1])
        elif op == b"Tj" and operands and in_text:
            if isinstance(operands[-1], bytes):
                show(operands[-1])
        elif op == b"'" and operands and in_text:
            ly -= leading if leading else 12.0
            cx, cy = lx, ly
            if isinstance(operands[-1], bytes):
                show(operands[-1])
        elif op == b'"' and len(operands) >= 3 and in_text:
            ly -= leading if leading else 12.0
            cx, cy = lx, ly
            if isinstance(operands[-1], bytes):
                show(operands[-1])
        elif op == b"TJ" and operands and in_text:
            arr = operands[-1]
            if isinstance(arr, list):
                parts = [p for p in arr if isinstance(p, bytes)]
                show(b"".join(parts))
        elif op == b"Do" and operands and isinstance(operands[-1], str):
            do_names.append(operands[-1])
        # all other operators (q Q cm Tf re f gs w ...) consume silently
        operands = []
    return runs, do_names


def parse_pdf(data: bytes) -> list[Page]:
    """Full pipeline: bytes → ordered pages with positioned runs + drawn images."""
    doc = PdfDocument(data)
    pages: list[Page] = []
    for pg in doc.pages():
        content = doc.content_bytes(pg)
        runs, do_names = parse_content(content, doc.font_cmaps(pg))
        xobs = doc.xobject_streams(pg)
        imgs = [xobs[n] for n in do_names if n in xobs]
        pages.append(Page(runs=runs, image_bytes=imgs,
                          images=doc.page_images(pg)))
    return pages


# ===========================================================================
# Writer — synthesizes fixture PDFs (valid xref, page tree, Flate streams)
# ===========================================================================

def _escape_pdf_string(s: str) -> bytes:
    # non-latin1 text: emit as BOM-prefixed UTF-16BE (PDF 32000 §7.9.2.2)
    if any(ord(ch) > 255 for ch in s):
        payload = b"\xfe\xff" + s.encode("utf-16-be")
        out = bytearray()
        for b in payload:
            if b in (0x28, 0x29, 0x5C):  # ( ) \
                out += b"\\" + bytes([b])
            elif 32 <= b < 127:
                out.append(b)
            else:
                out += b"\\%03o" % b
        return bytes(out)
    out = bytearray()
    for ch in s:
        o = ord(ch)
        if ch in "()\\":
            out += b"\\" + ch.encode("latin-1")
        elif 32 <= o < 127:
            out.append(o)
        else:
            out += b"\\%03o" % o
    return bytes(out)


def write_pdf(pages: list[dict], compress: bool = True,
              xref_stream: bool = False) -> bytes:
    """Build a minimal valid PDF.

    ``pages`` is a list of dicts:
      ``{"runs": [(x, y, text), ...]}``            — a text page, or
      ``{"image": b"..."} ``                       — an image-only page
        (stub XObject stream drawn via ``Do``; exercises OCR fallback).
        Optional keys make it a REAL embedded image:
        ``"image_format": "jpeg"`` (payload is a JFIF file → /DCTDecode)
        or ``"image_format": "gray"``/``"rgb"`` (payload is raw 8-bit
        samples), with ``"width"``/``"height"``.

    ``xref_stream=True`` emits a PDF 1.5-style file: the font object is
    packed into a ``/Type /ObjStm`` object stream (type-2 xref entry) and
    the cross-reference table is a ``/Type /XRef`` stream with Flate +
    PNG-Up-predictor encoding — exercising the modern parser paths.
    """
    objects: list[bytes] = []   # 1-indexed bodies (without "N 0 obj" wrapper)

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    page_nums: list[int] = []
    pages_node_placeholder = add(b"")  # patched later
    for pg in pages:
        if "image" in pg:
            img = pg["image"]
            ifmt = pg.get("image_format")
            iw, ih = pg.get("width", 8), pg.get("height", 8)
            if ifmt == "jpeg":
                extra = b"/Filter /DCTDecode /ColorSpace /DeviceRGB "
            elif ifmt == "rgb":
                extra = b"/ColorSpace /DeviceRGB "
            else:  # "gray" or the legacy stub
                extra = b"/ColorSpace /DeviceGray "
            img_num = add(b"<< /Type /XObject /Subtype /Image /Width %d "
                          b"/Height %d %s/BitsPerComponent 8 /Length %d >>"
                          b"\nstream\n%s\nendstream"
                          % (iw, ih, extra, len(img), img))
            content = b"q 612 0 0 792 0 0 cm /Im1 Do Q"
            res = b"<< /XObject << /Im1 %d 0 R >> >>" % img_num
        elif "cmap" in pg:
            # custom-encoded font: /ToUnicode CMap + raw byte strings
            bfchars = b"\n".join(
                b"<%02x> <%s>" % (code, u.encode("utf-16-be").hex().encode())
                for code, u in sorted(pg["cmap"].items()))
            cmap_stream = (
                b"/CIDInit /ProcSet findresource begin\n"
                b"1 begincodespacerange <00> <ff> endcodespacerange\n"
                b"%d beginbfchar\n%s\nendbfchar\nend"
                % (len(pg["cmap"]), bfchars))
            cm_num = add(b"<< /Length %d >>\nstream\n%s\nendstream"
                         % (len(cmap_stream), cmap_stream))
            f2_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
                         b"/ToUnicode %d 0 R >>" % cm_num)
            parts = [b"BT /F2 12 Tf"]
            px = py = 0.0
            for (x, y, raw) in pg.get("cmap_runs", []):
                esc = b"".join(b"\\%03o" % b if b < 32 or b > 126
                               or b in (0x28, 0x29, 0x5C) else bytes([b])
                               for b in raw)
                parts.append(b"%.2f %.2f Td (%s) Tj" % (x - px, y - py, esc))
                px, py = x, y
            parts.append(b"ET")
            content = b" ".join(parts)
            res = b"<< /Font << /F2 %d 0 R >> >>" % f2_num
        else:
            parts = [b"BT /F1 12 Tf"]
            px = py = 0.0
            for (x, y, text) in pg.get("runs", []):
                parts.append(b"%.2f %.2f Td (%s) Tj"
                             % (x - px, y - py, _escape_pdf_string(text)))
                px, py = x, y
            parts.append(b"ET")
            content = b" ".join(parts)
            res = b"<< /Font << /F1 %d 0 R >> >>" % font_num
        if compress:
            cdata = zlib.compress(content)
            cs_num = add(b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                         % (len(cdata), cdata))
        else:
            cs_num = add(b"<< /Length %d >>\nstream\n%s\nendstream"
                         % (len(content), content))
        pnum = add(b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                   b"/Contents %d 0 R /Resources %s >>"
                   % (pages_node_placeholder, cs_num, res))
        page_nums.append(pnum)

    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    objects[pages_node_placeholder - 1] = (
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_nums)))
    catalog_num = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_node_placeholder)

    if not xref_stream:
        buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0]
        for i, body in enumerate(objects, start=1):
            offsets.append(len(buf))
            buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        xref_pos = len(buf)
        buf += b"xref\n0 %d\n" % (len(objects) + 1)
        buf += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            buf += b"%010d 00000 n \n" % off
        buf += (b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
                % (len(objects) + 1, catalog_num, xref_pos))
        return bytes(buf)

    # ---- PDF 1.5 layout: font → ObjStm; xref → /XRef stream --------------
    font_body = objects[font_num - 1]
    hdr = b"%d 0 " % font_num
    objstm_payload = hdr + font_body
    objstm_data = zlib.compress(objstm_payload)
    objstm_num = add(b"")   # body patched below
    objects[objstm_num - 1] = (
        b"<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>"
        b"\nstream\n%s\nendstream" % (len(hdr), len(objstm_data), objstm_data))
    xref_num = len(objects) + 1

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for i, body in enumerate(objects, start=1):
        if i == font_num:
            continue  # lives in the object stream
        offsets[i] = len(buf)
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(buf)

    # entries for 0..xref_num, W = [1 4 2], PNG Up predictor
    size = xref_num + 1
    row_len = 7
    rows = bytearray()
    for objnum in range(size):
        if objnum == 0:
            t, f2, f3 = 0, 0, 65535
        elif objnum == font_num:
            t, f2, f3 = 2, objstm_num, 0
        elif objnum == xref_num:
            t, f2, f3 = 1, xref_pos, 0
        else:
            t, f2, f3 = 1, offsets[objnum], 0
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    # apply PNG Up filter per row
    filtered = bytearray()
    prev = bytes(row_len)
    for r in range(0, len(rows), row_len):
        row = rows[r:r + row_len]
        filtered += b"\x02" + bytes((row[i] - prev[i]) & 0xFF
                                    for i in range(row_len))
        prev = row
    xdata = zlib.compress(bytes(filtered))
    buf += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
            b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns %d >> "
            b"/Length %d >>\nstream\n%s\nendstream\nendobj\n"
            % (xref_num, size, catalog_num, row_len, len(xdata), xdata))
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(buf)
