"""PDF text extraction (ISO 32000, public spec) — stdlib + regex only.

The north-rule pipeline family is "HTML boilerplate strip, PDF/layout
parse, DOM heuristics"; this is the PDF tier. Like the JPEG decoder
(operators/jpeg.py) it is the dependency-free correctness tier: a
production deployment would ride pdfium/poppler through the identical
Spark plumbing (the dispatch in extraction/core.py is the only seam).

Scope:

- **object model**: full COS syntax — dictionaries, arrays, names (with
  ``#xx`` escapes), literal strings (nested parens, backslash escapes,
  octal), hex strings, numbers, booleans, null, indirect references,
  streams.
- **file walk**: the robust-scan strategy real-world extractors use —
  every ``N G obj`` in the file is parsed directly and the cross-
  reference table is IGNORED (broken/absent xrefs are endemic in crawl
  PDFs; the scan also covers incremental updates by letting later
  definitions of an object number win). Compressed object streams
  (``/Type /ObjStm``) are unpacked the same way; their entries only fill
  object numbers not seen as direct objects.
- **filters**: FlateDecode (with PNG predictors 10-15 — ``/Columns``,
  8-bit, 1 color), LZWDecode (the TIFF early-change variant, 9->12-bit
  codes), ASCIIHexDecode, ASCII85Decode, chained filter arrays. The
  image-only filters (DCT/JBIG2/JPX/CCITT/RunLength) are not decoded —
  their streams never carry content text.
- **pages**: catalog -> ``/Pages`` tree walk for true page order, falling
  back to document order of ``/Type /Page`` objects.
- **text**: a content-stream interpreter for the text operators: BT/ET,
  Tf (font switch), Td/TD/T*/Tm (line breaks), Tj/'/"/TJ (shows; TJ
  kerning gaps below ``TJ_SPACE_GAP`` insert a space). Inline images
  (BI..ID..EI) are skipped byte-exactly.
- **encodings**: per-font ``/ToUnicode`` CMaps (codespacerange for the
  code width, bfchar + bfrange incl. array destinations); simple-font
  ``/Encoding /Differences`` glyph-name remaps (AGL punctuation/digit
  table, ``uniXXXX``/``uXXXXXX`` names, systematic accented-Latin names
  via unicodedata) over a Latin-1 base; bare simple fonts decode as
  Latin-1 (exact for the Standard-14 ASCII range); composite fonts
  without a CMap yield nothing rather than mojibake.

Never raises from :func:`extract_pdf_lines` — hostile input returns None
(the caller's stub/failure tier), same contract as extraction/core.
"""

from __future__ import annotations

import re
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

# TJ displacement (thousandths of text-space units) below which a gap is
# rendered as a word space; -180 is the conventional extractor threshold
TJ_SPACE_GAP = -180

# per-call decompression expansion cap, shared with sources/warc.py's
# gzip members: a small crafted Flate/LZW stream or member can inflate
# to GBs; past this it is treated as corrupt
_INFLATE_CAP = 256 << 20


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num

    def __repr__(self) -> str:  # pragma: no cover - debug only
        return f"_Ref({self.num})"


class _Stream:
    __slots__ = ("d", "raw", "num", "gen")

    def __init__(self, d: dict, raw: bytes, num: int = 0, gen: int = 0) -> None:
        self.d = d
        self.raw = raw
        self.num = num  # owning object ids — the per-object decryption key
        self.gen = gen  # (ISO 32000 §7.6.2 Algorithm 1) needs them


class _Name(str):
    """A /Name — distinct from a text string for dict keys/operands."""


class _Str(bytes):
    """A PDF string value — distinct from operator keywords, which the
    lexer returns as plain ``bytes``."""


class _Lexer:
    """COS tokenizer over a bytes buffer."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        p = self.pos
        while p < n:
            c = d[p]
            if c in _WS:
                p += 1
            elif c == 0x25:  # % comment to EOL
                while p < n and d[p] not in (0x0A, 0x0D):
                    p += 1
            else:
                break
        self.pos = p

    def peek_bytes(self, k: int) -> bytes:
        self._skip_ws()
        return self.data[self.pos : self.pos + k]

    def _regular_run(self) -> bytes:
        d, n = self.data, len(self.data)
        p0 = p = self.pos
        while p < n and d[p] not in _WS and d[p] not in _DELIM:
            p += 1
        self.pos = p
        return d[p0:p]

    def next_token(self):
        """One token: value object, _Name, operator bytes, or None at EOF.
        Numbers look ahead for `gen R` to form _Ref."""
        self._skip_ws()
        d, n = self.data, len(self.data)
        p = self.pos
        if p >= n:
            return None
        c = d[p]
        if c == 0x2F:  # /Name
            self.pos = p + 1
            raw = self._regular_run()
            if b"#" in raw:
                raw = re.sub(rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw)
            return _Name(raw.decode("latin-1"))
        if c == 0x28:  # ( literal string
            return self._lit_string()
        if c == 0x3C:  # < hex string or << dict
            if d[p : p + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == 0x5B:  # [ array
            self.pos = p + 1
            arr = []
            while True:
                self._skip_ws()
                if self.pos < n and d[self.pos] == 0x5D:
                    self.pos += 1
                    return arr
                tok = self.next_token()
                if tok is None:
                    return arr
                arr.append(tok)
        if c == 0x5D:  # stray ] (array close handled above)
            self.pos = p + 1
            return self.next_token()
        if c in b"+-.0123456789":
            raw = self._regular_run()
            try:
                num = int(raw)
            except ValueError:
                try:
                    num = float(raw)
                except ValueError:
                    return b"?"
                return num
            # lookahead: `num gen R` -> reference
            save = self.pos
            self._skip_ws()
            m = re.match(rb"(\d+)\s+R(?![A-Za-z0-9])", self.data[self.pos : self.pos + 32])
            if m and isinstance(num, int):
                self.pos += m.end()
                return _Ref(num)
            self.pos = save
            return num
        # keyword / operator
        raw = self._regular_run()
        if not raw:  # lone delimiter (e.g. { } in type-4 functions)
            self.pos += 1
            return self.next_token()
        if raw == b"true":
            return True
        if raw == b"false":
            return False
        if raw == b"null":
            # a _Name token, not Python None — None is the EOF sentinel
            return _Name("null")
        return raw  # operator / obj / endobj / stream keywords

    def _lit_string(self) -> bytes:
        d, n = self.data, len(self.data)
        p = self.pos + 1
        out = bytearray()
        depth = 1
        while p < n:
            c = d[p]
            if c == 0x5C:  # backslash
                p += 1
                if p >= n:
                    break
                e = d[p]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    p += 1
                elif e in b"()\\":
                    out.append(e)
                    p += 1
                elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                    oct_digits = bytearray([e])
                    p += 1
                    while p < n and len(oct_digits) < 3 and 0x30 <= d[p] <= 0x37:
                        oct_digits.append(d[p])
                        p += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    p += 1
                    if e == 0x0D and p < n and d[p] == 0x0A:
                        p += 1
                else:
                    out.append(e)
                    p += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                p += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    p += 1
                    break
                out.append(c)
                p += 1
            else:
                out.append(c)
                p += 1
        self.pos = p
        return _Str(out)

    def _hex_string(self) -> bytes:
        end = self.data.find(b">", self.pos + 1)
        if end == -1:
            end = len(self.data)
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos + 1 : end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        return _Str(bytes.fromhex(hx.decode("ascii")))

    def _dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        d, n = self.data, len(self.data)
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            if self.pos >= n:
                return out
            key = self.next_token()
            if not isinstance(key, _Name):
                if key is None:
                    return out
                continue  # malformed: resync on next name
            val = self.next_token()
            out[str(key)] = val


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """PNG predictors over 8-bit single-component rows (the form xref/
    flate DecodeParms use). Row tags 0-4 like PNG scanlines."""
    row_len = columns
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data):
        tag = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        pos += 1 + row_len
        if tag == 1:
            for i in range(1, row_len):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif tag == 2:
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:
            for i in range(row_len):
                a = row[i - 1] if i else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif tag == 4:
            for i in range(row_len):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _ascii85(data: bytes) -> bytes:
    import base64

    data = data.split(b"~>")[0]
    data = re.sub(rb"\s", b"", data)
    return base64.a85decode(data)


def _lzw_decode(data: bytes, limit: int | None = None) -> bytes:
    """PDF LZWDecode (ISO 32000 §7.4.4 — the TIFF variant): variable-width
    codes 9->12 bits MSB-first, clear code 256, EOD 257, code width grows
    ONE CODE EARLY (the "early change" the spec mandates, EarlyChange=1).

    ``limit``: optional output cap BELOW the blanket _INFLATE_CAP — a
    caller that knows the exact plaintext size (a TIFF strip) passes it
    so a crafted high-ratio stream stops the moment it has produced all
    the caller can use, not at 256 MB."""
    CLEAR, EOD = 256, 257
    cap = _INFLATE_CAP if limit is None else min(limit, _INFLATE_CAP)
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                return bytes(out)  # corrupt: emit what we have
            out += entry
            if len(out) >= cap:  # expansion bomb / caller's known size: stop
                return bytes(out[:cap])
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # early change: the encoder bumps width when ITS next_code hits
            # 2^w - 1; the decoder's table is one entry behind (classic LZW
            # lag), so the matching condition here is len + 2
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _decode_stream(s: _Stream, resolve) -> bytes | None:
    filters = resolve(s.d.get("Filter"))
    parms = resolve(s.d.get("DecodeParms"))
    if filters is None:
        return s.raw
    if not isinstance(filters, list):
        filters = [filters]
        parms = [parms]
    elif not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = s.raw
    for f, pm in zip(filters, parms):
        f = str(f)
        if f == "FlateDecode":
            try:
                d = zlib.decompressobj()
                data = d.decompress(data, _INFLATE_CAP)
                if d.unconsumed_tail:
                    return None  # decompression bomb: drop the stream
            except zlib.error:
                return None
        elif f == "ASCIIHexDecode":
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        elif f == "ASCII85Decode":
            try:
                data = _ascii85(data)
            except Exception:
                return None
        elif f == "LZWDecode":
            data = _lzw_decode(data)
        else:
            return None  # image-only filters: not text-bearing
        pm = resolve(pm)
        if isinstance(pm, dict):
            pred = resolve(pm.get("Predictor", 1))
            if isinstance(pred, int) and pred >= 10:
                cols = resolve(pm.get("Columns", 1)) or 1
                data = _png_unpredict(data, int(cols))
    return data


class _Pdf:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.objects: dict[int, object] = {}
        # file offset of each object's (latest) definition — _find_encrypt
        # merges XRef-stream dicts with classic trailers in file order
        self._obj_pos: dict[int, int] = {}
        # non-overlapping (start, end) extents of accepted object
        # definitions (dict + stream body), in file order — _find_encrypt
        # ignores 'trailer' keyword matches inside them (stream bodies
        # legally contain those bytes)
        self._obj_extents: list[tuple[int, int]] = []
        self.undecryptable = False
        self._scan_objects()
        # decryption runs BETWEEN the raw scan and ObjStm unpacking: the
        # compressed-object streams must be plaintext before parsing
        self._setup_decryption()
        self._unpack_objstms()

    # -- object table -------------------------------------------------------
    def _scan_objects(self) -> None:
        # `N G obj` matches INSIDE already-consumed extents (a stream body
        # or string that happens to contain those bytes) must not clobber
        # the real object of that number — track how far the last
        # successful parse consumed and skip matches inside it
        consumed_until = 0
        for m in _OBJ_RE.finditer(self.data):
            if m.start() < consumed_until:
                continue
            num = int(m.group(1))
            gen = int(m.group(2))
            lex = _Lexer(self.data, m.end())
            try:
                val = lex.next_token()
            except Exception:
                continue
            # stream?
            lex._skip_ws()
            end_pos = lex.pos
            if isinstance(val, dict) and self.data.startswith(b"stream", lex.pos):
                p = lex.pos + 6
                if self.data[p : p + 2] == b"\r\n":
                    p += 2
                elif self.data[p : p + 1] in (b"\n", b"\r"):
                    p += 1
                ln = val.get("Length")
                raw = None
                if isinstance(ln, int):
                    cand_end = self.data.find(b"endstream", p + ln)
                    # trust Length only if endstream actually follows it
                    if cand_end != -1 and cand_end - (p + ln) <= 4:
                        raw = self.data[p : p + ln]
                        end_pos = cand_end + len(b"endstream")
                if raw is None:
                    end = self.data.find(b"endstream", p)
                    if end == -1:
                        continue
                    raw = self.data[p:end].rstrip(b"\r\n")
                    end_pos = end + len(b"endstream")
                val = _Stream(val, raw, num, gen)
            consumed_until = max(consumed_until, end_pos)
            # later definitions win (incremental-update semantics)
            self.objects[num] = val
            self._obj_pos[num] = m.start()
            self._obj_extents.append((m.start(), end_pos))

    def _find_encrypt(self):
        """(Encrypt value, first-ID bytes) from trailer dicts and
        xref-stream dicts — only PARSED dicts, never a whole-file regex,
        which would misfire on unencrypted documents whose stream/string
        content merely contains the bytes '/Encrypt N G R'.

        LATER entries win, mirroring the later-definitions-win rule of
        _scan_objects: an incrementally updated document that changed its
        encryption parameters appends a new trailer (or XRef stream),
        and keying off the stale first one fails the /U check and marks
        a readable document undecryptable. Classic trailers AND
        xref-stream dicts are merged into ONE file-position-ordered pass
        (a second review cycle caught the two-pass form letting a stale
        XRef dict from an old revision override a newer classic
        trailer). ID[0] is the permanent file identifier (only ID[1]
        changes across updates); later-wins there too, but only a
        NON-EMPTY value may overwrite — a malformed appended trailer
        with '/ID [<> ...]' must not clobber the real key salt."""
        import bisect

        # 'trailer' bytes INSIDE an object extent (stream/string bodies
        # legally contain them) must not become candidates — under pure
        # position ordering a junk match after the last real dict would
        # win (second-review finding; the extents come from
        # _scan_objects' consumed tracking and are sorted, non-overlapping)
        ext_starts = [s for s, _ in self._obj_extents]

        def _inside_object(pos: int) -> bool:
            i = bisect.bisect_right(ext_starts, pos) - 1
            return i >= 0 and pos < self._obj_extents[i][1]

        candidates: list[tuple[int, dict]] = []
        for m in re.finditer(rb"\btrailer\b", self.data):
            if _inside_object(m.start()):
                continue
            try:
                d = _Lexer(self.data, m.end()).next_token()
            except Exception:
                continue
            if isinstance(d, dict):
                candidates.append((m.start(), d))
        for num, o in self.objects.items():
            d = o.d if isinstance(o, _Stream) else o
            if isinstance(d, dict) and str(self.resolve(d.get("Type"))) == "XRef":
                # position recorded by _scan_objects (post consumed-extent
                # guard, so stream bodies containing 'N G obj' bytes
                # cannot inject a fake XRef dict here). Unreachable today
                # (this runs before ObjStm unpacking, so every object has
                # a recorded pos), but if an unknown-position dict ever
                # appears, SKIP it: a 0 default would sort it before every
                # classic trailer and invert later-wins
                pos = self._obj_pos.get(num)
                if pos is None:
                    continue
                candidates.append((pos, d))
        candidates.sort(key=lambda t: t[0])
        enc = None
        id0 = b""
        for _, d in candidates:
            if "Encrypt" in d:
                enc = d["Encrypt"]
            arr = self.resolve(d.get("ID"))
            if (
                isinstance(arr, list)
                and arr
                and isinstance(arr[0], (bytes, bytearray))
                and arr[0]
            ):
                id0 = bytes(arr[0])
        return enc, id0

    def _setup_decryption(self) -> None:
        """Standard-security-handler decryption (ISO 32000 §7.6) for the
        empty user password: decrypt every stream body in place so the
        rest of the extractor is encryption-blind. Real passwords /
        unsupported handlers set ``undecryptable`` and the document
        degrades to the failure tier exactly as the old blanket bailout
        did. The XRef stream is never encrypted (§7.5.8.2); objects
        inside ObjStms are not individually encrypted — their container
        stream is, and it is decrypted here before unpacking."""
        enc, id0 = self._find_encrypt()
        if enc is None:
            return
        from manga_ocr_spark.extraction import pdfcrypt

        encd = self.resolve(enc)
        if not isinstance(encd, dict):
            self.undecryptable = True
            return
        dec = pdfcrypt.build(encd, id0, self.resolve)
        if dec is None:
            self.undecryptable = True
            return
        for num, o in self.objects.items():
            if not isinstance(o, _Stream):
                continue
            if str(self.resolve(o.d.get("Type"))) == "XRef":
                continue
            plain = dec.decrypt(o.num, o.gen, o.raw)
            o.raw = plain if plain is not None else b""

    def _unpack_objstms(self) -> None:
        for num in list(self.objects):
            o = self.objects[num]
            if isinstance(o, _Stream) and str(self.resolve(o.d.get("Type"))) == "ObjStm":
                data = _decode_stream(o, self.resolve)
                if data is None:
                    continue
                n = self.resolve(o.d.get("N"))
                first = self.resolve(o.d.get("First"))
                if not isinstance(n, int) or not isinstance(first, int):
                    continue
                head = _Lexer(data)
                pairs = []
                try:
                    for _ in range(n):
                        onum = head.next_token()
                        off = head.next_token()
                        if not isinstance(onum, int) or not isinstance(off, int):
                            raise ValueError
                        pairs.append((onum, off))
                except Exception:
                    continue
                for onum, off in pairs:
                    if onum in self.objects:
                        continue  # direct objects outrank ObjStm entries
                    try:
                        self.objects[onum] = _Lexer(data, first + off).next_token()
                    except Exception:
                        continue

    def resolve(self, v, depth: int = 0):
        while isinstance(v, _Ref) and depth < 32:
            v = self.objects.get(v.num)
            depth += 1
        return v

    # -- pages --------------------------------------------------------------
    def page_objects(self) -> list[dict]:
        catalog = None
        for o in self.objects.values():
            o = o.d if isinstance(o, _Stream) else o
            if isinstance(o, dict) and str(self.resolve(o.get("Type"))) == "Catalog":
                catalog = o
        pages: list[dict] = []
        if catalog is not None:
            seen: set[int] = set()

            def walk(node_ref, inherited_res) -> None:
                node = self.resolve(node_ref)
                if isinstance(node_ref, _Ref):
                    if node_ref.num in seen:
                        return
                    seen.add(node_ref.num)
                if not isinstance(node, dict):
                    return
                # /Resources is INHERITABLE (ISO 32000 §7.7.3.4): a page
                # without its own entry uses the closest ancestor's —
                # common in real PDFs that hoist fonts onto the root
                # /Pages node
                res = node.get("Resources", inherited_res)
                t = str(self.resolve(node.get("Type")))
                if t == "Page":
                    if "Resources" not in node and res is not None:
                        node = dict(node)
                        node["Resources"] = res
                    pages.append(node)
                else:
                    kids = self.resolve(node.get("Kids"))
                    if isinstance(kids, list):
                        for k in kids:
                            walk(k, res)

            walk(catalog.get("Pages"), None)
        if not pages:  # fallback: document order
            for o in self.objects.values():
                if isinstance(o, dict) and str(self.resolve(o.get("Type"))) == "Page":
                    pages.append(o)
        return pages

    # -- fonts --------------------------------------------------------------
    def _font_decoder(self, font_dict):
        """bytes -> str for one font: ToUnicode CMap if present, else an
        /Encoding /Differences glyph-name remap over the Latin-1 base for
        simple fonts, else plain Latin-1; None-emitting for bare
        composite fonts (no mojibake)."""
        font = self.resolve(font_dict)
        if not isinstance(font, dict):
            return lambda bs: bs.decode("latin-1")
        tu = self.resolve(font.get("ToUnicode"))
        if isinstance(tu, _Stream):
            cmap_data = _decode_stream(tu, self.resolve)
            if cmap_data is not None:
                table, width = _parse_tounicode(cmap_data)
                if table is not None:

                    def via_cmap(bs: bytes, _t=table, _w=width) -> str:
                        out = []
                        for i in range(0, len(bs) - _w + 1, _w):
                            code = int.from_bytes(bs[i : i + _w], "big")
                            ch = _t.get(code)
                            if ch is not None:
                                out.append(ch)
                        return "".join(out)

                    return via_cmap
        if str(self.resolve(font.get("Subtype"))) == "Type0":
            return lambda bs: ""  # composite without CMap: no mojibake
        enc = self.resolve(font.get("Encoding"))
        if isinstance(enc, dict):
            diffs = self.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                remap: dict[int, str] = {}
                code = 0
                for item in diffs:
                    item = self.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, _Name):
                        ch = _glyph_to_unicode(str(item))
                        if ch is not None:
                            remap[code] = ch
                        code += 1
                if remap:

                    def via_diffs(bs: bytes, _r=remap) -> str:
                        return "".join(
                            _r.get(b, bytes([b]).decode("latin-1")) for b in bs
                        )

                    return via_diffs
        return lambda bs: bs.decode("latin-1")

    def _res_fonts(self, res) -> dict[str, object]:
        res = self.resolve(res)
        fonts = {}
        if isinstance(res, dict):
            fdict = self.resolve(res.get("Font"))
            if isinstance(fdict, dict):
                for name, fref in fdict.items():
                    fonts[name] = self._font_decoder(fref)
        return fonts

    def _res_xobjects(self, res) -> dict[str, object]:
        res = self.resolve(res)
        xos = {}
        if isinstance(res, dict):
            xdict = self.resolve(res.get("XObject"))
            if isinstance(xdict, dict):
                for name, xref in xdict.items():
                    xo = self.resolve(xref)
                    if isinstance(xo, _Stream) and str(
                        self.resolve(xo.d.get("Subtype"))
                    ) == "Form":
                        xos[name] = xo
        return xos

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        parts: list[bytes] = []
        items = contents if isinstance(contents, list) else [contents]
        for it in items:
            it = self.resolve(it)
            if isinstance(it, _Stream):
                data = _decode_stream(it, self.resolve)
                if data:
                    parts.append(data)
        return b"\n".join(parts)


# Adobe-Glyph-List names for ASCII punctuation/digits (the names every
# /Differences array uses); letters map by their literal one-char names.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "ellipsis": "…",
    "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "Euro": "€", "sterling": "£", "yen": "¥",
    "cent": "¢", "copyright": "©", "registered": "®",
    "trademark": "™", "degree": "°", "plusminus": "±",
    "section": "§", "paragraph": "¶", "middot": "·",
    "periodcentered": "·", "germandbls": "ß",
    "exclamdown": "¡", "questiondown": "¿", "ae": "æ",
    "AE": "Æ", "oslash": "ø", "Oslash": "Ø",
    "oe": "œ", "OE": "Œ", "eth": "ð", "Eth": "Ð",
    "thorn": "þ", "Thorn": "Þ", "dotlessi": "ı",
    "fi": "ﬁ", "fl": "ﬂ", "florin": "ƒ",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "perthousand": "‰", "minus": "−", "fraction": "⁄",
    "nbspace": " ", "multiply": "×", "divide": "÷",
}
# accent-suffix -> Unicode name fragment for composed Latin glyph names
# like "eacute" / "Ntilde" (AGL's systematic family)
_ACCENT_SUFFIX = {
    "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
    "dieresis": "DIAERESIS", "tilde": "TILDE", "ring": "RING ABOVE",
    "cedilla": "CEDILLA", "caron": "CARON", "breve": "BREVE",
    "macron": "MACRON", "ogonek": "OGONEK", "hungarumlaut": "DOUBLE ACUTE",
    "dotaccent": "DOT ABOVE", "slash": "STROKE",
}


def _glyph_to_unicode(name: str) -> str | None:
    """Adobe glyph name -> character: literal one-char names, the common
    AGL table above, uniXXXX / uXXXX[XX], and systematic accented-Latin
    names (base letter + accent suffix) via unicodedata lookup."""
    if len(name) == 1:
        return name
    hit = _GLYPH_NAMES.get(name)
    if hit is not None:
        return hit
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name) or re.fullmatch(
        r"u([0-9A-Fa-f]{4,6})", name
    )
    if m:
        cp = int(m.group(1), 16)
        if cp >= 0x110000 or 0xD800 <= cp <= 0xDFFF:  # incl. lone surrogates
            return None
        return chr(cp)
    m = re.fullmatch(r"([A-Za-z])([a-z]+)", name)
    if m and m.group(2) in _ACCENT_SUFFIX:
        import unicodedata

        base = m.group(1)
        case = "CAPITAL" if base.isupper() else "SMALL"
        try:
            return unicodedata.lookup(
                f"LATIN {case} LETTER {base.upper()} WITH {_ACCENT_SUFFIX[m.group(2)]}"
            )
        except KeyError:
            return None
    return None


def _parse_tounicode(data: bytes):
    """(code -> str) table + code byte-width from a ToUnicode CMap."""
    try:
        text = data.decode("latin-1")
    except Exception:
        return None, 1
    width = 1
    m = re.search(r"begincodespacerange\s*<([0-9A-Fa-f]+)>", text)
    if m:
        width = max(1, len(m.group(1)) // 2)
    table: dict[int, str] = {}

    def u(hexs: str) -> str:
        b = bytes.fromhex(hexs)
        if len(b) % 2:
            b = b"\x00" + b
        return b.decode("utf-16-be", "ignore")

    for block in re.findall(r"beginbfchar(.*?)endbfchar", text, re.S):
        for src, dst in re.findall(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", block):
            table[int(src, 16)] = u(dst)
    # bfrange entries are parsed ONE AT A TIME with a single alternation
    # — two independent global regexes would let the scalar-destination
    # pattern also match three consecutive <hex> items INSIDE an array
    # destination, emitting bogus mappings that clobber correct ones
    entry_re = re.compile(
        r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
        re.S,
    )
    for block in re.findall(r"beginbfrange(.*?)endbfrange", text, re.S):
        for m in entry_re.finditer(block):
            lo_i, hi_i = int(m.group(1), 16), int(m.group(2), 16)
            if m.group(3) is not None:  # scalar destination: consecutive
                base = int(m.group(3), 16)
                for off in range(hi_i - lo_i + 1):
                    cp = base + off
                    # exclude lone surrogates: they would crash Arrow
                    # serialization of the extracted text downstream
                    if cp < 0x110000 and not (0xD800 <= cp <= 0xDFFF):
                        table[lo_i + off] = chr(cp)
                    else:
                        table[lo_i + off] = ""
            else:  # array destination: one string per code
                for off, dst in enumerate(re.findall(r"<([0-9A-Fa-f]+)>", m.group(4))):
                    table[lo_i + off] = u(dst)
    return table, width


def _page_lines(
    content: bytes, fonts: dict, xobjects: dict | None = None, pdf: "_Pdf | None" = None,
    depth: int = 0,
) -> list[str]:
    """Interpret a content stream's text operators into lines. ``Do`` of a
    Form XObject recurses into the form's own content/resources (its
    Resources override the caller's; depth-capped against cycles)."""
    lex = _Lexer(content)
    stack: list = []
    lines: list[str] = []
    cur: list[str] = []
    # before any Tf (or for fonts missing from Resources) decode as
    # Latin-1 — the simple-font behavior; real composite fonts always
    # carry a Tf that installs their CMap decoder
    default_decoder = (lambda bs: bs.decode("latin-1"))
    decoder = default_decoder
    in_text = False

    def newline() -> None:
        nonlocal cur
        s = "".join(cur)
        if s.strip():
            lines.append(s)
        cur = []

    def show(bs) -> None:
        if isinstance(bs, _Str) and decoder is not None:
            cur.append(decoder(bytes(bs)))

    while True:
        tok = lex.next_token()
        if tok is None:
            break
        if type(tok) is not bytes:  # _Str/values are operands, not ops
            stack.append(tok)
            continue
        op = tok
        if op == b"BI":  # inline image: skip to EI
            m = re.compile(rb"\sEI(?=[\s\x00]|$)").search(lex.data, lex.pos)
            lex.pos = m.end() if m else len(lex.data)
        elif op == b"Do":
            if (
                pdf is not None
                and xobjects
                and depth < 8
                and stack
                and isinstance(stack[-1], _Name)
            ):
                xo = xobjects.get(str(stack[-1]))
                if xo is not None:
                    sub = _decode_stream(xo, pdf.resolve)
                    if sub:
                        res = xo.d.get("Resources")
                        sub_fonts = pdf._res_fonts(res) or fonts
                        sub_xos = pdf._res_xobjects(res) or xobjects
                        newline()
                        lines.extend(
                            _page_lines(sub, sub_fonts, sub_xos, pdf, depth + 1)
                        )
        elif op == b"BT":
            in_text = True
        elif op == b"ET":
            newline()
            in_text = False
        elif op == b"Tf":
            if len(stack) >= 2 and isinstance(stack[-2], _Name):
                decoder = fonts.get(str(stack[-2]), default_decoder)
        elif op in (b"Td", b"TD", b"T*", b"Tm"):
            if in_text:
                newline()
        elif op == b"Tj":
            if stack:
                show(stack[-1])
        elif op in (b"'", b'"'):
            newline()
            if stack:
                show(stack[-1])
        elif op == b"TJ":
            if stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, _Str):
                        show(el)
                    elif isinstance(el, (int, float)) and el < TJ_SPACE_GAP:
                        cur.append(" ")
        stack.clear()  # every operator consumes its operands
    newline()
    return lines


_PDF_STRUCTURE = re.compile(rb"\d+\s+\d+\s+obj\b|\bxref\b|\btrailer\b|\bstartxref\b")


def sniff_pdf(payload: bytes) -> int:
    """Offset of the %PDF- header, or -1. ISO 32000 implementation notes
    allow junk before the header within the first 1024 bytes (CGI
    preambles, BOMs — common in crawled PDFs); an HTML-looking preamble
    disqualifies (an HTML page merely MENTIONING %PDF- is not a PDF).

    A header at a nonzero offset additionally requires PDF *structure*
    after it (an ``N G obj`` / xref / trailer token in the buffer): a
    plain-text crawl payload that merely mentions %PDF- early (a WET
    record, a text file about PDF internals) must NOT be routed into the
    PDF tier, where it would extract to nothing instead of its text."""
    head = bytes(payload[:1024])
    idx = head.find(b"%PDF-")
    if idx < 0:
        return -1
    # ANY '<' in the preamble means markup (xhtml prolog, <head>, a
    # fragment mentioning %PDF-): route to the HTML path. Legitimate
    # pre-header junk (CGI preambles, BOMs, HTTP noise) contains none.
    if b"<" in head[:idx]:
        return -1
    # structure window starts AT the header, not inside the preamble-capped
    # head — a real PDF behind a ~1 KB preamble must still qualify
    if idx > 0 and not _PDF_STRUCTURE.search(bytes(payload[idx : idx + 1024])):
        return -1
    return idx


def extract_pdf_lines(data: bytes) -> list[str] | None:
    """Text lines of a PDF in page/content order; None when nothing is
    extractable (not a PDF, encrypted, fully undecodable). Never raises."""
    try:
        idx = sniff_pdf(data)
        if idx < 0:
            return None
        data = data[idx:]
        pdf = _Pdf(data)
        # encryption is handled inside _Pdf (standard handler, empty user
        # password — streams decrypted in place); only documents needing
        # a REAL password or an unsupported handler bail to the failure
        # tier rather than emit ciphertext garbage
        if pdf.undecryptable:
            return None
        lines: list[str] = []
        for page in pdf.page_objects():
            res = page.get("Resources")
            content = pdf.page_content(page)
            if content:
                lines.extend(
                    _page_lines(
                        content, pdf._res_fonts(res), pdf._res_xobjects(res), pdf
                    )
                )
        return lines if lines else None
    except Exception:
        return None
