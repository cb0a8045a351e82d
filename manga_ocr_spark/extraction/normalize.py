"""Byte-stable text normalization.

Plays the role of the reference's deterministic ``post_process``
(/root/reference/manga_ocr/ocr.py:136-156): every string leaving the engine
passes through exactly these rules, in exactly this order, so that golden
files are byte-reproducible across runs and environments. Only stdlib
(``unicodedata``, ``re``) is used — no third-party text libraries, so there
is no dependency-version drift to pin.

Rules (applied per text block, in order):

1. Unicode NFC composition.
2. Full-width ASCII fold: U+FF01..U+FF5E -> U+0021..U+007E and the
   ideographic space U+3000 -> U+0020. This is the engine's analogue of the
   reference's ``jaconv.h2z`` width canonicalization (ocr.py:155) — we fold
   *toward* ASCII because web text is Latin-dominant, and we implement it as
   an explicit table so behavior cannot drift with a library upgrade.
3. Whitespace collapse: ``" ".join(s.split())`` — any run of Unicode
   whitespace becomes one space, leading/trailing stripped. (Same operator
   family as ocr.py:152's ``"".join(text.split())``; we keep single spaces
   because web text is word-delimited.)
4. Ellipsis canonicalization: U+2026 HORIZONTAL ELLIPSIS becomes "...",
   then runs of 2+ of [. or katakana middle dot] become "..." (same two
   rules as ocr.py:153-154 but expand-then-collapse order, which makes the
   whole normalizer idempotent — ".…" -> "...." -> "..." in ONE pass, so
   re-normalizing any output is a no-op; idempotence is part of the
   byte-stability contract and is pinned by tests).

Blocks are joined with a single "\n" (decided semantics, SURVEY.md §7.4).
"""

from __future__ import annotations

import re
import unicodedata

# U+FF01..U+FF5E are the full-width forms of U+0021..U+007E (offset 0xFEE0).
_WIDTH_FOLD = {cp: cp - 0xFEE0 for cp in range(0xFF01, 0xFF5F)}
_WIDTH_FOLD[0x3000] = 0x20  # IDEOGRAPHIC SPACE -> SPACE

# 2+ run of ASCII period / KATAKANA MIDDLE DOT (U+30FB), cf. ocr.py:153.
_DOT_RUN = re.compile("[・.]{2,}")

# guard for fold_width: exactly the _WIDTH_FOLD domain. A C-speed regex
# scan (~µs) beats dict-translate (~55 µs/block measured) on the common
# non-ASCII blocks that contain NO foldable char (CJK prose uses U+3002
# etc., not the full-width ASCII range); translate output is identical.
_FOLD_RX = re.compile("[！-～　]")


def fold_width(s: str) -> str:
    """Fold full-width ASCII forms to their half-width equivalents."""
    if _FOLD_RX.search(s) is None:
        return s
    return s.translate(_WIDTH_FOLD)


# The EXACT set str.split() treats as whitespace on ASCII text, split by
# frequency: the six common chars vs the C0 separators nobody's HTML
# contains. ONE definition — normalize_block's collapse guard and
# dom._ws_free_len's fast path must agree on this set (this round's C0
# bug was exactly one hand-copied list drifting); a test derives the
# union from CPython's own split() behavior over the full ASCII range.
SPLIT_WS_COMMON = " \t\n\r\x0b\x0c"
SPLIT_WS_RARE = "\x1c\x1d\x1e\x1f"
# collapse-guard probes: any of these substrings (or an edge space)
# means " ".join(s.split()) is not the identity
_COLLAPSE_PROBES = ("  ",) + tuple(SPLIT_WS_COMMON.replace(" ", "")) + tuple(
    SPLIT_WS_RARE
)


def normalize_block(s: str) -> str:
    """Normalize one text block; deterministic and idempotent."""
    if s.isascii():
        # byte-identical fast path: NFC, width-fold, and the U+2026/U+30FB
        # rules are all identity on pure-ASCII text (CPython's compact str
        # caches the ascii flag, so the check is O(1)); only the whitespace
        # collapse and the ASCII dot-run rule can change anything.
        # The collapse itself is guarded: " ".join(s.split()) is the
        # identity on ASCII text unless it has a leading/trailing space,
        # a double space, or any non-space whitespace char — each check
        # is one C-speed memchr scan (~1 µs/10 KB) vs ~65 µs/10 KB for
        # split+join, and DOM-scanner blocks arrive already collapsed
        # (0/418 needed it on the bench corpus; measured 1.9x on the
        # whole extraction core). NOT a regex guard: an anchored
        # alternation pattern scans per-position and measured SLOWER
        # than the split it replaced.
        # probes cover str.split()'s FULL ASCII whitespace set, including
        # the C0 separators \x1c-\x1f (the fuzz pin caught a first
        # version missing those) — see _COLLAPSE_PROBES. Plain loop, not
        # any(genexpr): the generator frame costs ~2.4 µs/call, more
        # than the ten memchr scans it drives (measured ~450 ns/block
        # saved — small blocks run this thousands of times per doc).
        hit = s[:1] == " " or s[-1:] == " "
        if not hit:
            for t in _COLLAPSE_PROBES:
                if t in s:
                    hit = True
                    break
        if hit:
            s = " ".join(s.split())
        if ".." in s:
            s = _DOT_RUN.sub("...", s)
        return s
    s = unicodedata.normalize("NFC", s)
    s = fold_width(s)
    s = " ".join(s.split())
    if "…" in s:
        s = s.replace("…", "...")
    if ".." in s or "・" in s:  # guard: the regex only fires on runs
        s = _DOT_RUN.sub("...", s)
    return s


def join_blocks(blocks: list[str]) -> str:
    """Join normalized block texts with newline, dropping empties."""
    return "\n".join(b for b in blocks if b)


MAX_HTML_BYTES = 2_000_000  # input-size cap (SURVEY.md §4 X7)

# WHATWG-ish encoding label aliases -> Python codecs. iso-8859-1 maps to
# windows-1252 DELIBERATELY (the WHATWG encoding standard's rule: web
# servers claiming latin-1 ship cp1252 bytes — 0x80-0x9F are smart quotes,
# not C1 controls). Only codecs the stdlib ships; unknown labels fall back
# to the default chain.
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
    "windows-1252": "cp1252", "cp1252": "cp1252", "ascii": "cp1252",
    "us-ascii": "cp1252",
    "iso-8859-2": "iso8859-2", "windows-1250": "cp1250",
    "iso-8859-15": "iso8859-15",
    "windows-1251": "cp1251", "koi8-r": "koi8-r",
    "shift_jis": "cp932", "shift-jis": "cp932", "sjis": "cp932",
    "x-sjis": "cp932", "windows-31j": "cp932", "cp932": "cp932",
    "euc-jp": "euc-jp", "eucjp": "euc-jp",
    "gb2312": "gb18030", "gbk": "gb18030", "gb18030": "gb18030",
    "big5": "big5", "big5-hkscs": "big5hkscs",
    "euc-kr": "euc-kr", "ks_c_5601-1987": "euc-kr",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}

_META_CHARSET = re.compile(
    rb"""<meta[^>]{0,256}?charset\s*=\s*["']?\s*([A-Za-z0-9._:-]{2,32})""",
    re.I,
)


def sniff_charset(payload: bytes) -> str | None:
    """Declared encoding of an HTML payload, from BOM or a <meta> tag in
    the first 1024 bytes (the WHATWG prescan window); None if undeclared
    or unknown. Deterministic — no statistical guessing."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # the BOM-CONSUMING codec: 'utf-16-le'/'-be' would leak a literal
        # U+FEFF into the document (it survives normalization and would
        # perturb fingerprints/token stats)
        return "utf-16"
    m = _META_CHARSET.search(payload[:1024])
    if m:
        return _CHARSET_ALIASES.get(m.group(1).decode("ascii", "ignore").lower())
    return None


def decode_html(payload: bytes | bytearray | None, max_bytes: int = MAX_HTML_BYTES) -> str:
    """Decode an html payload to str; never raises.

    - ``None``/empty -> "".
    - Payloads larger than ``max_bytes`` are truncated first (the engine's
      input-size cap — the analogue of the reference's per-render 30 s
      timeout, renderer.py:233-239; wall-clock timeouts don't compose with
      Arrow batches, size caps do. SURVEY.md §4 X7).
    - Charset: BOM or <meta charset> declaration in the first 1024 bytes
      (WHATWG prescan) wins; otherwise STRICT UTF-8 is tried — if the
      bytes are valid UTF-8 the result is identical to the old
      utf-8/replace behavior on every such input — and invalid UTF-8
      falls back to windows-1252 (the web's de-facto default, under which
      every byte sequence is decodable) instead of U+FFFD mojibake. A
      strict-UTF-8 failure ONLY in the final 3 bytes is treated as a
      truncation artifact of the size cap, not evidence of cp1252.
    - Declared-charset decode errors degrade per character (replace),
      bad-row tolerance (run.py:207-212 analogue).
    """
    if not payload:
        return ""
    truncated = len(payload) > max_bytes
    if truncated:
        payload = payload[:max_bytes]
    data = bytes(payload)
    enc = sniff_charset(data)
    if enc is not None:
        return data.decode(enc, errors="replace")
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError as e:
        if truncated and e.start >= len(data) - 3:
            # multibyte char split by the size cap: keep the valid
            # prefix. ONLY when the cap actually cut the payload — an
            # untruncated page whose sole non-ascii byte sits near the
            # end is genuine cp1252, not a truncation artifact
            return data[: e.start].decode("utf-8", errors="replace")
        return data.decode("cp1252", errors="replace")
