"""HTML -> linear sequence of text blocks with layout features.

This is the engine's analogue of the reference's ViT patch feature
extraction (/root/reference/manga_ocr/ocr.py:119-133): the noisy layout
(an HTML page instead of a manga panel) is turned into a sequence of
feature vectors, one per text block, that a downstream classifier scores.

Design: one pass of a compiled-regex tokenizer (:func:`_scan`), the only
parse path; stdlib only — determinism matters more than parse fidelity
here. The html.parser subclass below is the tests' reference, never run
in production. Text is segmented at *block-level tag boundaries*: any
open or close of a block-level element flushes the text accumulated
since the last boundary as one :class:`Block`. Inline elements (``a``,
``span``, ``b``, ``ruby`` …) do not flush, so `<p>see <a>here</a> now</p>`
is one block.

Features per block: innermost block tag, block-nesting depth,
whitespace-free text length, whitespace-free anchor-text length (for link
density), and whether the block sits inside a boilerplate landmark
(nav/header/footer/aside) — the DOM-subtree analogue of the reference's
mask anti-join that forbids background crops inside text boxes
(generate_backgrounds.py:114-132, SURVEY.md §2.3 J5).

Hard-noise subtrees are dropped entirely (never become blocks):
script/style/noscript/template/svg/iframe, and ruby annotation ``rt``/
``rp`` — annotation text is not ground truth; base text is kept. This is
the inverse of the reference *adding* furigana markup after ``text_gt`` is
fixed (synthetic_data_generator/generator.py:157-161; decided semantics
SURVEY.md §7.4).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

# Elements whose entire subtree is dropped (no text reaches any block).
SUPPRESS_TAGS = frozenset(
    {
        "script",
        "style",
        "title",
        "noscript",
        "template",
        "svg",
        "iframe",
        "object",
        "embed",
        "select",
        "option",
        "rt",  # ruby annotation: drop reading, keep base (SURVEY §7.4)
        "rp",
    }
)

# Landmark containers that are *prior evidence* of boilerplate. Their text
# still becomes blocks (so it is counted in n_blocks_dropped and so the
# link-density scorer is exercised), but the scorer treats them as
# boilerplate (score.py).
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside"})

# Block-level boundary elements: opening or closing one flushes the
# current text run as a Block.
BLOCK_TAGS = frozenset(
    {
        "html",
        "body",
        "main",
        "article",
        "section",
        "div",
        "p",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "ul",
        "ol",
        "li",
        "dl",
        "dt",
        "dd",
        "table",
        "thead",
        "tbody",
        "tr",
        "td",
        "th",
        "blockquote",
        "pre",
        "figure",
        "figcaption",
        "form",
        "fieldset",
        "hr",
        "nav",
        "header",
        "footer",
        "aside",
        "address",
        "center",
        "details",
        "summary",
    }
)

# Void elements that act as an in-block soft break (become whitespace).
_SOFT_BREAK = frozenset({"br", "wbr"})

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})


@dataclass(slots=True)
class Block:
    """One linear text block with layout features (SURVEY.md §1.4)."""

    block_id: int
    tag: str  # innermost open block tag when the text started
    depth: int  # block-nesting depth
    text: str  # raw text (whitespace preserved; normalized later)
    text_len: int  # whitespace-free character count; 0 until score.py sets it
    link_text_len: int  # whitespace-free chars inside <a> subtrees
    in_boilerplate: bool  # under nav/header/footer/aside
    # filled by score.py:
    link_density: float = 0.0
    score: float = 0.0
    keep: bool = False


# ONE definition of str.split()'s ASCII whitespace, shared with the
# normalize_block collapse guard (normalize.py derives it from CPython's
# own behavior via test)
from manga_ocr_spark.extraction.normalize import SPLIT_WS_COMMON, SPLIT_WS_RARE

_ASCII_WS = SPLIT_WS_COMMON


def _ws_free_len(s: str) -> int:
    # equivalent to sum(len(p) for p in s.split()) but C-speed. ASCII fast
    # path (O(1) isascii flag): subtract per-char counts of the six common
    # chars str.split() treats as whitespace in ASCII; the RARE C0
    # separators \x1c-\x1f (also split() whitespace — a review pass caught
    # the fast path ignoring them) divert to the exact join path instead
    # of paying four more counts on every call; general path joins.
    if not s:
        return 0
    if s.isascii():
        # plain loop, not any(genexpr) — the generator frame costs more
        # than the four memchr scans (same measurement as normalize.py)
        for c in SPLIT_WS_RARE:
            if c in s:
                return len("".join(s.split()))
        n = len(s)
        for ch in _ASCII_WS:
            n -= s.count(ch)
        return n
    return len("".join(s.split()))


@dataclass
class _Segment:
    parts: list[str] = field(default_factory=list)
    link_parts: list[str] = field(default_factory=list)


class _BlockParser(HTMLParser):
    """Reference parser: :func:`_scan` must yield its blocks
    (tests/test_dom.py). Never called in production."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._seg = _Segment()
        self._block_stack: list[str] = []  # open block-level tags
        self._suppress_depth = 0
        self._anchor_depth = 0
        self._boiler_depth = 0

    # -- segment management -------------------------------------------------
    def _flush(self) -> None:
        # fast exit: most block boundaries carry no text (nested divs,
        # adjacent tags). link_parts is only ever appended alongside parts,
        # so empty parts ⇒ empty segment — keep it, skip the allocation.
        if not self._seg.parts:
            return
        text = "".join(self._seg.parts)
        if text.strip():
            tag = self._block_stack[-1] if self._block_stack else "body"
            self.blocks.append(
                Block(
                    block_id=len(self.blocks),
                    tag=tag,
                    depth=len(self._block_stack),
                    text=text,
                    text_len=0,
                    link_text_len=_ws_free_len("".join(self._seg.link_parts))
                    if self._seg.link_parts
                    else 0,
                    in_boilerplate=self._boiler_depth > 0,
                )
            )
        self._seg = _Segment()

    # -- parser callbacks ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in SUPPRESS_TAGS:
            self._suppress_depth += 1
            return
        if self._suppress_depth:
            return
        if tag in _SOFT_BREAK:
            self._seg.parts.append(" ")
            return
        if tag == "a":
            self._anchor_depth += 1
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._block_stack.append(tag)
            if tag in BOILERPLATE_TAGS:
                self._boiler_depth += 1

    def handle_startendtag(self, tag: str, attrs) -> None:  # noqa: ANN001
        # <br/>, <hr/> — treat like a start tag; suppress-subtree tags that
        # self-close (e.g. <svg/>) open and close with no content.
        if tag in SUPPRESS_TAGS:
            return
        if self._suppress_depth:
            return
        if tag in _SOFT_BREAK:
            self._seg.parts.append(" ")
        elif tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in SUPPRESS_TAGS:
            if self._suppress_depth:
                self._suppress_depth -= 1
            return
        if self._suppress_depth:
            return
        if tag == "a":
            if self._anchor_depth:
                self._anchor_depth -= 1
            return
        if tag in BLOCK_TAGS:
            self._flush()
            # tolerate malformed nesting: pop to the matching open tag if
            # present, else ignore the stray close.
            if tag in self._block_stack:
                while self._block_stack:
                    popped = self._block_stack.pop()
                    if popped in BOILERPLATE_TAGS:
                        self._boiler_depth -= 1
                    if popped == tag:
                        break

    def handle_data(self, data: str) -> None:
        if self._suppress_depth or not data:
            return
        self._seg.parts.append(data)
        if self._anchor_depth:
            self._seg.link_parts.append(data)

    def close(self) -> None:  # flush trailing text of unclosed documents
        super().close()
        self._flush()


# -- fast tokenizer ----------------------------------------------------------
# A single C-regex scan runs the reference's callback logic ~1.7x faster
# than html.parser's goahead loop (which pays per-tag attribute parsing we
# never use). Quoted attribute values may contain '>' — the alternation
# `"[^"]*"|'[^']*'` covers that, matching html.parser. Comments, CDATA and
# declarations are skipped whole.
_TOKEN_RE = re.compile(
    r"""<!--.*?(?:-->|$)              # comment (unterminated: to EOF)
      | <!\[CDATA\[.*?(?:\]\]>|$)     # cdata
      | <![^>]*>                      # doctype / declarations
      | <\?[^>]*>                     # processing instruction (<?xml ...?>)
                                      # — html.parser's handle_pi drops it;
                                      # an UNTERMINATED <? stays text (also
                                      # html.parser's close() behavior)
      | <(/?)([a-zA-Z][a-zA-Z0-9:_-]*)((?:[^>"']|"[^"]*"|'[^']*')*)>
    """,
    re.DOTALL | re.VERBOSE,
)

# script/style content is CDATA-like in html.parser: nothing inside is
# markup until the literal close tag. Jump straight to it, as it does.
_RAWTEXT_CLOSE = {
    t: re.compile(rf"</{t}\s*>", re.IGNORECASE) for t in ("script", "style")
}


# tag -> action code for the flat scanner: the single dict lookup replaces
# four frozenset membership tests per tag. Codes: 1 suppress-subtree,
# 2 soft break, 3 anchor, 4 block boundary, 5 boilerplate block boundary.
# Absent = inline no-op.
_TAG_ACTION: dict[str, int] = {}
for _t in SUPPRESS_TAGS:
    _TAG_ACTION[_t] = 1
for _t in _SOFT_BREAK:
    _TAG_ACTION[_t] = 2
_TAG_ACTION["a"] = 3
for _t in BLOCK_TAGS:
    _TAG_ACTION[_t] = 5 if _t in BOILERPLATE_TAGS else 4


def _scan(html_text: str) -> list[Block]:
    """Flat scanner: one C-regex pass driving inlined handler logic over
    LOCAL state (no method dispatch, no attribute access in the loop) —
    semantically identical to feeding the html.parser reference above;
    equality on the whole fixture corpus is pinned by tests/test_dom.py."""
    pos = 0
    n = len(html_text)
    search = _TOKEN_RE.search
    actions = _TAG_ACTION
    blocks: list[Block] = []
    parts: list[str] = []
    link_parts: list[str] = []
    block_stack: list[str] = []
    suppress_depth = 0
    anchor_depth = 0
    boiler_depth = 0

    def flush() -> None:
        nonlocal parts, link_parts
        if not parts:
            return
        text = "".join(parts)
        if text.strip():
            blocks.append(
                Block(
                    block_id=len(blocks),
                    tag=block_stack[-1] if block_stack else "body",
                    depth=len(block_stack),
                    text=text,
                    text_len=0,
                    link_text_len=_ws_free_len("".join(link_parts)) if link_parts else 0,
                    in_boilerplate=boiler_depth > 0,
                )
            )
        parts = []
        link_parts = []

    while pos < n:
        m = search(html_text, pos)
        if m is None:
            if not suppress_depth and pos < n:
                data = _maybe_unescape(html_text[pos:])
                parts.append(data)
                if anchor_depth:
                    link_parts.append(data)
            break
        start = m.start()
        if start > pos and not suppress_depth:
            data = _maybe_unescape(html_text[pos:start])
            parts.append(data)
            if anchor_depth:
                link_parts.append(data)
        pos = m.end()
        close, tag, attrs = m.group(1, 2, 3)
        if tag is None:  # comment / cdata / declaration
            continue
        tag = tag.lower()
        act = actions.get(tag)
        if close:  # </...>
            if act == 1:
                if suppress_depth:
                    suppress_depth -= 1
            elif suppress_depth:
                pass
            elif act == 3:
                if anchor_depth:
                    anchor_depth -= 1
            elif act == 4 or act == 5:
                flush()
                if tag in block_stack:
                    while block_stack:
                        popped = block_stack.pop()
                        if popped in BOILERPLATE_TAGS:
                            boiler_depth -= 1
                        if popped == tag:
                            break
        elif attrs.rstrip().endswith("/"):  # <self-close/>
            if act == 1 or suppress_depth:
                pass
            elif act == 2:
                parts.append(" ")
            elif act == 4 or act == 5:
                flush()
        else:  # <open>
            if act == 1:
                suppress_depth += 1
                raw = _RAWTEXT_CLOSE.get(tag)
                if raw is not None:
                    mc = raw.search(html_text, pos)
                    # content skipped entirely; unterminated rawtext
                    # swallows to EOF, like html.parser
                    if mc is None:
                        suppress_depth -= 1
                        break
                    pos = mc.end()
                    suppress_depth -= 1
            elif suppress_depth:
                pass
            elif act == 2:
                parts.append(" ")
            elif act == 3:
                anchor_depth += 1
            elif act == 4 or act == 5:
                flush()
                block_stack.append(tag)
                if act == 5:
                    boiler_depth += 1

    flush()  # trailing text of an unclosed document
    return blocks


def _maybe_unescape(data: str) -> str:
    # convert_charrefs equivalence: both use the html5 entity table
    if "&" in data:
        import html as _html

        return _html.unescape(data)
    return data


def parse_blocks(html_text: str) -> list[Block]:
    """Parse HTML text into ordered text blocks; never raises (fuzz-pinned
    by tests/test_fuzz.py).

    Malformed input (unclosed tags, stray closers, empty documents,
    replacement characters from bad bytes) degrades to best-effort blocks
    — the bad-row tolerance the reference implements with per-item
    try/except-and-continue (run.py:207-212, SURVEY.md §4 X6); the
    per-row backstop is ``core.extract``'s.

    Scope note: on PATHOLOGICAL tag soup (unterminated ``<!--``, bare
    ``<``, ``</>``, digit tags) the scanner recovers differently from the
    html.parser reference, which has elaborate invalid-markup heuristics
    the regex tokenizer does not replicate. The scanner is deterministic
    (the golden contract) and the equivalence claim is corpus-scoped.
    """
    return _scan(html_text)
