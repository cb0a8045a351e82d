"""Unit tests of the DOM block parser (extraction/dom.py) — pure Python,
no Spark. Mirrors the reference's component tests of generator internals
(SURVEY.md §5.4)."""

from __future__ import annotations

from manga_ocr_spark.extraction.dom import parse_blocks
from manga_ocr_spark.extraction.score import score_blocks


def _texts(html: str) -> list[str]:
    return [b.text.strip() for b in parse_blocks(html)]


def test_single_paragraph_one_block() -> None:
    blocks = parse_blocks("<html><body><p>hello world</p></body></html>")
    assert len(blocks) == 1
    b = blocks[0]
    assert b.text.strip() == "hello world"
    assert b.tag == "p"
    assert b.link_text_len == 0
    assert not b.in_boilerplate
    assert score_blocks(blocks)[0].text_len == len("helloworld")


def test_inline_tags_do_not_split_blocks() -> None:
    blocks = parse_blocks("<p>see <a href='/x'>here</a> now <b>bold</b></p>")
    assert len(blocks) == 1
    assert blocks[0].text.strip() == "see here now bold"
    assert blocks[0].link_text_len == len("here")


def test_block_tags_split() -> None:
    assert _texts("<p>one</p><p>two</p><div>three</div>") == ["one", "two", "three"]


def test_suppressed_subtrees_drop_entirely() -> None:
    html = (
        "<body><script>var x = 'never';</script><style>.c{}</style>"
        "<p>kept</p><noscript>no</noscript><template>tmpl</template></body>"
    )
    assert _texts(html) == ["kept"]


def test_ruby_rt_dropped_base_kept() -> None:
    # decided semantics SURVEY.md §7.4: annotation text is not ground truth
    blocks = parse_blocks("<p><ruby>漢字<rt>かんじ</rt></ruby>のみ</p>")
    assert len(blocks) == 1
    assert "かんじ" not in blocks[0].text
    assert "漢字" in blocks[0].text


def test_boilerplate_landmark_flag() -> None:
    html = "<nav><ul><li><a href='/'>Home</a></li></ul></nav><p>content body</p>"
    blocks = parse_blocks(html)
    flags = {b.text.strip(): b.in_boilerplate for b in blocks}
    assert flags["Home"] is True
    assert flags["content body"] is False


def test_nested_boilerplate_closes_correctly() -> None:
    html = "<footer><div><p>legal</p></div></footer><p>after footer</p>"
    blocks = parse_blocks(html)
    by_text = {b.text.strip(): b for b in blocks}
    assert by_text["legal"].in_boilerplate is True
    assert by_text["after footer"].in_boilerplate is False


def test_entity_decoding() -> None:
    blocks = parse_blocks("<p>a&nbsp;b &amp; c &#x2026;</p>")
    assert len(blocks) == 1
    t = blocks[0].text
    assert "&" in t and "…" in t and "\xa0" in t


def test_soft_break_becomes_space() -> None:
    blocks = parse_blocks("<p>line one<br>line two<br/>line three</p>")
    assert len(blocks) == 1
    assert blocks[0].text == "line one line two line three"


def test_malformed_html_never_raises() -> None:
    for hostile in (
        "<div<><p>broken <b>page",
        "<html><body></body></html>",
        "<p>" + "x" * 50_000,
        "\x00\x01<zz>�<p>tiny</p>",
        "</p></div></body>",  # stray closers only
        "",
    ):
        blocks = parse_blocks(hostile)  # must not raise
        assert isinstance(blocks, list)


def test_unclosed_document_flushes_trailing_text() -> None:
    blocks = parse_blocks("<p>" + "x" * 100)
    assert len(blocks) == 1
    assert score_blocks(blocks)[0].text_len == 100


def test_depth_tracks_block_nesting() -> None:
    blocks = parse_blocks("<div><div><p>deep</p></div></div>")
    assert blocks[0].depth == 3  # div, div, p


def test_block_ids_are_document_order() -> None:
    blocks = parse_blocks("<p>a1 a2</p><p>b1 b2</p><p>c1 c2</p>")
    assert [b.block_id for b in blocks] == [0, 1, 2]


def _corpus_texts() -> list[tuple[str, str]]:
    from manga_ocr_spark.extraction.normalize import decode_html
    from manga_ocr_spark.fixtures.pages import generate_pages

    pages = generate_pages(210, seed=99)
    return [(r.url, decode_html(r.html)) for r in pages.itertuples(index=False)]


def test_fast_scanner_matches_stdlib_parser_on_corpus():
    # the fast regex scanner must stay byte-identical to the html.parser
    # reference — goldens depend on parse semantics
    for url, t in _corpus_texts():
        assert _via_fast_sig(t) == _via_std_sig(t), url


def test_parse_blocks_never_builds_the_reference_parser(monkeypatch):
    # one parse path: production never constructs the html.parser
    # reference, so making it unbuildable changes no page's blocks
    from manga_ocr_spark.extraction import dom as D

    corpus = _corpus_texts()
    before = [D.parse_blocks(t) for _, t in corpus]

    class _Unbuildable:
        def __init__(self, *args, **kwargs) -> None:
            raise AssertionError("parse_blocks built the reference parser")

    monkeypatch.setattr(D, "_BlockParser", _Unbuildable)
    for (url, t), blocks in zip(corpus, before):
        assert D.parse_blocks(t) == blocks, url


def test_fast_scanner_matches_stdlib_on_adversarial_wellformed_pages():
    # beyond the generated corpus: handcrafted well-formed-but-nasty pages
    # (the kind real crawls contain) must parse identically to the
    # html.parser reference.
    # Pathological INVALID soup is explicitly out of contract (see
    # parse_blocks docstring) — these are all legal-enough documents.
    from manga_ocr_spark.extraction import dom as D

    def via_std(t: str):
        p = D._BlockParser()
        p.feed(t)
        p.close()
        return [(b.tag, b.text, b.link_text_len, b.in_boilerplate) for b in p.blocks]

    pages = [
        # comment containing markup inside a script, plus CDATA
        "<script>/* <p>not text</p> */ var x = '<div>';</script>"
        "<![CDATA[<p>also not</p>]]><p>real content here</p>",
        # quoted attributes containing > and ', mixed quoting
        "<div data-x=\"a>b\" data-y='c>d'><p class=\"e>f\">attr text kept</p></div>",
        # deep nesting with boilerplate landmarks and anchors
        "<nav><ul>" + "".join(f"<li><a href='/{i}'>nav {i}</a></li>" for i in range(6))
        + "</ul></nav><main>"
        + "<div>" * 15 + "<p>deep <a href='/x'>anchored words</a> core</p>" + "</div>" * 15
        + "</main><footer><p>foot note</p></footer>",
        # entities everywhere, numeric + named, in and out of anchors
        "<p>&lt;tag&gt; &amp; &#65;&#x42; <a href='/e'>&quot;linked&quot; &nbsp;text</a></p>",
        # ruby with rt/rp suppression between kept blocks
        "<p>before</p><p><ruby>漢字<rp>(</rp><rt>かんじ</rt><rp>)</rp></ruby>base kept</p><p>after</p>",
        # self-closing soft breaks and hr boundaries interleaved
        "<p>one<br/>two<br>three</p><hr/><p>four</p><hr><p>five</p>",
        # uppercase tags and attributes (case folding)
        "<DIV><P CLASS='X'>Upper Case TAGS</P></DIV>",
        # table structure (every cell a block boundary)
        "<table><thead><tr><th>h1</th><th>h2</th></tr></thead>"
        "<tbody><tr><td>a cell</td><td><a href='/t'>linked cell</a></td></tr></tbody></table>",
        # doctype + conditional-comment-looking comment + pre with markup-ish text
        "<!DOCTYPE html><!--[if IE]><p>ie only</p><![endif]--><pre>code < notag > here</pre>",
        # processing instructions: terminated PIs drop (html.parser's
        # handle_pi), an unterminated <? at EOF stays text — both parsers
        # must agree (found via the PDF-preamble work, round 3)
        "<?xml version='1.0'?><p>after xml decl</p><?php echo 1; ?><p>after php</p>",
        "<p>before</p><?broken pi with no close",
        # stray close tags of inline elements and unopened blocks
        "<p>alpha</b> beta</i></p></section><p>gamma</p>",
    ]
    for t in pages:
        fast = [
            (b.tag, b.text, b.link_text_len, b.in_boilerplate) for b in D.parse_blocks(t)
        ]
        assert fast == via_std(t), t[:80]


def test_fast_scanner_rawtext_and_quoted_attrs():
    from manga_ocr_spark.extraction.dom import parse_blocks

    cases = [
        ("<script>if (a<b && c>d) x('</div>')</script><p>kept here ok</p>", ["kept here ok"]),
        ("<style>a>b{}</style><p>styled kept</p>", ["styled kept"]),
        ('<p>see <a href="x>y">link</a> end</p>', ["see link end"]),
        ("<script>never closed <p>gone", []),
        ("<!-- <p>no</p> --><p>yes kept</p>", ["yes kept"]),
    ]
    for html, expected in cases:
        got = [b.text.strip() for b in parse_blocks(html)]
        assert got == expected, html


def _via_std_sig(t: str):
    from manga_ocr_spark.extraction import dom as D

    p = D._BlockParser()
    p.feed(t)
    p.close()
    return [(b.tag, b.text, b.link_text_len, b.in_boilerplate) for b in p.blocks]


def _via_fast_sig(t: str):
    from manga_ocr_spark.extraction import dom as D

    return [(b.tag, b.text, b.link_text_len, b.in_boilerplate) for b in D.parse_blocks(t)]


def test_fast_scanner_matches_stdlib_on_realworld_shapes():
    # VERDICT r2 item 8: uglier real-world-shaped pages — deep/nested
    # tables, definition lists, mixed rtl/cjk inline markup — pinned onto
    # the flat-scanner == html.parser identity
    deep_table = (
        "<table><tr><td>lvl0 cell"
        + "".join(
            f"<table class='t{i}'><tr><th colspan='2'>head {i}</th></tr>"
            f"<tr><td>left {i}</td><td><a href='/r{i}'>right {i}</a></td></tr><tr><td>"
            for i in range(5)
        )
        + "core of the onion"
        + "</td></tr></table>" * 5
        + "</td></tr></table>"
    )
    wide_table = "<table>" + "".join(
        f"<tr><td>r{r}c0 text</td><td><a href='/{r}'>r{r} link</a></td>"
        f"<td>r{r}c2 tail</td></tr>"
        for r in range(40)
    ) + "</table>"
    definition_lists = (
        "<dl><dt>Term One</dt><dd>definition with <a href='/d1'>inline link</a> text</dd>"
        "<dt>Term&nbsp;Two</dt><dd>second def"
        "<dl><dt>nested term</dt><dd>nested def body</dd></dl>"
        "tail after nested</dd></dl><p>after list</p>"
    )
    rtl_cjk = (
        "<p>latin start <span dir='rtl'>مرحبا بالعالم</span> middle "
        "<bdo dir='rtl'>עברית כאן</bdo> end</p>"
        "<p><ruby>東京<rt>とうきょう</rt></ruby>は日本の首都です。"
        "<a href='/jp'>リンク付き文字列</a>と通常の文字。</p>"
        "<p>mixed عربي and 中文 and English in one run &#x200F;marks&#x200E; too</p>"
    )
    forms_misc = (
        "<form><p>before select</p><select><option>dropped opt 1</option>"
        "<option selected>dropped opt 2</option></select>"
        "<textarea rows='2'>free text area content</textarea>"
        "<p>after <button type='submit'>Go</button> controls</p></form>"
        "<figure><img src='x.png' alt='alt text dropped'>"
        "<figcaption>caption text kept</figcaption></figure>"
    )
    blockquote_pre = (
        "<blockquote cite='http://a'><p>quoted one</p>"
        "<blockquote><p>quoted two deep</p></blockquote></blockquote>"
        "<pre>   preformatted\n   spacing   preserved?   </pre><p>coda</p>"
    )
    for t in (deep_table, wide_table, definition_lists, rtl_cjk, forms_misc, blockquote_pre):
        assert _via_fast_sig(t) == _via_std_sig(t), t[:80]


def test_fast_scanner_matches_stdlib_on_100kb_monster():
    # a single >100 KB page with heavy inline markup, entities, boilerplate
    # landmarks and long anchor runs — byte-identical block streams; also a
    # smoke check that the scanner stays linear on big inputs
    import random
    import time

    rng = random.Random(4242)
    words = ["alpha", "beta&amp;", "gamma", "&#916;elta", "epsilon", "文字", "کلمه"]
    parts = [
        "<!DOCTYPE html><html><head><title>drop me</title>"
        "<style>p{color:red}</style></head><body>"
        "<nav>" + "".join(f"<a href='/n{i}'>nav item {i}</a> | " for i in range(40)) + "</nav>"
    ]
    for i in range(1200):
        kind = i % 6
        inner = " ".join(rng.choice(words) for _ in range(12))
        if kind == 0:
            parts.append(f"<p>{inner} <em>{inner}</em> <strong>tail {i}</strong></p>")
        elif kind == 1:
            parts.append(f"<div><p>{inner}</p><p><a href='/l{i}'>{inner}</a></p></div>")
        elif kind == 2:
            parts.append(f"<ul><li>{inner}</li><li><a href='/u{i}'>{inner}</a></li></ul>")
        elif kind == 3:
            parts.append(f"<table><tr><td>{inner}</td><td>{inner}</td></tr></table>")
        elif kind == 4:
            parts.append(f"<dl><dt>term {i}</dt><dd>{inner}</dd></dl>")
        else:
            parts.append(f"<section><h2>head {i}</h2><blockquote>{inner}</blockquote></section>")
    parts.append("<footer><p>footer legal text</p></footer></body></html>")
    t = "".join(parts)
    assert len(t) > 100_000
    t0 = time.time()
    fast = _via_fast_sig(t)
    fast_sec = time.time() - t0
    assert fast == _via_std_sig(t)
    assert len(fast) > 2000
    assert fast_sec < 2.0  # linear-time sanity, generous for a shared host


def test_ws_free_len_matches_split_semantics_exactly():
    # _ws_free_len must equal sum(len(p) for p in s.split()) on EVERY
    # input — including the C0 separators \x1c-\x1f str.split() treats
    # as whitespace (a review pass caught the ASCII fast path ignoring
    # them) and non-ASCII unicode whitespace.
    from manga_ocr_spark.extraction.dom import _ws_free_len

    cases = [
        "", " ", "a b", "a\x1cb", "\x1d", "a\x1e\x1f b", "a\tb\nc",
        "x\x0by\x0cz", "日本 語　テスト", "a\xa0b", "mixed \x1c ascii",
    ]
    for s in cases:
        assert _ws_free_len(s) == sum(len(p) for p in s.split()), repr(s)
