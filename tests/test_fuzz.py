"""Property-based robustness tests (hypothesis): the extraction core must
never raise and must stay deterministic and idempotent on ARBITRARY bytes —
the 100 TB posture where every malformed page the web can produce will
eventually arrive (bad-row tolerance, run.py:207-212 analogue)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from manga_ocr_spark.extraction.core import extract
from manga_ocr_spark.extraction.dom import parse_blocks
from manga_ocr_spark.extraction.normalize import normalize_block

# markup-shaped text: the tokenizer's metacharacters plus tag names it
# treats specially (rawtext, anchor, block, boilerplate, soft break)
_MARKUP = st.lists(
    st.one_of(
        st.sampled_from(list("<>/!-[]?'\"=&;#")),
        st.sampled_from(["script", "style", "a", "p", "div", "nav", "br", " ", "x", "1"]),
    ),
    max_size=200,
).map("".join)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_extract_never_raises_on_arbitrary_bytes(payload: bytes) -> None:
    res = extract(payload)
    assert res.n_blocks_kept >= 0 and res.n_blocks_dropped >= 0
    assert (res.text is not None) == (res.n_blocks_kept > 0)
    if res.text is not None:
        assert isinstance(res.text, str)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2048))
def test_extract_deterministic_on_arbitrary_text(s: str) -> None:
    payload = s.encode("utf-8", errors="replace")
    a, b = extract(payload), extract(payload)
    assert a.text == b.text
    assert a.n_blocks_kept == b.n_blocks_kept


# parse_blocks is the one parse path, with no fallback of its own: call it
# directly, not through extract()'s per-row backstop
@settings(max_examples=500, deadline=None)
@given(st.text(st.one_of(st.characters(), st.characters(categories=["Cs"])), max_size=2048))
def test_parse_blocks_never_raises_on_arbitrary_text(s: str) -> None:
    # st.text()'s default alphabet is utf-8-encodable: lone surrogates are
    # drawn explicitly (decode_html never yields them, but str input may)
    assert isinstance(parse_blocks(s), list)


@settings(max_examples=500, deadline=None)
@given(_MARKUP)
def test_parse_blocks_never_raises_on_markup_soup(s: str) -> None:
    assert isinstance(parse_blocks(s), list)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=512))
def test_normalizer_idempotent_on_arbitrary_text(s: str) -> None:
    once = normalize_block(s)
    assert normalize_block(once) == once


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=512))
def test_normalizer_output_whitespace_canonical(s: str) -> None:
    out = normalize_block(s)
    # only single ASCII spaces remain, never leading/trailing
    assert "  " not in out
    assert out == out.strip()
    assert all(not ch.isspace() or ch == " " for ch in out)
