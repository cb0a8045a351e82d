"""Property-based robustness tests (hypothesis): the extraction core must
never raise and must stay deterministic and idempotent on ARBITRARY bytes —
the 100 TB posture where every malformed page the web can produce will
eventually arrive (bad-row tolerance, run.py:207-212 analogue)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from manga_ocr_spark.extraction.core import extract
from manga_ocr_spark.extraction.normalize import normalize_block


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
