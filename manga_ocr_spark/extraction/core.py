"""End-to-end per-document extraction: html bytes -> final text + counters.

Mirrors the five-stage recognize lifecycle of the reference
(/root/reference/manga_ocr/ocr.py:102-156 — input dispatch, normalize,
feature-extract, beam decode, post-process) as:

    decode bytes -> parse DOM blocks -> score blocks -> beam span-merge
    -> join + (already applied) byte-stable normalization

This module is pure Python, deterministic, and Spark-free; the Spark job
(jobs/extract.py) calls :func:`extract` from inside a ``mapInArrow``
iterator. Failures never raise: a hostile payload yields
``ExtractResult(text=None, ...)`` and is counted, matching the reference's
per-item try/except-warn-continue (run.py:207-212).
"""

from __future__ import annotations

from dataclasses import dataclass

from manga_ocr_spark.extraction.dom import Block, parse_blocks
from manga_ocr_spark.extraction.merge import beam_merge
from manga_ocr_spark.extraction.normalize import MAX_HTML_BYTES, decode_html, join_blocks
from manga_ocr_spark.extraction.score import score_blocks


@dataclass
class ExtractResult:
    text: str | None  # None => extraction failed / nothing extractable
    n_blocks_kept: int
    n_blocks_dropped: int
    blocks: list[Block]  # debug surface (SURVEY.md §1.4), scored blocks


def extract(payload: bytes | bytearray | None, max_bytes: int = MAX_HTML_BYTES) -> ExtractResult:
    """Extract main content from one payload (HTML, or PDF by magic
    bytes — the north rule's "HTML boilerplate strip, PDF/layout parse"
    pipeline family dispatches here). Never raises."""
    try:
        if payload is not None:
            from manga_ocr_spark.extraction.pdf import sniff_pdf

            # 2048: the header may sit up to 1024 bytes in, and sniff_pdf's
            # structure check reads up to 1024 bytes past the header
            if sniff_pdf(bytes(payload[:2048])) >= 0:
                return _extract_pdf(bytes(payload), max_bytes)
        html_text = decode_html(payload, max_bytes=max_bytes)
        if not html_text:
            return ExtractResult(None, 0, 0, [])
        blocks = score_blocks(parse_blocks(html_text))
        merged = beam_merge(blocks)
        kept_ids = {b.block_id for b in merged}
        n_kept = len(merged)
        n_dropped = sum(1 for b in blocks if b.block_id not in kept_ids and b.text_len > 0)
        text = join_blocks([b.text for b in merged])
        return ExtractResult(text if text else None, n_kept, n_dropped, blocks)
    except Exception:
        # absolute backstop — a single bad row must never kill a Spark task
        return ExtractResult(None, 0, 0, [])


def _extract_pdf(payload: bytes, max_bytes: int) -> ExtractResult:
    """PDF tier: extraction/pdf.py text lines -> the SAME byte-stable
    normalization + newline join as HTML blocks. PDFs are NOT truncated
    to max_bytes (a truncated PDF loses its object structure entirely,
    unlike HTML's prefix-parsable stream); oversized payloads fail to the
    None tier instead."""
    from manga_ocr_spark.extraction.normalize import normalize_block
    from manga_ocr_spark.extraction.pdf import extract_pdf_lines

    if len(payload) > max_bytes:
        return ExtractResult(None, 0, 0, [])
    lines = extract_pdf_lines(payload)
    if not lines:
        return ExtractResult(None, 0, 0, [])
    normed = [normalize_block(ln) for ln in lines]
    blocks = [
        Block(
            block_id=i,
            tag="pdf",
            depth=0,
            text=t,
            text_len=len(t.replace(" ", "")),
            link_text_len=0,
            in_boilerplate=False,
        )
        for i, t in enumerate(normed)
        if t
    ]
    text = join_blocks([b.text for b in blocks])
    return ExtractResult(text if text else None, len(blocks), 0, blocks)
