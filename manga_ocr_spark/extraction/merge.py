"""Beam-style span merge: stitch kept blocks into the final reading-order text.

The engine's analogue of the reference's beam-search decode
(num_beams=4, length_penalty=2.0 — /root/reference/manga_ocr_dev/training/
get_model.py:118-123, executed at ocr.py:114): instead of token sequences,
the beam searches over *subsequences of kept blocks*, preferring dense
contiguous runs of content and pruning isolated fragments stranded deep in
boilerplate.

State = (total_score, chosen block ids). Candidates are the kept blocks in
document order. Extending a beam with block i adds

    score_i  -  GAP_PENALTY * max(0, gap_i - 1)

where gap_i counts the blocks skipped since the previously chosen block
(adjacent kept blocks pay nothing; each *dropped* block crossed beyond the
first costs GAP_PENALTY). Starting a new sequence is free. Width is
BEAM_WIDTH (= the reference's num_beams = 4). Ties break deterministically:
higher total first, then lexicographically smaller id tuple (i.e. prefer
earlier blocks) — determinism is a golden-file requirement.

The winning subsequence's normalized texts are joined with "\n"
(reading-order assembly; W2 analogue, SURVEY.md §2.5).
"""

from __future__ import annotations

from manga_ocr_spark.extraction.dom import Block

BEAM_WIDTH = 4
GAP_PENALTY = 5.0


def beam_merge(blocks: list[Block]) -> list[Block]:
    """Select the best reading-order subsequence of kept blocks."""
    kept = [b for b in blocks if b.keep]
    if not kept:
        return []
    # Fast path (provably identical result): kept blocks always carry
    # score > 0 (score.py sets score = text_len*(1-ld) and keep implies
    # text_len > 0), so when no gap between consecutive kept blocks
    # exceeds 1 there are no penalties anywhere and taking ALL kept
    # blocks strictly dominates every proper subset — exactly what the
    # beam would return. This is the common article shape; the full beam
    # only runs for pages with stranded fragments.
    if all(
        kept[i].block_id - kept[i - 1].block_id <= 2 for i in range(1, len(kept))
    ) and all(b.score > 0 for b in kept):
        return kept
    # beams: list of (total_score, chosen_ids_tuple, last_block_id)
    beams: list[tuple[float, tuple[int, ...], int]] = [(0.0, (), -1)]
    for b in kept:
        nxt: list[tuple[float, tuple[int, ...], int]] = []
        for total, ids, last in beams:
            # option 1: skip this block
            nxt.append((total, ids, last))
            # option 2: take it
            if last < 0:
                add = b.score  # starting a sequence is free
            else:
                # blocks skipped since the previous chosen one; the first
                # skipped block is free (templates routinely interleave one
                # separator element between content paragraphs)
                gap = b.block_id - last - 1
                add = b.score - GAP_PENALTY * max(0, gap - 1)
            nxt.append((total + add, ids + (b.block_id,), b.block_id))
        # deterministic prune: by total desc, then earlier/smaller id tuple
        nxt.sort(key=lambda s: (-s[0], s[1]))
        beams = nxt[:BEAM_WIDTH]
    best_total, best_ids, _ = beams[0]
    if best_total <= 0.0 or not best_ids:
        return []
    chosen = set(best_ids)
    return [b for b in kept if b.block_id in chosen]
