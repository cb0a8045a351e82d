"""jobs/neardedup.py: the production near-dedup job and its metrics sink —
in particular the guard's capped-drop side channel (VERDICT r5 #2: capped
recall loss must be a counter, never silence)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from manga_ocr_spark.jobs.neardedup import run_neardedup
from manga_ocr_spark.operators import dedup as D


def _hot_bucket_docs() -> list[Row]:
    """20 DISTINCT texts sharing one MinHash signature: 'spark ' * k is
    periodic, so for every k >= 2 the distinct 5-gram set is the same six
    rotations of 'spark ' — different fingerprints (no exact collapse),
    identical signature (one mega-bucket per band). This is exactly the
    near-identical-but-distinct shell population the bucket cap exists
    for."""
    return [Row(doc_id=i, text="spark " * (i - 98)) for i in range(100, 120)]


def test_run_neardedup_reports_capped_drops(spark, tmp_path):
    near_a = " ".join(f"word{i}" for i in range(50))
    near_b = " ".join(f"word{i}" for i in range(49)) + " wordX"
    rows = _hot_bucket_docs() + [
        Row(doc_id=0, text=near_a),
        Row(doc_id=1, text=near_b),  # jaccard ~0.96 with doc 0 -> verified drop
        Row(doc_id=2, text="a completely different document about engines"),
        Row(doc_id=3, text="a completely different document about engines"),  # exact dup
    ]
    docs = spark.createDataFrame(rows)
    out = str(tmp_path / "nd")
    counters = run_neardedup(spark, docs, out, max_bucket_size=10)

    kept = {r.doc_id for r in spark.read.parquet(f"{out}/keep").collect()}
    # exact member 3 dropped; near-dup 1 dropped; ALL capped shell docs kept
    # (that recall loss is the thing the metrics must surface)
    assert 3 not in kept and 1 not in kept
    assert {0, 2}.issubset(kept)
    assert all(i in kept for i in range(100, 120))

    m = spark.read.parquet(f"{out}/metrics")
    capped = {
        int(r.band): int(r.value)
        for r in m.filter(F.col("metric") == "capped_buckets").collect()
    }
    capped_rows = {
        int(r.band): int(r.value)
        for r in m.filter(F.col("metric") == "capped_bucket_rows").collect()
    }
    # the shell mega-bucket fired in all 4 bands, 20 member rows each
    assert capped == {0: 1, 1: 1, 2: 1, 3: 1}
    assert capped_rows == {0: 20, 1: 20, 2: 20, 3: 20}
    cnt = {r.metric: int(r.value) for r in m.filter(F.col("band").isNull()).collect()}
    assert cnt == {"docs_in": 24, "docs_kept": 22, "docs_dropped": 2}
    assert counters == cnt


def test_run_neardedup_no_cap_fired_means_no_capped_rows(spark, tmp_path):
    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="an entirely unrelated piece of text here"),
    ]
    out = str(tmp_path / "nd0")
    run_neardedup(spark, spark.createDataFrame(rows), out, max_bucket_size=10)
    m = spark.read.parquet(f"{out}/metrics")
    # the alert predicate: zero capped_buckets rows == the guard never fired
    assert m.filter(F.col("metric") == "capped_buckets").count() == 0
    cnt = {r.metric: int(r.value) for r in m.collect()}
    assert cnt == {"docs_in": 2, "docs_kept": 2, "docs_dropped": 0}


def test_rep_map_covers_null_text_rows(spark):
    # ADVICE r5: NULL-text rows must not vanish from rep_map through the
    # null-rejecting fingerprint join — they form ONE content-less group
    # via the sentinel (matching the SQL oracle's window PARTITION BY md5,
    # which also puts NULL keys in one partition)
    rows = [
        Row(doc_id=0, text="real content document one of a kind"),
        Row(doc_id=1, text=None),
        Row(doc_id=2, text=None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    _, rep_map, _ = D.lsh_guarded_with_drops(df)
    rm = {r.doc_id: r.rep_id for r in rep_map.collect()}
    assert rm == {0: 0, 1: 1, 2: 1}


def test_guarded_expansion_matches_unguarded_with_null_and_empty_text(
    spark, minhash_pairs_py, simhash_pairs_py
):
    # the oracle-relied equivalence must hold on NULL/empty/whitespace
    # text too: the signatures of all content-less docs coincide (empty
    # gram set), so banding every doc pairs them all; guarded must
    # reproduce that via the sentinel group + rep-level cross pairs
    rows = [
        Row(doc_id=0, text=None),
        Row(doc_id=1, text=""),
        Row(doc_id=2, text="   "),
        Row(doc_id=3, text=None),
        Row(doc_id=4, text="a normal document that stands alone entirely"),
    ]
    texts = {r.doc_id: r.text for r in rows}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, rep_map, _ = D.lsh_guarded_with_drops(df, max_bucket_size=len(rows))
    expanded = {(r.id_a, r.id_b) for r in D.expand_rep_pairs(pairs, rep_map).collect()}
    assert expanded == minhash_pairs_py(texts)
    assert {(0, 3)}.issubset(expanded)  # the NULL group's within-pair

    # and the SimHash tier: content-less docs are all signature 0
    spairs, srep_map, _ = D.simhash_guarded_with_drops(df, max_bucket_size=len(rows))
    sim_expanded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.expand_rep_pairs(
            spairs, srep_map, carry={"hamming": F.lit(0)}
        ).collect()
    }
    assert sim_expanded == simhash_pairs_py(texts)


def test_simhash_guarded_matches_unguarded_on_mixed_corpus(spark, simhash_pairs_py):
    # guarded SimHash == banding every doc (the pure-Python reference)
    # when no bucket caps (the equivalence the driver oracle checks
    # value-for-value), on a corpus with exact clones AND a near pair
    base = [
        "the quick brown fox jumps over the lazy dog",
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy cat",
    ]
    rows = [
        Row(doc_id=100 * i + c, text=t) for i, t in enumerate(base) for c in range(3)
    ]
    df = spark.createDataFrame(rows)
    pairs, rep_map, _ = D.simhash_guarded_with_drops(df, max_bucket_size=len(rows))
    expanded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.expand_rep_pairs(pairs, rep_map, carry={"hamming": F.lit(0)}).collect()
    }
    assert expanded == simhash_pairs_py({r.doc_id: r.text for r in rows})
    assert len(expanded) > 0


def test_simhash_guarded_with_drops_surfaces_capped_buckets(spark):
    # the drop side channel must exist on EVERY guarded tier (the rule:
    # capped recall loss is a counter, never silence) — SimHash included.
    # The periodic shells have distinct fingerprints (no exact collapse)
    # but one shared token ('spark'), hence one identical simhash -> 20
    # distinct reps land in a single bucket per band
    docs = spark.createDataFrame(_hot_bucket_docs())
    pairs, rep_map, dropped = D.simhash_guarded_with_drops(
        docs, max_bucket_size=10
    )
    d = {(int(r.band), int(r.n)) for r in dropped.collect()}
    assert d == {(0, 20), (1, 20), (2, 20), (3, 20)}
    assert pairs.count() == 0  # every bucket was capped away
    assert rep_map.count() == 20
    # and with a cap no bucket reaches the channel is empty, pairs are back
    pairs2, _, dropped2 = D.simhash_guarded_with_drops(docs, max_bucket_size=20)
    assert dropped2.count() == 0
    assert pairs2.count() > 0
