"""Generate EXPLAIN.md: formatted physical plans of the engine's key
queries with scale commentary. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

NOTES = {
    "extract_flagship": (
        "The extraction job. ONE Exchange total — the deliberate salt "
        "repartition, hashpartitioning on the url, that spreads skewed "
        "hosts (SURVEY §4 X11); everything "
        "else is a scan -> filter -> prune-project -> MapInArrow map chain. "
        "The scan never reads the WET `text` column (pruned before the UDF "
        "boundary), and `html IS NOT NULL` sits JVM-side so Catalyst can "
        "push it down rather than paying Arrow transfer for null rows."
    ),
    "q1_pricing_summary": (
        "Scan-side: PushedFilters carries the l_shipdate predicate into the "
        "parquet reader; ReadSchema holds only the 7 referenced columns. "
        "Agg-side: partial_sum/partial_avg run map-side before the single "
        "hash Exchange — at 100 TB the shuffle carries 6 rows per task, not "
        "6 billion inputs."
    ),
    "q3_top_revenue": (
        "customer (filtered dim) is broadcast — no shuffle of the fact "
        "table for that join; the orders join shuffles on the join key with "
        "AQE free to re-plan on runtime stats. TakeOrderedAndProject caps "
        "the result without a global sort."
    ),
    "q5_region_revenue": (
        "nation and region broadcast (two BroadcastHashJoins); the "
        "lineitem-orders-supplier joins shuffle on keys. Join order left to "
        "Catalyst + AQE."
    ),
    "exact_dedup": (
        "Dedup = groupBy on a 16-byte fingerprint: partial_min map-side, "
        "one Exchange of (fingerprint, min_id) pairs only, then a LeftSemi "
        "back onto the input — broadcast at this scale. When the keep-list "
        "outgrows broadcast (10^12 rows) the semi join degrades to a "
        "sort-merge on the UNIFORM id key: one full-row shuffle (the floor "
        "on unbucketed storage), deliberately id-keyed so hot duplicate "
        "groups cannot skew a reducer the way a fingerprint-window "
        "formulation would; on the engine's bucketed layout it co-locates."
    ),
    "minhash_candidate_pairs": (
        "The GUARDED production path (r6): the Scan ExistingRDD at the "
        "bottom is the fused base — ONE pass over the text computed the "
        "exact-dup fingerprint AND the MinHash signature, localCheckpointed "
        "once, so the text is scanned once and never shuffled. Reps "
        "collapse in one shuffle (partial_min map-side); the bucket-size "
        "cap counts with partial_count (an uncapped mega-bucket never "
        "concentrates its rows); pairs come from a bounded in-bucket "
        "collect_list expansion — no self-join, no second checkpoint. The "
        "N^2 pair space never materializes — only capped per-bucket "
        "arrays do (LSH's point at 10^12 docs)."
    ),
    "cosine_topk": (
        "The query side broadcasts; each task scans its corpus split once "
        "against all queries. The window top-k shuffles only (query_id, "
        "neighbor_id, cos) triples, never vectors."
    ),
    "window_package_docs": (
        "Two-phase global ranking (operators/ranking.py): the Window is "
        "PARTITIONED on the range bucket — no Exchange SinglePartition "
        "anywhere, which is what an un-partitioned row_number would plan "
        "(all rows through one task; the classic 100x scale-killer this "
        "replaced in round 3). The quantile sketch and per-bucket counts "
        "run as separate map-side-combined jobs before this plan."
    ),
    "ann_lsh_topk": (
        "Multi-table LSH: signatures for all bands come from ONE "
        "Arrow-batched UDF per side; the band explode is narrow and the "
        "bucket join is broadcast (query side) — the corpus is never "
        "shuffled. Only candidate pairs reach the dedup + top-k window "
        "shuffles; banding keeps that ~bands*N/2^bits per query, never N."
    ),
    "simhash_candidate_pairs": (
        "Same guarded shape as the MinHash tier: fused fingerprint+SimHash "
        "base (the ExistingRDD scan), one-shuffle rep collapse, capped "
        "(band, 16-bit band_key) buckets, bounded in-bucket expansion with "
        "bit_count(xor) verifying Hamming <= 3 JVM-side. Pigeonhole: every "
        "pair under 4 bits of difference shares a band, so no all-pairs "
        "join is ever needed."
    ),
    "quality_scores": (
        "The full text-analysis panel — token counts, ratios, two-tier "
        "lang-id (script-class fractions + marker words), per-script "
        "character profile, Gopher repetition fractions — is a chain of "
        "three Projects over ONE scan: zero Exchange, zero joins. The "
        "layering is deliberate: each regex/tokenize primitive is an "
        "alias referenced more than once downstream, so it is evaluated "
        "once per row even though the higher-order-function layer (the "
        "unstarred Project) runs outside whole-stage codegen "
        "(CodegenFallback); the starred Projects around it stay inside "
        "codegen. Per-row work only, so it survives 10^12 docs by "
        "construction; the shuffle-free shape is pinned by "
        "tests/test_plans.py."
    ),
}


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    import __spark_entry__ as E
    from manga_ocr_spark.jobs.extract import extract_pages
    from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents
    from manga_ocr_spark.jobs.session import get_spark
    from manga_ocr_spark.operators.dedup import (
        LSH_MAX_BUCKET,
        exact_dedup,
        lsh_guarded_with_drops,
        simhash_guarded_with_drops,
    )
    from manga_ocr_spark.operators.similarity import cosine_topk

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    dfs = {
        "extract_flagship": extract_pages(pages_from_documents(docs), salt_partitions=8),
        "q1_pricing_summary": E._q1_pricing(spark, SF_DIR),
        "q3_top_revenue": E._q3_top_revenue(spark, SF_DIR),
        "q5_region_revenue": E._q5_region_revenue(spark, SF_DIR),
        "exact_dedup": exact_dedup(docs),
        "minhash_candidate_pairs": lsh_guarded_with_drops(
            docs, max_bucket_size=LSH_MAX_BUCKET
        )[0],
        "simhash_candidate_pairs": simhash_guarded_with_drops(
            docs, max_bucket_size=LSH_MAX_BUCKET
        )[0],
        "cosine_topk": cosine_topk(emb.filter("vec_id < 5"), emb),
        "window_package_docs": E._q_window_package(spark, SF_DIR),
        "ann_lsh_topk": E._q_ann_lsh(spark, SF_DIR),
        "quality_scores": E._q_quality(spark, SF_DIR),
    }

    out = [
        "# EXPLAIN audit — physical plans of the headline queries",
        "",
        "Generated by `python tools/explain_audit.py` against "
        f"`{SF_DIR}` (plans are scale-independent; only statistics differ).",
        "Each plan is followed by why it is the plan we want at 100 TB.",
        "",
    ]
    for name, df in dfs.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", NOTES[name], "", "```", buf.getvalue().rstrip(), "```", ""]
    text = "\n".join(out)
    # plan dumps embed regex literals with raw control bytes (the ASCII
    # class [\x00-\x7f]); escape them so the file stays greppable text
    text = "".join(c if c == "\n" or ord(c) >= 32 or c == "\t" else f"\\x{ord(c):02x}" for c in text)
    Path("EXPLAIN.md").write_text(text)
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
