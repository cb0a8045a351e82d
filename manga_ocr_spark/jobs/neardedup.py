"""Production near-dedup job: guarded MinHash LSH candidates -> exact
n-gram Jaccard verification -> connected-components clustering ->
keep-set write, with the guard's capped-bucket drops aggregated into the
metrics sink.

The guard (operators/dedup.py::lsh_guarded_with_drops) trades a little
recall on degenerate mega-buckets for a bounded pair expansion — and lost
recall MUST be a counter, never silence. This job is the consumer of that
side channel: per-band (n_buckets, n_rows) capped-drop aggregates land in
``<out_dir>/metrics`` next to the kept/dropped counters, so a production
run where the cap fired is visibly different from one where it did not.

Reference analogue: the content-dedup + per-run counter semantics of
run.py:29-51 (skipped/duplicate accounting) applied at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from manga_ocr_spark.jobs.session import write_parquet
from manga_ocr_spark.operators import dedup as D

METRICS_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("band", IntegerType()),
        StructField("value", LongType()),
    ]
)


def neardedup_keep_ids(
    df: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.9,
    max_bucket_size: int = D.LSH_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The end-to-end near-dedup composition over a (doc_id, text) frame:
    guarded LSH candidates -> Jaccard >= threshold verification (on
    representatives) -> min-label clustering -> keep = docs that are
    neither non-rep exact-dup members nor non-minimum reps of a verified
    cluster.

    Returns ``(keep, rep_map, dropped)``: ``keep`` is the (doc_id) frame
    of survivors, ``rep_map`` the exact-dup fold-back, ``dropped`` the
    (band, band_key, n) buckets the hot-bucket cap removed. This is the
    same composition the oracle-checked ``neardedup_pipeline_keep`` query
    runs (the oracle recomputes it via full O(N^2) Jaccard + a recursive
    CTE), so the job's dataflow is value-verified at small scale.
    """
    cand, rep_map, dropped = D.lsh_guarded_with_drops(
        df, text_col, "doc_id", max_bucket_size=max_bucket_size
    )
    # consumed twice below (endpoint ids + the verification join) — cut
    # once so pair generation doesn't re-run per branch; the pair frame
    # is KB-scale (post-cap candidates), so the cut is cheap
    cand = cand.localCheckpoint()
    # grams only for candidate-pair ENDPOINTS, not every doc: the
    # candidate set is << N after banding+cap, and the semi-join
    # broadcasts those ids — so no non-candidate gram array (larger than
    # the text itself) is ever computed or shuffled, keeping the fused
    # tier's invariant that full-corpus text-derived rows never move
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    g = df.join(cand_ids, "doc_id", "left_semi").select(
        F.col("doc_id"), D.char_shingles(F.col(text_col)).alias("grams")
    )
    ga = g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    gb = g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size(F.array_union(F.col("ga"), F.col("gb")))
    verified = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jac", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jac") >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    clusters = D.dup_clusters(verified)
    drop_reps = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    drop_members = rep_map.filter(F.col("doc_id") != F.col("rep_id")).select("doc_id")
    drop = drop_reps.unionByName(drop_members)
    # survivors from rep_map, not df: rep_map has exactly one narrow
    # checkpointed row per input doc (NULL text included, via the
    # sentinel group), so the keep-set never replays the input lineage
    keep = rep_map.select("doc_id").join(drop, "doc_id", "left_anti")
    return keep, rep_map, dropped


def run_neardedup(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.9,
    max_bucket_size: int = D.LSH_MAX_BUCKET,
) -> dict[str, int]:
    """Run near-dedup over ``docs`` and write ``<out_dir>/keep`` (the
    surviving doc_ids) plus ``<out_dir>/metrics``:

    - counters: ``docs_in``, ``docs_kept``, ``docs_dropped`` (band NULL);
    - per band: ``capped_buckets`` (how many buckets the guard dropped)
      and ``capped_bucket_rows`` (member rows inside them) — zero rows
      when nothing was capped, so ``metric = 'capped_buckets'`` is the
      alert predicate for silent-recall-loss monitoring.

    ``docs_kept`` counts the COMMITTED parquet (read back), not the
    in-memory frame — the metric describes what the sink durably holds.
    All metrics are KB-scale driver aggregates (per-band rollups of an
    already-tiny frame), never row-scale collects. Returns the counters
    as a dict for callers/tests.
    """
    keep, rep_map, dropped = neardedup_keep_ids(
        docs, text_col, jaccard_threshold, max_bucket_size
    )
    keep.write.mode("overwrite").parquet(f"{out_dir}/keep")
    drops_by_band = (
        dropped.groupBy("band")
        .agg(F.count("*").alias("n_buckets"), F.sum("n").alias("n_rows"))
        .collect()
    )
    # docs_in from rep_map (one row per input doc, already materialized
    # from the fused base's narrow checkpointed rows) — docs.count()
    # would replay the full upstream lineage (a second text scan when
    # ``docs`` is a UDF-derived extraction frame) just to count
    n_in = rep_map.count()
    n_kept = spark.read.parquet(f"{out_dir}/keep").count()
    rows: list[tuple[str, int | None, int]] = [
        ("docs_in", None, n_in),
        ("docs_kept", None, n_kept),
        ("docs_dropped", None, n_in - n_kept),
    ]
    for r in sorted(drops_by_band, key=lambda r: int(r["band"])):
        rows.append(("capped_buckets", int(r["band"]), int(r["n_buckets"])))
        rows.append(("capped_bucket_rows", int(r["band"]), int(r["n_rows"])))
    write_parquet(spark, f"{out_dir}/metrics", rows, METRICS_SCHEMA, replace=True)
    return {"docs_in": n_in, "docs_kept": n_kept, "docs_dropped": n_in - n_kept}
