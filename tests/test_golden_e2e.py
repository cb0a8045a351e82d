"""Golden end-to-end test — the engine's correctness contract.

Mirrors /root/reference/tests/test_ocr.py:21-41: run the full pipeline over
the fixture table, join against the golden file, assert EXACT (byte-level)
equality per url. Per BASELINE.json north_rule, byte-identical extracted
text per url is THE per-row invariant.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from manga_ocr_spark.jobs.extract import extract_pages


def test_every_golden_url_matches_byte_exactly(spark, pages_df, golden_df, golden_pdf):
    extracted = extract_pages(pages_df, salt_partitions=8)
    joined = (
        extracted.join(golden_df, "url", "inner")
        .select("url", "extracted_text", "expected_text")
        .collect()
    )
    assert len(joined) == len(golden_pdf)  # every golden url was produced
    mismatches = [
        r.url
        for r in joined
        if r.extracted_text is None
        or r.extracted_text.encode("utf-8") != r.expected_text.encode("utf-8")
    ]
    assert mismatches == []


def test_hostile_rows_tolerated_not_propagated(spark, pages_df, pages_pdf):
    hostile_urls = set(pages_pdf[pages_pdf.family == "hostile"].url)
    out = extract_pages(pages_df).filter(F.col("url").isin(list(hostile_urls)))
    rows = out.collect()
    # every hostile row produces an output row (counted, not dropped)...
    assert len(rows) == len(hostile_urls)
    # ...and at least the empty-body variant yields a null extraction
    assert any(r.extracted_text is None for r in rows)
    # counters present for all
    assert all(r.n_blocks_kept >= 0 and r.n_blocks_dropped >= 0 for r in rows)


def test_counters_and_metadata_passthrough(spark, pages_df, pages_pdf):
    src = pages_pdf[pages_pdf.family == "plain"].iloc[0]
    row = extract_pages(pages_df).filter(F.col("url") == src.url).first()
    assert row.lang == src.lang
    assert row.warc_ts == src.warc_ts
    assert row.bytes_in == len(src.html)
    assert row.n_blocks_dropped >= 1  # nav/footer exist on content pages


def test_salted_repartition_spreads_skewed_hosts(spark, pages_df):
    # fixture hosts are Zipf-skewed; after the salt repartition every
    # task partition holds rows and none a grossly dominant share
    from manga_ocr_spark.jobs.extract import with_bucket

    n_parts = 8
    salted = extract_pages(pages_df, salt_partitions=n_parts)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    total = sum(counts)
    assert len(counts) == n_parts, counts
    assert max(counts) / total < 0.5  # vs ~host-0 share >0.5 unsalted
    # bucketing is stable: same url -> same bucket on repeated evaluation
    b1 = with_bucket(pages_df, 16).select("url", "bucket").collect()
    b2 = with_bucket(pages_df, 16).select("url", "bucket").collect()
    assert sorted((r.url, r.bucket) for r in b1) == sorted((r.url, r.bucket) for r in b2)


def test_plan_prunes_columns_for_metrics_only_reads(spark, pages_df, tmp_path):
    # column pruning: a metrics-style query over the parquet pages table
    # must not read the heavy html column (SURVEY §4 — "never read html for
    # metrics-only queries")
    path = str(tmp_path / "pages_parquet")
    pages_df.write.parquet(path)
    q = spark.read.parquet(path).groupBy("lang").count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan
