"""Physical-plan regression tests: the plan IS part of the contract at
100 TB. These pin the optimizer behavior the engine relies on (SURVEY.md
§4): broadcast joins for dimensions, predicate pushdown into scans, map-side
partial aggregation, and a shuffle-free extraction map stage.

Plans come from sf0.001 parquet (real scans, so PushedFilters appear)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q3_broadcasts_customer_dim(spark):
    assert "BroadcastHashJoin" in _plan(E._q3_top_revenue(spark, SF_DIR))


def test_q5_broadcasts_nation_region(spark):
    plan = _plan(E._q5_region_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2


def test_q1_pushes_shipdate_filter_into_scan(spark):
    plan = _plan(E._q1_pricing(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_q1_uses_partial_aggregation(spark):
    plan = _plan(E._q1_pricing(spark, SF_DIR))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_q1_prunes_unused_columns(spark):
    plan = _plan(E._q1_pricing(spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # not referenced by q1
    assert "l_quantity" in read_schema


def test_extraction_map_stage_is_shuffle_free(spark):
    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) as url",
        "current_timestamp() as warc_ts",
        "encode(text, 'UTF-8') as html",
        "text",
        "lang",
    )
    from manga_ocr_spark.jobs.extract import extract_pages

    assert "Exchange" not in _plan(extract_pages(pages))  # pure map job
    salted = _plan(extract_pages(pages, salt_partitions=8))
    assert salted.count("Exchange") == 1  # exactly the salt repartition


def test_extraction_prunes_wet_text_column(spark):
    # the unused WET `text` column must not reach the UDF boundary
    from manga_ocr_spark.jobs.extract import extract_pages
    from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = pages_from_documents(docs)
    # ExtractJob coalesces a commit group before extract_pages and salts
    # inside it: neither may carry `text` to the UDF
    for ext in (
        extract_pages(pages),
        extract_pages(pages.coalesce(2)),
        extract_pages(pages, salt_partitions=8),
    ):
        plan = _optimized(ext)
        map_line = [ln for ln in plan.splitlines() if "MapInArrow" in ln][0]
        assert "url" in map_line and "html" in map_line
        assert map_line.count("text") == 1  # only extracted_text output, no input text


class _Stop(Exception):
    pass


@pytest.mark.parametrize("salt", [None, 8])
def test_commit_group_keeps_the_udf_in_the_write_result_stage(spark, tmp_path, monkeypatch, salt):
    # the extraction tasks sum a group's stats into an accumulator, and
    # Spark re-applies a shuffle-map task's accumulator update when its
    # stage re-runs (a result task's, once): no Exchange may sit above
    # MapInArrow in the frame ExtractJob writes
    import manga_ocr_spark.jobs.extract as X
    from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents

    pages = pages_from_documents(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    real, frames = X.extract_pages, []

    def capture(*args, **kwargs):
        frames.append(real(*args, **kwargs))
        raise _Stop  # before the write: the plan is all this test needs

    monkeypatch.setattr(X, "extract_pages", capture)
    job = X.ExtractJob(spark, str(tmp_path / "out"), num_buckets=4, commit_group_size=2,
                       salt_partitions=salt)
    with pytest.raises(_Stop):
        job.run(pages)
    lines = _plan(frames[0]).splitlines()
    udf = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    assert not any("Exchange" in ln for ln in lines[:udf]), lines
    assert sum("Exchange" in ln for ln in lines) == (1 if salt else 0)


def test_exact_dedup_semi_join_broadcasts(spark):
    from manga_ocr_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert "LeftSemi" in plan
    assert "partial_min" in plan  # dedup keys aggregated map-side


def test_anti_join_resume_shape(spark):
    plan = _plan(E._q_anti_join(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_neardedup_pipeline_never_builds_a_cross_join(spark):
    # the end-to-end near-dedup query must stay candidate-driven: LSH
    # buckets -> equi-joins only. A cartesian/nested-loop join anywhere
    # means the O(N^2) pair space materialized — the thing the two-tier
    # design exists to prevent at 10^12 docs.
    import __spark_entry__ as E

    df = E.queries()["neardedup_pipeline_keep"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_tables_join_without_shuffle(spark):
    # X4 at its strongest: pre-bucketed tables co-locate join keys at
    # write time — the join plan has NO Exchange (at 100 TB this is the
    # difference between a free join and shuffling the fact table)
    import uuid

    a_name = f"t_a_{uuid.uuid4().hex[:8]}"
    b_name = f"t_b_{uuid.uuid4().hex[:8]}"
    a = spark.range(10_000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(10_000).selectExpr("id as k", "id * 3 as vb")
    a.write.bucketBy(8, "k").sortBy("k").saveAsTable(a_name)
    b.write.bucketBy(8, "k").sortBy("k").saveAsTable(b_name)
    try:
        # hint forces a sort-merge join (the tables are small enough that
        # broadcast would otherwise win and hide the bucketing)
        j = spark.table(a_name).hint("merge").join(spark.table(b_name), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle either side
        assert j.count() == 10_000
    finally:
        spark.sql(f"drop table if exists {a_name}")
        spark.sql(f"drop table if exists {b_name}")


def test_window_package_has_no_single_partition_exchange(spark):
    # W1 packaging uses two-phase ranking (operators/ranking.py): the plan
    # must contain a PARTITIONED window, never the Exchange SinglePartition
    # + global sort an un-partitioned Window.orderBy would plan — that
    # shape funnels all 10^12 rows through one task.
    plan = _plan(E._q_window_package(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan  # the local rank is still a window


def test_extract_corpus_has_no_global_sort(spark):
    # the driver's value-hash is order-insensitive; a global orderBy would
    # be pure shuffle+sort cost at scale
    plan = _plan(E.queries()["extract_corpus"](spark, SF_DIR))
    assert "rangepartitioning" not in plan.lower()


def test_quality_panel_is_one_shuffle_free_scan(spark):
    # the full text-analysis panel — including the Gopher repetition
    # fractions (sort + longest-run fold) — must stay a single scan of
    # pure codegen expressions: no Exchange, no join, anywhere
    plan = _plan(E.queries()["quality_scores"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_debug_blocks_column_absent_from_hot_path(spark):
    # K6 debug side output is opt-in: the DEFAULT extraction schema must
    # not carry the blocks array (it re-ships all block text through
    # Arrow), and the debug variant must still prune the WET text column
    # from the scan and stay shuffle-free.
    from manga_ocr_spark.jobs.extract import extract_pages
    from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = pages_from_documents(docs)
    assert "blocks" not in extract_pages(pages).columns
    dbg = extract_pages(pages, debug_blocks=True)
    assert dbg.columns[-1] == "blocks"
    plan = _optimized(dbg)
    map_line = [ln for ln in plan.splitlines() if "MapInArrow" in ln][0]
    assert "html" in map_line and "blocks#" in map_line
    assert map_line.count("text") == 1  # only extracted_text output, no WET input text
    assert "Exchange" not in _plan(dbg)


def test_warc_range_sort_is_narrow(spark):
    # sortWithinPartitions on the CDX index must stay a NARROW sort —
    # an accidental global orderBy would shuffle the whole index
    from manga_ocr_spark.sources.warc import pages_from_warc_ranges

    idx = spark.createDataFrame(
        [("f.warc.gz", 0, 100), ("f.warc.gz", 100, 100)],
        "path string, offset long, length long",
    ).repartition(2)
    plan = _plan(pages_from_warc_ranges(spark, idx))
    assert "rangepartitioning" not in plan.lower()  # no global sort shuffle
    assert plan.count("Exchange") == 1  # only the test's own repartition
    assert "Sort" in plan  # the per-partition sort is present


def test_guarded_candidates_fused_base_and_materialized_join(spark):
    # r7 fused guard: ONE pass over the text computes the exact-dup md5
    # fingerprint AND the signature side by side (text scanned once,
    # never shuffled), ONE window shuffle collapses exact-dup groups to
    # rep_id, and the materialized pair plan scans only that checkpointed
    # (id, rep_id, sig) frame — the fused base is the only job that
    # touches text.
    from manga_ocr_spark.operators.dedup import (
        _fused_rep_base,
        lsh_guarded_with_drops,
        minhash_signature,
        simhash_guarded_with_drops,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)

    for guarded in (lsh_guarded_with_drops, simhash_guarded_with_drops):
        pairs, _, _ = guarded(docs)
        plan = _plan(pairs)
        assert "EvalPython" not in plan  # signatures ran at checkpoint time
        assert "FileScan" not in plan  # the text is never read again
        assert "Scan ExistingRDD" in plan
        # pairs come from a bounded in-bucket collect_list expansion, not
        # a bucket self-join. The cap's count aggregate runs INSIDE this
        # single evaluation with map-side partial aggregation (the
        # skew-safety property: an uncapped mega-bucket never concentrates
        # its rows), and the capped buckets are removed by a left-anti
        # BROADCAST of the tiny oversized list — never a second shuffle
        # of the bucket rows (r7: the r6 keep-side semi join shipped the
        # unbroadcastable-at-scale keep list instead).
        assert "collect_list" in plan
        assert "partial_count" in plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        # only the cap's two branches read the rep base; the r6 form
        # re-ran a first(sig) SortAggregate chain per branch on top
        assert plan.count("Scan ExistingRDD") <= 2
        assert "SortAggregate" not in plan

    # the base job: the signature UDF + fingerprint md5 in one pass over
    # the text, then EXACTLY ONE Exchange (the fingerprint window that
    # attaches rep_id) — the r6 form spent three shuffled scans (rep_map
    # groupBy + join back, rep_rows groupBy) on the same collapse
    base = _fused_rep_base(docs, "text", "doc_id", minhash_signature(F.col("text")), "sig")
    bplan = _plan(base)
    assert bplan.count("Exchange") == 1
    assert "Window" in bplan
    # the fingerprint md5 and the signature UDF both live below that
    # single exchange — one pass over the text (no per-line split: the
    # whitespace-class literal embeds a real newline in the plan print)
    assert "ArrowEvalPython" in bplan and "md5" in bplan
