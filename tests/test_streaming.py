"""Structured-Streaming ingestion tests (streaming/watch.py).

The reference's directory-monitor daemon (run.py:189-214) processes new
files exactly once across polls; the Spark file source's checkpointed
seen-files log provides the same semantics durably.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException

from manga_ocr_spark.fixtures.pages import generate_pages
from manga_ocr_spark.streaming.watch import run_upsert_stream
from tests.test_upsert import _publish_manifest


def _write_batch(spark, pdf: pd.DataFrame, path: str) -> None:
    spark.createDataFrame(pdf.drop(columns=["family"])).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_available_now_catchup_and_incremental(spark, tmp_path):
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    all_pages = generate_pages(42, seed=11)
    first, second = all_pages.iloc[:21], all_pages.iloc[21:]

    _write_batch(spark, first, indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(f"{outdir}/extracted")
    assert got1.count() == 21

    # new files arrive; a second catch-up batch processes ONLY them
    _write_batch(spark, second, indir)
    q2 = run_upsert_stream(spark, indir, outdir, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(f"{outdir}/extracted")
    assert got2.count() == 42
    # exactly-once: no url processed twice across the two runs
    assert got2.groupBy("url").count().filter("count > 1").count() == 0

    # restart with nothing new: no-op
    q3 = run_upsert_stream(spark, indir, outdir, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(f"{outdir}/extracted").count() == 42


def test_streaming_upsert_replaces_resaved_page(spark, tmp_path):
    # the full reference-daemon contract (run.py:107,204-206): a re-saved
    # input (same url, new file/mtime) is reprocessed and its extraction
    # REPLACES the old row — reader sees exactly the new text, no dups
    import datetime as dt

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA, with_bucket

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 3, 1)

    def page(i: int, body: str):
        return (
            f"https://x/{i}",
            ts,
            f"<html><body><p>{body}</p></body></html>".encode(),
            "t",
            "en",
        )

    spark.createDataFrame(
        [page(i, f"original body text number {i}") for i in range(10)], PAGES_SCHEMA
    ).coalesce(1).write.mode("append").parquet(indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4)
    q.awaitTermination(120)
    table = f"{outdir}/extracted"
    assert spark.read.parquet(table).count() == 10

    # re-save page 3 with new content (new file => new mtime => new work)
    spark.createDataFrame(
        [page(3, "REVISED body text after edit")], PAGES_SCHEMA
    ).coalesce(1).write.mode("append").parquet(indir)
    q2 = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4)
    q2.awaitTermination(120)

    out = spark.read.parquet(table)
    assert out.count() == 10  # replaced, not appended
    row = out.filter("url = 'https://x/3'").collect()
    assert len(row) == 1
    assert "REVISED" in row[0].extracted_text
    assert out.groupBy("url").count().filter("count > 1").count() == 0

    # one microbatch carrying BOTH a save and a later re-save of the same
    # url (availableNow can batch them together): latest warc_ts wins,
    # still exactly one row per url
    spark.createDataFrame(
        [
            ("https://x/5", ts, b"<html><body><p>mid version five</p></body></html>", "t", "en"),
            (
                "https://x/5",
                ts + dt.timedelta(hours=1),
                b"<html><body><p>FINAL version five</p></body></html>",
                "t",
                "en",
            ),
        ],
        PAGES_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(indir)
    q3 = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4)
    q3.awaitTermination(120)
    out = spark.read.parquet(table)
    assert out.count() == 10
    (r5,) = out.filter("url = 'https://x/5'").collect()
    assert "FINAL" in r5.extracted_text

    # every merge, the first included, places a url by the one bucket
    # rule, so a re-saved page can never land in a second bucket
    placed = out.select("url", "bucket").collect()
    expected = with_bucket(out.select("url"), 4).collect()
    assert sorted(placed) == sorted(expected)


def _page(i: int, body: str, days: int = 0):
    import datetime as dt

    t = dt.datetime(2024, 3, 1) + dt.timedelta(days=days)
    return (f"https://x/{i}", t, f"<html><body><p>{body}</p></body></html>".encode(), "t", "en")


def _arrive(spark, rows, indir: str) -> None:
    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(indir)


def test_stream_into_an_extract_job_table_keeps_its_contract(spark, tmp_path):
    # a batch backfill and a stream write one extracted/ table: the stream
    # re-saving a url replaces its row, and every data file, whichever
    # writer wrote it, has the EXTRACTED_SCHEMA columns
    import glob

    import pyarrow.parquet as pq

    from manga_ocr_spark.jobs.extract import EXTRACTED_SCHEMA, PAGES_SCHEMA, ExtractJob

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    pages = [_page(i, f"original body text number {i}") for i in range(10)]
    ExtractJob(spark, outdir, num_buckets=4, commit_group_size=4).run(
        spark.createDataFrame(pages, PAGES_SCHEMA)
    )
    _arrive(spark, [_page(3, "REVISED body text after edit", days=1)], indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4)
    q.awaitTermination(120)
    assert q.exception() is None
    out = spark.read.parquet(f"{outdir}/extracted")
    assert out.count() == 10 and out.select("url").distinct().count() == 10
    (row,) = out.filter("url = 'https://x/3'").collect()
    assert row.extracted_text == "REVISED body text after edit"
    files = glob.glob(f"{outdir}/extracted/bucket=*/*.parquet")
    assert files
    for f in files:
        assert pq.read_schema(f).names == EXTRACTED_SCHEMA.names, f


def test_default_stream_into_a_default_extract_job_table(spark, tmp_path):
    # neither writer names a bucket count: the stream merges under the
    # count the backfill recorded, so a re-saved url keeps one row
    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA, ExtractJob

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    pages = [_page(i, f"original body text number {i}") for i in range(10)]
    ExtractJob(spark, outdir).run(spark.createDataFrame(pages, PAGES_SCHEMA))
    _arrive(spark, [_page(3, "REVISED body text after edit", days=1)], indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt)
    q.awaitTermination(120)
    assert q.exception() is None
    out = spark.read.parquet(f"{outdir}/extracted")
    assert out.count() == 10 and out.select("url").distinct().count() == 10
    (row,) = out.filter("url = 'https://x/3'").collect()
    assert row.extracted_text == "REVISED body text after edit"


def test_stream_with_another_bucket_count_fails_unwritten(spark, tmp_path):
    # the stream pins its bucket count to the table like ExtractJob does:
    # a restart with another count fails the batch before it writes
    from tests.test_upsert import _live_files

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    table = f"{outdir}/extracted"
    _arrive(spark, [_page(i, f"first body text {i}") for i in range(5)], indir)
    run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4).awaitTermination(120)
    before = _live_files(table)
    _arrive(spark, [_page(2, "RESAVED body text two", days=1)], indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=8)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert "num_buckets=4" in str(q.exception())
    assert _live_files(table) == before


def test_daemon_mode_replaces_resaved_page(spark, tmp_path):
    # T1 + T4 in one running query: the processingTime daemon picks up a
    # re-saved file while it stays up, and its extraction replaces the
    # url's row — one row per url, holding the new text
    import datetime as dt
    import time

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    table = f"{outdir}/extracted"
    ts = dt.datetime(2024, 3, 1)

    def page(i: int, body: str, t=ts):
        return (f"https://x/{i}", t, f"<html><body><p>{body}</p></body></html>".encode(), "t", "en")

    def text_of(url: str):
        # a commit swaps bucket dirs under a concurrent reader: retry
        try:
            return [r.extracted_text for r in spark.read.parquet(table).filter(f"url = '{url}'").collect()]
        except Exception:
            return None

    def wait_for(cond) -> None:
        deadline = time.time() + 90
        while time.time() < deadline and not cond():
            time.sleep(1)

    spark.createDataFrame(
        [page(i, f"original body text number {i}") for i in range(6)], PAGES_SCHEMA
    ).coalesce(1).write.mode("append").parquet(indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4, processing_time="1 seconds")
    try:
        wait_for(lambda: text_of("https://x/5") == ["original body text number 5"])
        spark.createDataFrame(
            [page(2, "REVISED body text after edit", ts + dt.timedelta(days=1))], PAGES_SCHEMA
        ).coalesce(1).write.mode("append").parquet(indir)
        wait_for(lambda: text_of("https://x/2") == ["REVISED body text after edit"])
    finally:
        q.stop()
    assert q.exception() is None
    out = spark.read.parquet(table)
    assert out.count() == 6
    assert out.groupBy("url").count().filter("count > 1").count() == 0
    assert [r.extracted_text for r in out.filter("url = 'https://x/2'").collect()] == [
        "REVISED body text after edit"
    ]


def test_stateful_host_counters_accumulate_across_restarts(spark, tmp_path):
    # applyInPandasWithState: per-host running counters survive a restart
    # via the checkpoint (the daemon's in-memory state made durable)
    import datetime as dt

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA
    from manga_ocr_spark.streaming.stateful import run_host_stats

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 3, 1)

    def rows(host: str, n: int, size: int):
        return [
            (f"https://{host}/p{i}", ts, b"x" * size, "t", "en") for i in range(n)
        ]

    spark.createDataFrame(rows("a.com", 3, 10) + rows("b.com", 1, 7), PAGES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(indir)
    outdir = str(tmp_path / "stats")
    q = run_host_stats(spark, indir, ckpt, outdir)
    q.awaitTermination(120)

    def latest(d):
        import pyspark.sql.functions as F

        rows_ = spark.read.parquet(d).groupBy("host").agg(
            F.max("n_pages").alias("n"), F.max("total_bytes").alias("b")
        ).collect()
        return {r.host: (r.n, r.b) for r in rows_}

    assert latest(outdir) == {"a.com": (3, 30), "b.com": (1, 7)}

    # second batch of files, fresh query on the SAME checkpoint: counters continue
    spark.createDataFrame(rows("a.com", 2, 10), PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(indir)
    q2 = run_host_stats(spark, indir, ckpt, outdir)
    q2.awaitTermination(120)
    assert latest(outdir)["a.com"] == (5, 50)  # 3+2 pages, 30+20 bytes


def test_upsert_stream_recovers_before_bootstrap_probe(spark, tmp_path):
    # a mid-commit crash can leave the TABLE missing while the complete
    # staging dir holds the only good copy. The replayed batch must
    # recover from staging FIRST — listing the live table first would
    # read it as empty (dropping every prior key from the merge) and
    # leave stale staging to clobber the next merge.
    import datetime as dt
    import shutil

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 3, 1)

    def page(i: int, body: str, t=ts):
        return (
            f"https://x/{i}",
            t,
            f"<html><body><p>{body}</p></body></html>".encode(),
            "t",
            "en",
        )

    spark.createDataFrame(
        [page(i, f"original body {i}") for i in range(10)], PAGES_SCHEMA
    ).coalesce(1).write.mode("append").parquet(indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4)
    q.awaitTermination(120)
    table = f"{outdir}/extracted"
    assert spark.read.parquet(table).count() == 10

    # simulate the crash window: the completed merge staging survives
    # (full copy of every bucket) while the table itself was wiped by the
    # interrupted rename commit
    staging = f"{table}__staging_merge"
    shutil.copytree(table, staging)
    _publish_manifest(spark, staging)
    shutil.rmtree(table)

    # next batch arrives and the stream replays/continues
    spark.createDataFrame(
        [page(3, "REVISED after crash", dt.datetime(2024, 3, 2))], PAGES_SCHEMA
    ).coalesce(1).write.mode("append").parquet(indir)
    q2 = run_upsert_stream(spark, indir, outdir, ckpt, num_buckets=4)
    q2.awaitTermination(120)

    out = spark.read.parquet(table)
    assert out.count() == 10  # every pre-crash key restored from staging
    assert "REVISED" in out.filter("url = 'https://x/3'").collect()[0].extracted_text
    assert out.filter("url = 'https://x/7'").count() == 1  # untouched key survived
    import os

    assert not os.path.exists(staging)
