"""Tests for source adapters: XML explode (S5), filename-encoded
provenance (S7), and streaming watermark dedup (T3/O4)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Row, functions as F

from manga_ocr_spark.sources.xml_annotations import explode_xml


def test_xml_explode_flattens_elements(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, xml="<doc><title>t1</title><line>hello</line></doc>"),
            Row(doc_id=2, xml="<doc><line> padded </line></doc>"),
        ]
    )
    rows = {(r.doc_id, r.seq): r for r in explode_xml(df).collect()}
    assert rows[(1, 1)].tag == "title" and rows[(1, 1)].content == "t1"
    assert rows[(1, 2)].tag == "line" and rows[(1, 2)].content == "hello"
    assert rows[(2, 1)].content == "padded"  # stripped


def test_xml_explode_nested_and_malformed(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, xml="<a><b>x<c>y</c></b></a>"),
            Row(doc_id=2, xml="<unclosed><broken"),
            Row(doc_id=3, xml=""),
        ]
    )
    out = explode_xml(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {r.tag for r in by_doc[1]} == {"b", "c"}  # nested subtree walked
    assert 2 not in by_doc and 3 not in by_doc  # malformed -> zero rows, no crash


def test_filename_encoded_provenance(spark, tmp_path):
    # S7: schema encoded in file paths — input_file_name + regexp_extract
    # (get_background_df analogue, common/utils.py:16-57)
    for pkg in ("0001", "0002"):
        pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]})
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"pkg_{pkg}")
        )
    df = spark.read.parquet(str(tmp_path / "pkg_*"))
    out = (
        df.withColumn("pkg", F.regexp_extract(F.input_file_name(), r"pkg_(\d{4})", 1))
        .groupBy("pkg")
        .count()
        .collect()
    )
    assert {(r.pkg, r["count"]) for r in out} == {("0001", 2), ("0002", 2)}


def test_streaming_watermark_dedup(spark, tmp_path):
    # T3/O4: the clipboard-dedup analogue — duplicate urls arriving within
    # the watermark window are emitted once, exactly-once across restarts
    import datetime as dt

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    ts = dt.datetime(2024, 3, 1, 12, 0)
    rows = [
        ("https://x/dup", ts, b"<p>same page content here</p>", "t", "en"),
        ("https://x/dup", ts + dt.timedelta(minutes=5), b"<p>same page content here</p>", "t", "en"),
        ("https://x/other", ts, b"<p>another page content</p>", "t", "en"),
    ]
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(indir)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(indir)
        .withWatermark("warc_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["url"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(outdir)
    assert got.count() == 2
    assert got.filter(F.col("url") == "https://x/dup").count() == 1


def test_csv_source_roundtrip_with_schema(spark, tmp_path):
    # S6: CSV metadata tables (the reference's lines/fonts/meta CSVs) —
    # explicit schema, header, round-trip fidelity
    import pandas as pd

    pdf = pd.DataFrame(
        {"source": ["cc-100", "cc-100"], "id": ["cc-100_1", "cc-100_2"],
         "line": ["first line, with comma", 'second "quoted" line']}
    )
    path = str(tmp_path / "lines_csv")
    spark.createDataFrame(pdf).write.option("header", True).csv(path)
    back = (
        spark.read.schema("source string, id string, line string")
        .option("header", True)
        .csv(path)
    )
    got = {r.id: r.line for r in back.collect()}
    assert got == {"cc-100_1": "first line, with comma", "cc-100_2": 'second "quoted" line'}


def test_orc_sink_roundtrip(spark, tmp_path):
    # K4 in another columnar format: same table through ORC
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    path = str(tmp_path / "orc")
    df.write.orc(path)
    assert spark.read.orc(path).selectExpr("sum(v)").collect()[0][0] == 9900


def test_daemon_mode_processing_time_trigger(spark, tmp_path):
    # T1: the daemon loop (run.py:166-214) — a processingTime trigger
    # processes files as they arrive while the query stays up
    import time

    import pandas as pd

    from manga_ocr_spark.fixtures.pages import generate_pages
    from manga_ocr_spark.streaming.watch import run_upsert_stream

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

    def poll(n: int) -> None:
        # a commit swaps bucket dirs under a concurrent reader: retry
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(f"{outdir}/extracted").count() == n:
                    return
            except Exception:
                pass
            time.sleep(1)

    first = generate_pages(14, seed=3)
    spark.createDataFrame(first.drop(columns=["family"])).coalesce(1).write.mode(
        "append"
    ).parquet(indir)
    q = run_upsert_stream(spark, indir, outdir, ckpt, processing_time="1 seconds")
    try:
        poll(14)
        assert spark.read.parquet(f"{outdir}/extracted").count() == 14
        # drop more files in while the daemon runs
        second = generate_pages(28, seed=4).iloc[14:]
        spark.createDataFrame(second.drop(columns=["family"])).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
        poll(28)
        assert spark.read.parquet(f"{outdir}/extracted").count() == 28
    finally:
        q.stop()
