"""Streaming ingestion: extract new pages as they arrive.

The reference's CLI daemon polls a directory, keys seen work by
(path, mtime), and appends results to a sink
(/root/reference/manga_ocr/run.py:93-107,166-214). The Spark-native
equivalent is a Structured Streaming file source — its checkpointed
seen-files log IS the (path, mtime) set, made durable and exactly-once —
feeding the same extraction mapInArrow and an append sink via
foreachBatch.

``trigger(availableNow=True)`` gives catch-up batch semantics (process
everything new, then stop) — the deployment mode a scheduled 100 TB
ingest actually uses; a ``processingTime`` trigger gives the daemon mode.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from manga_ocr_spark.jobs.extract import PAGES_SCHEMA, extract_pages, with_bucket


def run_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
):
    """Watch ``input_dir`` for new parquet page files; extract; append.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)

    def _process(batch_df, batch_id: int) -> None:
        # foreachBatch = the reference's process_and_write_results
        # (run.py:54-90); extraction itself is the shared batch code path.
        extracted = extract_pages(batch_df).drop("ok", "bytes_in")
        extracted.write.mode("append").parquet(f"{output_dir}/extracted")

    writer = pages.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_upsert_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    num_buckets: int = 8,
):
    """Streaming ingest with UPSERT semantics: a re-saved page (same url,
    new file) REPLACES its previous extraction instead of appending a
    duplicate — the full reference daemon contract (run.py:107,204-206:
    a new mtime re-keys the work and the result overwrites per key).

    foreachBatch runs the shared batch extraction, pre-reduces the batch
    to one row per url (latest warc_ts wins — one microbatch can hold a
    page's original save AND its re-save), then MERGEs on url via
    jobs/upsert.merge_upsert — only the bucket partitions containing
    updated urls are rewritten. First batch bootstraps the table with a
    plain bucketed write; table existence is probed through Spark (not
    the driver's local filesystem — the table may live on a DFS) and ONLY
    a definitive path-not-found maps to "bootstrap": any other read
    failure on a healthy table (DFS hiccup, permissions, corrupt footer)
    raises, failing the batch so the stream retries instead of letting the
    bootstrap branch's mode('overwrite') truncate the accumulated table.

    Exactly-once across restarts: merge_upsert stages the merged buckets,
    writes a commit manifest, then renames each staged bucket directory
    into the table; the next call rolls an interrupted commit forward from
    the manifest — a replayed microbatch re-enters recovery, so every
    crash window converges (see jobs/upsert.merge_upsert's protocol
    docstring). Rename is atomic per directory on local FS and HDFS, not
    on object stores, where a real deployment uses an Iceberg/Delta
    ``MERGE INTO``.
    """
    from manga_ocr_spark.jobs.upsert import (
        merge_upsert,
        recover_staging,
        reduce_latest,
        table_exists,
    )

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    table = f"{output_dir}/extracted"

    def _process(batch_df, batch_id: int) -> None:
        extracted = extract_pages(batch_df).drop("ok", "bytes_in")
        # recovery BEFORE the existence probe: a crash mid-commit can leave
        # the table empty/unreadable while the complete staging dir holds
        # the only good copy — probing first would route this replay into
        # the bootstrap overwrite (dropping every prior key) and leave the
        # stale staging to clobber the fresh table on the NEXT merge
        recover_staging(spark, table)
        if not table_exists(spark, table):
            # the same bucket rule merge_upsert applies on url, or a
            # re-saved page would land in a second bucket
            bucketed = with_bucket(reduce_latest(extracted, ["url"], "warc_ts"), num_buckets)
            bucketed.write.mode("overwrite").partitionBy("bucket").parquet(table)
        else:
            merge_upsert(
                spark,
                table,
                extracted,
                key_cols=["url"],
                num_buckets=num_buckets,
                dedupe_order_col="warc_ts",
            )

    return (
        pages.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
