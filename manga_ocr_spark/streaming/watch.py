"""Streaming ingestion: extract new pages as they arrive; a re-saved page
replaces its previous extraction.

The reference's CLI daemon polls a directory, keys seen work by
(path, mtime), reprocesses a re-saved file and overwrites its result
(/root/reference/manga_ocr/run.py:93-107,166-214). The Spark-native
equivalent is a Structured Streaming file source — its checkpointed
seen-files log IS the (path, mtime) set, made durable and exactly-once —
feeding the shared extraction mapInArrow and jobs/upsert.merge_upsert
through foreachBatch.

``trigger(availableNow=True)`` gives catch-up batch semantics (process
everything new, then stop) — the deployment mode a scheduled 100 TB
ingest actually uses; a ``processingTime`` trigger gives the daemon mode.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from manga_ocr_spark.jobs.extract import PAGES_SCHEMA, extract_pages
from manga_ocr_spark.jobs.upsert import merge_upsert


def run_upsert_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    num_buckets: int | None = None,
    processing_time: str | None = None,
):
    """Watch ``input_dir`` for new parquet page files, extract them and
    MERGE them on url into ``{output_dir}/extracted``: a re-saved page
    (same url, new file) REPLACES its previous extraction instead of
    appending a duplicate — the full reference daemon contract
    (run.py:107,204-206: a new mtime re-keys the work and the result
    overwrites per key).

    ``processing_time`` None runs an availableNow catch-up; a trigger
    interval (``"10 seconds"``) runs the daemon. Every micro-batch, the
    first included, is one merge_upsert call: one extraction pass, one row
    per url (latest warc_ts wins — a micro-batch can hold a page's
    original save AND its re-save), only the bucket partitions holding the
    batch's urls rewritten; the first batch finds no table and creates it.
    The table is ExtractJob's ``extracted/`` (one schema, layout and bucket
    count): ``num_buckets`` None uses the table's recorded count (a new
    table records ``NUM_BUCKETS``), and a named count that disagrees
    fails the batch unwritten.

    Exactly-once across restarts: merge_upsert stages the merged buckets
    in one staging dir, publishes a manifest of its files (the one mark
    that staging is complete) and commits it through recover_staging,
    which renames each staged bucket directory into the table. The next
    call rolls an interrupted commit forward from the manifest and drops
    a staging dir without one, whose batch the stream replays — so every
    crash window converges (see merge_upsert's protocol docstring). Rename
    is atomic per directory on local FS and HDFS, not on object stores,
    where a real deployment uses an Iceberg/Delta ``MERGE INTO``.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    table = f"{output_dir}/extracted"

    def _process(batch_df, batch_id: int) -> None:
        # foreachBatch = the reference's process_and_write_results
        # (run.py:54-90); extraction itself is the shared batch code path
        merge_upsert(spark, table, extract_pages(batch_df), num_buckets)

    writer = pages.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
