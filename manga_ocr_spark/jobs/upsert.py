"""Upsert (MERGE INTO) semantics over the bucket-partitioned parquet
layout, plus the latest-wins view.

The reference reprocesses a re-saved input when its mtime changes
(the reference's ``manga_ocr/run.py:107,204-206``) — i.e. new content under an
existing key replaces the old output. Iceberg would express this as
``MERGE INTO ... WHEN MATCHED THEN UPDATE`` with the runtime jar; this
container has none, so the same semantics are emulated:

- :func:`merge_upsert` — the write-side MERGE, and the only way rows
  enter the table: the first batch into a missing table is a merge with
  nothing to replace. The batch is reduced to one row per url and written
  once, into the one staging dir; the unchanged rows of the live buckets
  it touches are appended beside it, a manifest of the staged files
  marks staging complete, and :func:`recover_staging` — the only commit
  code — renames each staged bucket dir into the live table.
  Cost scales with |touched buckets|, never table size, while the bucket
  count is well above a batch's url count: at 2048 buckets over 100 TB,
  an update batch touching k buckets rewrites ~k/2048 of the table. Rename
  is atomic per directory on local FS and HDFS, not on object stores,
  where a real deployment uses an Iceberg/Delta ``MERGE INTO``.
- :func:`latest_wins` — one row per key, the max-``order_col`` version
  with a deterministic content-hash tie-break: merge_upsert's batch
  reduction, and the read-side view over a table that legitimately holds
  several versions per key. One window shuffle on the key.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from manga_ocr_spark.jobs.extract import table_buckets, with_bucket
from manga_ocr_spark.jobs.session import (
    delete_path,
    hadoop_fs,
    listing,
    read_file,
    rename_path,
    write_file,
)


MANIFEST = "_manifest.json"


def _staged_manifest(spark: SparkSession, staging: str) -> dict[str, dict[str, int]]:
    """{``bucket=b``: {data-file name: length}} of the staged buckets."""
    return {b: listing(spark, f"{staging}/{b}") for b in listing(spark, staging)}


def _read_manifest(spark: SparkSession, staging: str) -> dict | None:
    data = read_file(spark, f"{staging}/{MANIFEST}")
    return None if data is None else json.loads(data)


def _stage(df: DataFrame, mode: str, staging: str) -> None:
    """Write ``df`` into staging by bucket, leaving no ``_SUCCESS`` (two
    files fewer per merge): the manifest marks staging complete."""
    (
        df.write.mode(mode)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("bucket")
        .parquet(staging)
    )


def latest_wins(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: the max-``order_col`` version, ties broken
    DETERMINISTICALLY by a content hash over all columns (a micro-batch
    can hold two saves of one url with the same crawl time)."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), F.desc(F.xxhash64(*[F.col(c) for c in df.columns]))
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def merge_upsert(
    spark: SparkSession, table_dir: str, updates: DataFrame, num_buckets: int | None = None
) -> list[int]:
    """MERGE the ``updates`` rows into the parquet table at ``table_dir``,
    ``partitionBy("bucket")`` under jobs/extract.py::with_bucket's rule on
    url: matched urls are replaced, new urls inserted. The rows of
    ``updates`` give the table its columns. A missing table reads as an
    empty one, so the first batch creates it; ``table_buckets`` gives its
    bucket count (another named count raises). Returns the rewritten buckets.

    ``updates`` is evaluated once: reduced to one row per url (the latest
    ``warc_ts``; a batch can hold a page's save and its re-save; ties, or a
    batch without ``warc_ts``, fall to a content hash) and written, by
    bucket, into the sibling dir ``{table_dir}__staging_merge``, whose
    listing names the touched buckets. The unchanged rows of those that
    exist live are appended beside it (Spark cannot overwrite a path it is
    lazily reading from); the rest of the table is untouched. A corrupt
    live bucket fails the append, before any commit step. Cost scales
    with the touched buckets only while the bucket count B is well above a
    batch's url count: n urls miss a bucket with probability
    ``(1 - 1/B) ** n``, ~0.1% for 108 urls over 16 buckets.

    Commit protocol — staging is the write-ahead copy, dropped only after
    the live table verifiably holds its files:

    1. Recover (:func:`recover_staging`): roll a leftover staging dir
       that holds a manifest forward; drop one without as debris — the
       table was never touched. Then check the bucket count.
    2. Stage the batch, then the unchanged live rows, then atomically
       write ``{staging}/_manifest.json`` (tmp file, then rename) mapping
       each staged bucket to its data-file names and lengths: the one
       mark that staging is complete. A crash before the rename leaves
       staging for step 1 to drop; the replay applies again.
    3. Commit, through :func:`recover_staging`: for each manifest bucket
       still under staging, delete the live ``bucket=b`` dir and rename
       the staged one into place (a Hadoop rename onto an existing dir
       would nest the source inside it).
    4. Verify: the live listing of those buckets must equal the manifest,
       else raise and keep staging.
    5. Drop staging.

    Steps 3-5 are Hadoop FS calls only, no Spark job. A replayed streaming
    batch re-enters at step 1, so every crash window converges to the
    correct table with the merge applied exactly once. Rename is atomic
    per directory (so the commit is atomic per bucket) on local FS and
    HDFS, not on object stores, where a real deployment uses an
    Iceberg/Delta ``MERGE INTO`` — also the answer for concurrent writers,
    which this does not support (nor does the reference's single daemon).
    """
    staging = f"{table_dir}__staging_merge"
    recover_staging(spark, table_dir)
    num_buckets = table_buckets(spark, table_dir, num_buckets)

    # without a crawl time the url itself orders the rows: the hash decides
    order = "warc_ts" if "warc_ts" in updates.columns else "url"
    updates = with_bucket(latest_wins(updates, ["url"], order), num_buckets)
    _stage(updates, "overwrite", staging)
    touched = listing(spark, staging)
    if not touched:
        delete_path(spark, staging)
        return []
    live = listing(spark, table_dir)
    live_touched = [f"{table_dir}/{b}" for b in touched if b in live]
    if live_touched:
        read = spark.read.schema(updates.schema)
        # the staged files are listed here, before the append writes any
        batch = read.parquet(staging)
        existing = read.option("basePath", table_dir).parquet(*live_touched)
        _stage(existing.join(batch.select("url"), "url", "left_anti"), "append", staging)
    manifest = json.dumps(_staged_manifest(spark, staging), sort_keys=True)
    write_file(spark, f"{staging}/{MANIFEST}", manifest.encode())
    recover_staging(spark, table_dir)
    return sorted(int(b.split("=", 1)[1]) for b in touched)


def _commit_staging(spark: SparkSession, staging: str, table_dir: str) -> None:
    """Swap every manifest bucket directory still under staging into the
    live table (delete live, rename staged). Idempotent: a bucket already
    renamed is no longer under staging."""
    manifest = _read_manifest(spark, staging)
    fs, p = hadoop_fs(spark, table_dir)
    fs.mkdirs(p)
    staged = listing(spark, staging)
    for b in sorted(manifest):
        if b in staged:
            delete_path(spark, f"{table_dir}/{b}")
            rename_path(spark, f"{staging}/{b}", f"{table_dir}/{b}")


def _verify_and_drop_staging(spark: SparkSession, staging: str, table_dir: str) -> None:
    """Delete staging ONLY once the live listing of every manifest bucket
    equals the manifest (data-file names and lengths); on mismatch raise
    and keep staging for the next recovery (an unverified drop would turn
    a loud commit failure into silent row loss)."""
    manifest = _read_manifest(spark, staging)
    bad = sorted(b for b in manifest if listing(spark, f"{table_dir}/{b}") != manifest[b])
    if bad:
        raise RuntimeError(
            f"merge_upsert commit verification failed: live buckets {bad} differ from "
            f"the manifest (file names, lengths); staging at {staging} is kept for recovery"
        )
    delete_path(spark, staging)


def recover_staging(spark: SparkSession, table_dir: str) -> bool:
    """Commit a :func:`merge_upsert` staging dir that holds a manifest, if
    any: the only code that commits, verifies and drops staging.

    Returns True when such a dir was found and rolled forward:
    merge_upsert's own commit, or one that died during its commit. Safe to
    call any time; merge_upsert calls it on every entry, before it lists
    the live table (a mid-commit crash can leave the table missing
    buckets, or missing altogether, while staging holds the only good
    copy), and again once it has published the manifest. A staging dir
    without one is dropped: no rename has happened, so the table was never
    touched. A crash DURING recovery just leaves staging in place for the
    next attempt.
    """
    staging = f"{table_dir}__staging_merge"
    if _read_manifest(spark, staging) is None:
        # no staging, or an incomplete one
        delete_path(spark, staging)
        return False
    _commit_staging(spark, staging, table_dir)
    _verify_and_drop_staging(spark, staging, table_dir)
    return True
