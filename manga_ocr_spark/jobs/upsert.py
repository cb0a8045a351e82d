"""Upsert (MERGE INTO) semantics over the bucket-partitioned parquet
layout, plus the latest-wins dedup-on-read view.

The reference reprocesses a re-saved input when its mtime changes
(/root/reference/manga_ocr/run.py:107,204-206) — i.e. new content under an
existing key replaces the old output. Iceberg would express this as
``MERGE INTO ... WHEN MATCHED THEN UPDATE`` with the runtime jar; this
container has none, so the same semantics are emulated two ways:

- :func:`merge_upsert` — the write-side MERGE: rewrite ONLY the bucket
  partitions that contain updated keys (partition-pruned read, anti-join
  out the matched rows, union the updates, dynamic-partition-overwrite
  those buckets). Cost scales with |touched buckets|, never table size —
  at 2048 buckets over 100 TB, an update batch touching k buckets
  rewrites ~k/2048 of the table.
- :func:`latest_wins` — the read-side view: when a table legitimately
  holds multiple versions per key (append-only ingest), readers take the
  max-``order_col`` row per key. One window shuffle on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from manga_ocr_spark.jobs.session import error_class


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works for
    local paths in this sandbox and any DFS a real cluster mounts."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def table_exists(spark: SparkSession, path: str) -> bool:
    """True iff a readable parquet table exists at ``path``.

    Only the definitive "nothing there" AnalysisExceptions map to False
    (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA — an empty directory).
    Everything else — corrupt footers, permission errors, transient DFS
    hiccups — RE-RAISES: a caller that treats "cannot read right now" as
    "does not exist" would route into a bootstrap branch whose
    mode('overwrite') replaces the whole accumulated table with one batch.
    Failing the batch so the stream retries is the safe outcome.
    """
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException as e:
        if error_class(e) in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return False
        raise


def latest_wins(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: the max-``order_col`` version. ``order_col`` must
    be unique per key (an ingest timestamp or monotone version number) so
    row_number is deterministic."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def reduce_latest(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: max ``order_col``, ties broken DETERMINISTICALLY
    by a content hash over all columns (unlike :func:`latest_wins`, which
    requires a unique order column). Used to pre-reduce update batches
    that may carry several versions of one key."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), F.desc(F.xxhash64(*[F.col(c) for c in df.columns]))
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    num_buckets: int,
    dedupe_order_col: str | None = None,
) -> list[int]:
    """MERGE the ``updates`` rows into the parquet table at ``table_dir``
    (which must be ``partitionBy("bucket")`` with
    ``bucket = pmod(xxhash64(key_cols...), num_buckets)``): matched keys
    are replaced, new keys inserted. Returns the rewritten buckets.

    Only the affected bucket partitions are read (partition pruning) and
    rewritten (dynamic partition overwrite); the rest of the table is
    untouched on disk. The merged rows are staged to a sibling directory
    first — Spark cannot overwrite a path it is lazily reading from — then
    copied over in a second partition-pruned pass.

    Crash safety (the commit itself is NOT atomic — dynamic partition
    overwrite deletes-and-replaces each affected bucket): staging is the
    write-ahead copy and is only discarded after the live table verifiably
    holds its content. Protocol:

    1. On entry, recover any leftover staging dir: if it is COMPLETE
       (``_SUCCESS`` present), a previous merge died mid-commit — finish
       the commit from staging (idempotent: staging holds the full merged
       content of every affected bucket, so re-overwriting restores any
       bucket the crash half-deleted). If incomplete, the table was never
       touched — just drop the debris.
    2. Write this merge's staging (now safe to ``overwrite``).
    3. Commit: dynamic-partition-overwrite the affected buckets from a
       read of staging.
    4. Verify the read-back (row count of affected buckets in the live
       table == staging count) BEFORE deleting staging — until then,
       staging remains the only guaranteed-good copy.

    A replayed streaming batch re-enters at step 1, so every crash window
    converges to the correct table + the merge applied exactly once.
    Concurrent writers to one table are NOT supported (neither are they by
    the reference's single daemon); a real Iceberg/Delta MERGE INTO — the
    semantic this emulates — is the multi-writer answer.

    ``dedupe_order_col``: when the SAME key can appear more than once in
    one updates batch (a streaming microbatch holding a page's original
    save AND its re-save), pass the version/timestamp column — updates
    are pre-reduced to one row per key (max order value; ties broken by a
    content hash, deterministically) so the merged table never holds
    duplicates. Without it, duplicate keys in one batch are the caller's
    bug and would both be inserted.
    """
    staging = f"{table_dir}__staging_merge"
    recover_staging(spark, table_dir, staging)

    if dedupe_order_col is not None:
        updates = reduce_latest(updates, key_cols, dedupe_order_col)
    key_hash = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast(
        "int"
    )
    updates = updates.withColumn("bucket", key_hash)
    affected = sorted(r.bucket for r in updates.select("bucket").distinct().collect())
    if not affected:
        return []
    existing = spark.read.parquet(table_dir).filter(F.col("bucket").isin(affected))
    merged = existing.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    ).unionByName(updates.select(*existing.columns))

    merged.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    _commit_staging(spark, staging, table_dir)
    _verify_and_drop_staging(spark, staging, table_dir)
    return affected


def _commit_staging(spark: SparkSession, staging: str, table_dir: str) -> None:
    """Dynamic-partition-overwrite the staged buckets into the live table."""
    (
        spark.read.parquet(staging)
        .write.mode("overwrite")
        # per-write option, not a session conf (would leak into later
        # overwrite writes in the same session)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(table_dir)
    )


def _bucket_digest(df: DataFrame, cols: list[str]) -> dict[int, tuple[int, int]]:
    """Per-bucket (row_count, order-independent content-hash sum) — one
    map-side-combined aggregation, driver result is |buckets| rows. The
    per-row hash is bounded to 2^31 so summing 2^29 rows/bucket stays far
    inside int64 (no overflow-wrap ambiguity between engines/configs)."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(1 << 31))
    rows = (
        df.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("hs"))
        .collect()
    )
    return {int(r["bucket"]): (int(r["n"]), int(r["hs"])) for r in rows}


def _verify_and_drop_staging(spark: SparkSession, staging: str, table_dir: str) -> None:
    """Read-back verification gate: staging is the only guaranteed-good
    copy of the affected buckets until the live table provably holds their
    CONTENT, so staging is deleted ONLY after the check passes — on
    mismatch it raises and staging survives for the next recovery attempt.

    The check compares, per affected bucket, the row count AND an
    order-independent sum of a per-row content hash over every column —
    so a commit that landed the right number of wrong rows, or a stale
    bucket directory whose count happens to match, still fails loudly.
    (Not a cryptographic proof — a colliding hash-sum is possible in
    principle — but it is a content check, not a cardinality check.)
    Shared by the merge commit and by :func:`recover_staging` (an
    unverified recovery that deleted staging would turn a loud commit
    failure into silent row loss)."""
    staged = spark.read.parquet(staging)
    cols = sorted(staged.columns)
    staged_d = _bucket_digest(staged.select(*cols), cols)
    buckets = list(staged_d)
    live = spark.read.parquet(table_dir).filter(F.col("bucket").isin(buckets))
    live_d = _bucket_digest(live.select(*cols), cols)
    if staged_d != live_d:
        bad = sorted(
            b for b in set(staged_d) | set(live_d) if staged_d.get(b) != live_d.get(b)
        )
        raise RuntimeError(
            f"merge_upsert commit verification failed: buckets {bad} differ "
            f"between staging and the live table (count, content-hash); staging "
            f"at {staging} is preserved for recovery"
        )
    fs, spath = _hadoop_fs(spark, staging)
    fs.delete(spath, True)


def recover_staging(spark: SparkSession, table_dir: str, staging: str | None = None) -> bool:
    """Restore an interrupted :func:`merge_upsert` commit, if any.

    Returns True when a completed staging dir was found and re-committed
    into the table. Safe to call any time — merge_upsert calls it on every
    entry, and run_upsert_stream calls it BEFORE its table-existence probe
    (a mid-commit crash can leave the table empty/unreadable; without
    recovery-first, the replayed batch would take the bootstrap branch,
    overwrite the table with one batch's rows, and a later merge would
    then commit the stale staging over it). A crash DURING recovery just
    leaves staging in place for the next attempt; the staging delete is
    gated on the same read-back verification as a live commit.
    """
    staging = staging or f"{table_dir}__staging_merge"
    fs, spath = _hadoop_fs(spark, staging)
    if not fs.exists(spath):
        return False
    success = spark._jvm.org.apache.hadoop.fs.Path(f"{staging}/_SUCCESS")
    if fs.exists(success):
        # the previous merge finished writing staging but may have died
        # mid-commit; re-committing is idempotent and restores any bucket
        # the crash half-deleted. Staging is deleted only after the
        # committed rows verifiably landed.
        _commit_staging(spark, staging, table_dir)
        _verify_and_drop_staging(spark, staging, table_dir)
        return True
    # incomplete staging (no _SUCCESS): the table was never touched
    fs.delete(spath, True)
    return False
