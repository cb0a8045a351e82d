"""The extraction job: Arrow-batched mapInArrow over the pages table,
with salted repartition, per-bucket lineage commits, and resume.

Dataflow (SURVEY.md §3.1 graft lifecycle):

    read pages -> cheap Spark-side prefilter (html IS NOT NULL; X9 —
    Catalyst pushes it into the scan) -> salted repartition on url hash
    (X11) -> mapInArrow(extract) -> extracted + metrics + lineage

Scale posture (designed for ~10^12 rows / 100 TB, tested at sandbox scale):

- The *only* wide operation in the hot path is the salt repartition, and it
  exists to break host skew; everything else is embarrassingly parallel
  map work. The extraction tasks sum metrics/lineage per Arrow batch into
  a Spark accumulator keyed by (bucket, lang): nothing reads extracted/
  back, and no text-bearing row is persisted (GC-stalls the JVM).
- Bucketing: rows are assigned a stable ``bucket = pmod(xxhash64(url), B)``.
  Buckets are the unit of commit and resume (lineage anti-join, X8/O5): a
  restarted job recomputes only buckets without a committed lineage row.
  On a real deployment B=2048 and the table is Iceberg-partitioned by
  ``(days(warc_ts), bucket(url))``; here the extracted output is parquet
  ``partitionBy(bucket)`` with identical url-bucket semantics.
- Both writers of ``extracted/`` (``ExtractJob``, upsert.merge_upsert) share
  ``EXTRACTED_SCHEMA``, ``partitionBy(bucket)`` by ``with_bucket`` and ``table_buckets``.
- The Arrow UDF uses the iterator form: per-task init happens once before
  the batch loop (the reference's load-model-once pattern, ocr.py:59-79 /
  SURVEY.md §4 X1), then every Arrow batch reuses it.
- The driver writes the KB-scale metrics and lineage rows as pyarrow
  parquet files through the Hadoop FS (``session.write_parquet``) and
  reads lineage back the same way, with no Spark job.

A commit group runs ONE Spark job, the write of extracted/ (pinned by
tests/test_resume.py; every job and task has a fixed cost that can exceed
the extraction's own), in ``ceil(w * |group| / B)`` extraction tasks
(``_group_width``), not one per input split. The input's width ``w``
is its scan's partition count. An input under default parallelism x
``spark.sql.files.maxPartitionBytes`` bytes, which Spark splits finer
to fill the slots, is worth no more than one per maxPartitionBytes of
its bytes; a larger one keeps the scan's count. A salted run first
hash-partitions on url in a map-stage job. The UDF stays in the write's
result stage (pinned by tests/test_plans.py): Spark applies a result
task's accumulator update once, from its successful attempt, but
re-applies a shuffle-map task's on a stage re-run.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from manga_ocr_spark.jobs.session import hadoop_fs, listing, read_file, write_file, write_parquet

NUM_BUCKETS = 16  # a new extracted/ table's bucket count, unless its writer names one

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("extracted_text", StringType()),
        StructField("n_blocks_kept", IntegerType()),
        StructField("n_blocks_dropped", IntegerType()),
        StructField("lang", StringType()),
        StructField("bytes_in", LongType()),
    ]
)

# the UDF's output for a bucketed input (ExtractJob's groups): the bucket
# rides through, keying both the partitioned write and the stats
STATS_SCHEMA = StructType(EXTRACTED_SCHEMA.fields + [StructField("bucket", IntegerType())])

# K6 debug side output (SURVEY.md §1.4 block schema; the reference dumps
# per-sample params+HTML the same way, run_generate.py:64-80): one struct
# per SCORED block, emitted only when extract_pages(debug_blocks=True).
# Off by default — the hot path's schema (and Arrow byte volume) is
# unchanged, pinned by tests/test_plans.py.
BLOCK_STRUCT = StructType(
    [
        StructField("block_id", IntegerType()),
        StructField("tag", StringType()),
        StructField("depth", IntegerType()),
        StructField("text", StringType()),
        StructField("text_len", IntegerType()),
        StructField("link_text_len", IntegerType()),
        StructField("text_density", DoubleType()),  # ws-free chars / total chars
        StructField("link_density", DoubleType()),
        StructField("score", DoubleType()),
        StructField("keep", BooleanType()),
    ]
)

EXTRACTED_DEBUG_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [StructField("blocks", ArrayType(BLOCK_STRUCT))]
)

METRICS_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("blocks_kept", LongType()),
        StructField("blocks_dropped", LongType()),
        StructField("count", LongType()),
        StructField("partition_id", StringType()),
    ]
)

# a metrics file's columns: its partition dir names the partition_id
METRICS_FILE_SCHEMA = StructType(METRICS_SCHEMA.fields[:-1])

LINEAGE_SCHEMA = StructType(
    [
        StructField("partition_id", StringType()),
        StructField("input_rows", LongType()),
        StructField("output_rows", LongType()),
        StructField("bytes_in", LongType()),
        StructField("t_start", TimestampType()),
        StructField("t_end", TimestampType()),
        StructField("status", StringType()),
        StructField("attempt", IntegerType()),
    ]
)


def _utc(epoch_s: float):
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch_s, tz=dt.timezone.utc)


def _blocks_to_py(blocks) -> list[dict]:
    """Scored Block objects -> plain dicts matching BLOCK_STRUCT."""
    return [
        {
            "block_id": b.block_id,
            "tag": b.tag,
            "depth": b.depth,
            "text": b.text,
            "text_len": b.text_len,
            "link_text_len": b.link_text_len,
            "text_density": b.text_len / max(1, len(b.text)),
            "link_density": b.link_density,
            "score": b.score,
            "keep": b.keep,
        }
        for b in blocks
    ]


class _BucketLangSums(AccumulatorParam):
    """Accumulator of {(bucket, lang): [blocks kept, blocks dropped, rows,
    rows with text, bytes_in]}, merged key by key: a commit group's
    metrics and lineage counts, summed by its extraction tasks."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = [x + y for x, y in zip(a.get(k, (0,) * len(v)), v)]
        return a


def _batch_sums(batch) -> dict:
    """One bucketed output batch's _BucketLangSums update: a vectorized
    pyarrow group-by, no per-row Python."""
    import pyarrow as pa

    g = pa.Table.from_batches([batch]).group_by(["bucket", "lang"], use_threads=False).aggregate(
        [("n_blocks_kept", "sum"), ("n_blocks_dropped", "sum"), ([], "count_all"),
         ("extracted_text", "count"), ("bytes_in", "sum")]  # count: non-null only
    )
    keys = zip(g.column("bucket").to_pylist(), g.column("lang").to_pylist())
    sums = zip(*(c.to_pylist() for c in g.drop_columns(["bucket", "lang"]).columns))
    return {k: list(v) for k, v in zip(keys, sums)}


def _make_extract_map(out_schema: StructType, sums=None):
    """mapInArrow body factory. Iterator form: one-time init above the loop.

    Arrow RecordBatches end-to-end: the html binaries come straight off the
    Arrow buffers and results go back as Arrow arrays — measured ~30%
    faster than the equivalent mapInPandas (no pandas object-Series
    round-trip for MB-scale binary columns). The body runs once per TASK
    (X1): its own init — the core import below, cached by a reused
    worker — is cheap; the fixed cost each task pays (~0.25 CPU-s) is the
    worker's per-task setup in PySpark itself (worker_util
    setup_spark_files -> importlib.invalidate_caches, which re-reads
    pyspark.zip once per cached zipimporter), so the number of extraction
    tasks, not this closure, sets it. The extraction core is pure
    Python, imported here (not at module top) so the task closure stays
    tiny and the spark-submit --py-files layout is exercised.
    ``ExtractJob.run`` sets how many tasks each commit group runs.

    ``out_schema`` is ``extract_pages``'s: a ``blocks`` field emits the
    K6 debug column, a ``bucket`` field passes the input's through, and
    each output batch adds its ``_batch_sums`` to the ``sums`` accumulator.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    block_type = to_arrow_type(ArrayType(BLOCK_STRUCT))
    debug_blocks = "blocks" in out_schema.names
    bucketed = "bucket" in out_schema.names

    def _extract_map(batches):
        from manga_ocr_spark.extraction.core import extract

        for batch in batches:
            texts: list[str | None] = []
            kept: list[int] = []
            dropped: list[int] = []
            nbytes: list[int] = []
            blocks_col: list[list[dict]] = []
            # to_pylist: one vectorized buffer->bytes conversion for the
            # whole batch (measured ~35% cheaper than per-value as_py)
            for payload in batch.column("html").to_pylist():
                nbytes.append(len(payload) if payload is not None else 0)
                res = extract(payload)
                texts.append(res.text)
                kept.append(res.n_blocks_kept)
                dropped.append(res.n_blocks_dropped)
                if debug_blocks:
                    blocks_col.append(_blocks_to_py(res.blocks))
            arrays = [
                batch.column("url"),
                batch.column("warc_ts"),
                pa.array(texts, pa.string()),
                pa.array(kept, pa.int32()),
                pa.array(dropped, pa.int32()),
                batch.column("lang"),
                pa.array(nbytes, pa.int64()),
            ]
            if debug_blocks:
                arrays.append(pa.array(blocks_col, block_type))
            if bucketed:
                arrays.append(batch.column("bucket"))
            out = pa.RecordBatch.from_arrays(arrays, names=out_schema.names)
            if sums is not None:
                sums.add(_batch_sums(out))
            yield out

    return _extract_map


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Stable commit/resume bucket from the url hash (X4/X8)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets)).cast("int")
    )


def table_buckets(spark: SparkSession, table_dir: str, num_buckets: int | None = None) -> int:
    """The bucket count both writers of the table at ``table_dir`` use:
    under another count a bucket id names other urls, so a resume would
    read lineage as done and a merge would put a url in two buckets. The
    ``{table_dir}/_buckets`` marker decides, and a named count that
    disagrees raises ValueError before any write. A write that creates the
    table records ``num_buckets``, or ``NUM_BUCKETS`` when it is None; a
    table that exists without the marker uses that count, unrecorded."""
    if num_buckets is not None and num_buckets < 1:
        raise ValueError(f"num_buckets must be at least 1, got {num_buckets}")
    marker = f"{table_dir}/_buckets"
    recorded = read_file(spark, marker)
    if recorded is None:
        num_buckets = NUM_BUCKETS if num_buckets is None else num_buckets
        fs, p = hadoop_fs(spark, table_dir)
        if not fs.exists(p):
            write_file(spark, marker, str(num_buckets).encode())
        return num_buckets
    if num_buckets not in (None, int(recorded)):
        raise ValueError(
            f"{table_dir} holds output of num_buckets={int(recorded)}, "
            f"but this write has num_buckets={num_buckets}"
        )
    return int(recorded)


def input_partitions(df: DataFrame) -> int | None:
    """The partition count of ``df``'s planned scan, read without running
    a Spark job, or None when it cannot be: under AQE a plan holding an
    exchange or a subquery is an ``AdaptiveSparkPlanExec``, whose RDD
    materializes the shuffle to count its partitions. Checking the
    executed plan's class executes nothing."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return None
    return qe.toRdd().getNumPartitions()


def input_bytes(df: DataFrame) -> int:
    """``df``'s size in bytes as its optimized plan estimates it, read
    without running a Spark job: a file scan's is its files' length; an
    RDD-backed plan's is ``spark.sql.defaultSizeInBytes`` (unknown)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _group_width(total: int, group_size: int, num_buckets: int) -> int:
    """A commit group's share of a whole-input partition count: a group
    of ``group_size`` of ``num_buckets`` buckets holds about that
    fraction of the rows."""
    return max(1, -(-total * group_size // num_buckets))


def extract_pages(
    df: DataFrame, salt_partitions: int | None = None, debug_blocks: bool = False, sums=None
) -> DataFrame:
    """pages DF -> extracted DF (url, warc_ts, extracted_text, counters...).

    ``salt_partitions``: when set, hash-partition on ``url`` into P
    partitions before the UDF so host-skewed inputs spread evenly over
    tasks (X11). The hash is on the full url => uniform regardless of
    host skew, and independent of the url's commit bucket.

    ``debug_blocks``: K6 debug side output — append a ``blocks``
    ``array<struct>`` column (SURVEY §1.4 schema) holding every scored
    block with its features and keep decision, the Spark analogue of the
    reference's per-sample debug params dump (run_generate.py:64-80).
    OFF by default: the debug column re-ships all block text, so the hot
    path's output schema and Arrow volume are unchanged (plan-pinned).

    A ``bucket`` column on ``df`` rides through the UDF as the last
    column, and the ``_BucketLangSums`` accumulator ``sums`` (bucketed
    input only) receives each batch's per-(bucket, lang) counts.
    """
    bucket = ["bucket"] if "bucket" in df.columns else []
    df = df.filter(F.col("html").isNotNull())
    # column-prune BEFORE the UDF boundary: the WET `text` column is as
    # large as `html` and unused by extraction — shipping it through Arrow
    # would double the bytes crossing the JVM->python boundary (and the
    # parquet scan). Catalyst prunes the scan from this select.
    df = df.select("url", "warc_ts", "html", "lang", *bucket)
    if salt_partitions:
        df = df.repartition(salt_partitions, "url")
    schema = EXTRACTED_DEBUG_SCHEMA if debug_blocks else EXTRACTED_SCHEMA
    if bucket:
        schema = StructType(schema.fields + [STATS_SCHEMA["bucket"]])
    return df.mapInArrow(_make_extract_map(schema, sums), schema)


@dataclass
class ExtractJob:
    """Checkpoint-resumable batch extraction over a pages parquet dir.

    Layout under ``out_dir``:
      extracted/  parquet, partitionBy(bucket) — final per-url text
      extracted/_buckets  its bucket count (``table_buckets``)
      metrics/    parquet — per (bucket, lang): blocks kept/dropped, counts
      lineage/    parquet — one row per committed bucket (FIXTURES.md §3)

    Buckets are committed in groups of ``commit_group_size``; a kill
    between group commits loses at most the in-flight group, and a rerun
    anti-joins against lineage to skip everything committed (the
    reference's (path, mtime) seen-set semantics, run.py:197-206, made
    restart-safe).
    """

    spark: SparkSession
    out_dir: str
    num_buckets: int | None = None
    commit_group_size: int = 8
    # whole-input salt width: each commit group hash-partitions on url to
    # its share of it, ceil(P * |group| / B), never to P itself
    salt_partitions: int | None = None

    def committed_buckets(self) -> set[int]:
        """Buckets with an ok lineage row. ONLY a missing lineage dir maps
        to 'nothing committed' (fresh start / first run); any other read
        failure — permissions, corrupt footers, unreadable rows — must
        surface, because silently answering set() here would recompute
        and overwrite every bucket (this is the resume correctness
        boundary). The driver reads it with pyarrow, running no Spark
        job: of each file ``session.listing`` shows under lineage/, only
        ``partition_id`` and ``status``. A file without either column, or
        with a null in one, is not lineage and raises. An empty or
        marker-only dir, left by a kill during the first lineage write,
        holds no rows, and a missing one lists as empty."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = f"{self.out_dir}/lineage"
        done: set[int] = set()
        for name, length in listing(self.spark, path).items():
            if length is None:  # a directory
                continue
            data = pa.BufferReader(read_file(self.spark, f"{path}/{name}"))
            pids, status = pq.read_table(data, columns=["partition_id", "status"]).columns
            if pids.null_count or status.null_count:
                raise ValueError(
                    f"{path}/{name} holds rows without partition_id or status: "
                    "not readable as lineage"
                )
            rows = zip(pids.to_pylist(), status.to_pylist())
            done |= {int(pid.split("=", 1)[1]) for pid, s in rows if s == "ok"}
        return done

    def run(self, pages: DataFrame, max_groups: int | None = None) -> list[int]:
        """Extract all not-yet-committed buckets. Returns buckets committed
        this run. ``max_groups`` caps commit groups (used by the resume test
        to simulate a mid-run kill). Raises ValueError, before it writes, on
        a count below 1 or when ``out_dir`` holds another ``num_buckets``'s output.

        A filter on the computed ``bucket`` keeps the scan's partition
        count, so each group's extraction stage would run one Python task
        per input split, each holding |group|/B of its rows. Each group
        is coalesced (no shuffle) to its share of the input's width
        instead: its ``n_in`` partitions, but for an input under
        default parallelism x ``spark.sql.files.maxPartitionBytes``
        bytes no more than ``ceil(input bytes / maxPartitionBytes)``.
        Both are read once, without a Spark job; an input whose count
        needs one keeps the scan's width, and so does one whose byte
        size is unknown (an RDD-backed plan's is the default size)."""
        if self.commit_group_size < 1:
            raise ValueError(f"commit_group_size must be at least 1, got {self.commit_group_size}")
        num_buckets = table_buckets(self.spark, f"{self.out_dir}/extracted", self.num_buckets)
        n_in = None if self.salt_partitions else input_partitions(pages)
        width_in = n_in
        if n_in is not None:
            # below parallelism x maxPartitionBytes Spark sizes splits to
            # fill the slots, not by bytes; a larger input keeps its width
            split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            size = input_bytes(pages)
            if size < self.spark.sparkContext.defaultParallelism * split:
                width_in = min(n_in, max(1, -(-size // split)))
        pages = with_bucket(pages, num_buckets)
        done = self.committed_buckets()
        todo = [b for b in range(num_buckets) if b not in done]
        groups = [
            todo[i : i + self.commit_group_size]
            for i in range(0, len(todo), self.commit_group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]
        committed: list[int] = []
        for group in groups:
            t_start = time.time()
            sub = pages.filter(F.col("bucket").isin(group))
            salt = None
            if self.salt_partitions:
                salt = _group_width(self.salt_partitions, len(group), num_buckets)
            elif n_in is not None:
                width = _group_width(width_in, len(group), num_buckets)
                if width < n_in:
                    sub = sub.coalesce(width)
            # the extraction tasks sum the stats: nothing reads extracted/ back
            sums = self.spark.sparkContext.accumulator({}, _BucketLangSums())
            ext = extract_pages(sub, salt_partitions=salt, sums=sums)
            # dynamic partition overwrite: each bucket belongs to exactly
            # one group, so re-running an uncommitted group REPLACES its
            # partial partitions instead of appending duplicates — the
            # write itself is idempotent, lineage stays the commit marker.
            # Per-write option, NOT a session conf: mutating the session
            # would silently change later overwrite writes' semantics.
            # no _SUCCESS: extracted/ never keeps one, and lineage is the marker
            (
                ext.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .partitionBy("bucket")
                .parquet(f"{self.out_dir}/extracted")
            )
            # every result task of the write has reported, each once
            metrics_rows: dict[int, list[tuple]] = {}
            stats: dict[int, list[int]] = {}
            for (b, lang), (kept, dropped, n, with_text, nbytes) in sums.value.items():
                metrics_rows.setdefault(b, []).append((lang, kept, dropped, n))
                stats[b] = [x + y for x, y in zip(stats.get(b, (0, 0, 0)), (n, with_text, nbytes))]
            # each bucket's rows replace its metrics partition dir, named
            # as Spark's partitionBy names it (``=`` in a value is %3D)
            for b, rows in sorted(metrics_rows.items()):
                write_parquet(
                    self.spark, f"{self.out_dir}/metrics/partition_id=bucket%3D{b}",
                    rows, METRICS_FILE_SCHEMA, replace=True,
                )
            t_end = time.time()
            lineage_rows = [
                (f"bucket={b}", *stats.get(b, (0, 0, 0)), _utc(t_start), _utc(t_end), "ok", 1)
                for b in group
            ]
            # lineage commit is the *last* write of the group: its presence
            # certifies the group's extracted+metrics rows are durable.
            write_parquet(self.spark, f"{self.out_dir}/lineage", lineage_rows, LINEAGE_SCHEMA)
            committed.extend(group)
        return committed
