"""Checkpoint-resume tests of ExtractJob (jobs/extract.py).

The reference's daemon keys seen work by (path, mtime) and skips it on the
next poll (/root/reference/manga_ocr/run.py:197-206). ExtractJob makes that
restart-safe: lineage rows name committed buckets; a rerun processes only
the rest. A kill between commit groups loses at most the in-flight group.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from manga_ocr_spark.jobs.extract import ExtractJob


def test_full_run_commits_all_buckets(spark, pages_df, tmp_path):
    job = ExtractJob(spark, str(tmp_path / "out"), num_buckets=8, commit_group_size=4)
    committed = job.run(pages_df)
    assert sorted(committed) == list(range(8))
    lineage = spark.read.parquet(f"{tmp_path}/out/lineage")
    assert lineage.filter(F.col("status") == "ok").count() == 8
    extracted = spark.read.parquet(f"{tmp_path}/out/extracted")
    assert extracted.count() == pages_df.count()
    # no url appears twice
    assert extracted.groupBy("url").count().filter("count > 1").count() == 0


def test_killed_run_resumes_without_duplicates(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    job = ExtractJob(spark, out, num_buckets=8, commit_group_size=3)

    # simulated kill: only the first commit group (3 buckets) lands
    first = job.run(pages_df, max_groups=1)
    assert len(first) == 3
    partial = spark.read.parquet(f"{out}/extracted").count()
    assert 0 < partial < pages_df.count()

    # resume: a fresh job object (fresh process semantics) finishes the rest
    job2 = ExtractJob(spark, out, num_buckets=8, commit_group_size=3)
    second = job2.run(pages_df)
    assert sorted(first + second) == list(range(8))
    assert set(first).isdisjoint(second)

    extracted = spark.read.parquet(f"{out}/extracted")
    assert extracted.count() == pages_df.count()
    assert extracted.groupBy("url").count().filter("count > 1").count() == 0

    # a third run is a no-op (idempotent)
    assert ExtractJob(spark, out, num_buckets=8).run(pages_df) == []
    assert spark.read.parquet(f"{out}/extracted").count() == pages_df.count()


def test_resume_with_another_bucket_count_raises(spark, pages_df, tmp_path):
    # a bucket id names other urls under another count: resuming an
    # 8-bucket out_dir with 4 buckets would read the lineage of buckets
    # 0-3 as done and leave the urls of the uncommitted buckets out
    out = str(tmp_path / "out")
    first = ExtractJob(spark, out, num_buckets=8, commit_group_size=4).run(pages_df, max_groups=1)
    assert sorted(first) == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="num_buckets=8.*num_buckets=4"):
        ExtractJob(spark, out, num_buckets=4).run(pages_df)
    # the recorded count still resumes the rest
    assert sorted(ExtractJob(spark, out, num_buckets=8).run(pages_df)) == [4, 5, 6, 7]
    assert spark.read.parquet(f"{out}/extracted").count() == pages_df.count()


def test_resume_without_a_count_uses_the_recorded_one(spark, pages_df, tmp_path):
    # the table owns its bucket count: a rerun that names none resumes
    # under the recorded 4, not under the default
    out = str(tmp_path / "out")
    first = ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages_df, max_groups=1)
    assert sorted(first) == [0, 1]
    assert sorted(ExtractJob(spark, out).run(pages_df)) == [2, 3]
    _assert_converged(spark, out, pages_df.count())


@pytest.mark.parametrize(
    "counts", [{"num_buckets": 0}, {"num_buckets": -1}, {"commit_group_size": 0}],
    ids=["num_buckets=0", "num_buckets=-1", "commit_group_size=0"],
)
def test_a_count_below_one_raises_before_writing(spark, pages_df, tmp_path, counts):
    # a count of 0 buckets would record 0 in extracted/_buckets and lock
    # every later run out; 0 buckets per group cannot step through them
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="must be at least 1"):
        ExtractJob(spark, str(out), **counts).run(pages_df)
    assert not out.exists()


def test_metrics_written_per_bucket_lang(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    ExtractJob(spark, out, num_buckets=4, commit_group_size=4).run(pages_df)
    metrics = spark.read.parquet(f"{out}/metrics")
    assert set(metrics.columns) == {
        "lang", "blocks_kept", "blocks_dropped", "count", "partition_id"
    }
    # metrics row-count totals match input
    total = metrics.agg(F.sum("count")).collect()[0][0]
    assert total == pages_df.count()
    # lineage byte accounting matches the input payload sizes
    lineage = spark.read.parquet(f"{out}/lineage")
    bytes_total = lineage.agg(F.sum("bytes_in")).collect()[0][0]
    expected = pages_df.select(F.sum(F.length("html"))).collect()[0][0]
    assert bytes_total == expected


def test_mid_group_kill_overwrite_is_idempotent(spark, pages_df, tmp_path):
    # simulate a kill AFTER the extracted write but BEFORE the lineage
    # commit: the bucket's parquet files exist with no lineage row — the
    # rerun must OVERWRITE them (dynamic partition overwrite), not append
    out = str(tmp_path / "out")
    job = ExtractJob(spark, out, num_buckets=4, commit_group_size=4)
    from manga_ocr_spark.jobs.extract import extract_pages, with_bucket

    bucketed = with_bucket(pages_df, 4)
    # partial write of bucket partitions, no lineage (the "killed" state) —
    # same per-write option the job itself uses (never a session conf)
    with_bucket(extract_pages(bucketed.filter(F.col("bucket").isin([0, 1]))), 4).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("bucket").parquet(
        f"{out}/extracted"
    )
    # full rerun sees no lineage -> reprocesses everything
    committed = job.run(pages_df)
    assert sorted(committed) == [0, 1, 2, 3]
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == pages_df.count()
    assert ext.groupBy("url").count().filter("count > 1").count() == 0


def test_committed_buckets_missing_vs_corrupt_lineage(spark, tmp_path):
    # the resume correctness boundary: ONLY a missing lineage dir means
    # "nothing committed"; an unreadable lineage dir must raise instead of
    # silently answering set() (which would recompute/overwrite everything)
    import pytest

    out = str(tmp_path / "out")
    job = ExtractJob(spark, out, num_buckets=4)
    assert job.committed_buckets() == set()  # fresh start: dir absent

    corrupt = tmp_path / "out" / "lineage"
    corrupt.mkdir(parents=True)
    (corrupt / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        job.committed_buckets()


def test_committed_buckets_on_a_missing_dir_reads_nothing(spark, tmp_path, monkeypatch):
    # a fresh output dir is known from a file-system probe: no read is
    # planned, so no converted PATH_NOT_FOUND exception is raised and caught
    from pyspark.sql import SparkSession

    def no_read(self):
        raise AssertionError("committed_buckets read a missing lineage dir")

    job = ExtractJob(spark, str(tmp_path / "out"), num_buckets=4)
    monkeypatch.setattr(SparkSession, "read", property(no_read))
    assert job.committed_buckets() == set()


def test_committed_buckets_empty_lineage_dir_is_fresh_start(spark, tmp_path):
    # second review cycle: a kill during the very FIRST lineage write can
    # leave an empty dir (or only committer markers) — provably nothing
    # committed, must NOT abort the rerun: read with LINEAGE_SCHEMA, such a
    # dir holds no visible data file and reads as no rows, while a dir
    # with an unreadable DATA file must still raise
    out = str(tmp_path / "out")
    lineage = tmp_path / "out" / "lineage"
    lineage.mkdir(parents=True)
    job = ExtractJob(spark, out, num_buckets=4)
    assert job.committed_buckets() == set()  # empty dir
    (lineage / "_temporary").mkdir()
    (lineage / "_SUCCESS").write_bytes(b"")
    assert job.committed_buckets() == set()  # committer markers only


def test_committed_buckets_ignores_inflight_committer_files(spark, tmp_path):
    # second review cycle (repro'd): a kill during the first lineage write
    # leaves lineage/_temporary/.../part-*.parquet — the file is invisible
    # to Spark's reader (hidden ancestor dir), so it must not count as
    # committed data; a VISIBLE unreadable part file must still raise when
    # its rows are collected.
    import pytest

    out = str(tmp_path / "out")
    attempt = tmp_path / "out" / "lineage" / "_temporary" / "0" / "_temporary" / "attempt_1"
    attempt.mkdir(parents=True)
    (attempt / "part-00000-abc.snappy.parquet").write_bytes(b"in-flight bytes")
    job = ExtractJob(spark, out, num_buckets=4)
    assert job.committed_buckets() == set()

    (tmp_path / "out" / "lineage" / "part-00001-def.snappy.parquet").write_bytes(
        b"visible but corrupt"
    )
    with pytest.raises(Exception):
        job.committed_buckets()


def test_committed_buckets_rejects_a_foreign_parquet_file(spark, tmp_path):
    # the read carries LINEAGE_SCHEMA, and a user schema reads a column the
    # file lacks as null: a VALID parquet file without partition_id or
    # status is not lineage and must raise, never read as "nothing
    # committed" (which would recompute and overwrite every bucket)
    import pytest

    foreign = {
        "no lineage columns": spark.range(3).withColumnRenamed("id", "bucket"),
        "no status": spark.range(3).selectExpr("concat('bucket=', id) AS partition_id"),
    }
    for name, df in foreign.items():
        out = str(tmp_path / name.replace(" ", "_"))
        df.coalesce(1).write.parquet(f"{out}/lineage")
        with pytest.raises(Exception):
            ExtractJob(spark, out, num_buckets=4).committed_buckets()


def _job_tasks(spark, group: str) -> list[int]:
    """Tasks run by every Spark job of job group ``group``, in job order
    (a stage skipped because an earlier job ran it completes none)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    counts = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds]
        counts.append(sum(st.numCompletedTasks for st in stages if st is not None))
    return counts


def _job_group_per_commit_group(spark, monkeypatch, tag: str) -> list[str]:
    """Put each commit group's Spark jobs in a job group of its own;
    returns the list the groups' ids are appended to."""
    import manga_ocr_spark.jobs.extract as X

    sc = spark.sparkContext
    groups: list[str] = []
    real = X.extract_pages

    def start_group(*args, **kwargs):
        # extract_pages is called once at the start of each commit group
        groups.append(f"{tag}-group{len(groups)}")
        sc.setJobGroup(groups[-1], groups[-1])
        return real(*args, **kwargs)

    monkeypatch.setattr(X, "extract_pages", start_group)
    return groups


def _clear_job_group(spark) -> None:
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_commit_group_job_budget(spark, pages_df, tmp_path, monkeypatch):
    # the fixed Spark cost of a commit group is its job and task count:
    # the extraction tasks sum the stats (nothing reads extracted/ back),
    # and the driver writes metrics/ and lineage/ and reads lineage back
    # itself, so a group runs the extraction write only, and a rerun's
    # lineage read no job
    sc = spark.sparkContext
    tag = f"budget-{tmp_path.name}"
    groups = _job_group_per_commit_group(spark, monkeypatch, tag)
    job = ExtractJob(spark, str(tmp_path / "out"), num_buckets=4, commit_group_size=2)
    try:
        assert sorted(job.run(pages_df)) == [0, 1, 2, 3]
        sc.setJobGroup(f"{tag}-rerun", "rerun")
        assert job.committed_buckets() == {0, 1, 2, 3}
    finally:
        _clear_job_group(spark)
    assert len(groups) == 2
    for g in groups:
        tasks = _job_tasks(spark, g)
        assert len(tasks) == 1, (g, tasks)
    assert len(_job_tasks(spark, f"{tag}-rerun")) == 0


def _write_tasks_per_group(spark, monkeypatch, pages, out, tag, salt=None) -> list[int]:
    """Run a 2-group ExtractJob of 4 buckets over ``pages`` into ``out``;
    returns each group's extraction-write task count (a group's last job:
    a salted group's shuffle precedes it)."""
    groups = _job_group_per_commit_group(spark, monkeypatch, tag)
    job = ExtractJob(spark, out, num_buckets=4, commit_group_size=2, salt_partitions=salt)
    try:
        assert sorted(job.run(pages)) == [0, 1, 2, 3]
    finally:
        _clear_job_group(spark)
    assert len(groups) == 2
    return [_job_tasks(spark, g)[-1] for g in groups]


@pytest.mark.parametrize("salt", [None, 8])
def test_commit_group_tasks_sized_to_its_share_of_the_input(
    spark, pages_df, tmp_path, monkeypatch, salt
):
    # a filter on the computed bucket keeps the scan's partition count,
    # and Spark splits a small input to fill the default parallelism:
    # unsized, each group's extraction runs one Python task (~0.25 CPU-s
    # floor) per input split. An input under default parallelism x
    # maxPartitionBytes is worth no more tasks than it has
    # maxPartitionBytes of bytes: a 6-file input far below 128 MB runs 1
    # task per group and writes 1 file per bucket; a salted run writes in
    # its share of the salt width
    import glob
    import math
    import os

    from manga_ocr_spark.jobs.extract import input_partitions

    src = str(tmp_path / "pages")
    pages_df.repartition(6).write.parquet(src)
    pages = spark.read.parquet(src)
    assert input_partitions(pages) == 6
    out = str(tmp_path / "out")
    writes = _write_tasks_per_group(spark, monkeypatch, pages, out, f"width-{tmp_path.name}", salt)
    files = [len(glob.glob(f"{out}/extracted/bucket={b}/*.parquet")) for b in range(4)]
    if salt is None:
        assert writes == [1, 1], writes
        assert files == [1] * 4, files
    else:
        assert writes == [math.ceil(salt * 2 / 4)] * 2, writes
        # hash-partitioned on url, each bucket's rows spread over more
        # than one of the group's tasks
        assert all(1 < f <= 4 for f in files), files
    assert spark.read.parquet(f"{out}/extracted").count() == pages_df.count()
    if salt is not None:
        return
    # an input of default parallelism x maxPartitionBytes or more, as at
    # scale, keeps the scan's width: with the setting at 1/P of its bytes
    # each group runs ceil(n_in * 2 / 4) tasks, more than the byte count
    # alone would give
    total = sum(os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet"))
    split = total // spark.sparkContext.defaultParallelism
    monkeypatch.undo()  # the next run's groups wrap extract_pages afresh
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(split))
    try:
        pages = spark.read.parquet(src)
        n_in = input_partitions(pages)
        writes = _write_tasks_per_group(
            spark, monkeypatch, pages, str(tmp_path / "out_split"), f"split-{tmp_path.name}"
        )
    finally:
        spark.conf.set(conf, old)
    width = math.ceil(n_in * 2 / 4)
    assert math.ceil(math.ceil(total / split) * 2 / 4) < width, (total, split, n_in)
    assert writes == [width] * 2, writes


def test_input_partitions_runs_no_job(spark, pages_df, tmp_path):
    # the width probes read a planned scan's partition count and the
    # optimized plan's byte estimate, and run no Spark job: a parquet
    # input, a driver LocalRelation and an RDD-backed frame answer, an
    # input whose plan holds an exchange (AQE would materialize the
    # shuffle to count) answers None. A file scan's bytes are its files'
    # length, a LocalRelation's its rows' estimate; an RDD-backed frame's
    # are unknown (the default size), so ExtractJob keeps its scan's width
    import glob
    import os

    from manga_ocr_spark.jobs.extract import input_bytes, input_partitions

    sc = spark.sparkContext
    src = str(tmp_path / "pages")
    pages_df.repartition(3).write.parquet(src)
    tag = f"probe-{tmp_path.name}"
    inputs = {
        "parquet": spark.read.parquet(src),
        "local": pages_df,
        "exchange": pages_df.repartition(3),
        "rdd": spark.createDataFrame(pages_df.rdd, pages_df.schema),
    }
    sc.setJobGroup(tag, tag)
    try:
        got = {k: input_partitions(df) for k, df in inputs.items()}
        size = {k: input_bytes(df) for k, df in inputs.items()}
    finally:
        _clear_job_group(spark)
    assert _job_tasks(spark, tag) == []
    n_local = pages_df.rdd.getNumPartitions()
    assert got == {"parquet": 3, "local": n_local, "exchange": None, "rdd": n_local}
    assert size["parquet"] == sum(os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet"))
    unknown = int(spark.conf.get("spark.sql.defaultSizeInBytes").rstrip("b"))
    assert 0 < size["local"] < unknown
    assert size["rdd"] == unknown


def test_commit_outputs_match_a_direct_aggregate(spark, pages_df, tmp_path):
    # metrics and lineage values are summed by the extraction tasks as
    # they write: they must equal an aggregate of the extraction computed
    # straight from the pages, and each group's driver-built lineage rows
    # land in one file
    import glob

    from manga_ocr_spark.jobs.extract import extract_pages, with_bucket

    out = str(tmp_path / "out")
    ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages_df)
    ext = with_bucket(extract_pages(pages_df), 4)
    per_bl = ext.groupBy("bucket", "lang").agg(
        F.sum("n_blocks_kept").alias("kept"),
        F.sum("n_blocks_dropped").alias("dropped"),
        F.count("*").alias("n"),
        F.count_if(F.col("extracted_text").isNotNull()).alias("ok"),
        F.sum("bytes_in").alias("bytes_in"),
    ).collect()
    want_metrics = sorted(
        (r.lang, r.kept, r.dropped, r.n, f"bucket={r.bucket}") for r in per_bl
    )
    got_metrics = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/metrics").select(
            "lang", "blocks_kept", "blocks_dropped", "count", "partition_id"
        ).collect()
    )
    assert got_metrics == want_metrics
    want_lineage = {}
    for r in per_bl:
        n, ok, b = want_lineage.get(r.bucket, (0, 0, 0))
        want_lineage[r.bucket] = (n + r.n, ok + r.ok, b + r.bytes_in)
    got_lineage = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/lineage").select(
            "partition_id", "input_rows", "output_rows", "bytes_in", "status"
        ).collect()
    )
    assert got_lineage == sorted(
        (f"bucket={k}", *v, "ok") for k, v in want_lineage.items()
    )
    assert len(glob.glob(f"{out}/lineage/part-*.parquet")) == 2


# A child process of its own: the shared local[4] session allows one task
# failure, so it never retries a task. Every extraction task raises on its
# first attempt, after adding its batches' sums to the group's accumulator.
_RETRY_CHILD = r"""
import json, sys

from pyspark import TaskContext

import manga_ocr_spark.jobs.extract as X
from manga_ocr_spark.jobs.session import get_spark

out = sys.argv[1]
spark = get_spark(master="local[2,2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
real = X._make_extract_map


def first_attempt_fails(schema, sums=None):
    body = real(schema, sums)

    def run(batches):
        yield from body(batches)
        if TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("a first attempt fails after adding its sums")

    return run


X._make_extract_map = first_attempt_fails
pages = spark.range(10000, numPartitions=4).selectExpr(
    "concat('https://x/', id) AS url",
    "timestamp'2024-03-01 00:00:00' AS warc_ts",
    "encode(concat('<html><body><p>page text ', id, '</p></body></html>'), 'UTF-8') AS html",
    "'' AS text",
    "IF(id % 3 = 0, 'en', 'de') AS lang",
)
X.ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages)
lineage = spark.read.parquet(f"{out}/lineage").selectExpr("sum(input_rows)", "sum(bytes_in)")
print(json.dumps({
    "written": spark.read.parquet(f"{out}/extracted").count(),
    "metrics": spark.read.parquet(f"{out}/metrics").selectExpr("sum(count)").first()[0],
    "lineage": list(lineage.first()),
    "bytes": pages.selectExpr("sum(length(html))").first()[0],
}))
"""


def test_a_retried_task_is_counted_once(tmp_path):
    # Spark applies a result task's accumulator update once, from its
    # successful attempt only: the failed first attempts' sums are dropped
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_CHILD, str(tmp_path / "out")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["written"] == 10000
    assert got["metrics"] == 10000
    assert got["lineage"] == [10000, got["bytes"]]


def test_side_tables_and_lineage_read_run_no_spark_job(spark, pages_df, tmp_path, monkeypatch):
    # metrics and lineage rows already sit on the driver: it writes them
    # (and near-dedup's metrics) as parquet files through the Hadoop FS
    # and reads lineage back the same way, without a single Spark job
    import manga_ocr_spark.jobs.extract as X
    import manga_ocr_spark.jobs.neardedup as ND
    from tests.test_neardedup import _hot_bucket_docs

    sc = spark.sparkContext
    tag = f"driver-{tmp_path.name}"
    written: list[str] = []

    def in_group(real):
        def write(spark_, dir_path, *args, **kwargs):
            written.append(dir_path)
            sc.setJobGroup(tag, tag)
            try:
                real(spark_, dir_path, *args, **kwargs)
            finally:
                _clear_job_group(spark)

        return write

    monkeypatch.setattr(X, "write_parquet", in_group(X.write_parquet))
    monkeypatch.setattr(ND, "write_parquet", in_group(ND.write_parquet))
    out = str(tmp_path / "out")
    job = ExtractJob(spark, out, num_buckets=4, commit_group_size=2)
    assert sorted(job.run(pages_df)) == [0, 1, 2, 3]
    docs = spark.createDataFrame(_hot_bucket_docs())
    ND.run_neardedup(spark, docs, str(tmp_path / "nd"), max_bucket_size=10)
    sc.setJobGroup(tag, tag)
    try:
        assert job.committed_buckets() == {0, 1, 2, 3}
    finally:
        _clear_job_group(spark)
    # a metrics file per bucket, a lineage file per group, near-dedup's metrics
    assert sorted(p.rsplit("/", 1)[1] for p in written) == [
        "lineage", "lineage", "metrics",
        *(f"partition_id=bucket%3D{b}" for b in range(4)),
    ]
    assert _job_tasks(spark, tag) == []
    assert spark.read.parquet(f"{tmp_path}/nd/metrics").schema == ND.METRICS_SCHEMA


class Crash(Exception):
    pass


def _assert_converged(spark, out: str, n_rows: int) -> None:
    """Every bucket of a 4-bucket ``out`` holds one metrics file and one ok
    lineage row, the metrics count every input row once, and extracted/
    holds each url once."""
    import glob

    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.agg(F.sum("count")).collect()[0][0] == n_rows
    parts = [f"{out}/metrics/partition_id=bucket%3D{b}/*.parquet" for b in range(4)]
    files = [len(glob.glob(p)) for p in parts]
    assert files == [1] * 4, files
    lineage = spark.read.parquet(f"{out}/lineage").select("partition_id", "status").collect()
    assert sorted(tuple(r) for r in lineage) == [(f"bucket={b}", "ok") for b in range(4)]
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == n_rows
    assert ext.groupBy("url").count().filter("count > 1").count() == 0


def test_kill_between_metrics_and_lineage_resumes(spark, pages_df, tmp_path, monkeypatch):
    # a kill after a group's metrics/ files land and before its lineage
    # file does: the group is not committed, so the rerun redoes it and
    # replaces its metrics partition dirs instead of adding to them
    import glob

    import manga_ocr_spark.jobs.extract as X

    real = X.write_parquet

    def write(spark_, dir_path, *args, **kwargs):
        if dir_path.endswith("/lineage"):
            raise Crash(dir_path)
        real(spark_, dir_path, *args, **kwargs)

    out = str(tmp_path / "out")
    monkeypatch.setattr(X, "write_parquet", write)
    with pytest.raises(Crash):
        ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages_df)
    monkeypatch.undo()
    assert glob.glob(f"{out}/metrics/partition_id=bucket%3D*/*.parquet")
    job = ExtractJob(spark, out, num_buckets=4, commit_group_size=2)
    assert job.committed_buckets() == set()
    assert sorted(job.run(pages_df)) == [0, 1, 2, 3]
    _assert_converged(spark, out, pages_df.count())


def test_hidden_tmp_files_in_side_tables_are_ignored(spark, pages_df, tmp_path):
    # a kill during a driver write leaves its hidden ``.<name>.tmp`` file:
    # neither committed_buckets nor Spark's reader may see it
    out = str(tmp_path / "out")
    job = ExtractJob(spark, out, num_buckets=4, commit_group_size=2)
    first = job.run(pages_df, max_groups=1)
    for d in ("lineage", "metrics", "metrics/partition_id=bucket%3D0"):
        (tmp_path / "out" / d / ".part-dead.parquet.tmp").write_bytes(b"half a parquet file")
    assert job.committed_buckets() == set(first)
    assert spark.read.parquet(f"{out}/lineage").count() == len(first)
    assert spark.read.parquet(f"{out}/metrics").select("partition_id").distinct().count() == 2
    assert sorted(first + job.run(pages_df)) == [0, 1, 2, 3]
    _assert_converged(spark, out, pages_df.count())


def test_resume_over_side_tables_spark_wrote(spark, pages_df, tmp_path):
    # an output dir whose metrics/ and lineage/ Spark wrote (INT96
    # timestamps, a _SUCCESS marker) resumes, and with the driver's files
    # beside them both tables still read with the FIXTURES.md §3 schemas
    import glob
    import shutil

    import pyarrow.parquet as pq

    from manga_ocr_spark.jobs.extract import LINEAGE_SCHEMA, METRICS_SCHEMA

    out = str(tmp_path / "out")
    first = ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages_df, max_groups=1)
    for table, schema, parts in (
        ("lineage", LINEAGE_SCHEMA, []),
        ("metrics", METRICS_SCHEMA, ["partition_id"]),
    ):
        rows = spark.read.schema(schema).parquet(f"{out}/{table}").collect()
        shutil.rmtree(f"{out}/{table}")
        df = spark.createDataFrame(rows, schema).coalesce(1)
        df.write.partitionBy(*parts).parquet(f"{out}/{table}")
    spark_file = glob.glob(f"{out}/lineage/part-*.parquet")[0]
    assert str(pq.read_schema(spark_file).field("t_start").type) == "timestamp[ns]"  # INT96
    assert sorted(first + ExtractJob(spark, out, num_buckets=4).run(pages_df)) == [0, 1, 2, 3]
    _assert_converged(spark, out, pages_df.count())
    assert spark.read.parquet(f"{out}/lineage").schema == LINEAGE_SCHEMA
    assert {f.name: f.dataType for f in spark.read.parquet(f"{out}/metrics").schema} == {
        f.name: f.dataType for f in METRICS_SCHEMA
    }


def test_lineage_keeps_sub_second_timings(spark, pages_df, tmp_path, monkeypatch):
    # a commit group shorter than a second records its real duration, not 0
    import types

    import manga_ocr_spark.jobs.extract as X

    clock = iter([1700000000.125, 1700000000.625])
    monkeypatch.setattr(X, "time", types.SimpleNamespace(time=lambda: next(clock)))
    out = str(tmp_path / "out")
    ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages_df, max_groups=1)
    got = spark.read.parquet(f"{out}/lineage").select(
        F.unix_micros("t_start").alias("s"), F.unix_micros("t_end").alias("e")
    ).collect()
    assert {(r.s, r.e) for r in got} == {(1700000000125000, 1700000000625000)}


def test_lineage_timestamps_are_utc_instants_in_any_driver_tz(
    spark, pages_df, tmp_path, monkeypatch
):
    # the recorded epoch must survive the trip to parquet whatever the
    # driver's local zone is (a list-built frame reads the naive UTC
    # datetime in local time: 5 h late under America/New_York)
    import time
    import types

    import manga_ocr_spark.jobs.extract as X

    epoch = 1700000000
    monkeypatch.setattr(X, "time", types.SimpleNamespace(time=lambda: float(epoch)))
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        out = str(tmp_path / "out")
        ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(pages_df, max_groups=1)
    finally:
        monkeypatch.undo()
        time.tzset()
    got = spark.read.parquet(f"{out}/lineage").select(
        F.unix_timestamp("t_start").alias("s"), F.unix_timestamp("t_end").alias("e")
    ).collect()
    assert len(got) == 2
    assert all(r.s == epoch and r.e == epoch for r in got)


def test_empty_commit_group_writes_lineage_and_readable_metrics(spark, pages_df, tmp_path):
    # a group whose buckets hold no pages has metrics_rows == []: the
    # group still commits zero-count lineage rows, and the metrics sink
    # stays readable with its declared types
    from manga_ocr_spark.jobs.extract import LINEAGE_SCHEMA, METRICS_SCHEMA, with_bucket

    only_b0 = with_bucket(pages_df, 4).filter(F.col("bucket") == 0).drop("bucket")
    n = only_b0.count()
    out = str(tmp_path / "out")
    committed = ExtractJob(spark, out, num_buckets=4, commit_group_size=2).run(only_b0)
    assert committed == [0, 1, 2, 3]
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.schema == LINEAGE_SCHEMA
    rows = {r.partition_id: r.input_rows for r in lineage.collect()}
    assert rows == {"bucket=0": n, "bucket=1": 0, "bucket=2": 0, "bucket=3": 0}
    metrics = spark.read.parquet(f"{out}/metrics")
    assert {f.name: f.dataType for f in metrics.schema} == {
        f.name: f.dataType for f in METRICS_SCHEMA
    }
    assert {r.partition_id for r in metrics.select("partition_id").distinct().collect()} == {
        "bucket=0"
    }
    assert metrics.agg(F.sum("count")).collect()[0][0] == n
