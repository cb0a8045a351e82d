"""merge_upsert's rename commit (jobs/upsert.py): a crash at any step
boundary of the commit converges to the last-write-wins model once the
batch replays, and everything after the staging write is Hadoop FS calls
that move the staged files into the table as they are."""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import Row

from manga_ocr_spark.jobs import session as S, upsert as U
from manga_ocr_spark.jobs.upsert import merge_upsert, recover_staging
from tests.test_resume import _job_tasks
from tests.test_upsert import _live_files, _write_table


class Crash(Exception):
    pass


BOUNDARIES = [
    "after_staging",  # staged, manifest tmp file written but not renamed
    "after_manifest",  # manifest in place, no bucket touched
    "after_1_of_n_buckets",
    "after_2_of_n_buckets",
    "between_delete_and_rename",  # first live bucket deleted, staged dir not moved
    "after_last_rename",  # before verification
    "after_verification",  # before the staging drop
]


def _inject_crash(monkeypatch, boundary: str, table: str, staging: str) -> None:
    """Make the commit's FS calls raise Crash at ``boundary``. The
    manifest is published by ``session.write_file``'s own rename."""
    real_delete, real_rename = U.delete_path, U.rename_path
    renamed: list[str] = []

    def delete(spark, path):
        live_bucket = path.startswith(f"{table}/bucket=")
        crash = {
            "after_manifest": live_bucket and not renamed,
            "after_1_of_n_buckets": live_bucket and len(renamed) == 1,
            "after_2_of_n_buckets": live_bucket and len(renamed) == 2,
            # not the delete of the absent staging on merge entry
            "after_verification": path == staging and renamed,
        }
        if crash.get(boundary):
            raise Crash(boundary)
        real_delete(spark, path)

    def rename(spark, src, dst):
        crash = {
            "after_staging": dst.endswith(U.MANIFEST),
            "between_delete_and_rename": dst.startswith(f"{table}/bucket="),
        }
        if crash.get(boundary):
            raise Crash(boundary)
        real_rename(spark, src, dst)
        if dst.startswith(f"{table}/bucket="):
            renamed.append(dst)
            if boundary == "after_last_rename" and not glob.glob(f"{staging}/bucket=*"):
                raise Crash(boundary)

    monkeypatch.setattr(U, "delete_path", delete)
    monkeypatch.setattr(U, "rename_path", rename)
    monkeypatch.setattr(S, "rename_path", rename)


def _table(spark, path: str) -> dict[str, str]:
    if not glob.glob(f"{path}/bucket=*"):
        return {}  # a missing table reads as empty, as in merge_upsert
    rows = spark.read.parquet(path).collect()
    got = {r.url: r.text for r in rows}
    assert len(got) == len(rows), "duplicate keys in the table"
    return got


@pytest.mark.parametrize(
    "boundary,missing_table",
    [pytest.param(b, False, id=b) for b in BOUNDARIES]
    + [pytest.param(b, True, id=f"missing_table-{b}") for b in BOUNDARIES],
)
def test_merge_crash_at_commit_boundary_matches_dict_model(
    spark, tmp_path, monkeypatch, boundary, missing_table
):
    # once the manifest is published, recovery alone rolls the crashed
    # merge forward to the merged table; before that (after_staging) it
    # drops staging and leaves the table as it was. Either way the
    # streaming replay of the same batch then converges, and later merges
    # carry on. With missing_table the crash hits the first batch, the
    # one creating it.
    rng = random.Random(11)
    path = str(tmp_path / "tbl")
    staging = f"{path}__staging_merge"
    model = {} if missing_table else {f"u{i}": f"old{i}" for i in range(40)}
    if model:
        _write_table(spark, path, [Row(url=k, text=v) for k, v in model.items()])
    crash_step = 0 if missing_table else 1
    for step in range(3):
        batch = {f"u{rng.randrange(50)}": f"v{step}_{j}" for j in range(8)}
        before = dict(model)
        model.update(batch)
        updates = spark.createDataFrame([Row(url=k, text=v) for k, v in batch.items()])
        if step == crash_step:
            _inject_crash(monkeypatch, boundary, path, staging)
            with pytest.raises(Crash):
                merge_upsert(spark, path, updates, num_buckets=4)
            monkeypatch.undo()
            published = boundary != "after_staging"
            assert os.path.exists(f"{staging}/{U.MANIFEST}") == published
            assert recover_staging(spark, path) is published
            assert not os.path.exists(staging)
            expected = model if published else before
            assert _table(spark, path) == expected, f"recovery diverged at {boundary}"
        merge_upsert(spark, path, updates, num_buckets=4)
        assert _table(spark, path) == model, f"diverged at step {step} ({boundary})"


def test_crash_between_the_batch_and_the_unchanged_rows_is_discarded(
    spark, tmp_path, monkeypatch
):
    # the batch is staged, the unchanged live rows are not: staging has no
    # manifest, so recovery drops it and leaves the table as it was, and
    # the replayed batch then applies in full
    path = str(tmp_path / "tbl")
    staging = f"{path}__staging_merge"
    model = {f"u{i}": f"old{i}" for i in range(40)}
    _write_table(spark, path, [Row(url=k, text=v) for k, v in model.items()])
    before = _live_files(path)
    batch = {"u3": "NEW3", "u17": "NEW17", "u99": "ins99"}
    updates = spark.createDataFrame([Row(url=k, text=v) for k, v in batch.items()])
    real_stage = U._stage

    def stage(df, mode, staging_):
        if mode == "append":
            raise Crash("before the unchanged rows")
        real_stage(df, mode, staging_)

    monkeypatch.setattr(U, "_stage", stage)
    with pytest.raises(Crash):
        merge_upsert(spark, path, updates, num_buckets=4)
    monkeypatch.undo()
    assert glob.glob(f"{staging}/bucket=*")  # the batch is staged
    assert not os.path.exists(f"{staging}/{U.MANIFEST}")
    assert recover_staging(spark, path) is False
    assert not os.path.exists(staging)
    assert _live_files(path) == before
    merge_upsert(spark, path, updates, num_buckets=4)
    model.update(batch)
    assert _table(spark, path) == model


def _data_files(d: str) -> dict[str, int]:
    return {
        f: os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    }


def test_commit_runs_no_spark_job_and_moves_the_staged_files(spark, tmp_path, monkeypatch):
    # once staging is durable, commit, verification and the staging drop
    # are Hadoop FS calls only: no Spark job, and the live files of each
    # rewritten bucket are the staged files, same names and lengths
    sc = spark.sparkContext
    group = f"after-staging-{tmp_path.name}"
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(40)])
    staged: dict[str, dict[str, int]] = {}
    real_commit = U._commit_staging

    def commit(spark_, staging, table_dir):
        for d in glob.glob(f"{staging}/bucket=*"):
            staged[os.path.basename(d)] = _data_files(d)
        sc.setJobGroup(group, group)
        real_commit(spark_, staging, table_dir)

    monkeypatch.setattr(U, "_commit_staging", commit)
    updates = spark.createDataFrame(
        [Row(url="u3", text="NEW3"), Row(url="u7", text="NEW7"), Row(url="u99", text="ins99")]
    )
    try:
        rewritten = merge_upsert(spark, path, updates, num_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _job_tasks(spark, group) == []
    assert sorted(staged) == [f"bucket={b}" for b in rewritten]
    for b, files in staged.items():
        assert files and _data_files(f"{path}/{b}") == files, b
    assert _table(spark, path)["u3"] == "NEW3"
