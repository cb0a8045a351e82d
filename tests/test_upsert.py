"""Upsert/MERGE semantics (jobs/upsert.py) — the reference reprocesses a
re-saved input (new mtime) and its output replaces the old one
(/root/reference/manga_ocr/run.py:107,204-206); merge_upsert gives the
table that semantic: re-ingesting a modified page leaves the reader seeing
exactly the new text, no duplicates, and rewrites only affected buckets."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import Row, functions as F

from manga_ocr_spark.jobs import extract as E, session as S, upsert as U
from manga_ocr_spark.jobs.upsert import latest_wins, merge_upsert


def _write_table(spark, path: str, rows, num_buckets: int = 4):
    df = spark.createDataFrame(rows, "url string, text string")
    df = df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(num_buckets)).cast("int")
    )
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return df


def _publish_manifest(spark, staging: str) -> None:
    """Mark a hand-built ``staging`` dir complete the way merge_upsert
    does: publish the manifest of its staged listing."""
    manifest = json.dumps(U._staged_manifest(spark, staging), sort_keys=True)
    S.write_file(spark, f"{staging}/{U.MANIFEST}", manifest.encode())


def test_merge_replaces_matched_inserts_new(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(20)])

    updates = spark.createDataFrame(
        [Row(url="u3", text="NEW3"), Row(url="u7", text="NEW7"), Row(url="u99", text="ins99")]
    )
    rewritten = merge_upsert(spark, path, updates, num_buckets=4)
    assert rewritten  # at least one bucket touched

    out = {r.url: r.text for r in spark.read.parquet(path).collect()}
    assert len(out) == 21  # 20 originals - 0 lost + 1 insert, no dups
    assert out["u3"] == "NEW3" and out["u7"] == "NEW7" and out["u99"] == "ins99"
    assert out["u0"] == "old0"  # untouched keys intact


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(40)])
    # find a key and note which buckets its update should NOT touch
    before = {
        b: sorted(os.path.getmtime(f) for f in glob.glob(f"{path}/bucket={b}/*.parquet"))
        for b in range(4)
    }
    updates = spark.createDataFrame([Row(url="u5", text="NEW5")])
    rewritten = merge_upsert(spark, path, updates, num_buckets=4)
    assert len(rewritten) == 1
    untouched = [b for b in range(4) if b not in rewritten]
    after = {
        b: sorted(os.path.getmtime(f) for f in glob.glob(f"{path}/bucket={b}/*.parquet"))
        for b in range(4)
    }
    for b in untouched:
        assert after[b] == before[b], f"bucket {b} was rewritten but held no updated key"
    assert {r.url: r.text for r in spark.read.parquet(path).collect()}["u5"] == "NEW5"


def test_merge_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(10)])
    updates = spark.createDataFrame([Row(url="u1", text="NEW1")])
    merge_upsert(spark, path, updates, num_buckets=4)
    merge_upsert(spark, path, updates, num_buckets=4)
    rows = spark.read.parquet(path).filter("url = 'u1'").collect()
    assert len(rows) == 1 and rows[0].text == "NEW1"


def test_merge_random_sequence_matches_dict_model(spark, tmp_path):
    # model check: any sequence of merge batches must leave the table
    # equal to a plain dict of last-write-wins upserts
    import random

    rng = random.Random(7)
    path = str(tmp_path / "tbl")
    model = {f"u{i}": f"old{i}" for i in range(15)}
    _write_table(spark, path, [Row(url=k, text=v) for k, v in model.items()])
    for step in range(4):
        batch = {
            f"u{rng.randrange(25)}": f"v{step}_{j}" for j in range(rng.randint(1, 6))
        }
        model.update(batch)
        merge_upsert(
            spark,
            path,
            spark.createDataFrame([Row(url=k, text=v) for k, v in batch.items()]),
            num_buckets=4,
        )
        got = {r.url: r.text for r in spark.read.parquet(path).collect()}
        assert got == model, f"diverged at step {step}"


def test_merge_batch_with_duplicate_keys_keeps_latest_only(spark, tmp_path):
    # one updates batch carrying BOTH versions of a key (a streaming
    # microbatch seeing a save and a re-save) must leave exactly one row:
    # the latest warc_ts
    import datetime as dt

    path = str(tmp_path / "tbl")
    t0 = dt.datetime(2024, 3, 1)
    later = t0 + dt.timedelta(hours=1)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([Row(url=f"u{i}", text=f"old{i}", warc_ts=t0) for i in range(6)]),
        num_buckets=4,
    )
    updates = spark.createDataFrame(
        [Row(url="u2", text="v2", warc_ts=later), Row(url="u2", text="v1", warc_ts=t0),
         Row(url="u9", text="new9a", warc_ts=t0), Row(url="u9", text="new9b", warc_ts=later)]
    )
    merge_upsert(spark, path, updates, num_buckets=4)
    rows = {r.url: r.text for r in spark.read.parquet(path).collect()}
    assert rows["u2"] == "v2" and rows["u9"] == "new9b"
    assert spark.read.parquet(path).groupBy("url").count().filter("count > 1").count() == 0


def test_latest_wins_view(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", v="v1", ver=1),
            Row(k="a", v="v2", ver=2),
            Row(k="b", v="only", ver=1),
        ]
    )
    out = {r.k: (r.v, r.ver) for r in latest_wins(df, ["k"], "ver").collect()}
    assert out == {"a": ("v2", 2), "b": ("only", 1)}


def _live_files(path: str) -> dict[str, bytes]:
    return {
        os.path.relpath(f, path): open(f, "rb").read()
        for f in glob.glob(f"{path}/**", recursive=True)
        if os.path.isfile(f)
    }


def test_merge_over_a_corrupt_live_bucket_raises_and_leaves_the_table(spark, tmp_path):
    # the live buckets a batch touches are read, never probed: a corrupt
    # file there must fail the merge before any commit step, not read as
    # "no rows" and let the staged bucket replace the live one
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(20)])
    (bucket,) = [r.bucket for r in spark.read.parquet(path).filter("url = 'u5'").collect()]
    with open(f"{path}/bucket={bucket}/part-corrupt.parquet", "w") as f:
        f.write("not parquet " * 10)
    before = _live_files(path)

    updates = spark.createDataFrame([Row(url="u5", text="NEW5")])
    with pytest.raises(Exception):
        merge_upsert(spark, path, updates, num_buckets=4)
    assert _live_files(path) == before
    assert not os.path.exists(f"{path}__staging_merge/{U.MANIFEST}")


def test_merge_publishes_one_driver_file_and_no_success_marker(spark, tmp_path, monkeypatch):
    # the manifest is the merge's one commit marker: a merge into an
    # existing table writes it and no other driver file, and leaves no
    # _SUCCESS in the table or in staging
    path = str(tmp_path / "tbl")
    staging = f"{path}__staging_merge"
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(20)])
    os.remove(f"{path}/_SUCCESS")  # the setup write's own marker
    written: list[str] = []
    real_write_file = S.write_file

    def write_file(spark_, p, data):
        written.append(p)
        real_write_file(spark_, p, data)

    for module in (S, U, E):  # every module that writes driver files
        monkeypatch.setattr(module, "write_file", write_file)
    updates = spark.createDataFrame([Row(url="u3", text="NEW3"), Row(url="u99", text="ins99")])
    assert merge_upsert(spark, path, updates, num_buckets=4)
    assert written == [f"{staging}/{U.MANIFEST}"]
    assert not glob.glob(f"{path}/**/_SUCCESS", recursive=True)
    assert not os.path.exists(staging)
    out = {r.url: r.text for r in spark.read.parquet(path).collect()}
    assert len(out) == 21 and out["u3"] == "NEW3" and out["u99"] == "ins99"


def test_merge_extracts_each_batch_once(spark, tmp_path):
    # the batch's plan (extraction, in a stream) runs once per merge: the
    # affected buckets, the matched keys and the inserted rows all come
    # from one staged copy, not from re-evaluating the UDF per branch
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(20)])
    counted = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            counted.add(b.num_rows)
            yield b

    rows = [Row(url=f"u{i}", text=f"new{i}") for i in range(10, 25)]
    src = spark.createDataFrame(rows)
    updates = src.mapInArrow(count_rows, src.schema)
    assert merge_upsert(spark, path, updates, num_buckets=4)
    assert counted.value == len(rows)
    out = {r.url: r.text for r in spark.read.parquet(path).collect()}
    assert len(out) == 25 and out["u12"] == "new12" and out["u3"] == "old3"


def test_merge_recovers_interrupted_commit(spark, tmp_path, monkeypatch):
    # crash DURING the rename commit: one affected bucket is already
    # deleted, the process dies, and the streaming batch replays.
    # The replayed merge must first restore from the (complete) staging
    # dir, then re-apply — no rows lost, staging cleaned up.
    path = str(tmp_path / "tbl")
    rows = [Row(url=f"u{i}", text=f"old{i}") for i in range(40)]
    _write_table(spark, path, rows)
    updates = spark.createDataFrame([Row(url="u5", text="NEW5"), Row(url="u11", text="NEW11")])

    real_commit = U._commit_staging

    def crash_mid_commit(spark_, staging, table_dir):
        # simulate the commit deleting one AFFECTED live bucket before
        # the process dies, the staged one not yet renamed into place
        affected = sorted(os.path.basename(p) for p in glob.glob(f"{staging}/bucket=*"))
        shutil.rmtree(os.path.join(table_dir, affected[0]))
        raise RuntimeError("simulated crash mid-commit")

    monkeypatch.setattr(U, "_commit_staging", crash_mid_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_upsert(spark, path, updates, num_buckets=4)
    monkeypatch.setattr(U, "_commit_staging", real_commit)

    # table is corrupted on disk right now (a whole bucket missing);
    # staging holds the only good copy. Replay of the SAME batch:
    merge_upsert(spark, path, updates, num_buckets=4)

    out = {r.url: r.text for r in spark.read.parquet(path).collect()}
    assert len(out) == 40  # every original key survived the crash
    assert out["u5"] == "NEW5" and out["u11"] == "NEW11"
    assert out["u0"] == "old0"
    assert not os.path.exists(f"{path}__staging_merge")


@pytest.mark.parametrize("marker", [None, "_SUCCESS"])
def test_merge_ignores_incomplete_staging(spark, tmp_path, marker):
    # a crash DURING the staging write leaves staging without a manifest;
    # the table was never touched — the next merge must discard the
    # debris (not "restore" half-written data) and proceed normally. A
    # _SUCCESS marker (what an older merge wrote before its manifest)
    # does not make staging complete: only the manifest does
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(10)])
    staging = f"{path}__staging_merge"
    os.makedirs(f"{staging}/bucket=0")
    with open(f"{staging}/bucket=0/part-000.parquet", "w") as f:
        f.write("half-written debris")  # no manifest
    if marker:
        open(f"{staging}/{marker}", "w").close()
    before = _live_files(path)
    assert U.recover_staging(spark, path) is False
    assert not os.path.exists(staging)
    assert _live_files(path) == before

    updates = spark.createDataFrame([Row(url="u1", text="NEW1")])
    merge_upsert(spark, path, updates, num_buckets=4)

    out = {r.url: r.text for r in spark.read.parquet(path).collect()}
    assert len(out) == 10 and out["u1"] == "NEW1" and out["u0"] == "old0"
    assert not os.path.exists(staging)


def test_recover_staging_preserves_staging_on_failed_verification(
    spark, tmp_path, monkeypatch
):
    # self-review r3 finding: recovery must keep the staging dir (the only
    # guaranteed-good copy) when its re-commit does not verifiably land —
    # an unverified delete turns a loud commit failure into silent loss
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(20)])
    staging = f"{path}__staging_merge"
    shutil.copytree(path, staging)
    _publish_manifest(spark, staging)  # complete staging

    monkeypatch.setattr(U, "_commit_staging", lambda *a, **k: None)  # commit lost
    shutil.rmtree(path)  # table gone: re-commit (a no-op here) cannot land
    with pytest.raises(Exception):
        U.recover_staging(spark, path)
    assert os.path.exists(staging)  # preserved for the next attempt

    # with the real commit back, the same recovery completes and cleans up
    monkeypatch.undo()
    assert U.recover_staging(spark, path) is True
    assert not os.path.exists(staging)
    assert spark.read.parquet(path).count() == 20


def test_verification_catches_same_count_wrong_content(spark, tmp_path):
    # ADVICE r3: the verify gate must be a CONTENT check, not a row-count
    # check — a commit that landed the right number of wrong rows (or a
    # stale bucket dir with a matching count) must fail verification and
    # preserve staging.
    path = str(tmp_path / "tbl")
    _write_table(spark, path, [Row(url=f"u{i}", text=f"old{i}") for i in range(20)])
    staging = f"{path}__staging_merge"
    shutil.copytree(path, staging)
    _publish_manifest(spark, staging)

    # corrupt one live bucket: same row count, different content
    bucket_dirs = sorted(d for d in os.listdir(path) if d.startswith("bucket="))
    bdir = os.path.join(path, bucket_dirs[0])
    n = spark.read.parquet(bdir).count()
    spark.createDataFrame(
        [Row(url=f"wrong{i}", text=f"stale{i}") for i in range(n)]
    ).write.mode("overwrite").parquet(bdir)

    with pytest.raises(RuntimeError, match="verification failed"):
        U._verify_and_drop_staging(spark, staging, path)
    assert os.path.exists(staging)  # preserved for recovery


def test_merge_with_another_bucket_count_raises_before_writing(spark, tmp_path):
    # a bucket id names other urls under another count: re-merging a url
    # at 8 buckets into a 4-bucket table would put it in a second bucket
    # beside its old row. The first merge records the count; a merge with
    # another one raises before it writes anything
    path = str(tmp_path / "tbl")
    rows = [Row(url=f"u{i}", text=f"old{i}") for i in range(20)]
    merge_upsert(spark, path, spark.createDataFrame(rows), num_buckets=4)
    before = _live_files(path)
    with pytest.raises(ValueError, match="num_buckets=4.*num_buckets=8"):
        merge_upsert(spark, path, spark.createDataFrame([Row(url="u3", text="NEW3")]), num_buckets=8)
    assert _live_files(path) == before
    assert not os.path.exists(f"{path}__staging_merge")
