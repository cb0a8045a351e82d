"""The spark-submit entry points (jobs/run_extract.py, jobs/run_neardedup.py),
run the way a deployment runs them: the package imported from the
``--py-files`` zip that tools/make_pyfiles.py builds, arguments from the
command line, one JSON line printed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.test_neardedup import _hot_bucket_docs


def _pages_file(path, n: int) -> None:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    pq.write_table(
        pa.table({
            "url": [f"https://x/{i}" for i in range(n)],
            # microseconds: Spark cannot read a parquet nanosecond timestamp
            "warc_ts": pa.array([dt.datetime(2024, 3, 1)] * n, pa.timestamp("us")),
            "html": [f"<html><body><p>page text number {i}</p></body></html>".encode() for i in range(n)],
            "text": [""] * n,
            "lang": ["en"] * n,
        }),
        path / "part-0.parquet",
    )


def test_run_extract_from_the_py_files_zip_resumes_under_the_recorded_count(tmp_path):
    from tools.make_pyfiles import build

    zip_path = build(tmp_path / "m.zip")
    _pages_file(tmp_path / "pages", 40)
    env = {**os.environ, "PYTHONPATH": str(zip_path), "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}

    def run(*flags: str) -> dict:
        cmd = [sys.executable, "-m", "manga_ocr_spark.jobs.run_extract", "--master", "local[2]",
               "--input", "pages", "--output", "out", *flags]
        proc = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    assert run("--buckets", "4", "--commit-group", "2") == {
        "committed_buckets": [0, 1, 2, 3], "extracted_rows": 40,
    }
    # no --buckets: the run resumes under the recorded 4, all committed
    assert run() == {"committed_buckets": [], "extracted_rows": 40}
    assert (tmp_path / "out" / "extracted" / "_buckets").read_text() == "4"


def test_run_neardedup_reports_that_the_cap_fired(spark, tmp_path, monkeypatch, capsys):
    from manga_ocr_spark.jobs import run_neardedup

    docs, out = str(tmp_path / "docs"), str(tmp_path / "nd")
    spark.createDataFrame(_hot_bucket_docs()).write.parquet(docs)
    monkeypatch.setattr(
        sys, "argv", ["run_neardedup", "--input", docs, "--output", out, "--max-bucket", "10"]
    )
    run_neardedup.main()
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["cap_fired"] is True
    assert got["docs_in"] == 20
