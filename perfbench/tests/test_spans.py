"""Tests of the benchmark's tracing code: spans, the event-log reader and
the join of jobs and tasks onto spans.

    python3 -m pytest perfbench/tests -q

The first tests run on a hand-written event log; the Spark tests build a
local session with the event log on, over a documents table the size of
the sf0.001 testdata (500 rows).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import spans as S  # noqa: E402


def _task(stage: int, run_ms: int, cpu_ns: int, gc_ms: int, shuffle: int, out: int, accums: dict) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": k, "Update": str(v)} for k, v in accums.items()]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": out, "Records Written": 1},
        },
    }


def _job(jid: int, stages: list[int], submit_s: float, end_s: float, group: str | None) -> list[dict]:
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": int(submit_s * 1000),
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int(end_s * 1000)},
    ]


def _synthetic(tmp_path: Path):
    tracer = S.Tracer("r")
    outer = S.Span(0, "unit", None, "r", 100.0, 110.0)
    inner = S.Span(1, "commit", 0, "r", 104.0, 106.0)
    other = S.Span(2, "unit", None, "r", 120.0, 121.0)
    tracer.spans = [outer, inner, other]
    py = {"time to initialize Python workers": 40, "time to run Python workers": 900,
          "data sent to Python workers": 5000, "data returned from Python workers": 3000}
    events = [
        *_job(0, [0], 100.5, 103.0, "r.0"),  # tagged with the outer span's group
        _task(0, 1000, 2_000_000, 7, 0, 0, {**py, "time to start Python workers": 5}),
        _task(0, 1100, 3_000_000, 0, 0, 0, py),
        *_job(1, [0, 1], 104.5, 105.5, None),  # untagged: innermost span by time
        _task(1, 50, 1_000_000, 3, 256, 4096, {}),  # stage 0 was skipped here
        *_job(2, [2], 130.0, 131.0, None),  # outside every span
        _task(2, 999, 1, 1, 1, 1, py),
    ]
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[:5]))
    (log / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[5:]))
    return tracer, tmp_path


def test_rolled_event_files_read_in_write_order(tmp_path):
    for n in (10, 2, 1):
        (tmp_path / f"events_{n}_app").write_text("")
    names = [os.path.basename(p) for p in S.event_log_files(str(tmp_path))]
    assert names == ["events_1_app", "events_2_app", "events_10_app"]


def test_span_rows_aggregate_per_group_and_interval(tmp_path):
    tracer, log_dir = _synthetic(tmp_path)
    jobs, tasks = S.read_event_log(S.event_log_files(str(log_dir)))
    rows = S.span_rows(tracer.spans, jobs, tasks)
    inner = rows[1]
    assert inner["jobs"] == 1 and inner["tasks"] == 1
    assert (inner["gc_ms"], inner["shuffle_write_bytes"], inner["output_bytes"]) == (3, 256, 4096)
    assert inner["python_run_ms"] == 0 and inner["spark_busy_s"] == pytest.approx(1.0)
    outer = rows[0]  # its own job plus its child's
    assert outer["jobs"] == 2 and outer["tasks"] == 3
    assert outer["python_init_ms"] == 80 and outer["python_run_ms"] == 1800
    assert outer["arrow_bytes_to_python"] == 10_000 and outer["arrow_bytes_from_python"] == 6000
    assert outer["python_start_ms"] == 5 and outer["python_worker_starts"] == 1
    assert outer["task_run_ms"] == 2150 and outer["task_cpu_ns"] == 6_000_000
    assert outer["gc_ms"] == 10 and outer["output_bytes"] == 4096
    assert outer["spark_busy_s"] == pytest.approx(3.5)
    assert rows[2]["jobs"] == 0 and rows[2]["tasks"] == 0


def test_tracer_nests_spans_without_a_context():
    tracer = S.Tracer("run")
    with tracer.span("unit") as u:
        with tracer.span("commit") as c:
            pass
    assert (u.parent, c.parent) == (None, u.sid)
    assert u.start <= c.start <= c.end <= u.end
    assert [s.sid for s in tracer.named("commit")] == [c.sid]


# ---------------------------------------------------------------- Spark


def test_event_log_matches_spark_status_per_group(tmp_path):
    """Jobs and tasks the reader attributes to each span are exactly the
    ones Spark's status tracker lists for the span's job group, and the
    extraction span carries the Python and output bytes it produced."""
    import random

    from manga_ocr_spark.jobs.extract import ExtractJob
    from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents
    from manga_ocr_spark.jobs.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    rng = random.Random(0)
    docs = [(d, " ".join(rng.choices("spark row join scan merge table".split(), k=50)), "en")
            for d in range(500)]
    pages = pages_from_documents(spark.createDataFrame(docs, "doc_id long, text string, lang string"))
    tracer = S.Tracer("t", spark.sparkContext)
    out = tmp_path / "out"
    with tracer.span("extract"):
        ExtractJob(spark, str(out), num_buckets=4, commit_group_size=4).run(pages)
    with tracer.span("shuffle"):
        spark.range(0, 20_000, numPartitions=4).selectExpr("id % 7 as k").groupBy("k").count().collect()
    status = spark.sparkContext.statusTracker()
    expected = {}
    for s in tracer.spans:
        jids = sorted(status.getJobIdsForGroup(s.group))
        stages = {st for j in jids for st in status.getJobInfo(j).stageIds}
        infos = [status.getStageInfo(st) for st in stages]
        expected[s.sid] = (len(jids), sum(i.numCompletedTasks for i in infos if i is not None))
    html_bytes = sum(len(r.html) for r in pages.select("html").collect())
    written = sum(p.stat().st_size for p in out.rglob("*.parquet"))
    spark.stop()

    jobs, tasks = S.read_event_log(S.event_log_files(str(log_dir)))
    rows = S.span_rows(tracer.spans, jobs, tasks)
    for sid, (n_jobs, n_tasks) in expected.items():
        assert (rows[sid]["jobs"], rows[sid]["tasks"]) == (n_jobs, n_tasks)
    ext, shuf = rows[0], rows[1]
    assert ext["python_init_ms"] > 0 and ext["python_run_ms"] > 0
    assert ext["arrow_bytes_to_python"] >= html_bytes
    assert ext["arrow_bytes_from_python"] > 0
    assert ext["output_bytes"] == written
    assert shuf["shuffle_write_bytes"] > 0 and shuf["python_run_ms"] == 0
    assert ext["gc_ms"] >= 0 and ext["task_cpu_ns"] > 0


def test_traced_extract_run_is_python_bound():
    """The traced extract_resume run reproduces the shape of the extraction
    layer probe: Python run time far above the JVM's CPU time."""
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", "extract_resume", "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"] and result["failed"] == 0
    assert m["jobs.extract.python_run_s"] > 2 * m["jobs.extract.task_cpu_s"]
    assert m["jobs.extract.arrow_bytes_to_python"] > 0 and m["jobs.extract.python_init_s"] > 0
