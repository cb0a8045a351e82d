"""bench.py's capture controls.

The scaling capture's host-ceiling control claims to feed the pure
extraction core THE SAME page HTML the engine legs extract — that
byte-identity is what makes its throughput a ceiling for the engine
rather than a different workload. Pin it against the real Spark path.
The quiet gate's verdict and fan count are pinned with stubbed probes."""

from __future__ import annotations

from pyspark.sql import functions as F

import bench
from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


def test_control_payloads_byte_identical_to_engine_pages(spark):
    paras, fanout = 3, 2
    got = bench._control_payloads(paras, fanout=fanout, sf_dir=SF_DIR)

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.lit(fanout - 1))))
        .select(
            (F.col("doc_id") * fanout + F.col("copy")).alias("doc_id"),
            F.concat_ws(" ", F.array_repeat(F.col("text"), paras)).alias("text"),
            F.col("lang"),
        )
    )
    rows = pages_from_documents(docs).select("url", "html").collect()
    # order-insensitive: the control builds in pyarrow scan order, the
    # engine in Spark partition order
    assert sorted(got) == sorted(bytes(r.html) for r in rows)
    assert len(got) == 500 * fanout


# The quiet gate judges each probe against itself: no Spark, no sleeping.
QUIET = {"t1": 0.7, "tp": 0.8, "load1": 0.3}


def test_quiet_gate_accepts_a_quiet_reading():
    assert bench._is_quiet(QUIET, nproc=4)
    assert bench._is_quiet({**QUIET, "tp": 1.5 * QUIET["t1"]}, nproc=4)


def test_quiet_gate_rejects_a_storm_or_a_loaded_host():
    assert not bench._is_quiet({**QUIET, "tp": 2 * QUIET["t1"]}, nproc=4)
    assert not bench._is_quiet({**QUIET, "load1": 2.0}, nproc=4)
    # a scaling leg's post-leg probe allows for the leg's own load
    assert bench._is_quiet({**QUIET, "load1": 9.0}, nproc=4, load_allowance=8 + 3)
    assert not bench._is_quiet({**QUIET, "tp": 2 * QUIET["t1"]}, nproc=4, load_allowance=11)


def _stub_gate(monkeypatch, nproc: int, reading: dict) -> list[int]:
    fans: list[int] = []

    def probe(procs):
        fans.append(procs)
        return dict(reading)

    def no_sleep(sec):
        raise AssertionError(f"gate slept {sec}s")

    monkeypatch.setattr(bench.os, "cpu_count", lambda: nproc)
    monkeypatch.setattr(bench, "_load_probe", probe)
    monkeypatch.setattr(bench.time, "sleep", no_sleep)
    return fans


def test_quiet_gate_fans_over_min_8_nproc_and_passes_on_the_first_probe(monkeypatch):
    for nproc, fan in ((4, 4), (32, 8), (1, 1)):
        fans = _stub_gate(monkeypatch, nproc, QUIET)
        assert bench._wait_quiet(540) == (QUIET, True)
        assert fans == [fan]


def test_quiet_gate_records_a_busy_probe_at_the_deadline(monkeypatch):
    busy = {**QUIET, "tp": 2 * QUIET["t1"]}
    fans = _stub_gate(monkeypatch, 4, busy)
    assert bench._wait_quiet(0) == (busy, False)
    assert fans == [4]
