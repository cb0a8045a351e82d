"""bench.py's capture controls.

The quiet gate's verdict and fan count are pinned with stubbed probes,
and the argument check is pinned to run before the gate and before a
session starts."""

from __future__ import annotations

import pytest

import bench
from manga_ocr_spark.jobs import session

# The quiet gate judges each probe against itself: no Spark, no sleeping.
QUIET = {"t1": 0.7, "tp": 0.8, "load1": 0.3}


def test_quiet_gate_accepts_a_quiet_reading():
    assert bench._is_quiet(QUIET, nproc=4)
    assert bench._is_quiet({**QUIET, "tp": 1.5 * QUIET["t1"]}, nproc=4)


def test_quiet_gate_rejects_a_storm_or_a_loaded_host():
    assert not bench._is_quiet({**QUIET, "tp": 2 * QUIET["t1"]}, nproc=4)
    assert not bench._is_quiet({**QUIET, "load1": 2.0}, nproc=4)


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


def test_a_flag_exits_before_the_gate_and_the_session(monkeypatch):
    def unreachable(*args, **kwargs):
        raise AssertionError("bench.py went past its argument check")

    monkeypatch.setattr(bench, "_wait_quiet", unreachable)
    monkeypatch.setattr(bench.time, "sleep", unreachable)
    monkeypatch.setattr(session, "get_spark", unreachable)
    with pytest.raises(SystemExit) as exit_:
        bench.main_bench(["--scaling"])
    message = str(exit_.value.code)
    assert "'--scaling'" in message and "git show" in message
    for name in ("minhash_candidate_pairs", "lang_id", bench.EXTRACT_QUERY):
        assert f"'{name}'" in message
