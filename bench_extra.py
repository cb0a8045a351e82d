#!/usr/bin/env python
"""Focused benchmark harness for optimization work (guide §1.4).

bench.py times the whole headline suite; this file re-times individual
queries in isolation during optimization. Reuses bench.py's query table
(``bench.build_headline_queries``, the shapes the driver times),
noop-sink forcing, and quiet-gate probe.

Usage:
    python bench_extra.py [query ...]          # default: all headline queries
    BENCH_QUERY_RUNS=5 python bench_extra.py minhash_candidate_pairs

Prints one JSON line: {"queries": {name: med}, "spreads": {...}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import bench as B  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    only = set(sys.argv[1:])
    from manga_ocr_spark.jobs.session import get_spark

    gate_probe, gate_quiet = B._wait_quiet(
        int(os.environ.get("BENCH_HEADLINE_MAX_WAIT", "540")),
        float(os.environ.get("BENCH_QUIET_TP", "1.15")),
        quiet_load=float(os.environ.get("BENCH_QUIET_LOAD", "3.0")),
    )
    spark = get_spark(master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    canary = B._noise_canary(spark)
    qs = B.build_headline_queries(spark, SF_DIR, CPUS)
    unknown = only - qs.keys()
    if unknown:
        sys.exit(f"unknown query name(s): {sorted(unknown)} — valid: {sorted(qs)}")
    runs = int(os.environ.get("BENCH_QUERY_RUNS", "3"))
    times, spreads = {}, {}
    for name, build in qs.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        samples = []
        for _ in range(runs):
            t0 = time.time()
            B._force(build())
            samples.append(time.time() - t0)
        samples.sort()
        times[name] = round(samples[len(samples) // 2], 3)
        spreads[name] = {
            "min": round(samples[0], 3),
            "med": times[name],
            "max": round(samples[-1], 3),
        }
    print(
        json.dumps(
            {
                "queries": times,
                "spreads": spreads,
                "noise_canary": canary,
                "quiet_gate": {**gate_probe, "quiet": gate_quiet},
                "sf": B._sf_from_dir(SF_DIR),
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
