#!/usr/bin/env python
"""Dump .explain('formatted') for every headline bench query to
plans/r07/<query>_<tag>.txt (tag = before|after|..., argv[1]; remaining
argv = optional query-name filter).

Query builders come from bench.build_headline_queries — the ONE table
the headline bench and the focused timing harness also use. Eager
localCheckpoints inside the guarded tiers run at build time — that is
the production plan shape; the dumped plan is what the timed query
executes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ONLY = set(sys.argv[2:])


def main() -> None:
    from bench import _fanned_pages, build_headline_queries
    from manga_ocr_spark.jobs.extract import extract_pages
    from manga_ocr_spark.jobs.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(build_headline_queries(spark, SF_DIR, CPUS))
    # the extraction job's plan over bench-shaped pages (no staging)
    qs["extract_80k_pages"] = lambda: extract_pages(_fanned_pages(spark, SF_DIR, 16))
    unknown = ONLY - qs.keys()
    if unknown:
        sys.exit(f"unknown query name(s): {sorted(unknown)} — valid: {sorted(qs)}")
    out_dir = REPO / "plans" / "r07"
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, build in qs.items():
        if ONLY and name not in ONLY:
            continue
        df = build()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{TAG}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{TAG}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
