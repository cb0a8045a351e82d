"""Pool the commit-unit latencies of every untraced run of one workload
kept in this checkout, and print their p50 and p90 with the sample count.

    python3 perfbench/pool.py extract_resume

A p90 is read as a tail only once at least 10 units lie beyond it, so
run more seeds of the workload until the last line says ``tail_ok``.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

from run import WORK_ROOT, p90


def main(workload: str) -> int:
    files = sorted((WORK_ROOT / "results").glob(f"{workload}-s*.json"))
    units = [u for f in files for u in json.loads(f.read_text()).get("units", [])]
    if not units:
        print(f"no untraced runs of {workload} under {WORK_ROOT / 'results'}", file=sys.stderr)
        return 1
    tail = p90(units)
    beyond = sum(u > tail for u in units)
    print(f"{workload} runs={len(files)} n={len(units)} unit_s.p50={statistics.median(units):.6g}"
          f" unit_s.p90={tail:.6g} beyond_p90={beyond} {'tail_ok' if beyond >= 10 else 'tail_short'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
