"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its ``oracle_sql()``
on DuckDB, then compares row count, column names, and order-insensitive
values (sorted columns, stringified rows). Exact string equality of values
is stricter than any hash the driver could use.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(df: pd.DataFrame) -> list[str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: "null" if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.map(lambda v: "null" if pd.isna(v) else str(int(v)))
        else:
            df[c] = s.map(lambda v: "null" if v is None else str(v))
    rows = ["\x1f".join(r) for r in df.astype(str).to_numpy()]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from manga_ocr_spark.jobs.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {t_spark:.1f}s spark) — no oracle")
            if len(sdf) == 0:
                failures.append(name)
                print(f"FAIL {name}: rows-only query returned 0 rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
            continue
        a, b = _canon(sdf), _canon(odf)
        if a != b:
            failures.append(name)
            from collections import Counter

            ca, cb = Counter(a), Counter(b)
            only_a = list((ca - cb).elements())[:3]
            only_b = list((cb - ca).elements())[:3]
            print(f"FAIL {name}: {sum((ca - cb).values())} rows differ")
            for r in only_a:
                print(f"  spark-only : {r.replace(chr(31), ' | ')[:240]}")
            for r in only_b:
                print(f"  oracle-only: {r.replace(chr(31), ' | ')[:240]}")
        else:
            print(f"PASS {name}: {len(sdf)} rows ({t_spark:.1f}s spark)")
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
