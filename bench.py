#!/usr/bin/env python
"""Headline benchmark (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

$SPARK_GRAFT_CPUS defaults to the CPUs this process may run on.

Each query is forced with a noop-format write (full execution, no driver
collect bottleneck). The extraction workload is built by fanning the
documents table out x16 JVM-side (explode over a sequence — no driver
loop) into ~80k pages with multi-paragraph HTML, so the mapInArrow
stage dominates and the number reflects engine throughput, not fixture
generation.

`python bench.py <query> ...` times only the named
:func:`build_headline_queries` entries (plus ``extract_80k_pages`` if
named) and prints the same JSON keys; ``value`` is the total of the
named entries, and ``extract_docs``/``extract_docs_per_sec`` are null
unless extraction was named. An unknown name, or any flag, exits 1
before anything is timed and lists the valid names.

The bench first waits (bounded by $BENCH_HEADLINE_MAX_WAIT seconds,
default 540) for a quiet host. The gate calibrates itself: one probe
times a fixed pure-Python spin in one process (``t1``) and fanned over
``min(8, os.cpu_count())`` processes (``tp``). The host is quiet iff
``tp <= 1.5 x t1`` and loadavg1 is under half the CPU count; no
host-specific threshold is configured.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from manga_ocr_spark.jobs.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus(os.environ)
FANOUT = 16
# paragraphs per synthetic page: 10 (~3 KB html) keeps the extraction
# entry to a few seconds at sf0.1, so a headline run stays short
PARAS = 10
WARMUP_MAX = 8  # warm-up passes before the timed extraction run, at most
QUERY_RUNS = 3  # samples per query; the headline reports their median


def _sf_from_dir(d: str) -> float:
    name = Path(d).name  # "sf0.1"
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fanned_pages(spark, sf_dir: str):
    """documents -> FANOUT x pages with PARAS-paragraph html, all JVM-side."""
    from pyspark.sql import functions as F

    from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.lit(FANOUT - 1))))
        .select(
            (F.col("doc_id") * FANOUT + F.col("copy")).alias("doc_id"),
            F.concat_ws(" ", F.array_repeat(F.col("text"), PARAS)).alias("text"),
            F.col("lang"),
        )
    )
    return pages_from_documents(docs)


def _timed_extract(spark, sf_dir: str) -> dict:
    import shutil
    import tempfile

    from manga_ocr_spark.jobs.extract import extract_pages

    # Stage the synthetic pages to parquet once and READ them in the timed
    # run — exactly what a real deployment does. (An earlier .persist()
    # variant cached the deserialized rows; the resulting GC pressure
    # serialized the JVM side. Parquet scan + Arrow is the design point,
    # so measure that.)
    tmp = tempfile.mkdtemp(prefix="bench_pages_")
    files = CPUS * 2
    try:
        _fanned_pages(spark, sf_dir).repartition(files).write.mode("overwrite").parquet(tmp)
        # Read back one task per staged file, two per slot, so a slot that
        # finishes early takes a second task instead of idling behind a
        # straggler. Spark's own split sizing aims at the default
        # parallelism, max(8, CPUS) tasks: one per slot above 4 CPUs.
        staged = sum(f.stat().st_size for f in Path(tmp).glob("*.parquet"))
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(max(4 << 20, staged // files)),
        )
        pages = spark.read.parquet(tmp)
        n_docs = pages.count()
        # warm up TO STEADY STATE: one pass boots every python worker and
        # the Arrow path, but the JVM keeps getting faster for several more
        # passes (tiered JIT of the parquet/Arrow hot loops, heap sizing).
        # A long-running job spends nearly all its life at steady state, so
        # that is the regime to time. Warm until two consecutive passes stop
        # beating the best by >3%, at most WARMUP_MAX passes.
        warm = []
        stale = 0
        for _ in range(WARMUP_MAX):
            t0 = time.time()
            _force(extract_pages(pages))
            w = time.time() - t0
            if warm and w > min(warm) * 0.97:
                stale += 1
                if stale >= 2:
                    warm.append(w)
                    break
            else:
                stale = 0
            warm.append(w)
        t0 = time.time()
        _force(extract_pages(pages))
        run = time.time() - t0
        # best-of-N: on a shared host the minimum is the least
        # co-tenant-contaminated sample of the job's true cost (same
        # rationale as hyperfine/timeit). Warmup passes from the 3rd
        # on are full identical passes of the job in a booted JVM — they
        # can only be SLOWER than steady state, so they are valid samples
        # for a minimum (first two excluded: worker boot + bulk JIT).
        sec = min([run] + warm[2:])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "docs": n_docs,
        "sec": round(sec, 3),
        "docs_per_sec": round(n_docs / sec, 1),
    }


def build_headline_queries(spark, sf_dir: str, cpus: int) -> dict:
    """The headline query builders: full-size variants of the operator
    inventory (no oracle-subsetting), name -> zero-argument builder. The
    one table of query shapes the headline bench times. With ``spark``
    None nothing is read and no builder can run: only the names are
    meant, to check arguments against before a session starts."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from manga_ocr_spark.operators import dedup as D
    from manga_ocr_spark.operators import similarity as S
    from manga_ocr_spark.operators import text as T

    # the sf parquet files are single-split small; CPU-bound UDF stages
    # (minhash/simhash) need rows spread over cores — at 100 TB the scan
    # itself provides ~800k splits, here an explicit repartition stands in
    docs = emb = None
    if spark is not None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(cpus)

    return {
        "q1_pricing_summary": lambda: E._q1_pricing(spark, sf_dir),
        "q3_top_revenue": lambda: E._q3_top_revenue(spark, sf_dir),
        "q5_region_revenue": lambda: E._q5_region_revenue(spark, sf_dir),
        "window_rank_orders": lambda: E._q_window_rank(spark, sf_dir),
        "events_hourly": lambda: E._q_events_hourly(spark, sf_dir),
        "dedup_exact_keep": lambda: D.exact_dedup(docs),
        # the GUARDED production shape (r6 fused: ONE text pass computes
        # fingerprint + signature; banding/cap over reps from the single
        # materialized base) — the same path the driver query runs,
        # scale-critical collapse/cap stages included
        "minhash_candidate_pairs": lambda: D.expand_rep_pairs(
            *D.lsh_guarded_with_drops(docs, max_bucket_size=D.LSH_MAX_BUCKET)[:2]
        ),
        "simhash_docs": lambda: D.simhash64(docs),
        # guarded SimHash (r6): same fused posture as the MinHash tier
        "simhash_candidate_pairs": lambda: D.expand_rep_pairs(
            *D.simhash_guarded_with_drops(docs, max_bucket_size=D.LSH_MAX_BUCKET)[:2],
            carry={"hamming": F.lit(0)},
        ),
        "cosine_topk": lambda: S.cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=10),
        # the SAME configuration the ann_recall oracle gates (bits=4 x 16
        # bands): measured recall@10 here at sf0.1's 2000-vector corpus is
        # 0.89 (vs 0.92-0.96 at sf0.01/sf0.001). bits is the documented
        # log2(N) knob for bigger corpora; benching a higher-bits/lower-
        # recall variant would flatter the time at the cost of honesty
        "ann_lsh_topk": lambda: S.lsh_bucket_topk(
            emb.filter(F.col("vec_id") < 20), emb, k=10, dim=64, bits=4, bands=16
        ),
        "token_stats": lambda: E._q_token_stats(spark, sf_dir),
        # shuffle-free expression panel: fed from the repartitioned docs
        # frame like the other CPU-bound stages (the raw sf parquet is a
        # single split — with no shuffle in the plan nothing else would
        # spread the per-doc expression work over cores; at 100 TB the
        # scan's ~800k splits do it)
        "quality_scores": lambda: T.quality_panel(docs),
        "lang_id": lambda: T.lang_id_frame(docs),
        "media_meta": lambda: E._q_media_meta(spark, sf_dir),
    }


def _headline_queries(qs: dict) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Times every builder in ``qs``. Returns (median per query,
    {min, med, max} spread per query)."""
    # median-of-N per query: round 2's apparent regressions
    # (dedup_exact_keep +21%, media_meta 6x) were single cold samples on a
    # shared noisy host — re-measured 5x they sit at/below round-1 levels
    # (dedup 0.70s, media_meta 0.20s medians; first samples 5.5s/0.46s).
    # The median of 3 discards the cold-start/co-tenant outlier while
    # still charging steady-state cost.
    times: dict[str, float] = {}
    # full min/median/max per query in the payload: driver-recorded medians
    # and end-of-round re-runs have differed by ~25% on this shared host
    # (r3: 16.06s vs 12.7s) — the spread lets a reader separate co-tenant
    # noise (wide min..max, low min) from a real regression (high MIN)
    # without re-running.
    spreads: dict[str, dict[str, float]] = {}
    for name, build in qs.items():
        samples = []
        for _ in range(QUERY_RUNS):
            t0 = time.time()
            _force(build())
            samples.append(time.time() - t0)
        samples.sort()
        times[name] = round(samples[len(samples) // 2], 3)
        spreads[name] = {
            "min": round(samples[0], 3),
            "med": times[name],
            "max": round(samples[-1], 3),
        }
    return times, spreads


def _noise_canary(spark) -> dict[str, float]:
    """A FIXED reference job whose cost is independent of every engine
    change: sum over an in-memory range (no I/O, no Python, no shuffle
    beyond the final partial-agg exchange). Its round-over-round movement
    measures the shared host's co-tenant load at bench time, letting a
    reader normalize headline deltas without cross-round STATUS prose
    (r5's driver sample landed in a storm window and read +14% on an
    unchanged tree). Never added to the headline total."""
    from pyspark.sql import functions as F

    samples = []
    for _ in range(3):
        t0 = time.time()
        _force(spark.range(0, 200_000_000, 1, CPUS).select(F.sum("id")))
        samples.append(time.time() - t0)
    samples.sort()
    return {
        "min": round(samples[0], 3),
        "med": round(samples[1], 3),
        "max": round(samples[2], 3),
    }


EXTRACT_QUERY = "extract_80k_pages"


def main_bench(names: list[str]) -> None:
    """Headline bench over every query, or over ``names`` only."""
    valid = [*build_headline_queries(None, SF_DIR, CPUS), EXTRACT_QUERY]
    unknown = sorted(set(names) - set(valid))
    if unknown:
        flags = ""
        if any(name.startswith("-") for name in unknown):
            flags = (
                "; bench.py takes no flags (the --scaling harness is in git "
                "history: git show 236dbed:bench.py)"
            )
        sys.exit(f"unknown query name(s): {unknown}; valid: {valid}{flags}")

    from manga_ocr_spark.jobs.session import get_spark

    # Don't measure in a storm: wait (bounded) for a quiet window before
    # timing anything. The driver invokes this blind; r5's and r6's first
    # driver samples both landed in co-tenant storms and read +14%/+170%
    # on unchanged trees. The probe result is recorded either way so a
    # reader can discount the capture.
    gate_probe, gate_quiet = _wait_quiet(int(os.environ.get("BENCH_HEADLINE_MAX_WAIT", "540")))
    spark = get_spark(master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    canary = _noise_canary(spark)
    qs = build_headline_queries(spark, SF_DIR, CPUS)
    if names:
        qs = {name: build for name, build in qs.items() if name in names}
    ext = None
    if not names or EXTRACT_QUERY in names:
        ext = _timed_extract(spark, SF_DIR)
    queries, spreads = _headline_queries(qs)
    if ext is not None:
        queries[EXTRACT_QUERY] = ext["sec"]
        spreads[EXTRACT_QUERY] = {"min": ext["sec"], "med": ext["sec"], "max": ext["sec"]}
    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "query_spreads": spreads,
                "noise_canary": canary,
                "quiet_gate": {**gate_probe, "quiet": gate_quiet},
                "sf": _sf_from_dir(SF_DIR),
                "cpus": CPUS,
                "extract_docs": ext["docs"] if ext else None,
                "extract_docs_per_sec": ext["docs_per_sec"] if ext else None,
            }
        )
    )
    spark.stop()


_SPIN_ITERS = 5_000_000


def _spin(n: int) -> int:
    """Fixed pure-Python busy loop (LCG): the load probe's unit of CPU
    work. No I/O, no imports, no allocation growth — its wall time moves
    only with scheduler preemption, i.e. co-tenant load."""
    acc = 1
    for _ in range(n):
        acc = (acc * 1103515245 + 12345) & 0xFFFFFFFF
    return acc


def _probe_procs(nproc: int) -> int:
    """How many processes the load probe fans the spin over on an
    `nproc`-CPU host: more than the host has would measure oversubscription,
    not co-tenant load."""
    return min(8, nproc)


def _load_probe(procs: int) -> dict:
    """Co-tenant load probe with NO Spark involved: time the fixed spin
    single-process (``t1``) and fanned over `procs` processes (``tp``),
    best of 3 rounds each. On a quiet host with at least `procs` cores
    the fanned wall ~= the single wall (idle cores absorb the fanout); a
    co-tenant storm inflates ``tp``. Cheap (~5 s quiet).

    Best of 3 because a sample can only be slowed: on an idle 4-vCPU VM
    the first fanned map over a fresh pool read tp/t1 above 1.5x in 7 of
    16 fresh processes (up to 2.3x), the best of 2 in 3 of 16 (up to
    2.1x), the best of 3 in none (at most 1.39x). A storm outlasts all
    three rounds."""
    import multiprocessing as mp

    t1 = tp = float("inf")
    with mp.Pool(procs) as pool:
        for _ in range(3):
            t0 = time.time()
            _spin(_SPIN_ITERS)
            t1 = min(t1, time.time() - t0)
            t0 = time.time()
            pool.map(_spin, [_SPIN_ITERS] * procs)
            tp = min(tp, time.time() - t0)
    return {
        "t1": round(t1, 3),
        "tp": round(tp, 3),
        "load1": round(os.getloadavg()[0], 1),
    }


def _is_quiet(probe: dict, nproc: int) -> bool:
    """The quiet verdict on one probe, calibrated by the probe itself.

    Quiet needs BOTH signals. The fanned spin within 1.5x the same
    probe's single spin: quiet hosts read ~1.0-1.4x (32 cores fanned
    over 8: tp 0.91-1.02 s against t1 0.68-0.79 s; an idle 4-vCPU VM
    fanned over 4: 0.95-1.39x), full-host storms 2-10x. And loadavg1
    under half the CPU count: partial occupancy leaves the spin fast
    because free cores remain, but still starves a Spark job whose
    JVM+worker tree wants every core."""
    return probe["tp"] <= 1.5 * probe["t1"] and probe["load1"] < nproc / 2


def _wait_quiet(max_wait_sec: int) -> tuple[dict, bool]:
    """Probe until the host looks quiet (:func:`_is_quiet`) or max_wait
    elapses; returns (last probe, quiet?). On timeout the caller proceeds
    anyway — the probe is RECORDED so a reader can discount the sample,
    never silently."""
    nproc = os.cpu_count() or 1
    deadline = time.time() + max_wait_sec
    while True:
        p = _load_probe(_probe_procs(nproc))
        if _is_quiet(p, nproc):
            return p, True
        if time.time() >= deadline:
            return p, False
        sys.stderr.write(f"host busy (probe {p}), waiting 45s...\n")
        time.sleep(45)


if __name__ == "__main__":
    main_bench(sys.argv[1:])
