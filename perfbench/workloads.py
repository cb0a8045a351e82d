"""The benchmark's two workloads and the upsert-stream and near-dedup
probes of their traced runs: seeded inputs, one client driving the
engine's entry points in a closed loop, and the check of every output.

Each workload function stages its input (untimed, counted in setup), and
returns a :class:`Plan`: untimed warm-up cycles, then commit units
repeated until the time budget is spent, then the output checks. The engine only
ever sees the staged parquet; the expected outputs are computed here from
the generator.

Document text comes from ``perfbench/data/documents.parquet``, a copy of
the repository's sf0.1 testdata ``documents`` table: the seed picks which
documents are used and how they compose into pages.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import json
import random
import re
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from pathlib import Path

import host
import pyarrow as pa
import pyarrow.parquet as pq

from manga_ocr_spark.extraction.core import extract
from manga_ocr_spark.extraction.dom import parse_blocks
from manga_ocr_spark.extraction.merge import beam_merge
from manga_ocr_spark.extraction.normalize import decode_html, join_blocks
from manga_ocr_spark.extraction.score import score_blocks
from manga_ocr_spark.fixtures.golden import generate_golden
from manga_ocr_spark.fixtures.pages import generate_pages
from manga_ocr_spark.jobs.extract import ExtractJob
from manga_ocr_spark.jobs.neardedup import run_neardedup
from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents
from manga_ocr_spark.operators import dedup as D
from manga_ocr_spark.streaming.watch import run_upsert_stream

DOCUMENTS = Path(__file__).resolve().parent / "data" / "documents.parquet"
FIXTURE_FAMILIES = ("ruby", "noise", "hostile")
STAGE_REPEATS = 3  # set-ups per run; setup_s counts the median staging
SAMPLE_PAGES = 200  # pages timed through the extraction stages when traced
UPSERT_PROBE_UNITS = 2  # timed merge micro-batches of the traced upsert probe


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    tracer: object  # spans.Tracer
    traced: bool


@dataclass
class Expect:
    """Oracle for one url: ``text`` None means the extraction may be null."""

    text: str | None
    hostile: bool = False


@dataclass
class Outcome:
    stage_s: list[float]  # each staging repeat
    stage_cpu_s: list[float]  # process-tree CPU seconds of each repeat
    digest: str
    input_rows: int
    input_bytes: int
    warmup_s: float = 0.0
    units: list[float] = field(default_factory=list)
    rows_done: int = 0
    wall_s: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU seconds of the closed loop
    attempted: int = 0
    failed: int = 0
    hostile_nulls: int = 0
    mismatches: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    sample_html: list[bytes] = field(default_factory=list)


# ---------------------------------------------------------------- inputs


@functools.lru_cache(maxsize=1)
def _documents() -> tuple[list[str], list[str]]:
    """(text, lang) columns of the documents table, in doc_id order."""
    t = pq.read_table(DOCUMENTS, columns=["doc_id", "text", "lang"]).sort_by("doc_id")
    return t.column("text").to_pylist(), t.column("lang").to_pylist()


def _norm(text: str) -> str:
    """The oracle's whitespace rule: trim spaces, collapse [\\t\\n\\f\\r ]+ to one."""
    return re.sub(r"[\t\n\f\r ]+", " ", text.strip(" "))


def _pages_docs(rng: random.Random, ids: list[int], k_lo: int, k_hi: int):
    """One document row per page id whose text is k documents of the table,
    drawn by ``rng``. ``pages_from_documents`` splices the text into its
    templates unescaped, so the ``</p><p>`` joints become paragraph
    boundaries of the page."""
    texts, langs = _documents()
    rows, paras = [], {}
    for d in ids:
        picks = [rng.randrange(len(texts)) for _ in range(rng.randint(k_lo, k_hi))]
        paras[d] = [texts[j] for j in picks]
        rows.append((d, "</p><p>".join(paras[d]), langs[picks[0]]))
    return rows, paras


def _doc_expect(doc_id: int, paras: list[str]) -> Expect:
    """extract_corpus oracle, per paragraph: plain (id%3=0) and linkfarm
    (=1) keep the normalized text; multiblock (=2) keeps it twice. Each
    paragraph is its own block, so blocks join with newlines."""
    body = "\n".join(_norm(p) for p in paras)
    return Expect(body + "\n" + body if doc_id % 3 == 2 else body)


def _docs_to_pages(spark, rows) -> pa.Table:
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    # an Arrow table goes to the JVM without starting Python workers
    return _pages_schema(pages_from_documents(spark.createDataFrame(docs)).toArrow())


def _pages_schema(t: pa.Table) -> pa.Table:
    return pa.table(
        {
            "url": t.column("url").cast(pa.string()),
            "warc_ts": t.column("warc_ts").cast(pa.timestamp("us", tz="UTC")),
            "html": t.column("html").cast(pa.binary()),
            "text": t.column("text").cast(pa.string()),
            "lang": t.column("lang").cast(pa.string()),
        }
    )


def _fixture_pages(n: int, seed: int) -> tuple[pa.Table, dict[str, Expect]]:
    """``n`` ruby/noise/hostile fixture pages with their golden oracle."""
    pdf = generate_pages(n * 7 // len(FIXTURE_FAMILIES) + 7, seed=seed)
    pdf = pdf[pdf.family.isin(FIXTURE_FAMILIES)].head(n).reset_index(drop=True)
    g = generate_golden(pdf)
    golden = dict(zip(g.url, g.expected_text))
    expect = {
        u: Expect(golden.get(u), hostile=f == "hostile") for u, f in zip(pdf.url, pdf.family)
    }
    t = pa.Table.from_pandas(pdf.drop(columns=["family"]), preserve_index=False)
    return _pages_schema(t), expect


def _shuffled(t: pa.Table, rng: random.Random) -> pa.Table:
    order = list(range(t.num_rows))
    rng.shuffle(order)
    return t.take(pa.array(order))


def _digest(tables: list[pa.Table]) -> str:
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue())
    return "sha256:" + h.hexdigest()[:16]


def _write_files(t: pa.Table, out: Path, n_files: int) -> None:
    out.mkdir(parents=True, exist_ok=True)
    per = -(-t.num_rows // n_files)
    for i in range(n_files):
        # small row groups so one file still splits over every task slot
        pq.write_table(t.slice(i * per, per), out / f"part-{i:03d}.parquet", row_group_size=64)


def _staged(ctx: Ctx, build) -> tuple[object, list[float], list[float], Path]:
    """Run ``build(dir)`` STAGE_REPEATS times into fresh dirs; keep the
    last. -> (its result, each staging's wall and CPU seconds, its dir)."""
    times, cpu_times, result = [], [], None
    for i in range(STAGE_REPEATS):
        d = ctx.work / f"input{i}"
        cpu0, t0 = host.tree_cpu_s(), time.perf_counter()
        result = build(d)
        times.append(time.perf_counter() - t0)
        cpu_times.append(host.tree_cpu_s() - cpu0)
        if i < STAGE_REPEATS - 1:
            shutil.rmtree(d)
    return result, times, cpu_times, d


# ---------------------------------------------------------------- checks


def _check_texts(out: Outcome, got: dict[str, str | None], expect: dict[str, Expect]) -> None:
    """Per-url check of committed text against the oracle. A row fails when
    it is missing or null although text is expected; non-null text that
    differs is a mismatch. Hostile nulls are expected, not failures."""
    for url, exp in expect.items():
        out.attempted += 1
        if url not in got:
            out.failed += 1
            out.mismatches.append(f"missing {url}")
            continue
        text = got[url]
        if exp.hostile:
            out.hostile_nulls += text is None
        elif text is None and exp.text is not None:
            out.failed += 1
            out.mismatches.append(f"null text for {url}")
        elif exp.text is not None and text != exp.text:
            out.failed += 1
            out.mismatches.append(f"text differs for {url}")


def _read_texts(table_dir: Path) -> tuple[dict[str, str | None], int]:
    """-> (text per url, number of urls committed more than once)."""
    t = pq.read_table(table_dir, columns=["url", "extracted_text"])
    urls = t.column("url").to_pylist()
    return dict(zip(urls, t.column("extracted_text").to_pylist())), len(urls) - len(set(urls))


@dataclass
class Plan:
    """A staged workload: ``warm()`` prepares untimed, then ``cycle(i)``
    repeats, timing its own units into ``out.units`` and returning False
    when it has no more input; the first ``warm_cycles`` cycles (negative
    ``i``) are warm-up and not counted. ``finish()`` checks the committed
    output; ``after()`` (traced runs) probes layers untimed."""

    out: Outcome
    cycle: Callable[[int], bool]
    warm_cycles: int = 0
    warm: Callable[[], None] | None = None
    finish: Callable[[], None] | None = None
    after: Callable[[], None] | None = None


def drive(ctx: Ctx, plan: Plan) -> Outcome:
    """Warm up, then one client in a closed loop: start the next cycle
    only after the previous one returned, until the time budget is spent
    (at least one cycle)."""
    out = plan.out
    t0 = time.perf_counter()
    if plan.warm is not None:
        plan.warm()
    # the JVM and the Python workers keep speeding up over the first units
    # of a session; the warm-up cycles run them untimed
    for i in range(-plan.warm_cycles, 0):
        plan.cycle(i)
    out.units.clear()
    out.rows_done = 0
    out.warmup_s = time.perf_counter() - t0
    cpu0 = host.tree_cpu_s()
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        more = plan.cycle(i)
        i += 1
        if not more:
            break
    out.wall_s = time.perf_counter() - t0
    out.cpu_s = host.tree_cpu_s() - cpu0
    if plan.finish is not None:
        plan.finish()
    if ctx.traced and plan.after is not None:
        plan.after()
    return out


# ---------------------------------------------------------------- extraction


def _extract_input(ctx: Ctx, n_pages: int, k_lo: int, k_hi: int, n_fixtures: int, n_files: int):
    """Pages of k documents each plus fixture pages, shuffled and staged."""
    rng = random.Random(ctx.seed)
    rows, paras = _pages_docs(rng, list(range(n_pages)), k_lo, k_hi)
    expect = {f"https://docs.example/{d}": _doc_expect(d, ps) for d, ps in paras.items()}
    fix, fix_expect = _fixture_pages(n_fixtures, ctx.seed)
    expect.update(fix_expect)

    def build(d: Path):
        pages = _docs_to_pages(ctx.spark, rows)
        table = _shuffled(pa.concat_tables([pages, fix]), random.Random(ctx.seed))
        _write_files(table, d, n_files)
        return table

    table, times, cpu_times, input_dir = _staged(ctx, build)
    out = Outcome(times, cpu_times, _digest([table]), table.num_rows, table.column("html").nbytes)
    out.sample_html = random.Random(ctx.seed + 1).sample(
        table.column("html").to_pylist(), min(SAMPLE_PAGES, table.num_rows)
    )
    return out, expect, input_dir


def extract_bulk(ctx: Ctx) -> Plan:
    """About 30 KB pages in four buckets, all committed by one
    ``ExtractJob.run`` call on a fresh output directory, in two groups of
    two: the per-group fixed costs that ``extract_resume`` pays on every
    restart are paid once per call here, so the extraction itself does
    nearly all the work. Traced runs also probe the near-dedup layers
    after the loop."""
    n_buckets, group = 4, 2
    out, expect, input_dir = _extract_input(ctx, 240, 80, 120, 36, 4)
    pages = ctx.spark.read.parquet(str(input_dir))

    def cycle(i: int) -> bool:
        out_dir = ctx.work / f"out{i}"
        job = ExtractJob(ctx.spark, str(out_dir), num_buckets=n_buckets, commit_group_size=group)
        t0 = time.perf_counter()
        with ctx.tracer.span("unit" if i >= 0 else "warm_unit"):
            committed = job.run(pages)
            got, dups = _read_texts(out_dir / "extracted")
        out.units.append(time.perf_counter() - t0)
        out.rows_done += out.input_rows
        if sorted(committed) != list(range(n_buckets)) or dups:
            out.mismatches.append(f"cycle {i}: committed {committed}, {dups} urls committed more than once")
        _check_texts(out, got, expect)
        return True

    return Plan(out, cycle, warm_cycles=1, after=lambda: dedup_probe(ctx, out))


def extract_resume(ctx: Ctx) -> Plan:
    """About 30 KB pages in six buckets committed three at a time. Each
    group is its own ``ExtractJob.run(max_groups=1)`` call on a new job
    object, as if the job were killed after every group and restarted; a
    final call must commit nothing. Large pages keep the extraction itself
    a large share of each unit, next to the per-group fixed costs. Traced
    runs also probe the upsert stream's layers after the loop."""
    n_buckets, group = 6, 3
    out, expect, input_dir = _extract_input(ctx, 400, 80, 120, 60, 6)
    pages = ctx.spark.read.parquet(str(input_dir))

    def cycle(i: int) -> bool:
        out_dir = ctx.work / f"out{i}"
        committed: list[int] = []
        for _ in range(n_buckets // group):
            job = ExtractJob(ctx.spark, str(out_dir), num_buckets=n_buckets, commit_group_size=group)
            t0 = time.perf_counter()
            with ctx.tracer.span("unit" if i >= 0 else "warm_unit"):
                committed += job.run(pages, max_groups=1)
            out.units.append(time.perf_counter() - t0)
            if ctx.traced:
                with ctx.tracer.span("jobs.extract.committed_buckets"):
                    job.committed_buckets()
        with ctx.tracer.span("final_call"):
            again = ExtractJob(ctx.spark, str(out_dir), num_buckets=n_buckets,
                               commit_group_size=group).run(pages, max_groups=1)
        out.rows_done += out.input_rows
        if sorted(committed) != list(range(n_buckets)) or again:
            out.mismatches.append(f"cycle {i}: committed {committed}, final call committed {again}")
        got, dups = _read_texts(out_dir / "extracted")
        if dups:
            out.mismatches.append(f"cycle {i}: {dups} urls committed more than once")
        _check_texts(out, got, expect)
        return True

    return Plan(out, cycle, warm_cycles=1, after=lambda: upsert_probe(ctx, out))


# ---------------------------------------------------------------- upsert


def upsert_stream(ctx: Ctx, n_files: int) -> Plan:
    """One stream over one table: the warm-up bootstraps the table from
    the first file and merges the second, then each unit is a new file
    arriving and one ``run_upsert_stream`` (availableNow) call committing
    it as a merge micro-batch. A quarter of each file's rows re-save
    earlier urls with a later warc_ts and other paragraphs."""
    rng = random.Random(ctx.seed)
    per_file, n_fix, resave_share = 100, 8, 0.25
    fix, fix_expect = _fixture_pages(n_files * n_fix, ctx.seed)
    batches, seen = [], []
    expect_after: list[dict[str, Expect]] = []  # oracle once file f committed
    acc: dict[str, Expect] = {}
    for f in range(n_files):
        resaved = rng.sample(seen, int(per_file * resave_share) if f else 0)
        fresh = list(range(len(seen), len(seen) + per_file - len(resaved)))
        seen += fresh
        rows, paras = _pages_docs(rng, resaved + fresh, 10, 20)
        fix_part = fix.slice(f * n_fix, n_fix)
        batches.append((rows, fix_part))
        acc.update({f"https://docs.example/{d}": _doc_expect(d, ps) for d, ps in paras.items()})
        acc.update({u: fix_expect[u] for u in fix_part.column("url").to_pylist()})
        expect_after.append(dict(acc))

    def build(d: Path):
        d.mkdir(parents=True)
        # one conversion for every file: doc ids repeat across files, so
        # each file's rows take a disjoint id range (a multiple of 3 apart,
        # keeping the template family) and get their url and warc_ts back
        offset = 300_000
        pages = _docs_to_pages(
            ctx.spark, [(f * offset + d_, t, lang) for f, (rows, _) in enumerate(batches)
                        for d_, t, lang in rows]
        )
        start, tables = 0, []
        for f, (rows, fix_part) in enumerate(batches):
            part = pages.slice(start, len(rows))
            start += len(rows)
            urls = [f"https://docs.example/{d_}" for d_, _, _ in rows]
            # a re-save is a later crawl of the same url: warc_ts moves one
            # day per file, so latest-wins keeps the newest version
            ts = [dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=f, minutes=d_)
                  for d_, _, _ in rows]
            part = part.set_column(0, "url", pa.array(urls, pa.string()))
            part = part.set_column(1, "warc_ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
            t = _shuffled(pa.concat_tables([part, fix_part]), random.Random(ctx.seed + f))
            pq.write_table(t, d / f"batch-{f:03d}.parquet", row_group_size=64)
            tables.append(t)
        return tables

    tables, times, cpu_times, staged = _staged(ctx, build)
    out = Outcome(times, cpu_times, _digest(tables), sum(t.num_rows for t in tables),
                  sum(t.column("html").nbytes for t in tables))
    out.sample_html = random.Random(ctx.seed + 1).sample(
        pa.concat_tables(tables).column("html").to_pylist(), SAMPLE_PAGES
    )
    indir, outdir, ckpt = (ctx.work / p for p in ("in", "out", "ckpt"))
    progress = out.layer["stream_progress"] = []
    state = {"last": 0}  # last file committed

    def arrive(f: int, span: str, timed: bool) -> None:
        name = f"batch-{f:03d}.parquet"
        shutil.copy(staged / name, indir / name)
        t0 = time.perf_counter()
        with ctx.tracer.span(span, input_rows=tables[f].num_rows,
                             input_bytes=(staged / name).stat().st_size):
            q = run_upsert_stream(ctx.spark, str(indir), str(outdir), str(ckpt))
            q.awaitTermination(170)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if timed:
            out.units.append(time.perf_counter() - t0)
            progress.extend(p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress)
        state["last"] = f

    def warm() -> None:
        indir.mkdir()
        arrive(0, "bootstrap", timed=False)
        arrive(1, "warm_merge", timed=False)

    def cycle(i: int) -> bool:
        arrive(i + 2, "upsert_unit", timed=True)
        out.rows_done += tables[i + 2].num_rows
        return i + 3 < n_files

    def finish() -> None:
        got, dups = _read_texts(outdir / "extracted")
        exp = expect_after[state["last"]]
        _check_texts(out, got, exp)
        extra = set(got) - set(exp)
        if dups or extra:
            out.mismatches.append(f"{dups} duplicate urls, {len(extra)} unexpected urls")

    return Plan(out, cycle, warm=warm, finish=finish)


def upsert_probe(ctx: Ctx, out: Outcome) -> None:
    """The upsert stream's layers, for the traced ``extract_resume`` run:
    bootstrap, one warm merge, then UPSERT_PROBE_UNITS merge units, in a
    directory of their own. Its progress goes to ``out.layer`` and its
    output checks count into ``out``."""
    sub = replace(ctx, work=ctx.work / "upsert")
    sub.work.mkdir()
    plan = upsert_stream(sub, n_files=2 + UPSERT_PROBE_UNITS)
    plan.warm()
    i = 0
    while plan.cycle(i):
        i += 1
    plan.finish()
    probe = plan.out
    out.attempted += probe.attempted
    out.failed += probe.failed
    out.hostile_nulls += probe.hostile_nulls
    out.mismatches += [f"upsert probe: {m}" for m in probe.mismatches]
    out.layer["stream_progress"] = probe.layer["stream_progress"]


# ---------------------------------------------------------------- near-dedup


def _jaccard_verified(texts: dict[int, str], pairs: list[tuple[int, int]], threshold: float) -> int:
    """Candidate pairs whose 5-gram Jaccard reaches ``threshold``, with the
    operator's own Python replica of its canonicalization and shingles."""
    grams = {d: set(D._grams_py(D._canon_py(t))) for d, t in texts.items()}
    return sum(
        len(grams[a] & grams[b]) / max(1, len(grams[a] | grams[b])) >= threshold for a, b in pairs
    )


def dedup_probe(ctx: Ctx, out: Outcome) -> None:
    """The near-dedup layers, for the traced ``extract_bulk`` run, in a
    directory of their own: 300 documents of the table plus planted exact
    copies and copies with one word changed, each of 5 % of them. One
    untimed ``run_neardedup`` call warms up, a second is traced as
    ``dedup_unit``; both must drop every planted exact copy, and count
    into ``out``. Then the candidate stage alone, forced, and its pairs
    verified here."""
    work = ctx.work / "dedup"
    rng = random.Random(ctx.seed)
    n, share = 300, 0.05
    exact_base, edit_base = 10_000_000, 20_000_000
    all_texts, all_langs = _documents()
    picked = sorted(rng.sample(range(len(all_texts)), n))
    rows = [(d, all_texts[d], all_langs[d]) for d in picked]
    vocab = sorted({w for t in all_texts for w in t.split()})
    exact = [(exact_base + j, t, lang) for j, (_, t, lang) in enumerate(rng.sample(rows, int(n * share)))]
    edited = []
    for j, (_, t, lang) in enumerate(rng.sample(rows, int(n * share))):
        words = t.split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        edited.append((edit_base + j, " ".join(words), lang))
    all_rows = rows + exact + edited
    rng.shuffle(all_rows)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in all_rows], pa.int64()),
            "text": pa.array([r[1] for r in all_rows], pa.string()),
            "lang": pa.array([r[2] for r in all_rows], pa.string()),
        }
    )
    _write_files(table, work / "input", 4)
    exact_ids = {r[0] for r in exact}
    docs = ctx.spark.read.parquet(str(work / "input"))

    for span in ("dedup_warm", "dedup_unit"):
        with ctx.tracer.span(span):
            counters = run_neardedup(ctx.spark, docs, str(work / span))
        kept = set(pq.read_table(work / span / "keep", columns=["doc_id"]).column("doc_id").to_pylist())
        out.attempted += len(exact_ids)
        missed = exact_ids & kept
        out.failed += len(missed)
        if missed or counters["docs_in"] != table.num_rows or len(kept) != counters["docs_kept"]:
            out.mismatches.append(
                f"dedup probe: {len(missed)} planted exact copies kept, counters {counters}"
            )

    with ctx.tracer.span("operators.dedup.candidates"):
        pairs, _, dropped = D.lsh_guarded_with_drops(docs, "text", "doc_id")
        cand = [(r.id_a, r.id_b) for r in pairs.collect()]
        out.layer["capped_buckets"] = dropped.count()
    out.layer["candidate_pairs"] = len(cand)
    out.layer["verified_pairs"] = _jaccard_verified({r[0]: r[1] for r in all_rows}, cand, 0.9)


# ---------------------------------------------------------------- layers


def stage_timing(payloads: list[bytes]) -> dict[str, float]:
    """In-process seconds per 1000 docs of each extraction stage over the
    sample, plus the whole ``extract`` call and its null share."""
    acc = dict.fromkeys(("decode", "parse", "score", "merge", "join", "extract"), 0.0)
    nulls = 0
    clock = time.perf_counter
    for p in payloads:
        t0 = clock()
        html = decode_html(p)
        t1 = clock()
        blocks = parse_blocks(html) if html else []
        t2 = clock()
        blocks = score_blocks(blocks)
        t3 = clock()
        merged = beam_merge(blocks)
        t4 = clock()
        join_blocks([b.text for b in merged])
        t5 = clock()
        nulls += extract(p).text is None
        t6 = clock()
        for k, dt_ in zip(acc, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5)):
            acc[k] += dt_
    per_k = 1000.0 / max(1, len(payloads))
    out = {f"extraction.{k}_s_per_kdoc": v * per_k for k, v in acc.items()}
    out["extraction.null_share"] = nulls / max(1, len(payloads))
    return out


WORKLOADS = {
    "extract_bulk": extract_bulk,
    "extract_resume": extract_resume,
}
