"""Text-analysis operators over document tables: tokens, quality, lang-id,
fingerprints.

Everything here is a *pure column expression* built from
``pyspark.sql.functions`` — it stays inside whole-stage codegen, shuffles
nothing, and survives 100 TB trivially (per-row work, no state). The
reference's analogues are its char-class predicates and normalization
helpers (/root/reference/manga_ocr_dev/synthetic_data_generator/common/
utils.py:60-151, manga_ocr/ocr.py:136-156).

Float-returning expressions round to fixed precision so a DuckDB oracle
computes bit-identical values (driver value-hash contract).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from manga_ocr_spark.operators.memo import memo

# a tiny fixed stopword list shared verbatim with the SQL oracles
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# marker words per language for the n-gram/marker lang-id heuristic;
# deterministic and SQL-expressible on both engines (the oracle CASE is
# GENERATED from this dict in __spark_entry__, so adding a language
# updates both sides in lockstep). ASCII-only markers keep Java and RE2
# \b semantics identical; dict order is the tie-break (earlier wins).
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
    "it": ("il", "che", "sono"),
    "pt": ("uma", "isso", "muito"),
    "nl": ("het", "een", "niet"),
    "sv": ("och", "det", "som"),
    # r5 widening — appended AFTER the original eight so existing
    # tie-break behavior is unchanged (earlier wins). Markers must stay
    # ASCII; Vietnamese is deliberately absent — its common function
    # words are all diacritical, and diacritic-stripped forms would
    # misfire on other languages.
    "pl": ("nie", "jest", "oraz"),
    "tr": ("bir", "ve", "bu"),
    "id": ("yang", "dan", "untuk"),
    "cs": ("jsem", "aby", "nebo"),
    "ro": ("pentru", "sunt", "dintre"),
}

# Per-script BMP code-point ranges for the script-class tier of lang_id —
# the Spark graft of the reference's per-char predicates
# (/root/reference/manga_ocr_dev/synthetic_data_generator/common/
# utils.py:60-151: is_kanji = CJK UNIFIED IDEOGRAPH, is_hiragana,
# is_katakana, is_ascii), widened to the script families a Common-Crawl
# pipeline meets. Every range is BMP (no surrogate-pair splitting in
# Java's UTF-16 regex engine) and is rendered as a LITERAL character
# class, so the Java (Spark) and RE2 (DuckDB oracle) regexes are the
# same bytes with the same meaning. Both the Spark expressions and the
# oracle SQL are generated from THIS table — one source of truth.
# BMP-ONLY IS A TESTED CONTRACT, not an accident: astral-plane scripts
# (CJK Ext B and beyond) match NO class — a Java class literal with an
# astral char would be split into surrogate halves with a different
# meaning than RE2's code-point semantics — so such pages fall through
# the script tier to the marker tier / 'und'
# (tests/test_operators.py::test_astral_scripts_fall_through_to_marker_tier).
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "hiragana": ((0x3041, 0x309F),),  # incl. combining marks/iteration marks
    "katakana": ((0x30A1, 0x30FA), (0x30FC, 0x30FF)),  # excl. ・ (0x30FB)
    "cjk": ((0x3400, 0x4DBF), (0x4E00, 0x9FFF)),  # unified ideographs + ext A
    "hangul": ((0x1100, 0x11FF), (0x3131, 0x318E), (0xAC00, 0xD7A3)),
    "cyrillic": ((0x0400, 0x04FF),),
    "greek": ((0x0370, 0x0373), (0x0376, 0x0377), (0x037B, 0x03FF)),
    "arabic": ((0x0600, 0x06FF), (0x0750, 0x077F)),  # + supplement
    "hebrew": ((0x0591, 0x05F4),),
    "devanagari": ((0x0900, 0x097F),),
    "thai": ((0x0E01, 0x0E5B),),
    "latin": ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6), (0xF8, 0x24F)),
}

# Script-dominance rules, FIRST MATCH WINS, checked before marker words:
# (lang, contributing scripts, multiplier) means
#   sum(script counts) > 0 AND sum * multiplier >= length(text).
# Kana at >=5% of characters is decisive for Japanese (kana occurs in no
# other living script, and Japanese prose is kana-heavy); han-only text
# at >=25% is Chinese (Japanese text with that much han still carries
# kana, caught first); hangul/cyrillic/greek at >=25% mark ko/ru/el.
# Integer arithmetic only — both engines compare exactly.
SCRIPT_LANG_RULES: tuple[tuple[str, tuple[str, ...], int], ...] = (
    ("ja", ("hiragana", "katakana"), 20),
    ("zh", ("cjk",), 4),
    ("ko", ("hangul",), 4),
    ("ru", ("cyrillic",), 4),
    ("el", ("greek",), 4),
    ("ar", ("arabic",), 4),
    ("he", ("hebrew",), 4),
    ("hi", ("devanagari",), 4),
    ("th", ("thai",), 4),
)


# Script detection runs over a bounded PROBE WINDOW — the first
# SCRIPT_PREFIX_CHARS characters — not the whole document. The script mix
# of a page is decided in its head (a 2 MB doc does not change script at
# char 500k), so the per-doc cost of the 10 script regex scans is bounded
# regardless of document size: the lever that keeps the quality panel
# flat as per-doc sizes grow toward web-scale outliers. Mirrored exactly
# in the generated DuckDB oracle (substr + least in __spark_entry__).
SCRIPT_PREFIX_CHARS = 4096

# One cheap pass deciding "no non-ASCII char in the probe" — when true,
# every non-Latin script count is 0 by construction and all 10 script
# regexes are skipped for that row (CASE branches evaluate lazily in
# codegen). The majority of Common-Crawl text is pure ASCII, so this
# short-circuits the expensive tier on most rows; non-ASCII rows pay the
# full scan. Value-equivalence is input-independent (ASCII ⇒ zero
# matches for every BMP non-Latin class) and pinned by the multilingual
# oracle-equivalence test.
_ASCII_ONLY = "^[\x00-\x7f]*$"


def script_probe(col: Column) -> Column:
    """The bounded window all script counts are computed over."""
    return F.substring(col, 1, SCRIPT_PREFIX_CHARS)


def script_probe_len(col: Column) -> Column:
    """Character length of the probe window (denominator of script
    fractions and the script-rule thresholds)."""
    return F.least(F.length(col), F.lit(SCRIPT_PREFIX_CHARS))


def script_class(script: str) -> str:
    """The literal regex character class for a SCRIPT_RANGES entry —
    shared verbatim by the Spark expression and the DuckDB oracle."""
    return "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in SCRIPT_RANGES[script]) + "]"


def script_count(col: Column, script: str) -> Column:
    """Number of characters of ``script`` in the column, as
    ``regexp_count`` over the literal class (measured ~13% faster than
    the length-minus-length-after-removal form it replaced — no replaced
    string is materialized). The oracle keeps the length-diff form; the
    two are equal on every input because each match of a single-char BMP
    class is exactly one char in both engines (class chars all < U+D800,
    so no surrogate half can match)."""
    return F.regexp_count(col, F.lit(script_class(script)))


def tokens(col: Column) -> Column:
    """Whitespace tokenization on the explicit class [\\t\\n\\f\\r ] —
    never \\s, whose meaning differs between Java (adds \\x0B) and RE2
    (the DuckDB oracle); one class keeps both engines identical on every
    input, not just the ASCII corpus."""
    return F.split(F.trim(col), r"[\t\n\f\r ]+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(tokens(col)))


def marker_count(col: Column, words: tuple[str, ...]) -> Column:
    """Case-folded, word-bounded occurrences of ``words`` — one language's
    scan; the layered forms' single combined scan is pinned against it."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(0)))


# -- shared layer builders ---------------------------------------------------
# ONE definition of the probe/short-circuit/count-binding recipe, used by
# BOTH layered scan forms (lang_id_frame and quality_panel) — a guard or
# probe tweak cannot silently diverge the two sites.


def _probe_layer_cols(text: Column) -> list[Column]:
    """Layer-0 columns: probe window, its ASCII short-circuit, and its
    length — non-cheap, multi-referenced aliases, so CollapseProject
    keeps them bound and the rlike runs once per row."""
    return [
        script_probe(text).alias("__probe"),
        script_probe(text).rlike(_ASCII_ONLY).alias("__ascii"),
        script_probe_len(text).alias("__plen"),
    ]


def _guarded_script_count_cols(scripts) -> list[Column]:
    """Guarded per-script count columns over the bound __probe/__ascii.
    latin is EXEMPT from the short-circuit: ASCII text HAS latin chars —
    zeroing it would break the generated-oracle lockstep for any
    consumer that reads the latin count (quality_panel's latin_frac
    today, any future latin-referencing rule)."""
    return [
        F.when(F.col("__ascii") & F.lit(s != "latin"), F.lit(0))
        .otherwise(script_count(F.col("__probe"), s))
        .alias(f"__sc_{s}")
        for s in scripts
    ]


def _marker_word_col(text: Column) -> Column:
    """Every marker-vocabulary word occurrence in the text, from ONE
    combined ``\\b(w1|...|wN)\\b`` scan over all languages' words —
    replacing the 13 per-language alternation scans of
    :func:`marker_count` (r7; VERDICT r6 #6 measured those at ~0.05
    s/language at sf0.1). One pass checks each position's ``\\b`` once
    instead of 13 times, and the extracted array holds only vocabulary
    hits (a handful per doc), so the per-language membership counts over
    it are near-free.

    Equivalence: ``\\b`` is defined by the same ASCII ``\\w`` class in
    every branch, so each match is a vocabulary word that is a MAXIMAL
    word run — exactly what each per-language scan counted; matches of
    different languages' words are disjoint occurrences (runs are
    non-overlapping), and the trailing ``\\b`` makes alternative order
    irrelevant (the engine backtracks past prefix-words without their
    boundary). Longest-first ordering keeps that property obvious.
    Pinned on hostile inputs by
    tests/test_operators.py::test_layered_marker_counts_match_marker_count."""
    vocab = sorted({w for ws in LANG_MARKERS.values() for w in ws}, key=lambda w: (-len(w), w))
    pat = r"\b(" + "|".join(vocab) + r")\b"
    return F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0))


def _marker_count_cols(mwords: Column) -> list[Column]:
    """Per-language marker counts from the bound marker-word array
    (``__mwords``) — array membership over a handful of surviving words,
    no further text scans."""
    return [
        F.size(F.filter(mwords, lambda t: t.isin(*ws))).alias(f"__mc_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]


def lang_id_frame(df, text_col: str = "text", id_col: str = "doc_id"):
    """Two-tier language id as a LAYERED frame: (id, lang_pred).

    Tier 1 — script classes (SCRIPT_LANG_RULES, first match wins):
    whitespace-free scripts (ja/zh) and non-Latin alphabets (ko/ru/el)
    are detected by per-char script fractions over code-point ranges —
    marker WORDS are structurally blind to them (no ``\\b`` word breaks
    in unsegmented text). This is the graft of the reference's
    is_kanji/is_hiragana/is_katakana predicates (common/utils.py:60-151);
    the reference's whole domain is Japanese text. Script counts and
    rule thresholds run over the bounded probe window
    (:data:`SCRIPT_PREFIX_CHARS`) behind the ASCII short-circuit
    (:data:`_ASCII_ONLY`); only scripts some rule references are counted.

    Tier 2 — marker-word argmax over LANG_MARKERS for Latin-script
    languages over the full text, 'und' when all zero. Ties break by
    LANG_MARKERS order.

    Why layered: a single expression duplicates each count subtree
    inside nested CASE conditions (``cnt > 0`` and ``cnt * mult >= n``
    both reference it, at a different nesting depth per rule), and
    codegen's subexpression elimination does not reliably deduplicate
    across conditional branches — measured ~2x slower than this form at
    sf0.1 (1.39s vs 0.6s). Binding every script/marker count as a
    non-cheap, multi-referenced intermediate column makes the decision
    CASE pure integer work, the same structure (and for the same reason)
    as :func:`quality_panel`'s layering. The DuckDB oracle CASE is
    generated from the SAME two tables in __spark_entry__."""

    def build() -> list[list[Column]]:
        rule_scripts = {s for _, scripts, _ in SCRIPT_LANG_RULES for s in scripts}
        used = [s for s in SCRIPT_RANGES if s in rule_scripts]
        text = F.col(text_col)
        c0 = [
            F.col(id_col),
            text,
            *_probe_layer_cols(text),
            _marker_word_col(text).alias("__mwords"),
        ]
        c1 = [
            F.col(id_col),
            F.col("__plen"),
            *_guarded_script_count_cols(used),
            *_marker_count_cols(F.col("__mwords")),
        ]
        c2 = [
            F.col(id_col),
            _lang_from_counts(
                {s: F.col(f"__sc_{s}") for s in used},
                {lang: F.col(f"__mc_{lang}") for lang in LANG_MARKERS},
                F.col("__plen"),
            ).alias("lang_pred"),
        ]
        return [c0, c1, c2]

    c0, c1, c2 = memo(("lang_id_frame", text_col, id_col), build)
    return df.select(*c0).select(*c1).select(*c2)


def _lang_from_counts(
    script_counts: dict[str, Column], marker_counts: dict[str, Column], n: Column
) -> Column:
    """The lang-id decision tree over PRECOMPUTED count columns — the one
    definition of the rule logic, shared by :func:`lang_id_frame` and
    :func:`quality_panel`."""
    best = F.greatest(*marker_counts.values())
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((best > 0) & (marker_counts[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    # script tier wraps the marker tier, reversed so the FIRST rule wins
    for lang, scripts, mult in reversed(SCRIPT_LANG_RULES):
        cnt = sum((script_counts[s] for s in scripts[1:]), script_counts[scripts[0]])
        expr = F.when((cnt > 0) & (cnt * mult >= n), F.lit(lang)).otherwise(expr)
    return expr


def regex_token_count(col: Column) -> Column:
    """BPE-ish pre-tokenization count: word runs OR single
    non-word-non-space chars, the split most BPE vocabularies assume. The
    whitespace part of the class is explicit [\\t\\n\\f\\r ] (Java \\s
    would also exclude \\x0B, diverging from the RE2 oracle).
    ``regexp_count`` never materializes the match array (the same swap
    script_count made, measured ~13% there)."""
    return F.regexp_count(col, F.lit(r"\w+|[^\w\t\n\f\r ]"))


ROLLING_B = 257
ROLLING_M = 1_000_000_007


def rolling_hash(col: Column, prefix_chars: int = 64) -> Column:
    """Polynomial rolling hash (Rabin-Karp) of the first ``prefix_chars``
    characters: h = fold(h*B + code) mod M. Engine-portable integer math
    (same literals in the DuckDB oracle via list_reduce), ASCII-safe via
    per-char codepoints. A prefix hash is the classic cheap document
    fingerprint for clustering near-identical heads."""
    chars = F.split(F.substring(col, 1, prefix_chars), "")
    # split('abc','') yields ['a','b','c']; guard the empty-string tail some
    # engines add by filtering zero-length elements
    chars = F.filter(chars, lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_B + F.ascii(c)) % ROLLING_M,
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the casefolded,
    whitespace-collapsed text. Portable across engines (DuckDB md5 ==
    Spark md5 on identical bytes), used for exact dedup. The collapse
    class is explicit [\\t\\n\\f\\r ] (not \\s) so Java and RE2 (the
    DuckDB oracle) agree on every input — Java \\s also matches \\x0B."""
    canon = F.regexp_replace(F.lower(F.trim(col)), "[\t\n\f\r ]+", " ")
    return F.md5(F.encode(canon, "UTF-8"))


def _top_run_best(sorted_hashes: Column) -> Column:
    """Longest run of equal adjacent elements of an ALREADY-SORTED array
    (= max multiplicity), as a shuffle-free fold: no explode, no join —
    strictly cheaper at 10^12 docs than an explode->count->max shape.
    quality_panel sorts xxhash64 values of the grams, not the grams:
    comparing 8-byte longs beat the string sort (sf0.1: 0.30s vs 0.34s)
    and md5+hex+conv (0.48s). The repo's md5-for-DuckDB-portability
    invariant doesn't apply — this hash never leaves the expression; the
    oracle counts the raw tokens, which has identical multiplicities
    absent a ~2^-64 in-doc collision."""
    state = F.aggregate(
        sorted_hashes,
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1)).alias(
                "run"
            ),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return state["best"]


def word_bigram_hashes_from_tokens(toks: Column) -> Column:
    """xxhash64 of each adjacent word pair, hashed DIRECTLY from the two
    tokens (``xxhash64(a, b)``) — no 'a b' concat string is ever built,
    measured ~18% faster than hashing the concatenated bigram at sf0.1.
    Multiplicities equal those of the string bigrams absent a ~2^-64
    in-doc collision (same argument as :func:`_top_run_best`'s
    hash-first sort; xxhash64 of a 2-column tuple is injective over the
    pair up to hash collision, and the oracle counts the raw token
    pairs)."""
    n = F.size(toks)
    left = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    right = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    return F.zip_with(left, right, lambda a, b: F.xxhash64(a, b))


def quality_panel(df, text_col: str = "text", id_col: str = "doc_id"):
    """The full per-doc text-analysis feature vector in ONE pass: token
    count, stopword/alpha ratios, mean token length, composite quality,
    two-tier lang-id, per-script character fractions, and the Gopher
    repetition fractions. A single scan, zero shuffles/joins (plan-pinned
    by tests/test_plans.py).

    Script-tier contract (r5): script counts, fractions and rule
    thresholds are computed over the probe window
    (:data:`SCRIPT_PREFIX_CHARS`, first 4096 chars) so the 10 script
    regexes cost O(1) per doc however large the doc; a pure-ASCII probe
    skips them entirely (:data:`_ASCII_ONLY`). Both are mirrored in the
    generated DuckDB oracle. latin_frac stays real on ASCII rows (its
    count is the one script the guard cannot zero).

    STRUCTURE MATTERS HERE: the panel is built as LAYERED selects whose
    intermediate columns (token array, script/marker counts, stopword
    count, ...) are each referenced more than once downstream, so every
    regex/tokenize primitive is evaluated ONCE per row and shared.
    This matters because the panel's higher-order functions (aggregate/
    filter/zip_with) are CodegenFallback expressions — the Project runs
    OUTSIDE whole-stage codegen, where duplicated subtrees (e.g. each
    marker count appearing in the argmax AND in `best`, each script
    count in its rule AND its fraction) are genuinely re-evaluated.
    Catalyst's CollapseProject leaves this layering alone precisely
    because the aliases are non-cheap and multi-referenced;
    tests/test_plans.py pins the zero-Exchange single-scan shape."""

    def build() -> list[list[Column]]:
        text = F.col(text_col)
        # layer 0: the script-tier probe window and its ASCII
        # short-circuit — non-cheap, multi-referenced aliases, so
        # CollapseProject keeps them as bound columns and the rlike runs
        # once per row, not once per script
        c0 = [
            F.col(id_col),
            text,
            *_probe_layer_cols(text),
            _marker_word_col(text).alias("__mwords"),
        ]
        # layer 1: per-row primitives, each computed once per row; script
        # counts are guarded — a pure-ASCII probe proves the non-latin
        # ones 0 and their regexes are skipped for that row (lazy CASE
        # branches); marker counts read the single-scan __mwords array
        # (one alternation pass instead of 13 per-language scans). The
        # alnum count is regexp_count of the single-char class == length
        # after removing its complement, without materializing the
        # stripped string (measured 2.4x at sf0.1)
        c1 = [
            F.col(id_col),
            F.length(text).alias("__n"),
            F.col("__plen"),
            F.length(F.trim(text)).alias("__trimlen"),
            tokens(text).alias("__toks"),
            F.regexp_count(text, F.lit(r"[A-Za-z0-9]")).alias("__alnum"),
            *_guarded_script_count_cols(SCRIPT_RANGES),
            *_marker_count_cols(F.col("__mwords")),
        ]
        # layer 2: token-array derivatives (reference __toks several
        # times); the repetition inputs are bound as SORTED HASH arrays
        # so layer 3's fold and size() hit a BoundReference, never
        # re-evaluate the filter/zip_with pipelines (this Project is
        # CodegenFallback — a repeated subtree would genuinely run twice
        # per row)
        tk = F.col("__toks")
        c2 = [
            F.col(id_col),
            F.col("__n"),
            F.col("__plen"),
            F.col("__trimlen"),
            F.col("__alnum"),
            *[F.col(f"__sc_{s}") for s in SCRIPT_RANGES],
            *[F.col(f"__mc_{lang}") for lang in LANG_MARKERS],
            F.size(tk).alias("__ntok"),
            F.size(F.filter(tk, lambda t: t.isin(*STOPWORDS))).alias("__nstop"),
            F.aggregate(tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).alias(
                "__toklen"
            ),
            F.array_sort(
                F.transform(
                    F.filter(tk, lambda t: F.length(t) > 0), lambda g: F.xxhash64(g)
                )
            ).alias("__uni_h"),
            F.array_sort(word_bigram_hashes_from_tokens(tk)).alias("__bi_h"),
        ]

        # layer 3: final columns; every ratio is 6-decimal rounded for
        # the oracle's value-hash contract
        def ratio(num: Column, den: Column) -> Column:
            return F.round(num / F.greatest(den, F.lit(1)), 6)

        n = F.col("__n")
        ntok = F.col("__ntok")
        stop_ratio = ratio(F.col("__nstop"), ntok)
        alpha = ratio(F.col("__alnum"), n)
        length_term = F.least(n / F.lit(500.0), F.lit(1.0))
        c3 = [
            F.col(id_col),
            F.when(F.col("__trimlen") == 0, F.lit(0))
            .otherwise(ntok)
            .cast("long")
            .alias("n_tokens"),
            stop_ratio.alias("stopword_ratio"),
            ratio(F.col("__toklen"), ntok).alias("mean_token_len"),
            alpha.alias("alpha_ratio"),
            # composite [0,1] quality: the relational analogue of the
            # extraction scorer's keep decision
            F.round(0.4 * length_term + 0.3 * (1.0 - stop_ratio) + 0.3 * alpha, 6).alias(
                "quality"
            ),
            _lang_from_counts(
                {s: F.col(f"__sc_{s}") for s in SCRIPT_RANGES},
                {lang: F.col(f"__mc_{lang}") for lang in LANG_MARKERS},
                F.col("__plen"),
            ).alias("lang_pred"),
            *[
                ratio(F.col(f"__sc_{s}"), F.col("__plen")).alias(f"{s}_frac")
                for s in SCRIPT_RANGES
            ],
            *[
                F.coalesce(
                    ratio(_top_run_best(F.col(h)), F.size(F.col(h))), F.lit(0.0)
                ).alias(name)
                for h, name in (("__uni_h", "top_unigram_frac"), ("__bi_h", "top_bigram_frac"))
            ],
        ]
        return [c0, c1, c2, c3]

    c0, c1, c2, c3 = memo(("quality_panel", text_col, id_col), build)
    return df.select(*c0).select(*c1).select(*c2).select(*c3)
