"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of each operator at 100 TB):

- **exact**: one shuffle on a 32-byte fingerprint — the cheapest possible
  grouping key; map-side partial aggregation applies.
- **MinHash+LSH**: signatures are computed map-side (no shuffle), fused
  with the exact-dup collapse; the band-bucket groupBy runs over
  representatives only, with a per-bucket size cap. Candidate pairs are
  generated per-bucket, so the cross product never materializes
  globally — this is what makes near-dedup feasible at 10^12 docs where a
  naive pairwise join (10^24 pairs) cannot exist.
- **SimHash**: 64-bit signature per doc via one Arrow-batched pandas UDF;
  the same guarded skeleton bands bit-slices of it, again a cheap
  long-key shuffle.
- **n-gram Jaccard**: exact verification for candidate pairs — used
  *after* LSH banding at scale; the standalone pairwise form here is for
  small refinement sets and oracle checking.

Hashes are built from md5 (portable: DuckDB computes the identical value,
so the driver's value-hash oracle can verify MinHash end-to-end — no
engine-specific hash function leaks into results).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from manga_ocr_spark.operators.memo import memo
from manga_ocr_spark.operators.text import fingerprint

# -- exact ---------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content fingerprint; keep the min id as canonical.

    Returns (fingerprint, canonical_id, n_copies) for every group.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct content (the min-id row).

    Shuffle profile: the fingerprint aggregation ships only (fp, id)
    pairs with map-side partial_min; the semi join back broadcasts while
    the keep-list fits (sandbox scale) and degrades to a sort-merge join
    on the UNIFORM id key at 10^12 rows — one full-row shuffle, which is
    the floor for this operation on unbucketed storage, and id-keyed so
    hot duplicate groups (empty pages etc.) cannot skew a reducer the
    way a fingerprint-window formulation would. On the engine's own
    bucketed layout the semi join co-locates with the url-hash buckets.
    """
    w = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    keep = w.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


# -- shingles + portable hashing ------------------------------------------


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams of the canonicalized text, as an array.

    Pure SQL expression: transform over a sequence of offsets. Stays in
    codegen; no UDF.
    """
    # explicit char class, NOT \s: Java \s additionally matches \x0B
    # (vertical tab) while RE2 (DuckDB) and the Python replica below use
    # [\t\n\f\r ] — one shared definition keeps all three engines'
    # canonicalization identical on any input
    canon = F.regexp_replace(F.lower(F.trim(col)), "[\t\n\f\r ]+", " ")
    m = F.greatest(F.length(canon) - F.lit(n - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), m), lambda i: F.substring(canon, i, n))
    return F.array_distinct(grams)


# MinHash = one portable base hash per gram (60 bits of md5) + affine
# permutations h_i(x) = (A_i*x + B_i) mod P over a Mersenne prime. ONE md5
# per gram instead of num_hashes md5s — the classic universal-hashing
# construction. The earlier all-md5 variant (md5(i||':'||gram) x16) was
# ~100x slower: interpreted per-element hex/conv expressions evaluated the
# shingle array once per hash function. Constants are literals shared with
# the DuckDB oracle (hugeint math there, exact int math in Python here).
MINHASH_P = (1 << 61) - 1  # Mersenne prime 2^61-1
# random.Random(20240301): A in [1, P), B in [0, P) — frozen as literals
# so the SQL oracle interpolates the identical values.
MINHASH_AB: tuple[tuple[int, int], ...] = (
    (1751635862762744259, 1999649782042811711),
    (46295250897086247, 1273725761415060965),
    (1664334150294150275, 837970336674337993),
    (508391623742096361, 511855564522445093),
    (340678748522278818, 101475745305563044),
    (2128071573654470028, 835363707455326561),
    (174348696349501988, 634680270657338780),
    (977323201121309771, 284131670030119812),
    (631230144423749428, 1806104976123320292),
    (194129693402919073, 540098400764285944),
    (1682970887596636915, 436402943840574728),
    (748518919714780668, 821673336676626007),
    (1708126135799053828, 681942751974836350),
    (2206822716149057550, 819421299514727439),
    (1401259922962083604, 435742483839462819),
    (1900379849091256682, 2048098902452676699),
)
_MINHASH_EMPTY = MINHASH_P  # sentinel min for gram-less docs (never produced by md5<2^60)


def _canon_py(text: str | None) -> str:
    """Python replica of the engines' canonicalization. All three
    implementations (this, char_shingles' Spark expression, the DuckDB
    oracle) collapse the explicit class [\\t\\n\\f\\r ] — never \\s, whose
    meaning differs between Java ([... \\x0B]) and RE2. trim() in both
    Spark and DuckDB strips ASCII spaces only, mirrored by strip(' ')."""
    import re

    if text is None:
        return ""
    return re.sub(r"[\t\n\f\r ]+", " ", text.strip(" ").lower())


def _grams_py(c: str, n: int = 5) -> list[str]:
    """Python replica of char_shingles / the oracle's list_transform:
    substr(c, i, n) for i in 1..max(len-n+1, 1), distinct."""
    m = max(len(c) - (n - 1), 1)
    return list(dict.fromkeys(c[i : i + n] for i in range(m)))


def minhash_signature_py(text: str | None, num_hashes: int = 16) -> list[int]:
    """Pure-Python MinHash signature (used inside the Arrow-batched UDF and
    directly unit-testable). Exact integer math — no overflow anywhere."""
    import hashlib

    if num_hashes > len(MINHASH_AB):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(MINHASH_AB)} frozen "
            "permutation constants (MINHASH_AB) — extend the table first"
        )
    bases = [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
        for g in _grams_py(_canon_py(text))
    ]
    if not bases:
        return [_MINHASH_EMPTY] * num_hashes
    return [
        min((a * b + bb) % MINHASH_P for b in bases) for a, bb in MINHASH_AB[:num_hashes]
    ]


# gram (UTF-32-LE bytes) -> FULL-WIDTH np.uint64[len(MINHASH_AB)]
# permuted-value vector (always all 16 permutations, sliced per call — so
# concurrent minhash_signature calls with different num_hashes share the
# cache safely); worker-lifetime, capped (the 5-gram vocabulary of
# natural text is heavy-tailed, so the cap keeps the hot head resident
# without unbounded growth)
_MINHASH_VEC_CACHE: dict[bytes, "np.ndarray"] = {}
_MINHASH_VEC_CACHE_CAP = 1 << 19


def _minhash_vec(key: bytes) -> "np.ndarray":
    """Permuted-value vector for one gram, cached. ``key`` is the gram's
    UTF-32-LE byte string (fixed 4 bytes/char — the batch kernel's native
    window form; injective per gram)."""
    import hashlib

    cache = _MINHASH_VEC_CACHE
    v = cache.get(key)
    if v is None:
        b = int(
            hashlib.md5(key.decode("utf-32-le").encode("utf-8")).hexdigest()[:15], 16
        )
        # exact Python ints (a*b is ~2^121 — no uint64 overflow path);
        # cache the FULL 16-wide vector, slice per call
        v = np.array([(a * b + bb) % MINHASH_P for a, bb in MINHASH_AB], dtype=np.uint64)
        if len(cache) < _MINHASH_VEC_CACHE_CAP:
            cache[key] = v
    return v


def minhash_signature(col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as array<long> via an Arrow-batched pandas UDF.

    Map-side only (no shuffle). Vectorized across the batch (r7 kernel,
    guide §4.2 — hand whole batches to native code): each canonicalized
    text is encoded once to fixed-width UTF-32 and its 5-gram windows are
    numpy stride views — NO per-gram Python substring is ever built (the
    r6 kernel sliced ~len(text) Python strings per doc and np.unique'd an
    object array; this one unique's a (total_grams, 20-byte) void array
    with C memcmp). Per-doc dedup of grams is deliberately skipped:
    duplicate grams cannot change a min, so the signature is unchanged
    (the r6/_grams_py dedup only saved object-array width). Each DISTINCT
    gram (across the whole batch) gets its (md5 base -> ``num_hashes``
    affine permutations) vector exactly once — cached across batches up
    to a cap — and per-doc signatures are contiguous-segment mins
    (``np.minimum.reduceat``, much faster than the r6 ``np.minimum.at``
    scatter). Bit-identical to :func:`minhash_signature_py` (pinned by
    test) and portable to the DuckDB oracle.
    """
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes={num_hashes} exceeds {len(MINHASH_AB)} constants")
    return memo(("minhash", num_hashes), lambda: _minhash_udf(num_hashes))(col)


def _minhash_udf(num_hashes: int):
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        n = len(texts)
        out = np.full((n, num_hashes), np.uint64(_MINHASH_EMPTY), dtype=np.uint64)
        win_parts: list[np.ndarray] = []   # (m_i, 5) uint32 per long doc
        long_rows: list[int] = []          # row index per long doc
        long_lens: list[int] = []          # m_i per long doc
        short_rows: list[tuple[int, bytes]] = []  # (row, gram utf-32 bytes)
        for i, t in enumerate(texts):
            c = _canon_py(t)
            if len(c) >= 5:
                buf = np.frombuffer(c.encode("utf-32-le"), dtype=np.uint32)
                w = np.lib.stride_tricks.sliding_window_view(buf, 5)
                if len(w) > 65536:
                    # degenerate-doc memory bound (r7 review): a multi-MB
                    # repetitive doc would otherwise contribute len(c)
                    # windows to the batch matrices (~150 B each through
                    # the gather); dedup its windows per doc first — a
                    # min is dedup-invariant, so the signature is
                    # unchanged, and for spammy repeats distinct << raw
                    w = np.unique(
                        np.ascontiguousarray(w).view(np.dtype((np.void, 20)))
                    ).view(np.uint32).reshape(-1, 5)
                win_parts.append(w)
                long_rows.append(i)
                long_lens.append(len(w))
            else:
                # exactly _grams_py's short form: ONE gram = the whole
                # (possibly empty) string — c[0:5] of a <5-char c is c
                short_rows.append((i, c.encode("utf-32-le")))
        if win_parts:
            allw = np.ascontiguousarray(np.concatenate(win_parts))
            voids = allw.view(np.dtype((np.void, 20))).ravel()
            uniq, inv = np.unique(voids, return_inverse=True)
            vecs = np.empty((len(uniq), num_hashes), dtype=np.uint64)
            for j, u in enumerate(uniq):
                vecs[j] = _minhash_vec(u.tobytes())[:num_hashes]
            gathered = vecs[inv]
            starts = np.zeros(len(long_lens), dtype=np.int64)
            np.cumsum(long_lens[:-1], out=starts[1:])
            out[long_rows] = np.minimum.reduceat(gathered, starts, axis=0)
        for i, key in short_rows:
            out[i] = _minhash_vec(key)[:num_hashes]
        o = out.astype(np.int64)
        return pd.Series([row.tolist() for row in o])

    return _sig


# Default per-(band, band_key) size cap for the guarded LSH tier. A
# degenerate bucket — m pages sharing a band key — expands to O(m^2)
# candidate pairs ON ONE REDUCER KEY in the pair expansion; at 10^12 docs
# the empty/boilerplate shells and parked-domain clones that survive
# exact collapse can still make m millions. A bucket with more than this
# many DISTINCT contents is near-useless for dedup (standard MinHashLSH
# posture: such buckets are noise, not signal) and is dropped, trading
# a little recall on mega-clusters for a bounded expansion.
LSH_MAX_BUCKET = 64


# Sentinel fingerprint for NULL-text rows. fingerprint() is md5 of the
# text, so NULL text -> NULL -> null-rejecting joins would silently drop
# those rows from rep_map (they'd vanish from the fold-back). Coalescing
# to a non-hex sentinel makes all content-less rows ONE exact-dup group —
# the same grouping the SQL oracle's `partition by md5(...)` applies
# (window PARTITION BY puts NULL keys in one partition), and the pairing
# that banding the raw signatures gives: every NULL/empty doc shares the
# empty-gram signature and therefore every band.
_NULL_FP = "__null__"


def _fingerprint_nn(col: Column) -> Column:
    return F.coalesce(fingerprint(col), F.lit(_NULL_FP))


# -- fused guarded-tier skeleton (shared by MinHash and SimHash) -------------
#
# r6 shape: ONE pass over the text computes the exact-dup fingerprint AND
# the near-dup signature side by side (the signature UDF already scans
# every byte; the JVM md5 rides along for free), materialized once.
#
# r7 shape: the exact-dup collapse is ONE window over that pass —
# ``rep_id = min(id) over (partition by fingerprint)`` — materialized as
# (id, rep_id, sig). The r6 form derived rep_map (groupBy + join back on
# fingerprint) and rep_rows (a second groupBy with first(sig)) as three
# separate shuffled scans of a base checkpoint, and the cap branch re-ran
# the rep_rows aggregate a second time (measured plan: two SortAggregate
# chains over the base). The window computes BOTH in one
# Exchange(fingerprint)+sort:
#   * rep_map  = project (id, rep_id);
#   * rep_rows = filter id == rep_id (the min-id row carries ITS OWN sig,
#     equal to the r6 first(sig) because identical fingerprint means
#     identical text means identical signature).
# Skew profile is unchanged: the r6 join back also hash-partitioned every
# (id, fingerprint) row by fingerprint, so a hot exact-dup group landed on
# one reducer either way — the rows are narrow in both forms; the window
# just stops paying for the same shuffle three times.
# The other r6 properties hold:
#   * the text is scanned exactly once and NEVER shuffles — only
#     (id, fingerprint, sig) rows move;
#   * one localCheckpoint job (UDF pass + the one collapse shuffle)
#     replaces r6's eager base checkpoint + lazy rep_map checkpoint.


def _fused_rep_base(
    df: DataFrame, text_col: str, id_col: str, sig: Column, sig_name: str
) -> DataFrame:
    """The lazy (id, rep_id, sig) frame; the guarded tiers checkpoint it,
    and that checkpoint is the ONLY job that touches text."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col),
        _fingerprint_nn(F.col(text_col)).alias("fingerprint"),
        sig.alias(sig_name),
    )
    w = Window.partitionBy("fingerprint")
    return base.select(
        F.col(id_col), F.min(id_col).over(w).alias("rep_id"), F.col(sig_name)
    )


def _check_cap(max_bucket_size: int) -> None:
    if not isinstance(max_bucket_size, int) or max_bucket_size < 1:
        raise ValueError(f"max_bucket_size must be a positive int, got {max_bucket_size!r}")


def _minhash_band_explode(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, sig) -> (id, band, band_key): md5 over each of ``bands`` equal
    signature slices. Pure codegen expressions — no UDF, no shuffle."""

    def build() -> Column:
        rows = num_hashes // bands
        bands_expr = F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("band_key"),
            ),
        )
        return F.explode(bands_expr).alias("bk")

    exploded = memo(("mh_bands", num_hashes, bands), build)
    return sig.select(F.col(id_col), exploded).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def oversized_buckets(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band, band_key, n) for the buckets the guard WOULD drop — the
    logged-drop side channel (jobs aggregate this into their metrics sink
    so capped recall loss is observable, never silent)."""
    return (
        buckets.groupBy("band", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket_size)
    )


def _drop_oversized(buckets: DataFrame, dropped: DataFrame) -> DataFrame:
    """Remove capped buckets via a left-anti join against the oversized
    list, not a semi join against the kept list: at 10^12 docs the
    keep-list is essentially EVERY bucket key (billions of rows — a semi
    join degrades to shuffling the bucket rows a second time), while the
    capped list is the exception tail the cap exists for — so ship the
    exception list, not the rule. Deliberately UNHINTED (r7 review):
    when the dropped list is small the planner/AQE picks the broadcast
    anti-join anyway (verified: identical BroadcastHashJoin LeftAnti
    executed plan, timing equal within noise), but a pathological corpus
    whose dropped list is itself huge falls back to a size-checked
    shuffled join instead of failing an unconditional 8 GB broadcast.
    The count aggregate feeding ``dropped`` still runs with map-side
    partial aggregation over narrow (band, band_key) rows, so a
    mega-bucket never concentrates rows anywhere before it is counted.
    Band keys are never NULL (md5 of a non-null string / a bit-slice of
    a non-null long), so the anti join keeps exactly the n <= cap
    buckets."""
    return buckets.join(
        dropped.select("band", "band_key"), ["band", "band_key"], "left_anti"
    )


def lsh_guarded_with_drops(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The production near-dup candidate generator: one fused pass
    computes the exact-dup fingerprint AND the MinHash signature (see the
    skeleton notes above), then banding (``bands`` md5 keys over equal
    signature slices; ``num_hashes`` must divide evenly) runs over each
    fingerprint group's min-id REPRESENTATIVE only, with a per-bucket
    size cap, yielding candidate pairs among representatives.

    Returns ``(rep_pairs, rep_map, dropped)``. Pairs are between
    representative ids; ``rep_map`` (id, rep_id) folds every member back
    onto its representative. Downstream dedup never needs member-level
    pairs: clustering runs on reps and members inherit their rep's
    cluster (identical content IS the strongest near-dup relation). For
    small-scale verification/oracles, :func:`expand_rep_pairs`
    reconstructs the member-level pair set that banding every doc would
    give. ``dropped`` is the (band, band_key, n) frame of buckets the
    cap removed (empty when nothing was capped); jobs MUST aggregate it
    into their metrics sink (see jobs/neardedup.py) — a capped
    mega-cluster is lost recall, and lost recall has to be a counter,
    never silence. It derives from the checkpointed rep base, so
    observing it re-scans only narrow rows.

    Why this shape at 10^12 docs: byte-identical shells (empty pages,
    parked domains, error boilerplate) are the worst skew — m copies
    share EVERY band key, making one bucket's pair expansion O(m^2) on a
    single reducer key. Banding reps only makes them one bucket row; the
    bucket cap (``max_bucket_size``, at least 1) bounds whatever
    degenerate near-identical (not identical) clusters remain. Reference
    analogue: the content-dedup semantics of run.py:29-51 applied at
    scale."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    _check_cap(max_bucket_size)
    wbase = _fused_rep_base(
        df, text_col, id_col, minhash_signature(F.col(text_col), num_hashes), "sig"
    ).localCheckpoint()
    rep_map = wbase.select(F.col(id_col), F.col("rep_id"))
    rep_rows = wbase.filter(F.col(id_col) == F.col("rep_id")).select(F.col(id_col), "sig")
    raw_buckets = _minhash_band_explode(rep_rows, id_col, num_hashes, bands)
    dropped = oversized_buckets(raw_buckets, max_bucket_size)
    kept = _drop_oversized(raw_buckets, dropped)
    return _pairs_within_buckets(kept, id_col), rep_map, dropped


def _pairs_within_buckets(
    kept: DataFrame, id_col: str, sig_col: str | None = None
) -> DataFrame:
    """Distinct candidate pairs generated INSIDE each kept bucket via a
    bounded collect_list + in-array expansion — no self-join at all.

    A bucket self-join re-aliases one side, which defeats ReuseExchange
    and would force a localCheckpoint of the buckets (an extra eager
    job) to avoid per-branch recomputation. A grouped in-array expansion
    is a straight-line plan — evaluated once, checkpoint-free — and the
    arrays are SAFE because they exist only for buckets that already
    passed the size cap (<= max_bucket_size rows each; the cap's count
    runs with map-side partial aggregation, so an uncapped mega-bucket
    never concentrates its rows anywhere). sort_array gives id_a < id_b
    ordering inside each pair for free.

    With ``sig_col`` the per-member signature rides along in the struct
    and each pair carries ``hamming = bit_count(xor)`` (the SimHash
    verify); without it pairs are bare (id_a, id_b) (the MinHash tier —
    Jaccard verification happens downstream on text).
    """

    def build() -> tuple:
        if sig_col is None:
            agg = F.sort_array(F.collect_list(F.col(id_col))).alias("ms")
            make = lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
            out_cols = ["p.id_a", "p.id_b"]
        else:
            agg = F.sort_array(
                F.collect_list(F.struct(F.col(id_col), F.col(sig_col)))
            ).alias("ms")
            make = lambda x, y: F.struct(
                x[id_col].alias("id_a"),
                y[id_col].alias("id_b"),
                F.bit_count(x[sig_col].bitwiseXOR(y[sig_col])).alias("hamming"),
            )
            out_cols = ["p.id_a", "p.id_b", "p.hamming"]
        ms = F.col("ms")
        pair_arr = F.flatten(
            F.transform(
                ms,
                lambda x, i: F.transform(
                    F.slice(ms, i + 2, F.size(ms)), lambda y: make(x, y)
                ),
            )
        )
        return agg, F.explode(pair_arr).alias("p"), out_cols

    agg, exploded, out_cols = memo(("pairs_expr", id_col, sig_col), build)
    return (
        kept.groupBy("band", "band_key")
        .agg(agg)
        .filter(F.size("ms") >= 2)
        .select(exploded)
        .select(*out_cols)
        .distinct()
    )


def expand_rep_pairs(
    rep_pairs: DataFrame,
    rep_map: DataFrame,
    id_col: str = "doc_id",
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """Member-level (id_a < id_b) pairs from representative pairs: every
    cross-group pair between members of two paired rep groups, plus every
    within-group pair of each multi-member group. When no bucket was
    capped this is EXACTLY the pair set that banding every doc's
    signature would give (identical docs share all band keys with their
    rep; pinned against the pure-Python banding reference), which is
    what lets the driver oracle keep checking the guarded path
    value-for-value. Verification/
    small-set form: its output is inherently quadratic in group size —
    at scale consume (rep_pairs, rep_map) directly.

    ``carry`` names extra ``rep_pairs`` columns to keep on the expanded
    pairs (cross-group pairs inherit the rep pair's value — exact,
    because identical content has an identical signature); the mapped
    Column is the value a within-group pair gets, e.g.
    ``{"hamming": F.lit(0)}`` for SimHash (identical docs are distance
    0)."""
    carry = carry or {}
    # within-group pairs via the same in-array expansion as the bucket
    # tier (one shuffle instead of a re-aliased self-join's two); group
    # arrays are unbounded here, but so is this function's output — the
    # quadratic member-level form is for small-set verification only
    groups = rep_map.groupBy("rep_id").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ms")
    )
    ms = F.col("ms")
    pair_arr = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    within = (
        groups.filter(F.size("ms") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", *[v.alias(k) for k, v in carry.items()])
    )
    ma = rep_map.select(F.col("rep_id").alias("id_a"), F.col(id_col).alias("__ma"))
    mb = rep_map.select(F.col("rep_id").alias("id_b"), F.col(id_col).alias("__mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            *[F.col(k) for k in carry],
        )
    )
    # no distinct needed — saves a full shuffle over the (quadratic)
    # output: every member belongs to exactly one fingerprint group, so a
    # member pair determines its (rep_a, rep_b) uniquely; within-group
    # pairs (rep_a == rep_b) and cross-group pairs (rep_a != rep_b) are
    # disjoint, and rep_pairs is already distinct
    return within.unionByName(cross)


# -- n-gram Jaccard ---------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold (id_a < id_b).

    O(N^2): refinement/verification step — at scale, feed it LSH candidate
    pairs instead of the full cross join (see lsh_guarded_with_drops).
    """
    g = df.select(F.col(id_col), char_shingles(F.col(text_col), n).alias("grams"))
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    jac = F.round(inter / F.greatest(union, F.lit(1)), 6)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -- embedding-cosine near-dup ---------------------------------------------


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine similarity >= threshold (id_a < id_b).

    Exact O(N^2) verification form — the refinement step. At 10^12 scale,
    feed it candidate buckets from similarity.lsh_bucket_topk's hyperplane
    signatures instead of the full cross join (same two-tier pattern as
    MinHash -> Jaccard).
    """
    from manga_ocr_spark.operators.similarity import cosine

    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    cos = F.round(cosine(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# -- duplicate clustering (connected components) -----------------------------


def dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Candidate pairs (id_a, id_b) -> (doc_id, cluster_id) where
    cluster_id = min doc id reachable through the pair graph.

    Iterative min-label propagation (the simple form of large-star/
    small-star): each round joins labels across edges and keeps the min;
    stops at fixpoint. Rounds needed = graph diameter — for dedup graphs
    (small dense clusters) that is 2-3, so the loop is a handful of
    self-terminating Spark jobs, not a driver-side union-find (which
    would need the whole edge set in one process — impossible at 10^12).

    Each iteration ``localCheckpoint()``s the new labels: lineage is CUT
    per round, so iteration N's plan contains only iteration N-1's
    materialized output — without this, every round (plus its convergence
    probe) would recompute the entire chain of prior joins, an O(d^2)
    blowup and an exponentially growing plan on deep graphs. ``edges`` is
    checkpointed once for the same reason (it is re-joined every round).
    On a real cluster prefer ``spark.sparkContext.setCheckpointDir`` +
    ``checkpoint()`` for fault-tolerant truncation; localCheckpoint keeps
    blocks executor-local, the right trade for this sandbox.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


# -- SimHash ------------------------------------------------------------------

# token -> ±1 sign row (64,), filled lazily inside python workers; the
# Zipfian vocabulary makes the hit rate high, so md5 runs roughly once per
# distinct word per worker process, not once per token occurrence. Capped:
# an open web vocabulary (ids, urls, typos) would otherwise grow a
# long-lived worker's cache without bound.
_SIMHASH_SIGN_CACHE: dict[str, np.ndarray] = {}
_SIMHASH_SIGN_CACHE_CAP = 1 << 20


_SIMHASH_WS = re.compile(r"[\t\n\f\r ]+")


def _simhash_tokens(text: str) -> list[str]:
    """Tokenizer shared by the per-row reference and the vectorized kernel:
    split on the explicit class [\\t\\n\\f\\r ] — NOT str.split(), which
    additionally splits on \\x0B and Unicode whitespace that the RE2-based
    DuckDB oracle (and the repo-wide canonicalization invariant) do not."""
    return [t for t in _SIMHASH_WS.split(text.lower()) if t]


def simhash_py(text: str | None) -> int:
    """Reference (per-row) SimHash — the definition the vectorized kernel
    must reproduce bit-for-bit (pinned by tests/test_operators.py). md5
    token hashes (engine-portable for oracles); bit j of the signature is
    set when bit j of the hashes wins the majority vote, MSB-first."""
    import hashlib

    if not text:
        return 0
    votes = np.zeros(64, dtype=np.int64)
    for tok in _simhash_tokens(str(text)):
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        bits = np.unpackbits(np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8)).astype(
            np.int64
        )
        votes += bits * 2 - 1
    sig = np.uint64(0)
    for bit, v in enumerate(votes):
        if v > 0:
            sig |= np.uint64(1) << np.uint64(63 - bit)
    return int(np.int64(sig))


def simhash_col(col: Column) -> Column:
    """64-bit SimHash as a Column via an Arrow-batched pandas UDF.

    Vectorized across the WHOLE batch: tokens from all docs are flattened
    once, md5 is computed only per *distinct* token (a worker-lifetime
    cache exploits the Zipfian vocabulary — most tokens repeat), and the
    bit-votes scatter-add into an (n_docs, 64) matrix with one
    ``np.add.at``. No per-token Python inner loop survives; the only
    interpreted work is one md5 per previously-unseen vocabulary word.
    Near-dups = small Hamming distance; equal-signature grouping is the
    degenerate (fast) case — see simhash_guarded_with_drops for banding.
    """
    return memo(("simhash",), _simhash_udf)(col)


def _simhash_udf():
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        cache = _SIMHASH_SIGN_CACHE  # module-level: lives for the worker process
        tok_lists = [_simhash_tokens(str(t)) if t else [] for t in texts]
        lens = np.fromiter((len(ts) for ts in tok_lists), dtype=np.int64, count=len(tok_lists))
        n = len(texts)
        if int(lens.sum()) == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        flat = [tok for ts in tok_lists for tok in ts]
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        # factorize is hash-based (O(n)) — np.unique's comparison sort on
        # an object array was the kernel's hottest line; vote order per
        # doc is irrelevant (addition commutes), only the (codes,
        # uniques) mapping matters
        inv, uniq = pd.factorize(np.asarray(flat, dtype=object), sort=False)
        signs = np.empty((len(uniq), 64), dtype=np.int8)
        for j, tok in enumerate(uniq):
            s = cache.get(tok)
            if s is None:
                bits = np.unpackbits(
                    np.frombuffer(hashlib.md5(tok.encode()).digest()[:8], dtype=np.uint8)
                ).astype(np.int8)
                s = bits * 2 - 1
                if len(cache) < _SIMHASH_SIGN_CACHE_CAP:
                    cache[tok] = s
            signs[j] = s
        votes = np.zeros((n, 64), dtype=np.int64)
        np.add.at(votes, doc_idx, signs[inv].astype(np.int64))
        bits = (votes > 0).astype(np.uint8)
        sigs = np.packbits(bits, axis=1).view(">u8").astype(np.uint64).reshape(n)
        return pd.Series(sigs.view(np.int64))

    return _simhash


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) frame form of :func:`simhash_col`."""
    return df.select(F.col(id_col), simhash_col(F.col(text_col)).alias("simhash"))


def _simhash_band_explode(sig: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, simhash) -> (id, simhash, band, band_key): ``bands`` equal
    bit-slices of the signature, band 0 the MOST significant. Bands are
    unrolled in Python — shift amounts must be literals."""

    def build() -> Column:
        width = 64 // bands
        bands_expr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), (bands - 1 - i) * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("band_key"),
                )
                for i in range(bands)
            ]
        )
        return F.explode(bands_expr).alias("bk")

    exploded = memo(("sh_bands", bands), build)
    return sig.select(
        F.col(id_col), F.col("simhash"), exploded
    ).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def simhash_guarded_with_drops(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SimHash near-dup candidates with the guarded posture of
    :func:`lsh_guarded_with_drops`: one fused pass computes the exact-dup
    fingerprint AND the SimHash signature, banding runs over min-id
    representatives only, hot buckets are capped, and exact Hamming
    distance (JVM ``bit_count(xor)``) verifies ``<= max_hamming``.

    Banding splits the 64-bit signature into ``bands`` equal bit-slices
    (``bands`` must divide 64); reps sharing ANY slice are candidates.
    Pigeonhole guarantee: a pair with hamming < ``bands`` differs in
    fewer bits than there are slices, so at least one slice is identical
    — banding finds EVERY such pair without an all-pairs join, the same
    candidate->verify shape as MinHash LSH -> Jaccard at a cheaper
    (token-level) signature.

    Returns ``(rep_pairs, rep_map, dropped)`` exactly as the MinHash tier
    does, with ``hamming`` on each rep pair. Fold members back through
    :func:`expand_rep_pairs` with ``carry={"hamming": F.lit(0)}``:
    identical content is Hamming distance 0, and a cross-group member
    pair's distance equals its rep pair's exactly, because identical
    text yields an identical signature. Same scale argument as the
    MinHash tier: byte-identical shells become one bucket row instead of
    an O(m^2) reducer key, the text is scanned once and never shuffled,
    and ``dropped`` must reach the job's metrics sink."""
    if 64 % bands != 0:
        raise ValueError(f"bands={bands} must divide 64")
    _check_cap(max_bucket_size)
    wbase = _fused_rep_base(
        df, text_col, id_col, simhash_col(F.col(text_col)), "simhash"
    ).localCheckpoint()
    rep_map = wbase.select(F.col(id_col), F.col("rep_id"))
    rep_rows = wbase.filter(F.col(id_col) == F.col("rep_id")).select(F.col(id_col), "simhash")
    raw_buckets = _simhash_band_explode(rep_rows, id_col, bands)
    dropped = oversized_buckets(raw_buckets.drop("simhash"), max_bucket_size)
    buckets = _drop_oversized(raw_buckets, dropped)
    pairs = _pairs_within_buckets(buckets, id_col, sig_col="simhash").filter(
        F.col("hamming") <= max_hamming
    )
    return pairs, rep_map, dropped
