"""Unit tests of the training-data operators (dedup / similarity / text /
multimodal) on tiny in-memory tables. The sf0.01 DuckDB oracle is the
driver's gate; these pin semantics at the unit level."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from manga_ocr_spark.operators import dedup as D
from manga_ocr_spark.operators import similarity as S
from manga_ocr_spark.operators import text as T
from manga_ocr_spark.operators.multimodal import FEATURE_DIM, media_features, media_meta


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="The  quick brown fox jumps over the lazy dog "),  # ws/case dup of 1
        Row(doc_id=3, text="a completely different document about spark engines"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        Row(doc_id=5, text=""),
    ]
    return spark.createDataFrame(rows)


# -- exact dedup -------------------------------------------------------------


def test_exact_dedup_collapses_ws_case_variants(docs):
    kept = sorted(r.doc_id for r in D.exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]  # 2 collapsed into 1


def test_exact_dup_groups(docs):
    groups = {r.canonical_id: r.n_copies for r in D.exact_dup_groups(docs).collect()}
    assert groups[1] == 2
    assert groups[3] == 1


# -- minhash -----------------------------------------------------------------


def test_minhash_identical_docs_share_all_bands(docs):
    sig = docs.filter(F.col("doc_id").isin(1, 2)).select(
        "doc_id", D.minhash_signature(F.col("text")).alias("sig")
    )
    buckets = D._minhash_band_explode(sig, "doc_id", 16, 4)
    per_band = (
        buckets.groupBy("band", "band_key").agg(F.count("*").alias("n")).collect()
    )
    # canonicalized texts are equal -> identical signatures -> both docs in
    # every band bucket
    assert all(r.n == 2 for r in per_band)
    assert len(per_band) == 4  # 4 bands


def test_minhash_pairs_find_dup_not_unrelated(docs):
    rep_pairs, rep_map, _ = D.lsh_guarded_with_drops(docs.filter(F.col("doc_id").isin(1, 2, 3)))
    pairs = {(r.id_a, r.id_b) for r in D.expand_rep_pairs(rep_pairs, rep_map).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_vectorized_matches_reference_per_row(spark):
    # the batch kernel (np.unique dedup + minimum.at segment-min + cache)
    # must equal minhash_signature_py exactly, including empty/None texts
    texts = ["the quick brown fox", "", None, "  WS   and CaSe  ", "abcde" * 40, "x"]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r.doc_id: r.sig
        for r in df.select(
            "doc_id", D.minhash_signature(F.col("text")).alias("sig")
        ).collect()
    }
    want = {i: D.minhash_signature_py(t) for i, t in enumerate(texts)}
    assert got == want


def test_minhash_degenerate_doc_window_dedup_matches_reference(spark):
    # a doc with > 65,536 5-gram windows takes the per-doc window-dedup
    # branch (memory bound for multi-MB repetitive pages); its signature
    # — and its batch neighbours' segment boundaries — must stay
    # bit-identical to minhash_signature_py
    texts = [
        "the quick brown fox",
        "buy cheap pills now " * 5000,  # 100k chars, 20 distinct windows
        "jumps over the lazy dog",
        "".join(f"spam {i % 97} " for i in range(12000)),
    ]
    assert all(len(t) - 4 > 65536 for t in texts[1::2])
    # one partition -> one Arrow batch holding all four docs
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)], "doc_id int, text string"
    ).coalesce(1)
    got = {
        r.doc_id: r.sig
        for r in df.select(
            "doc_id", D.minhash_signature(F.col("text")).alias("sig")
        ).collect()
    }
    assert got == {i: D.minhash_signature_py(t) for i, t in enumerate(texts)}


def test_minhash_different_num_hashes_share_one_session(spark):
    # the worker-side gram cache stores FULL-width vectors and slices per
    # call — mixing num_hashes values over the same grams must not
    # collide (regression: a width-keyed cache raised broadcast errors)
    df = spark.createDataFrame([Row(doc_id=1, text="the quick brown fox")])
    sig16 = df.select(D.minhash_signature(F.col("text"), 16).alias("s")).collect()[0].s
    sig8 = df.select(D.minhash_signature(F.col("text"), 8).alias("s")).collect()[0].s
    assert len(sig16) == 16 and len(sig8) == 8
    assert sig16[:8] == sig8  # same permutations, just truncated
    assert sig8 == D.minhash_signature_py("the quick brown fox", num_hashes=8)


def test_minhash_rejects_num_hashes_beyond_constant_table():
    with pytest.raises(ValueError, match="num_hashes=32"):
        D.minhash_signature_py("abc", num_hashes=32)


def test_minhash_buckets_reject_uneven_bands(docs):
    # 16 hashes in 5 bands would silently band over only 15 of them
    with pytest.raises(ValueError, match="not divisible"):
        D.lsh_guarded_with_drops(docs, num_hashes=16, bands=5)


def test_guarded_tiers_require_an_int_bucket_cap(docs):
    # there is no uncapped mode: a bucket's pair expansion is only
    # bounded because the cap is
    for guarded in (D.lsh_guarded_with_drops, D.simhash_guarded_with_drops):
        with pytest.raises(ValueError, match="max_bucket_size"):
            guarded(docs, max_bucket_size=None)


# -- jaccard -----------------------------------------------------------------


def test_jaccard_near_dup_above_unrelated(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs.filter("doc_id in (1,3,4)"), threshold=0.0).collect()
    }
    assert pairs[(1, 2)] if (1, 2) in pairs else True
    assert pairs[(1, 4)] > pairs[(1, 3)]
    assert pairs[(1, 4)] > 0.5  # one-word change over a 44-char text


# -- simhash -----------------------------------------------------------------


def test_simhash_stability_and_similarity(docs):
    out = {r.doc_id: r.simhash for r in D.simhash64(docs).collect()}
    out2 = {r.doc_id: r.simhash for r in D.simhash64(docs).collect()}
    assert out == out2  # deterministic
    assert out[1] == out[2] or bin(out[1] ^ out[2]).count("1") <= 4  # ws variant ~ equal

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(out[1], out[4]) < hamming(out[1], out[3])
    assert out[5] == 0  # empty text -> zero signature


def test_simhash_candidate_pairs_banding(docs):
    # docs 1 and 2 tokenize identically (ws/case variants) -> hamming 0,
    # guaranteed found by pigeonhole; unrelated doc 3 must not pair with
    # anything at max_hamming=3
    rep_pairs, rep_map, _ = D.simhash_guarded_with_drops(docs, max_hamming=3)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.expand_rep_pairs(rep_pairs, rep_map, carry={"hamming": F.lit(0)}).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert not any(3 in p for p in pairs)


def test_simhash_banding_finds_every_close_pair(spark):
    # pigeonhole completeness: EVERY pair with hamming <= 3 (= bands-1)
    # must appear in the banded candidates — verified against brute force
    # over all pairs of a 30-doc corpus with planted near-identical texts
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [base] * 3 + [base.replace("beta", f"w{i}") for i in range(12)] + [
        f"totally unrelated document number {i} with its own words {i * 7}"
        for i in range(15)
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    sigs = {i: D.simhash_py(t) for i, t in enumerate(texts)}

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    want = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if ham(sigs[i], sigs[j]) <= 3
    }
    rep_pairs, rep_map, _ = D.simhash_guarded_with_drops(
        df, max_hamming=3, max_bucket_size=len(texts)
    )
    got = {(r.id_a, r.id_b) for r in D.expand_rep_pairs(rep_pairs, rep_map).collect()}
    assert want, "fixture must contain close pairs"
    assert got == want


def test_simhash_vectorized_matches_reference_per_row(spark):
    # the batch-vectorized kernel must equal the per-row definition
    # (simhash_py) bit-for-bit — including empties, nulls, repeats, and
    # case folding
    texts = [
        "the quick brown fox",
        "the the the repeated token stress",
        "",
        None,
        "MiXeD CaSe TOKENS mIxEd",
        "single",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "unicode tökens übermäßig ça va",
    ]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.simhash for r in D.simhash64(df).collect()}
    want = {i: D.simhash_py(t) for i, t in enumerate(texts)}
    assert got == want


# -- similarity search ---------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0, 0.0]),  # closest to 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        Row(vec_id=4, embedding=[0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_exact_ranking(vecs):
    res = S.cosine_topk(vecs.filter("vec_id = 0"), vecs, k=4).orderBy("rank").collect()
    assert [r.neighbor_id for r in res] == [1, 4, 2, 3]
    assert res[0].cos == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert res[-1].cos == pytest.approx(-1.0, abs=1e-6)


def test_lsh_bucket_topk_high_recall_on_clustered_vectors(spark):
    # two tight clusters; bucketed ANN must find same-cluster neighbors
    rows = []
    for i in range(20):
        base = [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]
        rows.append(Row(vec_id=i, embedding=[base[0] + 0.01 * (i % 5), base[1] + 0.01 * ((i + 2) % 5), 0.5, -0.5]))
    df = spark.createDataFrame(rows)
    res = S.lsh_bucket_topk(df.filter("vec_id = 0"), df, k=3, dim=4, bits=4).collect()
    assert res, "bucket must contain same-cluster candidates"
    assert all(r.neighbor_id % 2 == 0 for r in res)  # same cluster only


# -- text analysis ---------------------------------------------------------


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "der Hund und die Katze liefen"), (2, "")],
        "doc_id int, t string",
    )
    panel = {r.doc_id: r for r in T.quality_panel(df, text_col="t").collect()}
    out = df.select(
        "doc_id",
        T.token_count(F.col("t")).alias("n"),
        T.fingerprint(F.col("t")).alias("fp"),
    ).collect()
    en, de, empty = sorted(out)
    assert en.n == 5 and de.n == 6 and empty.n == 0
    assert [panel[i].n_tokens for i in range(3)] == [5, 6, 0]
    assert panel[0].stopword_ratio == pytest.approx(3 / 5)  # the, and, the
    assert panel[0].mean_token_len == pytest.approx(15 / 5)
    assert [panel[i].lang_pred for i in range(3)] == ["en", "de", "und"]
    assert len(en.fp) == 32


def test_fingerprint_ws_case_invariant(spark):
    df = spark.createDataFrame([Row(a="Hello  World"), Row(a="hello world")])
    fps = [r.fp for r in df.select(T.fingerprint(F.col("a")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_quality_score_ordering(spark):
    good = "The quick brown fox jumps over the lazy dog and keeps running through a field of tall grass. " * 3
    junk = "@@@ ### !!! ***"
    df = spark.createDataFrame([(0, good), (1, junk)], "doc_id int, text string")
    scores = {r.doc_id: r.quality for r in T.quality_panel(df).collect()}
    assert scores[0] > scores[1]


# -- multimodal plumbing ---------------------------------------------------------


def test_media_meta_and_features(spark):
    rows = [
        Row(media_id=1, payload=b"\x89PNG\r\n" + b"x" * 100),
        Row(media_id=2, payload=b"\xff\xd8\xff" + b"y" * 50),
        Row(media_id=3, payload=b"opaque"),
        Row(media_id=4, payload=b""),
    ]
    df = spark.createDataFrame(rows)
    meta = {r.media_id: r for r in media_meta(df).collect()}
    assert meta[1].n_bytes == 106 and len(meta[1].content_md5) == 32

    feats = {r.media_id: r for r in media_features(df).collect()}
    assert feats[1].format == "png"
    assert feats[2].format == "jpeg"
    assert feats[3].format == "bin"
    assert feats[4].format == "empty"
    for r in feats.values():
        assert len(r.feature) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.feature)
    # deterministic fake decode: stable across runs
    again = {r.media_id: r for r in media_features(df).collect()}
    assert all(feats[k].feature == again[k].feature for k in feats)


def test_ivf_topk_recall_on_clustered_vectors(spark):
    # two tight clusters: IVF cells must separate them; probed exact
    # re-rank returns same-cluster neighbors with high recall
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append(
            Row(vec_id=i, embedding=[base[j] + 0.01 * ((i + j) % 5) for j in range(4)])
        )
    df = spark.createDataFrame(rows)
    res = S.ivf_topk(
        df.filter(F.col("vec_id") < 2), df, k=3, n_centroids=4, n_probe=1, iters=2
    ).collect()
    assert res
    for r in res:
        assert r.neighbor_id % 2 == r.query_id % 2  # same cluster only
    # deterministic across runs
    res2 = S.ivf_topk(
        df.filter(F.col("vec_id") < 2), df, k=3, n_centroids=4, n_probe=1, iters=2
    ).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, res2))


def test_simhash_tokenizer_is_explicit_class_not_str_split(spark):
    # the repo invariant: whitespace is [\t\n\f\r ] everywhere. str.split()
    # would ALSO split on \x0b and Unicode whitespace — inputs where the
    # RE2-based DuckDB oracle would disagree. Pin that both the per-row
    # reference and the vectorized kernel keep such bytes inside tokens.
    texts = [
        "a\x0bb c",          # vertical tab: ONE token "a\x0bb" plus "c"
        "x y z",         # NBSP stays inside a token
        "u v w",         # unicode line separator
        "tab\tand\nnews\rand\fform feeds",  # real separators still split
    ]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.simhash for r in D.simhash64(df).collect()}
    want = {i: D.simhash_py(t) for i, t in enumerate(texts)}
    assert got == want
    # and the reference itself must treat \x0b as a NON-separator: the
    # signature of "a\x0bb c" equals hashing tokens ["a\x0bb", "c"]
    assert D._simhash_tokens("a\x0bb c") == ["a\x0bb", "c"]
    assert D._simhash_tokens(" A\tB\nC ") == ["a", "b", "c"]


def test_simhash_duckdb_oracle_matches_on_hostile_whitespace():
    # input-independent equivalence: run the actual oracle CTE in DuckDB
    # over texts containing \x0b / NBSP / mixed separators and compare
    # with the Python reference — the pair must agree on ANY input, not
    # just the ASCII corpus
    import duckdb

    from __spark_entry__ import _simhash_sql_ctes

    texts = [
        "plain ascii words",
        "a\x0bb c",
        "x y z",
        "tab\tsep\nmix\r\fend",
        "",
        "MiXeD CaSe",
    ]
    con = duckdb.connect()
    con.execute("create table t(doc_id int, text varchar)")
    con.executemany("insert into t values (?, ?)", list(enumerate(texts)))
    sql = _simhash_sql_ctes("select doc_id, text from t") + "\nselect doc_id, simhash from sim"
    got = dict(con.execute(sql).fetchall())
    want = {i: D.simhash_py(t) for i, t in enumerate(texts)}
    assert got == want


def test_hyperplane_signatures_band0_equals_single_signature(spark):
    # contract: band i of the multi-table signatures uses seed base+i, so
    # band 0 must equal the single-table signature at the base seed: the
    # sign pattern over _plane_matrix(seed, dim, bits), packed low bit first
    rows = [Row(vec_id=i, embedding=[float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows)
    v = F.col("embedding").cast("array<double>")
    out = df.select(
        "embedding", S.hyperplane_signatures(v, dim=8, bits=6, bands=4, seed=42).alias("multi")
    ).collect()
    planes = S._plane_matrix(42, 8, 6)  # (bits, dim)
    weights = np.int64(1) << np.arange(6, dtype=np.int64)
    for r in out:
        assert len(r.multi) == 4
        assert r.multi[0] == int((np.asarray(r.embedding) @ planes.T > 0) @ weights)
    # different bands hash differently (not all degenerate-equal)
    assert any(len(set(r.multi)) > 1 for r in out)


def test_lsh_multiband_candidates_superset_single_band(spark):
    # adding bands can only ADD candidates — recall is monotone in bands
    rows = [
        Row(vec_id=i, embedding=[float(((i + 1) * (j + 3)) % 7 - 3) for j in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    q = df.filter("vec_id < 3")
    single = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_bucket_topk(q, df, k=60, dim=8, bits=4, bands=1).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_bucket_topk(q, df, k=60, dim=8, bits=4, bands=8).collect()
    }
    assert single <= multi
    assert len(multi) > len(single)


def test_repetition_stats_handcomputed(spark):
    # Gopher-style repetition fractions vs hand-computed values, including
    # the degenerate shapes (single token, empty text, total repetition)
    texts = {
        0: "a b a b a c",        # uni: a x3 /6; bi: 'a b' x2 /5
        1: "word",               # single token: uni 1.0, bi 0.0
        2: "",                   # empty: both 0.0
        3: "x x x x",            # total repetition: uni 1.0, bi 1.0
        4: "u v w x y z",        # all distinct: uni 1/6, bi 1/5
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in T.quality_panel(df).collect()}
    assert out[0].top_unigram_frac == round(3 / 6, 6)
    assert out[0].top_bigram_frac == round(2 / 5, 6)
    assert out[1].top_unigram_frac == 1.0 and out[1].top_bigram_frac == 0.0
    assert out[2].top_unigram_frac == 0.0 and out[2].top_bigram_frac == 0.0
    assert out[3].top_unigram_frac == 1.0 and out[3].top_bigram_frac == 1.0
    assert out[4].top_unigram_frac == round(1 / 6, 6)
    assert out[4].top_bigram_frac == round(1 / 5, 6)


def test_lang_id_extended_languages(spark):
    texts = {
        0: "il gatto che dorme sono felice",        # it
        1: "isso e muito bom para uma pessoa",       # pt
        2: "het is een mooie dag niet waar",         # nl
        3: "det var som om och sedan",               # sv
        4: "the cat and the dog of mine",            # en still wins ties
        5: "xyzzy plugh",                            # und
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()], "doc_id int, text string"
    )
    out = {r.doc_id: r.lang_pred for r in T.lang_id_frame(df).collect()}
    assert out == {0: "it", 1: "pt", 2: "nl", 3: "sv", 4: "en", 5: "und"}


def test_lang_id_script_tier_cjk_and_alphabets(spark):
    # F5 closure: whitespace-free scripts (ja/zh) and non-Latin alphabets
    # (ko/ru/el) are detected by per-char script fractions — marker words
    # cannot see them. Mirrors the reference's is_kanji/is_hiragana/
    # is_katakana predicates (common/utils.py:60-151).
    from manga_ocr_spark.fixtures.pages import _CJK_SENT

    texts = {
        0: _CJK_SENT,                                   # the fixture's own Japanese
        1: "これはテストです",                            # kana-only ja
        2: "アニメとマンガのキャラクター",                   # katakana ja
        3: "汉字文本没有假名只有中文内容这里全是汉字",          # han only -> zh
        4: "한국어 텍스트 감사합니다 안녕하세요",             # hangul -> ko
        5: "русский текст на кириллице для проверки",     # cyrillic -> ru
        6: "ελληνικό κείμενο για τον έλεγχο",             # greek -> el
        7: "the cat and the dog of mine",                 # latin marker tier intact
        8: "der Hund und die Katze liefen",               # de
        9: "",                                            # und
        # kana fraction below 5% of a long English text: stays en
        10: "the quick brown fox and the lazy dog of the farm " * 20 + "ね",
        # Japanese prose: kana >= 5% wins over the han rule (ja, not zh)
        11: "日本語の文章には仮名が含まれているので中国語ではなく日本語と判定される",
        12: "النص العربي هنا للاختبار والفحص",           # arabic -> ar
        13: "טקסט בעברית לבדיקה ובחינה",                  # hebrew -> he
        14: "यह हिन्दी में लिखा गया पाठ है",                  # devanagari -> hi
        15: "ข้อความภาษาไทยสำหรับทดสอบ",                 # thai -> th
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()], "doc_id int, text string"
    )
    out = {r.doc_id: r.lang_pred for r in T.lang_id_frame(df).collect()}
    assert out == {0: "ja", 1: "ja", 2: "ja", 3: "zh", 4: "ko", 5: "ru",
                   6: "el", 7: "en", 8: "de", 9: "und", 10: "en", 11: "ja",
                   12: "ar", 13: "he", 14: "hi", 15: "th"}


def _assert_panel_matches_oracle(spark, rows: list[tuple[int, str]]) -> dict:
    """Run the ACTUAL generated quality_scores oracle SQL in DuckDB over
    ``rows`` and assert the Spark quality_panel equals it (floats to
    1e-9); returns the panel rows by doc_id."""
    import duckdb

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    con.execute("create table documents(doc_id int, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    want = {
        r[0]: r[1:]
        for r in con.execute(
            "select * from (" + oracle_sql()["quality_scores"] + ") order by doc_id"
        ).fetchall()
    }
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r[0]: tuple(r[1:]) for r in T.quality_panel(df).collect()}
    assert set(got) == set(want)
    for k in got:
        for a, b in zip(got[k], want[k]):
            if isinstance(a, float) or isinstance(b, float):
                assert (a is None) == (b is None) and (
                    a is None or math.isclose(a, b, rel_tol=0, abs_tol=1e-9)
                ), (k, got[k], want[k])
            else:
                assert a == b, (k, got[k], want[k])
    return got


def test_quality_panel_duckdb_oracle_matches_on_multilingual_corpus(spark):
    # input-independent equivalence: run the ACTUAL generated oracle SQL
    # (script-tier CASE + script fraction columns included) in DuckDB over
    # a multilingual corpus and compare with the Spark quality_panel —
    # the generated pair must agree on ANY input, not just the synthetic
    # ASCII documents table.
    from manga_ocr_spark.fixtures.pages import _CJK_SENT

    texts = [
        _CJK_SENT,
        "これはテストです",
        "汉字文本没有假名只有中文内容",
        "한국어 텍스트 감사합니다",
        "русский текст для проверки",
        "ελληνικό κείμενο εδώ",
        "النص العربي هنا للاختبار",
        "טקסט בעברית לבדיקה",
        "यह हिन्दी में लिखा गया पाठ है",
        "ข้อความภาษาไทยสำหรับทดสอบ",
        "the cat and the dog of mine",
        "mixed english with 日本語 inside それ and more",
        "",
        " \t\n ",
        "à la carte déjà vu française",  # accented latin
    ]
    _assert_panel_matches_oracle(spark, list(enumerate(texts)))


# -- hot-bucket guard (r5) ----------------------------------------------------


def test_guarded_candidates_stay_linear_on_1k_identical_docs(spark):
    # the r4 scale hazard: m byte-identical shells share EVERY band key,
    # so the unguarded self-join expands O(m^2) pairs on one reducer key.
    # The guarded tier collapses them to ONE signature: bucket rows stay
    # at bands-per-content and the clone block contributes zero rep pairs.
    rows = [
        Row(doc_id=i, text="parked domain placeholder page, nothing here")
        for i in range(1000)
    ]
    rows += [
        Row(doc_id=2000, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2001, text="The  quick brown fox jumps over the lazy dog "),
    ]
    df = spark.createDataFrame(rows)
    pairs, rep_map, _ = D.lsh_guarded_with_drops(df)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == set()  # both groups collapse to single reps; no shared band
    reps = df.join(
        rep_map.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    assert reps.count() == 2
    # 1000 clones -> ONE rep -> exactly `bands` bucket assignments
    sig = reps.select("doc_id", D.minhash_signature(F.col("text")).alias("sig"))
    buckets = D._minhash_band_explode(sig, "doc_id", 16, 4)
    assert buckets.filter(F.col("doc_id") < 1000).count() == 4
    # and the member-level pair set is reconstructed by expansion, linear
    # join work: 1000-choose-2 within-group pairs + zero cross pairs
    expanded = D.expand_rep_pairs(pairs, rep_map)
    assert expanded.count() == (1000 * 999) // 2 + 1  # + the (2000, 2001) pair


def test_expand_rep_pairs_equals_unguarded_candidates(spark, minhash_pairs_py):
    # collapse -> rep pairs -> expand must reproduce the pair set of
    # banding EVERY doc (the pure-Python reference) exactly when nothing
    # is capped (identical docs share all bands with their rep) — the
    # equivalence the driver oracle relies on
    base = [
        "the quick brown fox jumps over the lazy dog",
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy cat",
    ]
    rows = [
        Row(doc_id=100 * i + c, text=t)
        for i, t in enumerate(base)
        for c in range(4)
    ]
    df = spark.createDataFrame(rows)
    want = minhash_pairs_py({r.doc_id: r.text for r in rows})
    pairs, rep_map, _ = D.lsh_guarded_with_drops(df, max_bucket_size=len(rows))
    expanded = {(r.id_a, r.id_b) for r in D.expand_rep_pairs(pairs, rep_map).collect()}
    assert expanded == want and len(expanded) > 0


def _distinct_shells() -> list[Row]:
    """20 DISTINCT texts (no exact collapse) with one MinHash signature and
    one SimHash: 'spark ' * k has the same six 5-gram rotations and the
    single token 'spark' for every k >= 2 — near-identical-but-distinct
    shells, the population the bucket cap exists for."""
    return [Row(doc_id=i, text="spark " * (i + 2)) for i in range(20)]


def test_bucket_cap_drops_hot_buckets_and_reports(spark):
    # a hot bucket that survives exact collapse is dropped by the size cap
    # BEFORE pair expansion, and the drop side channel reports it for the
    # metrics sink — capped recall loss is observable, never silent
    rows = _distinct_shells() + [
        Row(doc_id=100, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=101, text="The  quick brown fox jumps over the lazy dog "),
    ]
    df = spark.createDataFrame(rows)
    pairs, rep_map, dropped = D.lsh_guarded_with_drops(df, max_bucket_size=10)
    over = dropped.collect()
    assert len(over) == 4 and all(r.n == 20 for r in over)
    got = {(r.id_a, r.id_b) for r in D.expand_rep_pairs(pairs, rep_map).collect()}
    assert got == {(100, 101)}


def test_simhash_cap_drops_hot_buckets(spark):
    rows = _distinct_shells() + [
        Row(doc_id=100, text="the quick brown fox"),
        Row(doc_id=101, text="the quick brown Fox"),  # same lowercased tokens
    ]
    df = spark.createDataFrame(rows)
    pairs, rep_map, _ = D.simhash_guarded_with_drops(df, max_bucket_size=10)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.expand_rep_pairs(pairs, rep_map, carry={"hamming": F.lit(0)}).collect()
    }
    assert got == {(100, 101, 0)}


# -- lang-id widening + BMP contract (r5) -------------------------------------


def test_lang_id_widened_latin_marker_languages(spark):
    # r5 widening: pl/tr/id/cs/ro appended AFTER the original eight, so
    # all-zero/tie behavior of existing languages is unchanged; the
    # oracle CASE is generated from the same table.
    texts = {
        0: "to nie jest problem oraz nic więcej",        # pl
        1: "bu bir deneme ve bir test",                  # tr
        2: "yang penting dan berguna untuk semua",       # id
        3: "jsem tady aby nebo ne",                      # cs
        4: "pentru ca sunt multe dintre ele",            # ro
        5: "the cat and the dog of mine",                # en unchanged
        6: "xyzzy plugh",                                # und unchanged
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()], "doc_id int, text string"
    )
    out = {r.doc_id: r.lang_pred for r in T.lang_id_frame(df).collect()}
    assert out == {0: "pl", 1: "tr", 2: "id", 3: "cs", 4: "ro", 5: "en", 6: "und"}
    # the panel's lang column (all scripts counted) agrees
    panel = {r.doc_id: r.lang_pred for r in T.quality_panel(df).collect()}
    assert panel == out


def test_astral_scripts_fall_through_to_marker_tier(spark):
    # the BMP-only contract of SCRIPT_RANGES: astral-plane scripts (CJK
    # Ext B, U+20000+) match NO script class — a class literal with an
    # astral char would be split into UTF-16 surrogate halves by Java's
    # regex engine, diverging from RE2's code-point semantics — so such
    # pages must NOT misclassify: they fall to the marker tier ('und'
    # without Latin markers, the marker argmax with them).
    ext_b = "\U00020000\U00020001\U00020002" * 40
    texts = {
        0: ext_b,                                   # pure Ext B -> und
        1: ext_b + " the cat and the dog of it",    # marker tier still works
        # a lone surrogate cannot appear in a Python str written this way;
        # mixed BMP han + Ext B: the BMP chars alone decide
        2: "汉字文本没有假名只有中文内容这里全是汉字" + ext_b[:8],
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()], "doc_id int, text string"
    )
    out = {r.doc_id: r.lang_pred for r in T.lang_id_frame(df).collect()}
    assert out[0] == "und"
    assert out[1] == "en"
    # BMP han fraction over the probe: 20 han chars vs 20 + 16 UTF-16
    # units of Ext B -> still >= 25% -> zh (the BMP tier keeps working
    # in the presence of astral padding)
    assert out[2] == "zh"


def test_layered_marker_counts_match_marker_count(spark):
    # r7: the layered forms count marker words from ONE \w+ scan
    # (_marker_word_col) instead of 13 \b(..|..)\b alternation scans.
    # Equivalence claim: \b is defined by the same ASCII \w class, so a
    # marker word matches with boundaries iff it is a MAXIMAL \w+ run.
    # Pin it on hostile inputs: punctuation-adjacent words, underscores
    # (word chars — must NOT split), digits, non-ASCII letters adjacent
    # to markers (non-word in Java's default \w — MUST split), repeats,
    # markers embedded inside longer words (must not count), NULL/empty.
    texts = [
        "the-and.of,the;and",          # punctuation boundaries: the=2 and=2 of=1
        "_the_ and_ the_x x_the",      # underscores join runs: only 'and_'..no; and_ is run 'and_' -> 0
        "über the façade und el",      # non-ASCII neighbors split runs
        "theory of android bandofthe", # embedded markers must not count
        "THE And oF",                  # lower() applies on both paths
        "le la et le le",              # repeats
        "",                            # empty
        None,                          # NULL
        "der123 der 123der der",       # digit-joined runs don't count
    ]
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id int, text string",
    )
    text = F.col("text")
    old = df.select(
        "doc_id",
        *[
            T.marker_count(text, ws).alias(f"old_{lang}")
            for lang, ws in T.LANG_MARKERS.items()
        ],
    )
    new = df.select(
        "doc_id", T._marker_word_col(text).alias("__mwords")
    ).select("doc_id", *T._marker_count_cols(F.col("__mwords")))
    got_old = {r.doc_id: tuple(r[1:]) for r in old.collect()}
    got_new = {r.doc_id: tuple(r[1:]) for r in new.collect()}
    assert got_old == got_new
    # sanity: the hostile rows actually exercise non-zero counts
    assert any(any(v) for v in got_old.values())


# -- construction memo ---------------------------------------------------------


def test_memo_rebuilds_when_the_context_changes_but_its_id_does_not(monkeypatch):
    # spark.stop() + a new session can give the new SparkContext the freed
    # one's address; an id()-keyed entry would then hand back a pandas-UDF
    # wrapper bound to the dead context's accumulator server
    from pyspark import SparkContext

    from manga_ocr_spark.operators import memo as M

    class StubContext:
        applicationId = "local-1"
        startTime = 1000

    stub = StubContext()
    monkeypatch.setattr(SparkContext, "_active_spark_context", stub)
    monkeypatch.setattr(M, "_CACHE", {})
    builds: list[object] = []

    def build() -> object:
        builds.append(object())
        return builds[-1]

    first = M.memo(("probe", 1), build)
    assert M.memo(("probe", 1), build) is first and len(builds) == 1
    ident = id(stub)
    stub.applicationId, stub.startTime = "local-2", 2000
    assert id(stub) == ident
    assert M.memo(("probe", 1), build) is not first and len(builds) == 2


def test_memo_keys_hold_only_builder_parameters(spark, minhash_pairs_py, simhash_pairs_py):
    # the memoization boundary: cached builders are keyed on parameters
    # only, so two different frames through the same cached builders each
    # get their OWN results, never the first frame's
    from manga_ocr_spark.operators import memo as M

    corpora = [
        ["the cat and the dog", "der Hund und die Katze", "the  cat and the DOG", "これはテストです"],
        ["het is een mooie dag niet waar", "русский текст для проверки", "", "het is een mooie dag"],
    ]
    seen = []
    for texts in corpora:
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id int, text string")
        panel = _assert_panel_matches_oracle(spark, rows)
        langs = {r.doc_id: r.lang_pred for r in T.lang_id_frame(df).collect()}
        assert langs == {k: v[5] for k, v in panel.items()}  # lang_pred column
        mh = D.expand_rep_pairs(*D.lsh_guarded_with_drops(df, max_bucket_size=len(rows))[:2])
        assert {(r.id_a, r.id_b) for r in mh.collect()} == minhash_pairs_py(dict(rows))
        sh = D.expand_rep_pairs(
            *D.simhash_guarded_with_drops(df, max_bucket_size=len(rows))[:2],
            carry={"hamming": F.lit(0)},
        )
        assert {tuple(r) for r in sh.collect()} == simhash_pairs_py(dict(rows))
        seen.append((panel, langs))
    assert seen[0] != seen[1]

    def plain(v) -> bool:
        if isinstance(v, tuple):
            return all(plain(x) for x in v)
        return v is None or isinstance(v, (str, int, bool))

    assert all(plain(k) for k in M._CACHE), [k for k in M._CACHE if not plain(k)]
    names = {k[1] for k in M._CACHE}
    assert {"quality_panel", "lang_id_frame", "minhash", "mh_bands", "simhash"} <= names
    assert {"sh_bands", "pairs_expr"} <= names
