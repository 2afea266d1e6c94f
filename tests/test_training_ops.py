"""Table tests for the training-data text-analysis operators (``textstats``).

Mirrors the reference's table-test style (``DateFieldParserTests``): small
fixed inputs, exact expected outputs.
"""

from __future__ import annotations

import hashlib

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------


def test_token_stats_values(spark):
    from poc_document_ocr_spark.operators.textstats import token_stats

    df = _docs(spark, [(1, "the cat sat")])
    r = token_stats(df).collect()[0]
    assert (r.n_chars, r.n_tokens, r.n_alpha_chars) == (11, 3, 9)
    assert r.avg_token_len == pytest.approx(3.0)
    assert r.stopword_ratio == pytest.approx(1 / 3)


def test_lang_id_markers_and_tiebreak(spark):
    from poc_document_ocr_spark.operators.textstats import lang_id

    df = _docs(
        spark,
        [
            (1, "the dog and the cat"),  # en
            (2, "el perro y la casa que"),  # es
            (3, "nothing matching at all"),  # tie 0 -> first lang (en)
        ],
    )
    got = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "en"}


def test_fingerprint_normalizes_case_and_space(spark):
    from poc_document_ocr_spark.operators.textstats import fingerprint

    df = _docs(spark, [(1, "  Hello   World "), (2, "hello world")])
    rows = fingerprint(df).collect()
    fps = {r.doc_id: r.fingerprint for r in rows}
    assert fps[1] == fps[2] == hashlib.md5(b"hello world").hexdigest()


# ---------------------------------------------------------------------------
# fingerprints and quality
# ---------------------------------------------------------------------------


def test_quality_score_rules(spark):
    from poc_document_ocr_spark.operators.textstats import quality_score

    rows = [
        (1, "the quick brown fox jumps over a lazy dog today"),  # keep
        (2, "too short"),                                # < 5 tokens
        (3, "!!! ??? ;;; ,,, ... ### $$$ %%% ^^^ &&&"),  # punct-heavy
        (4, "11 22 33 44 55 66 77 88 99 00"),            # digit-heavy
        (5, "a b c d e f g h i j"),                      # avg token len 1
    ]
    got = {
        r.doc_id: r.keep for r in quality_score(_docs(spark, rows)).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_winnow_fingerprints_properties(spark):
    from poc_document_ocr_spark.operators.textstats import (
        winnow_fingerprints,
    )

    shared = "a common stretch of text both documents contain verbatim"
    rows = [
        (1, "prefix one here " + shared + " and a unique tail alpha"),
        (2, "other beginning " + shared + " different ending beta"),
        (3, "entirely unrelated content without the overlap at all"),
        (4, "tiny"),  # shorter than k + w - 1 → no fingerprints
    ]
    fps = {}
    for r in winnow_fingerprints(_docs(spark, rows), k=8, w=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    # winnowing guarantee: a shared substring of length >= k+w-1 yields at
    # least one common selected fingerprint
    assert fps[1] & fps[2]
    # storage is sublinear in gram count: far fewer than one fp per char
    assert len(fps[1]) < len(rows[0][1])
    assert 4 not in fps
    # identical docs → identical fingerprint sets
    twin = _docs(spark, [(7, rows[0][1]), (8, rows[0][1])])
    t = {}
    for r in winnow_fingerprints(twin, k=8, w=4).collect():
        t.setdefault(r.doc_id, set()).add(r.fp)
    assert t[7] == t[8]


# ---------------------------------------------------------------------------
# repetition / tf-idf (round 3)
# ---------------------------------------------------------------------------


def test_repetition_stats_exact_counts(spark):
    from poc_document_ocr_spark.operators.textstats import repetition_stats

    rows = [
        (1, "a a a b"),       # words: 4 total, 2 distinct, top 3
                              # bigrams: "a a","a a","a b" -> 3/2/2
        (2, "x y"),           # 2/2/1 words, 1/1/1 bigram
        (3, "solo"),          # single word: zero bigrams
    ]
    got = {r.doc_id: r for r in repetition_stats(_docs(spark, rows)).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.n_distinct_words, r1.top_word_count) == (4, 2, 3)
    assert (r1.n_bigrams, r1.n_distinct_bigrams, r1.top_bigram_count) == (
        3, 2, 2,
    )
    r3 = got[3]
    assert (r3.n_words, r3.n_distinct_words, r3.top_word_count) == (1, 1, 1)
    assert (r3.n_bigrams, r3.n_distinct_bigrams, r3.top_bigram_count) == (
        0, 0, 0,
    )


def test_tfidf_topterms_ranking(spark):
    from poc_document_ocr_spark.operators.textstats import tfidf_top_terms

    rows = [
        (1, "rare common common"),   # 'rare' df=1 beats 'common' df=3
        (2, "common common other"),
        (3, "common other other"),
    ]
    got = tfidf_top_terms(_docs(spark, rows), k=2).collect()
    top1 = {r.doc_id: r.term for r in got if r.rank == 1}
    assert top1[1] == "rare"         # tf=1/df=1 = 1e6 > tf=2/df=3
    r1 = {r.term: r for r in got if r.doc_id == 1}
    assert r1["rare"].score_key == 1_000_000
    assert r1["common"].score_key == 2_000_000 // 3
    # df counts documents, not occurrences
    assert r1["common"].df == 3


# ---------------------------------------------------------------------------
# chunking / redaction / composition (round 3)
# ---------------------------------------------------------------------------


def test_chunk_text_windows_and_tail(spark):
    from poc_document_ocr_spark.operators.textstats import chunk_text

    words = " ".join(f"w{i}" for i in range(10))
    df = _docs(spark, [(1, words), (2, "a b"), (3, "")])
    got = chunk_text(df, chunk=4, overlap=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    # doc 1: step=2, starts capped at n-overlap=8 -> starts 1,3,5,7
    assert sorted(by_doc[1]) == [0, 1, 2, 3]
    assert by_doc[1][0].chunk_text == "w0 w1 w2 w3"
    assert by_doc[1][1].chunk_text == "w2 w3 w4 w5"
    assert by_doc[1][3].chunk_text == "w6 w7 w8 w9"
    # consecutive chunks share exactly `overlap` words
    assert by_doc[1][0].chunk_text.split()[-2:] == by_doc[1][1].chunk_text.split()[:2]
    # short doc: one chunk, shorter than `chunk`
    assert by_doc[2][0].chunk_text == "a b"
    assert by_doc[2][0].n_chunk_words == 2
    # empty doc: no chunks at all
    assert 3 not in by_doc


def test_redact_pii_patterns_and_counts(spark):
    from poc_document_ocr_spark.operators.textstats import redact_pii

    df = _docs(spark, [
        (1, "mail me at a.b+c@example.org today"),
        (2, "see https://ex.org/x?u=a@b.co now"),
        (3, "call +1 (555) 010-4222 please"),
        (4, "clean text only"),
    ])
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].redacted == "mail me at <EMAIL> today"
    assert (got[1].n_url, got[1].n_email, got[1].n_phone) == (0, 1, 0)
    # URL consumes the embedded email in the REDACTION (applied first),
    # but the email still shows up in the count (taken on original text)
    assert got[2].redacted == "see <URL> now"
    assert (got[2].n_url, got[2].n_email) == (1, 1)
    assert got[3].redacted == "call <PHONE> please"
    assert got[3].n_phone == 1
    assert got[4].redacted == "clean text only"
    assert (got[4].n_url, got[4].n_email, got[4].n_phone) == (0, 0, 0)


def test_corpus_composition_rollup_levels(spark):
    from poc_document_ocr_spark.operators.textstats import (
        corpus_composition,
    )

    df = spark.createDataFrame(
        [("en", "short", 10), ("en", "short", 20), ("en", "long", 300),
         ("fr", "short", 5)],
        "lang string, band string, n_tokens long",
    )
    rows = corpus_composition(df).collect()
    got = {(r.lang, r.band, r.lvl): (r.n_docs, r.total_tokens) for r in rows}
    assert got[("en", "short", 0)] == (2, 30)
    assert got[("en", "long", 0)] == (1, 300)
    assert got[("fr", "short", 0)] == (1, 5)
    assert got[("en", None, 1)] == (3, 330)      # per-language subtotal
    assert got[("fr", None, 1)] == (1, 5)
    assert got[(None, None, 3)] == (4, 335)      # grand total
    assert len(rows) == 6


def test_bpe_token_count_vs_whitespace(spark):
    from poc_document_ocr_spark.operators.textstats import bpe_token_count

    df = _docs(spark, [
        (1, "hello world"),                  # 2 ws, 2 bpe
        (2, "it's x1,y2!"),                  # contraction + digits + punct
        (3, ""),                             # empty: null ratio
    ])
    got = {r.doc_id: r for r in bpe_token_count(df).collect()}
    assert (got[1].n_ws_tokens, got[1].n_bpe_tokens) == (2, 2)
    assert got[1].tokens_per_100_words == 100
    # "it's x1,y2!" -> it | 's | ' x' | '1' | ',' | 'y' | '2' | '!' = 8
    assert got[2].n_ws_tokens == 2
    assert got[2].n_bpe_tokens == 8
    assert got[2].tokens_per_100_words == 400
    assert got[3].n_bpe_tokens == 0 and got[3].tokens_per_100_words is None


def test_lm_quality_bands_orders_rare_tokens_to_tail(spark):
    from poc_document_ocr_spark.operators.textstats import lm_quality_bands

    # 'common' appears 12×; each doc_3 token is unique → doc 3 scores
    # highest mean inverse frequency and must land in the last tercile
    df = spark.createDataFrame(
        [
            (1, "en", "common common common common common common"),
            (2, "en", "common common common common common rareish"),
            (3, "en", "zeta yotta qux glorp"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in lm_quality_bands(df).collect()}
    assert rows[1]["band"] == "head"
    assert rows[3]["band"] == "tail"
    assert rows[1]["score_key"] < rows[2]["score_key"] < rows[3]["score_key"]
    # integer-exact score: doc 3's tokens are singletons → mean inverse
    # frequency is exactly 10⁹
    assert rows[3]["score_key"] == 1_000_000_000
    assert rows[3]["n_tokens"] == 4


def test_lm_quality_model_is_per_language(spark):
    from poc_document_ocr_spark.operators.textstats import lm_quality_bands

    # the same token is common in en but a singleton in fr — the fr doc
    # must be scored against the fr model only
    df = spark.createDataFrame(
        [
            (1, "en", "w w w w"),
            (2, "fr", "w"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in lm_quality_bands(df).collect()}
    assert rows[1]["score_key"] == 1_000_000_000 // 4
    assert rows[2]["score_key"] == 1_000_000_000


def test_blocklist_hits_counts_and_verdict(spark):
    from poc_document_ocr_spark.operators.textstats import blocklist_hits

    df = _docs(
        spark,
        [
            (1, "clean text only here"),
            (2, "spam spam JUNK fine"),   # 3/4 blocklisted, case-folded
            (3, "slow but mostly ok text words here more words pad pad"),
        ],
    )
    rows = {r["doc_id"]: r for r in blocklist_hits(df).collect()}
    assert rows[1]["hits"] == 0 and rows[1]["keep"]
    assert rows[2]["hits"] == 3 and rows[2]["distinct_hits"] == 2
    assert rows[2]["hit_ppm"] == 3 * 1_000_000 // 4
    assert not rows[2]["keep"]
    # 1 hit / 11 tokens ≈ 90909 ppm > 60000 → dropped
    assert rows[3]["hits"] == 1 and not rows[3]["keep"]
    # custom threshold flips the verdict
    loose = {
        r["doc_id"]: r
        for r in blocklist_hits(df, max_hit_ppm=100_000).collect()
    }
    assert loose[3]["keep"] and not loose[2]["keep"]


def test_zipf_stats_exact_profile(spark):
    from poc_document_ocr_spark.operators.textstats import zipf_stats

    df = spark.createDataFrame(
        # en: the×3 cat×2 sat×1 → 6 tokens, vocab 3, hapax 1
        # fr: le×1 chat×1 (tie on cnt → lexicographically smaller wins)
        [
            (1, "en", "the cat the cat the sat"),
            (2, "fr", "le chat"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["lang"]: r for r in zipf_stats(df).collect()}
    en = rows["en"]
    assert (en["n_tokens"], en["vocab"], en["hapax"]) == (6, 3, 1)
    assert (en["top_term"], en["top_cnt"]) == ("the", 3)
    assert en["top_share_ppm"] == 3 * 1_000_000 // 6
    fr = rows["fr"]
    assert (fr["top_term"], fr["top_cnt"]) == ("chat", 1)  # tie → min term


def test_bigram_familiarity_conditional_ppm(spark):
    from poc_document_ocr_spark.operators.textstats import (
        bigram_familiarity,
    )

    # model (lang en): "a b" ×2 (docs 1+2), "a c" ×1 → P(b|a)=2/3, P(c|a)=1/3
    df = spark.createDataFrame(
        [
            (1, "en", "a b"),
            (2, "en", "a b"),
            (3, "en", "a c"),
            (4, "en", "x"),  # < 2 tokens → excluded
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_familiarity(df).collect()}
    assert 4 not in rows
    assert rows[1]["n_bigrams"] == 1
    assert rows[1]["familiarity_ppm"] == 2 * 1_000_000 // 3
    assert rows[3]["familiarity_ppm"] == 1 * 1_000_000 // 3
    # shuffled word-salad scores below a fluent doc under the same model:
    # every transition in doc 5 is unique (P = 1/pcnt small) vs doc 6's
    # repeated high-probability transition
    df2 = spark.createDataFrame(
        [
            (5, "en", "p r p s p t"),
            (6, "en", "p q p q p q"),
        ],
        "doc_id long, lang string, text string",
    )
    r2 = {r["doc_id"]: r for r in bigram_familiarity(df2).collect()}
    assert r2[6]["familiarity_ppm"] > r2[5]["familiarity_ppm"]


def test_bigram_familiarity_top_w2_pruning(spark):
    from poc_document_ocr_spark.operators.textstats import (
        bigram_familiarity,
    )

    # prefix 'a' has successors b (x2) and c (x1); top_w2=1 keeps only
    # "a b", so pruned cond P(b|a) = 2/2 = 1 and "a c" rows drop out
    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "en", "a b"), (3, "en", "a c")],
        "doc_id long, lang string, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_familiarity(df, top_w2=1).collect()
    }
    assert rows[1]["familiarity_ppm"] == 1_000_000
    assert 3 not in rows  # its only transition was pruned away


def test_heaps_law_cumulatives_and_totals(spark):
    from poc_document_ocr_spark.operators.textstats import heaps_law

    rows = [
        (0, "aa bb"),
        (3, "aa cc"),
        (7, "dd dd aa"),
        (9, "ee"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(heaps_law(df).collect(), key=lambda r: r["bucket"])
    # maxid=9 (small) -> multiply-first path: (id*10) DIV 10 = id
    assert [r["bucket"] for r in out] == [0, 3, 7, 9]
    assert [r["n_tokens"] for r in out] == [2, 2, 3, 1]
    assert [r["n_new_terms"] for r in out] == [2, 1, 1, 1]
    assert out[-1]["cum_tokens"] == 8
    assert out[-1]["cum_terms"] == 5  # aa bb cc dd ee
    cums = [r["cum_terms"] for r in out]
    assert cums == sorted(cums)


def test_heaps_law_no_overflow_on_large_ids(spark):
    """Bucketing must divide first: multiply-first overflows BIGINT under
    ANSI mode once ids approach 2^63/buckets."""
    from poc_document_ocr_spark.operators.textstats import heaps_law

    big = 2**62
    rows = [(big - 3, "aa bb"), (big + 100, "aa cc"), (17, "dd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = heaps_law(df).collect()
    assert sum(r["n_new_terms"] for r in out) == 4
    assert max(r["cum_tokens"] for r in out) == 5


# ---------------------------------------------------------------------------
# source boilerplate share, quality-count translate semantics
# ---------------------------------------------------------------------------


def test_source_boilerplate_share(spark):
    from pyspark.sql import functions as F

    from poc_document_ocr_spark.operators.textstats import (
        source_boilerplate_share,
    )

    # fp "x" appears in docs 1 (src a) and 2 (src b) → duplicated;
    # "y" only in doc 1, "z" only in doc 2 → novel
    fps = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "z")], "doc_id long, fp string"
    )
    srcs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string"
    )
    rows = {r["source"]: r
            for r in source_boilerplate_share(fps, srcs).collect()}
    for s in ("a", "b"):
        assert rows[s]["n_fp"] == 2 and rows[s]["n_dup_fp"] == 1
        assert rows[s]["n_boiler_fp"] == 1
        assert rows[s]["dup_share_ppm"] == 500_000


def test_quality_counts_use_translate_not_class_regex(spark):
    """Two different char-class regexp_replace patterns in one task run
    ~25x slower than either alone (measured 2s -> 47s at 1.88M rows —
    see BENCH.md session-11); the class counts must stay translate()-
    based. Guards quality_keep/quality_score/token_stats."""
    from poc_document_ocr_spark.operators.textstats import (
        quality_score,
        token_stats,
    )
    import re

    df = spark.createDataFrame(
        [(1, "Hello world 42!")], "doc_id long, text string"
    )
    for out in (quality_score(df), token_stats(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "translate(" in plan
        # no char-class regexp_replace patterns anywhere in the plan
        assert not re.search(r"regexp_replace\([^)]*\[", plan), plan


def test_quality_translate_counts_match_regex_semantics(spark):
    from poc_document_ocr_spark.operators.textstats import quality_score

    text = "Ab1 ,.; 99x ÉÜ\t—"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    (r,) = quality_score(df).collect()
    import re as _re

    n_chars = len(text)
    n_punct = len(_re.sub(r"[A-Za-z0-9 ]", "", text))
    n_digit = len(_re.sub(r"[^0-9]", "", text))
    n_upper = len(_re.sub(r"[^A-Z]", "", text))
    assert r["n_punct"] == n_punct
    assert r["digit_ratio"] == n_digit / n_chars
    assert r["upper_ratio"] == n_upper / n_chars
