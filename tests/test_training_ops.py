"""Table tests for the training-data text-analysis operators (``textstats``).

Mirrors the reference's table-test style (``DateFieldParserTests``): small
fixed inputs, exact expected outputs.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


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


def test_normalize_text_controls_whitespace_trim(spark):
    from poc_document_ocr_spark.operators.textstats import normalize_text

    rows = [
        (1, "  a\t\tb\n\nc  "),          # runs + trim
        (2, "x\x00y\x07z\x7f"),           # control chars stripped
        (3, "k\x0bm"),                     # vertical tab is a WS run char
        (4, "clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert out[1]["text_clean"] == "a b c"
    assert out[1]["n_removed"] == out[1]["n_chars_raw"] - 5
    assert out[2]["text_clean"] == "xyz"
    assert out[2]["n_removed"] == 3
    assert out[3]["text_clean"] == "k m"
    assert out[4]["n_removed"] == 0


# ---------------------------------------------------------------------------
# more text statistics: refusal, screens, collocations, calibration
# ---------------------------------------------------------------------------


def test_refusal_stats_patterns_and_ppm(spark):
    from poc_document_ocr_spark.operators.textstats import refusal_stats

    df = spark.createDataFrame(
        [
            ("g1", "I CANNOT HELP with that request"),
            ("g1", "Sure, here is the answer"),
            ("g1", "i can't assist with this"),
            ("g1", None),
            ("g2", "all good"),
        ],
        "conv_id string, text string",
    )
    out = {r["grp"]: r for r in refusal_stats(df).collect()}
    assert out["g1"]["n_rows"] == 4 and out["g1"]["n_refusals"] == 2
    assert out["g1"]["refusal_ppm"] == 500_000
    assert out["g2"]["n_refusals"] == 0 and out["g2"]["refusal_ppm"] == 0


def test_rule_overlap_pairs_and_dead_rules(spark):
    """Pairwise intersection counts and Jaccard; rules firing on zero
    docs are absent; non-overlapping pairs report n_both=0."""
    from poc_document_ocr_spark.operators.textstats import rule_overlap

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "doc_id long, v long"
    )
    rules = {
        "a": F.col("v") <= 30,            # {1,2,3}
        "b": F.col("v").isin(20, 30),     # {2,3}
        "c": F.col("v") > 35,             # {4}
        "dead": F.col("v") < 0,           # never fires
    }
    out = {
        (r["rule_a"], r["rule_b"]): r for r in rule_overlap(df, rules).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab, ac = out[("a", "b")], out[("a", "c")]
    assert (ab["n_a"], ab["n_b"], ab["n_both"]) == (3, 2, 2)
    assert ab["jaccard_ppm"] == 666_666
    assert (ac["n_both"], ac["jaccard_ppm"]) == (0, 0)


def test_compression_ratio_entropy_tails(spark):
    """Repetitive junk compresses to a tiny ratio (dropped), word-soup
    prose lands in the keep band, empty text reports 10**6 and is kept,
    and n_bytes counts UTF-8 bytes, not characters."""
    from poc_document_ocr_spark.operators.textstats import compression_ratio

    import random

    rng = random.Random(7)
    prose = " ".join(
        rng.choice(["alpha", "bravo", "charlie", "delta", "echo", "fox"])
        + str(rng.randint(0, 999))
        for _ in range(200)
    )
    df = spark.createDataFrame(
        [
            (1, "ab" * 2000),      # machine junk
            (2, prose),            # mixed-entropy prose
            (3, ""),               # empty
            (4, "é" * 10),    # 2-byte UTF-8 chars
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert out[1]["ratio_ppm"] < 250_000 and not out[1]["keep"]
    assert 250_000 <= out[2]["ratio_ppm"] <= 900_000 and out[2]["keep"]
    assert out[3]["ratio_ppm"] == 1_000_000 and out[3]["keep"]
    assert out[4]["n_bytes"] == 20
    import zlib

    assert out[2]["n_compressed"] == len(zlib.compress(prose.encode(), 6))


def test_containment_asymmetric_quote(spark):
    """A document quoted verbatim inside a longer one scores near 10**6
    on ITS side of the pair and far lower on the container's side."""
    from poc_document_ocr_spark.operators.textstats import (
        winnow_containment_pairs,
        winnow_fingerprints,
    )

    a = " ".join(f"quoted{i}" for i in range(30))
    b = " ".join(f"filler{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, a), (2, b + " " + a + " " + b)],
        "doc_id long, text string",
    )
    wf = winnow_fingerprints(df, k=8, w=4)
    rows = winnow_containment_pairs(
        wf, min_df=2, max_df=10, min_shared=5
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["contain_a_ppm"] > 900_000          # the quote side
    assert r["contain_b_ppm"] < r["contain_a_ppm"] // 3
    assert r["n_fp_a"] < r["n_fp_b"]


def test_screen_agreement_kappa_exact_and_negative(spark):
    """Kappa replays the exact ppm arithmetic, and the explicit sign
    factoring keeps negative kappa identical under Spark's
    truncate-toward-zero div and DuckDB's floor //."""
    from poc_document_ocr_spark.operators.textstats import screen_agreement

    rows = (
        [(True, True)] * 3 + [(True, False)] + [(False, True)]
        + [(False, False)] * 5
    )
    df = spark.createDataFrame(rows, "keep_a boolean, keep_b boolean")
    r = screen_agreement(df).collect()[0]
    assert (r.n_docs, r.n11, r.n10, r.n01, r.n00) == (10, 3, 1, 1, 5)
    assert r.po_ppm == 800_000
    assert r.pe_ppm == (4 * 4 + 6 * 6) * 1_000_000 // 100
    assert r.kappa_ppm == (800_000 - 520_000) * 1_000_000 // 480_000

    # perfect disagreement: kappa = -1 exactly
    anti = spark.createDataFrame(
        [(True, False)] * 5 + [(False, True)] * 5,
        "keep_a boolean, keep_b boolean",
    )
    r2 = screen_agreement(anti).collect()[0]
    assert r2.po_ppm == 0 and r2.pe_ppm == 500_000
    assert r2.kappa_ppm == -1_000_000

    # degenerate all-one-cell table: pe = 1 -> NULL kappa
    degen = spark.createDataFrame(
        [(True, True)] * 4, "keep_a boolean, keep_b boolean"
    )
    assert screen_agreement(degen).collect()[0].kappa_ppm is None


def test_pmi_collocations_exact_replay(spark):
    """PMI half-bits replay bit-for-bit against a Python
    reimplementation; a planted collocation scores high and a
    chance-glued stopword pair scores at/below zero."""
    from poc_document_ocr_spark.operators.textstats import pmi_collocations

    # 'new york' always together (strong collocation); pure-'the' filler
    # docs push the (the, the) pair to chance level
    docs = [(i, "new york the a%d the b%d" % (i % 3, i % 2))
            for i in range(12)]
    docs += [(100 + i, "the the the the the the") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r.w1, r.w2): r for r in pmi_collocations(df, min_count=5)
           .collect()}

    toks = [t for _, s in docs for t in s.split(" ") if t]
    n_tok = len(toks)
    n_pairs_tot = sum(max(len(s.split(" ")) - 1, 0) for _, s in docs)
    from collections import Counter
    uni = Counter(toks)
    bg = Counter()
    for _, s in docs:
        ws = [t for t in s.split(" ") if t]
        for a, b in zip(ws, ws[1:]):
            bg[(a, b)] += 1

    def pmi_hb(c_xy, c_x, c_y):
        r = min((c_xy * n_tok // c_x) * n_tok * 1024
                // (c_y * n_pairs_tot), 1 << 30)
        return (r * r // 1024).bit_length() - 1 - 10

    exp = {p: c for p, c in bg.items() if c >= 5}
    assert set(out) == set(exp)
    for (a, b), c in exp.items():
        r = out[(a, b)]
        assert (r.n_pair, r.n_w1, r.n_w2) == (c, uni[a], uni[b])
        assert r.pmi_hb == pmi_hb(c, uni[a], uni[b]), (a, b)
    # planted collocation clearly positive, stopword glue not
    # r = 12*108^2/(90*12*12) = 10.8 -> 2*log2 = 6.86 -> staged floor 6
    assert out[("new", "york")].pmi_hb == 6
    # chance-level repetition pair sits at ~0; ordering is monotone in
    # true PMI: planted collocation > glue pair > chance pair
    assert out[("the", "the")].pmi_hb <= 1
    assert (
        out[("new", "york")].pmi_hb
        > out[("york", "the")].pmi_hb
        > out[("the", "the")].pmi_hb
    )


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


def test_number_support_flags_introduced_numbers(spark):
    from poc_document_ocr_spark.operators.textstats import number_support

    rows = [
        ("c1", 1, "user", "order 42 costs 100"),
        # 42 quoted from turn 1 → supported; 7 introduced → unsupported
        ("c1", 2, "assistant", "item 42 ships in 7 days"),
        # 100 from turn 1 → supported even across the gap
        ("c1", 3, "assistant", "total is 100"),
        # numberless conversation → absent from output
        ("c2", 1, "assistant", "no digits here"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {r["conv_id"]: r for r in number_support(df).collect()}
    assert list(out) == ["c1"]
    assert out["c1"]["n_nums"] == 3
    assert out["c1"]["n_unsupported"] == 1
    assert out["c1"]["unsupported_ppm"] == 1_000_000 // 3


def test_encoding_screen_counts_each_family(spark):
    from poc_document_ocr_spark.operators.textstats import encoding_screen

    moji = "cafÃ© and âquote"
    rows = [
        (1, "clean text here"),
        (2, "bad �� char"),
        (3, "ctrl\x01here\x02 and tab\tok\nline"),
        (4, moji),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in encoding_screen(df).collect()}
    assert out[1]["clean"] and out[1]["n_replacement"] == 0
    assert out[2]["n_replacement"] == 2 and not out[2]["clean"]
    # tab/newline are NOT control-char hits; \x01 and \x02 are
    assert out[3]["n_ctrl"] == 2 and out[3]["n_replacement"] == 0
    # one U+00C3 lead + one bare U+00E2 marker
    assert out[4]["n_mojibake"] == 2 and not out[4]["clean"]


def test_screen_confusion_exact_metrics_and_null_denominators(spark):
    from poc_document_ocr_spark.operators.textstats import screen_confusion

    rows = [(True, True)] * 3 + [(True, False)] * 1 + \
           [(False, True)] * 2 + [(False, False)] * 4
    df = spark.createDataFrame(rows, "pred boolean, label boolean")
    (r,) = screen_confusion(df).collect()
    assert (r["n_tp"], r["n_fp"], r["n_fn"], r["n_tn"]) == (3, 1, 2, 4)
    assert r["precision_ppm"] == 750_000
    assert r["recall_ppm"] == 600_000
    # f1 from the ppm p/r themselves: 2*750000*600000 div 1350000
    assert r["f1_ppm"] == (2 * 750_000 * 600_000) // 1_350_000
    # all-negative predictions → precision undefined, not a crash
    neg = spark.createDataFrame(
        [(False, True), (False, False)], "pred boolean, label boolean"
    )
    (n,) = screen_confusion(neg).collect()
    assert n["precision_ppm"] is None and n["f1_ppm"] is None
    assert n["recall_ppm"] == 0


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


def test_fleiss_kappa_hand_computed(spark):
    from poc_document_ocr_spark.operators.textstats import fleiss_kappa

    # votes k per item: 3,0,2,1 -> S = 6+6+2+2 = 16, K = 6, N = 4, n = 3
    rows = [
        (True, True, True),
        (False, False, False),
        (True, True, False),
        (True, False, False),
    ]
    df = spark.createDataFrame(
        rows, "keep_a boolean, keep_b boolean, keep_c boolean"
    )
    (r,) = fleiss_kappa(df, ("keep_a", "keep_b", "keep_c")).collect()
    assert r["n_items"] == 4 and r["n_raters"] == 3
    assert r["n_keep_votes"] == 6
    assert r["pbar_ppm"] == 16 * 1_000_000 // 24
    assert r["pe_ppm"] == 500_000  # pk = pd = 500000
    assert r["kappa_ppm"] == (666_666 - 500_000) * 1_000_000 // 500_000


def test_fleiss_kappa_negative_and_degenerate(spark):
    from poc_document_ocr_spark.operators.textstats import fleiss_kappa

    # every item split 1/2 or 2/1 with pooled shares 50/50: worse than
    # chance -> negative kappa, floored like DuckDB's //
    rows = [
        (True, False, False),
        (True, True, False),
        (False, True, False),
        (False, True, True),
    ]
    df = spark.createDataFrame(
        rows, "keep_a boolean, keep_b boolean, keep_c boolean"
    )
    (r,) = fleiss_kappa(df, ("keep_a", "keep_b", "keep_c")).collect()
    assert r["pbar_ppm"] == 8 * 1_000_000 // 24
    assert r["pe_ppm"] == 500_000
    assert r["kappa_ppm"] == -((500_000 - 333_333) * 1_000_000 // 500_000)
    # unanimous keep everywhere -> pe = 1e6 -> NULL, not a crash
    uni = spark.createDataFrame(
        [(True, True, True)] * 3,
        "keep_a boolean, keep_b boolean, keep_c boolean",
    )
    (u,) = fleiss_kappa(uni, ("keep_a", "keep_b", "keep_c")).collect()
    assert u["pe_ppm"] == 1_000_000 and u["kappa_ppm"] is None


def test_script_mix_flags_blended_words_only(spark):
    """Blending scripts WITHIN a word flags; alternating scripts BETWEEN
    words (legit code-switching) stays clean."""
    from poc_document_ocr_spark.operators.textstats import script_mix

    df = spark.createDataFrame(
        [
            (1, "plain english words"),
            (2, "чисто русский текст"),
            (3, "mixed пример between words"),   # switching, not blending
            (4, "pаypаl login"),                  # Cyrillic 'а' inside Latin
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_mix(df).collect()}
    assert out[1]["clean"] and out[1]["n_cyrillic_chars"] == 0
    assert out[2]["clean"] and out[2]["n_latin_chars"] == 0
    assert out[3]["clean"] and out[3]["n_mixed_words"] == 0
    assert not out[4]["clean"]
    assert out[4]["n_mixed_words"] == 1
    assert out[4]["mixed_ppm"] == 1_000_000 // 2


def test_vocab_coverage_exact_counts(spark):
    """Coverage at each V equals the brute-force top-V token share,
    including a V that lands inside a tie class and a V past the
    vocabulary end."""
    from collections import Counter

    from poc_document_ocr_spark.operators.textstats import vocab_coverage

    texts = [
        "a a a a b b b c c d",   # a:4 b:3 c:2 d:1
        "b c d e e",             # b:4 c:3 d:2 e:2
        "f",                     # singletons tail
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    counts = Counter(" ".join(texts).split())
    total = sum(counts.values())
    ordered = sorted(counts.values(), reverse=True)
    out = {
        r["vocab_size"]: r
        for r in vocab_coverage(df, vocab_sizes=(2, 4, 99)).collect()
    }
    for v in (2, 4, 99):
        covered = sum(ordered[:v])
        r = out[v]
        assert r["covered_tokens"] == covered, (v, dict(r.asDict()))
        assert r["total_tokens"] == total
        assert r["coverage_ppm"] == covered * 10**6 // total
        assert r["oov_ppm"] == 10**6 - covered * 10**6 // total
        assert r["vocab_total"] == len(counts)
    # exactly one row per requested size — the class-boundary and
    # past-the-end branches must not double-match
    assert sorted(out) == [2, 4, 99]


def test_pii_spread_repeat_and_span(spark):
    """A value recurring across turns counts as repeated with the right
    turn spread; single-turn values don't."""
    from poc_document_ocr_spark.operators.textstats import pii_spread

    rows = [
        ("c0", 1, "call phoneNumber: 555-0142 now"),
        ("c0", 4, "again phoneNumber: 555-0142 later"),
        ("c0", 6, "other phoneNumber: 555-0107 once"),
        # twice in ONE turn: 2 hits but not "repeated" (1 turn)
        ("c1", 2, "phoneNumber: 555-0199 and phoneNumber: 555-0199"),
        ("c2", 3, "no pii in this turn"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )
    out = {r["conv_id"]: r for r in pii_spread(t).collect()}
    assert sorted(out) == ["c0", "c1"]  # c2 has no hits
    assert out["c0"]["n_values"] == 2
    assert out["c0"]["n_hits"] == 3
    assert out["c0"]["n_repeated"] == 1     # only 555-0142 recurs
    assert out["c0"]["max_spread"] == 3     # turns 1 -> 4
    assert out["c1"]["n_values"] == 1
    assert out["c1"]["n_hits"] == 2       # within-turn repeat counted
    assert out["c1"]["n_repeated"] == 0   # ...but it's still one turn
    assert out["c1"]["max_spread"] == 0


def test_calibrate_scores_mapping(spark):
    """Hand-computed ECDF ppm mapping: percent_rank convention
    (strictly-below count over n-1), ties share one bucket, n=1 group
    maps to 0."""
    from poc_document_ocr_spark.operators.textstats import (
        calibrate_scores,
    )

    rows = (
        [("a", 10), ("a", 20), ("a", 20), ("a", 30), ("a", 40)]
        + [("b", 7)]
    )
    df = spark.createDataFrame(rows, "src string, score int")
    out = {
        (r["src"], r["score"]): (r["cnt"], r["n"], r["cal_ppm"])
        for r in calibrate_scores(df, "src", "score").collect()
    }
    # group a: n=5, below-counts 0/1/3/4 over n-1=4
    assert out[("a", 10)] == (1, 5, 0)
    assert out[("a", 20)] == (2, 5, 250000)
    assert out[("a", 30)] == (1, 5, 750000)
    assert out[("a", 40)] == (1, 5, 1000000)
    # singleton group: percentile undefined, pinned to 0
    assert out[("b", 7)] == (1, 1, 0)


def test_calibration_report_equalizes_keep(spark):
    """The report's point: a global raw cutoff keeps uneven shares;
    the calibrated cutoff keeps the same share in every group. A
    constant-score group cannot be rank-thresholded: NULL cutoff,
    0 keep."""
    from poc_document_ocr_spark.operators.textstats import (
        calibrate_scores,
        calibration_report,
    )

    rows = (
        [("lo", v) for v in range(10)]          # scores 0..9
        + [("hi", 100 + v) for v in range(10)]  # scores 100..109
        + [("flat", 50)] * 4                    # all identical
    )
    df = spark.createDataFrame(rows, "src string, score int")
    m = calibrate_scores(df, "src", "score")
    rep = {
        r["src"]: r
        for r in calibration_report(
            m, raw_cutoff=100, target_ppm=800_000, group_col="src"
        ).collect()
    }
    # raw cutoff 100 keeps nothing of lo, all of hi
    assert rep["lo"]["raw_keep_ppm"] == 0
    assert rep["hi"]["raw_keep_ppm"] == 1000000
    # calibrated cutoff = the score at >=80th pct in EACH group
    # (below-count/(n-1) >= 0.8 -> index 8 of 0..9), keeping 2/10
    assert rep["lo"]["cal_cutoff"] == 8
    assert rep["hi"]["cal_cutoff"] == 108
    assert rep["lo"]["cal_keep_ppm"] == 200000
    assert rep["hi"]["cal_keep_ppm"] == 200000
    # degenerate group: every row at one score -> cal_ppm 0 everywhere
    assert rep["flat"]["cal_cutoff"] is None
    assert rep["flat"]["cal_keep_ppm"] == 0
    assert rep["flat"]["n_scores"] == 1


def test_ai_artifact_census_counts(spark):
    """Occurrences counted exactly (incl. repeats within one doc),
    case-insensitively; doc_ppm over the full corpus; phrase rows with
    zero hits absent."""
    from poc_document_ocr_spark.operators.textstats import (
        ai_artifact_census,
    )

    rows = [
        (1, "AS AN AI LANGUAGE MODEL I decline. as an ai language model"),
        (2, "Certainly! Here is one thing."),
        (3, "plain document, no artifacts"),
        (4, "regenerate response at the footer"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["phrase"]: r for r in ai_artifact_census(df).collect()}
    assert sorted(out) == [
        "as an ai language model", "certainly! here is",
        "regenerate response",
    ]
    r = out["as an ai language model"]
    assert (r["n_docs"], r["n_occurrences"]) == (1, 2)
    assert r["doc_ppm"] == 10**6 // 4
    assert out["certainly! here is"]["n_occurrences"] == 1
    assert out["regenerate response"]["n_docs"] == 1


def test_readability_exact_milli(spark):
    """Hand-checked Flesch milli-points; sentence floor of 1 on
    punctuation-free text."""
    from poc_document_ocr_spark.operators.textstats import readability

    rows = [
        (1, "the cat sat. the dog ran!"),   # 6 words, 2 sentences
        (2, "no punctuation here"),         # 3 words, floor 1 sentence
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability(df).collect()}
    r = out[1]
    # words: the,cat,sat.,the,dog,ran! = 6; sentences: . and ! = 2
    # syllables (vowel runs): e,a,a,e,o,a = 6
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    assert r["flesch_milli"] == 206835 - (1015 * 6) // 2 - (84600 * 6) // 6
    r = out[2]
    # no punctuation here -> o,u,ua,io,e,e = vowel runs: n[o] p[u]nct[ua]t[io]n h[e]r[e] = 6
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (3, 1, 6)


def test_length_token_fit_perfect_line(spark):
    """On an exact line y = x/5 the slope is 200000 ppm and r2 is
    1000000 ppm; a noisy group lands strictly below r2 = 1e6."""
    from poc_document_ocr_spark.operators.textstats import (
        length_token_fit,
    )

    def words(n):
        return " ".join("w" * 4 for _ in range(n))  # 5 chars/word incl sep

    rows = []
    for n in (2, 4, 8, 16):
        txt = words(n)
        rows.append(("clean", len(txt) + 1, txt))  # x = 5*n exactly
    rows += [
        ("noisy", 10, "a b"),
        ("noisy", 10, "a b c d e"),
        ("noisy", 40, "a b c"),
        ("noisy", 40, "a b c d e f g"),
    ]
    df = spark.createDataFrame(rows, "source string, n_chars long, text string")
    out = {r["source"]: r for r in length_token_fit(df).collect()}
    r = out["clean"]
    assert r["n_docs"] == 4
    assert r["slope_ppm"] == 200000
    assert r["r2_ppm"] == 1000000
    r = out["noisy"]
    assert 0 <= r["r2_ppm"] < 1000000


def test_reliability_report_ece(spark):
    """Perfectly calibrated bin has gap 0; anti-calibrated bin carries
    the gap; ECE is the n-weighted mean."""
    from poc_document_ocr_spark.operators.textstats import (
        reliability_report,
    )

    rows = (
        [(250_000, 1)] * 1 + [(250_000, 0)] * 3    # bin2: pred .25, obs .25
        + [(950_000, 0)] * 4                       # bin9: pred .95, obs 0
    )
    df = spark.createDataFrame(rows, "score_ppm long, y int")
    out = {r["bin"]: r for r in reliability_report(df, n_bins=10).collect()}
    assert sorted(out) == [2, 9]
    b2 = out[2]
    assert (b2["mean_score_ppm"], b2["pos_ppm"], b2["gap_ppm"]) == (
        250_000, 250_000, 0)
    b9 = out[9]
    assert (b9["pos_ppm"], b9["gap_ppm"]) == (0, 950_000)
    # ECE = (4*0 + 4*950000) / 8
    assert b2["ece_ppm"] == b9["ece_ppm"] == 4 * 950_000 // 8


