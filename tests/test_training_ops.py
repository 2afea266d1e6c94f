"""Table tests for the training-data operators: dedup and text analysis.

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
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_groups(spark):
    from poc_document_ocr_spark.operators.dedup import exact_dedup_groups

    df = _docs(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "different text"), (9, "a b c")],
    )
    out = {
        r.fingerprint: (r.keeper_id, r.n_copies)
        for r in exact_dedup_groups(df).collect()
    }
    h = hashlib.md5(b"a b c").hexdigest()
    assert out[h] == (1, 3)
    assert len(out) == 2


def test_word_shingles_exact_set(spark):
    from poc_document_ocr_spark.operators.dedup import word_shingles

    df = _docs(spark, [(1, "a b c d"), (2, "x y")])
    got = sorted(
        (r.doc_id, r.shingle) for r in word_shingles(df, n=3).collect()
    )
    # 4 words -> 2 shingles; 2 words -> none
    assert got == [(1, "a b c"), (1, "b c d")]


def test_shingles_distinct(spark):
    from poc_document_ocr_spark.operators.dedup import word_shingles

    df = _docs(spark, [(1, "a b a b a b")])
    got = {r.shingle for r in word_shingles(df, n=3).collect()}
    assert got == {"a b a", "b a b"}


def test_minhash_identical_docs_identical_sigs(spark):
    from poc_document_ocr_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    df = _docs(spark, [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5")])
    sigs = minhash_signatures(word_shingles(df))
    rows = sigs.collect()
    s1 = sorted((r.k, r.h) for r in rows if r.doc_id == 1)
    s2 = sorted((r.k, r.h) for r in rows if r.doc_id == 2)
    assert s1 == s2 and len(s1) == 8


def test_lsh_pairs_identical_docs(spark):
    from poc_document_ocr_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally unrelated content words here now"),
        ],
    )
    pairs = lsh_candidate_pairs(minhash_signatures(word_shingles(df)))
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert got == [(1, 2)]


def test_ngram_jaccard_exact_value(spark):
    from poc_document_ocr_spark.operators.dedup import (
        ngram_jaccard,
        word_shingles,
    )

    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e}
    df = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = ngram_jaccard(word_shingles(df), pairs).collect()[0]
    assert (r.inter, r.union_n) == (1, 3)
    assert r.jaccard == pytest.approx(1 / 3)


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
# near-duplicate hashing and quality
# ---------------------------------------------------------------------------


def test_simhash_identical_docs_zero_hamming(spark):
    from poc_document_ocr_spark.operators.dedup import (
        simhash64,
        simhash_near_pairs,
    )

    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "utterly different words compose this other document body"),
        ],
    )
    fps = simhash64(df)
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[1] == vals[2] and len(vals[1]) == 16
    assert vals[1] != vals[3]
    pairs = simhash_near_pairs(fps, max_hamming=7).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(1, 2, 0)]


def test_simhash_near_dup_low_hamming(spark):
    from poc_document_ocr_spark.operators.dedup import (
        simhash64,
        simhash_hamming,
    )

    base = " ".join(f"w{i}" for i in range(40))
    near = base + " extra"
    df = _docs(spark, [(1, base), (2, near)])
    fps = simhash64(df)
    a = fps.filter(F.col("doc_id") == 1).select(
        F.col("simhash").alias("sh_a")
    )
    b = fps.filter(F.col("doc_id") == 2).select(
        F.col("simhash").alias("sh_b")
    )
    d = (
        a.crossJoin(b)
        .select(
            simhash_hamming(F.col("sh_a"), F.col("sh_b")).alias("d")
        )
        .collect()[0]
        .d
    )
    # one word added to 40 → only a handful of bit flips
    assert 0 < d <= 12, d


def test_minhash_scale_profile_band_separation(spark):
    """At SCALE_PROFILE (128 hashes, 16 bands × 8 rows) a true near-dup
    pair must share a band; a low-Jaccard pair must not."""
    from poc_document_ocr_spark.operators.dedup import (
        SCALE_PROFILE,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " tokX"  # J ≈ 0.93
    far = " ".join(f"other{i}" for i in range(30)) + " tok1 tok2 tok3"
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    sigs = minhash_signatures(
        word_shingles(df), num_hashes=SCALE_PROFILE["num_hashes"]
    )
    pairs = lsh_candidate_pairs(
        sigs, rows_per_band=SCALE_PROFILE["rows_per_band"]
    )
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert got == [(1, 2)]


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
# connected components / repetition / tf-idf (round 3)
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_islands(spark):
    from poc_document_ocr_spark.operators.dedup import connected_components

    # a 4-chain (needs label propagation across hops), a 2-island, and a
    # triangle sharing a vertex with a pair (merge through the shared vertex)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20),
         (22, 30)],
        "id_a long, id_b long",
    )
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 30: 20,
    }


def test_connected_components_converges_on_long_chain(spark):
    from poc_document_ocr_spark.operators.dedup import connected_components

    # pointer doubling: a 16-vertex chain needs ~log2(16) rounds, not 16 —
    # cap max_iters well below the chain length to prove the compression hop
    n = 16
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {
        r.node: r.component
        for r in connected_components(pairs, max_iters=8).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


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


def test_duplicate_ngram_spans_merging(spark):
    from poc_document_ocr_spark.operators.dedup import duplicate_ngram_spans

    shared = " ".join(f"s{i}" for i in range(6))       # 6 shared words
    df = _docs(spark, [
        (1, f"u1 u2 {shared} u3 u4"),                  # shared at pos 3..8
        (2, f"{shared} v1 v2 v3"),                     # shared at pos 1..6
        (3, "w1 w2 w3 w4 w5 w6 w7 w8"),                # unique: no spans
    ])
    got = duplicate_ngram_spans(df, n=4).collect()
    spans = {r.doc_id: (r.span_start, r.span_end, r.n_grams) for r in got}
    # doc 1: grams at positions 3,4,5 (each 4 words) merge into 3..8
    assert spans[1] == (3, 8, 3)
    assert spans[2] == (1, 6, 3)
    assert 3 not in spans
    for r in got:
        assert r.span_words == r.span_end - r.span_start + 1


def test_duplicate_ngram_spans_ignores_intra_doc_repeats(spark):
    from poc_document_ocr_spark.operators.dedup import duplicate_ngram_spans

    # the repeated phrase lives in ONE document only -> not cross-doc dup
    df = _docs(spark, [
        (1, "a b c d x a b c d"),
        (2, "e f g h i j k l"),
    ])
    assert duplicate_ngram_spans(df, n=4).count() == 0


def test_decontaminate_flags_overlap(spark):
    from poc_document_ocr_spark.operators.dedup import decontaminate

    leak = "q1 q2 q3 q4 q5 q6 q7 q8"                   # exactly one 8-gram
    corpus = _docs(spark, [
        (1, f"pre {leak} post"),                       # contains the 8-gram
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),             # clean
        (3, "tiny doc"),                               # < n words: clean
    ])
    bench = _docs(spark, [(100, leak)])
    got = {r.doc_id: r for r in decontaminate(corpus, bench, n=8).collect()}
    assert got[1].contaminated and got[1].n_overlap == 1
    assert got[1].n_grams == 3                          # 10 words -> 3 grams
    assert not got[2].contaminated and got[2].n_overlap == 0
    assert not got[3].contaminated and got[3].n_grams == 0


def test_connected_components_raises_when_unconverged(spark):
    from poc_document_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=1)


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


def test_segment_dedup_keeps_first_occurrence(spark):
    from poc_document_ocr_spark.operators.dedup import segment_dedup

    # doc 1 and doc 2 share their first 4-word segment; doc 2's second
    # segment is unique; doc 3 repeats doc 1's segment twice internally
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d x y z w"),
            (3, "a b c d a b c d"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, n=4).collect()
    }
    # doc 1 owns the global first occurrence of 'a b c d'
    assert out[1]["clean_text"] == "a b c d"
    assert (out[1]["n_segments"], out[1]["n_kept"], out[1]["n_dropped"]) == (
        1, 1, 0,
    )
    # doc 2 loses the shared segment, keeps its unique one
    assert out[2]["clean_text"] == "x y z w"
    assert out[2]["n_dropped"] == 1
    # doc 3 loses BOTH copies (first occurrence lives in doc 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_segments"], out[3]["n_kept"]) == (2, 0)


def test_segment_dedup_partial_tail_segment(spark):
    from poc_document_ocr_spark.operators.dedup import segment_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    row = segment_dedup(df, n=4).collect()[0]
    # 5 words → one full segment + a 1-word remainder segment
    assert row["n_segments"] == 2
    assert row["clean_text"] == "a b c d e"


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


def test_canonical_docs_keep_best_policy(spark):
    from poc_document_ocr_spark.operators.dedup import (
        canonical_docs,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    docs = spark.createDataFrame(
        # cluster {1,2,3}: scores 5,9,9 → canon 2 (max score, tie min id);
        # doc 7 never appears in pairs → singleton keeps itself
        [(1, 5), (2, 9), (3, 9), (7, 4)],
        "doc_id long, score long",
    )
    rows = {r["doc_id"]: r for r in canonical_docs(docs, comp).collect()}
    assert all(rows[i]["canon_id"] == 2 for i in (1, 2, 3))
    assert all(rows[i]["cluster_size"] == 3 for i in (1, 2, 3))
    assert rows[2]["is_canon"] and not rows[1]["is_canon"]
    assert rows[7]["canon_id"] == 7 and rows[7]["is_canon"]
    assert rows[7]["cluster_size"] == 1


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


def test_lsh_incremental_pairs_cross_batch_only(spark):
    from poc_document_ocr_spark.operators.dedup import (
        lsh_incremental_pairs,
        minhash_signatures,
        word_shingles,
    )

    existing = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different old content here now"),
        ],
    )
    new = _docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # dup of 1
            (11, "totally different old content here now"),  # dup of 2
            (12, "brand new unique words never seen before"),
        ],
    )
    got = sorted(
        (r["existing_id"], r["new_id"])
        for r in lsh_incremental_pairs(
            minhash_signatures(word_shingles(existing)),
            minhash_signatures(word_shingles(new)),
        ).collect()
    )
    # cross-batch dups found; 10↔11 (new↔new, not dups anyway) and the
    # unique doc 12 produce nothing
    assert got == [(1, 10), (2, 11)]


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


def test_dedup_weights_inverse_cluster_size(spark):
    from poc_document_ocr_spark.operators.dedup import dedup_weights

    rows = [(1, "same"), (2, "same"), (3, "same"), (4, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_weights(df).collect()}
    assert len(out) == 4  # every row kept
    assert out[1]["weight_ppm"] == 333333 and out[1]["n_copies"] == 3
    assert out[4]["weight_ppm"] == 1000000 and out[4]["n_copies"] == 1


def test_dedup_weights_keeps_null_text_rows(spark):
    from poc_document_ocr_spark.operators.dedup import dedup_weights

    rows = [(1, "x"), (2, None), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_weights(df).collect()}
    assert len(out) == 4  # NULL-text rows are kept
    # NULL hashes as '' -> docs 2,3,4 form one cluster of 3
    assert out[2]["n_copies"] == 3 and out[4]["n_copies"] == 3
    assert out[1]["weight_ppm"] == 1000000


# ---------------------------------------------------------------------------
# more text-statistics and dedup ops: refusal, novelty, templates
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


def test_ngram_novelty_distinct_grams_and_short_docs(spark):
    from poc_document_ocr_spark.operators.dedup import ngram_novelty

    df = _docs(
        spark,
        [
            (10, "a b c d"),          # reference: grams {abc, bcd}
            (1, "a b c x"),           # abc seen, bcx new -> 500000
            (2, "a b c a b c"),       # distinct grams: abc, bca, cab
            (3, "too short"),         # <3 words -> absent
        ],
    )
    out = {
        r["doc_id"]: r
        for r in ngram_novelty(df, F.col("doc_id") == 10).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_grams"] == 2 and out[1]["n_unseen"] == 1
    assert out[1]["novelty_ppm"] == 500_000
    # doc 2: 4 positional grams but 3 DISTINCT; only 'a b c' is seen
    assert out[2]["n_grams"] == 3 and out[2]["n_unseen"] == 2


def test_template_segments_support_thresholds(spark):
    """Hand-built clusters: a 3-doc cluster whose universal segment
    (support 3/3) and 2/3-majority segment are kept while a 1/3 segment
    is dropped, and a singleton doc that is excluded entirely."""
    from poc_document_ocr_spark.operators.dedup import template_segments

    t_all = "a b c d e f g h"          # in every cluster member
    t_maj = "i j k l m n o p"          # in 2 of 3
    t_one = "q r s t u v w x"          # in 1 of 3
    docs = spark.createDataFrame(
        [
            (1, f"{t_all} {t_maj}"),
            (2, f"{t_all} {t_maj}"),
            (3, f"{t_all} {t_one}"),
            (9, t_all),                # singleton cluster — excluded
        ],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, component long"
    )
    out = {
        (r["component"], r["segment"]): r
        for r in template_segments(docs, comps, n=8, tau_ppm=600_000).collect()
    }
    assert set(out) == {(1, t_all), (1, t_maj)}
    assert out[(1, t_all)]["n_docs"] == 3
    assert out[(1, t_all)]["support_ppm"] == 1_000_000
    assert out[(1, t_maj)]["n_docs"] == 2
    assert out[(1, t_maj)]["cluster_size"] == 3
    assert out[(1, t_maj)]["support_ppm"] == 666_666


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


def test_snapshot_diff_classifies_all_states(spark):
    from poc_document_ocr_spark.operators.dedup import snapshot_diff

    a = spark.createDataFrame(
        [(1, "s", "alpha"), (2, "s", "beta"), (3, "s", "gamma")],
        "doc_id long, source string, text string",
    )
    b = spark.createDataFrame(
        # 1 unchanged, 2 changed, 3 removed, 4 added
        [(1, "s", "alpha"), (2, "s", "beta2"), (4, "s", "delta")],
        "doc_id long, source string, text string",
    )
    (r,) = snapshot_diff(a, b).collect()
    assert r["n_added"] == 1 and r["n_removed"] == 1
    assert r["n_changed"] == 1 and r["n_same"] == 1
    assert r["churn_ppm"] == 750_000


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


def test_source_pair_matrix_cells_and_shares(spark):
    from poc_document_ocr_spark.operators.dedup import source_pair_matrix

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    srcs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in source_pair_matrix(pairs, srcs).collect()
    }
    # (1,2) is within-source a; (1,3) and (2,3) cross a<->b — and the
    # unordered normalization folds both orientations into one cell
    assert rows[("a", "a")]["n_pairs"] == 1
    assert rows[("a", "b")]["n_pairs"] == 2
    assert rows[("a", "a")]["share_ppm"] == 1_000_000 // 3
    assert rows[("a", "b")]["share_ppm"] == 2_000_000 // 3


def test_dedup_survivorship_bias_signs(spark):
    from poc_document_ocr_spark.operators.dedup import dedup_survivorship

    srcs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "b")],
        "doc_id long, source string",
    )
    canon = spark.createDataFrame(
        [(1, True), (2, False), (3, True), (4, True), (5, False)],
        "doc_id long, is_canon boolean",
    )
    out = {
        r["source"]: r for r in dedup_survivorship(srcs, canon).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["n_kept"]) == (2, 1)
    assert (b["n_docs"], b["n_kept"]) == (3, 2)
    assert a["drop_ppm"] == 500_000 and b["drop_ppm"] == 333_333
    # a's kept share (1/3) trails its corpus share (2/5) → negative bias;
    # b gains exactly what a loses on the ppm grid (modulo div rounding)
    assert a["corpus_share_ppm"] == 400_000
    assert a["kept_share_ppm"] == 333_333
    assert a["bias_ppm"] == -66_667
    assert b["bias_ppm"] == 666_666 - 600_000


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


def test_novelty_curve_first_seen_shares(spark):
    from poc_document_ocr_spark.operators.dedup import novelty_curve

    rows = [
        (1, "a", 0), (2, "b", 0),          # day 0: both new
        (3, "a", 1), (4, "c", 1), (5, "c", 1),  # day 1: a re-fetch, c new
        (6, "a", 2),                        # day 2: nothing new
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, day long")
    out = {r["day"]: r for r in novelty_curve(df).collect()}
    assert out[0]["n_fp"] == 2 and out[0]["novelty_ppm"] == 1_000_000
    assert out[1]["n_docs"] == 3 and out[1]["n_fp"] == 2
    assert out[1]["n_new_fp"] == 1 and out[1]["novelty_ppm"] == 500_000
    assert out[2]["novelty_ppm"] == 0


def test_lsh_calibration_exact_on_identical_pair(spark):
    from poc_document_ocr_spark.operators.dedup import (
        lsh_calibration,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7"),
         (2, "w0 w1 w2 w3 w4 w5 w6 w7"),
         (3, "x0 x1 x2 x3 x4 x5 x6 x7")],
        "doc_id long, text string",
    )
    sh = word_shingles(docs)
    sigs = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sigs)
    out = lsh_calibration(sh, sigs, pairs).collect()
    # only the identical pair (1,2) is a candidate: 8/8 matches, exact
    # jaccard 1.0, zero estimator error
    assert len(out) == 1
    (r,) = out
    assert r["matches"] == 8 and r["n_pairs"] == 1
    assert r["est_ppm"] == 1_000_000
    assert r["mean_exact_ppm"] == 1_000_000
    assert r["mean_abs_err_ppm"] == 0


def test_reextract_plan_classifies_and_sizes_work(spark):
    from poc_document_ocr_spark.operators.dedup import reextract_plan

    prev = spark.createDataFrame(
        [(1, "s", "alpha"), (2, "s", "beta"), (3, "s", "gamma")],
        "doc_id long, source string, text string",
    )
    curr = spark.createDataFrame(
        # 1 unchanged (skip), 2 changed, 3 removed (tombstone), 4 added
        [(1, "s", "alpha"), (2, "s", "beta22"), (4, "s", "dd")],
        "doc_id long, source string, text string",
    )
    (r,) = reextract_plan(prev, curr).collect()
    assert r["n_docs"] == 3 and r["n_reextract"] == 2
    assert r["n_skip"] == 1 and r["n_tombstone"] == 1
    # work = chars of changed doc 2 ('beta22'=6) + added doc 4 ('dd'=2)
    assert r["work_chars"] == 8
    assert r["saved_ppm"] == 333_333


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


def test_lsh_band_sweep_identical_pair_all_configs(spark):
    from poc_document_ocr_spark.operators.dedup import (
        lsh_band_sweep,
        minhash_signatures,
        word_shingles,
    )
    import pytest

    text = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words here now")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(word_shingles(docs), num_hashes=16)
    rows = {
        r["rows_per_band"]: r
        for r in lsh_band_sweep(
            sigs, num_hashes=16, rows_per_band_configs=(2, 4, 8)
        ).collect()
    }
    assert set(rows) == {2, 4, 8}
    for rpb, r in rows.items():
        assert r["n_bands"] == 16 // rpb
        # the identical pair matches every band at every config
        assert r["n_pairs"] >= 1
        assert r["n_strong"] >= 1  # est = 1e6 for the identical pair
    # the wider the band, the (weakly) fewer candidates
    assert rows[2]["n_pairs"] >= rows[8]["n_pairs"]
    with pytest.raises(ValueError):
        lsh_band_sweep(sigs, num_hashes=16, rows_per_band_configs=(3,))


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


def test_edit_distance_verify_hand_checked(spark):
    """Levenshtein + sim_ppm on hand-computed pairs, including the
    len-gap lower bound and the empty-string edge."""
    from poc_document_ocr_spark.operators.dedup import edit_distance_verify

    docs = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "sitting"),
            (3, "kitten"),
            (4, ""),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (1, 4)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in edit_distance_verify(docs, pairs).collect()
    }
    r = out[(1, 2)]
    assert (r["lev_dist"], r["len_gap"]) == (3, 1)
    assert r["sim_ppm"] == (7 - 3) * 10**6 // 7
    assert r["lev_dist"] >= r["len_gap"]   # DP-free lower bound holds
    r = out[(1, 3)]
    assert (r["lev_dist"], r["sim_ppm"]) == (0, 10**6)
    r = out[(4, 5)]                         # both empty: identical
    assert (r["lev_dist"], r["sim_ppm"]) == (0, 10**6)
    r = out[(1, 4)]                         # vs empty: all deletions
    assert (r["lev_dist"], r["sim_ppm"]) == (6, 0)


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


def test_prefix_join_exact_and_complete(spark):
    """Known Jaccard values at t=0.6: a pair exactly AT threshold is
    kept, below-threshold and disjoint pairs are not; jac_ppm exact."""
    from poc_document_ocr_spark.operators.dedup import (
        prefix_similarity_join,
    )

    sets = {
        1: ["a", "b", "c", "d", "e"],
        2: ["a", "b", "c", "d", "f"],   # J(1,2)=4/6=0.667 -> kept
        3: ["x", "y", "z"],             # disjoint
        4: ["a", "b"],                  # J(1,4)=2/5=0.4 -> dropped
        5: ["a", "b", "c"],
        6: ["a", "b", "c", "g", "h"],   # J(5,6)=3/5=0.6 exactly -> kept
    }
    rows = [(i, s) for i, ss in sets.items() for s in ss]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    out = {
        (r["id_a"], r["id_b"]): r
        for r in prefix_similarity_join(sh, t_ppm=600_000).collect()
    }
    # brute-force ground truth at t=0.6
    import itertools

    expect = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        a, b = set(sets[i]), set(sets[j])
        inter, union = len(a & b), len(a | b)
        if inter * 1_000_000 >= 600_000 * union:
            expect[(i, j)] = (inter, union)
    assert sorted(out) == sorted(expect)
    assert (out[(1, 2)]["inter"], out[(1, 2)]["union_n"]) == (4, 6)
    assert out[(1, 2)]["jac_ppm"] == 4 * 1_000_000 // 6
    assert out[(5, 6)]["jac_ppm"] == 600_000


def test_prefix_join_completeness_property(spark):
    """Property over randomized set families: the prefix-filtered join
    returns EXACTLY the brute-force qualifying pairs (no misses — the
    prefix-filter completeness theorem — and no extras)."""
    import itertools

    from hypothesis import given, settings, strategies as st

    from poc_document_ocr_spark.operators.dedup import (
        prefix_similarity_join,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.sets(st.sampled_from("abcdefghij"), min_size=1, max_size=8),
            min_size=2, max_size=8,
        )
    )
    def prop(families):
        rows = [(i, s) for i, ss in enumerate(families) for s in ss]
        sh = spark.createDataFrame(rows, "doc_id long, shingle string")
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_similarity_join(sh, t_ppm=500_000).collect()
        }
        want = set()
        for i, j in itertools.combinations(range(len(families)), 2):
            a, b = families[i], families[j]
            if len(a & b) * 1_000_000 >= 500_000 * len(a | b):
                want.add((i, j))
        assert got == want

    prop()


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


def test_similarity_curve_cumulative(spark):
    """Bucketing and from-above cumulative counts are exact."""
    from poc_document_ocr_spark.operators.dedup import similarity_curve

    pairs = spark.createDataFrame(
        [(1, 2, 999_999), (1, 3, 950_000), (2, 3, 830_000),
         (4, 5, 610_000), (6, 7, 600_000)],
        "id_a long, id_b long, jac_ppm long",
    )
    out = {r["bucket_lo_ppm"]: r for r in similarity_curve(pairs).collect()}
    assert sorted(out) == [600_000, 800_000, 900_000]
    assert out[900_000]["n_pairs"] == 2
    assert out[900_000]["n_at_or_above"] == 2
    assert out[800_000]["n_at_or_above"] == 3
    assert out[600_000]["n_pairs"] == 2
    assert out[600_000]["n_at_or_above"] == 5


def test_prefix_join_candidate_guard(spark):
    """max_candidates aborts before verification when the duplicate
    structure makes the exact pair set blow up."""
    import pytest

    from poc_document_ocr_spark.operators.dedup import (
        prefix_similarity_join,
    )

    # 10 identical sets -> 45 true pairs, every prefix token shared
    rows = [(i, s) for i in range(10) for s in ("a", "b", "c")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    with pytest.raises(ValueError, match="max_candidates"):
        prefix_similarity_join(sh, t_ppm=600_000, max_candidates=10)
    # generous cap passes through and returns all 45 exact pairs
    out = prefix_similarity_join(sh, t_ppm=600_000, max_candidates=100)
    assert out.count() == 45
