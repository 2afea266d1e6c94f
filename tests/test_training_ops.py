"""Table tests for the training-data operators: dedup, similarity,
text analysis.

Mirrors the reference's table-test style (``DateFieldParserTests``): small
fixed inputs, exact expected outputs.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    word_shingles,
)
from poc_document_ocr_spark.operators.similarity import (
    cosine_topk,
    signlsh_buckets,
)
from poc_document_ocr_spark.operators.textstats import (
    fingerprint,
    lang_id,
    token_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_groups(spark):
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
    df = _docs(spark, [(1, "a b c d"), (2, "x y")])
    got = sorted(
        (r.doc_id, r.shingle) for r in word_shingles(df, n=3).collect()
    )
    # 4 words -> 2 shingles; 2 words -> none
    assert got == [(1, "a b c"), (1, "b c d")]


def test_shingles_distinct(spark):
    df = _docs(spark, [(1, "a b a b a b")])
    got = {r.shingle for r in word_shingles(df, n=3).collect()}
    assert got == {"a b a", "b a b"}


def test_minhash_identical_docs_identical_sigs(spark):
    df = _docs(spark, [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5")])
    sigs = minhash_signatures(word_shingles(df))
    rows = sigs.collect()
    s1 = sorted((r.k, r.h) for r in rows if r.doc_id == 1)
    s2 = sorted((r.k, r.h) for r in rows if r.doc_id == 2)
    assert s1 == s2 and len(s1) == 8


def test_lsh_pairs_identical_docs(spark):
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
    df = _docs(spark, [(1, "the cat sat")])
    r = token_stats(df).collect()[0]
    assert (r.n_chars, r.n_tokens, r.n_alpha_chars) == (11, 3, 9)
    assert r.avg_token_len == pytest.approx(3.0)
    assert r.stopword_ratio == pytest.approx(1 / 3)


def test_lang_id_markers_and_tiebreak(spark):
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
    df = _docs(spark, [(1, "  Hello   World "), (2, "hello world")])
    rows = fingerprint(df).collect()
    fps = {r.doc_id: r.fingerprint for r in rows}
    assert fps[1] == fps[2] == hashlib.md5(b"hello world").hexdigest()


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_cosine_topk_orthogonal(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [r.n_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2]  # nearest first; -x excluded by k=2


def test_cosine_topk_excludes_self_and_breaks_ties_by_id(spark):
    rows = [(i, [1.0, 0.0]) for i in range(4)]  # all identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r.n_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 3]


def test_signlsh_buckets_deterministic(spark):
    rows = [(0, [1.0, 1.0]), (1, [1.0, 0.9]), (2, [-1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[1.0, 0.0], [0.0, 1.0]]
    got = {
        r.vec_id: r.bucket
        for r in signlsh_buckets(df, planes).collect()
    }
    assert got[0] == got[1] == 0b11
    assert got[2] == 0b00


def test_lsh_topk_recall_and_pruning(spark):
    """Bucketed ANN vs exact brute force on the real embeddings table:
    recall must clear a floor AND the bucket join must actually prune."""
    from poc_document_ocr_spark.operators.similarity import (
        lsh_topk,
        signlsh_buckets,
    )

    # 4 fixed sign-LSH hyperplanes (16 buckets) over the 64-dim embeddings
    _ANN_PLANES = [
        [((7 * i + 3 * j) % 11) - 5 for j in range(64)] for i in range(4)
    ]
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 8)
    k = 5

    exact = cosine_topk(emb, queries, k=k).collect()
    approx = lsh_topk(emb, queries, _ANN_PLANES, k=k).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.q_id, set()).add(r.n_id)
    ap = {}
    for r in approx:
        ap.setdefault(r.q_id, set()).add(r.n_id)
    recalls = [
        len(ex[q] & ap.get(q, set())) / k for q in ex
    ]
    recall = sum(recalls) / len(recalls)
    # deterministic fixture → deterministic recall; floor leaves headroom
    assert recall >= 0.5, recalls

    # pruning: candidates compared = corpus rows in each query's 5 probe
    # buckets (own + 4 at Hamming distance 1) — must stay well under the
    # brute-force 8 * (n - 1)
    b = signlsh_buckets(emb, _ANN_PLANES)
    sizes = {r.bucket: r.n for r in b.groupBy("bucket").count()
             .withColumnRenamed("count", "n").collect()}
    qb = signlsh_buckets(queries, _ANN_PLANES).collect()
    candidates = sum(
        sum(sizes.get(r.bucket ^ m, 0) for m in (0, 1, 2, 4, 8)) - 1
        for r in qb
    )
    assert candidates < 0.5 * 8 * (n - 1), (candidates, n)


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
    from poc_document_ocr_spark.operators.dedup import SCALE_PROFILE

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
# connected components / IVF ANN / repetition / tf-idf (round 3)
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


def test_ivf_assign_matches_best_centroid(spark):
    from poc_document_ocr_spark.operators.similarity import ivf_assign

    # centroids along axes 0 and 1; vectors clearly nearest one of them
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    df = spark.createDataFrame(
        [(1, [5.0, 0.1, 0.0]), (2, [0.1, 7.0, 0.0]), (3, [1.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.cell for r in ivf_assign(df, cents).collect()}
    # vec 3 ties exactly between both centroids -> higher index wins
    assert got == {1: 0, 2: 1, 3: 1}


def test_ivf_topk_recall_vs_exact(spark):
    from poc_document_ocr_spark.operators.similarity import ivf_topk

    import math

    # deterministic 8-dim fixture clustered around two directions
    def vec(base, eps, j):
        return [float(b) + eps * ((j * 7 + d) % 3 - 1)
                for d, b in enumerate(base)]

    a = [1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0]
    b = [0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0]
    rows = [(j, vec(a if j % 2 == 0 else b, 0.05, j)) for j in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 2)
    cents = [a, b]
    got = ivf_topk(df, queries, cents, k=5, nprobe=1).collect()
    exact = cosine_topk(df, queries, k=5).collect()
    got_set = {(r.q_id, r.n_id) for r in got}
    exact_set = {(r.q_id, r.n_id) for r in exact}
    # same-parity neighbors dominate cosine and share the query's cell:
    # nprobe=1 IVF recovers the exact top-5 on this fixture
    assert got_set == exact_set
    # every query returns exactly k candidates ranked 1..k
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


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
# sampling / packing / chunking / redaction / composition (round 3)
# ---------------------------------------------------------------------------


def test_hash_split_deterministic_and_partitioning_invariant(spark):
    from poc_document_ocr_spark.operators.sampling import hash_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(df, w).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(13), w).collect()
    }
    assert a == b                      # partitioning does not move labels
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n for s in w}
    # uniform hash: within a few points of the requested weights
    assert abs(frac["train"] - 0.8) < 0.05
    assert abs(frac["val"] - 0.1) < 0.03
    assert abs(frac["test"] - 0.1) < 0.03


def test_hash_sample_is_nested_and_seed_sensitive(spark):
    from poc_document_ocr_spark.operators.sampling import hash_sample

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    keep10 = {r.doc_id for r in hash_sample(df, 0.1, seed=3).collect()}
    keep25 = {r.doc_id for r in hash_sample(df, 0.25, seed=3).collect()}
    assert keep10 <= keep25            # thresholds nest for a fixed seed
    assert abs(len(keep25) / 2000 - 0.25) < 0.04
    other = {r.doc_id for r in hash_sample(df, 0.25, seed=4).collect()}
    assert other != keep25             # seed actually changes the sample


def test_shard_assign_range_and_stability(spark):
    from poc_document_ocr_spark.operators.sampling import shard_assign

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    rows = shard_assign(df, n_shards=8).collect()
    assert {r.shard for r in rows} == set(range(8))
    # every shard gets a non-trivial share (uniformity sanity)
    counts = [sum(1 for r in rows if r.shard == s) for s in range(8)]
    assert min(counts) > 1000 / 8 / 3


def test_pack_contiguous_budget_and_positions(spark):
    from poc_document_ocr_spark.operators.sampling import pack_contiguous

    rows = [(s, i, 40) for s in (0, 1) for i in range(10)]
    df = spark.createDataFrame(
        rows, "shard int, doc_id long, n_tokens long"
    )
    got = pack_contiguous(df, budget=100).collect()
    by_pack = {}
    for r in got:
        by_pack.setdefault((r.shard, r.pack_id), []).append(r)
    # 10 docs x 40 tokens at budget 100: packs of sizes 3,2,3,2 (a doc that
    # STARTS before the boundary stays in the earlier pack)
    sizes = sorted(
        len(v) for (s, p), v in by_pack.items() if s == 0
    )
    assert sizes == [2, 2, 3, 3]
    for members in by_pack.values():
        assert sorted(r.pack_pos for r in members) == list(
            range(len(members))
        )
    # deterministic: same input, same packs at different parallelism
    again = pack_contiguous(df.repartition(7), budget=100).collect()
    assert {(r.shard, r.doc_id, r.pack_id) for r in again} == {
        (r.shard, r.doc_id, r.pack_id) for r in got
    }


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


def test_asof_join_latest_at_or_before(spark):
    from datetime import datetime

    from poc_document_ocr_spark.operators.events import asof_join

    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 1, t(5)), (2, 1, t(10)), (3, 1, t(2)), (4, 2, t(30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(3), 30.0), (1, t(10), 100.0), (2, t(40), 7.0)],
        "user_id long, ts timestamp, ref_value double",
    )
    got = {
        r.event_id: (r.asof_ts, r.ref_value)
        for r in asof_join(left, right).collect()
    }
    assert got[1] == (t(3), 30.0)       # latest ref <= 00:05 is 00:03
    assert got[2] == (t(10), 100.0)     # equal timestamps match (<=)
    assert got[3] == (None, None)       # no ref yet -> nulls
    assert got[4] == (None, None)       # user 2's only ref is later


def test_interval_join_matches_plain_range_join(spark):
    from datetime import datetime, timedelta

    from poc_document_ocr_spark.operators.events import interval_join

    base = datetime(2024, 1, 1)
    pts = [(i, i % 3, base + timedelta(minutes=7 * i)) for i in range(60)]
    ivs = [
        (100 + j, j % 3, base + timedelta(minutes=50 * j),
         base + timedelta(minutes=50 * j + 25))
        for j in range(8)
    ]
    points = spark.createDataFrame(
        pts, "event_id long, user_id long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        ivs, "interval_id long, user_id long, start_ts timestamp, "
             "end_ts timestamp",
    )
    got = {
        (r.event_id, r.interval_id)
        for r in interval_join(points, intervals, bucket_minutes=10).collect()
    }
    # oracle: the naive cross check in Python
    want = {
        (p[0], v[0])
        for p in pts for v in ivs
        if p[1] == v[1] and v[2] <= p[2] <= v[3]
    }
    assert got == want and len(want) > 0


def test_stratified_sample_rates_and_nesting(spark):
    from poc_document_ocr_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = stratified_sample(
        df, {"en": 0.2, "fr": 1.0}, strata_col="lang"
    ).collect()
    en = [r for r in kept if r.lang == "en"]
    fr = [r for r in kept if r.lang == "fr"]
    assert len(fr) == 1000                       # rate 1.0 keeps everything
    assert abs(len(en) / 1000 - 0.2) < 0.05
    # nests with the global sampler at the same seed: the en-kept set IS
    # hash_sample(0.2) restricted to en
    glob = {r.doc_id for r in hash_sample(df, 0.2).collect()}
    assert {r.doc_id for r in en} == {d for d in glob if d % 2 == 0}
    # unlisted strata use default_rate (0 -> dropped entirely)
    none = stratified_sample(df, {"zz": 1.0}, strata_col="lang").count()
    assert none == 0


def test_group_quantiles_discrete_exact(spark):
    from poc_document_ocr_spark.operators.sampling import group_quantiles

    rows = [("a", i, (i + 1) * 10) for i in range(9)] + [("b", 100, 7)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    got = {
        (r.lang, r.q): r.value for r in group_quantiles(df).collect()
    }
    # group a: values 10..90, n=9 -> idx floor(q*8): p25->20? floor(2.0)=2 ->30
    assert got[("a", 250)] == 30
    assert got[("a", 500)] == 50
    assert got[("a", 750)] == 70
    assert got[("a", 950)] == 80        # floor(0.95*8)=7 -> value 80
    # singleton group: every quantile is the one value
    assert got[("b", 250)] == 7 and got[("b", 950)] == 7


def test_group_quantiles_ties_and_skew_shape(spark):
    """Ties collapse into one histogram bucket (same answer as the old
    per-group row sort: the lowest-ranked duplicate), and the plan carries
    no row_number window over the raw rows — the skew fix for a dominant
    group."""
    from poc_document_ocr_spark.operators.sampling import group_quantiles

    # group 'a' dominated by value 5 (ties), n=10 -> idx(0.5*9)=4 -> 5
    rows = [("a", i, 5) for i in range(8)] + [
        ("a", 8, 1), ("a", 9, 9),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    q = group_quantiles(df, qs=(0.0, 0.5, 1.0))
    got = {(r.lang, r.q): r.value for r in q.collect()}
    assert got[("a", 0)] == 1
    assert got[("a", 500)] == 5
    assert got[("a", 1000)] == 9
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan


def test_group_quantiles_approx_matches_exact(spark):
    """The one-pass approx_percentile twin returns actual data values
    within the sketch's rank-error bound of the exact path — here (narrow
    distinct domain, high accuracy) it matches the exact answer."""
    from poc_document_ocr_spark.operators.sampling import (
        group_quantiles,
        group_quantiles_approx,
    )

    rows = [("a", i, (i % 37) + 1) for i in range(500)] + [
        ("b", i, i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    exact = {
        (r.lang, r.q): r.value for r in group_quantiles(df).collect()
    }
    approx = {
        (r.lang, r.q): r.value
        for r in group_quantiles_approx(df).collect()
    }
    assert exact.keys() == approx.keys()
    for key, v in exact.items():
        assert abs(approx[key] - v) <= 1, (key, v, approx[key])


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


def test_corpus_curation_ladder_composes(spark):
    """End-to-end composition of the curation ladder: quality gate ->
    exact-dup keepers -> near-dup cluster keepers -> deterministic split
    -> shard -> pack. Asserts the invariants a production pass relies on,
    at two different parallelism levels."""
    from poc_document_ocr_spark.operators.dedup import (
        connected_components,
        exact_dedup_groups,
    )
    from poc_document_ocr_spark.operators.sampling import (
        hash_split,
        pack_contiguous,
        shard_assign,
    )

    base = [
        (i, "the quick brown fox jumps over dog number " + " ".join(
            f"w{(i * 7 + j) % 19}" for j in range(20)))
        for i in range(40)
    ]
    # exact copies of 0-9 at +100, near-copies of 10-19 at +200
    rows = (
        base
        + [(i + 100, t) for i, t in base[:10]]
        + [(i + 200, t + " tail") for i, t in base[10:20]]
        + [(300, "x"), (301, "")]          # low-quality junk
    )
    docs = _docs(spark, rows)

    # 1. quality gate: junk drops, real docs survive
    from poc_document_ocr_spark.operators.textstats import quality_score

    kept = quality_score(docs).filter(F.col("keep")).select("doc_id")
    kept_ids = {r.doc_id for r in kept.collect()}
    assert 300 not in kept_ids and 301 not in kept_ids
    assert set(range(40)) <= kept_ids

    # 2. exact dedup: each copied text keeps exactly its min doc_id
    groups = exact_dedup_groups(docs.join(kept, "doc_id"))
    for r in groups.filter(F.col("n_copies") > 1).collect():
        assert r.keeper_id < 100
    # 3. near-dup clustering over shingle-LSH pairs: near-copies cluster
    #    with their source, keeper = min id
    pairs = lsh_candidate_pairs(
        minhash_signatures(word_shingles(docs.join(kept, "doc_id")))
    )
    comp = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    for i in range(10, 20):
        if (i + 200) in comp:               # near-copy clustered
            assert comp[i + 200] == comp.get(i, comp[i + 200])

    # 4. carve the deduped survivors; determinism across repartition
    survivors = docs.join(kept, "doc_id").filter(F.col("doc_id") < 100)
    split_a = {
        r.doc_id: r.split
        for r in hash_split(survivors, {"train": 0.8, "val": 0.2}).collect()
    }
    split_b = {
        r.doc_id: r.split
        for r in hash_split(
            survivors.repartition(11), {"train": 0.8, "val": 0.2}
        ).collect()
    }
    assert split_a == split_b

    # 5. shard + pack: every pack (except possibly each shard's last) is
    #    over budget only by at most one straddling doc
    with_tokens = survivors.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    packed = pack_contiguous(
        shard_assign(with_tokens, n_shards=4), budget=60
    ).collect()
    tot = {}
    for r in packed:
        tot.setdefault((r.shard, r.pack_id), 0)
        tot[(r.shard, r.pack_id)] += r.n_tokens
    max_doc = max(r.n_tokens for r in packed)
    for (s, p), t in tot.items():
        assert t < 60 + max_doc             # straddle bound, never runaway


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


def test_mixture_weights_upsamples_low_resource(spark):
    from poc_document_ocr_spark.operators.sampling import mixture_weights

    # en: 4 docs × 4 tokens = 16; fr: 1 doc × 1 token
    df = spark.createDataFrame(
        [(i, "en", "a b c d") for i in range(4)] + [(9, "fr", "a")],
        "doc_id long, lang string, text string",
    )
    rows = {r["lang"]: r for r in mixture_weights(df).collect()}
    assert rows["en"]["n_tokens"] == 16 and rows["fr"]["n_tokens"] == 1
    # natural shares in ppm (integer floor division)
    assert rows["en"]["p_ppm"] == 16 * 1_000_000 // 17
    assert rows["fr"]["p_ppm"] == 1 * 1_000_000 // 17
    # sqrt temperature: weights ∝ 4e6 : 1e6 → 800000 : 200000 ppm
    assert rows["en"]["w_ppm"] == 800_000
    assert rows["fr"]["w_ppm"] == 200_000
    # low-resource fr is up-sampled (>1×), high-resource en down-sampled
    assert rows["fr"]["up_x1000"] > 1000 > rows["en"]["up_x1000"]


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


def test_kmeans_lloyd_recovers_clusters_and_is_partitioning_invariant(
    spark,
):
    from poc_document_ocr_spark.operators.similarity import kmeans_lloyd

    # two tight clusters around (+1, ...) and (-1, ...); seeds are the two
    # lowest ids (one from each cluster by construction)
    rows = []
    for i in range(8):
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base + 0.01 * (i // 2), base, 0.0, base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {r["vec_id"]: r for r in kmeans_lloyd(df, k=2, iters=2).collect()}
    evens = {out[i]["cell"] for i in range(0, 8, 2)}
    odds = {out[i]["cell"] for i in range(1, 8, 2)}
    assert evens == {0} and odds == {1}
    assert all(out[i]["dist"] >= 0 for i in out)

    # byte-identical under a different partitioning (the determinism the
    # integer quantization buys)
    out2 = {
        r["vec_id"]: r
        for r in kmeans_lloyd(df.repartition(7), k=2, iters=2).collect()
    }
    assert {i: (r["cell"], r["dist"]) for i, r in out.items()} == {
        i: (r["cell"], r["dist"]) for i, r in out2.items()
    }


def test_kmeans_arrow_assignment_equals_unrolled(spark, monkeypatch):
    """The large-k Arrow matmul path must produce the EXACT (cell, dist)
    the unrolled-literal path produces — same int64 arithmetic, same
    lowest-index tie-break — so the formulation switch can never change
    a k-means result."""
    import poc_document_ocr_spark.operators.similarity as S

    rows = [
        (i, [((i * 37 + d * 11) % 101) / 50.0 - 1.0 for d in range(16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # default is the Arrow matmul (threshold 0); force the unrolled
    # branch explicitly for its side of the comparison
    monkeypatch.setattr(S, "_UNROLL_MAX_TERMS", 10**9)
    unrolled = {
        r["vec_id"]: (r["cell"], r["dist"])
        for r in S.kmeans_lloyd(df, k=5, iters=2).collect()
    }
    monkeypatch.setattr(S, "_UNROLL_MAX_TERMS", 0)
    arrow = {
        r["vec_id"]: (r["cell"], r["dist"])
        for r in S.kmeans_lloyd(df, k=5, iters=2).collect()
    }
    assert unrolled == arrow
    assert len({c for c, _ in unrolled.values()}) > 1


def test_kmeans_lloyd_empty_cell_keeps_seed(spark):
    from poc_document_ocr_spark.operators.similarity import kmeans_lloyd

    # all points identical → every vector lands in cell 0 forever; cell 1
    # goes empty on update and must keep its seed without erroring
    df = spark.createDataFrame(
        [(i, [0.5, 0.5]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_lloyd(df, k=2, iters=2).collect()
    assert {r["cell"] for r in out} == {0}
    assert all(r["dist"] == 0 for r in out)


def test_cross_split_leakage_flags_cross_split_dups_only(spark):
    from poc_document_ocr_spark.operators.dedup import cross_split_leakage
    from poc_document_ocr_spark.operators.sampling import _hex_threshold

    # pick two ids landing in different halves of the hash space (the
    # split is a pure function of (id, seed), so choose fixture ids by
    # computing the same key here)
    thr = _hex_threshold(0.5)
    key = lambda i: hashlib.md5(f"{i}:0".encode()).hexdigest()[:8]
    lo = next(i for i in range(100) if key(i) < thr)
    hi = next(i for i in range(100) if key(i) >= thr)
    lo2 = next(i for i in range(100) if key(i) < thr and i != lo)
    df = _docs(
        spark,
        [
            (lo, "Shared   Text"),      # same normalized content,
            (hi, "shared text"),        # different splits → leak
            (lo2, "same side only"),
            (99999, "unique content"),
        ],
    )
    out = cross_split_leakage(df, {"a": 0.5, "b": 0.5}).collect()
    assert len(out) == 1
    r = out[0]
    assert r["fingerprint"] == hashlib.md5(b"shared text").hexdigest()
    assert (r["n_docs"], r["n_splits"], r["splits"]) == (2, 2, "a|b")
    assert r["first_doc"] == min(lo, hi)


def test_curation_funnel_stage_counts(spark):
    from poc_document_ocr_spark.operators.sampling import curation_funnel

    df = _docs(
        spark,
        [
            (1, "good clean prose with enough words here"),
            (2, "Good   clean prose with enough words here"),  # dup of 1
            (3, "spam spam spam spam junk junk junk here"),    # blocklisted
            (4, "x"),                                          # quality drop
            (5, "another perfectly fine document with words"),
        ],
    )
    rows = curation_funnel(df, {"train": 1.0}).collect()
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r)
    assert by_stage["raw"][0]["n_docs"] == 5
    assert by_stage["quality"][0]["n_docs"] == 4      # drops 4
    assert by_stage["blocklist"][0]["n_docs"] == 3    # drops 3
    assert by_stage["dedup"][0]["n_docs"] == 2        # 1≡2 collapse
    finals = {r["split"]: r["n_docs"] for r in by_stage["final"]}
    assert finals == {"train": 2}
    # dedup keeps the min-id copy: the train split must be computed from
    # ids {1, 5}, not {2, 5} — both land in train under weight 1.0 anyway,
    # so additionally pin the monotone funnel property
    ns = [by_stage[s][0]["n_docs"]
          for s in ("raw", "quality", "blocklist", "dedup")]
    assert ns == sorted(ns, reverse=True)


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


def test_sliding_counts_each_event_in_two_windows(spark):
    from poc_document_ocr_spark.operators.events import (
        sliding_event_counts,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:40:00", "click")],
        "event_id long, ts string, event_type string",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type")
    rows = sorted(
        (r["window_start"], r["n_events"])
        for r in sliding_event_counts(df).collect()
    )
    assert rows == [
        ("2024-01-01 10:00:00", 1),
        ("2024-01-01 10:30:00", 1),
    ]


def test_trending_top_k_and_tiebreak(spark):
    from poc_document_ocr_spark.operators.events import (
        trending_event_types,
    )

    rows = [
        (i, "2024-01-01 10:0%d:00" % (i % 6), t)
        for i, t in enumerate(
            ["a"] * 3 + ["b"] * 2 + ["c"] * 2 + ["d"] * 1
        )
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type")
    got = [
        (r["event_type"], r["n_events"], r["rnk"])
        for r in sorted(
            trending_event_types(df, k=3).collect(),
            key=lambda r: r["rnk"],
        )
    ]
    # a(3) first; b and c tie at 2 → alphabetical; d pruned by k=3
    assert got == [("a", 3, 1), ("b", 2, 2), ("c", 2, 3)]


def test_value_histogram_bins_and_shares(spark):
    from poc_document_ocr_spark.operators.events import value_histogram

    df = spark.createDataFrame(
        [(1, 0.5), (2, 4.99), (3, 5.0), (4, 12.0)],
        "event_id long, value double",
    )
    rows = {r["bin"]: r for r in value_histogram(df).collect()}
    assert rows[0]["n"] == 2 and (rows[0]["lo"], rows[0]["hi"]) == (0.0, 5.0)
    assert rows[1]["n"] == 1   # 5.0 lands in [5, 10)
    assert rows[2]["n"] == 1
    assert rows[0]["n_ppm"] == 2 * 1_000_000 // 4


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


def test_length_trim_bounds_per_group(spark):
    from poc_document_ocr_spark.operators.sampling import length_trim

    # en lengths 1..20 → p5 idx floor(.05*19)=0 → lo=1; p95 idx
    # floor(.95*19)=18 → hi=19; so 20 is trimmed, everything else kept.
    # fr has a single row: both bounds equal its value → kept.
    rows = [(i, "en", i) for i in range(1, 21)] + [(100, "fr", 7)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, n_tokens long"
    )
    out = {r["doc_id"]: r for r in length_trim(df).collect()}
    assert (out[1]["lo_v"], out[1]["hi_v"]) == (1, 19)
    assert out[1]["keep"] and out[19]["keep"]
    assert not out[20]["keep"]
    assert out[100]["keep"] and out[100]["lo_v"] == 7


def test_semantic_dedup_prunes_within_cells_keeps_farthest(spark):
    from poc_document_ocr_spark.operators.similarity import semantic_dedup

    # two tight direction-clusters (the k-means cells) — within the first,
    # ids 0/2/4 are near-identical (cos ≈ 1 → one dedup cluster) while id 6
    # points elsewhere inside the same cell; the second cell (odd ids) has
    # no near-identical members at tau=0.95
    rows = []
    for i in (0, 2, 4):
        rows.append((i, [1.0, 0.001 * i, 0.0, 1.0]))
    rows.append((6, [1.0, 0.9, 0.0, 0.2]))
    odd_dirs = {1: [0.0, 0.0], 3: [2.0, 0.0], 5: [0.0, 2.0], 7: [-2.0, 0.0]}
    for i in (1, 3, 5, 7):
        rows.append((i, [-1.0, odd_dirs[i][0], odd_dirs[i][1], -1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, k=2, iters=2, tau=0.95).collect()
    }
    assert len(out) == 8
    # the near-identical trio forms ONE cluster...
    assert len({out[i]["component"] for i in (0, 2, 4)}) == 1
    assert all(out[i]["cluster_size"] == 3 for i in (0, 2, 4))
    # ...whose canon is the member farthest from the cell centroid (the
    # SemDeDup keep-low-similarity convention); 6 drags the centroid, so
    # the trio's extreme member 0 or 4 wins — never the middle one (2)
    canon = {out[i]["canon_id"] for i in (0, 2, 4)}
    assert len(canon) == 1 and canon < {0, 4}
    assert sum(out[i]["is_canon"] for i in (0, 2, 4)) == 1
    # every other vector is a singleton that keeps itself
    for i in (1, 3, 5, 6, 7):
        assert out[i]["cluster_size"] == 1 and out[i]["is_canon"]
    # components never span cells (pairs are generated within cells only)
    for comp in {r["component"] for r in out.values()}:
        cells = {r["cell"] for r in out.values() if r["component"] == comp}
        assert len(cells) == 1


def test_cell_pairs_matmul_equals_join_impl(spark):
    """The per-cell numpy Gram pair stage and the cell-equi-join twin
    implement the SAME integer predicate — identical pair sets on a
    corpus with near-duplicates, orthogonals, negatives, and a zero
    vector (which must never pair)."""
    from poc_document_ocr_spark.operators.similarity import (
        _cell_similar_pairs,
    )

    rows = []
    for i in range(60):
        base = [1.0, 0.5 * (i % 3), 0.25 * (i % 5), -1.0]
        rows.append((i, i % 4, [c + 0.001 * (i % 7) for c in base]))
    rows.append((100, 0, [0.0, 0.0, 0.0, 0.0]))  # zero vector
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<float>"
    )
    for tau_ppk in (350, 900, 990):
        mm = {
            (r["id_a"], r["id_b"])
            for r in _cell_similar_pairs(df, tau_ppk, impl="matmul").collect()
        }
        jn = {
            (r["id_a"], r["id_b"])
            for r in _cell_similar_pairs(df, tau_ppk, impl="join").collect()
        }
        assert mm == jn, f"tau_ppk={tau_ppk}: {mm ^ jn}"
        assert all(100 not in p for p in mm)  # zero vector never pairs
        assert mm  # non-degenerate


def test_cell_pairs_exact_threshold_boundary(spark):
    """At tau_ppk=1000 (cos ≥ 1.000) only EXACTLY-parallel vectors pair
    — the equality case lands on the integer boundary dot²·10⁶ ==
    tau²·na·nb, which float cosine cannot decide reliably; both impls
    must include it (≥, not >) and exercise the matmul impl's
    borderline Python-int arbitration."""
    from poc_document_ocr_spark.operators.similarity import (
        _cell_similar_pairs,
    )

    # dyadic components → floor(x·10⁶) is exact; 1 ∥ 2 (scaled copy),
    # 3 near-parallel but not parallel
    rows = [
        (1, 0, [1.0, 0.5, -0.25]),
        (2, 0, [2.0, 1.0, -0.5]),
        (3, 0, [1.0, 0.5, -0.250001]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    for impl in ("matmul", "join"):
        got = {
            (r["id_a"], r["id_b"])
            for r in _cell_similar_pairs(df, 1000, impl=impl).collect()
        }
        assert got == {(1, 2)}, f"{impl}: {got}"


def test_cell_pairs_auto_routes_hot_cells_to_join(spark):
    """The auto impl enforces the cell-size contract at runtime
    (VERDICT r4 "what's wrong" #1): a planted hot cell above
    ``matmul_max_cell`` routes to the AQE-splittable join branch while
    small cells keep the matmul fold — output set-equal to both pure
    impls, and the executed plan carries BOTH branch shapes unioned."""
    from poc_document_ocr_spark.operators.similarity import (
        _cell_similar_pairs,
    )

    # adversarial centroid collapse: 40 of 48 vectors share cell 0
    rows = []
    for i in range(40):
        rows.append((i, 0, [1.0, 0.001 * i, -0.5, 0.25]))
    for i in range(40, 48):
        rows.append((i, 1 + i % 3, [0.5, 1.0, 0.125 * (i % 4), -1.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in _cell_similar_pairs(df, 900, impl="join").collect()
    }
    auto = _cell_similar_pairs(df, 900, impl="auto", matmul_max_cell=16)
    got = {(r["id_a"], r["id_b"]) for r in auto.collect()}
    assert got == want
    assert got == {
        (r["id_a"], r["id_b"])
        for r in _cell_similar_pairs(df, 900, impl="matmul").collect()
    }
    plan = auto._sc._jvm.PythonSQLUtils.explainString(
        auto._jdf.queryExecution(), "formatted"
    )
    # both branches present: the matmul fold (FlatMapGroupsInPandas)
    # AND the cell-equi join, unioned; never a cartesian product
    assert "FlatMapGroupsInPandas" in plan
    assert "Union" in plan
    assert "Join" in plan or "SortMergeJoin" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_semantic_dedup_auto_equals_forced_impls_under_skew(spark):
    """End-to-end: semantic_dedup over a corpus whose k-means clustering
    collapses (many near-identical vectors → one hot cell) returns
    identical (component, canon) output under pairs_impl auto / matmul /
    join — the routed union composes with connected components and the
    keep-farthest policy exactly like either pure branch."""
    from poc_document_ocr_spark.operators import similarity as sim

    rows = []
    for i in range(60):  # one dense family → one hot cell under k=2
        rows.append((i, [1.0, 0.5, -0.25, 0.0001 * i]))
    for i in range(60, 70):
        rows.append((i, [-1.0, 1.0, 0.5 * (i % 3), 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # force the auto split to exercise BOTH branches: a 16-row cell cap
    # routes the ~60-row hot cell to join while small cells stay matmul
    outs = {}
    for impl in ("auto", "matmul", "join"):
        res = sim.semantic_dedup(
            df, k=2, iters=2, tau=0.98, pairs_impl=impl,
            matmul_max_cell=16 if impl == "auto" else None,
        )
        outs[impl] = {
            (r["vec_id"], r["component"], r["canon_id"], r["is_canon"])
            for r in res.collect()
        }
    assert outs["auto"] == outs["matmul"] == outs["join"]
    assert len(outs["auto"]) == 70
    # the dense family actually clustered (the test is not vacuous)
    comps = {c for _, c, _, _ in outs["auto"]}
    assert len(comps) < 70


def test_cell_pairs_duplicate_ids_never_emit_degenerate_pair(spark):
    """Duplicate vec_ids within a cell: the matmul fold must not emit a
    degenerate (x, x) pair via min/max of identical ids — parity with
    the join impl's strict id_a < id_b (ADVICE r4)."""
    from poc_document_ocr_spark.operators.similarity import (
        _cell_similar_pairs,
    )

    rows = [
        (7, 0, [1.0, 0.5, -0.25]),
        (7, 0, [1.0, 0.5, -0.25]),  # same id, near-identical vector
        (9, 0, [1.0, 0.5, -0.2500001]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    for impl in ("matmul", "join"):
        got = {
            (r["id_a"], r["id_b"])
            for r in _cell_similar_pairs(df, 990, impl=impl).collect()
        }
        assert all(a != b for a, b in got), f"{impl}: {got}"
        assert got == {(7, 9)}, f"{impl}: {got}"


def test_similarity_impl_params_validated(spark):
    """Unrecognized impl strings raise instead of silently selecting a
    default path (ADVICE r4); tau finer than ppk resolution raises."""
    import pytest as _pytest

    from poc_document_ocr_spark.operators.similarity import (
        _cell_similar_pairs,
        emb_dim_profile,
        semantic_dedup,
    )

    df = spark.createDataFrame(
        [(1, 0, [1.0, 0.5])], "vec_id long, cell int, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="unknown impl"):
        _cell_similar_pairs(df, 900, impl="Join")
    with _pytest.raises(ValueError, match="unknown impl"):
        emb_dim_profile(df, impl="gram")
    with _pytest.raises(ValueError, match="parts-per-thousand"):
        semantic_dedup(df.drop("cell"), k=2, tau=0.3456)


def test_semantic_dedup_size_targeted_default_k(spark):
    """k=None sizes the cell count to the corpus (SemDeDup's constant-
    cell-size construction) — floor of 4 cells on small inputs, and the
    result still prunes the planted near-dup pair."""
    from poc_document_ocr_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.5, -0.25, 0.0]),
        (2, [1.0, 0.5, -0.25, 0.0]),  # exact dup of 1 → same cell always
        (3, [-1.0, 0.5, 0.25, 1.0]),
        (4, [0.0, -1.0, 1.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(df, tau=0.99).collect()}
    assert len(out) == 4
    comp = {out[1]["component"], out[2]["component"]}
    assert len(comp) == 1  # 1 and 2 clustered
    assert out[1]["cluster_size"] == 2
    assert sum(1 for r in out.values() if not r["is_canon"]) == 1


def test_dim_partials_preserve_group_type(spark):
    """source_affinity/source_centroids over an INTEGER group column
    return the original type, not a silent string coercion (ADVICE r4)."""
    from poc_document_ocr_spark.operators.similarity import source_affinity

    rows = []
    for s in (10, 20):
        for i in range(4):
            rows.append((s * 100 + i, s, [float(s), 0.5 * i, -1.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = source_affinity(df, group_col="label")
    types = dict(out.dtypes)
    assert types["source_a"] == "int" and types["source_b"] == "int"
    got = out.collect()
    assert len(got) == 1 and got[0]["source_a"] == 10


def test_apply_mixture_downsamples_only_overrepresented(spark):
    from poc_document_ocr_spark.operators.sampling import apply_mixture

    # language A dominates token mass; B is the low-resource tail
    rows = [(i, "A", "w " * 50) for i in range(90)]
    rows += [(1000 + i, "B", "w " * 10) for i in range(10)]
    df = spark.createDataFrame(
        [(i, l, t.strip()) for i, l, t in rows],
        "doc_id long, lang string, text string",
    )
    out = {r["lang"]: r for r in apply_mixture(df).collect()}
    a, b = out["A"], out["B"]
    # under-represented language keeps EVERYTHING and is marked up-sampled
    assert b["n_docs_kept"] == b["n_docs_in"] == 10
    assert b["up_x1000"] > 1000
    # over-represented language is strictly downsampled, near its target:
    # kept/in ≈ up_x1000/1000 (hash granularity ±, but never above target
    # by more than the binomial spread at n=90)
    assert a["up_x1000"] < 1000
    assert 0 < a["n_docs_kept"] < a["n_docs_in"]
    # determinism: same input → identical kept counts
    out2 = {r["lang"]: r for r in apply_mixture(df).collect()}
    assert {k: v["n_docs_kept"] for k, v in out.items()} == {
        k: v["n_docs_kept"] for k, v in out2.items()
    }


def test_cosine_topk_large_query_side_raises_with_capped_probe(spark):
    """The small-query contract raises past max_queries, and the guard is
    a capped probe (limit(max+1)) — it must not re-execute the full query
    lineage just to count it."""
    rows = [(i, [1.0, float(i)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(df, df, k=2, max_queries=10)
    # at the bound it still runs
    out = cosine_topk(df, df.filter(F.col("vec_id") < 3), k=2,
                      max_queries=3).collect()
    assert len(out) == 6


def test_lock_checkout_malformed_hold_denies_not_null(spark):
    """A lock row with a holder but a NULL timestamp must DENY a stranger's
    checkout with granted=false — not propagate NULL through the staleness
    arithmetic (review finding: boolean consumers filtering granted=false
    would silently miss the row)."""
    from poc_document_ocr_spark.operators.review import resolve_lock_requests

    locks = spark.createDataFrame(
        [("d1", "other@x", None, None, None)],
        "doc_key string, checked_out_by string, checked_out_at long, "
        "last_checked_in_by string, last_checked_in_at long",
    )
    requests = spark.createDataFrame(
        [("d1", 1, "me@x", "checkout", 1000)],
        "doc_key string, seq int, reviewer string, action string, "
        "req_ts long",
    )
    r = resolve_lock_requests(locks, requests).collect()[0]
    assert r["granted"] is False and r["reason"] == "held"
    assert r["held_by"] == "other@x"


def test_curriculum_order_is_exact_interleaved_permutation(spark):
    """curriculum_pos must be a permutation of 1..N equal to the rank of
    (src_rank, source) in lexicographic order — the closed-form interleave
    must match the order-by it replaces."""
    from poc_document_ocr_spark.operators.sampling import curriculum_order

    rows = [
        (i, f"src{i % 3}", (i * 7919) % 40 + (1 if i % 3 == 0 else 0))
        for i in range(60)
    ]
    # skewed source: src0 gets 20 extra docs
    rows += [(100 + i, "src0", (i * 31) % 40) for i in range(20)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    out = curriculum_order(df).collect()
    n = len(rows)
    assert sorted(r["curriculum_pos"] for r in out) == list(range(1, n + 1))
    # closed form == explicit sort by (src_rank, source)
    explicit = sorted(out, key=lambda r: (r["src_rank"], r["source"]))
    for pos, r in enumerate(explicit, start=1):
        assert r["curriculum_pos"] == pos
    # per-source ranks are dense 1..cnt
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["src_rank"])
    for s, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), s


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


def test_k_anonymity_bands(spark):
    from poc_document_ocr_spark.operators.sampling import k_anonymity

    rows = (
        [(i, "s1", "en", 10) for i in range(12)]  # one group of 12
        + [(100, "s2", "en", 10)]  # unique
        + [(200 + i, "s3", "fr", 10) for i in range(3)]  # rare (3)
    )
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    )
    out = {r["risk_band"]: r for r in k_anonymity(df).collect()}
    assert out["anonymous"]["n_groups"] == 1
    assert out["anonymous"]["n_docs"] == 12
    assert out["unique"]["n_docs"] == 1
    assert out["rare"]["n_docs"] == 3


def test_heaps_law_no_overflow_on_large_ids(spark):
    """Bucketing must divide first: multiply-first overflows BIGINT under
    ANSI mode once ids approach 2^63/buckets (the mixture_weights
    overflow class from the round-3 advisory)."""
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


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from poc_document_ocr_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),   # same label as q0 -> never a negative
        (2, [0.9, 0.4], 1),    # closest different-label
        (3, [0.0, 1.0], 1),    # orthogonal different-label
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    got = sorted((r["rank"], r["n_id"], r["n_label"]) for r in out)
    assert got == [(1, 2, 1), (2, 3, 1)]
    assert all(r["q_label"] == 0 for r in out)


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


def test_curriculum_closed_form_property(spark):
    """Property check over randomized skew shapes: for ANY (source,
    n_chars) distribution — including heavy duplicates and single-source
    corpora — the closed-form interleave equals the rank of
    (src_rank, source) under an explicit lexicographic sort."""
    from hypothesis import given, settings, strategies as st

    from poc_document_ocr_spark.operators.sampling import curriculum_order

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(st.sampled_from(["a", "b", "c", "dd"]),
                      st.integers(min_value=0, max_value=5)),
            min_size=1, max_size=40,
        )
    )
    def prop(pairs):
        rows = [(i, src, n) for i, (src, n) in enumerate(pairs)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        )
        out = curriculum_order(df).collect()
        assert sorted(r["curriculum_pos"] for r in out) == list(
            range(1, len(rows) + 1)
        )
        explicit = sorted(out, key=lambda r: (r["src_rank"], r["source"]))
        for pos, r in enumerate(explicit, start=1):
            assert r["curriculum_pos"] == pos

    prop()


# ---------------------------------------------------------------------------
# round-4 session-4 ops: Bradley-Terry, refusal, novelty, epochs, screen
# ---------------------------------------------------------------------------


def test_bt_strength_exact_integer_mm(spark):
    """Pin the two MM updates against a pure-Python replay of the same
    ppm integer arithmetic on a hand-sized match table: A beats B twice
    and C once, B beats A once. Strengths must come out A > B > C with
    the exact normalized ppm values."""
    from poc_document_ocr_spark.operators.preference import bt_strength

    matches = spark.createDataFrame(
        [("A", "B"), ("A", "B"), ("B", "A"), ("A", "C")],
        "winner string, loser string",
    )
    out = {r["variant"]: r for r in bt_strength(matches, iters=2).collect()}

    n_ij = {("A", "B"): 3, ("B", "A"): 3, ("A", "C"): 1, ("C", "A"): 1}
    wins = {"A": 3, "B": 1, "C": 0}
    s = {"A": 1_000_000, "B": 1_000_000, "C": 1_000_000}
    for _ in range(2):
        denom = {
            i: sum(
                n * 1_000_000 // (s[i] + s[j])
                for (pi, j), n in ((k, v) for k, v in n_ij.items())
                if pi == i
            )
            for i in s
        }
        raw = {i: wins[i] * 1_000_000 // max(denom[i], 1) for i in s}
        tot = sum(raw.values())
        s = {i: raw[i] * (len(s) * 1_000_000) // tot for i in s}

    assert out["A"]["n_matches"] == 4 and out["A"]["n_wins"] == 3
    assert out["B"]["n_matches"] == 3 and out["B"]["n_wins"] == 1
    assert out["C"]["n_matches"] == 1 and out["C"]["n_wins"] == 0
    for v in ("A", "B", "C"):
        assert out[v]["strength_ppm"] == s[v], v
    assert (
        out["A"]["strength_ppm"]
        > out["B"]["strength_ppm"]
        > out["C"]["strength_ppm"]
    )


def test_assistant_matches_pairing_and_ties(spark):
    """Consecutive assistant turns pair within a conversation; longer
    text wins, ties go to the earlier turn, same-variant pairs drop, and
    NULL text counts as empty."""
    from poc_document_ocr_spark.operators.preference import (
        assistant_matches,
    )

    t = spark.createDataFrame(
        [
            ("c1", 1, "assistant", "m0", "longer text here"),
            ("c1", 2, "user", "m1", "ignored"),
            ("c1", 3, "assistant", "m1", "short"),
            ("c1", 4, "assistant", "m1", "same variant -> no match"),
            ("c1", 5, "assistant", "m2", None),
            ("c2", 1, "assistant", "m0", "tie"),
            ("c2", 2, "assistant", "m1", "tie"),
        ],
        "conv_id string, turn_idx int, role string, variant string,"
        " text string",
    )
    got = sorted(
        (r["winner"], r["loser"]) for r in assistant_matches(t).collect()
    )
    # c1: (m0 len16 vs m1 len5) -> m0; (m1 vs m1) dropped;
    #     (m1 len25 vs m2 NULL->0) -> m1. c2: tie -> earlier (m0).
    assert got == [("m0", "m1"), ("m0", "m1"), ("m1", "m2")]


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


def test_epoch_schedule_decomposition(spark):
    from poc_document_ocr_spark.operators.sampling import (
        epoch_schedule,
        mixture_weights,
    )

    df = spark.createDataFrame(
        [(1, "en", "w " * 400), (2, "yo", "w " * 4)],
        "doc_id long, lang string, text string",
    )
    mw = {r["lang"]: r for r in mixture_weights(df).collect()}
    out = {r["lang"]: r for r in epoch_schedule(df).collect()}
    for lang in ("en", "yo"):
        up = mw[lang]["up_x1000"]
        assert out[lang]["up_x1000"] == up
        assert out[lang]["full_epochs"] == up // 1000
        assert out[lang]["frac_x1000"] == up % 1000
        assert (
            out[lang]["planned_tokens"]
            == mw[lang]["n_tokens"] * up // 1000
        )
    # sqrt temperature up-samples the low-resource language
    assert out["yo"]["full_epochs"] >= 1 and out["en"]["up_x1000"] <= 1000


def test_cross_set_screen_flags_planted_neighbor(spark):
    from poc_document_ocr_spark.operators.similarity import (
        cross_set_screen,
    )

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    far = [0.0] * (dim - 1) + [1.0]
    corpus = spark.createDataFrame(
        [(1, base), (2, far)], "vec_id long, embedding array<float>"
    )
    probes = spark.createDataFrame(
        [(100, base)], "vec_id long, embedding array<float>"
    )
    planes = [
        [1.0] * dim,
        [1.0] * (dim // 2) + [-1.0] * (dim // 2),
    ]
    out = cross_set_screen(corpus, probes, planes, tau=0.9).collect()
    assert [(r["vec_id"], r["n_probe_hits"]) for r in out] == [(1, 1)]


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


def test_event_funnel_strict_ordering(spark):
    """Step i counts only users whose step-i event falls strictly after
    the first feasible step-(i-1) anchor; users entering mid-funnel
    never count."""
    from datetime import datetime

    from poc_document_ocr_spark.operators.events import event_funnel

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, "view", t(1)), (1, "click", t(2)), (1, "purchase", t(3)),
        (2, "click", t(3)), (2, "view", t(5)),       # click precedes view
        (3, "view", t(1)), (3, "click", t(2)),       # no purchase
        (4, "purchase", t(1)),                       # enters mid-funnel
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r["step_idx"]: r for r in event_funnel(ev).collect()}
    assert [out[i]["n_users"] for i in range(3)] == [3, 2, 1]
    assert out[0]["conv_from_prev_ppm"] == 1_000_000
    assert out[1]["conv_from_prev_ppm"] == 666_666
    assert out[2]["conv_from_prev_ppm"] == 500_000
    assert out[2]["conv_from_first_ppm"] == 333_333


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


def test_group_sample_k_deterministic_fixed_size(spark):
    """Exactly k rows per group, ranks 1..k, byte-identical across
    calls, different seed draws a different sample."""
    from poc_document_ocr_spark.operators.sampling import group_sample_k

    df = spark.createDataFrame(
        [(i % 2, i) for i in range(60)], "src long, doc_id long"
    )
    s1 = group_sample_k(df, "src", 5, seed=0).collect()
    s2 = group_sample_k(df, "src", 5, seed=0).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    by_src = {}
    for r in s1:
        by_src.setdefault(r["src"], []).append(r["sample_rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_src.values())
    s3 = group_sample_k(df, "src", 5, seed=1).collect()
    assert {r["doc_id"] for r in s3} != {r["doc_id"] for r in s1}


def test_cluster_split_zero_leakage(spark):
    """Every near-dup candidate pair lands in ONE split (the property
    doc-hash splitting violates), and every member of a component gets
    its component's label."""
    from poc_document_ocr_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from poc_document_ocr_spark.operators.sampling import hash_split

    base = [
        (i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(30)))
        for i in range(40)
    ]
    near = [(i + 1000, t + " tail") for i, t in base if i % 2 == 0]
    corpus = spark.createDataFrame(base + near, "doc_id long, text string")
    pairs = lsh_candidate_pairs(minhash_signatures(word_shingles(corpus)))
    comp = connected_components(pairs)
    comps = (
        corpus.select("doc_id")
        .join(comp, corpus["doc_id"] == comp["node"], "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("component")
        )
    )
    out = hash_split(
        comps, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="component"
    )
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    got_pairs = pairs.collect()
    assert len(got_pairs) >= 15  # the planted twins actually paired up
    for r in got_pairs:
        assert split_of[r["id_a"]] == split_of[r["id_b"]], (r, split_of)
    assert len(set(split_of.values())) >= 2  # splits actually differ


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


def test_mix_drift_report_exact_tvd(spark):
    from pyspark.sql import functions as F

    from poc_document_ocr_spark.operators.sampling import mix_drift_report

    # snapshot A: web 3, code 1  → shares 750000 / 250000 ppm
    # snapshot B: web 1, code 3  → shares 250000 / 750000 ppm
    # TVD = (|+500000| + |-500000|) / 2 = 500000 ppm
    df = spark.createDataFrame(
        [("web", True)] * 3 + [("code", True)]
        + [("web", False)] + [("code", False)] * 3,
        "source string, in_a boolean",
    )
    rows = {r["source"]: r for r in
            mix_drift_report(df, F.col("in_a")).collect()}
    assert rows["web"]["n_a"] == 3 and rows["web"]["n_b"] == 1
    assert rows["web"]["p_a_ppm"] == 750_000
    assert rows["web"]["delta_ppm"] == -500_000
    assert rows["code"]["delta_ppm"] == 500_000
    assert all(r["tvd_ppm"] == 500_000 for r in rows.values())


def test_mix_drift_report_empty_snapshot_no_divzero(spark):
    from pyspark.sql import functions as F

    from poc_document_ocr_spark.operators.sampling import mix_drift_report

    # all rows in snapshot A: p_b's total is zero — nullif turns the
    # ANSI div-by-zero abort into NULL shares, and the report still
    # returns one row per source
    df = spark.createDataFrame(
        [("web", True), ("code", True)], "source string, in_a boolean"
    )
    rows = mix_drift_report(df, F.col("in_a")).collect()
    assert len(rows) == 2
    assert all(r["p_b_ppm"] is None for r in rows)


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


def test_source_frequency_cap_caps_heavy_source(spark):
    from poc_document_ocr_spark.operators.sampling import (
        source_frequency_cap,
    )

    # heavy: 200 docs capped at 50 (keep_ppm 250000); light: 10 docs,
    # under the cap → keep_ppm 1000000 and everything kept
    rows = [(i, "heavy") for i in range(200)] + [
        (1000 + i, "light") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in source_frequency_cap(df, 50).collect()}
    assert out["heavy"]["n_docs_in"] == 200
    assert out["heavy"]["keep_ppm"] == 250_000
    # hash-binomial around 50; deterministic, loose envelope
    assert 25 <= out["heavy"]["n_docs_kept"] <= 80
    assert out["light"]["keep_ppm"] == 1_000_000
    assert out["light"]["n_docs_kept"] == 10


def test_source_frequency_cap_deterministic_and_composable(spark):
    from poc_document_ocr_spark.operators.sampling import source_cap_kept

    df = spark.createDataFrame(
        [(i, "s") for i in range(100)], "doc_id long, source string"
    )
    a = {r["doc_id"]: r["kept"] for r in source_cap_kept(df, 30).collect()}
    b = {
        r["doc_id"]: r["kept"]
        for r in source_cap_kept(df.repartition(7), 30).collect()
    }
    assert a == b  # pure function of (id, seed, counts)


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


def test_weighted_sample_k_exact_k_and_determinism(spark):
    from poc_document_ocr_spark.operators.sampling import weighted_sample_k

    rows = [(i, 1000 if i % 2 == 0 else 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w_ppm long")
    out = weighted_sample_k(df, k=50).collect()
    assert len(out) == 50
    # 1000:1 weights → the heavy class must dominate the pick
    heavy = sum(1 for r in out if r["weight"] == 1000)
    assert heavy >= 45
    # deterministic under repartitioning
    again = weighted_sample_k(df.repartition(7), k=50).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        r["doc_id"] for r in again
    )


def test_weighted_sample_k_excludes_nonpositive(spark):
    from poc_document_ocr_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 10)], "doc_id long, w_ppm long"
    )
    out = weighted_sample_k(df, k=10).collect()
    assert [r["doc_id"] for r in out] == [3]


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


def test_mix_concentration_hand_computed(spark):
    from poc_document_ocr_spark.operators.sampling import mix_concentration

    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "source string, w long"
    )
    (r,) = mix_concentration(df, weight_col="w").collect()
    assert r["n_groups"] == 3 and r["total_w"] == 4
    assert r["top1_ppm"] == 500_000
    # shares 250000,250000,500000 -> hhi = sum(sq) div 1e6
    assert r["hhi_ppm"] == (
        250_000**2 + 250_000**2 + 500_000**2
    ) // 1_000_000
    # sorted weights 1,1,2: iw = 9 -> (2*9 - 4*4) * 1e6 div 12
    assert r["gini_ppm"] == 2 * 1_000_000 // 12


def test_mix_concentration_uniform_and_count_weight(spark):
    from poc_document_ocr_spark.operators.sampling import mix_concentration

    rows = [(s,) for s in ["a", "b", "c", "d"] for _ in range(5)]
    df = spark.createDataFrame(rows, "source string")
    (r,) = mix_concentration(df).collect()  # weight = row count
    assert r["n_groups"] == 4 and r["total_w"] == 20
    assert r["gini_ppm"] == 0
    assert r["hhi_ppm"] == 250_000
    assert r["top1_ppm"] == 250_000


def test_padding_waste_pad_overflow_and_fill(spark):
    from poc_document_ocr_spark.operators.sampling import padding_waste

    rows = [
        ("s", 0, 1, 10),  # exactly at budget
        ("s", 1, 2, 4), ("s", 1, 3, 3),  # under: pad 3
        ("s", 2, 4, 13),  # over: overflow 3
    ]
    df = spark.createDataFrame(
        rows, "shard string, pack_id long, doc_id long, n_tokens long"
    )
    (r,) = padding_waste(df, budget=10).collect()
    assert r["n_packs"] == 3 and r["n_docs"] == 4
    assert r["used_tokens"] == 30 and r["capacity"] == 30
    assert r["pad_tokens"] == 3 and r["overflow_tokens"] == 3
    assert r["fill_ppm"] == 27 * 1_000_000 // 30


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


def test_bitext_mine_planted_pairs_mutual_and_guard(spark):
    """Identical-direction planted pairs must surface as mutual with a
    high margin; the exact-mode guard must reject an oversized side."""
    import pytest

    from poc_document_ocr_spark.operators.similarity import bitext_mine

    def e(i, scale=1.0, dim=8):
        v = [0.05] * dim
        v[i] = scale
        return v

    # a_0..a_3 aligned with b_0..b_3 (same direction, different scale —
    # cosine is scale-invariant); a_4/a_5 and b_4/b_5 are unaligned noise
    a = spark.createDataFrame(
        [(i, e(i)) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    b = spark.createDataFrame(
        [(i, e(i, 0.7)) for i in range(4)]
        + [(4, e(6)), (5, e(7))],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["src_id"]: r
        for r in bitext_mine(a, b, k=2, id_col="vec_id").collect()
    }
    for i in range(4):
        assert out[i]["tgt_id"] == i
        assert out[i]["mutual"] is True
        assert out[i]["cos_ppm"] >= 990_000
        assert out[i]["margin_ppm"] >= 1_050_000
    # the noise vectors have no aligned target and must not clear margin
    assert 4 not in out and 5 not in out

    with pytest.raises(ValueError, match="max_side"):
        bitext_mine(a, b, max_side=3)


def test_bitext_mine_candidates_path_equals_exact(spark):
    """The bucketed `candidates` path (the corpus-scale shape) must be
    byte-identical to exact mode when the candidate set is complete."""
    from poc_document_ocr_spark.operators.similarity import bitext_mine

    def vec(i):
        return [float((i * 7 + j * 3) % 11 - 5) + 0.01 for j in range(4)]

    a = spark.createDataFrame(
        [(i, vec(i)) for i in range(0, 20, 2)],
        "vec_id long, embedding array<float>",
    )
    b = spark.createDataFrame(
        [(i, vec(i + 1)) for i in range(1, 21, 2)],
        "vec_id long, embedding array<float>",
    )
    cands = (
        a.selectExpr("vec_id AS a_id")
        .crossJoin(b.selectExpr("vec_id AS b_id"))
    )
    exact = sorted(
        tuple(r) for r in bitext_mine(a, b, k=3, margin_threshold_ppm=0)
        .collect()
    )
    viacand = sorted(
        tuple(r)
        for r in bitext_mine(
            a, b, k=3, margin_threshold_ppm=0, candidates=cands
        ).collect()
    )
    assert exact == viacand and len(exact) > 0


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


def test_epoch_shuffle_reproducible_and_epoch_decorrelated(spark):
    """Same seed => identical audit; different epochs => different
    permutation fingerprints; counts conserve the corpus per epoch."""
    from poc_document_ocr_spark.operators.sampling import (
        epoch_shuffle_audit,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    a = epoch_shuffle_audit(docs, n_epochs=2, seed=7).collect()
    b = epoch_shuffle_audit(docs, n_epochs=2, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_epoch = {}
    for r in a:
        per_epoch.setdefault(r["epoch"], []).append(r)
    assert {e: sum(r["n_docs"] for r in rs) for e, rs in per_epoch.items()} \
        == {0: 200, 1: 200}
    # shard membership is epoch-independent, but the order inside a
    # shard is not: at least one shard's fingerprint must change
    fp0 = {r["shard"]: r["order_fp"] for r in per_epoch[0]}
    fp1 = {r["shard"]: r["order_fp"] for r in per_epoch[1]}
    assert set(fp0) == set(fp1)
    assert any(fp0[s] != fp1[s] for s in fp0)
    # and a different seed reshards
    c = epoch_shuffle_audit(docs, n_epochs=1, seed=8).collect()
    n7 = {r["shard"]: r["n_docs"] for r in per_epoch[0]}
    n8 = {r["shard"]: r["n_docs"] for r in c}
    assert n7 != n8


def test_maxlen_sweep_matches_padding_waste_pointwise(spark):
    """The sweep at a single budget equals padding_waste's global rollup
    at that budget — same packing, same accounting."""
    from poc_document_ocr_spark.operators.sampling import (
        maxlen_sweep,
        pack_contiguous,
        padding_waste,
        shard_assign,
    )

    docs = spark.createDataFrame(
        [(i, 7 + (i * 13) % 40) for i in range(300)],
        "doc_id long, n_tokens long",
    )
    sharded = shard_assign(docs, n_shards=4, seed=0)
    sweep = {
        r["budget"]: r
        for r in maxlen_sweep(sharded, budgets=(64, 128)).collect()
    }
    for b in (64, 128):
        packed = pack_contiguous(sharded, budget=b)
        pw = padding_waste(packed, budget=b).collect()
        want = {
            "n_packs": sum(r["n_packs"] for r in pw),
            "n_docs": sum(r["n_docs"] for r in pw),
            "used_tokens": sum(r["used_tokens"] for r in pw),
            "pad_tokens": sum(r["pad_tokens"] for r in pw),
            "overflow_tokens": sum(r["overflow_tokens"] for r in pw),
        }
        got = sweep[b]
        for k, v in want.items():
            assert got[k] == v, (b, k, got[k], v)
        assert got["capacity"] == got["n_packs"] * b
        # fill ppm: filled = used - overflow (tokens beyond budget are
        # exactly the ones not counted by least(tok, budget))
        filled = want["used_tokens"] - want["overflow_tokens"]
        assert got["fill_ppm"] == filled * 10**6 // got["capacity"]


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


def test_pack_mixing_purity_histogram(spark):
    """Hand-checked pack purity: sources co-packed within one shard
    roll up into the right n_sources bucket with exact token shares."""
    from poc_document_ocr_spark.operators.sampling import pack_mixing

    # single shard, ordered by doc_id; budget 10 cuts packs at
    # exclusive-prefix-sum 0..9 / 10..19 / ...
    rows = [
        (1, 0, "s1", 6),   # pack 0 (before=0)
        (2, 0, "s1", 3),   # pack 0 (before=6)
        (3, 0, "s2", 5),   # pack 0 (before=9) -> straddles, starts in 0
        (4, 0, "s2", 7),   # pack 1 (before=14)
        (5, 0, "s2", 2),   # pack 2 (before=21)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, shard int, source string, n_tokens long"
    )
    out = {r["n_sources"]: r for r in pack_mixing(docs, 10).collect()}
    # pack 0: s1=9, s2=5 -> 2 sources, 14 tokens, top 9
    # pack 1: s2=7 -> 1 source; pack 2: s2=2 -> 1 source
    assert out[2]["n_packs"] == 1
    assert out[2]["pack_tokens"] == 14
    assert out[2]["top_source_tokens"] == 9
    assert out[2]["purity_ppm"] == 9 * 10**6 // 14
    assert out[1]["n_packs"] == 2
    assert out[1]["pack_tokens"] == 9
    assert out[1]["top_source_tokens"] == 9
    assert out[1]["purity_ppm"] == 10**6


def test_data_budget_epochs_and_cap(spark):
    """Hand-checked epochs-to-exhaustion: demand = B·w_ppm div 1e6,
    epochs_x1000 = 1000·demand div available, cap flag exact."""
    from poc_document_ocr_spark.operators.sampling import (
        data_budget,
        mixture_weights,
    )

    rows = [
        ("en", " ".join(["w"] * 90)),   # 90 tokens
        ("fr", " ".join(["w"] * 10)),   # 10 tokens
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    w = {r["lang"]: r["w_ppm"] for r in mixture_weights(df).collect()}
    out = {
        r["lang"]: r
        for r in data_budget(
            df, budget_tokens=200, repeat_cap_x1000=4000
        ).collect()
    }
    for lang, avail in (("en", 90), ("fr", 10)):
        demand = w[lang] * 200 // 10**6
        r = out[lang]
        assert r["demand_tokens"] == demand
        assert r["epochs_x1000"] == demand * 1000 // avail
        assert r["over_cap"] == (r["epochs_x1000"] > 4000)
    # α=0.5 up-samples fr (w≈0.25 vs natural 0.10): the 200-token budget
    # demands ~5 epochs of fr's 10 tokens but only ~1.7 of en's 90
    assert out["fr"]["over_cap"] is True
    assert out["en"]["over_cap"] is False


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


def test_emb_dim_profile_exact(spark):
    """Hand-checked micro-unit² variance, dead flag, and variance
    share on a 2-dim toy set."""
    from poc_document_ocr_spark.operators.similarity import (
        emb_dim_profile,
    )

    rows = [(1, [0.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {r["dim"]: r for r in emb_dim_profile(emb).collect()}
    assert sorted(out) == [0, 1]
    d0, d1 = out[0], out[1]
    # dim0: both components quantize to 2_000_000 -> zero variance, dead
    assert (d0["n_vecs"], d0["mean_q"], d0["var_q2"]) == (2, 2_000_000, 0)
    assert d0["is_dead"] is True and d0["var_share_ppm"] == 0
    # dim1: 2_000_000 and 3_000_000 -> mean 2_500_000,
    # var = (2*(4e12+9e12) - 25e12) / 4 = 2.5e11
    assert (d1["mean_q"], d1["var_q2"]) == (2_500_000, 250_000_000_000)
    assert d1["is_dead"] is False and d1["var_share_ppm"] == 1_000_000


def test_source_centroids_exact(spark):
    """Hand-checked per-source centroid dispersion: integer centroid
    (Σv div n), per-vector Σ(v−c)², DECIMAL-widened mean."""
    from poc_document_ocr_spark.operators.similarity import (
        source_centroids,
    )

    # source a: [0,0] and [0,1] -> centroid q (2e6, 2.5e6);
    #   d2 each = (0)² + (±0.5e6)² = 2.5e11 -> msd 2.5e11
    # source b: single vector -> centroid = itself, d2 = 0
    rows = [
        (1, "a", [0.0, 0.0]),
        (2, "a", [0.0, 1.0]),
        (3, "b", [1.0, -1.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    out = {r["source"]: r for r in source_centroids(emb).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_vecs"], a["msd_q2"]) == (2, 250_000_000_000)
    assert a["min_d2"] == a["max_d2"] == 250_000_000_000
    assert (b["n_vecs"], b["msd_q2"], b["min_d2"], b["max_d2"]) == (
        1, 0, 0, 0,
    )


def test_source_affinity_exact(spark):
    """Hand-checked inter-source centroid distance: integer centroids,
    exact Σ(cₐ−c_b)² in µu², only a<b pairs."""
    from poc_document_ocr_spark.operators.similarity import (
        source_affinity,
    )

    # a: centroid of [0,0],[0,1] -> (2e6, 2.5e6)
    # b: single [1,-1]           -> (3e6, 1e6)
    # c: single [0,0]            -> (2e6, 2e6)
    rows = [
        (1, "a", [0.0, 0.0]),
        (2, "a", [0.0, 1.0]),
        (3, "b", [1.0, -1.0]),
        (4, "c", [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    out = {
        (r["source_a"], r["source_b"]): r["d2_q2"]
        for r in source_affinity(emb).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    # a-b: (1e6)² + (1.5e6)² = 3.25e12; a-c: 0 + (0.5e6)² = 2.5e11
    # b-c: (1e6)² + (1e6)² = 2e12
    assert out[("a", "b")] == 3_250_000_000_000
    assert out[("a", "c")] == 250_000_000_000
    assert out[("b", "c")] == 2_000_000_000_000


def test_emb_dim_profile_arrow_matches_explode(spark):
    """The Arrow partition-fold path is bit-identical to the posexplode
    twin — including ragged vector lengths and NULL vectors (skipped by
    both), and values chosen to exercise the float→double→floor edge."""
    from poc_document_ocr_spark.operators.similarity import (
        emb_dim_profile,
    )

    rows = [
        (1, [0.125, -1.9999, 1.5]),
        (2, [0.1, 0.3, -0.7]),
        (3, [1.9999999, -2.0]),  # ragged: only dims 0-1
        (4, None),  # NULL vector: contributes nothing
        (5, [0.333333, 0.666667, 1.000001]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    key = ["dim", "n_vecs", "mean_q", "var_q2", "is_dead", "var_share_ppm"]
    a = sorted(
        emb_dim_profile(emb, impl="arrow").collect(),
        key=lambda r: r["dim"],
    )
    e = sorted(
        emb_dim_profile(emb, impl="explode").collect(),
        key=lambda r: r["dim"],
    )
    assert [tuple(r[k] for k in key) for r in a] == [
        tuple(r[k] for k in key) for r in e
    ]
    # ragged parity: dims 0-1 counted 4 vectors, dim 2 only 3
    by_dim = {r["dim"]: r for r in a}
    assert by_dim[0]["n_vecs"] == 4 and by_dim[2]["n_vecs"] == 3


def test_pack_order_gain_measures_sorted_fill(spark):
    """Shortest-first packing fixes the pathological arrival order
    (big doc first straddles every boundary); gain_ppm is the exact
    fill delta and existing pack_contiguous defaults are unchanged."""
    from poc_document_ocr_spark.operators.sampling import (
        pack_contiguous,
        pack_order_gain,
    )

    # one shard; budget 10. arrival (by id): 9,9,2,2,2 ->
    # packs: [9],[9,2(start in pack1? prefix sums 0,9,18,20,22 ->
    # pack ids 0,0,1,2,2] -> pack0={9,9}=18 (overflow 8), pack1={2}=2
    # (pad 8), pack2={2,2}=4 (pad 6)
    rows = [(0, 1, 9), (0, 2, 9), (0, 3, 2), (0, 4, 2), (0, 5, 2)]
    df = spark.createDataFrame(rows, "shard int, doc_id long, n_tokens long")
    out = pack_order_gain(df, budget=10).collect()
    assert len(out) == 1
    r = out[0]
    # arrival: packs (18, 2, 4) -> filled min(.,10) = 10+2+4 = 16/30
    assert r["fill_arrival_ppm"] == 16 * 10**6 // 30
    assert r["overflow_arrival"] == 8
    # sorted (2,2,2,9,9): prefix 0,2,4,6,15 -> packs 0,0,0,0,1 ->
    # pack0 = 2+2+2+9 = 15 (overflow 5), pack1 = 9 (pad 1)
    assert r["fill_sorted_ppm"] == 19 * 10**6 // 20
    assert r["overflow_sorted"] == 5
    assert r["gain_ppm"] == r["fill_sorted_ppm"] - r["fill_arrival_ppm"]
    # default order unchanged: pack ids by doc_id
    packs = {
        row["doc_id"]: row["pack_id"]
        for row in pack_contiguous(df, 10).collect()
    }
    assert packs == {1: 0, 2: 0, 3: 1, 4: 2, 5: 2}


def test_ess_report_kish(spark):
    """Uniform weights give ESS = n (efficiency 1e6 ppm); one dominant
    weight collapses ESS toward 1."""
    from poc_document_ocr_spark.operators.sampling import ess_report

    rows = (
        [("u", 500_000)] * 4             # uniform -> ESS 4
        + [("d", 1_000_000)] + [("d", 1)] * 9   # dominated -> ESS ~ 1
    )
    df = spark.createDataFrame(rows, "source string, w_ppm long")
    out = {r["source"]: r for r in ess_report(df).collect()}
    u = out["u"]
    assert (u["n_docs"], u["ess_docs"], u["ess_ppm"]) == (4, 4, 1_000_000)
    d = out["d"]
    sw = 1_000_000 + 9
    sww = 1_000_000**2 + 9
    assert d["ess_docs"] == sw * sw // sww == 1
    assert d["ess_ppm"] == (sw * sw // sww) * 10**6 // 10


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
