"""Text-analysis operators: token counts, quality ratios, language-marker
identification, content fingerprints.

All pure column expressions over built-in functions — the hot path stays in
whole-stage codegen, no Python. Each operator is a ``DataFrame → DataFrame``
so the same code path serves the per-document corpus table and the per-turn
extracted-content table.

Scale notes: every operator here is map-only (no shuffle); at 100 TB the
cost is exactly one scan with column pruning down to (id, text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

__all__ = [
    "STOPWORDS",
    "AI_ARTIFACT_PHRASES",
    "ai_artifact_census",
    "reliability_report",
    "readability",
    "length_token_fit",
    "LANG_MARKERS",
    "token_stats",
    "lang_id",
    "fingerprint",
    "quality_score",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "source_boilerplate_share",
    "repetition_stats",
    "tfidf_top_terms",
    "chunk_text",
    "redact_pii",
    "pii_spread",
    "corpus_composition",
    "bpe_token_count",
    "lm_quality_bands",
    "quality_keep",
    "blocklist_keep",
    "blocklist_hits",
    "zipf_stats",
    "vocab_coverage",
    "bigram_familiarity",
    "bpe_merge_candidates",
    "dsir_affinity",
    "ngram_diversity",
    "heaps_law",
    "rule_overlap",
    "winnow_containment_pairs",
    "compression_ratio",
    "tokenizer_fertility",
    "normalize_text",
    "refusal_stats",
    "number_support",
    "encoding_screen",
    "screen_confusion",
    "fleiss_kappa",
    "quality_drift",
    "calibrate_scores",
    "calibration_report",
    "CTRL_CHAR_RE",
    "MOJIBAKE_MARKERS",
    "REFUSAL_RE",
    "TOKEN_SPLIT",
    "PII_PATTERNS",
    "BPE_TOKEN_PATTERN",
    "BLOCKLIST",
    "script_mix",
]

#: dialect-neutral token split shared by the curation operators AND their
#: DuckDB oracles (lowercase alphanumeric runs) — one definition so a
#: tweak cannot drift between the four consumers
TOKEN_SPLIT = "[^a-z0-9]+"

#: small closed stopword list for quality scoring (shared with the oracle)
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)

#: per-language marker word sets for the n-gram/function-word heuristic;
#: deterministic priority order breaks ties (first wins)
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "is")),
    ("es", ("el", "la", "los", "que")),
    ("fr", ("le", "la", "les", "est")),
    ("de", ("der", "die", "und", "ist")),
)


def _tokens(text_col: Column) -> Column:
    return F.split(text_col, " ")


#: the ASCII [A-Za-z0-9 ] class as a translate() strip set. Char-class
#: counting here uses translate(), NOT regexp_replace: evaluating two
#: DIFFERENT char-class Patterns (e.g. "[^0-9]" and "[A-Za-z0-9 ]") in
#: the same task degrades ~25x on this JVM (measured 2s -> 47s over
#: 1.88M rows — the Pattern predicate call site goes megamorphic and
#: never JIT-inlines), while each class alone is fast. translate() is a
#: plain char-map, immune, and gives identical counts for fixed ASCII
#: sets.
_ALNUM_SPACE = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
)
_LETTERS = _ALNUM_SPACE[:52]
_UPPER = _ALNUM_SPACE[:26]
_DIGITS = "0123456789"


def _n_removed(text: Column, strip_set: str) -> Column:
    """Count of chars in ``strip_set`` = length drop after translate()."""
    return (
        F.length(text) - F.length(F.translate(text, strip_set, ""))
    ).cast("long")


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document token/quality stats.

    Columns: ``n_chars, n_tokens, n_alpha_chars, avg_token_len,
    stopword_ratio`` — the standard cheap quality-score inputs (length,
    punctuation share, stopword share).
    """
    text = F.col(text_col)
    toks = _tokens(text)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    # chars excluding separators (translate, not regex — see _ALNUM_SPACE)
    n_nonspace = F.length(F.translate(text, " ", "")).cast("long")
    n_alpha = _n_removed(text, _LETTERS)
    n_stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    ).cast("long")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_alpha.alias("n_alpha_chars"),
        (n_nonspace / n_tokens).alias("avg_token_len"),
        (n_stop / n_tokens).alias("stopword_ratio"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            keep: tuple[str, ...] = ()) -> DataFrame:
    """Marker-word language heuristic.

    Scores each language by marker-token hits; argmax with deterministic
    tie-break on ``LANG_MARKERS`` order. Columns: ``pred_lang`` plus one
    ``hits_<lang>`` per language. ``keep`` passes extra input columns
    through, so callers composing language with other per-doc measures
    stay in ONE projection instead of self-joining two scans.
    """
    toks = _tokens(F.col(text_col))

    def _hits(markers: tuple[str, ...]):
        return F.size(
            F.filter(toks, lambda t: F.lower(t).isin(*markers))
        ).cast("long")

    hit_cols = {lang: _hits(markers) for lang, markers in LANG_MARKERS}
    # argmax with first-wins tie-break: strictly-greater-than-all-previous
    best = F.lit(LANG_MARKERS[0][0])
    best_hits = hit_cols[LANG_MARKERS[0][0]]
    for lang, _ in LANG_MARKERS[1:]:
        cond = hit_cols[lang] > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, hit_cols[lang]).otherwise(best_hits)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[hit_cols[lang].alias(f"hits_{lang}") for lang, _ in LANG_MARKERS],
        best.alias("pred_lang"),
    )


#: Gopher-style quality-filter bounds (deterministic, shared with the
#: DuckDB oracle and the tests)
QUALITY_RULES = {
    "min_tokens": 5,
    "max_tokens": 100_000,
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 12.0,
    "max_punct_ratio": 0.30,
    "max_digit_ratio": 0.50,
}


def quality_keep(text: Column) -> Column:
    """The Gopher-style keep/drop verdict of :func:`quality_score` as a
    pure column expression (shared with the curation funnel so composed
    queries evaluate it in the same single scan)."""
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(_tokens(text)).cast("long")
    # translate()-based class counts, NOT regexp_replace — see _ALNUM_SPACE
    n_nonspace = F.length(F.translate(text, " ", "")).cast("long")
    n_punct = F.length(F.translate(text, _ALNUM_SPACE, "")).cast("long")
    n_digit = _n_removed(text, _DIGITS)
    avg_tok = n_nonspace / n_tokens
    r = QUALITY_RULES
    return (
        (n_tokens >= r["min_tokens"])
        & (n_tokens <= r["max_tokens"])
        & (avg_tok >= r["min_avg_token_len"])
        & (avg_tok <= r["max_avg_token_len"])
        & ((n_punct / n_chars) <= r["max_punct_ratio"])
        & ((n_digit / n_chars) <= r["max_digit_ratio"])
    )


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Training-data quality filter signals + the keep/drop verdict.

    Character-class ratios (punctuation, digits, uppercase) over total
    characters plus the token-shape bounds of ``QUALITY_RULES`` — the
    standard cheap heuristics a corpus-cleaning pass applies before
    expensive model-based filtering. Map-only; ``keep`` is a plain boolean
    column so the filter pushes into any downstream scan.
    """
    text = F.col(text_col)
    n_chars = F.length(text).cast("long")
    toks = _tokens(text)
    n_tokens = F.size(toks).cast("long")
    # translate()-based class counts, NOT regexp_replace — see _ALNUM_SPACE
    n_nonspace = F.length(F.translate(text, " ", "")).cast("long")
    n_punct = F.length(F.translate(text, _ALNUM_SPACE, "")).cast("long")
    n_digit = _n_removed(text, _DIGITS)
    n_upper = _n_removed(text, _UPPER)
    avg_tok = n_nonspace / n_tokens
    punct_ratio = n_punct / n_chars
    digit_ratio = n_digit / n_chars
    keep = quality_keep(text)
    return df.select(
        F.col(id_col),
        n_punct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        (n_upper / n_chars).alias("upper_ratio"),
        avg_tok.alias("avg_token_len"),
        keep.alias("keep"),
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme).

    Hash every character ``k``-gram, slide a window of ``w`` hashes, keep
    each window's minimum, emit the distinct selected hashes — guarantees
    any shared substring of length ≥ ``k + w - 1`` contributes at least one
    matching fingerprint between two documents, at ~1/w storage of full
    shingling. Hashes are md5 hex compared lexicographically (identical
    across engines); documents shorter than ``k + w - 1`` yield no rows.
    Map-side higher-order functions; the output (id, fp) table joins on fp
    for plagiarism/overlap detection at corpus scale.
    """
    grams = (
        f"transform(sequence(1, length({text_col}) - {k} + 1), "
        f"i -> md5(substring({text_col}, i, {k})))"
    )
    # gram hashes materialize as a column FIRST so the window pass refers
    # to them by name — inlining the transform would re-hash every gram
    # once per window (O(n·w) becomes O(n²))
    wins = (
        f"transform(sequence(0, size(_gh) - {w}), "
        f"j -> array_min(slice(_gh, j + 1, {w})))"
    )
    return (
        df.filter(F.length(F.col(text_col)) >= k + w - 1)
        .select(F.col(id_col), F.expr(grams).alias("_gh"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.expr(wins))).alias("fp"),
        )
    )


def source_boilerplate_share(
    fps: DataFrame,
    doc_sources: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    min_df: int = 2,
) -> DataFrame:
    """Per-source boilerplate share over winnowing fingerprints: the
    fraction of a source's fingerprint mass that is duplicated anywhere
    in the corpus (document frequency ≥ ``min_df``) — the crawl-curation
    signal that ranks sources by template/boilerplate load BEFORE
    spending dedup budget on them (a source at 900k ppm is navigation
    chrome; one at 50k ppm is mostly novel prose). ``fps`` is the
    ``(doc_id, fp)`` output of :func:`winnow_fingerprints`;
    ``doc_sources`` maps ``(doc_id, source)``.

    Shape at 10¹² fingerprint rows: one fp-keyed groupBy for global
    document frequency (map-side partials), one doc_id-keyed equi join
    to attach sources, and a final bounded groupBy(source) with
    map-side partials. The fp-df table AND the source map are
    corpus-cardinality, so BOTH joins pin sort-merge (``hint("merge")``
    — the winnow_containment_pairs rule: Spark's compressed-size
    estimate under-measures wide fp tables and attempts a multi-GiB
    broadcast, which aborted at 1.88M docs before the pin). Integer
    ppm end-to-end.

    Returns ``(source, n_fp, n_dup_fp, n_boiler_fp, dup_share_ppm)`` —
    ``n_fp``/``n_dup_fp`` count fingerprint OCCURRENCES (total and
    those whose fp has df ≥ min_df), ``n_boiler_fp`` counts DISTINCT
    duplicated fingerprints seen in the source, and ``dup_share_ppm =
    n_dup_fp·10⁶ div n_fp``.
    """
    df_tab = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    joined = (
        fps.join(df_tab.hint("merge"), "fp")
        .join(doc_sources.select(id_col, source_col).hint("merge"), id_col)
    )
    dup = F.col("df") >= min_df
    return joined.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_dup_fp"),
        F.count_distinct(F.when(dup, F.col("fp")))
        .cast("long")
        .alias("n_boiler_fp"),
    ).select(
        source_col,
        "n_fp",
        "n_dup_fp",
        "n_boiler_fp",
        F.expr(
            "CAST(CAST(n_dup_fp AS DECIMAL(38,0)) * 1000000 div n_fp"
            " AS BIGINT)"
        ).alias("dup_share_ppm"),
    )


def winnow_overlap_pairs(
    wf: DataFrame,
    min_df: int = 2,
    max_df: int = 10,
    min_shared: int = 5,
) -> DataFrame:
    """MOSS-style overlap pairs from a winnow-fingerprint table: inverted
    index on fp, boilerplate cap (fps in more than ``max_df`` docs carry
    no signal — the standard MOSS ignore list, and the bound on every
    bucket's pair fan-out), pair overlap counts ≥ ``min_shared``.

    **Both joins pin sort-merge** (``hint("merge")``): the fp table AND
    the rare-fp list are corpus-cardinality, so broadcasting either side
    is wrong at every scale — yet measured at 1.88M documents, Spark's
    size estimate of the rare-fp aggregate slipped under the broadcast
    threshold and the runtime broadcast blew past
    ``spark.driver.maxResultSize`` (1 GiB of fp rows shipped to the
    driver). This is the mirror image of the repo's no-forced-broadcast
    rule: a bounded MODEL side may be broadcast by design, a corpus-
    cardinality side must be pinned AWAY from broadcast when the planner
    cannot know its size. Sort-merge also keeps AQE skew splitting
    available for hot fingerprints.
    """
    rare = (
        wf.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") >= min_df) & (F.col("_n") <= max_df))
        .select("fp")
    )
    wfr = wf.join(rare.hint("merge"), "fp")
    a = wfr.select(F.col("doc_id").alias("id_a"), "fp")
    b = wfr.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b.hint("merge"), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document, as exact integer
    counts (duplicate-word fraction, most-frequent-word share, duplicate
    bigram fraction are downstream divisions of these — integers hash
    identically cross-engine, doubles do not).

    Columns: ``n_words, n_distinct_words, top_word_count, n_bigrams,
    n_distinct_bigrams, top_bigram_count``. High top-shares / low distinct
    fractions flag boilerplate and degenerate repetition — the standard
    pre-training corpus filter alongside ``quality_score``.

    Shape: MAP-ONLY — the counts are per-document, so no explode/groupBy
    round-trip is needed: distinct counts come from ``array_distinct`` and
    the top-gram count from a run-length fold over the SORTED gram array
    (``aggregate`` higher-order function, linear per doc). Zero shuffles,
    zero joins — one scan at any corpus size (measured: the explode→
    2-groupBy formulation cost 71.7s over 1.88M docs; this form is one
    pass). Per-document arrays assume a document's grams fit one task's
    heap. Documents with fewer than 2 words report zero bigram counts.
    """

    def _top_run(arr_sql: str) -> str:
        # longest run in the sorted array == max multiplicity of any gram
        run = "IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1L, 1L)"
        return (
            f"aggregate(array_sort({arr_sql}), "
            f"named_struct('prev', CAST(NULL AS STRING), "
            f"'run', 0L, 'best', 0L), "
            f"(acc, x) -> named_struct('prev', x, 'run', {run}, "
            f"'best', GREATEST(acc.best, {run})), "
            f"acc -> acc.best)"
        )

    words_sql = f"filter(split({text_col}, ' '), x -> x != '')"
    raw_sql = f"split({text_col}, ' ')"
    # CASE before sequence(1, n-1): Spark's sequence(1, 0) is the
    # descending [1, 0], not empty — single-word docs must not reach it.
    # Bigrams deliberately use the RAW split (empty tokens included), the
    # convention the oracle and the original formulation share.
    bi_sql = (
        f"CASE WHEN size({raw_sql}) >= 2 THEN "
        f"transform(sequence(1, size({raw_sql}) - 1), "
        f"i -> concat_ws(' ', slice({raw_sql}, i, 2))) "
        f"ELSE array() END"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"size({words_sql})").cast("long").alias("n_words"),
        F.expr(f"size(array_distinct({words_sql}))")
        .cast("long")
        .alias("n_distinct_words"),
        F.expr(_top_run(words_sql)).cast("long").alias("top_word_count"),
        F.expr(f"size({bi_sql})").cast("long").alias("n_bigrams"),
        F.expr(f"size(array_distinct({bi_sql}))")
        .cast("long")
        .alias("n_distinct_bigrams"),
        F.expr(_top_run(bi_sql)).cast("long").alias("top_bigram_count"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3,
                    scale: int = 1_000_000) -> DataFrame:
    """Top-``k`` most distinctive terms per document, TF-IDF style.

    Rank key is the integer ``(tf * scale) DIV df`` (term frequency in the
    document, scaled, integer-divided by the term's corpus document
    frequency) — monotone in tf and anti-monotone in df like tf·idf, but
    exact integer arithmetic so the ranking (and the emitted key) is
    bit-identical across engines; ties break on the term string.

    Shape: explode → tf groupBy (doc, term) → df groupBy (term) → tf⋈df on
    term → per-doc top-k window. The term-dimension join side is unbounded
    (vocabulary grows with the corpus), so no forced broadcast — AQE picks
    the strategy. The final window is per-document (WindowGroupLimit prunes
    to k per partition map-side). Columns: ``doc_id, term, tf, df,
    score_key, rank``.
    """
    from pyspark.sql.window import Window as W

    terms = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = tf.join(dfreq, "term").withColumn(
        "score_key", F.expr(f"(tf * {scale}) DIV df")
    )
    w = W.partitionBy(id_col).orderBy(
        F.desc("score_key"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score_key", "rank")
    )


def chunk_text(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", chunk: int = 128,
               overlap: int = 16) -> DataFrame:
    """Sliding-window document chunking: split each document into
    word-window chunks of ``chunk`` words with ``overlap`` words of
    context carried between consecutive chunks — the standard corpus →
    training-sample transform when documents exceed the model context.

    Start offsets are ``1, 1+step, …`` with ``step = chunk - overlap``,
    capped so the last chunk reaches the document end without emitting a
    tail fully contained in its predecessor. Empty documents produce no
    chunks; ``chunk_idx`` is 0-based; ``n_chunk_words ≤ chunk`` (the tail
    is shorter).

    Map-only: words/starts/slices are higher-order array functions and the
    explode is per-row — no shuffle, one scan at any corpus size (output
    is ~(1 + overlap/step)× the input text, the expected duplication cost
    of overlap).
    """
    if chunk <= 0 or not 0 <= overlap < chunk:
        raise ValueError("need chunk > 0 and 0 <= overlap < chunk")
    step = chunk - overlap
    words = F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    n = F.size(words)
    starts = F.sequence(
        F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step)
    )
    return (
        df.select(
            F.col(id_col),
            words.alias("_w"),
            F.when(n > 0, starts).otherwise(F.array()).alias("_starts"),
        )
        .select(
            F.col(id_col),
            F.posexplode("_starts").alias("chunk_idx", "_s"),
            F.col("_w"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("_w"), F.col("_s"), chunk)
            ).alias("chunk_text"),
            F.size(F.slice(F.col("_w"), F.col("_s"), chunk))
            .cast("int")
            .alias("n_chunk_words"),
        )
    )


#: PII patterns, applied in order (URL first so an address inside a URL is
#: redacted as part of the URL). Subset of regex syntax valid in BOTH Java
#: (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: replace URLs, email addresses,
    and phone-shaped digit runs with typed placeholder tokens, and count
    each pattern's matches (counts are taken on the ORIGINAL text, so the
    email inside a redacted URL still counts as an email — the audit number
    a privacy review wants).

    Map-only ``regexp_replace``/``regexp_count`` column expressions — one
    scan, no Python, safe over every row of 100 TB. Patterns are
    intentionally high-precision/modest-recall (a real deployment tunes
    recall with NER models in the Arrow-batched decode tier); the operator
    pins the Spark-side plumbing: ordering, counting, placeholder scheme.
    """
    red = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat))
            .cast("int")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, token)
    return df.select(F.col(id_col), red.alias("redacted"), *counts)


#: GPT-2-style pre-tokenizer approximation, restricted to syntax valid in
#: BOTH Java regex (Spark) and RE2 (DuckDB): contraction suffixes, space-
#: prefixed letter runs, digit runs, punctuation runs, whitespace runs. The
#: real BPE pattern's unicode classes and lookahead are dropped — this is
#: the budgeting heuristic (~chars/4 for English), not a tokenizer.
BPE_TOKEN_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
)


def bpe_token_count(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Model-token budgeting: per-document token counts under the BPE-ish
    regex pre-tokenization next to the whitespace count — the number a
    context-window planner actually needs (whitespace undercounts
    punctuation-heavy and digit-heavy text badly).

    ``tokens_per_100_words`` is the integer ratio ``(n_bpe_tokens * 100)
    DIV n_ws_tokens`` — the density signal, exact cross-engine. Map-only
    ``regexp_count`` expressions; one scan, no Python.
    """
    ws = F.size(
        F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    ).cast("long")
    bpe = F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN)).cast(
        "long"
    )
    return df.select(
        F.col(id_col),
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
    ).withColumn(
        "tokens_per_100_words",
        F.when(
            F.col("n_ws_tokens") > 0,
            F.expr("(n_bpe_tokens * 100) DIV n_ws_tokens"),
        ).cast("long"),
    )


def corpus_composition(df: DataFrame, lang_col: str = "lang",
                       band_col: str = "band",
                       tokens_col: str = "n_tokens") -> DataFrame:
    """Corpus composition rollup: document and token totals per
    (language, quality band), per language, and grand total — the
    one-glance mixture report a data curator reads before fixing sampling
    weights per stratum.

    ``ROLLUP(lang, band)`` computes all three grains in ONE pass with
    map-side partial aggregation (Spark expands grouping sets before the
    exchange — still a single shuffle); ``lvl`` is the grouping-id bitmask
    (0 = leaf, 1 = per-language subtotal, 3 = grand total) so subtotal rows
    are distinguishable from genuine null strata.
    """
    return (
        df.rollup(lang_col, band_col)
        .agg(
            # grouping_id() is only legal INSIDE the grouping-sets agg
            F.grouping_id().cast("int").alias("lvl"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(tokens_col).cast("long")).alias("total_tokens"),
        )
        .select(lang_col, band_col, "lvl", "n_docs", "total_tokens")
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: md5 over lowercased
    whitespace-collapsed text (the exact-dup key robust to case/spacing).
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("fingerprint_short"),
    )


def lm_quality_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality banding (Wenzek et al.,
    arXiv:1911.00359 §4.3): score each document by how surprising its
    tokens are under a corpus-wide unigram model trained per language,
    then split each language into ``head`` / ``middle`` / ``tail`` terciles
    — the bucketing CCNet uses to keep fluent text and demote gibberish.

    CCNet's KenLM perplexity is a geometric mean of inverse token
    probabilities; cross-engine float ``ln``/summation is not bit-stable,
    so the score here is the integer-exact HARMONIC analog (same
    monotone intent — rare-token-heavy documents score high):

        ``score_key = (Σ_t tf(d,t) · (10⁹ DIV cnt(lang,t))) DIV n_tokens(d)``

    i.e. the mean inverse within-language token frequency in parts-per-1e9,
    computed entirely in BIGINT (a 10⁹-token document tops out at 10¹⁸ <
    2⁶³). A production variant would swap in a real KenLM pandas UDF for
    the score and keep the banding unchanged.

    Shape: token counting is one groupBy((lang, term)) with map-side
    combine; scoring joins each document's term counts against the
    per-language model on (lang, term) — co-partitioned equi-join, AQE
    skew-split for stopword-heavy terms — then one groupBy(doc). Banding
    is an ``ntile(3)`` window PER LANGUAGE ordered by ``(score_key, id)``
    (deterministic total order). The per-language window is the
    oracle-exact demo path; at 100 TB swap the tercile cutoffs for
    ``percentile_approx(score_key, [1/3, 2/3])`` per language and band
    with two comparisons — noted here so the scale path is explicit.

    Returns ``(id, lang, n_tokens, score_key, band)``; documents with no
    tokens are excluded (no model mass to score against).
    """
    from pyspark.sql.window import Window as W

    toks = df.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, lang_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    model = tf.groupBy(lang_col, "term").agg(
        F.sum("tf").alias("cnt")
    )
    scored = (
        tf.join(model, [lang_col, "term"])
        .groupBy(id_col, lang_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.col("tf") * F.expr("int(1000000000) div cnt")
            ).alias("_num"),
        )
        .select(
            F.col(id_col),
            F.col(lang_col),
            "n_tokens",
            F.expr("_num div n_tokens").alias("score_key"),
        )
    )
    band_w = W.partitionBy(lang_col).orderBy("score_key", id_col)
    tercile = F.ntile(3).over(band_w)
    return scored.select(
        F.col(id_col),
        F.col(lang_col),
        "n_tokens",
        "score_key",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tercile
        ).alias("band"),
    )


#: closed demo blocklist for the keyword-filter operator (shared with the
#: oracle); a production list (e.g. the LDNOOBW sets) plugs in unchanged
BLOCKLIST: tuple[str, ...] = ("slow", "spam", "junk", "vector")


def blocklist_keep(
    text: Column,
    blocklist: tuple[str, ...] = BLOCKLIST,
    max_hit_ppm: int = 60_000,
) -> Column:
    """The blocklist keep/drop verdict of :func:`blocklist_hits` as a pure
    column expression (shared with the curation funnel — single-scan
    composable). Division-free: for positive BIGINTs,
    ``(hits·10⁶) DIV n_tokens ≤ m  ⟺  hits·10⁶ < (m+1)·n_tokens``, so the
    verdict is one integer comparison and provably identical to
    :func:`blocklist_hits`'s ``hit_ppm ≤ m``."""
    toks = F.filter(F.split(F.lower(text), " "), lambda t: t != "")
    n_tokens = F.size(toks).cast("long")
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*blocklist))
    ).cast("long")
    return (n_tokens == 0) | (
        hits * F.lit(1_000_000) < F.lit(max_hit_ppm + 1) * n_tokens
    )


def blocklist_hits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist: tuple[str, ...] = BLOCKLIST,
    max_hit_ppm: int = 60_000,
) -> DataFrame:
    """Keyword-blocklist filter — the cheap lexical screen (C4 drops any
    page with a "bad words" hit, Raffel et al. 1910.10683 §2.2; most
    production pipelines soften that to a hit-ratio threshold, which is
    what the ``keep`` verdict applies here).

    Map-only higher-order functions over the token array: total
    occurrences, distinct blocklisted terms, and an integer parts-per-
    million hit ratio (exact BIGINT arithmetic — no float in the verdict,
    so the filter is bit-stable across engines and partitionings).
    ``keep`` is a plain boolean so downstream scans can push it down.

    At 100 TB: one scan, zero shuffles; the blocklist is a literal in the
    plan (for 10⁵-term production lists swap the ``isin`` for a broadcast
    join against a terms table — same verdict columns).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
    )
    with_t = df.select(
        F.col(id_col), toks.alias("_toks")
    ).select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(
            F.filter("_toks", lambda t: t.isin(*blocklist))
        ).cast("long").alias("hits"),
        F.size(
            F.array_intersect(
                F.array_distinct("_toks"),
                F.array(*[F.lit(b) for b in blocklist]),
            )
        ).cast("long").alias("distinct_hits"),
    )
    return with_t.select(
        id_col,
        "n_tokens",
        "hits",
        "distinct_hits",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("hits * 1000000 div n_tokens"),
        ).otherwise(F.lit(0).cast("long")).alias("hit_ppm"),
    ).withColumn("keep", F.col("hit_ppm") <= F.lit(max_hit_ppm))


def zipf_stats(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-language vocabulary / Zipf profile: token total, vocabulary
    size, hapax-legomena count, and the most frequent term with its corpus
    share — the one-page lexical health report a curator checks for
    tokenizer sizing and for spotting boilerplate floods (a top term with
    an outsized share is usually template text).

    Two shuffles total: groupBy((lang, term)) with map-side combine, then
    groupBy(lang) over the per-term counts (vocabulary-sized, tiny). The
    top term is ``min(struct(-cnt, term))`` — an order-insensitive
    aggregate, so no window and a deterministic tie-break (highest count,
    then lexicographically smallest term) without a sort.
    """
    toks = F.explode(F.split(F.col(text_col), " ")).alias("term")
    per_term = (
        df.select(F.col(lang_col), toks)
        .filter(F.col("term") != "")
        .groupBy(lang_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        per_term.groupBy(lang_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(
                F.when(F.col("cnt") == 1, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("hapax"),
            F.min(F.struct((-F.col("cnt")).alias("neg"), "term")).alias("_top"),
        )
        .select(
            lang_col,
            "n_tokens",
            "vocab",
            "hapax",
            F.col("_top.term").alias("top_term"),
            (-F.col("_top.neg")).cast("long").alias("top_cnt"),
            F.expr("(0 - _top.neg) * 1000000 div n_tokens").alias(
                "top_share_ppm"
            ),
        )
    )


def bigram_familiarity(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    top_w2: int | None = None,
) -> DataFrame:
    """Bigram language-model familiarity score: how predictable each
    document's word-to-word transitions are under a per-language bigram
    model trained on the corpus itself — the conditional-probability
    counterpart to :func:`lm_quality_bands`' unigram score (shuffled or
    machine-generated word salad scores low even when every individual
    word is common; cf. CCNet's KenLM filtering, Wenzek et al. 1911.00359).

    Integer-exact (cross-engine float log/summation is not bit-stable):
    for each document bigram (w1, w2),

        ``cond_ppm = (cnt(lang, w1, w2) * 10⁶) DIV cnt(lang, w1·*)``

    is the conditional probability P(w2|w1) in parts-per-million, and the
    document score is the tf-weighted mean ``Σ tf·cond_ppm DIV n_bigrams``
    — all BIGINT (ppm ≤ 10⁶, a 10⁹-bigram document tops out at 10¹⁵).

    Shape: bigram formation is a map-only indexed ``transform`` over the
    token array (no self-join / no window over exploded tokens). The
    score is computed from the exploded OCCURRENCE stream directly —
    ``Σ_occurrences cond_ppm`` is identical to the tf-weighted sum, and it
    avoids any shuffle keyed by (doc, bigram): the model groupBy
    partial-aggregates the occurrence stream down to vocabulary size
    before its exchange, the finished model is BROADCAST to the
    occurrence stream (explicitly — AQE can only demote the sort-merge
    join after the 10⁸-row occurrence shuffle is already written; the
    static hint is what keeps that shuffle from existing at all), and the
    final per-document groupBy partial-aggregates each document's
    (explode-local) rows to ~one row per doc before shuffling.

    The broadcast is justified because the model is a BOUNDED artifact,
    not a corpus-sized table: exactly what CCNet does by shipping its
    (pruned) KenLM binary to every worker. For closed vocabularies the
    exact model is already small (the oracle path); for open-vocabulary
    corpora set ``top_w2`` to keep only the K most frequent successors
    per (lang, w1) — the standard model-pruning step, same window pass —
    which bounds the broadcast at K·|prefix vocab| rows. Pruned-away
    (rare) transitions are excluded from both numerator and denominator
    of the score.

    Evolution, measured at 18.8M docs / 340M bigram occurrences: join
    per-(doc, bigram) tf to model+prefix separately = 1561s (every
    occurrence shuffled doc-keyed, twice); occurrence-stream + AQE
    sort-merge = 643s (occurrences shuffled once on the low-cardinality
    bigram key); occurrence-stream + broadcast model = the kept shape
    (no corpus-sized shuffle before the per-doc fold). Documents with
    < 2 tokens are excluded (no transitions to score).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    with_bi = (
        df.select(F.col(id_col), F.col(lang_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.explode(
                F.expr(
                    "transform(slice(_toks, 1, size(_toks) - 1),"
                    " (t, i) -> struct(t AS w1, _toks[i + 1] AS w2))"
                )
            ).alias("_bi"),
        )
        .select(id_col, lang_col, "_bi.w1", "_bi.w2")
    )
    model = with_bi.groupBy(lang_col, "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # fold the prefix totals into the (vocabulary-sized) model via a
    # window — one tiny exchange; the corpus-sized occurrence stream then
    # joins the finished cond table exactly once
    if top_w2 is not None:
        model = model.withColumn(
            "_rk",
            F.expr(
                "row_number() OVER (PARTITION BY "
                f"{lang_col}, w1 ORDER BY cnt DESC, w2)"
            ),
        ).filter(F.col("_rk") <= top_w2)
    cond = model.withColumn(
        "cond_ppm",
        F.expr(
            "cnt * 1000000 div sum(cnt) OVER (PARTITION BY "
            f"{lang_col}, w1)"
        ),
    ).select(lang_col, "w1", "w2", "cond_ppm")
    return (
        with_bi.join(F.broadcast(cond), [lang_col, "w1", "w2"])
        .groupBy(id_col, lang_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("cond_ppm").alias("_num"),
        )
        .select(
            id_col,
            lang_col,
            "n_bigrams",
            F.expr("_num div n_bigrams").alias("familiarity_ppm"),
        )
    )


def bpe_merge_candidates(
    docs: DataFrame,
    top_n: int = 20,
    text_col: str = "text",
    min_word_len: int = 2,
) -> DataFrame:
    """One round of BPE merge learning: rank adjacent character pairs by
    corpus frequency — the pair the tokenizer-fit loop would merge next
    (Sennrich et al. 1508.07909 §3.1, run over word-frequency counts
    exactly as the reference algorithm prescribes).

    Two-stage shape that keeps the expensive explode off the corpus
    grain: the corpus collapses to VOCABULARY-sized word frequencies
    first (one shuffle with map-side combine), then character pairs
    explode per DISTINCT word — at 100 TB the pair stage's input is the
    vocabulary (millions of rows), not the corpus (trillions of words).

    Returns ``(merge_rank, pair, n_occurrences)`` — top ``top_n`` by
    (count DESC, pair ASC), deterministic.
    """
    words = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
    ).filter(F.length("w") >= min_word_len)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("n").alias("n_occurrences")
    )
    return (
        counts.withColumn(
            "merge_rank",
            F.expr(
                "row_number() OVER (ORDER BY n_occurrences DESC, pair)"
            ).cast("int"),
        )
        .filter(F.col("merge_rank") <= top_n)
        .select("merge_rank", "pair", "n_occurrences")
    )


def dsir_affinity(
    docs: DataFrame,
    target_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_chars: int = 2,
) -> DataFrame:
    """Data-selection affinity weights via hashed unigram features — the
    DSIR recipe (Xie et al. 2302.03169): featurize every document into
    hashed n-gram buckets, model the TARGET domain and the RAW corpus as
    bucket-count distributions, and score each document by how target-
    like its buckets are. Scores feed importance resampling for
    domain-targeted pretraining mixes.

    Integer-exact variant for the cross-engine gate: per-document output
    is the exact BIGINT sums of target / raw bucket counts over the
    document's token occurrences, and ``affinity`` is ONE division of
    those integers (IEEE-identical in any engine) — a monotone proxy of
    the paper's log-likelihood-ratio for fixed document length. The
    bucket key is the first ``bucket_chars`` hex chars of md5(token), an
    engine-neutral hash.

    Scale: the bucket model is BOUNDED (16^bucket_chars rows — 256 at
    the default), i.e. a legitimate broadcast-class model artifact like
    the bigram LM; the corpus side aggregates per document under one
    doc-grain shuffle with map-side combine. Never a corpus-cardinality
    broadcast.

    Returns ``(id, n_grams, sum_target, sum_raw, affinity)``.
    """
    toks = docs.select(
        F.col(id_col),
        target_filter.alias("_is_target"),
        F.explode(
            F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)
        ).alias("w"),
    ).filter(F.length("w") >= 2)
    grams = toks.select(
        id_col, "_is_target", F.substring(F.md5("w"), 1, bucket_chars).alias("b")
    )
    model = grams.groupBy("b").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0))
        .cast("long")
        .alias("n_target"),
        F.count(F.lit(1)).cast("long").alias("n_raw"),
    )
    return (
        grams.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("n_target").cast("long").alias("sum_target"),
            F.sum("n_raw").cast("long").alias("sum_raw"),
        )
        .withColumn(
            "affinity",
            F.col("sum_target").cast("double") / F.col("sum_raw"),
        )
    )


def ngram_diversity(
    docs: DataFrame,
    ns: tuple[int, ...] = (1, 2, 3),
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity profile: per group and n-gram order, the
    share of n-gram OCCURRENCES that are distinct — the corpus-health
    metric behind "is this source template spam?" (distinct-n / Self-BLEU
    family, Zhu et al. 1802.01886 §4.1; a boilerplate-heavy source shows
    a collapsing distinct-bigram ratio long before exact dedup fires).

    ONE corpus pass (audited: a single FileScan): each doc tokenizes
    once and builds the gram lists for EVERY n in one map-side
    projection — a flattened array of (n, gram) structs through a single
    explode — then one ``groupBy(group, n)`` with an exact
    ``count_distinct``. The distinct count shuffles on (group, n, gram)
    under partial aggregation, so a dominant source spreads by gram,
    never funneling one task. All counts BIGINT; ``diversity_ppm`` is
    the integer ratio ``(n_distinct * 1e6) DIV n_total`` — exact
    cross-engine. (A per-n union formulation re-scans and re-tokenizes
    the corpus once per order — 3× the scan volume at 100 TB; the
    combined-explode shape was the round-4 self-review fix.)

    Returns ``(grp, n, n_total, n_distinct, diversity_ppm)``.
    """
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), ""
    )

    def grams_of(n: int):
        # sequence(1, 0) DESCENDS in Spark, so short docs need an
        # explicit empty branch rather than a clamped upper bound
        return F.when(
            F.size("_toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                lambda i: F.struct(
                    F.lit(n).cast("int").alias("n"),
                    F.array_join(F.slice("_toks", i, n), " ").alias(
                        "gram"
                    ),
                ),
            ),
        ).otherwise(
            F.expr("CAST(array() AS array<struct<n:int,gram:string>>)")
        )

    all_grams = (
        docs.select(F.col(group_col).alias("grp"), toks.alias("_toks"))
        .select(
            "grp",
            F.explode(
                F.flatten(F.array(*[grams_of(n) for n in ns]))
            ).alias("_g"),
        )
        .select("grp", F.col("_g.n").alias("n"), F.col("_g.gram").alias("gram"))
    )
    return (
        all_grams.groupBy("grp", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count_distinct("gram").cast("long").alias("n_distinct"),
        )
        .withColumn(
            "diversity_ppm", F.expr("(n_distinct * 1000000) DIV n_total")
        )
    )


def heaps_law(
    docs: DataFrame,
    buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct terms vs
    cumulative token occurrences over the corpus in ``doc_id`` order,
    reported at ``buckets`` checkpoints. The curve's flattening rate is
    the dedup-health / crawl-saturation signal (Heaps 1978; a corpus
    whose vocab stops growing is re-crawling itself).

    Skew-safe shape: a term contributes to the bucket of its FIRST
    occurrence (``min(doc_id)`` per term — map-side combinable), token
    totals aggregate per bucket directly, and the cumulative sums run
    over the ``buckets``-row result, never the corpus. The max-doc-id
    scalar joins in as a one-row broadcast, not a collect.

    Ids must be NON-NEGATIVE corpus positions. Bucketing is hybrid:
    the even multiply-first form ``(id·buckets) DIV (maxid+1)`` while
    ``maxid ≤ 2⁶³/buckets`` (every realistic corpus), switching to the
    overflow-safe divide-first width ``id DIV (maxid DIV buckets + 1)``
    beyond it — multiply-first overflows BIGINT under ANSI mode near
    2⁶³/buckets, while divide-first alone quantizes the width and can
    emit fewer than ``buckets`` checkpoints on small id domains. The CASE
    is on the scalar ``maxid``, replayed identically by the oracle.

    Returns ``(bucket, n_tokens, n_new_terms, cum_tokens, cum_terms)``.
    """
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), ""
    )
    words = docs.select(F.col(id_col).alias("_id"),
                        F.explode(toks).alias("w"))
    maxid = docs.agg(F.max(id_col).cast("long").alias("_maxid"))
    safe = 9223372036854775807 // buckets
    bucket = F.expr(
        f"CASE WHEN _maxid <= {safe} THEN (_id * {buckets}) DIV (_maxid + 1) "
        f"ELSE _id DIV ((_maxid DIV {buckets}) + 1) END"
    ).cast("int")

    tok_per_bucket = (
        words.crossJoin(F.broadcast(maxid))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    )
    first_seen = words.groupBy("w").agg(F.min("_id").alias("_id"))
    new_per_bucket = (
        first_seen.crossJoin(F.broadcast(maxid))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_terms"))
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        tok_per_bucket.join(new_per_bucket, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_new_terms", F.lit(0)).alias("n_new_terms"),
        )
        .select(
            "*",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("n_new_terms").over(w).cast("long").alias("cum_terms"),
        )
    )


def tokenizer_fertility(
    docs: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and characters per token — the standard tokenizer-equity report
    (a language with fertility ≫ the corpus median pays more context
    window per word; cf. the fertility tables in XLM-R 1911.02116 §5).

    Map-only per-doc counts under the shared ``BPE_TOKEN_PATTERN`` (the
    same engine-neutral regex ``bpe_tokens`` is oracle-checked on), one
    bounded ``groupBy(lang)`` with map-side partials. Ratios are single
    divisions of exact BIGINT sums (IEEE-identical cross-engine), scaled
    to integer per-centi units.

    Returns ``(grp, n_docs, n_words, n_bpe_tokens, n_chars,
    fertility_cpct, chars_per_token_cpct)`` — both ratios ×100.
    """
    ws = F.size(
        F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    ).cast("long")
    bpe = F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN)).cast(
        "long"
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        ws.alias("_w"),
        bpe.alias("_b"),
        F.length(text_col).cast("long").alias("_c"),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("n_words"),
            F.sum("_b").cast("long").alias("n_bpe_tokens"),
            F.sum("_c").cast("long").alias("n_chars"),
        )
        .withColumn(
            "fertility_cpct",
            F.when(
                F.col("n_words") > 0,
                F.expr("(n_bpe_tokens * 100) DIV n_words"),
            ).cast("long"),
        )
        .withColumn(
            "chars_per_token_cpct",
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.expr("(n_chars * 100) DIV n_bpe_tokens"),
            ).cast("long"),
        )
    )


#: explicit whitespace class shared with the oracle — Java's ``\\s`` and
#: RE2's ``\\s`` disagree on vertical tab, so neither side uses ``\\s``
_WS_RUN = "[ \\t\\n\\r\\f\\x0B]+"
#: C0 control characters (minus the whitespace the run-collapse owns,
#: including vertical tab) + DEL — the bytes a curation pass strips
#: before tokenization
_CTRL = "[\\x00-\\x08\\x0E-\\x1F\\x7F]"
#: the same fixed 27-char set as a literal string for ``translate()``
#: deletion — strictly equivalent to ``regexp_replace(_, _CTRL, '')``
#: (a fixed character class with empty replacement IS a character map),
#: and the fast form: two regex PATTERNS in one task thrash the Java
#: regex engine (~25× — the round-4 script_mix finding), so the control
#: strip runs as a translate and only the whitespace-run collapse keeps
#: its (irreducible) regex. Measured on the 1.88M-doc extracted corpus:
#: normalize+quality pass 33 s → 7.5 s, output value-identical on every
#: row (and the DuckDB oracle still replays the regex form — green).
_CTRL_CHARS = "".join(
    chr(c) for c in [*range(0x00, 0x09), *range(0x0E, 0x20), 0x7F]
)


def normalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Text normalization — the universal first stage of every corpus
    pipeline: strip control characters, collapse whitespace runs to a
    single space, trim. Emits the cleaned text plus exact BIGINT
    before/after character counts so the attrition is auditable (a
    source whose text shrinks 30% under normalization is telling you
    something about its extractor).

    Map-only column expressions; the regex classes are explicit (no
    ``\\s`` — Java and RE2 disagree on vertical tab) so the DuckDB
    oracle replays the identical transform. ``keep`` passes metadata
    columns through so composed pipelines stay in one projection.

    Returns ``(id, *keep, n_chars_raw, n_chars_clean, n_removed,
    text_clean)``.
    """
    raw = F.col(text_col)
    clean = F.trim(
        F.regexp_replace(F.translate(raw, _CTRL_CHARS, ""), _WS_RUN, " ")
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(clean).cast("long").alias("n_chars_clean"),
        (F.length(raw) - F.length(clean)).cast("long").alias("n_removed"),
        clean.alias("text_clean"),
    )


#: refusal/deflection markers (matched on lowercased text; `.` stands in
#: for the apostrophe so quoting never drifts between engines). Shared
#: verbatim with the DuckDB oracle — Java regex and RE2 agree on plain
#: alternation + literal + `.`.
REFUSAL_RE = "i cannot help|i can.t assist|i am unable to"


def refusal_stats(
    df: DataFrame,
    group_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Refusal/deflection rate per group: how many rows' text opens into
    a canned refusal pattern — the assistant-quality gate an agent-
    transcript curation pass runs before admitting conversations to SFT
    (a source whose assistant turns are one-third deflections teaches
    the model to deflect). Detection is a single lowercased regex
    alternation (``REFUSAL_RE``); NULL text counts as the empty string.

    Map-only flag + ONE groupBy with map-side combine; ``refusal_ppm``
    is one integral division of exact BIGINTs.

    Returns ``(group, n_rows, n_refusals, refusal_ppm)``.
    """
    hit = F.when(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).rlike(REFUSAL_RE),
        1,
    ).otherwise(0)
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(hit).cast("long").alias("n_refusals"),
        )
        .withColumn(
            "refusal_ppm", F.expr("n_refusals * 1000000 div n_rows")
        )
    )


def rule_overlap(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Quality-filter redundancy matrix: for every unordered pair of
    filter rules, how many documents BOTH flag, with the Jaccard of
    the two flag sets — the analysis behind the filter-overlap tables
    in the Dolma / RefinedWeb curation reports (which rules are
    redundant, which uniquely justify their cost). Feed it the same
    predicates the curation funnel applies and it tells you which
    stage to retire.

    ``rules`` maps rule name → boolean Column; names must be distinct
    and are compared lexicographically (``rule_a < rule_b`` in every
    output row). Rules that fire on ZERO documents are absent from the
    output (there is no set to intersect with).

    Shape at 10¹² docs: the fired-rule set per document is built
    map-side (one array of when()s, compacted), pair expansion is two
    chained explodes bounded by |rules|² per document — a code
    constant, never data — and the only corpus-sized shuffle is ONE
    groupBy(rule_a, rule_b) with map-side partials over ≤|rules|²
    distinct keys. The diagonal (n_a) and the pair universe are
    rule-cardinality tables; joining them is bounded work regardless
    of corpus size. ``jaccard_ppm`` = |A∩B| · 10⁶ div |A∪B| as one
    integral division of DECIMAL-widened exact BIGINTs.

    Returns ``(rule_a, rule_b, n_a, n_b, n_both, jaccard_ppm)``.
    """
    fired = F.array_compact(
        F.array(
            *[
                F.when(cond, F.lit(name))
                for name, cond in sorted(rules.items())
            ]
        )
    )
    x = (
        df.select(fired.alias("_f"))
        .select(F.explode("_f").alias("rule_a"), F.col("_f"))
        .select("rule_a", F.explode("_f").alias("rule_b"))
        .filter(F.col("rule_a") <= F.col("rule_b"))
    )
    # the pair-count table is consumed by three branches (pairs, the
    # diagonal twice); without a lineage cut each branch would re-run
    # the corpus explode+groupBy — checkpoint the ≤|rules|² rows once
    counts = (
        x.groupBy("rule_a", "rule_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .localCheckpoint(eager=False)
    )
    diag = counts.filter(F.col("rule_a") == F.col("rule_b")).select(
        F.col("rule_a").alias("_r"), F.col("n_both").alias("_n")
    )
    uni = (
        diag.select(F.col("_r").alias("rule_a"), F.col("_n").alias("n_a"))
        .crossJoin(
            diag.select(
                F.col("_r").alias("rule_b"), F.col("_n").alias("n_b")
            )
        )
        .filter(F.col("rule_a") < F.col("rule_b"))
    )
    return uni.join(counts, ["rule_a", "rule_b"], "left").select(
        "rule_a",
        "rule_b",
        "n_a",
        "n_b",
        F.coalesce("n_both", F.lit(0)).cast("long").alias("n_both"),
        F.expr(
            "CAST(CAST(coalesce(n_both, 0) AS DECIMAL(38,0)) * 1000000"
            " div (n_a + n_b - coalesce(n_both, 0)) AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def winnow_containment_pairs(
    wf: DataFrame,
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int = 10,
    min_shared: int = 5,
) -> DataFrame:
    """Asymmetric containment over winnowing fingerprints: for each
    candidate pair, what fraction of EACH document's fingerprints the
    other covers — the quote/inclusion detector. Jaccard-style overlap
    (:func:`winnow_overlap_pairs`) scores a short document quoted
    verbatim inside a long one near zero; containment scores the short
    side near 10⁶ ppm, which is what a dedup policy that drops
    fully-quoted documents needs (MOSS reports exactly this per-file
    percentage).

    Shape at 10¹² docs: identical candidate generation to the overlap
    op — fp inverted index, ``[min_df, max_df]`` boilerplate cap
    bounding every bucket's fan-out, pair groupBy with map-side
    partials. The per-doc fingerprint totals are ONE extra
    count-groupBy joined back on the doc id. **Every join here pins
    sort-merge** (``hint("merge")``), inheriting
    :func:`winnow_overlap_pairs`'s lesson the hard way: at 1.88M
    documents the static size estimate of the explode→aggregate chain
    collapsed under the broadcast threshold and the planner broadcast
    the ENTIRE inverted index — 16.3 GiB, past the 8 GiB broadcast
    hard limit — and a statically-planned BroadcastExchange has no
    shuffle stage for AQE to re-measure, so runtime re-planning cannot
    demote it. Corpus-cardinality sides (rare fps, the index, per-doc
    totals) are pinned away from broadcast; sort-merge keeps AQE skew
    splitting available. Ratios are integral divisions of
    DECIMAL-widened exact BIGINTs.

    Returns ``(id_a, id_b, shared_fps, n_fp_a, n_fp_b, contain_a_ppm,
    contain_b_ppm)`` with ``id_a < id_b``.
    """
    totals = wf.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    rare = (
        wf.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df").between(min_df, max_df))
        .select("fp")
    )
    wfr = wf.join(rare.hint("merge"), "fp")
    a = wfr.select(F.col(id_col).alias("id_a"), "fp")
    b = wfr.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        a.join(b.hint("merge"), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return (
        pairs.join(
            totals.select(
                F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_fp_a")
            ).hint("merge"),
            "id_a",
        )
        .join(
            totals.select(
                F.col(id_col).alias("id_b"), F.col("n_fp").alias("n_fp_b")
            ).hint("merge"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "CAST(CAST(shared_fps AS DECIMAL(38,0)) * 1000000"
                " div n_fp_a AS BIGINT)"
            ).alias("contain_a_ppm"),
            F.expr(
                "CAST(CAST(shared_fps AS DECIMAL(38,0)) * 1000000"
                " div n_fp_b AS BIGINT)"
            ).alias("contain_b_ppm"),
        )
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    low_ppm: int = 250_000,
    high_ppm: int = 900_000,
) -> DataFrame:
    """zlib compression ratio as a quality signal — the classic
    redundancy detector (Gopher's repetition filters and Dolma's
    "mostly boilerplate" screens both lean on it): highly repetitive
    machine junk compresses far below natural prose, random noise
    barely compresses at all, so both tails are drop candidates.

    This is one of the repo's few Python stages, and it follows the
    codec rule: an Arrow-batched ``pandas_udf`` (zlib level 6 is
    deterministic for a given input), map-only, zero shuffles — the
    same legitimacy class as the extraction stage. There
    is deliberately NO DuckDB oracle (no zlib there); the operator is
    pinned by unit tests on known-entropy strings instead, and the
    driver records the weaker rows-only check.

    Returns ``(id, n_bytes, n_compressed, ratio_ppm, keep)`` where
    ``ratio_ppm = compressed·10⁶ div raw`` and ``keep`` brackets it in
    ``[low_ppm, high_ppm]``. Empty texts report ratio 10⁶ (nothing to
    judge) and are kept.
    """
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no local type hints: the module's postponed annotations make them
    # strings pandas_udf can't evaluate in function scope — the explicit
    # returnType plus a pd.Series-in/out body is the whole contract
    def _zlen_fn(s):
        return pd.Series(
            [
                len(zlib.compress((t or "").encode("utf-8"), 6))
                for t in s
            ]
        )

    _zlen = pandas_udf(_zlen_fn, "long")

    n_bytes = F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).cast(
        "long"
    )
    out = df.select(
        F.col(id_col),
        n_bytes.alias("n_bytes"),
        _zlen(F.col(text_col)).alias("n_compressed"),
    ).select(
        id_col,
        "n_bytes",
        "n_compressed",
        F.when(F.col("n_bytes") == 0, F.lit(1_000_000).cast("long"))
        .otherwise(
            F.expr(
                "CAST(CAST(n_compressed AS DECIMAL(38,0)) * 1000000"
                " div n_bytes AS BIGINT)"
            )
        )
        .alias("ratio_ppm"),
    )
    return out.withColumn(
        "keep",
        (F.col("ratio_ppm") >= low_ppm) & (F.col("ratio_ppm") <= high_ppm)
        | (F.col("n_bytes") == 0),
    )


def screen_agreement(
    labels: DataFrame, col_a: str = "keep_a", col_b: str = "keep_b"
) -> DataFrame:
    """Cohen's kappa between two boolean quality screens, integer-exact.

    A curation pipeline running several independent keep/drop raters
    (Gopher character heuristics, LM quality bands, compression ratio,
    a learned classifier) needs to know whether they measure the same
    thing: near-perfect agreement means the cheaper screen can gate
    for the expensive one; near-chance agreement means they're
    complementary and both stay. Kappa corrects raw agreement for
    chance: ``κ = (p_o − p_e) / (1 − p_e)`` (Cohen 1960).

    All arithmetic is exact ppm integer: ``po_ppm = (n11 + n00)·1e6 DIV
    n``; ``pe_ppm`` widens the marginal products to DECIMAL(38,0)
    before the integral division (n² overflows BIGINT past ~3e9 rows);
    and because κ may be NEGATIVE (worse-than-chance disagreement) while
    Spark's ``div`` truncates toward zero and DuckDB's ``//`` floors, the
    sign is factored out explicitly so both engines divide non-negative
    integers only.

    Shape: ONE full-corpus aggregation to a single row (map-side
    partial — five counters per partition), nothing else. The join of
    the two screens' label frames happens upstream on the id key.

    Returns one row: ``(n_docs, n11, n10, n01, n00, po_ppm, pe_ppm,
    kappa_ppm)``; ``kappa_ppm`` is NULL when ``p_e = 1`` (degenerate
    all-one-cell table).
    """
    a = F.col(col_a).cast("int")
    b = F.col(col_b).cast("int")
    c = labels.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(a * b).cast("long").alias("n11"),
        F.sum(a * (1 - b)).cast("long").alias("n10"),
        F.sum((1 - a) * b).cast("long").alias("n01"),
        F.sum((1 - a) * (1 - b)).cast("long").alias("n00"),
    )
    return c.select(
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("(n11 + n00) * 1000000 div n_docs").alias("po_ppm"),
        F.expr(
            "CAST((CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
            " * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)"
            " AS BIGINT)"
        ).alias("pe_ppm"),
    ).select(
        "*",
        F.expr(
            """CASE WHEN pe_ppm = 1000000 THEN NULL
                 WHEN po_ppm >= pe_ppm THEN
                   (po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)
                 ELSE
                   -((pe_ppm - po_ppm) * 1000000 div (1000000 - pe_ppm))
               END"""
        ).cast("long").alias("kappa_ppm"),
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Collocation (phrase) mining by pointwise mutual information over
    adjacent token pairs — the statistic behind word2vec-style phrase
    detection (Mikolov et al., arXiv:1310.4546 §4) and corpus
    collocation tables: ``PMI(x,y) = log2( p(x,y) / (p(x)·p(y)) )``,
    high for pairs that co-occur far above chance ("new york") and
    negative for pairs glued together only by token frequency.

    The log runs in the repo's exact **half-log2-bit** integer form (the
    ``bm25_topk`` idf machinery): the probability ratio
    ``r = (c_xy/Npairs) / ((c_x/N)·(c_y/N)) = c_xy·N² / (Npairs·c_x·c_y)``
    is carried as a scaled integer with the multiplies staged to stay
    inside DECIMAL(38,0) at any corpus size —
    ``R = ((c_xy·N div c_x)·N·1024) div (c_y·Npairs)``, capped at 2^30 —
    then ``pmi_hb = floor_log2(R²div1024) − 10 ≈ floor(2·log2 r)`` read
    off the bit length (Spark ``bin``, DuckDB ``to_base``). The two
    interior floors and the −10 underflow clamp (R² div 1024 = 0 ⇒
    pmi_hb = −10) are part of the operator's documented spec; both
    engines replay them bit-for-bit, no float ever crosses.

    Shape (10¹² turns): TWO corpus-cardinality shuffles — the bigram
    groupBy and the unigram groupBy, both map-side combinable — then
    vocabulary-keyed equi-joins (AQE skew-splits the stopword keys) and
    a 1-row totals broadcast. ``min_count`` bounds the output to
    supported pairs (the phrase-table convention); nothing collects.

    Returns ``(w1, w2, n_pair, n_w1, n_w2, pmi_hb)``.
    """
    toks = df.select(
        F.filter(
            F.split(F.col(text_col), " "), lambda x: x != F.lit("")
        ).alias("_toks")
    )
    uni = (
        toks.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    )
    bg = (
        toks.filter(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - 1),
                    lambda i: F.struct(
                        F.element_at("_toks", i).alias("w1"),
                        F.element_at("_toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    # one scan for both totals (pairs per doc = max(tokens - 1, 0))
    totals = toks.agg(
        F.sum(F.size("_toks")).cast("long").alias("n_tok"),
        F.sum(F.greatest(F.size("_toks") - 1, F.lit(0)))
        .cast("long")
        .alias("n_pairs_tot"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("n_w2"))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.expr(
                """least(
                     CAST(CAST(n_pair AS DECIMAL(38,0)) * n_tok
                          div n_w1 AS DECIMAL(38,0)) * n_tok * 1024
                     div (CAST(n_w2 AS DECIMAL(38,0)) * n_pairs_tot),
                     CAST(1073741824 AS DECIMAL(38,0)))"""
            ).cast("long").alias("_r"),
        )
    )
    return scored.select(
        "w1",
        "w2",
        "n_pair",
        "n_w1",
        "n_w2",
        (
            F.length(F.bin(F.expr("_r * _r div 1024"))) - F.lit(11)
        ).cast("long").alias("pmi_hb"),
    )


def number_support(
    turns: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Unsupported-number screen over conversation transcripts: for
    every numeric token an assistant turn emits, check whether the SAME
    number appeared anywhere earlier in the conversation (user prompt,
    tool output, prior turns) — a number the assistant introduces from
    nowhere is the cheapest deterministic hallucination signal a
    transcript-curation pass has (no model, no embedding: grounded
    figures are quoted figures). Conversations with high
    ``unsupported_ppm`` get routed to review or down-weighted before
    SFT.

    Shape at 10¹² turns: the numeric-token explode is map-side
    (``regexp_extract_all`` + per-turn ``array_distinct``); first-seen
    turns come from ONE groupBy on (conv, num); the support join is a
    PINNED sort-merge equi join on the SAME (conv, num) key (both
    sides corpus-cardinality; post-aggregate size estimates are
    unreliable and sibling operators have seen aborted multi-GiB
    broadcast attempts), partitioned compatibly with the groupBy; the
    final rollup shuffles on conv alone. No window over the corpus,
    nothing broadcast.

    Returns ``(conv_id, n_nums, n_unsupported, unsupported_ppm)`` — one
    row per conversation whose assistant turns contain ≥1 number;
    ``n_nums`` counts per-turn-distinct assistant numeric mentions.
    """
    nums = turns.select(
        F.col(conv_col),
        F.col(turn_col),
        F.col(role_col),
        F.explode(
            F.array_distinct(
                F.expr(f"regexp_extract_all({text_col}, '[0-9]+', 0)")
            )
        ).alias("num"),
    )
    first = nums.groupBy(conv_col, "num").agg(
        F.min(turn_col).alias("_first_turn")
    )
    asst = nums.filter(F.col(role_col) == "assistant")
    j = asst.join(first.hint("merge"), [conv_col, "num"])
    unsupported = F.col(turn_col) == F.col("_first_turn")
    return (
        j.groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nums"),
            F.sum(F.when(unsupported, 1).otherwise(0))
            .cast("long")
            .alias("n_unsupported"),
        )
        .select(
            conv_col,
            "n_nums",
            "n_unsupported",
            F.expr(
                "CAST(CAST(n_unsupported AS DECIMAL(38,0)) * 1000000"
                " div n_nums AS BIGINT)"
            ).alias("unsupported_ppm"),
        )
    )


#: C0 control characters excluding tab/newline/carriage-return — the only
#: bytes a text corpus should never carry; shared verbatim with the DuckDB
#: oracle (RE2 and java.util.regex both read \xNN ranges identically)
CTRL_CHAR_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
#: the same fixed set as a translate() deletion string (see _CTRL_CHARS:
#: a fixed character class with empty replacement is a character map, and
#: the translate form avoids stacking a second regex pattern per task)
CTRL_CHAR_SET = "".join(
    chr(c) for c in [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20)]
)
#: fixed-set translate strings for the script-mix per-script counters
_LATIN_SET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)
_CYRILLIC_SET = "".join(chr(c) for c in range(0x0400, 0x0500))

#: UTF-8-decoded-as-Latin-1 artifact markers: U+00C3 leads every two-byte
#: sequence mangled that way (the garbled-accent family), U+00E2 leads the
#: mangled punctuation family (curly quotes, em-dashes). Counting the lead
#: marker — not the full artifact — keeps the screen one replace() per
#: marker; both markers are vanishingly rare in clean text.
MOJIBAKE_MARKERS = ("Ã", "â")


def encoding_screen(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Encoding-health screen: replacement chars, control chars, mojibake.

    Three artifact families a web-scale text corpus accumulates and a
    training mix must not carry: U+FFFD replacement characters (a decoder
    already lost bytes upstream), raw C0 control characters (binary
    payloads mis-labeled as text; tab/newline/CR excluded), and
    UTF-8-read-as-Latin-1 mojibake (counted via its two lead markers).
    Every count is a character-length difference after
    ``replace``/``regexp_replace`` — exact integers, no regex feature
    outside the RE2 / java.regex common subset, so the DuckDB oracle
    replays it verbatim.

    Map-only: zero shuffles, all counters whole-stage-codegen'd; ``clean``
    is a plain boolean so the screen pushes into downstream scans like
    ``quality_score.keep``. At 100 TB this runs in the same scan as the
    other per-doc screens.

    Returns ``(id, n_chars, n_replacement, n_ctrl, n_mojibake, clean)``.
    """
    text = F.col(text_col)
    n_chars = F.length(text).cast("long")

    def _count(marker: str) -> Column:
        return (n_chars - F.length(F.replace(text, F.lit(marker)))).cast(
            "long"
        )

    n_repl = _count("�")
    # translate() deletion of the fixed control set — value-identical to
    # regexp_replace(text, CTRL_CHAR_RE, '') (the oracle keeps the regex
    # form) without stacking a second regex pattern in the screen's task
    n_ctrl = (
        n_chars - F.length(F.translate(text, CTRL_CHAR_SET, ""))
    ).cast("long")
    n_moji = (_count(MOJIBAKE_MARKERS[0])
              + _count(MOJIBAKE_MARKERS[1])).cast("long")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_ctrl"),
        n_moji.alias("n_mojibake"),
        ((n_repl + n_ctrl + n_moji) == F.lit(0)).alias("clean"),
    )


def screen_confusion(
    df: DataFrame,
    pred_col: str = "pred",
    label_col: str = "label",
) -> DataFrame:
    """Exact confusion metrics of a boolean screen against labels.

    The quantitative half of the rater-audit pair: where
    :func:`screen_agreement` measures whether two screens AGREE (Cohen's
    kappa, no ground truth), this measures how one screen performs against
    a labeled sample — TP/FP/FN/TN plus precision / recall / F1 as exact
    ppm integers. Run on the (bounded) labeled audit set before a screen
    is promoted into the corpus funnel: a screen with high agreement but
    low recall is two raters sharing a blind spot, and only this view
    shows it. F1 is computed from the ppm precision/recall themselves
    (``2·p·r div (p+r)``) so the oracle replays it exactly.

    Shape: ONE conditional-sum fold to a single row — map-side partials,
    one 1-row exchange. At 100 TB the labeled set is sample-sized anyway;
    the operator also runs unchanged over a full corpus of derived
    labels.

    Returns one row ``(n_tp, n_fp, n_fn, n_tn, precision_ppm,
    recall_ppm, f1_ppm)`` (ppm fields NULL on an empty denominator).
    """
    p = F.col(pred_col)
    y = F.col(label_col)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    folded = df.agg(
        cnt(p & y).alias("n_tp"),
        cnt(p & ~y).alias("n_fp"),
        cnt(~p & y).alias("n_fn"),
        cnt(~p & ~y).alias("n_tn"),
    )
    return folded.select(
        "n_tp",
        "n_fp",
        "n_fn",
        "n_tn",
        F.expr(
            "CAST(CAST(n_tp AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_tp + n_fp, 0) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CAST(n_tp AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_tp + n_fn, 0) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(2 * (CAST(n_tp AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_tp + n_fp, 0))"
            " * (CAST(n_tp AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_tp + n_fn, 0))"
            " div nullif((CAST(n_tp AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_tp + n_fp, 0))"
            " + (CAST(n_tp AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_tp + n_fn, 0)), 0) AS BIGINT)"
        ).alias("f1_ppm"),
    )


def fleiss_kappa(
    labels: DataFrame,
    rater_cols: tuple[str, ...] = ("keep_a", "keep_b", "keep_c"),
) -> DataFrame:
    """Fleiss' kappa across n boolean quality raters, integer-exact.

    The multi-rater generalization of :func:`screen_agreement`: when a
    curation funnel chains THREE or more independent keep/drop screens
    (Gopher heuristics, blocklist, encoding health, an LM band …),
    pairwise Cohen's kappas miss shared blind spots — Fleiss measures
    how much ALL raters agree beyond chance in one number (Fleiss
    1971). Per item with k keep-votes out of n raters, the agreeing
    pair count is ``k(k-1) + (n-k)(n-k-1)`` of ``n(n-1)`` ordered
    pairs; ``P̄`` averages that over items, ``P̄ₑ`` is the chance
    agreement from the pooled category shares, and
    ``κ = (P̄ − P̄ₑ) / (1 − P̄ₑ)``.

    All arithmetic is exact ppm integer, the :func:`screen_agreement`
    conventions: the pair-count numerator sums as BIGINT and widens to
    DECIMAL(38,0) before the single integral division; ``P̄ₑ`` squares
    the two category ppm shares and divides by 1e6 once; κ may be
    negative while Spark's ``div`` truncates and DuckDB's ``//``
    floors, so the sign is factored out and both engines divide
    non-negative integers only.

    Shape: one map-side conditional-sum fold to a single row — the
    vote count per item is a plain column expression, so at 100 TB the
    whole audit rides the same scan that evaluates the screens.

    Returns one row ``(n_items, n_raters, n_keep_votes, pbar_ppm,
    pe_ppm, kappa_ppm)``; ``kappa_ppm`` is NULL when ``P̄ₑ = 1``
    (degenerate unanimous-everywhere table).
    """
    n = len(rater_cols)
    if n < 2:
        raise ValueError("fleiss_kappa needs at least 2 raters")
    k = sum(F.col(c).cast("int") for c in rater_cols).cast("long")
    pair_num = (k * (k - 1) + (n - k) * (n - k - 1)).cast("long")
    c = labels.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(k).cast("long").alias("n_keep_votes"),
        F.sum(pair_num).cast("long").alias("_s"),
    )
    return c.select(
        "n_items",
        F.lit(n).cast("int").alias("n_raters"),
        "n_keep_votes",
        F.expr(
            f"CAST(CAST(_s AS DECIMAL(38,0)) * 1000000"
            f" div (CAST(n_items AS DECIMAL(38,0)) * {n * (n - 1)})"
            f" AS BIGINT)"
        ).alias("pbar_ppm"),
        F.expr(
            f"CAST(CAST(n_keep_votes AS DECIMAL(38,0)) * 1000000"
            f" div (CAST(n_items AS DECIMAL(38,0)) * {n}) AS BIGINT)"
        ).alias("_pk"),
        F.expr(
            f"CAST((CAST(n_items AS DECIMAL(38,0)) * {n} - n_keep_votes)"
            f" * 1000000"
            f" div (CAST(n_items AS DECIMAL(38,0)) * {n}) AS BIGINT)"
        ).alias("_pd"),
    ).select(
        "n_items",
        "n_raters",
        "n_keep_votes",
        "pbar_ppm",
        F.expr("(_pk * _pk + _pd * _pd) div 1000000").cast("long").alias(
            "pe_ppm"
        ),
    ).select(
        "*",
        F.expr(
            """CASE WHEN pe_ppm = 1000000 THEN NULL
                 WHEN pbar_ppm >= pe_ppm THEN
                   (pbar_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)
                 ELSE
                   -((pe_ppm - pbar_ppm) * 1000000
                     div (1000000 - pe_ppm))
               END"""
        ).cast("long").alias("kappa_ppm"),
    )


def quality_drift(
    labeled: DataFrame,
    group_col: str = "source",
    day_col: str = "day",
    keep_col: str = "keep",
) -> DataFrame:
    """Per-source quality-drift monitor over crawl days.

    Watches whether each source's quality screen keep-rate is
    moving over time — the signal that a site redesigned, a crawler
    broke, or spam flooded in (a per-(source, day) keep-rate that falls
    off a cliff while the overall mix looks stable). Per source: the
    overall keep ppm, the worst-deviating day and its keep ppm, and the
    max absolute day-level deviation — the alerting number.

    Shape: ONE corpus-cardinality shuffle — groupBy(source, day) with
    map-side partial sums; the per-source totals, the deviation compute,
    and the worst-day election (windowless min-struct, the zipf
    convention) all run on the bounded (sources × days) table. Integer
    ppm end to end.

    Returns ``(group, n_days, n_docs, keep_ppm, worst_day,
    worst_day_ppm, max_dev_ppm)``.
    """
    gd = labeled.groupBy(group_col, day_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col(keep_col).cast("long")).cast("long").alias("_k"),
    )
    tot = gd.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_days"),
        F.sum("_n").cast("long").alias("n_docs"),
        F.sum("_k").cast("long").alias("_keeps"),
    ).select(
        group_col,
        "n_days",
        "n_docs",
        F.expr(
            "CAST(CAST(_keeps AS DECIMAL(38,0)) * 1000000 div n_docs"
            " AS BIGINT)"
        ).alias("keep_ppm"),
    )
    dev = gd.join(tot, group_col).select(
        group_col,
        F.col(day_col).cast("long").alias("_day"),
        F.expr(
            "abs(CAST(CAST(_k AS DECIMAL(38,0)) * 1000000 div _n"
            " AS BIGINT) - keep_ppm)"
        ).alias("_dev"),
        F.expr(
            "CAST(CAST(_k AS DECIMAL(38,0)) * 1000000 div _n AS BIGINT)"
        ).alias("_day_ppm"),
    )
    worst = dev.groupBy(group_col).agg(
        F.min(
            F.struct(
                (-F.col("_dev")).alias("neg"),
                F.col("_day").alias("day"),
                F.col("_day_ppm").alias("ppm"),
            )
        ).alias("_w")
    ).select(
        group_col,
        F.col("_w.day").alias("worst_day"),
        F.col("_w.ppm").alias("worst_day_ppm"),
        (-F.col("_w.neg")).cast("long").alias("max_dev_ppm"),
    )
    return tot.join(worst, group_col).select(
        group_col, "n_days", "n_docs", "keep_ppm",
        "worst_day", "worst_day_ppm", "max_dev_ppm",
    )


def script_mix(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Mixed-script (homoglyph) screen: words blending Latin and
    Cyrillic letters inside one token.

    A single word carrying both scripts is the classic confusable-spoof
    / SEO-spam signal (Cyrillic "а/е/о/р/с" pasted into Latin words to
    dodge exact-match filters — the unicode_confusables problem; cf.
    UTS #39). Legitimate code-switching alternates scripts BETWEEN
    words, which :func:`lang_switch` profiles — blending WITHIN a word
    is what this screen flags.

    Per doc: word count, per-script character totals, the number of
    blended words, its ppm share, and a ``clean`` boolean that composes
    with the other screens. The per-word test is two ``rlike`` probes
    inside a ``filter`` HOF over ``split`` — JVM expression eval, no
    Python, no shuffle; the script ranges are literal chars (U+0400 —
    U+04FF written as ``[Ѐ-ӿ]``) in the RE2 / java.regex common subset
    so the DuckDB oracle replays the regex verbatim. Map-only at any
    corpus size.

    Returns ``(id, n_words, n_latin_chars, n_cyrillic_chars,
    n_mixed_words, mixed_ppm, clean)``.
    """
    text = F.col(text_col)
    n_chars = F.length(text).cast("long")
    n_words = F.size(F.split(text, " ")).cast("long")
    # fixed-class counts as translate() deletions (value-identical to the
    # [A-Za-z] / [Ѐ-ӿ] regex removals the DuckDB oracle replays; the
    # per-word rlike probes below keep the regex engine — those are
    # genuine pattern tests, not character maps)
    n_lat = (
        n_chars - F.length(F.translate(text, _LATIN_SET, ""))
    ).cast("long")
    n_cyr = (
        n_chars - F.length(F.translate(text, _CYRILLIC_SET, ""))
    ).cast("long")
    n_mixed = F.expr(
        f"CAST(size(filter(split({text_col}, ' '),"
        f" w -> w rlike '[A-Za-z]' AND w rlike '[Ѐ-ӿ]')) AS BIGINT)"
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lat.alias("n_latin_chars"),
        n_cyr.alias("n_cyrillic_chars"),
        n_mixed.alias("n_mixed_words"),
        F.expr(
            "CAST(CAST(size(filter(split(" + text_col + ", ' '),"
            " w -> w rlike '[A-Za-z]' AND w rlike '[Ѐ-ӿ]'))"
            " AS DECIMAL(38,0)) * 1000000"
            " div greatest(size(split(" + text_col + ", ' ')), 1)"
            " AS BIGINT)"
        ).alias("mixed_ppm"),
        (n_mixed == F.lit(0)).alias("clean"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab_sizes: tuple[int, ...] = (1_000, 10_000, 100_000),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-budget coverage curve: for each candidate vocabulary
    size V, the exact share of corpus tokens covered by the top-V most
    frequent types (and its complement, the OOV rate) — the number that
    sizes a vocabulary before training a tokenizer.

    The skew-free trick is COUNT-OF-COUNTS (the zipf/group-quantiles
    family): after the one corpus-sized shuffle (``groupBy(type)``), the
    per-type counts collapse to the tiny ``(count, n_types)`` domain,
    and both cumulative types and cumulative tokens run as windows over
    THAT domain ordered by count descending — never a global rank over
    the vocabulary. Within a count class every type contributes the
    same token count, so a V that lands inside a class is exact:
    ``covered = cum_before + (V - types_before) · count``. No
    approximation anywhere; ties broken by construction (any V types of
    equal count cover identical token mass).

    Returns one row per V: ``(vocab_size, vocab_total, covered_tokens,
    total_tokens, coverage_ppm, oov_ppm)``.
    """
    if not vocab_sizes or any(v <= 0 for v in vocab_sizes):
        raise ValueError("vocab_sizes must be non-empty and positive")
    toks = F.explode(F.split(F.col(text_col), " ")).alias("term")
    per_term = (
        df.select(toks)
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    coc = per_term.groupBy("cnt").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    w = W.orderBy(F.desc("cnt")).rowsBetween(W.unboundedPreceding, -1)
    cum = coc.select(
        "cnt",
        "m",
        F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long")
        .alias("types_before"),
        F.coalesce(F.sum(F.col("m") * F.col("cnt")).over(w), F.lit(0))
        .cast("long")
        .alias("tokens_before"),
        F.sum(F.col("m") * F.col("cnt")).over(
            W.orderBy("cnt").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).cast("long").alias("total_tokens"),
        F.sum("m").over(
            W.orderBy("cnt").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).cast("long").alias("vocab_total"),
    )
    grid = F.explode(
        F.array(*[F.lit(int(v)).cast("long") for v in vocab_sizes])
    ).alias("vocab_size")
    # V lands in exactly one count class: the one whose type range
    # [types_before, types_before + m) contains V-1 — or past the end
    # of the vocabulary, where coverage is total
    hit = cum.select("*", grid).filter(
        (
            (F.col("types_before") < F.col("vocab_size"))
            & (F.col("types_before") + F.col("m") >= F.col("vocab_size"))
        )
        | (
            (F.col("vocab_size") > F.col("vocab_total"))
            & (F.col("types_before") + F.col("m") == F.col("vocab_total"))
        )
    )
    covered = F.expr(
        "tokens_before + least(vocab_size - types_before, m) * cnt"
    )
    return hit.select(
        "vocab_size",
        "vocab_total",
        covered.cast("long").alias("covered_tokens"),
        "total_tokens",
        F.expr(
            "CAST(CAST(tokens_before"
            " + least(vocab_size - types_before, m) * cnt"
            " AS DECIMAL(38,0)) * 1000000 div total_tokens AS BIGINT)"
        ).alias("coverage_ppm"),
        F.expr(
            "CAST(1000000 - CAST(tokens_before"
            " + least(vocab_size - types_before, m) * cnt"
            " AS DECIMAL(38,0)) * 1000000 div total_tokens AS BIGINT)"
        ).alias("oov_ppm"),
    )


def pii_spread(
    t: DataFrame,
    pattern: str = r"phoneNumber: (555-01\d\d)",
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Cross-turn PII re-identification audit: per-turn redaction (the
    :func:`redact_pii` pass) treats each turn independently, but the
    same identifier recurring across several turns of one conversation
    is a linkage surface even after masking — span positions and
    repeat structure survive placeholder substitution. This measures
    that exposure BEFORE redaction: for each conversation, how many
    distinct PII values appear, how many recur in more than one turn,
    and how far apart (in turns) the most-spread value travels.

    Shape: one ``regexp_extract_all`` map pass (capture group 1 of
    ``pattern``) whose within-turn repeats collapse map-side via array
    HOFs (``array_distinct`` + a ``filter`` count per distinct value),
    so every exploded row is a distinct (conv, turn, value) — the
    turn count downstream is a plain ``count(*)``, never a
    ``count(DISTINCT)`` re-shuffle. Two groupBys follow: the (conv,
    value) one is the only corpus-sized shuffle; the per-conv rollup
    exchanges the already-collapsed value table. Output cardinality =
    conversations with at least one hit.

    Returns per conversation: ``(conv_id, n_values, n_hits,
    n_repeated, max_spread)`` where ``max_spread`` is
    ``max(last_turn - first_turn)`` over that conversation's values.
    """
    matches = F.regexp_extract_all(F.col(text_col), F.lit(pattern), 1)
    per_turn = F.transform(
        F.array_distinct(matches),
        lambda v: F.struct(
            v.alias("pii_value"),
            F.size(F.filter(matches, lambda x: x == v))
            .cast("long")
            .alias("cnt_in_turn"),
        ),
    )
    hits = t.select(
        F.col(conv_col),
        F.col(turn_col),
        F.explode(per_turn).alias("_h"),
    ).select(conv_col, turn_col, "_h.pii_value", "_h.cnt_in_turn")
    per_val = hits.groupBy(conv_col, "pii_value").agg(
        F.count(F.lit(1)).cast("long").alias("_n_turns"),
        F.sum("cnt_in_turn").cast("long").alias("_n_hits"),
        F.min(turn_col).alias("_first"),
        F.max(turn_col).alias("_last"),
    )
    return per_val.groupBy(conv_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("_n_hits").cast("long").alias("n_hits"),
        F.sum(
            F.when(F.col("_n_turns") > 1, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_repeated"),
        F.max(F.col("_last") - F.col("_first")).cast("long")
        .alias("max_spread"),
    )


def calibrate_scores(
    scored: DataFrame,
    group_col: str = "source",
    score_col: str = "score",
) -> DataFrame:
    """Per-group ECDF score calibration: map each raw integer score to
    its within-group percentile rank in ppm.

    Quality scorers drift across sources — the same raw number means
    "great" on a low-scoring crawl and "mediocre" on a curated one — so
    a single GLOBAL raw threshold keeps wildly different shares per
    source. Calibrating each source's scores to their within-source
    percentile (the classic rank/ECDF normalization; cf. CCNet's
    per-language perplexity buckets, Wenzek et al. 1911.00359) makes one
    threshold mean the same thing everywhere. Convention:
    ``cal_ppm(v) = floor(#\\{rows with score < v\\} * 10^6 / (n - 1))``
    — the integer-exact ``percent_rank`` twin (0 for the group minimum,
    10^6 for a unique maximum, 0 when n = 1), bit-identical across
    engines because no float division happens.

    Shape — skew-safe two-pass over the VALUE HISTOGRAM, never a
    per-group row sort (a
    ``row_number().over(partitionBy(group).orderBy(score))`` funnels a
    dominant source through ONE task at 100 TB): the corpus-cardinality
    stage is exactly one map-side-combinable ``groupBy(group, score)``;
    the cumulative and total windows then run over the BOUNDED
    (groups x distinct scores) histogram. The 10^6 multiply runs in
    DECIMAL(38,0), so group sizes up to 10^32 rows cannot overflow
    (the BIGINT formulation would cap at ~9.2e12).

    Returns the mapping ``(group, score, cnt, n, cal_ppm)`` — bounded by
    the score domain, broadcast-joinable back onto the corpus to stamp
    per-row calibrated scores.
    """
    hist = (
        scored.select(
            F.col(group_col), F.col(score_col).cast("long").alias("score")
        )
        .groupBy(group_col, "score")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wg = W.partitionBy(group_col)
    return (
        hist.withColumn("cum", F.sum("cnt").over(wg.orderBy("score")))
        .withColumn("n", F.sum("cnt").over(wg))
        .select(
            group_col,
            "score",
            "cnt",
            "n",
            F.when(
                F.col("n") > 1,
                F.expr(
                    "CAST(CAST(cum - cnt AS DECIMAL(38,0)) * 1000000"
                    " div (n - 1) AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cal_ppm"),
        )
    )


def calibration_report(
    mapping: DataFrame,
    raw_cutoff: int,
    target_ppm: int,
    group_col: str = "source",
) -> DataFrame:
    """Keep-rate comparison of a global RAW cutoff vs the CALIBRATED
    percentile cutoff, per group, over a :func:`calibrate_scores`
    mapping.

    Per group: the raw cutoff's keep share (the number that varies
    wildly across sources — the problem), the per-group effective score
    cutoff implied by the calibrated threshold (the smallest score at or
    above the target percentile — the number a fleet would deploy), and
    the calibrated keep share (≈ equal everywhere — the point). A group
    whose every row shares one score never reaches a positive
    percentile: its ``cal_cutoff`` is NULL and ``cal_keep_ppm`` 0,
    faithfully reporting "this source cannot be thresholded by rank".

    Every stage here runs on the bounded mapping (groups x scores):
    joins are histogram-cardinality, never corpus-cardinality, so AQE
    broadcasts them for free.

    Returns ``(group, n_docs, n_scores, raw_keep_ppm, cal_cutoff,
    cal_keep_ppm)`` — all BIGINT ppm, NULL-able cal_cutoff.
    """
    ppm = (
        "CAST(CAST({k} AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"
    )
    tot = mapping.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
    )
    raw = (
        mapping.filter(F.col("score") >= F.lit(int(raw_cutoff)))
        .groupBy(group_col)
        .agg(F.sum("cnt").cast("long").alias("_raw_k"))
    )
    cut = (
        mapping.filter(F.col("cal_ppm") >= F.lit(int(target_ppm)))
        .groupBy(group_col)
        .agg(F.min("score").alias("cal_cutoff"))
    )
    calk = (
        mapping.join(cut, group_col)
        .filter(F.col("score") >= F.col("cal_cutoff"))
        .groupBy(group_col)
        .agg(F.sum("cnt").cast("long").alias("_cal_k"))
    )
    return (
        tot.join(raw, group_col, "left")
        .join(cut, group_col, "left")
        .join(calk, group_col, "left")
        .select(
            group_col,
            "n_docs",
            "n_scores",
            F.expr(ppm.format(k="coalesce(_raw_k, 0)")).alias(
                "raw_keep_ppm"
            ),
            "cal_cutoff",
            F.expr(ppm.format(k="coalesce(_cal_k, 0)")).alias(
                "cal_keep_ppm"
            ),
        )
    )


#: canned assistant-artifact phrases a synthetic-data screen hunts for —
#: model-generated boilerplate that leaks into scraped corpora and, left
#: in a training mix, teaches the student model to parrot its teacher's
#: refusal/filler register (public practice: phrase blocklists in the
#: OpenAssistant / Alpaca-cleaning pipelines).
AI_ARTIFACT_PHRASES = (
    "as an ai language model",
    "i cannot assist with that",
    "certainly! here is",
    "as of my knowledge cutoff",
    "regenerate response",
)


def ai_artifact_census(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    phrases: tuple[str, ...] = AI_ARTIFACT_PHRASES,
) -> DataFrame:
    """Canned-phrase contamination census: per phrase, how many documents
    carry it and how often.

    Occurrence counting is a character-length difference after
    ``replace`` (exact integers, no regex), computed per (doc, phrase)
    after exploding a constant phrase array — 5x map-side row fan-out,
    then a groupBy over a phrase domain of ``len(phrases)`` rows, so the
    shuffle moves at most ``len(phrases)`` partial rows per task
    regardless of corpus size. ``doc_ppm`` uses the corpus doc count via
    a single-row broadcast cross join.

    Returns ``(phrase, n_docs, n_occurrences, doc_ppm)`` — one row per
    phrase that occurs at least once.

    Reference analog: the confidence/identifier screens the reference
    applies per page before admitting fields
    (``DocumentIntelligenceService.cs:108-183``), lifted to a
    corpus-level contamination audit.
    """
    lower = F.lower(F.col(text_col))
    pairs = df.select(
        F.col(id_col),
        lower.alias("_lt"),
        F.explode(
            F.array(*[F.lit(p) for p in phrases])
        ).alias("phrase"),
    )
    n_occ = (
        (
            F.length("_lt")
            - F.length(F.replace(F.col("_lt"), F.col("phrase")))
        )
        / F.length("phrase")
    ).cast("long")
    hits = (
        pairs.select("phrase", n_occ.alias("_n"))
        .filter(F.col("_n") > 0)
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("n_occurrences"),
        )
    )
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("_tot"))
    return hits.crossJoin(F.broadcast(tot)).select(
        "phrase",
        "n_docs",
        "n_occurrences",
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
            " div greatest(_tot, 1) AS BIGINT)"
        ).alias("doc_ppm"),
    )


def readability(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Flesch-reading-ease per document, in exact milli-points.

    Words = space-split token count; sentences = ``.!?`` occurrences
    (via ``translate`` char-map, floor 1); syllables = vowel-group count
    (``[aeiouy]+`` runs — the standard cheap heuristic). The score is
    computed in integer milli-points with truncating division so the
    DuckDB oracle reproduces it bit-for-bit:
    ``206835 - 1015*words div sentences - 84600*syllables div words``.

    Map-only (no shuffle); exactly ONE regex pattern per task (the
    vowel-run extractor) — sentence counting deliberately uses
    ``translate`` to stay off the two-Patterns-per-task megamorphic
    cliff documented at the top of this module.

    Returns ``(id, *keep_cols, n_words, n_sentences, n_syllables,
    flesch_milli)`` — ``keep_cols`` are passed through untouched so a
    grouping dimension (e.g. ``source``) survives without a re-join.
    """
    text = F.col(text_col)
    words = F.size(F.split(text, " ")).cast("long")
    sentences = F.greatest(
        F.lit(1).cast("long"),
        (F.length(text) - F.length(F.translate(text, ".!?", ""))).cast(
            "long"
        ),
    )
    syllables = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)")
    ).cast("long")
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
    )
    return out.withColumn(
        "flesch_milli",
        F.expr(
            "CAST(206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div greatest(n_words, 1)"
            " AS BIGINT)"
        ),
    )


def length_token_fit(
    df: DataFrame,
    group_col: str = "source",
    x_col: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """Per-group OLS fit of token count on character count, in exact
    integer arithmetic — a chars-per-token calibration a budget planner
    uses to convert byte budgets to token budgets per source, and a
    drift alarm when one source's slope diverges (tables/code/boilerplate
    change the chars:token ratio long before eyeballing does).

    The five sufficient statistics (n, Σx, Σy, Σxy, Σx²,& Σy²) are exact
    BIGINT sums — one map-side-combinable groupBy, a result of
    ``|groups|`` rows, no second pass. Slope and r² are then formed with
    widening DECIMAL(38,0) arithmetic and truncating division, so both
    engines produce identical integers: no float aggregation order
    dependence anywhere.

    Returns ``(group, n_docs, slope_ppm, r2_ppm)`` where ``slope_ppm``
    is tokens-per-char x 1e6 and ``r2_ppm`` is the squared Pearson
    correlation x 1e6.
    """
    y = F.size(F.split(F.col(text_col), " ")).cast("long")
    x = F.col(x_col).cast("long")
    s = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(x).cast("long").alias("_sx"),
        F.sum(y).cast("long").alias("_sy"),
        F.sum(x * y).cast("long").alias("_sxy"),
        F.sum(x * x).cast("long").alias("_sxx"),
        F.sum(y * y).cast("long").alias("_syy"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    cov = (
        f"({dec.format('n_docs')} * _sxy - {dec.format('_sx')} * _sy)"
    )
    vx = f"({dec.format('n_docs')} * _sxx - {dec.format('_sx')} * _sx)"
    vy = f"({dec.format('n_docs')} * _syy - {dec.format('_sy')} * _sy)"
    return s.select(
        group_col,
        "n_docs",
        F.expr(
            f"CAST(({cov} * 1000000) div greatest({vx}, 1) AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            f"CAST((({cov} * 1000000) div greatest({vx}, 1)) * {cov}"
            f" div greatest({vy}, 1) AS BIGINT)"
        ).alias("r2_ppm"),
    )


def reliability_report(
    df: DataFrame,
    score_col: str = "score_ppm",
    label_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """Calibration reliability diagram + ECE for a [0,1]-ppm quality
    score against a binary outcome — the check run before a learned
    quality classifier's scores are used as sampling weights or
    threshold gates (a score that says 0.9 should be right ~90% of the
    time; if not, every downstream keep-rate calculation lies).

    Exact integers: bins are ``least(n_bins−1, score·n_bins div 10⁶)``,
    per-bin mean predicted score and observed positive rate are
    truncating ppm divisions, the per-bin gap is their absolute
    difference, and the expected calibration error is the n-weighted
    gap mean — one groupBy over an ``n_bins``-row domain (map-side
    combinable; at most n_bins partial rows per task), then the ECE
    joins back from a single-row broadcast.

    Returns one row per non-empty bin:
    ``(bin, n, mean_score_ppm, pos_ppm, gap_ppm, ece_ppm)`` — ``ece_ppm``
    repeated on every row so the table stays one relation.
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    b = F.expr(
        f"least({n_bins} - 1, CAST({score_col} AS BIGINT) * {n_bins}"
        " div 1000000)"
    ).cast("int")
    per = (
        df.select(
            b.alias("bin"),
            F.col(score_col).cast("long").alias("_s"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_s").cast("long").alias("_ss"),
            F.sum("_y").cast("long").alias("_sy"),
        )
        .select(
            "bin",
            "n",
            F.expr("CAST(_ss div n AS BIGINT)").alias("mean_score_ppm"),
            F.expr(
                "CAST(_sy * CAST(1000000 AS BIGINT) div n AS BIGINT)"
            ).alias("pos_ppm"),
        )
        .withColumn(
            "gap_ppm", F.abs(F.col("mean_score_ppm") - F.col("pos_ppm"))
        )
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_n"),
        F.sum(
            F.col("n").cast("decimal(38,0)") * F.col("gap_ppm")
        ).cast("decimal(38,0)").alias("_wg"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "mean_score_ppm",
        "pos_ppm",
        "gap_ppm",
        F.expr("CAST(_wg div _n AS BIGINT)").alias("ece_ppm"),
    )
