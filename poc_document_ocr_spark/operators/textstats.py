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
    "LANG_MARKERS",
    "token_stats",
    "lang_id",
    "fingerprint",
    "quality_score",
    "winnow_fingerprints",
    "source_boilerplate_share",
    "repetition_stats",
    "tfidf_top_terms",
    "chunk_text",
    "redact_pii",
    "corpus_composition",
    "bpe_token_count",
    "lm_quality_bands",
    "quality_keep",
    "blocklist_hits",
    "zipf_stats",
    "bigram_familiarity",
    "heaps_law",
    "TOKEN_SPLIT",
    "PII_PATTERNS",
    "BPE_TOKEN_PATTERN",
    "BLOCKLIST",
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
    corpus-cardinality, so BOTH joins pin sort-merge (``hint("merge")``:
    Spark's compressed-size estimate under-measures wide fp tables and
    can attempt a multi-GiB broadcast). Integer ppm end-to-end.

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
