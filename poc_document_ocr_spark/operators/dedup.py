"""Deduplication operators for large-scale text corpora.

Exact dedup (hash-groupBy), word-shingle MinHash signatures, LSH banding for
near-duplicate candidate pairs, and exact n-gram Jaccard verification — the
standard large-corpus dedup ladder, expressed entirely with built-in Spark
SQL functions (no Python UDFs: hashing is ``md5``, shingling is
``sequence``/``slice`` higher-order functions, so everything stays inside
whole-stage codegen).

Scale notes (100 TB):
* ``md5`` is computed map-side; the only shuffles are the groupBys on
  (doc, k) / (doc, band) and the final band-bucket self-join.
* The band join is an equi-join on (band, sig) — AQE handles skewed buckets
  (a hot bucket means a real near-dup cluster; pairs within it are the
  output, not an accident).
* MinHash here uses lexicographic min over ``md5(k || '|' || shingle)`` hex
  strings — deterministic, portable across engines (the DuckDB oracle
  reproduces it bit-for-bit), and uniform enough for Jaccard estimation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_dedup_groups",
    "dedup_weights",
    "word_shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "lsh_incremental_pairs",
    "ngram_jaccard",
    "prefix_similarity_join",
    "similarity_curve",
    "edit_distance_verify",
    "simhash64",
    "simhash_hamming",
    "simhash_near_pairs",
    "connected_components",
    "canonical_docs",
    "duplicate_ngram_spans",
    "decontaminate",
    "ngram_novelty",
    "segment_dedup",
    "snapshot_diff",
    "reextract_plan",
    "source_pair_matrix",
    "novelty_curve",
    "lsh_calibration",
    "lsh_band_sweep",
    "cluster_purity",
    "dedup_survivorship",
    "template_segments",
    "DEMO_PROFILE",
    "SCALE_PROFILE",
    "SIMHASH_BLOCKS",
]

#: Oracle-checked demo configuration (small enough for the DuckDB twin).
DEMO_PROFILE = {"num_hashes": 8, "rows_per_band": 4}

#: Production configuration for real corpora: 128 hashes in 16 bands × 8
#: rows. Band collision probability 1-(1-J^8)^16 ≈ 0.9996 at J=0.9 and
#: ≈ 4e-5 at J=0.3 — near-dups essentially always collide, unrelated pairs
#: essentially never (at the demo profile's 2 bands × 4 rows that separation
#: collapses on large corpora). Pinned in tests/test_training_ops.py.
SCALE_PROFILE = {"num_hashes": 128, "rows_per_band": 8}


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns one row per distinct content: ``fingerprint`` (md5 hex),
    ``keeper_id`` (lowest id — the row a dedup pass would keep),
    ``n_copies``.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(id, shingle)``.

    Documents with fewer than ``n`` words yield no shingles (same convention
    as the DuckDB oracle: ``range(0, len(words)-n+1)`` is empty).
    """
    words = F.split(F.col(text_col), " ")
    shingles = F.expr(
        f"transform(sequence(0, size(split({text_col}, ' ')) - {n}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i + 1, {n})))"
    )
    return (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col), F.explode(shingles).alias("shingle"))
        .distinct()
    )


def _perm_hash(k: int) -> Column:
    return F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))


def minhash_signatures(shingled: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 8) -> DataFrame:
    """Per-document MinHash signature rows: ``(id, k, h)``.

    ``h`` = lexicographic min over ``md5(k || '|' || shingle)`` — one
    map-side pass builds all K hash columns, a single groupBy(id) reduces
    them (partial aggregation makes this one shuffle of K columns, not K
    shuffles).
    """
    mins = [
        F.min(_perm_hash(k)).alias(f"h{k}") for k in range(num_hashes)
    ]
    wide = shingled.groupBy(id_col).agg(*mins)
    # unpivot to long (id, k, h) for banding
    stack_expr = ", ".join(f"{k}, h{k}" for k in range(num_hashes))
    return wide.selectExpr(
        id_col, f"stack({num_hashes}, {stack_expr}) as (k, h)"
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        rows_per_band: int = 4) -> DataFrame:
    """LSH banding: hash each band of the signature, bucket-join for pairs.

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b`` sharing at least
    one band. The join is equi on (band, sig); only bucket collisions pair
    up — at corpus scale this is the step that avoids the O(n²) compare.
    """
    bands = _band_sigs(signatures, id_col, rows_per_band)
    # Both sides of the self-join read bands — materialize once. Exchange
    # reuse can't do it (collect_list in the band signature is marked
    # non-deterministic, so the two branches never compare sameResult).
    # localCheckpoint instead of persist(): a CacheManager persist is held
    # strongly for the session lifetime unless someone calls unpersist —
    # with four independent callers nobody owns that lifecycle and every
    # call leaked a cached table (round-3 ADVICE). The checkpoint blocks
    # are owned by the returned plan and freed by the ContextCleaner when
    # the caller drops the result. Durability trade-off, eyes open:
    # checkpoint blocks have no lineage, so losing an executor mid-job
    # fails the job (re-run) instead of recomputing — acceptable for this
    # job-scoped intermediate, and the convention connected_components
    # already uses; preemptible-heavy clusters should prefer
    # caller-managed persist with replication.
    bands = bands.localCheckpoint(eager=True)
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("band"), F.col("sig")
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("band"), F.col("sig")
    )
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _band_sigs(signatures: DataFrame, id_col: str,
               rows_per_band: int) -> DataFrame:
    """(id, band, band-signature) rows — the shared banding step of the
    self-join and incremental candidate generators."""
    return (
        signatures.withColumn(
            "band", F.floor(F.col("k") / rows_per_band).cast("int")
        )
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("k"), F.col("h")))
                        ),
                        lambda x: x["h"],
                    ),
                    "",
                )
            ).alias("sig")
        )
    )


def lsh_incremental_pairs(
    existing_sigs: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental LSH dedup: candidate near-dup pairs between a NEW
    batch and the EXISTING corpus only — the daily-ingest shape. A crawl
    pipeline doesn't re-pair the whole corpus each day; it bands the new
    batch, joins it against the (stored) band signatures of what it
    already holds, and drops new documents that collide. New↔new pairs
    are deliberately NOT generated here (run the self-join generator on
    the surviving batch for those) — so the join cost scales with
    |new| · collision rate, independent of corpus size.

    Returns distinct ``(existing_id, new_id)`` sharing ≥ 1 band. The
    existing side's band table is exactly what
    :func:`lsh_candidate_pairs` computes — at scale it is persisted once
    and appended per batch, never recomputed.
    """
    old_b = _band_sigs(existing_sigs, id_col, rows_per_band).select(
        F.col(id_col).alias("existing_id"), "band", "sig"
    )
    new_b = _band_sigs(new_sigs, id_col, rows_per_band).select(
        F.col(id_col).alias("new_id"), "band", "sig"
    )
    return (
        old_b.join(new_b, ["band", "sig"])
        .select("existing_id", "new_id")
        .distinct()
    )


_HEX = "0123456789abcdef"

#: 64-bit SimHash split into 8 blocks of 8 bits: by pigeonhole, any pair
#: within Hamming distance 7 shares at least one exact block — the block
#: equi-join below is the scalable candidate generator (never all-pairs).
SIMHASH_BLOCKS = 8


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint per document, as a 16-char hex string.

    Classic Charikar scheme over distinct words (weight 1): each word's
    md5 contributes ±1 to 64 bit-counters; fingerprint bit j is the sign of
    counter j. One explode + ONE groupBy with 64 conditional sums (the
    MinHash pattern: K columns in one shuffle, not K shuffles); everything
    is built-in functions, reproduced bit-for-bit by the DuckDB oracle.
    """
    words = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(F.col(text_col), " "))
            ).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    h = F.md5(F.col("w"))
    aggs = []
    for j in range(64):
        nib = F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(nib, 3 - j % 4).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"_b{j}"))
    sums = words.groupBy(id_col).agg(*aggs)
    nibbles = []
    for q in range(16):
        v = sum(
            (F.col(f"_b{4 * q + r}") >= 0).cast("int") * (8 >> r)
            for r in range(4)
        )
        nibbles.append(F.lit(_HEX).substr(v + 1, F.lit(1)))
    return sums.select(F.col(id_col), F.concat(*nibbles).alias("simhash"))


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-char hex SimHash fingerprints —
    per-nibble popcount of XOR, pure column expressions."""
    total = F.lit(0)
    for q in range(16):
        na = F.conv(F.substring(a, q + 1, 1), 16, 10).cast("int")
        nb = F.conv(F.substring(b, q + 1, 1), 16, 10).cast("int")
        total = total + F.bit_count(na.bitwiseXOR(nb))
    return total.cast("int")


def simhash_near_pairs(fps: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 7) -> DataFrame:
    """Near-duplicate pairs by SimHash block join.

    ``fps``: (id, simhash). Candidates share at least one of the 8 8-bit
    blocks (complete for Hamming ≤ 7); exact Hamming distance then filters.
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    blocks = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("blk"),
                        F.substring("simhash", 2 * q + 1, 2).alias("val"),
                    )
                    for q in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", F.col("b.blk").alias("blk"),
             F.col("b.val").alias("val"))
    a = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
        "blk", "val",
    )
    b = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
        "blk", "val",
    )
    cands = (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", simhash_hamming(F.col("sh_a"), F.col("sh_b"))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph — the
    clustering step that turns near-duplicate PAIRS (LSH / SimHash / cosine
    candidates) into dedup GROUPS, so a cleaning pass can keep exactly one
    representative per cluster (the min id, by convention).

    Algorithm: iterative min-label propagation with a pointer-doubling hop —
    each round every vertex takes the min label among itself and its
    neighbors (one equi-join + one groupBy = one shuffle), then labels are
    compressed one hop through the label graph (``label := label(label)``),
    which collapses chains in O(log diameter) rounds instead of
    O(diameter). Convergence is detected by COUNTING changed labels (an
    aggregate — never a collect of data rows), and per-round lineage is
    truncated with ``localCheckpoint`` so the plan stays O(1) deep across
    iterations (the classic iterative-algorithm trap on Spark).

    Scale notes (10⁹ vertices): every round is two shuffles on the vertex
    id; near-dup graphs are shallow (duplicate clusters are dense, low
    diameter), so rounds stay in the low single digits. The driver holds
    only one changed-count long per round.

    Returns ``(node, component)`` for every vertex appearing in ``pairs``;
    ``component`` = min vertex id reachable. Deterministic (min is
    order-insensitive).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("component").alias("nbr_component"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_component").alias("nbr_min"))
        )
        stepped = labels.join(
            nbr_min.select(F.col("src").alias("node"), "nbr_min"),
            "node",
            "left",
        ).select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce("nbr_min", F.col("component")),
            ).alias("component"),
            F.col("component").alias("prev"),
        )
        # pointer-doubling hop: component := component's current component
        # (labels are always vertex ids, so the self-join hits every row)
        compressed = (
            stepped.join(
                labels.select(
                    F.col("node").alias("component"),
                    F.col("component").alias("grand"),
                ),
                "component",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("grand", F.col("component"))
                ).alias("component"),
                "prev",
            )
            .localCheckpoint()
        )
        changed = compressed.filter(F.col("component") < F.col("prev")).count()
        labels = compressed.select("node", "component")
        if changed == 0:
            break
    else:
        # unconverged labels silently mis-cluster a 100 TB dedup pass —
        # fail loudly; callers with genuinely deep graphs raise max_iters
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — raise max_iters"
        )
    edges.unpersist()
    return labels


def canonical_docs(
    docs: DataFrame,
    comp: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Canonical-representative selection: given per-document cluster
    labels (``comp``: the (node, component) output of
    :func:`connected_components`) and a per-document integer quality
    score, keep exactly ONE document per near-dup cluster — the highest
    scoring, ties broken by lowest id. This is the policy step a cleaning
    pass applies after clustering: near-dup groups usually keep the
    longest / highest-quality member, not the arbitrary min-id one
    (cf. the keep-longest convention in C4 / deduplicated CommonCrawl
    pipelines, Raffel et al. 1910.10683).

    The winner is ``min(struct(-score, id))`` — an order-insensitive
    aggregate, so the choice is deterministic under any partitioning and
    costs one vertex-count groupBy (no window over the full corpus).
    Unlabeled documents (absent from ``comp``) are singleton clusters and
    keep themselves.

    Returns one row per input document:
    ``(id, component, cluster_size, canon_id, is_canon)``.
    """
    labeled = (
        docs.join(comp, docs[id_col] == comp["node"], "left")
        .select(
            docs[id_col],
            F.coalesce("component", docs[id_col]).alias("component"),
            F.col(score_col).cast("long").alias("_score"),
        )
    )
    winners = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.min(
            F.struct((-F.col("_score")).alias("neg"), F.col(id_col))
        ).alias("_best"),
    )
    return (
        labeled.join(winners, "component")
        .select(
            id_col,
            "component",
            "cluster_size",
            F.col(f"_best.{id_col}").alias("canon_id"),
            (F.col(id_col) == F.col(f"_best.{id_col}")).alias("is_canon"),
        )
    )


def ngram_jaccard(shingled: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard similarity for candidate pairs over distinct shingles.

    ``pairs``: (id_a, id_b). Returns (id_a, id_b, inter, union_n, jaccard).
    The intersection is a single equi-join on shingle, touching only
    candidate pairs. Per-doc shingle-set sizes join in WITHOUT an explicit
    broadcast: ``sizes`` has one row per *corpus document* (unbounded — 10⁹
    rows at 100 TB), so forcing a broadcast of it would OOM; the candidate
    side (``inter``) is the small one, and AQE picks broadcast/shuffle from
    the observed sizes at runtime.
    """
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .withColumn("union_n", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn(
            "jaccard", F.col("inter") / F.col("union_n")
        )
    )
    return out.select("id_a", "id_b", "inter", "union_n", "jaccard")


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-duplication spans: the word positions covered by any
    ``n``-gram occurring in ≥ ``min_docs`` DISTINCT documents, merged into
    maximal spans per document — the span-level (not document-level) dedup
    of Lee et al., *Deduplicating Training Data Makes Language Models
    Better* (arXiv:2107.06499), which removes the duplicated passage while
    keeping the unique remainder of each document. n=13 words
    approximates the paper's 50-token threshold at ~4 tokens/word.

    Shape: positional n-gram hashes are map-side (``md5`` over higher-order
    slices), shared grams are one groupBy(gram) with an approx-then-exact
    distinct-doc count, the join back touches only positions whose gram is
    shared, and span merging is one gaps-and-islands window per document
    (two shuffles + one window; never all-pairs, never Python). Grams
    repeated only WITHIN one document are not flagged (cross-document
    duplication is the training-data signal; intra-doc repetition is
    :func:`~poc_document_ocr_spark.operators.textstats.repetition_stats`).

    Returns ``(doc_id, span_start, span_end, span_words, n_grams)`` with
    1-based inclusive word positions.
    """
    from pyspark.sql.window import Window as W

    words = F.split(F.col(text_col), " ")
    grams = F.expr(
        f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}), "
        f"i -> md5(concat_ws(' ', slice(split({text_col}, ' '), i, {n}))))"
    )
    pos_grams = (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col), F.posexplode(grams).alias("p0", "gh"))
        .select(F.col(id_col), (F.col("p0") + 1).alias("pos"), "gh")
    )
    shared = (
        pos_grams.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    dup = pos_grams.join(shared, "gh").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    # grams at prev and pos overlap-or-touch iff pos <= prev + n
    brk = F.when(prev.isNull() | (F.col("pos") > prev + n), 1).otherwise(0)
    islands = dup.withColumn(
        "island",
        F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
            "n_grams",
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    ``n``-gram with an evaluation/benchmark set — the standard
    train/test-overlap scrub (GPT-3 appendix C / PaLM-style n-gram
    collision check) run before a corpus is used for training.

    Shape: both sides reduce to DISTINCT ``(id, gram-hash)`` map-side; the
    overlap is one equi-join on the hash followed by a groupBy(doc). The
    benchmark side is usually broadcastable but unbounded in general, so
    no forced broadcast — AQE decides from observed sizes. Per document:
    ``n_grams`` (its distinct grams), ``n_overlap`` (grams also in the
    benchmark), ``contaminated`` (any overlap). Documents with fewer than
    ``n`` words have no grams and are clean by definition.
    """
    def _grams(df: DataFrame) -> DataFrame:
        words = F.split(F.col(text_col), " ")
        grams = F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}),"
            f" i -> md5(concat_ws(' ', slice(split({text_col}, ' '), i, {n}))))"
        )
        return (
            df.filter(F.size(words) >= n)
            .select(F.col(id_col), F.explode(grams).alias("gh"))
            .distinct()
        )

    cg = _grams(corpus)
    bg = _grams(benchmark).select("gh").distinct()
    per_doc = (
        cg.join(bg, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    totals = cg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        corpus.select(id_col)
        .join(totals, id_col, "left")
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    ref_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against a reference slice: the share
    of a document's DISTINCT word ``n``-grams that appear nowhere in the
    ``ref_pred`` documents — the freshness/redundancy score a curation
    pass uses to decide whether a new crawl adds anything beyond what
    the held corpus already covers (the additive complement of the
    decontamination overlap check above, which flags ANY collision; this
    one measures HOW MUCH of each candidate is genuinely new).

    Shape at 10¹² docs: both sides reduce map-side to DISTINCT
    ``(doc, gram-key)`` rows; the reference vocabulary is one DISTINCT
    over the gram key, and the novelty join is a gram-keyed equi-join
    with NO forced broadcast (the reference side is corpus-cardinality —
    AQE picks the strategy), followed by a doc-grain groupBy with
    map-side partials. ``novelty_ppm`` is one integral division of exact
    BIGINTs. Documents with fewer than ``n`` words have no grams and are
    absent from the output (nothing to score), as are reference docs.

    The gram key is the first 60 bits of the gram's md5 as a BIGINT
    (engine-portable via ``conv``/hex-literal cast) rather than the
    32-char hex string — the gram table is the biggest shuffle in the
    op (~100 gram rows per document) and the 8-byte key cuts its width
    ~3× (measured 269s → 180s at 18.8M docs). Collision cost is a gram
    falsely counted "seen": expected colliding pairs ≈ n²/2⁶¹, a
    relative novelty error of n/2⁶¹ — ~4×10⁻⁸ even at 10¹¹ distinct
    grams, far below the signal this score feeds.

    Returns ``(id, n_grams, n_unseen, novelty_ppm)``.
    """
    gram_key = (
        f"CAST(conv(substring(md5(concat_ws(' ',"
        f" slice(split({text_col}, ' '), i, {n}))), 1, 15), 16, 10)"
        f" AS BIGINT)"
    )
    grams = F.when(
        F.size(F.split(F.col(text_col), " ")) >= n,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}),"
                f" i -> {gram_key})"
            )
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    g = df.select(
        F.col(id_col), ref_pred.alias("_is_ref"), F.explode(grams).alias("gh")
    )
    ref_vocab = (
        g.filter(F.col("_is_ref"))
        .select("gh")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    return (
        g.filter(~F.col("_is_ref"))
        .join(ref_vocab, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unseen"),
        )
        .withColumn(
            "novelty_ppm", F.expr("n_unseen * 1000000 div n_grams")
        )
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Corpus-level segment dedup in the style of C4 (Raffel et al.,
    arXiv:1910.10683 §2.2): any fixed ``n``-word segment occurring more
    than once in the WHOLE corpus keeps only its globally-first occurrence
    (lowest ``(doc_id, seg_idx)``); every other occurrence is removed and
    the surviving segments are re-joined into ``clean_text``. Unlike
    :func:`duplicate_ngram_spans` (which only *reports* shared spans),
    this is the removal pass a cleaning pipeline actually applies. C4 uses
    three-sentence spans; the transcripts corpus has no sentence
    punctuation, so the unit is a non-overlapping ``n``-word window (the
    final short remainder is its own segment).

    Shape: segmentation is map-side (higher-order slice + ``md5``); the
    keeper election is ONE groupBy(segment-hash) whose ``min(struct)`` /
    ``count`` partial-aggregate map-side — a segment repeated 10⁹ times
    costs one combiner row per input partition, never a single-task
    window (the skew-safe choice at 100 TB). The join back is an
    equi-join on the hash (AQE skew-split applies), and reassembly is one
    groupBy(doc) whose per-doc state is bounded by the document's own
    segment count. Docs whose every segment got dropped (or empty docs)
    still appear, with ``clean_text = ''``.

    Returns ``(doc_id, n_segments, n_kept, n_dropped, clean_text)``.
    """
    words = F.split(F.col(text_col), " ")
    segs = F.expr(
        f"transform(sequence(0, int(ceil(size(split({text_col}, ' ')) / "
        f"{n})) - 1), i -> concat_ws(' ', "
        f"slice(split({text_col}, ' '), i * {n} + 1, {n})))"
    )
    occ = (
        df.filter(F.size(words) > 0)
        .select(F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg"))
        .select(
            F.col(id_col),
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.col("seg"),
            F.md5(F.col("seg")).alias("gh"),
        )
    )
    keepers = occ.groupBy("gh").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("keeper"),
    )
    flagged = occ.join(keepers, "gh").select(
        F.col(id_col),
        "seg_idx",
        "seg",
        (
            (F.col(f"keeper.{id_col}") == F.col(id_col))
            & (F.col("keeper.seg_idx") == F.col("seg_idx"))
        ).alias("keep"),
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("seg_idx"), F.col("seg"))
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_segments"),
        F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_segments", F.lit(0)).cast("int").alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            (
                F.coalesce("n_segments", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).cast("int").alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def dedup_weights(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Soft-dedup loss weights: every document keeps its row but carries
    ``weight_ppm = 10⁶ DIV n_copies`` — repeated content contributes one
    document's worth of gradient in total instead of being dropped (the
    down-weighting alternative to hard dedup; data-constrained scaling
    shows repeated data has sharply diminishing value, Muennighoff et
    al. 2305.16264).

    NULL text hashes as the EMPTY STRING (md5(NULL) is NULL, and a NULL
    fingerprint never equi-joins — without the coalesce, NULL-text rows
    silently vanish from the output, violating the every-row-kept
    contract; round-4 review finding).

    Shape: ONE hashed projection feeds both the size aggregate (map-side
    combinable) and the join probe side, so the md5 is written once in
    the plan; the join strategy is LEFT TO AQE (both sides are
    corpus-cardinality — never a forced broadcast). The deliberate
    alternative NOT taken: a single-scan ``count().over(partitionBy(
    fingerprint))`` window — one scan instead of two, but a viral
    duplicate class (hundreds of millions of copies of one boilerplate
    page) buffers inside ONE window task, while AQE splits a skewed
    JOIN key automatically. Two scans of a pruned (id, text) projection
    are the cheaper failure mode at 100 TB.

    Returns ``(id, n_copies, weight_ppm)``.
    """
    hashed = df.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fingerprint"),
    )
    sizes = hashed.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    return hashed.join(sizes, "fingerprint").select(
        id_col,
        "n_copies",
        F.expr("1000000 DIV n_copies").cast("long").alias("weight_ppm"),
    )


def template_segments(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    comp_col: str = "component",
    n: int = 8,
    tau_ppm: int = 600_000,
) -> DataFrame:
    """Boilerplate-template mining over near-dup clusters: for every
    component of the candidate graph (≥2 members), the ``n``-word
    segments present in at least ``tau_ppm`` (ppm of members) of the
    cluster's documents — the shared TEMPLATE the crawl kept
    re-emitting. This is the extraction complement of the pairwise
    dedup ladder: :func:`connected_components` groups the variants,
    a PageRank pass ranks the hub documents, and
    this op recovers the literal text they share, which is what a
    boilerplate-strip rule or a keep-best election actually wants to
    see (C4 and CCNet both hand-maintain such template lists; mining
    them from the dup graph keeps the list current as the crawl
    drifts).

    Segmentation is the same non-overlapping ``n``-word window as
    :func:`segment_dedup` (the corpus has no sentence punctuation);
    membership is counted once per (component, document, segment) —
    a document repeating a segment internally still contributes one.

    Shape at 10¹² docs: cluster sizes are one count over the
    (doc → component) table, and the ≥2 filter joins back onto the
    membership BEFORE any text is touched — on a real corpus most
    documents are singletons, so this semi-shape prunes nearly the
    whole corpus out of the expensive path up front. Segmentation of
    the surviving docs is a map-side higher-order explode; the
    doc-distinct pass and the (component, segment) count are groupBys
    with map-side partials, with ``cluster_size`` carried as a
    functionally-dependent grouping key so no second join is needed.
    Every join is equi with the strategy left to AQE — NEVER broadcast
    (the size table has one row per cluster, corpus-cardinality in the
    worst case). ``support_ppm`` is one integral division of
    DECIMAL(38,0)-widened BIGINTs (the ANSI overflow rule). A
    pathological mega-cluster's segment list is bounded by the
    cluster's distinct segments, never by pair counts.

    Returns ``(component, segment, n_docs, cluster_size,
    support_ppm)`` for clusters of ≥2 documents.
    """
    comp = components.select(
        F.col(id_col).alias("_cid"), F.col(comp_col).alias("component")
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    ).filter(F.col("cluster_size") >= 2)
    clustered = comp.join(sizes, "component")
    segs = F.expr(
        f"transform(sequence(0, int(ceil(size(split({text_col}, ' ')) / "
        f"{n})) - 1), i -> concat_ws(' ', "
        f"slice(split({text_col}, ' '), i * {n} + 1, {n})))"
    )
    # join BEFORE exploding: one text-row per doc through the join
    # shuffle, and singleton docs never reach the segment explode
    occ = (
        df.filter(F.size(F.split(F.col(text_col), " ")) > 0)
        .select(F.col(id_col), F.col(text_col))
        .join(clustered, F.col(id_col) == F.col("_cid"))
        .select(
            "component",
            "cluster_size",
            F.col(id_col),
            F.explode(segs).alias("segment"),
        )
        .distinct()
    )
    return (
        occ.groupBy("component", "cluster_size", "segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(
            F.expr(
                f"CAST(n_docs AS DECIMAL(38,0)) * 1000000 >= "
                f"CAST(cluster_size AS DECIMAL(38,0)) * {tau_ppm}"
            )
        )
        .select(
            "component",
            "segment",
            "n_docs",
            "cluster_size",
            F.expr(
                "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
                " div cluster_size AS BIGINT)"
            ).alias("support_ppm"),
        )
    )


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Crawl-to-crawl content diff: classify every document id across
    two corpus snapshots as added / removed / changed / same by content
    hash and roll the churn up per ``group_col`` — the release audit
    run before a new snapshot replaces the old one in a training mix (a
    source whose churn_ppm spikes re-crawled or broke; near-zero churn
    on a supposedly fresh crawl means the fetcher served cache).

    Shape at 10¹² docs: each side collapses to ``(id, group, md5)`` in
    its scan projection, ONE full-outer sort-merge join on the id —
    pinned (``hint("merge")``): both sides are corpus-cardinality and
    compressed-size estimates have attempted multi-GiB broadcasts on
    sibling operators, so the strategy is not left to the estimator —
    then a bounded groupBy(group) with map-side partials. ``churn_ppm = (added +
    removed + changed)·10⁶ div total``, integer-exact.

    Returns ``(group, n_added, n_removed, n_changed, n_same,
    churn_ppm)``.
    """
    ha = a.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_ga"),
        F.md5(F.col(text_col).cast("string")).alias("_h_a"),
    )
    hb = b.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_gb"),
        F.md5(F.col(text_col).cast("string")).alias("_h_b"),
    )
    j = ha.join(hb.hint("merge"), "_id", "full_outer").select(
        F.coalesce("_ga", "_gb").alias(group_col),
        F.when(F.col("_h_a").isNull(), "added")
        .when(F.col("_h_b").isNull(), "removed")
        .when(F.col("_h_a") != F.col("_h_b"), "changed")
        .otherwise("same")
        .alias("_st"),
    )
    n_of = lambda s: F.sum(F.when(F.col("_st") == s, 1).otherwise(0)).cast(
        "long"
    )
    return (
        j.groupBy(group_col)
        .agg(
            n_of("added").alias("n_added"),
            n_of("removed").alias("n_removed"),
            n_of("changed").alias("n_changed"),
            n_of("same").alias("n_same"),
        )
        .select(
            group_col,
            "n_added",
            "n_removed",
            "n_changed",
            "n_same",
            F.expr(
                "CAST(CAST(n_added + n_removed + n_changed AS"
                " DECIMAL(38,0)) * 1000000 div (n_added + n_removed"
                " + n_changed + n_same) AS BIGINT)"
            ).alias("churn_ppm"),
        )
    )


def source_pair_matrix(
    pairs: DataFrame,
    sources: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Near-dup syndication matrix: which sources duplicate which.

    Given verified near-duplicate pairs ``(id_a, id_b)`` and a per-document
    source label, count pairs per unordered source pair — the
    mirror/syndication audit a crawl curation pass runs to decide which
    domains are re-hosting each other's content (CommonCrawl mirrors,
    scraped-and-rehosted forums, news-wire syndication). A heavy
    off-diagonal cell means two sources carry the same text and one of
    them should be frequency-capped or dropped outright; the diagonal is
    within-source duplication (template/boilerplate pressure).

    Shape: two co-keyed equi joins pair→source (both sides are
    corpus-cardinality, so sort-merge is pinned — a broadcast of either
    would ship a corpus-sized table, the round-3 banned class), then ONE
    groupBy down to the ≤|sources|² matrix; the total for the share comes
    from a window over that bounded matrix, never a second corpus pass.
    The pair key is normalized ``(least, greatest)`` so (a,b) and (b,a)
    land in one cell.

    Returns ``(source_a, source_b, n_pairs, share_ppm)`` with
    ``source_a <= source_b`` and ``share_ppm`` the exact integer ppm of
    all pairs in that cell.
    """
    from pyspark.sql import Window as W

    lab = sources.select(
        F.col(id_col), F.col(source_col).alias("_src")
    )
    j = (
        pairs.join(
            lab.hint("merge"),
            pairs["id_a"] == lab[id_col],
        )
        .select("id_a", "id_b", F.col("_src").alias("_src_a"))
        .join(
            lab.hint("merge"),
            F.col("id_b") == lab[id_col],
        )
        .select(
            F.least("_src_a", "_src").alias("source_a"),
            F.greatest("_src_a", "_src").alias("source_b"),
        )
    )
    cells = j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    total = F.sum("n_pairs").over(W.partitionBy())
    return cells.withColumn("_total", total).select(
        "source_a",
        "source_b",
        "n_pairs",
        F.expr(
            "CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000"
            " div _total AS BIGINT)"
        ).alias("share_ppm"),
    )


def dedup_survivorship(
    sources: DataFrame,
    canon: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Dedup survivorship-bias audit: does canonical selection skew the mix?

    Near-dup dedup is not mix-neutral — mirror-heavy sources lose most of
    their documents to keep-best selection while original sources keep
    theirs, so the post-dedup corpus composition can drift far from the
    pre-dedup one. This op quantifies that drift per source: document
    counts before/after, the drop rate, and the signed ppm shift between
    the source's share of the corpus and its share of the kept set. A
    large negative ``bias_ppm`` = the source is being deduplicated away
    (usually correct for mirrors — but the audit is how you FIND OUT it
    happened, instead of discovering a silently vanished domain at
    training time).

    Shape: one co-keyed equi join of the (id, source) projection with the
    :func:`canonical_docs` output (both corpus-cardinality → sort-merge
    pinned), ONE groupBy to the ≤|sources| table; corpus/kept totals are
    windows over that bounded table.

    Returns ``(source, n_docs, n_kept, drop_ppm, corpus_share_ppm,
    kept_share_ppm, bias_ppm)``.
    """
    from pyspark.sql import Window as W

    lab = sources.select(F.col(id_col), F.col(source_col))
    j = lab.join(
        canon.select(id_col, "is_canon").hint("merge"), id_col
    )
    per_src = j.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("is_canon").cast("long")).cast("long").alias("n_kept"),
    )
    w = W.partitionBy()
    enriched = per_src.select(
        source_col,
        "n_docs",
        "n_kept",
        F.sum("n_docs").over(w).alias("_tot_docs"),
        F.sum("n_kept").over(w).alias("_tot_kept"),
    )
    return enriched.select(
        source_col,
        "n_docs",
        "n_kept",
        F.expr(
            "CAST(CAST(n_docs - n_kept AS DECIMAL(38,0)) * 1000000"
            " div n_docs AS BIGINT)"
        ).alias("drop_ppm"),
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
            " div _tot_docs AS BIGINT)"
        ).alias("corpus_share_ppm"),
        F.expr(
            "CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000"
            " div _tot_kept AS BIGINT)"
        ).alias("kept_share_ppm"),
        F.expr(
            "CAST(CAST(n_kept AS DECIMAL(38,0)) * 1000000 div _tot_kept"
            " AS BIGINT) - CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
            " div _tot_docs AS BIGINT)"
        ).alias("bias_ppm"),
    )


def novelty_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    day_col: str = "day",
) -> DataFrame:
    """Corpus novelty curve: first-seen-fingerprint share per crawl day.

    The ingestion-health monitor for a continuously crawled corpus: per
    day, how many distinct content fingerprints appeared, and what share
    of them had NEVER been seen on an earlier day. A healthy crawl holds
    novelty high; a collapsing curve means the crawler is re-fetching the
    same content (or a syndication loop is feeding copies in) and the
    marginal ingest cost buys no new training signal. The complement of
    ``snapshot_diff`` (two named snapshots) — this is the whole timeline
    in one pass.

    Shape: the corpus reduces map-side onto the (fp, day) domain (one
    shuffle, partial aggregation combines duplicate fetches before the
    wire), the per-fp first day is a MIN window over fp — no self-join,
    and the window's partitions are bounded by |days| rows per fp however
    viral the content (the (fp, day) agg already collapsed copies) — and
    the day rollup reduces to the bounded |days| table. Exact integers
    throughout.

    Returns ``(day, n_docs, n_fp, n_new_fp, novelty_ppm)`` where
    ``novelty_ppm`` = exact ppm of that day's distinct fingerprints that
    were first seen that day.
    """
    from pyspark.sql import Window as W

    fp_day = df.select(
        F.md5(F.col(text_col).cast("binary")).alias("fp"),
        F.col(day_col).cast("long").alias("day"),
    )
    per = fp_day.groupBy("fp", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    j = per.withColumn(
        "_first_day", F.min("day").over(W.partitionBy("fp"))
    )
    return (
        j.groupBy("day")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.sum(
                F.when(F.col("day") == F.col("_first_day"), 1).otherwise(0)
            ).cast("long").alias("n_new_fp"),
        )
        .select(
            "day",
            "n_docs",
            "n_fp",
            "n_new_fp",
            F.expr(
                "CAST(CAST(n_new_fp AS DECIMAL(38,0)) * 1000000"
                " div n_fp AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


def lsh_calibration(
    shingled: DataFrame,
    signatures: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash estimator calibration: estimated vs exact Jaccard per band.

    The audit that justifies trusting the sketch: over the LSH candidate
    pairs, compare the MinHash estimate (matching signature positions /
    K) against the exact shingle-set Jaccard, rolled up per match-count
    band. A healthy profile has the mean exact Jaccard tracking the
    estimate and a one-sided error shrinking as matches→K; a broken hash
    family (or a K too small for the dedup threshold) shows up as a flat
    or inverted profile. This is how a 100 TB dedup pass validates its
    sketch parameters on a sample BEFORE committing the full run —
    the empirical twin of the (1-(1-j^r)^b) S-curve the band/row choice
    is derived from.

    Shape: signature match counting is two pinned sort-merge joins of the
    candidate pairs against the (id, k, h) signature rows (both
    corpus-cardinality — broadcasting either side is the banned class)
    followed by a (id_a, id_b) groupBy; the exact Jaccard reuses
    :func:`ngram_jaccard` (candidates-only); the final rollup reduces to
    ≤ K+1 rows. Integer-exact: est_ppm = matches·10⁶ div K, exact ppm =
    inter·10⁶ div union, error aggregated as an exact mean of ppm deltas.

    Returns ``(matches, n_pairs, est_ppm, mean_exact_ppm,
    mean_abs_err_ppm)`` ordered by nothing in particular (bounded table).
    """
    sa = signatures.select(
        F.col(id_col).alias("id_a"), "k", F.col("h").alias("_ha")
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"), "k", F.col("h").alias("_hb")
    )
    m = (
        pairs.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), ["id_b", "k"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.when(F.col("_ha") == F.col("_hb"), 1).otherwise(0)
            ).cast("long").alias("matches")
        )
    )
    jac = ngram_jaccard(shingled, pairs, id_col=id_col).select(
        "id_a",
        "id_b",
        F.expr(
            "CAST(CAST(inter AS DECIMAL(38,0)) * 1000000"
            " div union_n AS BIGINT)"
        ).alias("_exact_ppm"),
    )
    est_ppm = F.expr(
        f"CAST(CAST(matches AS DECIMAL(38,0)) * 1000000"
        f" div {num_hashes} AS BIGINT)"
    )
    per_pair = m.join(jac, ["id_a", "id_b"]).select(
        "matches",
        "_exact_ppm",
        F.abs(est_ppm - F.col("_exact_ppm")).alias("_abs_err_ppm"),
    )
    g = per_pair.groupBy("matches").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CAST(sum(CAST(_exact_ppm AS DECIMAL(38,0)))"
            " div count(1) AS BIGINT)"
        ).alias("mean_exact_ppm"),
        F.expr(
            "CAST(sum(CAST(_abs_err_ppm AS DECIMAL(38,0)))"
            " div count(1) AS BIGINT)"
        ).alias("mean_abs_err_ppm"),
    )
    return g.select(
        "matches",
        "n_pairs",
        est_ppm.alias("est_ppm"),
        "mean_exact_ppm",
        "mean_abs_err_ppm",
    )


def reextract_plan(
    prev: DataFrame,
    curr: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Incremental re-extraction workload plan between two crawl snapshots.

    The planning twin of :func:`snapshot_diff`: instead of reporting
    churn, it sizes the work an idempotent extraction pipeline actually
    has to do when the new snapshot lands — re-extract added+changed
    documents, skip unchanged ones (their lineage rows are still valid:
    the same anti-join-on-completed-partitions contract the pipeline's
    resume path uses), and tombstone removed ones. ``work_chars`` is the
    total character volume to push through the extractors (the honest
    cost unit — extraction is char-bound, not doc-bound) and
    ``saved_ppm`` the exact share of the new snapshot skipped — the
    number that justifies incremental over full re-runs.

    Shape: identical to snapshot_diff — (id, group, md5, length)
    projections, ONE pinned full-outer sort-merge join on the id (both
    sides corpus-cardinality), bounded groupBy(group) with map-side
    partials.

    Returns ``(group, n_docs, n_reextract, n_skip, n_tombstone,
    work_chars, saved_ppm)`` where ``n_docs``/``saved_ppm`` cover the
    NEW snapshot (tombstones counted separately).
    """
    ha = prev.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_ga"),
        F.md5(F.col(text_col).cast("string")).alias("_h_a"),
    )
    hb = curr.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_gb"),
        F.md5(F.col(text_col).cast("string")).alias("_h_b"),
        F.length(text_col).cast("long").alias("_len_b"),
    )
    j = ha.join(hb.hint("merge"), "_id", "full_outer").select(
        F.coalesce("_gb", "_ga").alias(group_col),
        F.when(F.col("_h_b").isNull(), "tombstone")
        .when(
            F.col("_h_a").isNull() | (F.col("_h_a") != F.col("_h_b")),
            "reextract",
        )
        .otherwise("skip")
        .alias("_st"),
        F.coalesce("_len_b", F.lit(0)).alias("_len_b"),
    )
    n_of = lambda s: F.sum(F.when(F.col("_st") == s, 1).otherwise(0)).cast(
        "long"
    )
    return (
        j.groupBy(group_col)
        .agg(
            n_of("reextract").alias("n_reextract"),
            n_of("skip").alias("n_skip"),
            n_of("tombstone").alias("n_tombstone"),
            F.sum(
                F.when(F.col("_st") == "reextract", F.col("_len_b"))
                .otherwise(0)
            ).cast("long").alias("work_chars"),
        )
        .select(
            group_col,
            (F.col("n_reextract") + F.col("n_skip")).alias("n_docs"),
            "n_reextract",
            "n_skip",
            "n_tombstone",
            "work_chars",
            F.expr(
                "CAST(CAST(n_skip AS DECIMAL(38,0)) * 1000000"
                " div (n_reextract + n_skip) AS BIGINT)"
            ).alias("saved_ppm"),
        )
    )


def lsh_band_sweep(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band_configs: tuple[int, ...] = (2, 4, 8),
) -> DataFrame:
    """LSH operating-point sweep: candidate volume + quality per (b×r).

    Choosing the band/row split is THE cost lever of a 100 TB dedup
    pass: more bands (fewer rows per band) catches lower-Jaccard pairs
    but explodes the candidate volume the verifier must touch; fewer,
    wider bands miss near-dups. The S-curve ``P(candidate) =
    1-(1-j^r)^b`` gives the theory; this sweep gives the empirical
    operating point on YOUR corpus sample: for each config, the
    candidate-pair count plus the sketch-estimated quality mix — how
    many candidates look strong (est ≥ 0.7), how many look like junk
    (est < 0.3, the wasted-verification share), and the mean estimate.

    Shape: the signature table is materialized ONCE (localCheckpoint —
    the lsh_candidate_pairs ownership convention) and every config
    re-bands it: per config one banding groupBy + one bucket equi-join
    + two pinned sort-merge joins for the match counting (both sides
    corpus-cardinality — the banned-broadcast class), folding to ONE
    row. Run on a sample before the full pass, like lsh_calibration.

    Returns one row per config: ``(rows_per_band, n_bands, n_pairs,
    mean_est_ppm, n_strong, n_weak)``; ``mean_est_ppm`` is NULL when a
    config yields no candidates.
    """
    for r in rows_per_band_configs:
        if num_hashes % r:
            raise ValueError(
                f"num_hashes={num_hashes} not divisible by"
                f" rows_per_band={r}"
            )
    sigs = signatures.localCheckpoint(eager=True)
    sa = sigs.select(F.col(id_col).alias("id_a"), "k",
                     F.col("h").alias("_ha"))
    sb = sigs.select(F.col(id_col).alias("id_b"), "k",
                     F.col("h").alias("_hb"))
    outs = []
    for r in rows_per_band_configs:
        pairs = lsh_candidate_pairs(sigs, id_col=id_col, rows_per_band=r)
        m = (
            pairs.join(sa.hint("merge"), "id_a")
            .join(sb.hint("merge"), ["id_b", "k"])
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(
                    F.when(F.col("_ha") == F.col("_hb"), 1).otherwise(0)
                ).cast("long").alias("_matches")
            )
        )
        est = F.expr(
            f"CAST(CAST(_matches AS DECIMAL(38,0)) * 1000000"
            f" div {num_hashes} AS BIGINT)"
        )
        outs.append(
            m.select(est.alias("_est")).agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.expr(
                    "CAST(sum(CAST(_est AS DECIMAL(38,0)))"
                    " div nullif(count(1), 0) AS BIGINT)"
                ).alias("mean_est_ppm"),
                F.sum(F.when(F.col("_est") >= 700_000, 1).otherwise(0))
                .cast("long").alias("n_strong"),
                F.sum(F.when(F.col("_est") < 300_000, 1).otherwise(0))
                .cast("long").alias("n_weak"),
            ).select(
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(num_hashes // r).cast("int").alias("n_bands"),
                "n_pairs",
                "mean_est_ppm",
                "n_strong",
                "n_weak",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def cluster_purity(
    components: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    comp_col: str = "component",
    label_col: str = "source",
    min_size: int = 2,
) -> DataFrame:
    """Label homogeneity of each near-dup cluster.

    The attribution question cross_source_dup answers pairwise, asked at
    cluster grain: is each dedup cluster one source's content (pure —
    re-crawls, mirrors within a site) or a cross-source syndication
    family (mixed — the clusters where canonical-keeper choice silently
    decides which SOURCE survives)? Per cluster of ``min_size``+ docs:
    size, distinct label count, the majority label (deterministic
    min-struct tie-break, the zipf convention) and its exact-ppm share.

    Shape: one equi-join of the (id, component) assignment against the
    (id, label) projection — both corpus-cardinality, strategy left to
    AQE (never broadcast) — then groupBy(component, label) with
    map-side partials and a windowless min(struct) majority pick per
    cluster. Output is cluster-grain, like canonical_docs.

    Returns ``(component, n_docs, n_labels, top_label, purity_ppm)``.
    """
    lab = labels.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lab")
    )
    j = components.select(
        F.col(id_col) if id_col in components.columns
        else F.col("node").alias(id_col),
        comp_col,
    ).join(lab, F.col(id_col) == F.col("_id"))
    cl = j.groupBy(comp_col, "_lab").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    return (
        cl.groupBy(comp_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_labels"),
            F.min(
                F.struct((-F.col("_cnt")).alias("neg"), F.col("_lab"))
            ).alias("_best"),
        )
        .filter(F.col("n_docs") >= min_size)
        .select(
            comp_col,
            "n_docs",
            "n_labels",
            F.col("_best._lab").alias("top_label"),
            F.expr(
                "CAST(CAST(-_best.neg AS DECIMAL(38,0)) * 1000000"
                " div n_docs AS BIGINT)"
            ).alias("purity_ppm"),
        )
    )


def edit_distance_verify(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-level verification of near-dup candidate pairs: exact
    Levenshtein distance (JVM-side ``levenshtein``) plus an integer
    similarity ``sim_ppm = 10⁶·(maxlen − dist) div maxlen`` — the last
    rung of the verify ladder, below shingle Jaccard: it certifies
    *edit-level* closeness where token-set measures can't distinguish
    a reorder from a rewrite.

    Cost contract: the DP is O(|a|·|b|) PER PAIR, so this runs only on
    pairs already admitted by a bounded candidate generator (LSH band
    collision, SimHash block, Jaccard threshold) — never corpus×corpus.
    The two text joins leave strategy to AQE (``docs`` is
    corpus-cardinality, so forcing a broadcast of it is banned by the
    repo's broadcast policy); ``len_gap`` rides along because
    ``dist ≥ |len_a − len_b|`` — a caller enforcing a max distance can
    pre-filter on it and skip the DP for free.

    Returns ``(id_a, id_b, len_a, len_b, len_gap, lev_dist, sim_ppm)``.
    """
    ta = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_text_a")
    )
    tb = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_text_b")
    )
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.length("_text_a").cast("long").alias("len_a"),
            F.length("_text_b").cast("long").alias("len_b"),
            F.levenshtein("_text_a", "_text_b").cast("long")
            .alias("lev_dist"),
        )
        .select(
            "id_a",
            "id_b",
            "len_a",
            "len_b",
            F.abs(F.col("len_a") - F.col("len_b")).alias("len_gap"),
            "lev_dist",
            F.expr(
                "CAST(CASE WHEN greatest(len_a, len_b) = 0 THEN 1000000"
                " ELSE CAST((greatest(len_a, len_b) - lev_dist)"
                " AS DECIMAL(38,0)) * 1000000 div greatest(len_a, len_b)"
                " END AS BIGINT)"
            ).alias("sim_ppm"),
        )
    )


def prefix_similarity_join(
    shingled: DataFrame,
    t_ppm: int = 600_000,
    id_col: str = "doc_id",
    max_candidates: int | None = None,
) -> DataFrame:
    """EXACT all-pair Jaccard similarity join via prefix filtering —
    the deterministic twin of the LSH candidate generator (public
    algorithm: Chaudhuri et al. ICDE'06 prefix filter; Xiao et al.
    WWW'08 PPJoin).

    LSH banding admits a qualifying pair only with probability
    1-(1-s^r)^b; prefix filtering admits EVERY pair with Jaccard ≥ t,
    provably. Shingles get a global rarity order (ascending corpus
    frequency, ties on the shingle), each document keeps only its
    prefix — the first ``|d| - ceil(t·|d|) + 1`` shingles in that order
    — and candidates are the prefix-token equi-join. Completeness: if
    ``J(a,b) ≥ t`` then ``|a∩b| ≥ t·|a∪b| ≥ ceil(t·max(|a|,|b|))``,
    and two sets with overlap ≥ α whose (globally ordered) prefixes of
    length ``|x| - α + 1`` were disjoint could share at most
    ``min(α-1, α-1)`` elements — contradiction; the per-set
    ``α_x = ceil(t·|x|) ≤ α`` only lengthens the kept prefix, so the
    join can only over-generate, never miss. The size filter
    ``min(sz)·10⁶ ≥ t_ppm·max(sz)`` (Jaccard ≥ t forces
    ``|a| ≥ t·|b|``) prunes before verification.

    Scale shape: the frequency join is shingle-equi (AQE strategy — the
    vocabulary is corpus-cardinality, never broadcast); the per-doc
    rarity rank is a window over ``hash(id)`` with bounded rows per doc;
    prefix buckets are keyed by RARE shingles by construction, so the
    candidate equi-join's fan-out per bucket is small where frequency
    is high exactly because frequent shingles never reach a prefix.
    Verification touches candidates only (``ngram_jaccard``), and the
    final threshold compare is exact integer:
    ``inter·10⁶ ≥ t_ppm·union``.

    Returns ``(id_a, id_b, inter, union_n, jac_ppm)`` for every pair
    with Jaccard ≥ t_ppm/10⁶ — id_a < id_b, no duplicates, NO missed
    pairs (the property the DuckDB oracle verifies by brute force).

    OPERATING RULE AT SCALE: run this over the DISTINCT-text
    representatives (exact dedup first), never the raw corpus. The
    exact qualifying-pair set is Θ(Σ family²) — a corpus with a
    million-member byte-identical family has ~5·10¹¹ true pairs, and
    no exact algorithm can emit fewer rows than exist (measured twice:
    the 18.8M-row synthetic bench corpus exhausts >70 GB of spill on
    BOTH the raw corpus and its distinct-text representatives — the
    generator's near-identical template families keep the true pair
    count quadratic either way; BENCH.md session 25). Identical docs
    collapse to one representative whose pair rows stand for the whole
    family×family block; near-identical families need an upstream
    cluster-canonical pass (``canonical_docs``) first.

    ``max_candidates`` is the disk-safety guard (the ``cosine_topk``
    ``max_queries`` precedent): when set, the candidate count is
    measured BEFORE verification and a ``ValueError`` aborts the job
    while the only materialized artifact is a count — not after 70 GB
    of doomed shuffle spill. Pay the extra candidate pass whenever the
    corpus's duplicate structure is unknown.
    """
    from pyspark.sql.window import Window as W

    freq = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_freq")
    )
    wd = W.partitionBy(id_col)
    ranked = (
        shingled.join(freq, "shingle")
        .withColumn(
            "_rn",
            F.row_number().over(wd.orderBy("_freq", "shingle")),
        )
        .withColumn("_sz", F.count(F.lit(1)).over(wd))
    )
    # prefix length |d| - ceil(t·|d|) + 1 in exact integer arithmetic
    ceil_ts = F.expr(
        f"CAST((_sz * CAST({t_ppm} AS BIGINT) + 999999) div 1000000"
        " AS BIGINT)"
    )
    prefix = ranked.filter(F.col("_rn") <= F.col("_sz") - ceil_ts + 1)
    a = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("_sz").alias("_sz_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("_sz").alias("_sz_b")
    )
    cands = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("_sz_a", "_sz_b") * F.lit(1_000_000).cast("long")
            >= F.lit(int(t_ppm)).cast("long")
            * F.greatest("_sz_a", "_sz_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    if max_candidates is not None:
        n_cand = cands.count()
        if n_cand > max_candidates:
            raise ValueError(
                f"prefix_similarity_join: {n_cand} candidate pairs exceed"
                f" max_candidates={max_candidates}; the corpus's duplicate"
                " structure makes the exact pair set intractable at this"
                " threshold — collapse families first (exact dedup /"
                " canonical_docs) or raise t_ppm"
            )
    verified = ngram_jaccard(shingled, cands, id_col=id_col)
    return (
        verified.filter(
            F.col("inter") * F.lit(1_000_000).cast("long")
            >= F.lit(int(t_ppm)).cast("long") * F.col("union_n")
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "union_n",
            F.expr(
                "CAST(inter * CAST(1000000 AS BIGINT) div union_n"
                " AS BIGINT)"
            ).alias("jac_ppm"),
        )
    )


def similarity_curve(
    pairs: DataFrame,
    sim_col: str = "jac_ppm",
    bucket_ppm: int = 100_000,
) -> DataFrame:
    """Operating curve of a verified similarity-pair table: how many
    pairs a dedup pass would act on at each candidate threshold — the
    table a corpus owner reads before picking the dedup cutoff (the
    knee of this curve IS the operating point; picking 0.8 vs 0.85
    blind can double the removed volume).

    Composes over EXACT pair tables (:func:`prefix_similarity_join`),
    so the curve is ground truth, not an LSH estimate. One groupBy over
    a ≤ ``10⁶/bucket_ppm``-row bucket domain, then a cumulative
    from-above window on that bounded domain.

    Returns ``(bucket_lo_ppm, n_pairs, n_at_or_above)`` — ``n_at_or_above``
    is the pair count a threshold at ``bucket_lo_ppm`` would act on.
    """
    from pyspark.sql.window import Window as W

    if bucket_ppm <= 0:
        raise ValueError("bucket_ppm must be positive")
    b = (
        F.col(sim_col).cast("long") / F.lit(bucket_ppm)
    )
    per = (
        pairs.select(
            (F.floor(b) * F.lit(bucket_ppm)).cast("long")
            .alias("bucket_lo_ppm")
        )
        .groupBy("bucket_lo_ppm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = (
        W.orderBy(F.col("bucket_lo_ppm").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per.withColumn(
        "n_at_or_above", F.sum("n_pairs").over(w).cast("long")
    )
