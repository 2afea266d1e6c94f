"""Structured Streaming ingest tests: availableNow drain, checkpoint
resume (new files only), and equality with the batch extraction and fold."""

from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.extraction import extract_turns
from poc_document_ocr_spark.plans.pipeline import consolidate_stage
from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
from poc_document_ocr_spark.sources.catalog import Catalog
from poc_document_ocr_spark.sources.datagen import generate
from poc_document_ocr_spark.streaming.ingest import (
    consolidate_batch_sink,
    stream_consolidate_to_catalog,
)


def _write_wave(spark, path, n_convs, seed):
    data = generate(n_convs=n_convs, median_turns=5, seed=seed, skew=False)
    df = spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)
    return df


def _rows(df):
    return {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in df.select("conv_id", "turn_idx", "extracted_text").collect()
    }


def test_stream_extract_drain_and_resume(spark, tmp_path):
    """Two file waves through the streaming job with one checkpoint: each
    drain lands exactly the batch extraction of the files it had not seen,
    stamped with the job's run_id and a batch_id; a drain with nothing new
    lands nothing; the records equal the batch fold over all input."""
    src = str(tmp_path / "in")
    cat = Catalog(spark, str(tmp_path / "wh"))

    def drain():
        q = stream_consolidate_to_catalog(
            spark, cat, src, "ex", "rec", str(tmp_path / "ckpt"),
            run_id="run-S", buckets=4,
        )
        q.awaitTermination(300)
        return cat.read("ex")

    wave1 = _write_wave(spark, src, n_convs=6, seed=11)
    got1 = drain()
    assert got1.count() == wave1.count()
    # streamed extraction ≡ batch extraction over the same input
    assert _rows(got1) == _rows(extract_turns(spark.read.parquet(src)))
    assert got1.filter(F.col("run_id") == "run-S").count() == got1.count()
    assert "batch_id" in got1.columns

    # second wave: the checkpoint must skip wave-1 files
    wave2 = _write_wave(spark, src, n_convs=3, seed=22)
    got2 = drain()
    assert got2.count() == wave1.count() + wave2.count()
    assert _rows(got2) - _rows(got1) == _rows(extract_turns(wave2))

    # re-run with the same checkpoint: nothing new to process
    assert drain().count() == got2.count()

    got = cat.read("rec").drop("bucket")
    expect = consolidate_stage(extract_turns(spark.read.parquet(src)))
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_stream_consolidate_incremental_equals_batch(spark, tmp_path):
    """Incremental consolidation (key-scoped bucket re-fold per micro-
    batch): two waves splitting every conversation, one batch per file;
    final records table equals the batch fold, and re-running the drained
    stream from its checkpoint changes nothing (idempotent maintenance)."""
    data = generate(n_convs=10, median_turns=6, seed=5, skew=False)
    turns = spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    src = str(tmp_path / "in")
    for parity in (0, 1):
        turns.filter(F.col("turn_idx") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cat = Catalog(spark, str(tmp_path / "wh"))

    def drain():
        q = stream_consolidate_to_catalog(
            spark, cat, src, "ex_s", "rec_s", str(tmp_path / "ck"),
            run_id="r1", max_files=1, buckets=4,
        )
        q.awaitTermination(300)

    drain()
    got = cat.read("rec_s").drop("bucket")
    expect = consolidate_stage(extract_turns(spark.read.parquet(src)))
    assert got.columns == expect.columns
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0

    snap = sorted(repr(tuple(r)) for r in got.collect())
    drain()  # same checkpoint: no new files -> nothing may change
    again = sorted(
        repr(tuple(r)) for r in cat.read("rec_s").drop("bucket").collect()
    )
    assert again == snap


def test_consolidate_sink_crash_mid_batch_then_replay_converges(
    spark, tmp_path
):
    """At-least-once contract of the incremental consolidation sink: a
    batch that crashes AFTER landing its extracted turns but BEFORE the
    records overwrite is replayed by the engine with the same batch_id —
    the replay must converge to exactly the clean-run state (no duplicate
    extracted rows, records complete), because both writes are dynamic
    partition overwrites of deterministic content."""
    data = generate(n_convs=8, median_turns=5, seed=9, skew=False)
    turns = spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    batch = extract_turns(turns).localCheckpoint()
    cat = Catalog(spark, str(tmp_path / "wh"))

    class CrashAfterExtracted:
        """Catalog proxy that dies on the SECOND write of a batch (the
        records overwrite), simulating an executor/driver loss mid-sink."""

        def __init__(self, inner):
            self.inner, self.writes = inner, 0

        def __getattr__(self, name):
            return getattr(self.inner, name)

        def overwrite_partitions(self, df, name, part_col):
            self.writes += 1
            if self.writes == 2:
                raise RuntimeError("injected crash before records write")
            self.inner.overwrite_partitions(df, name, part_col)

    faulty = CrashAfterExtracted(cat)
    try:
        consolidate_batch_sink(faulty, batch, 0, "ex", "rec", "r1", buckets=4)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    # extracted turns landed, records table missing — the torn state
    assert cat.exists("ex") and not cat.exists("rec")

    # the engine replays the SAME batch_id against the real catalog
    consolidate_batch_sink(cat, batch, 0, "ex", "rec", "r1", buckets=4)
    # no duplicated extracted rows from the pre-crash write
    assert cat.read("ex").count() == batch.count()
    got = cat.read("rec").drop("bucket")
    expect = consolidate_stage(batch)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_consolidate_sink_reingest_under_new_run_id_does_not_double_count(
    spark, tmp_path
):
    """Review finding: a job restarted with a FRESH checkpoint re-lands the
    same turns under a new run_id; the bucket re-fold must first-wins dedup
    at turn grain or every re-ingested turn double-counts in the records."""
    data = generate(n_convs=6, median_turns=5, seed=3, skew=False)
    turns = spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    batch = extract_turns(turns).localCheckpoint()
    cat = Catalog(spark, str(tmp_path / "wh"))

    consolidate_batch_sink(cat, batch, 0, "ex", "rec", "runA", buckets=4)
    # fresh checkpoint: batch numbering restarts, same input, new run id
    consolidate_batch_sink(cat, batch, 0, "ex", "rec", "runB", buckets=4)

    # both copies are retained in the extracted table (lineage)...
    assert cat.read("ex").count() == 2 * batch.count()
    # ...but the records fold counts each turn exactly once
    got = cat.read("rec").drop("bucket")
    expect = consolidate_stage(batch)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_consolidate_sink_extracts_each_turn_once(spark, tmp_path):
    """The sink reads ``batch_df`` with one action, the landing write: the
    touched buckets come from the landed partition, so the Arrow
    extraction pass upstream calls its extractor once per turn. Calls are
    counted across worker processes by appending to a file."""
    log = str(tmp_path / "calls")

    def counting(text):
        from poc_document_ocr_spark.functions import dispatch

        with open(log, "a") as f:
            f.write("1\n")
        return dispatch.extract(text)

    data = generate(n_convs=6, median_turns=5, seed=4, skew=False)
    turns = spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    cat = Catalog(spark, str(tmp_path / "wh"))
    consolidate_batch_sink(
        cat, extract_turns(turns, extract_fn=counting), 0, "ex", "rec", "r1",
        buckets=4,
    )
    with open(log) as f:
        assert len(f.readlines()) == len(data.turns)
    got = cat.read("rec").drop("bucket")
    expect = consolidate_stage(extract_turns(turns))
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_consolidate_sink_empty_first_batch(spark, tmp_path):
    """An empty first micro-batch (an input file with no rows) lands no
    data file; the sink reads the table back by the written schema, finds
    no touched bucket and writes no records. The next batch folds as
    usual."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    empty = extract_turns(spark.createDataFrame([], TRANSCRIPT_SCHEMA))
    consolidate_batch_sink(cat, empty, 0, "ex", "rec", "r1", buckets=4)
    assert not cat.exists("rec")

    data = generate(n_convs=4, median_turns=5, seed=6, skew=False)
    batch = extract_turns(spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA))
    consolidate_batch_sink(cat, batch, 1, "ex", "rec", "r1", buckets=4)
    got = cat.read("rec").drop("bucket")
    expect = consolidate_stage(batch)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
