"""Golden end-to-end pipeline tests (FIXTURES.md §2, §6).

* 100% per-turn extracted-text equality vs generator goldens, under stable
  turn ordering (the per-row invariant from BASELINE.json:input_hint).
* span invariant: spans index the ORIGINAL text.
* resume: kill after bucket k → re-run → identical output, completed buckets
  not re-extracted.
* duplicate-skip idempotency: full re-run appends nothing new.
"""

import pytest
from pyspark.sql import functions as F

from poc_document_ocr_spark.plans.pipeline import (
    PipelineConfig,
    consolidate_stage,
    extract_stage,
    run_pipeline,
)
from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
from poc_document_ocr_spark.sources.catalog import Catalog
from poc_document_ocr_spark.sources.datagen import generate


@pytest.fixture(scope="module")
def data():
    return generate(n_convs=12, median_turns=6, seed=7, skew=False)


@pytest.fixture(scope="module")
def turns_df(spark, data):
    return spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)


def test_extraction_golden_equality(spark, turns_df, data):
    out = extract_stage(turns_df).select(
        "conv_id", "turn_idx", "text", "extracted_text", "spans", "fmt"
    )
    rows = out.collect()
    assert len(rows) == len(data.golden)
    mismatches = []
    for r in rows:
        expect_text, expect_fmt = data.golden[(r.conv_id, r.turn_idx)]
        if r.extracted_text != expect_text or r.fmt != expect_fmt:
            mismatches.append((r.conv_id, r.turn_idx, r.fmt, expect_fmt))
        # span invariant: every span indexes the original text and its slice
        # (entity-decoded for html) contributes to the extraction
        for sp in r.spans:
            assert 0 <= sp.start <= sp.end <= len(r.text)
    assert not mismatches, f"{len(mismatches)} turns mismatched: {mismatches[:5]}"


def test_plain_spans_roundtrip(spark, turns_df, data):
    plain = (
        extract_stage(turns_df)
        .filter(F.col("fmt") == "plain")
        .select("text", "extracted_text", "spans")
        .collect()
    )
    for r in plain:
        rebuilt = "".join(r.text[sp.start : sp.end] for sp in r.spans)
        assert rebuilt == r.extracted_text


def test_consolidation_produces_runs(spark, turns_df):
    recs = consolidate_stage(extract_stage(turns_df))
    rows = recs.collect()
    assert rows, "no consolidated records"
    # identifiers fire on turn_idx % 3 == 1 → every conversation has runs
    keys = {r.doc_key for r in rows}
    assert any(k.startswith("TK-") for k in keys)
    for r in rows:
        # all-13-keys completion is checked elsewhere; here: provenance sane
        assert r.turn_count == len(r.turn_idxs)
        for p in r.provenance:
            if p.source == "Inferred":
                assert p.extracted_id is None
            else:
                assert p.extracted_id is not None


def _collect_sorted(df, cols=("doc_key",)):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_pipeline_run_resume_and_idempotency(spark, turns_df, data, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write_overwrite(turns_df, "transcripts")

    # --- uninterrupted reference run ---
    cfg = PipelineConfig(run_id="run-A", n_buckets=4, output_table="out_full")
    cfg.extracted_table = "ext_full"
    cfg.lineage_table = "lin_full"
    run_pipeline(spark, cat, cfg)
    full = _collect_sorted(cat.read("out_full").drop("op_run_id"))

    # --- killed-after-k run: simulate by running only buckets {0,1} then
    # resuming (same run_id picks up remaining buckets) ---
    cfg2 = PipelineConfig(run_id="run-B", n_buckets=4, output_table="out_kill")
    cfg2.extracted_table = "ext_kill"
    cfg2.lineage_table = "lin_kill"

    # phase 1: run the full loop but blow up after 2 buckets
    class Boom(Exception):
        pass

    orig_append = cat.append
    calls = {"lineage_commits": 0}

    def bombed_append(df, name):
        orig_append(df, name)
        if name == "lin_kill":
            calls["lineage_commits"] += 1
            if calls["lineage_commits"] == 2:
                raise Boom()

    cat.append = bombed_append
    with pytest.raises(Boom):
        run_pipeline(spark, cat, cfg2)
    cat.append = orig_append

    # phase 2: resume — completed buckets must be skipped
    summary = run_pipeline(spark, cat, cfg2)
    statuses = {b["partition_id"]: b["status"] for b in summary["buckets"]}
    assert list(statuses.values()).count("Resumed") == 2
    killed = _collect_sorted(cat.read("out_kill").drop("op_run_id"))
    assert killed == full, "resumed output differs from uninterrupted run"

    # --- duplicate-skip: full re-run with a NEW run id appends nothing ---
    cfg3 = PipelineConfig(run_id="run-C", n_buckets=4, output_table="out_kill")
    cfg3.extracted_table = "ext_kill2"
    cfg3.lineage_table = "lin_kill"
    summary3 = run_pipeline(spark, cat, cfg3)
    assert summary3["skipped_duplicates"] == len(full)
    again = _collect_sorted(cat.read("out_kill").drop("op_run_id"))
    assert again == full

    # lineage rows recorded per bucket with counters; the killed wave also
    # left a best-effort Failed row with the error recorded (the bomb fired
    # inside bucket 1's lineage commit, after its Succeeded row landed)
    lin = cat.read("lin_kill").filter(F.col("run_id") == "run-B").collect()
    succ = [r for r in lin if r.status == "Succeeded"]
    assert {r.partition_id for r in succ} == {0, 1, 2, 3}
    assert sum(r.rows_in for r in succ) == len(data.golden)
    failed = [r for r in lin if r.status == "Failed"]
    assert len(failed) == 1 and "Boom" in failed[0].error

    # column-order regression (round-2 bug): every appended batch must have
    # the identical column order — the duplicate-skip anti-join moves the
    # string join key first unless re-projected, making the table's inferred
    # schema depend on which file's footer Spark samples
    import glob
    import os

    orders = {
        tuple(spark.read.parquet(f).columns)
        for f in glob.glob(os.path.join(str(tmp_path), "out_kill", "*.parquet"))
    }
    assert len(orders) == 1, f"mixed column orders in output table: {orders}"


def test_bucketed_input_partition_pruning(spark, turns_df, tmp_path):
    """Physically bucketed input: a wave's scan reads ONLY its bucket's
    files (partition pruning), and the pipeline over the bucketed layout
    produces exactly the computed-bucket pipeline's output."""
    cat = Catalog(spark, str(tmp_path))
    cat.write_bucketed(turns_df, "transcripts_b", buckets=4)
    assert cat.bucket_values("transcripts_b") == [0, 1, 2, 3]

    # the per-wave filter is a PARTITION filter in the physical plan (file
    # pruning), not a post-scan row filter
    raw = cat.read("transcripts_b")
    one = raw.filter(F.col("bucket") == 2)
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "= 2)" in pf[1][:200], plan

    # bucketed-layout pipeline ≡ computed-bucket pipeline
    cat.write_overwrite(turns_df, "transcripts")
    cfg_flat = PipelineConfig(
        run_id="run-F", n_buckets=4, output_table="out_flat",
        extracted_table="ext_flat", lineage_table="lin_flat",
    )
    run_pipeline(spark, cat, cfg_flat)
    cfg_b = PipelineConfig(
        input_table="transcripts_b", run_id="run-P", n_buckets=999,
        output_table="out_b", extracted_table="ext_b",
        lineage_table="lin_b",
    )
    summary = run_pipeline(spark, cat, cfg_b)
    # physical layout defines the waves (cfg.n_buckets=999 ignored)
    assert {b["partition_id"] for b in summary["buckets"]} == {0, 1, 2, 3}
    assert _collect_sorted(cat.read("out_b").drop("op_run_id")) == \
        _collect_sorted(cat.read("out_flat").drop("op_run_id"))

    # resume over the bucketed layout: all waves skipped without a scan
    resumed = run_pipeline(spark, cat, cfg_b)
    assert all(b["status"] == "Resumed" for b in resumed["buckets"])

    # behavioral pruning proof: physically remove every OTHER bucket's
    # files; the bucket-2 wave must still run to completion because its
    # scan never reads those buckets
    import os
    import shutil

    for d in ("bucket=0", "bucket=1", "bucket=3"):
        shutil.rmtree(os.path.join(str(tmp_path), "transcripts_b", d))
    cfg_one = PipelineConfig(
        input_table="transcripts_b", run_id="run-O", output_table="out_one",
        extracted_table="ext_one", lineage_table="lin_one",
    )
    s_one = run_pipeline(spark, cat, cfg_one)
    assert [b["partition_id"] for b in s_one["buckets"]] == [2]
    assert s_one["buckets"][0]["status"] == "Succeeded"
    n_b2 = turns_df.filter(
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(4)) == 2
    ).count()
    assert s_one["buckets"][0]["rows_in"] == n_b2


def test_error_isolation_poisoned_payload(spark, turns_df, tmp_path):
    """Constitution parity: one payload whose extraction raises must not
    abort the batch — it becomes a rule='error' row, countable in the
    lineage rule-hit map, and the run completes."""
    first = turns_df.select("conv_id", "turn_idx").limit(1).collect()[0]
    poison_conv, poison_turn = first.conv_id, first.turn_idx

    def poison_extract(text):
        # injected extractor (serialized by value into the UDF closure):
        # blows up on one conversation's payloads, defers otherwise
        from poc_document_ocr_spark.functions import dispatch

        if text is not None and text.startswith("POISON"):
            raise ValueError("poisoned payload")
        return dispatch.extract(text)

    poisoned = turns_df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == poison_conv)
            & (F.col("turn_idx") == poison_turn),
            F.lit("POISON"),
        ).otherwise(F.col("text")),
    )
    out = extract_stage(poisoned, extract_fn=poison_extract)
    err = out.filter(F.col("rule") == "error").collect()
    assert len(err) == 1
    assert err[0].conv_id == poison_conv and err[0].extracted_text == ""
    # everything else extracted normally
    assert out.filter(F.col("rule") != "error").count() == turns_df.count() - 1

    # end-to-end: the pipeline completes and counts the error in rule_hits
    cat = Catalog(spark, str(tmp_path))
    cat.write_overwrite(poisoned, "transcripts")
    cfg = PipelineConfig(
        run_id="run-E", n_buckets=2, output_table="out_e",
        extracted_table="ext_e", lineage_table="lin_e",
        extract_fn=poison_extract,
    )
    summary = run_pipeline(spark, cat, cfg)
    assert all(b["status"] == "Succeeded" for b in summary["buckets"])
    lin = cat.read("lin_e").collect()
    assert sum((r.rule_hits or {}).get("error", 0) for r in lin) == 1


def test_cancellation_between_waves(spark, turns_df, tmp_path):
    """CancelRequested parity: cancel observed between waves stops the run
    with a Cancelled lineage row; buckets after it are untouched; a resume
    with the same run_id completes them to the uninterrupted result."""
    cat = Catalog(spark, str(tmp_path))
    cat.write_overwrite(turns_df, "transcripts")

    ref = PipelineConfig(
        run_id="run-R", n_buckets=4, output_table="out_ref",
        extracted_table="ext_ref", lineage_table="lin_ref",
    )
    run_pipeline(spark, cat, ref)
    full = _collect_sorted(cat.read("out_ref").drop("op_run_id"))

    polls = {"n": 0}

    def cancel_after_two():
        polls["n"] += 1
        return polls["n"] > 2

    cfg = PipelineConfig(
        run_id="run-C2", n_buckets=4, output_table="out_c",
        extracted_table="ext_c", lineage_table="lin_c",
        cancel_check=cancel_after_two,
    )
    summary = run_pipeline(spark, cat, cfg)
    statuses = [b["status"] for b in summary["buckets"]]
    assert statuses == ["Succeeded", "Succeeded", "Cancelled"]
    assert summary.get("cancelled") is True
    lin = {(r.partition_id, r.status) for r in cat.read("lin_c").collect()}
    assert lin == {(0, "Succeeded"), (1, "Succeeded"), (2, "Cancelled")}

    # resume with the cancel cleared: 0/1 skipped, 2 (Cancelled ≠ done)
    # and 3 processed; final output identical to the uninterrupted run
    cfg2 = PipelineConfig(
        run_id="run-C2", n_buckets=4, output_table="out_c",
        extracted_table="ext_c", lineage_table="lin_c",
    )
    resumed = run_pipeline(spark, cat, cfg2)
    st = {b["partition_id"]: b["status"] for b in resumed["buckets"]}
    assert st == {0: "Resumed", 1: "Resumed", 2: "Succeeded", 3: "Succeeded"}
    assert _collect_sorted(cat.read("out_c").drop("op_run_id")) == full


def test_turn_range_filter_before_udf(spark, turns_df):
    out = extract_stage(turns_df, turn_range="1-2")
    assert set(r.turn_idx for r in out.select("turn_idx").distinct().collect()) == {1, 2}
    # the filter must sit below the Python map stage in the physical plan,
    # and that map is the one mapInArrow boundary — no pandas-UDF node
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    udf_pos = plan.find("MapInArrow")
    filter_pos = plan.find("Filter")
    assert udf_pos != -1 and filter_pos != -1
    # deeper in the tree (= later in the string) executes earlier
    assert filter_pos > udf_pos, "turn-range filter not below the UDF barrier"


def test_catalog_compaction_preserves_content_and_merges_files(
    spark, tmp_path
):
    """Small-file maintenance: many appends fragment a bucketed table;
    compact() rewrites each leaf partition to one file with byte-identical
    content and intact partition pruning."""
    from pyspark.sql import functions as F

    from poc_document_ocr_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    # fragment: 6 appends x 3 shuffle files into bucket partitions
    for i in range(6):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
            (F.col("id") * 2).alias("v"),
        ).repartition(3)
        df.write.mode("append").partitionBy("bucket").parquet(cat.path("t"))

    before = sorted(tuple(r) for r in cat.read("t").collect())
    stats = cat.compact("t")
    assert stats["files_before"] > stats["files_after"]
    assert stats["files_after"] == 4  # one file per bucket partition
    after = sorted(tuple(r) for r in cat.read("t").collect())
    assert after == before
    # partition pruning still works on the compacted layout
    one = cat.read("t").filter(F.col("bucket") == 2)
    p = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in p
    assert len(before) == 600


def test_catalog_compaction_recovers_from_crash_windows(spark, tmp_path):
    """Every compaction crash window self-heals on the next call: stale
    tmp is discarded, stale old-with-live-table is discarded, and
    old-without-live-table (died between the two renames) is restored."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from poc_document_ocr_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).select(
            F.col("id"),
            F.pmod(F.col("id"), F.lit(2)).cast("int").alias("bucket"),
        ).write.mode("append").partitionBy("bucket").parquet(cat.path("t"))
    before = sorted(r["id"] for r in cat.read("t").collect())

    # window 1: died between the renames — table gone, old present
    path = cat.path("t")
    os.rename(path, path + "__compact_old")
    stats = cat.compact("t")  # must restore then compact
    assert sorted(r["id"] for r in cat.read("t").collect()) == before
    assert stats["files_after"] == 2
    assert not os.path.exists(path + "__compact_old")

    # window 2: died before cleanup — both table and old present
    shutil.copytree(path, path + "__compact_old")
    os.makedirs(path + "__compact_tmp")
    cat.compact("t")
    assert sorted(r["id"] for r in cat.read("t").collect()) == before
    assert not os.path.exists(path + "__compact_old")
    assert not os.path.exists(path + "__compact_tmp")


def test_every_package_module_reachable_from_pipeline_roots():
    """Dead-code guard: every module of the package is imported, directly
    or transitively, from the batch job, the streaming job, the review
    operators, the corpus generator, the session factory, the Python
    reference of the date parser, or one of the training-data operator
    modules kept as a library with their own table tests. A module none
    of them reaches is code nothing runs."""
    import ast
    import pathlib

    import poc_document_ocr_spark as pkg

    name = pkg.__name__
    root = pathlib.Path(pkg.__file__).parent
    modules = {}
    for path in root.rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join((name, *parts))] = path

    def with_parents(dotted):
        # importing a.b.c runs a and a.b first
        p = dotted.split(".")
        return {".".join(p[:i]) for i in range(1, len(p) + 1)}

    def imports(mod):
        path = modules[mod]
        here = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        found = set()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                for a in node.names:
                    found |= with_parents(a.name)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    anchor = here.split(".")
                    anchor = ".".join(anchor[: len(anchor) - node.level + 1])
                    target = f"{anchor}.{node.module}" if node.module else anchor
                else:
                    target = node.module
                found |= with_parents(target)
                # ``from pkg import module`` imports the submodule
                found |= {f"{target}.{a.name}" for a in node.names}
        return found & modules.keys()

    roots = ("plans.pipeline", "streaming.ingest", "operators.review",
             "sources.datagen", "session", "functions.datefold")
    library = ("operators.dedup", "operators.similarity",
               "operators.textstats", "operators.sampling", "operators.events",
               "operators.preference")
    roots += library
    todo = set().union(*(with_parents(f"{name}.{r}") for r in roots))
    seen = set()
    while todo:
        mod = todo.pop()
        seen.add(mod)
        todo |= imports(mod) - seen
    assert sorted(modules.keys() - seen) == []
