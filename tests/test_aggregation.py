"""Fold + run-grouping golden tests — mirror reference unit tests 1:1
(DocumentAggregatorServiceTests.cs:32-107, DocumentSchemaMapperServiceTests.cs:44-226),
values verbatim, page→turn transposed (FIXTURES.md §3-4).
"""

from datetime import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import (
    consolidate,
    parse_ocr_date,
    with_runs,
)
from poc_document_ocr_spark.schema import (
    DATE_FIELDS,
    FIELD_NAMES,
    IDENTIFIER_FIELD,
    MULTI_VALUE_FIELDS,
    SIGNATURE_FIELDS,
)


def turns_df(spark, rows):
    """rows: list of (conv_id, turn_idx, extracted_id)"""
    return spark.createDataFrame(
        [Row(conv_id=c, turn_idx=t, extracted_id=i) for c, t, i in rows],
        "conv_id string, turn_idx int, extracted_id string",
    )


def fold(spark, turns, contrib_rows):
    """Fold ``turns`` — (conv_id, turn_idx, extracted_id) — with the
    long-format fixture rows (conv_id, run_id, field, turn_idx, raw_value,
    confidence) collected into each turn's ``contribs`` array; fixture
    rows of turns not in ``turns`` are dropped."""
    contribs = {}
    for c, _run, field, t, raw, conf in contrib_rows:
        contribs.setdefault((c, t), []).append((field, raw, conf))
    df = spark.createDataFrame(
        [(c, t, i, contribs.get((c, t), [])) for c, t, i in turns],
        "conv_id string, turn_idx int, extracted_id string, contribs "
        "array<struct<field string, raw_value string, confidence double>>",
    )
    return consolidate(with_runs(df))


def test_field_line_prefilter_matches_regex(spark):
    """The cheap pre-regex gate must keep EXACTLY the lines the full pattern
    keeps: the pattern allows any whitespace before ':' (\\s*), so a tab
    before the colon must survive the prefilter (round-3 advisor finding)."""
    from poc_document_ocr_spark.operators.fields import contributions_array

    text = (
        "firstName\t: Ada [0.80]\n"       # tab before colon — regex keeps it
        "lastName : Lovelace [0.70]\n"     # space before colon
        "identifier: TK-1 [0.90]\n"        # plain
        "not_a_field: x [0.50]\n"          # unknown key → dropped
        "payload line without colon\n"
        "timestamps: 12:30:45 are payload"  # unknown key, colons in value
    )
    df = spark.createDataFrame(
        [("c", 1, text)], "conv_id string, turn_idx int, extracted_text string"
    )
    expect = {
        ("firstName", "Ada", 0.80),
        ("lastName", "Lovelace", 0.70),
        ("identifier", "TK-1", 0.90),
    }
    arr = df.select(contributions_array().alias("cs")).collect()[0].cs
    assert {(c.field, c.raw_value, c.confidence) for c in arr} == expect


def runs_map(spark, rows):
    df = with_runs(turns_df(spark, rows))
    out = {}
    for r in df.collect():
        out[r.turn_idx] = (r.run_id, r.ffill_id, r.id_source)
    return out


# ---------------------------------------------------------------------------
# Forward-fill / run grouping (FIXTURES.md §4)
# ---------------------------------------------------------------------------


def test_runs_same_id_single_group(spark):
    m = runs_map(spark, [("c", 1, "TK-1"), ("c", 2, "TK-1"), ("c", 3, "TK-1")])
    assert {m[1][0], m[2][0], m[3][0]} == {1}
    assert all(m[t][2] == "Extracted" for t in (1, 2, 3))


def test_runs_gaps_forward_filled(spark):
    m = runs_map(
        spark,
        [("c", 1, "TK-1"), ("c", 2, None), ("c", 3, None), ("c", 4, "TK-2"), ("c", 5, None)],
    )
    assert m[1][0] == m[2][0] == m[3][0]
    assert m[4][0] == m[5][0] != m[1][0]
    assert m[2] == (m[1][0], "TK-1", "Inferred")
    assert m[5] == (m[4][0], "TK-2", "Inferred")


def test_runs_leading_orphans_synthetic_group(spark):
    rows = [("conv9", 1, None), ("conv9", 2, None), ("conv9", 3, "TK-1")]
    m = runs_map(spark, rows)
    assert m[1][0] == m[2][0] == 0
    assert m[1][1] is None and m[1][2] == "Inferred"
    assert m[3][0] == 1

    by_run = {r.run_id: r for r in fold(spark, rows, []).collect()}
    assert by_run[0].doc_key == "unknown-conv9-1"
    assert by_run[0].turn_idxs == [1, 2]
    assert [p.source for p in by_run[0].provenance] == ["Inferred", "Inferred"]
    assert [p.extracted_id for p in by_run[0].provenance] == [None, None]
    assert by_run[1].doc_key == "TK-1"


def test_runs_id_reappears_starts_new_group(spark):
    # THREE groups — runs, not global group-by (DocumentAggregatorService.cs:43-48)
    m = runs_map(spark, [("c", 1, "TK-1"), ("c", 2, "TK-2"), ("c", 3, "TK-1")])
    assert len({m[1][0], m[2][0], m[3][0]}) == 3


def test_runs_same_id_repeated_continues_group(spark):
    m = runs_map(spark, [("c", 1, "TK-1"), ("c", 2, None), ("c", 3, "TK-1")])
    assert m[1][0] == m[2][0] == m[3][0]


def test_runs_out_of_order_input_sorted_first(spark):
    rows = [("c", 4, "TK-2"), ("c", 1, "TK-1"), ("c", 5, None), ("c", 2, None), ("c", 3, None)]
    m = runs_map(spark, rows)
    assert m[1][0] == m[2][0] == m[3][0]
    assert m[4][0] == m[5][0] != m[1][0]


# ---------------------------------------------------------------------------
# Merge folds (FIXTURES.md §3 — values verbatim from MapperTests)
# ---------------------------------------------------------------------------


def fold_one(spark, rows, field):
    """Fold the fixture through the production fold and return the
    SchemaField struct for ``field``."""
    turn_keys = sorted({(r[0], r[3]) for r in rows})
    rec = fold(spark, [(c, t, None) for c, t in turn_keys], rows).collect()[0]
    return rec[field]


def test_highest_confidence_wins(spark):
    # ("Alice",0.60),("Alyce",0.95),("Alise",0.80) → "Alyce", 0.95
    rows = [
        ("c", 1, "firstName", 1, "Alice", 0.60),
        ("c", 1, "firstName", 2, "Alyce", 0.95),
        ("c", 1, "firstName", 3, "Alise", 0.80),
    ]
    r = fold_one(spark, rows, "firstName")
    assert (r.value, r.confidence, r.status) == ("Alyce", 0.95, "Pending")
    assert r.raw_text is None


def test_confidence_tie_lowest_turn_wins(spark):
    rows = [
        ("c", 1, "firstName", 2, "Second", 0.80),
        ("c", 1, "firstName", 1, "First", 0.80),
    ]
    r = fold_one(spark, rows, "firstName")
    assert r.value == "First"


def test_null_confidence_is_lowest_priority(spark):
    rows = [
        ("c", 1, "firstName", 1, "NoConf", None),
        ("c", 1, "firstName", 2, "Low", 0.10),
    ]
    r = fold_one(spark, rows, "firstName")
    assert (r.value, r.confidence) == ("Low", 0.10)


def test_all_null_confidence_first_turn_wins(spark):
    rows = [
        ("c", 1, "firstName", 2, "B", None),
        ("c", 1, "firstName", 1, "A", None),
    ]
    r = fold_one(spark, rows, "firstName")
    assert (r.value, r.confidence) == ("A", None)


def test_ordered_concat_min_confidence(spark):
    # ("Charge B",0.80)@2, ("Charge A",0.95)@1 → "Charge A\nCharge B", 0.80
    rows = [
        ("c", 1, "mainCharge", 2, "Charge B", 0.80),
        ("c", 1, "mainCharge", 1, "Charge A", 0.95),
    ]
    r = fold_one(spark, rows, "mainCharge")
    assert (r.value, r.confidence) == ("Charge A\nCharge B", 0.80)


def test_concat_whitespace_skipped_and_all_null_conf_zero(spark):
    rows = [
        ("c", 1, "additionalCharges", 1, "   ", 0.99),
        ("c", 1, "additionalCharges", 2, "Real charge", None),
    ]
    r = fold_one(spark, rows, "additionalCharges")
    # whitespace-only part skipped; contributing parts all null-confidence → 0.0
    assert (r.value, r.confidence) == ("Real charge", 0.0)


def test_concat_all_whitespace_null(spark):
    rows = [("c", 1, "mainCharge", 1, "  ", 0.9)]
    r = fold_one(spark, rows, "mainCharge")
    assert (r.value, r.confidence) == (None, None)


def test_signature_present_true_min_conf(spark):
    rows = [
        ("c", 1, "defendantSignature", 1, "present", 0.90),
        ("c", 1, "defendantSignature", 2, "unsigned", 0.70),
    ]
    r = fold_one(spark, rows, "defendantSignature")
    # min over ALL contributors (code behavior, not spec's max-over-signed)
    assert (r.value, r.confidence) == ("true", 0.70)


def test_signature_signed_case_insensitive(spark):
    rows = [("c", 1, "officerSignature", 1, "SIGNED", 0.85)]
    r = fold_one(spark, rows, "officerSignature")
    assert (r.value, r.confidence) == ("true", 0.85)


def test_signature_unsigned_false(spark):
    rows = [("c", 1, "defendantSignature", 1, "unsigned", 0.95)]
    r = fold_one(spark, rows, "defendantSignature")
    assert (r.value, r.confidence) == ("false", 0.95)


def test_date_parse_winner(spark):
    rows = [
        ("c", 1, "courtDate", 1, "1985JAN12", 0.88),
        ("c", 1, "courtDate", 2, "not a date", 0.20),
    ]
    r = fold_one(spark, rows, "courtDate")
    assert (r.value, r.raw_text, r.confidence) == ("1985-01-12", "1985JAN12", 0.88)


def test_date_parse_failure_keeps_raw(spark):
    rows = [("c", 1, "citationIssuedDate", 1, "2026FEB30", 0.91)]
    r = fold_one(spark, rows, "citationIssuedDate")
    assert (r.value, r.raw_text, r.confidence) == (None, "2026FEB30", 0.91)


def test_date_long_form_via_expression(spark):
    df = spark.createDataFrame(
        [("3rd day of January, 2026",), (" 7  TH  DAY  OF  JULY ,  1976 ",),
         ("2026-05-03",), ("31st DAY OF FEBRUARY, 2026",)],
        "raw string",
    ).select(parse_ocr_date(F.col("raw")).alias("iso"))
    assert [r.iso for r in df.collect()] == [
        "2026-01-03", "1976-07-07", None, None,
    ]


# ---------------------------------------------------------------------------
# All-13-keys completion + consolidation (MapperTests:44-76)
# ---------------------------------------------------------------------------


def test_consolidate_all_keys_present(spark):
    df = fold(
        spark, [("c", 1, "TK-9")], [("c", 1, "firstName", 1, "Ada", 0.9)]
    )
    # merge sets enter the plan sorted, so its text is the same in every
    # interpreter process whatever the hash seed
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert f"IN ({','.join(sorted(DATE_FIELDS))})" in plan
    out = df.collect()
    assert len(out) == 1
    rec = out[0]
    for name in FIELD_NAMES:
        assert rec[name] is not None, name
        # contract guarantee 6: reviewed_* null at creation (SchemaField.cs)
        assert rec[name].reviewed_value is None, name
        assert rec[name].reviewed_at is None, name
        assert rec[name].reviewed_by is None, name
    assert rec["firstName"].value == "Ada"
    assert rec["lastName"].value is None
    assert rec["lastName"].status == "Pending"
    assert rec.doc_key == "TK-9"
    assert rec.turn_count == 1
    assert rec.turn_idxs == [1]


def test_signature_unrecognized_value_counted(spark):
    # FR-006 warn path: 'maybe' is neither signed/present nor unsigned →
    # mapped to false AND counted in sig_warnings
    rows = [
        ("c", 1, "defendantSignature", 1, "maybe", 0.8),
        ("c", 1, "officerSignature", 2, "unsigned", 0.7),
    ]
    rec = fold(spark, [("c", 1, None), ("c", 2, None)], rows).collect()[0]
    assert rec.sig_warnings == 1
    assert rec["defendantSignature"].value == "false"
    assert rec["officerSignature"].value == "false"


def test_consolidate_provenance_and_counts(spark):
    turns = [
        ("c", 1, "TK-1"), ("c", 2, None), ("c", 3, None), ("c", 4, "TK-2")
    ]
    contribs = [("c", 1, "notes", 1, "hello", 0.5)]
    recs = {r.doc_key: r for r in fold(spark, turns, contribs).collect()}
    assert set(recs) == {"TK-1", "TK-2"}
    r1 = recs["TK-1"]
    assert r1.turn_idxs == [1, 2, 3]
    assert [(p.turn_idx, p.source, p.extracted_id) for p in r1.provenance] == [
        (1, "Extracted", "TK-1"),
        (2, "Inferred", None),
        (3, "Inferred", None),
    ]
    assert recs["TK-2"].turn_count == 1


def _py_fold(turns):
    """Independent plain-Python fold over ``(conv_id, turn_idx, contribs)``
    rows, ``contribs`` a list of ``(field, raw_value, confidence)``:
    forward-fill runs, the ``doc_key`` rule and the four merge rules.
    Returns ``{(conv_id, run_id): record}`` in the fold's column names.
    Dates: datagen emits only the compact form."""
    neg = float("-inf")
    run, carried, docs = {}, {}, {}
    for conv, t, cs in sorted(turns, key=lambda r: (r[0], r[1])):
        ids = [
            (neg if c is None else c, r.strip())
            for f, r, c in cs
            if f == IDENTIFIER_FIELD and r and r.strip()
        ]
        eid = max(ids)[1] if ids else None
        if eid is not None and eid != carried.get(conv):
            run[conv], carried[conv] = run.get(conv, 0) + 1, eid
        key = (conv, run.get(conv, 0))
        docs.setdefault(key, (carried.get(conv), []))[1].append((t, eid, cs))
    out = {}
    for (conv, run_id), (ident, ts) in docs.items():
        parts = [(t, f, r, c) for t, _, cs in ts for f, r, c in cs]
        rec = out[(conv, run_id)] = {
            "doc_key": ident or f"unknown-{conv}-{ts[0][0]}",
            "turn_count": len(ts),
            "turn_idxs": [t for t, _, _ in ts],
            "first_turn": ts[0][0],
            "provenance": [
                {"turn_idx": t, "source": "Extracted" if e else "Inferred",
                 "extracted_id": e}
                for t, e, _ in ts
            ],
            "sig_warnings": sum(
                f in SIGNATURE_FIELDS and r is not None
                and r.lower() not in ("signed", "present", "unsigned")
                for _, f, r, _ in parts
            ),
        }
        for name in FIELD_NAMES:
            ps = [(t, r, c) for t, f, r, c in parts if f == name]
            value = raw_text = conf = None
            if ps:  # FR-004: max confidence (null lowest), tie → lowest turn
                _, value, conf = max(
                    ps, key=lambda p: (neg if p[2] is None else p[2], -p[0])
                )
            if ps and name in SIGNATURE_FIELDS:  # FR-006
                raws = [r.lower() for _, r, _ in ps if r]
                value = "true" if {"signed", "present"} & set(raws) else "false"
                conf = min((c for _, _, c in ps if c is not None), default=None)
            elif ps and name in DATE_FIELDS:  # FR-002a
                raw_text = value
                try:
                    value = f"{datetime.strptime(value, '%Y%b%d'):%Y-%m-%d}"
                except (TypeError, ValueError):
                    value = None
            elif name in MULTI_VALUE_FIELDS:  # FR-005
                nonws = [(r, c) for t, r, c in sorted(ps) if r and r.strip()]
                value = "\n".join(r for r, _ in nonws) if nonws else None
                confs = [c for _, c in nonws if c is not None]
                conf = min(confs, default=0.0) if nonws else None
            rec[name] = {
                "value": value, "raw_text": raw_text, "confidence": conf,
                "reviewed_value": None, "reviewed_at": None,
                "reviewed_by": None, "status": "Pending",
            }
    return out


def test_consolidate_stage_matches_python_oracle(spark):
    """Every field of every record of ``consolidate_stage`` equals the
    plain-Python fold over the same contributions collected to Python, on a
    seeded datagen corpus that includes the 100×-median skew conversation."""
    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.operators.fields import contributions_array
    from poc_document_ocr_spark.plans.pipeline import consolidate_stage
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
    from poc_document_ocr_spark.sources.datagen import generate

    data = generate(n_convs=30, median_turns=4, seed=11, skew=True)
    ex = extract_turns(
        spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    ).localCheckpoint()
    turns = [
        (r.conv_id, r.turn_idx, [tuple(c) for c in r.cs])
        for r in ex.select(
            "conv_id", "turn_idx", contributions_array().alias("cs")
        ).collect()
    ]
    want = _py_fold(turns)
    skew = [v for (c, _), v in want.items() if c == "conv-11-00000"]
    assert sum(v["turn_count"] for v in skew) == 400

    got = {}
    for r in consolidate_stage(ex).collect():
        d = r.asDict(recursive=True)
        got[(d.pop("conv_id"), d.pop("run_id"))] = d
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], k


def test_consolidated_record_types_match_schema_catalog(spark):
    """The fold casts its per-field and provenance structs to the catalog's
    ``SCHEMA_FIELD_TYPE`` / ``PROVENANCE_TYPE``; the output types must equal
    them, nullability included."""
    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.plans.pipeline import consolidate_stage
    from poc_document_ocr_spark.schema import (
        PROVENANCE_TYPE,
        SCHEMA_FIELD_TYPE,
        TRANSCRIPT_SCHEMA,
    )
    from poc_document_ocr_spark.sources.datagen import generate

    # createDataFrame keeps turn_idx non-nullable; a parquet read would not
    data = generate(n_convs=3, seed=5)
    schema = consolidate_stage(
        extract_turns(spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA))
    ).schema
    assert {n: schema[n].dataType for n in FIELD_NAMES} == {
        n: SCHEMA_FIELD_TYPE for n in FIELD_NAMES
    }
    assert schema["provenance"].dataType.elementType == PROVENANCE_TYPE


def test_consolidate_long_fold_million_contribution_conversation(spark):
    """North-rule skew guard: ONE conversation with 10⁶ field lines folds
    with exact merge-rule output. The fold's per-field aggregates are
    streaming (map-side partial), so no task ever buffers the million
    contributions at once — the only large object is the multi-value
    concat result itself."""
    from poc_document_ocr_spark.plans.pipeline import consolidate_stage

    n_turns, lines_per_turn = 2000, 500  # = 10⁶ field lines
    # distributed text construction (never a driver-side string): each turn
    # carries lines_per_turn field lines — multi-value mainCharge parts,
    # one firstName candidate per turn with a known best, one signature
    line = (
        "CASE WHEN j % 100 = 0 THEN "
        "  printf('firstName: fn-%04d [0.%03d]', id, CAST(id % 500 AS INT))"
        " WHEN j % 100 = 1 THEN 'defendantSignature: signed [0.40]'"
        " ELSE printf('mainCharge: part-%04d-%03d [0.90]', id, j) END"
    )
    ex = spark.sql(
        f"""
        SELECT 'cBIG' AS conv_id, CAST(id + 1 AS INT) AS turn_idx,
               concat_ws('\n', transform(sequence(0, {lines_per_turn - 1}),
                                         j -> {line})) AS extracted_text
        FROM range({n_turns})
        """
    )
    out = consolidate_stage(ex).collect()
    assert len(out) == 1
    r = out[0]
    assert r["turn_count"] == n_turns
    assert r["doc_key"].startswith("unknown-cBIG-")
    # FR-004 best: highest formatted confidence is 0.499 at id 499
    assert r["firstName"]["value"] == "fn-0499"
    assert r["firstName"]["confidence"] == 0.499
    # FR-005 ordered concat: every mainCharge part, newline-joined, in
    # (turn, value) order; min confidence over the parts
    parts = r["mainCharge"]["value"].split("\n")
    # 5 firstName + 5 signature lines per turn (j % 100 ∈ {0, 1}) leave
    # 490 mainCharge parts per turn
    assert len(parts) == n_turns * (lines_per_turn - 10)
    assert parts[0] == "part-0000-002"
    assert parts[-1] == "part-1999-499"
    assert r["mainCharge"]["confidence"] == 0.9
    # FR-006 OR-fold with min confidence over all contributors
    assert r["defendantSignature"]["value"] == "true"
    assert r["defendantSignature"]["confidence"] == 0.4
    assert r["sig_warnings"] == 0


# ---------------------------------------------------------------------------
# The fold's ASCII case fold (``translate``, not ICU's ``lower``/``upper``)
# and its once-per-process expressions
# ---------------------------------------------------------------------------


def test_lower_maps_only_kelvin_sign_to_ascii(spark):
    """``_ascii_lower`` decides a signature word as Spark's ``lower`` does
    only while U+212A KELVIN SIGN (→ ``k``) is the one non-ASCII code point
    whose ``lower`` is all-ASCII, and no compared word contains ``k``. Every
    non-surrogate code point from U+0080 up goes through ``lower``."""
    from poc_document_ocr_spark.operators.aggregation import (
        _SIG_TRUE,
        _SIG_WORDS,
    )

    cps = spark.range(0x80, 0x110000).filter(
        ~F.col("id").between(0xD800, 0xDFFF)
    )
    # UTF-32 behind a BOM, so that U+FEFF decodes as a character too
    hex32 = F.concat(F.lit("0000FEFF"), F.lpad(F.hex("id"), 8, "0"))
    s = F.decode(F.unhex(hex32), "UTF-32")
    low = F.lower(s)
    odd = cps.filter(
        (F.length(s) != 1) | (F.length(low) == F.octet_length(low))
    )
    assert [r.id for r in odd.collect()] == [0x212A]
    assert set(_SIG_TRUE) <= set(_SIG_WORDS)
    assert [w for w in _SIG_WORDS if "k" in w] == []


def test_case_fold_table_signatures_and_dates(spark):
    """ASCII case variants fold as before; Unicode look-alikes stay
    unrecognised (a signature warning, a null date)."""
    sigs = {
        "SIGNED": ("true", 0),
        "pReSeNt": ("true", 0),
        "UNSIGNED": ("false", 0),
        "ſigned": ("false", 1),
        "SİGNED": ("false", 1),
        "ｓｉｇｎｅｄ": ("false", 1),
    }
    dates = {
        "1985jAn12": "1985-01-12",
        "1985ſep12": None,
        "12TH DAY OF jUnE 1985": "1985-06-12",
    }
    rows = [(v, 1, "officerSignature", 1, v, 0.9) for v in sigs]
    rows += [(v, 1, "courtDate", 1, v, 0.9) for v in dates]
    got = {
        r.conv_id: r
        for r in fold(spark, [(v, 1, None) for v in [*sigs, *dates]], rows)
        .collect()
    }
    assert {
        v: (got[v].officerSignature.value, got[v].sig_warnings) for v in sigs
    } == sigs
    assert {v: got[v].courtDate.value for v in dates} == dates


def _stage_input(spark):
    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
    from poc_document_ocr_spark.sources.datagen import generate

    data = generate(n_convs=12, median_turns=4, seed=23)
    return extract_turns(
        spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    ).localCheckpoint()


def test_consolidate_stage_plan_has_no_icu_case_mapping(spark):
    """Spark's ``lower``/``upper``/``initcap``/``ilike`` map case through
    ICU, whose first use in a JVM costs ~2 CPU-s; the fold uses none."""
    import re

    from poc_document_ocr_spark.plans.pipeline import consolidate_stage

    plan = consolidate_stage(_stage_input(spark))._jdf.queryExecution()
    words = re.findall(
        r"(?i)\b(?:lower|upper|initcap|ilike)\b", plan.analyzed().toString()
    )
    assert words == []


def test_warm_consolidate_stage_build_is_few_py4j_calls(spark, monkeypatch):
    """The fold's Column expressions are built once per py4j gateway: a
    second ``consolidate_stage`` build makes only its DataFrame ops' round
    trips (thousands when every expression was rebuilt) and folds the same
    records as the first."""
    from poc_document_ocr_spark.plans.pipeline import consolidate_stage

    ex = _stage_input(spark)
    first = consolidate_stage(ex)
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    second = consolidate_stage(ex)
    monkeypatch.undo()
    assert 0 < len(calls) <= 300
    assert sorted(second.toJSON().collect()) == sorted(
        first.toJSON().collect()
    )
