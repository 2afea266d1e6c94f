"""Serving-layer / review state-machine tests — mirror the reference's
DocumentReviewServiceTests + DocumentListFilterTests + ReviewUiHelpersTests
semantics (transition rules, date validation, banding, primary page)."""

import pytest
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import consolidate, with_runs
from poc_document_ocr_spark.operators.review import (
    apply_field_edit,
    confidence_band,
    derived_review_status,
    fields_reviewed_count,
    filter_documents,
    is_valid_reviewed_date,
    primary_turn,
    resolve_lock_requests,
)
from poc_document_ocr_spark.schema import FIELD_NAMES


def _record(spark, contrib_rows, turns=None):
    """Fold ``turns`` — (conv_id, turn_idx, extracted_id) — with the
    long-format fixture rows (conv_id, run_id, field, turn_idx, raw_value,
    confidence) collected into each turn's ``contribs`` array."""
    turns = turns or [("c", 1, "TK-1")]
    contribs = {}
    for c, _run, field, t, raw, conf in contrib_rows:
        contribs.setdefault((c, t), []).append((field, raw, conf))
    t = spark.createDataFrame(
        [(c, i, x, contribs.get((c, i), [])) for c, i, x in turns],
        "conv_id string, turn_idx int, extracted_id string, contribs "
        "array<struct<field string, raw_value string, confidence double>>",
    )
    return consolidate(with_runs(t))


def _edit(rec, field, status, value, is_date=False):
    return rec.withColumn(
        field,
        apply_field_edit(
            F.col(field),
            F.lit(status),
            F.lit(value).cast("string"),
            F.lit("rev@example.com"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")),
            is_date,
            F.lit("2026-01-01"),
        ),
    )


# ---------------------------------------------------------------------------
# Confidence banding (ReviewUiHelpers.cs:27-38)
# ---------------------------------------------------------------------------


def test_confidence_band_thresholds(spark):
    df = spark.createDataFrame(
        [(0.85,), (0.849,), (0.60,), (0.599,), (0.0,), (None,)],
        "c double",
    ).select(confidence_band(F.col("c")).alias("b"))
    assert [r.b for r in df.collect()] == [
        "High", "Medium", "Medium", "Low", "Low", "Unknown",
    ]


# ---------------------------------------------------------------------------
# Date validation (DocumentReviewService.cs:153-170)
# ---------------------------------------------------------------------------


def test_reviewed_date_validation(spark):
    cases = [
        ("2020-02-29", True),   # leap day
        ("2021-02-29", False),  # not a leap year
        ("2026-01-01", True),   # today is allowed
        ("2026-01-02", False),  # future rejected
        ("2025-13-01", False),
        ("2025-1-01", False),   # not strict ISO
        ("garbage", False),
        (None, False),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "v string").select(
        F.col("v"),
        is_valid_reviewed_date(F.col("v"), F.lit("2026-01-01")).alias("ok"),
    )
    got = {r.v: r.ok for r in df.collect()}
    for v, want in cases:
        assert got[v] == want, v


# ---------------------------------------------------------------------------
# Field edit state machine (DocumentReviewService.cs:88-140)
# ---------------------------------------------------------------------------


def test_confirm_stamps_reviewer_keeps_ocr(spark):
    rec = _record(spark, [("c", 1, "firstName", 1, "Ada", 0.9)])
    out = _edit(rec, "firstName", "Confirmed", None).collect()[0]["firstName"]
    assert out.status == "Confirmed"
    assert out.value == "Ada"
    assert out.reviewed_value is None
    assert out.reviewed_by == "rev@example.com"
    assert out.reviewed_at is not None


def test_correct_requires_value_and_difference(spark):
    rec = _record(spark, [("c", 1, "firstName", 1, "Ada", 0.9)])
    # missing value → rejected
    out = _edit(rec, "firstName", "Corrected", None).collect()[0]["firstName"]
    assert out.status == "Pending" and out.reviewed_by is None
    # equal to OCR → rejected (must use Confirmed)
    out = _edit(rec, "firstName", "Corrected", "Ada").collect()[0]["firstName"]
    assert out.status == "Pending"
    # differing value → Corrected
    out = _edit(rec, "firstName", "Corrected", "Ada L.").collect()[0][
        "firstName"
    ]
    assert out.status == "Corrected" and out.reviewed_value == "Ada L."


def test_backward_transition_rejected(spark):
    rec = _record(spark, [("c", 1, "firstName", 1, "Ada", 0.9)])
    step1 = _edit(rec, "firstName", "Confirmed", None)
    out = _edit(step1, "firstName", "Pending", None).collect()[0]["firstName"]
    assert out.status == "Confirmed"


def test_future_date_correction_rejected(spark):
    rec = _record(spark, [("c", 1, "courtDate", 1, "1985JAN12", 0.9)])
    out = _edit(rec, "courtDate", "Corrected", "2030-01-01", is_date=True)
    fld = out.collect()[0]["courtDate"]
    assert fld.status == "Pending" and fld.reviewed_value is None
    ok = _edit(rec, "courtDate", "Corrected", "2020-02-29", is_date=True)
    fld = ok.collect()[0]["courtDate"]
    assert fld.status == "Corrected" and fld.reviewed_value == "2020-02-29"


# ---------------------------------------------------------------------------
# Projections: count, derived status, primary turn, list filter
# ---------------------------------------------------------------------------


def test_fields_reviewed_count_and_derived_status(spark):
    rec = _record(spark, [("c", 1, "firstName", 1, "Ada", 0.9)])
    pending = rec.select(
        fields_reviewed_count().alias("n"),
        derived_review_status(F.lit("Pending")).alias("st"),
    ).collect()[0]
    assert (pending.n, pending.st) == (0, "Pending")

    edited = rec
    for name in FIELD_NAMES:
        edited = _edit(edited, name, "Confirmed", None)
    done = edited.select(
        fields_reviewed_count().alias("n"),
        derived_review_status(F.lit("Pending")).alias("st"),
    ).collect()[0]
    assert (done.n, done.st) == (13, "Reviewed")


def test_partial_review_not_transitioned(spark):
    rec = _record(spark, [("c", 1, "firstName", 1, "Ada", 0.9)])
    one = _edit(rec, "firstName", "Confirmed", None)
    row = one.select(
        fields_reviewed_count().alias("n"),
        derived_review_status(F.lit("Pending")).alias("st"),
    ).collect()[0]
    assert (row.n, row.st) == (1, "Pending")


def test_primary_turn_anchor(spark):
    # identifier extracted on turn 3 of [1,2,3,4] → local index 3
    turns = [("c", 1, None), ("c", 2, None), ("c", 3, "TK-7"), ("c", 4, None)]
    rec = _record(spark, [("c", 1, "notes", 1, "x", 0.5)], turns=turns)
    rows = {
        r.doc_key: r.pt
        for r in rec.select(
            "doc_key", primary_turn(F.col("doc_key")).alias("pt")
        ).collect()
    }
    # leading-orphan synthetic doc anchors at its first turn (local 1)
    assert rows["unknown-c-1"] == 1
    assert rows["TK-7"] == 1  # first turn of ITS run (turns 3..4 → local 1)

    # within one run: inferred turns precede the extracted match
    turns2 = [("c", 5, "TK-9"), ("c", 6, None), ("c", 7, "TK-9")]
    rec2 = _record(spark, [], turns=turns2)
    got = rec2.select(
        "doc_key", primary_turn(F.col("doc_key")).alias("pt")
    ).collect()[0]
    assert (got.doc_key, got.pt) == ("TK-9", 1)


def test_filter_documents_checkout(spark):
    df = spark.createDataFrame(
        [("a", "Pending", None), ("b", "Pending", ""), ("c", "Reviewed", "u@x")],
        "doc_key string, review_status string, checked_out_by string",
    )
    assert {
        r.doc_key for r in filter_documents(df, None, "free").collect()
    } == {"a", "b"}
    assert {
        r.doc_key
        for r in filter_documents(df, None, "checked_out").collect()
    } == {"c"}
    assert {
        r.doc_key
        for r in filter_documents(df, "Reviewed", "all").collect()
    } == {"c"}


def test_lock_state_machine_matches_reference_decision_table(spark):
    """Mirrors DocumentLockServiceTests.cs 1:1 (checkout free / held-fresh
    / held-stale / held-by-self; checkin by holder / by non-holder; cancel
    without last-checked-in stamps) plus the batch-only sequencing case the
    HTTP service never sees: several requests on one document resolved in
    timestamp order through one fold."""
    from poc_document_ocr_spark.operators.review import (
        STALE_CHECKOUT_SECONDS as TTL,
        resolve_lock_requests,
    )

    B = 1_000_000  # epoch base
    REV, OTHER = "reviewer@example.com", "other@example.com"
    locks = spark.createDataFrame(
        [
            ("d_held", OTHER, B, None, None),
            ("d_stale", OTHER, B - TTL, None, None),  # age == TTL acquires
            ("d_self", REV, B - 100, None, None),
            ("d_ci", REV, B - 100, None, None),
            ("d_ci_other", OTHER, B - 100, None, None),
            ("d_cancel", REV, B - 100, "earlier@example.com", B - 5000),
        ],
        "doc_key string, checked_out_by string, checked_out_at long, "
        "last_checked_in_by string, last_checked_in_at long",
    )
    requests = spark.createDataFrame(
        [
            ("d_free", 1, REV, "checkout", B),       # free -> acquires
            ("d_held", 1, REV, "checkout", B + 10),  # fresh hold -> denied
            ("d_stale", 1, REV, "checkout", B),      # stale -> acquires
            ("d_self", 1, REV.upper(), "checkout", B),  # self -> refresh
            ("d_ci", 1, REV, "checkin", B),
            ("d_ci_other", 1, REV, "checkin", B),    # non-holder -> reject
            ("d_cancel", 1, REV, "cancel", B),
            # sequencing: A takes it, A releases, B takes it
            ("d_seq", 1, OTHER, "checkout", B),
            ("d_seq", 2, OTHER, "checkin", B + 1),
            ("d_seq", 3, REV, "checkout", B + 2),
        ],
        "doc_key string, seq int, reviewer string, action string, "
        "req_ts long",
    )
    out = {
        (r["doc_key"], r["seq"]): r
        for r in resolve_lock_requests(locks, requests).collect()
    }
    assert len(out) == 10

    r = out[("d_free", 1)]
    assert r["granted"] and (r["held_by"], r["held_at"]) == (REV, B)
    r = out[("d_held", 1)]
    assert not r["granted"] and r["reason"] == "held"
    assert (r["held_by"], r["held_at"]) == (OTHER, B)
    r = out[("d_stale", 1)]
    assert r["granted"] and r["held_by"] == REV
    r = out[("d_self", 1)]
    assert r["granted"] and r["held_by"] == REV.upper()
    assert r["held_at"] == B  # timestamp refreshed
    r = out[("d_ci", 1)]
    assert r["granted"] and r["held_by"] is None and r["held_at"] is None
    assert (r["last_ci_by"], r["last_ci_at"]) == (REV, B)
    r = out[("d_ci_other", 1)]
    assert not r["granted"] and r["reason"] == "held_by_other"
    assert r["held_by"] == OTHER
    r = out[("d_cancel", 1)]
    assert r["granted"] and r["held_by"] is None
    # FR-024: cancel clears the hold WITHOUT stamping last-checked-in
    assert (r["last_ci_by"], r["last_ci_at"]) == ("earlier@example.com", B - 5000)
    # the sequencing case
    assert out[("d_seq", 1)]["granted"]
    assert out[("d_seq", 2)]["granted"]
    r = out[("d_seq", 3)]
    assert r["granted"] and (r["held_by"], r["held_at"]) == (REV, B + 2)


def test_lock_checkout_malformed_hold_denies_not_null(spark):
    """A lock row with a holder but a NULL timestamp must DENY a stranger's
    checkout with granted=false — not propagate NULL through the staleness
    arithmetic (review finding: boolean consumers filtering granted=false
    would silently miss the row)."""
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
