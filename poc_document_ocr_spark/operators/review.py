"""Serving-layer projections + review state machine over consolidated records.

Reference parity (all pure column expressions — these projections stay inside
whole-stage codegen and prune/push down to the consolidated-table scan):

* review-list filter + fields-reviewed count —
  ``src/DocumentOcr.Common/Services/DocumentListFilter.cs:18-49``
* per-field edit state machine (Confirmed/Corrected, reviewed_* stamping,
  date validation incl. future-date rejection FR-002a) and the implicit
  Pending→Reviewed document transition (FR-017/FR-018) —
  ``src/DocumentOcr.Common/Services/DocumentReviewService.cs:36-170``
* confidence banding + primary-page anchor —
  ``src/DocumentOcr.WebApp/Services/ReviewUiHelpers.cs:25-38,119-141``

Batch-engine transposition of service exceptions: where the reference THROWS
on an invalid edit (wrong transition, bad/future date, Corrected==OCR), the
column form REJECTS the edit — the field struct is returned unchanged — so a
bulk review-application job is total and a single bad edit cannot abort the
batch (constitution error-isolation rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import FIELD_NAMES

__all__ = [
    "confidence_band",
    "fields_reviewed_count",
    "all_fields_reviewed",
    "derived_review_status",
    "primary_turn",
    "is_valid_reviewed_date",
    "apply_field_edit",
    "filter_documents",
    "resolve_lock_requests",
    "STALE_CHECKOUT_SECONDS",
]

#: ReviewUiHelpers thresholds (ReviewUiHelpers.cs:24-25)
HIGH_THRESHOLD = 0.85
MEDIUM_THRESHOLD = 0.60


def confidence_band(conf: Column) -> Column:
    """'High' | 'Medium' | 'Low' | 'Unknown' (GetConfidenceBand)."""
    return (
        F.when(conf.isNull(), "Unknown")
        .when(conf >= HIGH_THRESHOLD, "High")
        .when(conf >= MEDIUM_THRESHOLD, "Medium")
        .otherwise("Low")
    )


def _status_array() -> Column:
    return F.array(*[F.col(name)["status"] for name in FIELD_NAMES])


def fields_reviewed_count() -> Column:
    """Count of schema fields with status != Pending (CountFieldsReviewed,
    ``DocumentListFilter.cs:45-49``) — the '5/13 reviewed' progress cell."""
    return F.size(F.filter(_status_array(), lambda s: s != "Pending")).cast(
        "int"
    )


def all_fields_reviewed() -> Column:
    """All 13 fields non-Pending (``DocumentReviewService.cs:70``)."""
    return F.forall(_status_array(), lambda s: s != "Pending")


def derived_review_status(review_status: Column) -> Column:
    """FR-017/FR-018: all fields reviewed + document still Pending ⇒
    implicit Pending→Reviewed transition (``DocumentReviewService.cs:70-83``).
    """
    return F.when(
        all_fields_reviewed() & (review_status == "Pending"), "Reviewed"
    ).otherwise(review_status)


def primary_turn(
    doc_key: Column,
    provenance: Column = None,
    turn_idxs: Column = None,
) -> Column:
    """1-based document-local index of the first turn whose *extracted*
    identifier equals the document's identifier; falls back to the first
    provenance turn, and to local 1 when the turn is not in the kept list
    (GetPrimaryPageNumber, ``ReviewUiHelpers.cs:119-141``).
    """
    provenance = provenance if provenance is not None else F.col("provenance")
    turn_idxs = turn_idxs if turn_idxs is not None else F.col("turn_idxs")
    matches = F.filter(
        provenance,
        lambda p: (p["source"] == "Extracted")
        & p["extracted_id"].isNotNull()
        & (p["extracted_id"] == doc_key),
    )
    anchor = F.when(F.size(matches) > 0, matches[0]["turn_idx"]).otherwise(
        provenance[0]["turn_idx"]
    )
    local = F.array_position(turn_idxs, anchor)
    return (
        F.when(F.size(provenance) == 0, F.lit(None).cast("int"))
        .when(local > 0, local.cast("int"))
        .otherwise(F.lit(1))
    )


def is_valid_reviewed_date(value: Column, as_of: Column) -> Column:
    """FR-002a reviewer-side validation (ValidateDateReviewedValue,
    ``DocumentReviewService.cs:153-170``): strict ISO yyyy-MM-dd, a real
    calendar date (leap years; no Feb 30), and not after ``as_of`` (UTC
    'today', injected — executors never read wall-clock).

    ISO strings compare lexicographically = chronologically, so the
    future-date check is a plain string compare.
    """
    shaped = value.rlike(r"^\d{4}-\d{2}-\d{2}$")
    # casts guarded by the shape check (ANSI mode: a bare cast of 'garbage'
    # raises even when the surrounding boolean is already false)
    y = F.when(shaped, F.substring(value, 1, 4)).cast("int")
    m = F.when(shaped, F.substring(value, 6, 2)).cast("int")
    d = F.when(shaped, F.substring(value, 9, 2)).cast("int")
    days_in_month = F.dayofmonth(F.last_day(F.make_date(y, m, F.lit(1))))
    calendar_ok = (
        m.between(1, 12) & (d >= 1) & F.when(m.between(1, 12), d <= days_in_month)
    )
    return (
        F.coalesce(shaped, F.lit(False))
        & F.coalesce(calendar_ok, F.lit(False))
        & (value <= as_of)
    )


def apply_field_edit(
    field: Column,
    new_status: Column,
    new_value: Column,
    reviewer: Column,
    now: Column,
    is_date: bool,
    as_of: Column,
) -> Column:
    """One reviewer edit applied to a SchemaField struct (ApplyFieldEdit,
    ``DocumentReviewService.cs:88-140``), returning the updated struct.

    State machine (reference throws ⇒ batch form rejects, struct unchanged):

    * → Pending: always rejected (no backward transition);
    * → Confirmed: reviewed_value forced null (display falls back to the OCR
      value), reviewed_by/at stamped; a non-null ``new_value`` differing
      from the OCR value is rejected;
    * → Corrected: requires non-null ``new_value`` differing from the OCR
      value; date fields additionally require a valid, non-future ISO date.
    """
    ocr_value = field["value"]
    same_as_ocr = new_value.isNotNull() & ocr_value.isNotNull() & (
        new_value == ocr_value
    )
    confirm_ok = (new_status == "Confirmed") & ~(
        new_value.isNotNull() & ~F.coalesce(same_as_ocr, F.lit(False))
    )
    correct_ok = (
        (new_status == "Corrected")
        & new_value.isNotNull()
        & ~F.coalesce(same_as_ocr, F.lit(False))
    )
    if is_date:
        correct_ok = correct_ok & is_valid_reviewed_date(new_value, as_of)

    def updated(status: str, reviewed_value: Column) -> Column:
        return F.struct(
            field["value"].alias("value"),
            field["raw_text"].alias("raw_text"),
            field["confidence"].alias("confidence"),
            reviewed_value.alias("reviewed_value"),
            now.cast("timestamp").alias("reviewed_at"),
            reviewer.alias("reviewed_by"),
            F.lit(status).alias("status"),
        )

    return (
        F.when(confirm_ok, updated("Confirmed", F.lit(None).cast("string")))
        .when(correct_ok, updated("Corrected", new_value))
        .otherwise(field)
    )


def filter_documents(
    df: DataFrame,
    review_status: str | None = None,
    checkout: str = "all",
    status_col: str = "review_status",
    checked_out_col: str = "checked_out_by",
) -> DataFrame:
    """Review-list filter (DocumentListFilter.Filter,
    ``DocumentListFilter.cs:18-39``): optional status equality + checkout
    tri-state ('all' | 'free' | 'checked_out'; Free means null-or-empty,
    IsNullOrEmpty parity)."""
    out = df
    if review_status is not None:
        out = out.filter(F.col(status_col) == review_status)
    empty = F.coalesce(F.col(checked_out_col), F.lit("")) == ""
    if checkout == "free":
        out = out.filter(empty)
    elif checkout == "checked_out":
        out = out.filter(~empty)
    return out


#: 24h per FR-022 / D5 (``IDocumentLockService.cs:50-54``)
STALE_CHECKOUT_SECONDS = 24 * 3600


def resolve_lock_requests(
    locks: DataFrame,
    requests: DataFrame,
    ttl_seconds: int = STALE_CHECKOUT_SECONDS,
) -> DataFrame:
    """Pessimistic checkout/check-in/cancel resolved as a batch — the
    engine analog of ``DocumentLockService`` (FR-021..FR-024,
    ``src/DocumentOcr.Common/Services/DocumentLockService.cs:32-147``),
    the one SURVEY §2 row (55) that previously had no executable form.

    The reference serves one HTTP request at a time against an
    ETag-guarded document row. The batch transposition: all requests of a
    period are resolved per document in timestamp order through the SAME
    decision table —

    * checkout on a free document → granted;
    * checkout by the current holder (case-insensitive) → granted,
      timestamp refreshed;
    * checkout by another reviewer while the hold is younger than
      ``ttl_seconds`` → denied (the holder/held-at are reported);
    * hold age ≥ ttl → stale auto-release, granted to the requester
      (the code's ``age < threshold`` deny means age == threshold
      acquires);
    * check-in / cancel by a non-holder → rejected (the reference
      throws; the batch form records the rejection so one bad request
      cannot abort the batch — constitution error isolation);
    * check-in stamps ``last_checked_in_by/at`` and clears the hold;
      cancel clears the hold WITHOUT the stamps (FR-024). Both succeed
      on a free document (only held-by-OTHER rejects), matching the
      service's guard.

    Execution shape: requests are collected per doc_key (bounded: the
    reference's scale envelope is low-double-digit reviewers, so a
    document sees at most a handful per batch), sorted, and folded with
    ``F.aggregate`` — the whole state machine is ONE higher-order
    expression, JVM-side, no Python, no iteration; one shuffle to group
    plus a left join to the (same-partitioned) lock table. The ETag
    single-retry loop has no analog here because the fold serializes all
    contenders deterministically — optimistic-concurrency conflicts
    cannot occur inside one batch; across batches the idempotent
    conditional-overwrite sink plays that role (plans/pipeline.py).

    ``locks``: (doc_key, checked_out_by, checked_out_at,
    last_checked_in_by, last_checked_in_at) — timestamps as epoch-second
    longs; absent doc_key = free. ``requests``: (doc_key, seq, reviewer,
    action['checkout'|'checkin'|'cancel'], req_ts). Returns one row per
    request: (doc_key, seq, reviewer, action, req_ts, granted, reason,
    held_by, held_at) where held_by/held_at are the post-decision hold.
    """
    req_arr = requests.groupBy("doc_key").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("req_ts").cast("long").alias("ts"),
                    F.col("seq").cast("int").alias("seq"),
                    F.col("reviewer").alias("reviewer"),
                    F.col("action").alias("action"),
                )
            )
        ).alias("_reqs")
    )
    lock0 = locks.select(
        "doc_key",
        F.col("checked_out_by").alias("_cob0"),
        F.col("checked_out_at").cast("long").alias("_coa0"),
        F.col("last_checked_in_by").alias("_lcib0"),
        F.col("last_checked_in_at").cast("long").alias("_lcia0"),
    )
    joined = req_arr.join(lock0, "doc_key", "left")

    out_t = (
        "struct<seq:int,reviewer:string,action:string,ts:bigint,"
        "granted:boolean,reason:string,held_by:string,held_at:bigint,"
        "last_ci_by:string,last_ci_at:bigint>"
    )
    init = F.struct(
        F.col("_cob0").alias("cob"),
        F.col("_coa0").alias("coa"),
        F.col("_lcib0").alias("lcib"),
        F.col("_lcia0").alias("lcia"),
        F.array().cast(f"array<{out_t}>").alias("outs"),
    )

    def step(st: Column, r: Column) -> Column:
        same = F.lower(st["cob"]) == F.lower(r["reviewer"])
        held = st["cob"].isNotNull()
        # coalesce: a malformed lock row (holder set, timestamp null) must
        # DENY (granted false), not propagate NULL through the boolean
        stale = F.coalesce(
            (r["ts"] - st["coa"]) >= F.lit(ttl_seconds), F.lit(False)
        )
        is_checkout = r["action"] == "checkout"
        # checkout grants unless held by another, non-stale reviewer
        co_grant = ~held | same | stale
        # checkin/cancel reject only when held by ANOTHER reviewer
        rel_grant = ~held | same
        granted = F.when(is_checkout, co_grant).otherwise(rel_grant)
        reason = F.when(granted, F.lit(None).cast("string")).otherwise(
            F.when(is_checkout, F.lit("held")).otherwise(
                F.lit("held_by_other")
            )
        )
        cob = (
            F.when(is_checkout & granted, r["reviewer"])
            .when(~is_checkout & granted, F.lit(None).cast("string"))
            .otherwise(st["cob"])
        )
        coa = (
            F.when(is_checkout & granted, r["ts"])
            .when(~is_checkout & granted, F.lit(None).cast("long"))
            .otherwise(st["coa"])
        )
        is_checkin = r["action"] == "checkin"
        lcib = F.when(is_checkin & granted, r["reviewer"]).otherwise(
            st["lcib"]
        )
        lcia = F.when(is_checkin & granted, r["ts"]).otherwise(st["lcia"])
        out = F.struct(
            r["seq"].alias("seq"),
            r["reviewer"].alias("reviewer"),
            r["action"].alias("action"),
            r["ts"].alias("ts"),
            granted.alias("granted"),
            reason.alias("reason"),
            cob.alias("held_by"),
            coa.alias("held_at"),
            # post-decision stamps make FR-024 observable per row: checkin
            # sets them, cancel must leave them untouched
            lcib.alias("last_ci_by"),
            lcia.alias("last_ci_at"),
        )
        return F.struct(
            cob.alias("cob"),
            coa.alias("coa"),
            lcib.alias("lcib"),
            lcia.alias("lcia"),
            F.array_append(st["outs"], out).alias("outs"),
        )

    folded = joined.select(
        "doc_key", F.aggregate(F.col("_reqs"), init, step).alias("_st")
    )
    out = folded.select(
        "doc_key", F.explode(F.col("_st")["outs"]).alias("o")
    )
    return out.select(
        "doc_key",
        F.col("o.seq").alias("seq"),
        F.col("o.reviewer").alias("reviewer"),
        F.col("o.action").alias("action"),
        F.col("o.ts").alias("req_ts"),
        F.col("o.granted").alias("granted"),
        F.col("o.reason").alias("reason"),
        F.col("o.held_by").alias("held_by"),
        F.col("o.held_at").alias("held_at"),
        F.col("o.last_ci_by").alias("last_ci_by"),
        F.col("o.last_ci_at").alias("last_ci_at"),
    )
