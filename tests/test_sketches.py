"""Table test for stratified quota sampling (``operators.sampling``).

The sketch operators this file once covered (HLL, Bloom, count-min) were
retired with the query catalog that drove them.
"""

from __future__ import annotations


def test_quota_sample_exact_total_and_per_stratum(spark):
    """Hamilton allocation: quotas sum to exactly k, each stratum gets
    floor or floor+1, and quota_sample materializes exactly quota rows
    per stratum, deterministically."""
    from poc_document_ocr_spark.operators.sampling import (
        quota_allocation,
        quota_sample,
    )

    rows = [(i, f"s{i % 7}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    alloc = {
        r.source: r for r in quota_allocation(df, 137, "source").collect()
    }
    assert sum(r.quota for r in alloc.values()) == 137
    for r in alloc.values():
        assert r.quota in (r.quota_floor, r.quota_floor + 1)
        assert r.extra in (0, 1)
    got = (
        quota_sample(df, 137, "source", "doc_id")
        .groupBy("source")
        .count()
        .collect()
    )
    assert {r.source: r["count"] for r in got} == {
        s: r.quota for s, r in alloc.items()
    }
    # determinism: same call twice → identical id sets
    a = sorted(r.doc_id for r in quota_sample(df, 137, "source").collect())
    b = sorted(r.doc_id for r in quota_sample(df, 137, "source").collect())
    assert a == b
