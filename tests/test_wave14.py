"""Behavioral tests for the round-6 wave-14 operators: interval
concurrency (sweep-line), Kendall tau construction, matryoshka
truncation recall bounds."""

from __future__ import annotations

import datetime as dt

from fordgobike_data_pipeline_spark import harness
from fordgobike_data_pipeline_spark.operators import sessions as sess_ops

from .conftest import SF_SMOKE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_concurrency_triple_overlap(spark):
    rows = [
        (_ts("2024-01-01T10:00:00"), _ts("2024-01-01T11:00:00")),
        (_ts("2024-01-01T10:30:00"), _ts("2024-01-01T11:30:00")),
        (_ts("2024-01-01T10:45:00"), _ts("2024-01-01T12:00:00")),
        (_ts("2024-01-01T13:00:00"), _ts("2024-01-01T13:10:00")),
    ]
    df = spark.createDataFrame(rows, "session_start timestamp, session_end timestamp")
    out = sess_ops.concurrency_by_day(df).collect()
    assert len(out) == 1
    assert out[0].max_concurrent == 3
    assert out[0].n_sessions == 4


def test_concurrency_backtoback_counts_both(spark):
    """Inclusive ends: B starting the instant A ends overlaps it."""
    rows = [
        (_ts("2024-01-01T10:00:00"), _ts("2024-01-01T11:00:00")),
        (_ts("2024-01-01T11:00:00"), _ts("2024-01-01T12:00:00")),
    ]
    df = spark.createDataFrame(rows, "session_start timestamp, session_end timestamp")
    out = sess_ops.concurrency_by_day(df).collect()
    assert out[0].max_concurrent == 2


def test_concurrency_midnight_spanning_session_clips(spark):
    rows = [(_ts("2024-01-01T23:30:00"), _ts("2024-01-02T00:30:00"))]
    df = spark.createDataFrame(rows, "session_start timestamp, session_end timestamp")
    out = {r.day.isoformat(): r for r in sess_ops.concurrency_by_day(df).collect()}
    assert set(out) == {"2024-01-01", "2024-01-02"}
    assert all(r.max_concurrent == 1 for r in out.values())


def test_kendall_tau_range_and_consistency(spark):
    row = harness.all_queries()["q_kendall_tau"](spark, SF_SMOKE).collect()[0]
    assert -1.0 <= row.tau <= 1.0
    assert row.concordant + row.discordant <= row.n_days * (row.n_days - 1) // 2


def test_matryoshka_recall_bounds_and_full_dim_identity(spark):
    out = harness.all_queries()["q_matryoshka_recall"](spark, SF_SMOKE).collect()
    assert len(out) == 5
    for r in out:
        assert 0.0 <= r.recall_16 <= 1.0
        assert 0.0 <= r.recall_32 <= 1.0


def test_mutual_information_terms_sum_nonnegative(spark):
    """Σ mi_term = I(X;Y) ≥ 0 (up to per-cell 1e-9 rounding)."""
    rows = harness.all_queries()["q_mutual_information"](spark, SF_SMOKE).collect()
    total = sum(r.mi_term for r in rows)
    assert total >= -1e-6 * len(rows)
