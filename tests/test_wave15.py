"""Behavioral tests for the round-6 wave-15 operators: decision-stump
split search (planted-split recovery), k-anonymity audit, KL
divergence nonnegativity."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark import harness
from fordgobike_data_pipeline_spark.io import load_tables

from .conftest import SF_SMOKE


def _mini_events_dir(spark, rows):
    """Write an events.parquet with the testdata schema to a tmp dir."""
    root = tempfile.mkdtemp(prefix="wave15_events_")
    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, 0, i % 60), i % 7, et, v, "{}")
            for i, (et, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df.write.mode("overwrite").parquet(os.path.join(root, "events.parquet"))
    return root


def test_decision_stump_recovers_planted_split(spark):
    """y = purchase iff value > 50 → the stump must find threshold 50
    (the last left-side candidate) with zero impurity."""
    rows = [("view", float(v)) for v in range(1, 51)] + [
        ("purchase", float(v)) for v in range(51, 101)
    ]
    sf = _mini_events_dir(spark, rows)
    out = harness.all_queries()["q_decision_stump"](spark, sf).collect()[0]
    assert out.threshold == 50.0
    assert out.best_gini == 0.0
    assert out.n_left == 50 and out.n_right == 50


def test_decision_stump_bounds_on_testdata(spark):
    out = harness.all_queries()["q_decision_stump"](spark, SF_SMOKE).collect()[0]
    assert 0.0 <= out.best_gini <= 0.5
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    assert out.n_left + out.n_right == ev.count()


def test_k_anonymity_flags_only_small_groups(spark):
    rows = harness.all_queries()["q_k_anonymity"](spark, SF_SMOKE).collect()
    assert all(r.group_size < 5 for r in rows)
    # every flagged group really has that size in the base table
    cust = load_tables(spark, SF_SMOKE, ("customer",))["customer"]
    band = F.floor(
        F.round(F.col("c_acctbal") * 100).cast("long").cast("double") / 100000.0
    ).cast("int")
    sizes = {
        (r.c_nationkey, r.c_mktsegment, r.bal_band): r.n
        for r in cust.groupBy(
            "c_nationkey", "c_mktsegment", band.alias("bal_band")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert sizes[(r.c_nationkey, r.c_mktsegment, r.bal_band)] == r.group_size


def test_kl_divergence_nonnegative(spark):
    out = harness.all_queries()["q_kl_divergence"](spark, SF_SMOKE).collect()[0]
    assert out.kl_ab >= 0.0 and out.kl_ba >= 0.0
    assert out.vocab > 0
