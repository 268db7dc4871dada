"""Runner utilities: retry policy (D5), run report (S10), pandas_udf
surface (§2.9), atomic publish."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.functions import exprs
from fordgobike_data_pipeline_spark.functions.udfs import haversine_km_udf
from fordgobike_data_pipeline_spark.io import publish_overwrite
from fordgobike_data_pipeline_spark.plans import runner


def test_with_retries_recovers():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert runner.with_retries(flaky, retries=2, delay_sec=0.0) == "ok"
    assert len(calls) == 3


def test_with_retries_exhausted():
    def always_fails():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        runner.with_retries(always_fails, retries=1, delay_sec=0.0)


def test_format_run_report(spark, tmp_path):
    wh = runner.Warehouse(str(tmp_path))
    mdf = spark.createDataFrame(
        [(1, "bronze", 1.5), (1, "silver", 2.25)],
        "batch_id INT, stage STRING, wall_sec DOUBLE",
    )
    mdf.write.parquet(wh.path("_state", "run_metrics"))
    report = runner.format_run_report(spark, wh)
    assert "bronze" in report and "2.250" in report
    assert report.splitlines()[0].split("|")[1].strip() == "stage"


def test_haversine_udf_matches_native_expr(spark):
    df = spark.createDataFrame(
        [(37.7766, -122.4174, 37.3297, -121.9026), (0.0, 0.0, 0.0, 0.0)],
        "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE",
    )
    out = df.select(
        haversine_km_udf("lat1", "lon1", "lat2", "lon2").alias("udf_km"),
        exprs.haversine_km("lat1", "lon1", "lat2", "lon2").alias("native_km"),
    ).collect()
    for r in out:
        assert abs(r.udf_km - r.native_km) < 1e-9
    assert 60 < out[0].udf_km < 75  # SF ↔ San Jose ≈ 67 km


def test_publish_overwrite_atomic_swap(spark, tmp_path):
    path = str(tmp_path / "t")
    publish_overwrite(spark.range(10).toDF("n"), path)
    assert spark.read.parquet(path).count() == 10
    # overwrite from a plan READING the same path (the merge pattern)
    existing = spark.read.parquet(path)
    merged = existing.union(spark.range(10, 15).toDF("n"))
    publish_overwrite(merged, path)
    assert spark.read.parquet(path).count() == 15
    assert not [p for p in os.listdir(str(tmp_path)) if "_tmp_" in p]


# ---------------------------------------------------------------------------
# Versioned publish (io.publish_overwrite): snapshots, time travel,
# rollback, pruning
# ---------------------------------------------------------------------------


def test_versioned_publish_time_travel_and_rollback(spark, tmp_path):
    from fordgobike_data_pipeline_spark import io as io_mod

    path = str(tmp_path / "t")

    def df_of(n):
        return spark.range(n).withColumnRenamed("id", "x")

    v1 = io_mod.publish_overwrite(df_of(3), path)
    v2 = io_mod.publish_overwrite(df_of(5), path)
    assert (v1, v2) == (1, 2)
    # current reads the newest snapshot; time travel reads the old one
    assert io_mod.read_versioned(spark, path).count() == 5
    assert io_mod.read_versioned(spark, path, version=1).count() == 3
    # rollback repoints without destroying the newer version
    io_mod.rollback(path, 1)
    assert io_mod.read_versioned(spark, path).count() == 3
    assert io_mod.read_versioned(spark, path, version=2).count() == 5


def test_versioned_publish_prunes_beyond_keep(spark, tmp_path):
    from fordgobike_data_pipeline_spark import io as io_mod

    path = str(tmp_path / "t")
    for n in range(1, 6):
        io_mod.publish_overwrite(spark.range(n), path, keep=2)
    assert io_mod.list_versions(path) == [4, 5]
    assert io_mod.read_versioned(spark, path).count() == 5
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="available"):
        io_mod.read_versioned(spark, path, version=1)
    with _pytest.raises(FileNotFoundError):
        io_mod.rollback(path, 1)


def test_versioned_reader_survives_concurrent_republish(spark, tmp_path):
    """The isolation contract: a reader that resolved the pointer keeps
    a valid immutable directory even after a new version publishes
    (publish_overwrite would have deleted the directory under it)."""
    from fordgobike_data_pipeline_spark import io as io_mod

    path = str(tmp_path / "t")
    io_mod.publish_overwrite(spark.range(7), path)
    snapshot = io_mod.read_versioned(spark, path)  # resolves v=1
    io_mod.publish_overwrite(spark.range(9), path)  # v=2 publishes
    assert snapshot.count() == 7  # still readable, bit-identical
    assert io_mod.read_versioned(spark, path).count() == 9


def test_read_evolved_merges_and_aligns_schemas(spark, tmp_path):
    """Batches written under widened schemas read as one table; the
    target-schema alignment materializes missing columns as typed NULLs
    and enforces declared types (a plain read resolves one footer and
    can silently drop newer columns)."""
    from pyspark.sql import types as T

    from fordgobike_data_pipeline_spark import io as io_mod

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    merged = io_mod.read_evolved(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("added_later", T.IntegerType()),  # not on disk yet
        ]
    )
    aligned = io_mod.read_evolved(spark, path, target)
    assert aligned.columns == ["id", "name", "score", "added_later"]
    assert aligned.schema["added_later"].dataType.typeName() == "integer"
    assert all(r.added_later is None for r in aligned.collect())
