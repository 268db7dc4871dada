"""Self-test of the benchmark's output checks and failure accounting.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from checks import digest, mismatch  # noqa: E402
from layers import UNITS  # noqa: E402
from run import Bench, Op, Pass, summarize  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = SparkSession.builder.master("local[1]").appName("perfbench-selftest").getOrCreate()
    yield session
    session.stop()


def frame(spark):
    return spark.range(50).selectExpr("id", "id / 7.0 AS x", "array(id, id + 1) AS a")


def test_digest_ignores_row_order_but_not_content(spark):
    df = frame(spark)
    assert digest(df) == digest(df.orderBy("id", ascending=False).repartition(3))
    assert digest(df) != digest(df.filter("id > 0"))
    assert mismatch(digest(df), digest(df)) is None


def test_corrupted_expected_value_counts_as_failure(spark, tmp_path):
    df = frame(spark)
    good = digest(df)
    bench = Bench("corpus_build", 0, 1.0, False, str(tmp_path))
    bench.spark = spark
    bench.expected = {"keys": {
        "q_ok": good,
        "q_corrupt": {"rows": good["rows"], "hash": str(int(good["hash"]) + 1)},
    }}
    ops = [Op("0:q_ok", "q_ok", seconds=1.0, output=df),
           Op("0:q_corrupt", "q_corrupt", seconds=2.0, output=df),
           Op("0:q_missing", "q_missing", seconds=3.0, output=df)]
    bench.corpus_check([Pass(ops, 0.0, 6.0, 0)])

    assert ops[0].error is None
    assert ops[1].error.startswith("hash:")
    assert ops[2].error == "no expected value recorded"
    _, line, attempted, failed = summarize(bench.workload, [Pass(ops, 0.0, 6.0, 0)], 1.0, 0.0, 1.0)
    assert (attempted, failed) == (3, 2)
    assert "op_fail_ratio=0.6667 (2/3)" in line


def test_metric_map_names_every_per_layer_metric():
    with open(os.path.join(os.path.dirname(HERE), "METRICS.md")) as fh:
        doc = fh.read()
    assert UNITS and [m for m in UNITS if f"`{m}`" not in doc] == []
