"""Skew-mitigation utilities (SURVEY §4 scale levers).

AQE's skew-join splitting handles most cases automatically
(spark.sql.adaptive.skewJoin.enabled, on in session.py); these are the
manual levers for the cases AQE can't see:

* two_phase_count — salted pre-aggregation for heavily skewed group
  keys (a hot key's rows first combine within each salt bucket, so no
  single reducer receives the full hot key).
* salted_join — replicate the small side across N salts so a hot key
  on the big side spreads over N reducers. For broadcast-able small
  sides prefer broadcast(); this is for medium dims too big to ship.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salt: int, salt_col: str = "_salt") -> DataFrame:
    """Per-row salt in [0, n_salt) from the row's physical position —
    spreads even identical duplicate rows (a content hash would send a
    hot key's duplicates to one bucket, defeating the salt). Salt
    assignment is position-dependent, not stable across retries; only
    salt-invariant aggregates should consume it."""
    first = df.columns[0]
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(F.col(first), F.monotonically_increasing_id()), F.lit(n_salt))
    )


def two_phase_count(
    df: DataFrame, keys: list[str | Column], n_salt: int = 32, count_alias: str = "cnt"
) -> DataFrame:
    """GROUP BY count resilient to hot keys: (key, salt) partial counts
    then key totals. Identical result to a plain groupBy().count()."""
    salted = with_salt(df, n_salt)
    partial = salted.groupBy(*keys, F.col("_salt")).agg(F.count("*").alias("_c"))
    return partial.groupBy(*keys).agg(F.sum("_c").alias(count_alias))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the small side replicated n_salt times: big rows
    pick one salt (hash-split), small rows carry every salt, so each
    hot join key fans across n_salt reducers instead of one."""
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(n_salt))
    )
    small_replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return big_salted.join(small_replicated, [key, "_salt"], how).drop("_salt")


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance an under-partitioned input before heavy per-row work —
    the optimization guide's §2.5 "input skew: one huge unsplittable
    file" remedy (repartition immediately after the read).

    The gram/fingerprint builders (char k-gram md5 arrays, token
    shingle explodes, quality regex gates) do all their work in the
    SCAN stage; when the input is a single small file (or a file with
    one parquet row group, which no maxPartitionBytes setting can
    split), that whole stage runs on one core while the rest of the
    cluster idles — measured at sf0.1: winnowing 4.7s -> 0.8s after
    rebalancing to defaultParallelism. When the scan already has at
    least defaultParallelism splits — the at-scale case — this is a
    NO-OP and adds no exchange.

    Only NARROW lineages are touched (scan / project / filter /
    local data): ``df.rdd.getNumPartitions()`` finalizes the AQE plan,
    which materializes upstream exchange stages early, and repartition
    after a join would re-shuffle payloads mid-plan — both measured
    regressions. Joins, aggregates, windows, dedups and explicit
    repartitions — any such node of the analyzed plan, found by class
    name, never by matching column names — pass through untouched
    (callers that want their probe side fanned repartition the scan
    BEFORE the join, where it is still narrow).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nodes = [df._jdf.queryExecution().analyzed()]
        while nodes:
            node = nodes.pop()
            name = node.nodeName()
            if name.endswith("Join") or name in (
                "Aggregate", "Window", "Repartition", "RepartitionByExpression",
                "Deduplicate", "Distinct",
            ):
                return df
            children = node.children()
            nodes.extend(children.apply(i) for i in range(children.size()))
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — unknown lineage: leave untouched
        return df
    return df.repartition(target) if n < target else df
