"""Focused pins for the r13 optimization-round internals.

Each test pins a behavior an optimization changed or explicitly
preserved: the narrow (explode-free) SimHash signature build and the
single-reference symmetric edge build in connected_components.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.operators import dedup


def test_simhash_narrow_build_null_and_empty_text(spark):
    """The narrow HOF signature build must keep the explode-shape
    contract: a NULL-text doc emits NO signature row (the explode
    dropped it; the narrow build filters it), while an empty-string
    doc still emits one (split('') -> [''])."""
    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert set(rows) == {1, 3}
    assert all(isinstance(v, int) for v in rows.values())


def test_simhash_narrow_build_matches_explode_reference(spark):
    """Signature parity against an inline explode+groupBy reference —
    the exact shape the r13 narrow build replaced (md5-parity mode,
    the oracle family)."""
    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta tok{i % 3} gamma") for i in range(8)],
        "doc_id long, text string",
    )
    th = F.conv(F.substring(F.md5(F.col("token")), 1, 16), 16, -10).cast("long")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    ).withColumn("th", th)
    votes = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.expr(f"(th >> {b}) & 1")).alias(f"s{b}") for b in range(64)],
    )
    terms = []
    for b in range(64):
        bit_set = 2 * F.col(f"s{b}") > F.col("n")
        value = F.lit(-(2**63)) if b == 63 else F.lit(1 << b)
        terms.append(F.when(bit_set, value).otherwise(F.lit(0)))
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    ref = {
        r.doc_id: r.simhash
        for r in votes.select("doc_id", sig.cast("long").alias("simhash")).collect()
    }
    got = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(docs, hash_fn="md5-parity").collect()
    }
    assert got == ref


def test_connected_components_edge_build_symmetric(spark):
    """The single-explode edge build must produce the same components
    as the old union(fwd, swapped) shape — including reversed and
    duplicated input pairs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (10, 11), (11, 10), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}
