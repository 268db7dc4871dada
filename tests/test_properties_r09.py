"""Property-based tests (hypothesis) for the round-9 operators:
anisotropy, MCC, spectral top-share, shard-XOR composition, Wilson CI
bracketing — invariants that hold for ANY input, not just the planted
fixtures."""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from fordgobike_data_pipeline_spark.operators import quality, similarity

_vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@given(st.lists(_vec, min_size=2, max_size=6))
@settings(max_examples=8, deadline=None)
def test_anisotropy_bounded_and_duplication_invariant(spark, vecs):
    # any corpus: 0 <= anisotropy <= 1 (Cauchy-Schwarz); duplicating
    # every row leaves it unchanged (both moments scale by 2)
    rows = [(i, v, 0) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r.anisotropy for r in similarity.anisotropy(df).collect()}
    a = got[None]
    if a is None:  # all-zero corpus: 0/0 -> NULL, acceptable
        return
    assert -1e-12 <= a <= 1.0 + 1e-12
    dup = spark.createDataFrame(
        rows + [(i + 100, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    a2 = {r.label: r.anisotropy for r in similarity.anisotropy(dup).collect()}[None]
    assert abs(a - a2) < 1e-12


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 1)), min_size=2, max_size=40
    )
)
@settings(max_examples=10, deadline=None)
def test_mcc_bounded_and_symmetric(spark, pairs):
    df = spark.createDataFrame(pairs, "a int, b int")
    r = quality.matthews_corr(df, "a", "b").collect()[0]
    r2 = quality.matthews_corr(df, "b", "a").collect()[0]
    if r.mcc is None:
        assert r2.mcc is None  # degenerate marginal is symmetric
        return
    assert -1.0 - 1e-12 <= r.mcc <= 1.0 + 1e-12
    assert abs(r.mcc - r2.mcc) < 1e-12  # MCC is symmetric in raters


@given(st.lists(_vec, min_size=2, max_size=6))
# the top eigenvector [0, 1, -1, 0] is orthogonal to the all-ones
# vector: an all-ones start returned 0.111 here (true share 0.889)
@example([[0.0, 0.0, 0.0, 0.25], [0.0, 0.5, -0.5, 0.0]])
@settings(max_examples=6, deadline=None)
def test_spectral_share_at_least_inverse_dim(spark, vecs):
    # top eigenvalue >= trace/dim, so share >= 1/dim (up to the 1e-4
    # quantization + truncating-renormalization error of the iterate)
    if all(abs(x) < 2e-4 for v in vecs for x in v):
        return  # all-zero after quantization: share undefined
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    r = similarity.spectral_top_share(df).collect()[0]
    if r.top_eigen_share is None:
        return
    assert r.top_eigen_share <= 1.0 + 1e-9
    assert r.top_eigen_share >= 1.0 / r.dim - 0.05


def test_shard_xor_composes(spark):
    # XOR fingerprints of two disjoint halves compose to the whole:
    # the map-side-combinable transfer-integrity property
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    full = {
        r.shard_id: r.xor_fingerprint
        for r in entry.queries()["q_shard_manifest"](spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    fp = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    halves = (
        docs.select(
            (F.col("doc_id") % 16).alias("shard_id"),
            (F.col("doc_id") % 32 >= 16).alias("hi"),
            fp.alias("_fp"),
        )
        .groupBy("shard_id", "hi")
        .agg(F.expr("bit_xor(_fp)").alias("x"))
        .collect()
    )
    combined: dict[int, int] = {}
    for r in halves:
        combined[r.shard_id] = combined.get(r.shard_id, 0) ^ r.x
    assert combined == full


@given(st.integers(0, 30), st.integers(1, 30))
@settings(max_examples=15, deadline=None)
def test_wilson_brackets_even_at_edges(spark, k, n):
    # Wilson never escapes [0,1] and always brackets p-hat, including
    # k=0 and k=n where the normal interval fails
    k = min(k, n)
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"source": ["s"] * n, "passed": [1] * k + [0] * (n - k)}
        )
    )
    from pyspark.sql import functions as F

    r = df.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("passed").cast("long").alias("n_pass"),
    )
    nn = F.col("n_docs")
    z2 = F.lit(1.96) * F.lit(1.96)
    p = F.col("n_pass").cast("double") / nn
    denom = 1 + z2 / nn
    center = (p + z2 / (2 * nn)) / denom
    half = (
        F.lit(1.96) * F.sqrt(p * (1 - p) / nn + z2 / (4 * nn.cast("double") * nn))
    ) / denom
    row = r.select(
        (center - half).alias("lo"), p.alias("p"), (center + half).alias("hi")
    ).collect()[0]
    assert -1e-12 <= row.lo <= row.p + 1e-12
    assert row.p - 1e-12 <= row.hi <= 1.0 + 1e-12
    assert math.isfinite(row.lo) and math.isfinite(row.hi)
