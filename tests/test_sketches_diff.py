"""Wave-3 operator semantics: count-min overestimate + merge algebra,
table-diff classification with null-safe equality, triangle counting
on known graphs, conjunctive search AND-semantics, MAD outliers."""

from __future__ import annotations

from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.operators import (
    graph,
    quality,
    retrieval,
    sketches,
    warehouse,
)


def _terms(spark, words):
    return spark.createDataFrame([(w,) for w in words], "term STRING")


def test_count_min_overestimates_and_bounds(spark):
    words = ["a"] * 10 + ["b"] * 5 + ["c"] * 1
    sk = sketches.count_min_build(_terms(spark, words), depth=4, width=16)
    assert sk.count() <= 4 * 16
    est = {
        r.term: r.est_count
        for r in sketches.count_min_estimate(
            sk, _terms(spark, ["a", "b", "c"]), depth=4, width=16
        ).collect()
    }
    assert est["a"] >= 10 and est["b"] >= 5 and est["c"] >= 1


def test_count_min_merges_by_cell_addition(spark):
    a, b = ["x"] * 3 + ["y"], ["x"] * 2 + ["z"] * 4
    sk_a = sketches.count_min_build(_terms(spark, a), depth=2, width=8)
    sk_b = sketches.count_min_build(_terms(spark, b), depth=2, width=8)
    merged = (
        sk_a.unionByName(sk_b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sketches.count_min_build(_terms(spark, a + b), depth=2, width=8)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_table_diff_classification_nullsafe(spark):
    before = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k LONG, s STRING, v DOUBLE",
    )
    after = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "X", 9.0), (5, "e", 5.0)],
        "k LONG, s STRING, v DOUBLE",
    )
    out = {
        r.k: (r.diff_status, r.n_cols_changed)
        for r in warehouse.table_diff(before, after, ["k"], ["s", "v"]).collect()
    }
    assert out == {
        1: ("unchanged", 0),
        2: ("changed", 1),  # NULL -> 2.0 is a change under <=>
        3: ("changed", 2),
        4: ("removed", None),
        5: ("added", None),
    }


def test_triangle_count_known_graphs(spark):
    # triangle 1-2-3 plus dangling edge 3-4: exactly one triangle
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a LONG, b LONG"
    )
    r = graph.triangle_count(tri).collect()[0]
    assert (r.n_edges, r.n_triangles) == (4, 1)
    # K4 has C(4,3) = 4 triangles; duplicate/reversed edges must not double-count
    k4 = spark.createDataFrame(
        [(i, j) for i in range(1, 5) for j in range(1, 5) if i != j],
        "a LONG, b LONG",
    )
    r4 = graph.triangle_count(k4).collect()[0]
    assert (r4.n_edges, r4.n_triangles) == (6, 4)


def test_triangle_count_int_ids_do_not_wrap_packed_key(spark):
    """The packed (x, y) key is built in long arithmetic: with int ids a
    31-bit shift wraps, so x=0 and x=2 pack alike and the open wedge
    (0, 3) here would be closed by the edge (2, 3). For bigint ids the
    cast is redundant and gone from the optimized plan."""
    edges = [(0, 2), (0, 3), (1, 2), (3, 4)]  # a tree: no triangles
    for typ in ("INT", "LONG"):
        out = graph.triangle_count(spark.createDataFrame(edges, f"a {typ}, b {typ}"))
        assert out.first().n_triangles == 0, typ
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    packs = [line for line in plan.splitlines() if "shiftleft" in line]
    assert packs and not any("cast(" in line for line in packs)


def test_keyword_search_requires_all_terms(spark):
    docs = spark.createDataFrame(
        [
            (1, "join hash scan join"),   # all 3, score 4
            (2, "join hash scan"),        # all 3, score 3
            (3, "join join join hash"),   # missing scan
            (4, "other words only"),
        ],
        "doc_id LONG, text STRING",
    )
    out = retrieval.keyword_search(docs, ["join", "hash", "scan"], k=10).collect()
    assert [(r.doc_id, r.score) for r in out] == [(1, 4), (2, 3)]


def test_mad_census_flags_planted_outlier(spark):
    rows = [("g", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("const", 5.0) for _ in range(4)
    ]
    df = spark.createDataFrame(rows, "src STRING, v DOUBLE")
    out = {r.grp: r for r in quality.mad_outlier_census(df, "src", "v").collect()}
    assert out["g"].median == 12.5 and out["g"].n_outliers == 1
    # constant group: MAD 0, deviations 0 -> nothing flagged
    assert out["const"].mad == 0.0 and out["const"].n_outliers == 0
