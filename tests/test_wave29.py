"""Wave-29 operators: tokenizer fertility, PR threshold sweep, token
budget water-filling, LSH design sweep, norm outliers — planted-value
tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.operators import curation, dedup, quality, text

DOCS_SCHEMA = "doc_id long, text string, source string"


def test_tokenizer_fertility_planted(spark):
    # "ab cd, ef!": ws tokens 3; BPE-ish tokens ab,cd,',',ef,'!' = 5; 10 chars
    docs = spark.createDataFrame([(1, "ab cd, ef!", "s")], DOCS_SCHEMA)
    r = text.tokenizer_fertility(docs, by="source").collect()[0]
    assert (r.n_docs, r.n_chars, r.n_ws_tokens, r.n_bpe_tokens) == (1, 10, 3, 5)
    assert abs(r.chars_per_token - 2.0) < 1e-12
    assert abs(r.tokens_per_word - 5 / 3) < 1e-12


def test_threshold_sweep_planted(spark):
    scored = spark.createDataFrame(
        [(0.1, 0), (0.5, 1), (0.9, 1)], "quality double, label int"
    )
    out = {
        round(r.threshold, 2): r
        for r in quality.threshold_sweep(scored, grid=10).collect()
    }
    assert set(out) == {0.1, 0.5, 0.9}
    assert (out[0.9].n_pred, out[0.9].n_tp) == (1, 1)
    assert (out[0.5].n_pred, out[0.5].n_tp) == (2, 2)
    assert (out[0.1].n_pred, out[0.1].n_tp) == (3, 2)
    assert abs(out[0.1].precision - 2 / 3) < 1e-12
    assert out[0.5].recall == 1.0 and out[0.9].recall == 0.5


def _docs_with_tokens(spark, sizes: dict[str, int]):
    rows = [
        (i, " ".join(["w"] * n), src)
        for i, (src, n) in enumerate(sorted(sizes.items()))
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_budget_allocation_waterfill(spark):
    docs = _docs_with_tokens(spark, {"A": 100, "B": 300, "C": 1000})
    out = {r.source: r for r in curation.budget_allocation(docs, budget=500).collect()}
    assert {s: r.allocated for s, r in out.items()} == {"A": 100, "B": 200, "C": 200}
    assert sum(r.allocated for r in out.values()) == 500


def test_budget_allocation_remainder_and_surplus(spark):
    # budget 501 -> cap 200 with remainder 1 to the FIRST capped source (B)
    docs = _docs_with_tokens(spark, {"A": 100, "B": 300, "C": 1000})
    out = {r.source: r.allocated for r in curation.budget_allocation(docs, 501).collect()}
    assert out == {"A": 100, "B": 201, "C": 200}
    # budget beyond the total: nobody capped
    out2 = {r.source: r.allocated for r in curation.budget_allocation(docs, 5000).collect()}
    assert out2 == {"A": 100, "B": 300, "C": 1000}


def test_lsh_design_sweep_curves(spark):
    rows = dedup.lsh_design_sweep(spark, configs=((16, 4), (8, 8)), grid=20).collect()
    assert len(rows) == 2 * 19
    at = {(r.n_bands, r.rows_per_band, round(r.s, 3)): r.p_candidate for r in rows}
    exp_16_4 = 1 - (1 - 0.5**4) ** 16
    assert abs(at[(16, 4, 0.5)] - exp_16_4) < 1e-9
    # more, narrower bands catch low-similarity pairs more often
    assert at[(16, 4, 0.25)] < at[(8, 8, 0.9)] < 1.0


def test_norm_outliers_planted(spark):
    rows = [(i, [1.0, 0.0]) for i in range(20)]
    rows.append((100, [10.0, 0.0]))  # norm2_int 1e10 -> high
    rows.append((101, [0.0, 0.0]))   # 0 -> low
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.side for r in similarity_norm_outliers(emb)}
    assert out == {100: "high", 101: "low"}


def similarity_norm_outliers(emb):
    from fordgobike_data_pipeline_spark.operators import similarity

    return similarity.norm_outliers(emb).collect()
