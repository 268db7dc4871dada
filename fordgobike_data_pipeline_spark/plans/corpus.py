"""Training-corpus cleaning pipeline — the north-star operators
composed into one plan (BASELINE.json: "the operations a large-scale
training-data pipeline would need").

Stage order is the cheap-filters-first discipline the reference applies
to its geocode enrichment (SURVEY §4: dedup before the expensive step):

  1. quality gate        (per-row expressions, no shuffle)
  2. language filter     (per-row expressions, no shuffle)
  3. exact dedup         (one hash shuffle)
  4. MinHash-LSH near-dedup (bucketed candidates + bounded verify)
  5. token budget        (running-sum cutoff, optional)

Everything stays declarative, so Catalyst fuses stages 1-2 into the
scan and prunes columns; only survivors of the cheap gates reach the
shuffling stages. Returns (clean_docs, report) where report is a small
per-stage row-count accounting DataFrame.

Contract: ``id_col`` uniquely identifies rows (the same assumption
exact dedup's min-id survivor already makes); all keep/drop decisions
travel as id sets and are re-attached to the full rows by semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup, text


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    keep_langs: tuple[str, ...] | None = None,
    jaccard_threshold: float = 0.8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    # DECIDE ON SMALL ROWS, MOVE BIG ROWS ONCE (the §8 discipline of the
    # optimization playbook). One narrow pass over the text evaluates
    # BOTH gate expressions and the exact-dedup content hash; only
    # (id, 32-char hash, two booleans) is ever materialized or joined.
    # The former shape localCheckpointed the FULL TEXT payload twice
    # (post-gate and post-exact-dedup) — at corpus scale that is two
    # extra copies of the corpus through the block manager for
    # decisions that only ever read ids and hashes. Every keep/drop
    # decision below runs on this meta table; the text is scanned again
    # only (a) to shingle the exact-dedup SURVIVORS for near-dedup (a
    # pruned semi-join scan) and (b) lazily, if the caller consumes the
    # `cleaned` rows themselves. On clusters with executor churn swap
    # localCheckpoint for persist(MEMORY_AND_DISK) + unpersist —
    # checkpointed blocks are not recomputable (see SCALE.md).
    q_ok = text.quality_expr(text_col) >= min_quality
    if keep_langs:
        gate_ok = q_ok & text.lang_guess_expr(text_col).isin(*keep_langs)
    else:
        gate_ok = q_ok
    from ..functions.skew import fan_out

    meta = fan_out(docs).select(
        F.col(id_col),
        dedup.content_hash(F.col(text_col)).alias("_chash"),
        q_ok.alias("_q"),
        gate_ok.alias("_g"),
    ).localCheckpoint(eager=True)

    # gate accounting: ONE conditional aggregate over the meta table —
    # the gate expressions genuinely run once (the former comment
    # claimed this while each report row re-planned the whole scan)
    gate_counts = meta.agg(
        F.count(F.lit(1)).alias("_input"),
        F.count(F.when(F.col("_q"), 1)).alias("_quality"),
        F.count(F.when(F.col("_g"), 1)).alias("_lang"),
    )
    counts: list[tuple[str, DataFrame]] = [
        ("input", gate_counts.select(F.col("_input").alias("n_docs"))),
        ("quality_gate", gate_counts.select(F.col("_quality").alias("n_docs"))),
    ]
    if keep_langs:
        counts.append(("lang_filter", gate_counts.select(F.col("_lang").alias("n_docs"))))

    # 3. exact dedup — min-id survivor per content hash, ids only.
    # Checkpointed: feeds the count row, the survivor-shingle semi-join
    # AND the final keep set.
    keep_ids = (
        meta.filter(F.col("_g"))
        .groupBy("_chash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    counts.append(("exact_dedup", keep_ids.agg(F.count(F.lit(1)).alias("n_docs"))))

    # 4. near-dedup — cluster pairs into connected components and keep
    # the min-id survivor per component (exact transitive semantics:
    # a~b~c collapses to one doc even when (a,c) was never a pair).
    # The semi-join prunes the text scan to exact-dedup survivors; from
    # the shingle table on, only ids and 8-byte hashes shuffle.
    # fan the SCAN side before the semi-join (fan_out declines join
    # lineage): the shingle build downstream inherits the probe side's
    # partitioning through the broadcast join
    gated_docs = fan_out(docs).join(keep_ids, id_col, "left_semi")
    pairs = dedup.minhash_lsh_pairs(
        gated_docs, text_col, id_col, k=shingle_k, threshold=jaccard_threshold,
        hash_fn=hash_fn,
    )
    final_ids = dedup.dedup_clusters(keep_ids, pairs, id_col)
    counts.append(
        ("near_dedup", final_ids.agg(F.count(F.lit(1)).alias("n_docs")))
    )
    # survivors' full rows: one lazy pruned scan, paid only by callers
    # that consume the documents themselves (the accounting report
    # never touches the text again)
    cleaned = docs.join(final_ids.select(id_col), id_col, "left_semi")

    report = None
    for stage, cnt in counts:
        row = cnt.select(F.lit(stage).alias("stage"), "n_docs")
        report = row if report is None else report.unionByName(row)
    return cleaned, report


def token_budget_filter(
    docs: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 100,
) -> DataFrame:
    """Stage 5 — cap the corpus at ≈budget_tokens, keeping the
    highest-quality documents first.

    A global quality-ordered running sum would sort the whole corpus
    onto one partition; instead quality space is cut into n_buckets,
    per-bucket token totals (a tiny aggregate) pick the cutoff bucket,
    and only *that* bucket is trimmed exactly with a window bounded to
    one bucket's rows. Deterministic: quality desc, then doc id.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    from pyspark.sql import Window

    from ..operators import text as text_ops

    q = quality_ranked = (
        docs.join(text_ops.quality_score(docs, text_col, id_col), id_col)
        .join(text_ops.token_count_bpe_ish(docs, text_col, id_col), id_col)
        .withColumn("_bucket", F.least(F.floor(F.col("quality") * n_buckets), F.lit(n_buckets - 1)))
    )
    per_bucket = (
        q.groupBy("_bucket")
        .agg(F.sum("n_bpe_tokens").alias("_tok"))
        .orderBy(F.desc("_bucket"))
        .collect()
    )  # n_buckets rows — a bounded driver-side cutoff table, not data
    cum, cutoff = 0, None
    for r in per_bucket:
        if cum + r._tok > budget_tokens:
            cutoff = r._bucket
            break
        cum += r._tok
    if cutoff is None:
        return docs  # whole corpus fits
    keep_whole = q.filter(F.col("_bucket") > cutoff)
    boundary = q.filter(F.col("_bucket") == cutoff)
    w = (
        Window.orderBy(F.desc("quality"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary_kept = (
        boundary.withColumn("_cum", F.sum("n_bpe_tokens").over(w))
        .filter(F.col("_cum") <= budget_tokens - cum)
    )
    kept_ids = keep_whole.select(id_col).unionByName(boundary_kept.select(id_col))
    return docs.join(kept_ids, id_col, "left_semi")
