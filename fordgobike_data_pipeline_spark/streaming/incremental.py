"""Structured Streaming upgrades (SURVEY §2.8).

The reference is scheduled batch with a consumed-flag (`@daily`,
dags/Bronze_dag.py:32; loaded_to_silver, init_db.py:87) — no streaming
operators exist. These are the engine's *capability upgrades*, the
idiomatic Spark replacements the survey maps out:

* stream_ingest_trips — Trigger.AvailableNow file stream over the
  landing dir: exactly-once incremental ingest via the checkpoint
  (replaces daily re-listing + the row flag). Each invocation drains
  whatever is new and stops — same cadence as the reference's daily
  batch, but restart-safe and no-rescan.
* windowed_event_counts — event-time tumbling aggregation with a
  watermark for late data (the streaming twin of q_window_time_bucket;
  identical results on bounded input).
* deduped_stream — watermark-bounded streaming dedup by key.

All three run identically on a 1000-executor cluster: the file source
lists incrementally, state lives in the checkpoint, watermarks bound
state size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..schemas import TRIPS_RAW


def stream_ingest_trips(
    spark: SparkSession,
    extracted_dir: str,
    bronze_path: str,
    checkpoint_dir: str,
) -> None:
    """Incremental CSV → parquet bronze ingest, AvailableNow trigger.

    The checkpoint tracks consumed files — re-running after new files
    land processes only the delta (replaces the archive-dir idempotence
    protocol of get_data.py:49-60 with engine-native exactly-once)."""
    fields = [f for f in TRIPS_RAW.fields if f.name != "period"]
    stream = (
        spark.readStream.schema(StructType(fields))
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(extracted_dir)
    )
    filename = F.element_at(F.split(F.input_file_name(), "/"), -1)
    enriched = (
        stream.withColumn("period", F.element_at(F.split(filename, "-"), 1))
        .withColumn("created_at", F.current_timestamp())
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", bronze_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Event-time window counts with late-data watermark: tumbling by
    default, hopping when ``slide`` is given (each event lands in
    size/slide windows — the streaming twin of the oracle-checked
    q_window_time_bucket / q_window_hopping; identical results on
    bounded input)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "cnt", "sum_value")
    )


def deduped_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup by event_id, state bounded by watermark."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stream_stream_join(
    clicks: DataFrame,
    views: DataFrame,
    join_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each click pairs with same-user views
    from the preceding ``join_window``. Both sides carry watermarks and
    the join condition time-bounds the match, so state for both streams
    is evicted as the watermark advances — the streaming twin of the
    batch range join (operators/temporal.range_join_pairs).

    Inputs use disjoint column names (stream-stream joins can't
    disambiguate shared names): click side (click_user, click_ts,
    click_id); view side (view_user, view_ts, view_id).
    """
    c = clicks.withWatermark("click_ts", watermark)
    v = views.withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            f"""
            click_user = view_user AND
            view_ts <= click_ts AND
            view_ts >= click_ts - INTERVAL {join_window}
            """
        ),
        "inner",
    ).select("click_user", "click_id", "click_ts", "view_id", "view_ts")


def stream_curate_documents(
    spark: SparkSession,
    landing_dir: str,
    accepted_path: str,
    index_path: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    min_quality: float = 0.3,
    band_index_path: str | None = None,
    jaccard_threshold: float = 0.8,
    metrics_path: str | None = None,
) -> None:
    """Streaming corpus ingestion with inline curation — the
    training-data ingest loop: each micro-batch of raw documents is
    normalized, quality-gated, deduped within the batch AND against
    the persisted cross-batch fingerprint index, then appended to the
    accepted corpus; the index grows by exactly the accepted batch.

    foreachBatch is the right tool (not a pure streaming plan) because
    the cross-batch anti-join reads state the stream itself writes —
    the index — and feeds two sinks; the checkpoint replays a batch
    that crashed mid-write, so BOTH sinks are written idempotently:
    each is an :func:`..io.append` that replaces the batch's own
    ``batch_id=N`` partition (plain appends would double the docs on
    replay — or, with the write order flipped, silently lose them). A
    replayed batch also excludes its own partition from the index it
    dedups against (first-attempt fingerprints would otherwise reject
    the whole batch). Both sinks therefore converge to the same state
    however many times a batch replays — exactly-once output from
    at-least-once execution — provided a replay of the same
    micro-batch is deterministic (an empty write replaces no
    partition, so it would leave the first attempt's rows). Per-batch
    cost is O(|batch| + index probe) however large the accepted corpus grows
    (operators/dedup.incremental_exact_dedup) — the same contract as
    the batch-mode q_dedup_incremental, now restart-safe and
    file-driven. Readers see ``batch_id`` as a discovered partition
    column on both tables."""
    if schema is None:
        schema = StructType.fromDDL("doc_id BIGINT, source STRING, text STRING")
    stream = spark.readStream.schema(schema).json(landing_dir)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        _curate_batch(
            batch, batch_id, accepted_path, index_path, min_quality,
            band_index_path=band_index_path, jaccard_threshold=jaccard_threshold,
            metrics_path=metrics_path,
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _curate_batch(
    batch: DataFrame,
    batch_id: int,
    accepted_path: str,
    index_path: str,
    min_quality: float,
    band_index_path: str | None = None,
    jaccard_threshold: float = 0.8,
    metrics_path: str | None = None,
) -> None:
    """One idempotent curation micro-batch (the foreachBatch body of
    :func:`stream_curate_documents`, module-level so replay semantics
    are directly testable). Re-invoking with the same (batch, batch_id)
    converges to the same sink state from ANY intermediate crash
    point, because every sink is an :func:`..io.append` of the batch's
    own partition and every index/corpus read excludes it (given a
    deterministic replay: an empty write replaces nothing).

    With ``band_index_path`` the batch is additionally NEAR-dedup'd:
    within-batch MinHash-LSH clustering keeps one doc per near-dup
    component, then survivors probe the persisted band-bucket index
    (dedup.incremental_minhash_pairs) — candidate generation never
    rescans archive text, and Jaccard verification re-shingles only
    the matched archive docs, so per-batch cost stays O(|batch| +
    probe) however big the accepted corpus grows. The band index is
    the third batch_id-partitioned sink, under the same contract.

    ``metrics_path`` adds the observability sink: one tiny per-batch
    accounting row (docs in, past quality, past dedup stages,
    accepted) under the same batch_id-keyed contract —
    replay rewrites, never double-counts. Alert on accepted/input
    collapsing (upstream crawl regression) or the dedup share
    spiking (a mirror flood) without scanning the corpus."""
    from ..io import _tree_parquet_count, append
    from ..operators import curation, dedup, text

    def sink(df: DataFrame, path: str) -> None:
        append(df.withColumn("batch_id", F.lit(batch_id)), path, ["batch_id"])

    # funnel counts, only when metrics are on: Observations read off the
    # batch's eager checkpoints (a frame one plan reads twice counts once)
    metered = metrics_path is not None
    n_in, n_quality, n_exact, n_accepted = (Observation() for _ in range(4))
    rows = F.count(F.lit(1)).alias("n")
    batch = batch.observe(n_in, rows) if metered else batch
    cleaned = batch.withColumn("text", curation.normalize_text(F.col("text")))
    scored = (
        text.quality_score(cleaned.select("doc_id", "text"))
        .filter(F.col("quality") >= min_quality)
        .select("doc_id")
    )
    kept = cleaned.join(scored, "doc_id", "left_semi")
    kept = kept.observe(n_quality, rows) if metered else kept
    if _tree_parquet_count(index_path):
        index = (
            batch.sparkSession.read.parquet(index_path)
            # replay: the first attempt may have written this batch's
            # fingerprints already — dedup against OTHER batches only,
            # or the replay would reject its own docs
            .filter(F.col("batch_id") != batch_id)
        )
    else:
        index = dedup.fingerprint_index(kept).limit(0)
    fresh = dedup.incremental_exact_dedup(kept, index)
    fresh = fresh.observe(n_exact, rows) if metered else fresh
    fresh = fresh.localCheckpoint(eager=True)  # one pass, N sinks
    if band_index_path is None:
        n_accepted = n_exact
    else:
        fresh = _near_dedup_batch(
            fresh, batch_id, accepted_path, band_index_path, jaccard_threshold
        )
        fresh = fresh.observe(n_accepted, rows) if metered else fresh
        fresh = fresh.localCheckpoint(eager=True)  # one pass, N sinks
    sink(fresh, accepted_path)
    sink(dedup.fingerprint_index(fresh), index_path)
    if band_index_path is not None:
        sink(dedup.minhash_band_index(fresh), band_index_path)
    if metered:
        row = batch.sparkSession.createDataFrame(
            [tuple(o.get["n"] for o in (n_in, n_quality, n_exact, n_accepted))],
            "n_in BIGINT, n_quality BIGINT, n_exact BIGINT, n_accepted BIGINT",
        )
        sink(row, metrics_path)


def _near_dedup_batch(
    fresh: DataFrame,
    batch_id: int,
    accepted_path: str,
    band_index_path: str,
    jaccard_threshold: float,
) -> DataFrame:
    """Near-dup stage of :func:`_curate_batch`: within-batch LSH
    clustering (keep the min-id doc per component), then drop batch
    docs whose Jaccard vs any ALREADY-ACCEPTED doc clears the
    threshold. Replay-safe: both the band index and the archive text
    exclude the batch's own partition. The caller checkpoints the
    result."""
    from ..io import _tree_parquet_count
    from ..operators import dedup

    in_batch = dedup.minhash_lsh_pairs(
        fresh, threshold=jaccard_threshold
    )
    survivors = dedup.dedup_clusters(fresh, in_batch)
    if not _tree_parquet_count(band_index_path):
        return survivors
    spark = fresh.sparkSession
    band_idx = spark.read.parquet(band_index_path).filter(
        F.col("batch_id") != batch_id
    )
    archive = spark.read.parquet(accepted_path).filter(
        F.col("batch_id") != batch_id
    )
    matched = dedup.incremental_minhash_pairs(
        survivors, band_idx, archive, threshold=jaccard_threshold
    ).select(F.col("id_a").alias("doc_id")).distinct()
    return survivors.join(matched, "doc_id", "left_anti")


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-user event count + value sum that SURVIVES across micro-batches
    and restarts — state lives in the checkpoint, Arrow-batched per
    group. The template for operators Spark's built-in aggregations
    can't express (custom accumulators, decay windows, per-key models).
    Emits one updated row per user per batch (update output mode).

    This is the package's one pandas-state operator, kept off the timed
    keys: plain running totals are a built-in streaming aggregation,
    whose state stays in the JVM (q_stream_stateful)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdf_iter, state):
        (user_id,) = key
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [cnt], "sum_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id BIGINT, n_events BIGINT, sum_value DOUBLE",
        stateStructType="cnt BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_maintain_mv(
    stream: DataFrame,
    partials_path: str,
    mv_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    value_col: str,
    distinct_col: str | None = None,
) -> StreamingQuery:
    """Streaming materialized-view maintenance: the SAME mergeable
    algebra as the batch q_mv_merge path (warehouse.aggregate_partials
    / merge_aggregate_partials), driven by a stream. With
    ``distinct_col``, per-batch HLL sketches ride alongside the numeric
    partials (warehouse.aggregate_distinct_partials) and the MV gains
    an ``approx_distinct`` column — COUNT(DISTINCT) maintained
    incrementally, which the plain count/sum algebra cannot do.

    Each micro-batch aggregates itself into per-key count/sum/min/max
    partials, appends them as its own ``_mv_batch=N`` partition of
    ``partials_path`` (:func:`..io.append`), then atomically
    republishes the merged MV from ALL durable partials. Per-refresh cost is O(|batch| + keys×batches)
    — the raw history is never rescanned, which is the entire point of
    the partial-merge algebra at 100 TB (the reference instead
    re-runs the full mart query per refresh, gold_ddl.sql:201-244).

    Crash contract (same idempotent-foreachBatch shape as
    stream_curate_documents): the partials write converges under
    replay because ``io.append`` replaces the batch's own partition
    (given a deterministic replay, as there); the MV is a pure function of the partials table and is published with the
    atomic version swap, so readers always see a complete MV — at worst
    one batch stale between the partials write and the republish, and
    the replay closes exactly that gap.

    ``stream`` is the change feed (a streaming DataFrame); the query
    runs with an AvailableNow trigger and is returned finished."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        _mv_batch(
            batch, batch_id, partials_path, mv_path, key_cols, value_col,
            distinct_col=distinct_col,
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _mv_batch(
    batch: DataFrame,
    batch_id: int,
    partials_path: str,
    mv_path: str,
    key_cols: list[str],
    value_col: str,
    distinct_col: str | None = None,
) -> None:
    """One idempotent MV-maintenance micro-batch (module-level so
    replay semantics are directly testable). The sketch partials (when
    ``distinct_col`` is set) are a second batch-partitioned sink under
    the same ``io.append`` contract — replay rewrites identical
    registers (HLL union is order-insensitive), never double-counts."""
    from ..io import append, publish_overwrite
    from ..operators import warehouse

    keyed = batch.withColumn("_mv_batch", F.lit(batch_id))
    partials = warehouse.aggregate_partials(keyed, key_cols, value_col, "_mv_batch")
    append(partials, partials_path, ["_mv_batch"])
    spark = batch.sparkSession
    if distinct_col is not None:
        sketch_root = f"{partials_path}_distinct"
        sketches = warehouse.aggregate_distinct_partials(
            keyed, key_cols, distinct_col, "_mv_batch"
        )
        append(sketches, sketch_root, ["_mv_batch"])
    mv = warehouse.merge_aggregate_partials(
        spark.read.parquet(partials_path), key_cols
    )
    if distinct_col is not None:
        mv = mv.join(
            warehouse.merge_distinct_partials(
                spark.read.parquet(sketch_root), key_cols
            ),
            key_cols,
        )
    publish_overwrite(mv, mv_path)


# ---------------------------------------------------------------------------
# Streaming CDC snapshot maintenance (compacted-changelog state)
# ---------------------------------------------------------------------------


def stream_apply_changelog(
    stream: DataFrame,
    state_path: str,
    snapshot_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str,
    op_col: str,
    tiebreak_cols: list[str],
    delete_op: str = "delete",
) -> StreamingQuery:
    """Streaming CDC snapshot maintenance — the stream form of
    warehouse.apply_changelog, same state design as a Kafka compacted
    topic: the durable STATE keeps one latest row per key INCLUDING
    delete tombstones (with their ts/tiebreak), and the published
    snapshot is state minus tombstones.

    Retaining tombstones is the correctness crux: latest-wins is
    associative over unions as long as every row keeps its (ts,
    tiebreak), so per batch
        state' = latest_wins(state ∪ batch)
    equals compacting the full history — and a STALE upsert that
    arrives after the delete it predates loses to the retained
    tombstone instead of resurrecting the key (pinned in
    tests/test_streaming.py). Dropping tombstones from state would
    make that replay-order-dependent.

    Per-batch cost is O(|state| + |batch|) with one shuffle on the
    key; at 100 TB the state is key-partitioned so the latest-wins
    window and the rewrite touch only partitions the batch's keys land
    in (the same pruning contract as the HWM bronze reads). Crash
    contract: latest_wins(state' ∪ B) = state' — replaying a batch
    already folded into state is a no-op — and both writes go through
    the atomic version swap, so readers never see a torn state or snapshot.

    ``stream`` is the changelog (a streaming DataFrame); the query runs
    with an AvailableNow trigger and is returned finished.
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        _cdc_batch(
            batch, state_path, snapshot_path, key_cols, ts_col, op_col,
            tiebreak_cols, delete_op,
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _cdc_batch(
    batch: DataFrame,
    state_path: str,
    snapshot_path: str,
    key_cols: list[str],
    ts_col: str,
    op_col: str,
    tiebreak_cols: list[str],
    delete_op: str = "delete",
) -> None:
    """One idempotent CDC micro-batch (module-level so replay semantics
    are directly testable). Keeps the op column in state via a
    latest-wins window (NOT apply_changelog, which strips tombstones —
    the published snapshot applies that filter instead)."""
    import os

    from pyspark.sql import Window

    from ..io import publish_overwrite

    spark = batch.sparkSession
    cols = list(batch.columns)
    if os.path.isdir(state_path):
        prior = spark.read.parquet(state_path).select(*cols)
        merged = prior.unionByName(batch.select(*cols))
    else:
        merged = batch.select(*cols)
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    state = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()  # cut lineage before the state overwrite reads it
    )
    publish_overwrite(state, state_path)
    publish_overwrite(
        state.filter(F.col(op_col) != delete_op).drop(op_col), snapshot_path
    )
