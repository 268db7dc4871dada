"""Warehouse lifecycle operators beyond the reference's upsert model:
SCD Type-2 history, incremental aggregate-merge (MV maintenance),
Z-order clustering keys, and bucket-pruned exact heavy hitters.

The reference keeps dimensions current-state-only (upsert with
conflict skip, silver_load.sql:240-262) and recomputes its marts from
scratch on every refresh (gold_ddl.sql:201-244). These operators are
the scale upgrades of both patterns: history instead of overwrite,
partial-aggregate merge instead of full recompute, and physical
clustering so multi-dimension predicates prune files instead of
scanning everything.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# SCD Type-2
# ---------------------------------------------------------------------------


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Build a Type-2 slowly-changing-dimension history from a change
    log: one row per (key, attribute-state) run with
    ``valid_from``/``valid_to``/``is_current``.

    Two windows over the same (key, ts, tiebreak) ordering:

    1. change detection — keep a row iff it is the key's first or any
       tracked attribute IS DISTINCT FROM its predecessor's (null-safe
       per-column, so NULL→value and value→NULL both open a new
       version);
    2. interval assembly — ``valid_to`` = lead(valid_from) over the
       survivors; the open row (``valid_to IS NULL``) is current.

    Both windows partition by the dimension key, so the whole build is
    one shuffle on the key and scales with the change log, never the
    history length of any one run. ``tiebreak_cols`` makes same-``ts``
    changes deterministic (required for oracle parity and idempotent
    re-runs).
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    lagged = changes.select(
        *key_cols,
        *attr_cols,
        ts_col,
        *(tiebreak_cols or []),
        F.row_number().over(w).alias("_rn"),
        *[F.lag(c).over(w).alias(f"_prev_{c}") for c in attr_cols],
    )
    any_change = reduce(
        lambda a, b: a | b,
        [~F.col(c).eqNullSafe(F.col(f"_prev_{c}")) for c in attr_cols],
    )
    survivors = lagged.filter((F.col("_rn") == 1) | any_change)
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return survivors.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


# ---------------------------------------------------------------------------
# Incremental aggregate merge (MV maintenance)
# ---------------------------------------------------------------------------

_PARTIAL_COLS = ("p_count", "p_sum", "p_min", "p_max")


def aggregate_partials(
    df: DataFrame, key_cols: list[str], value_col: str, batch_col: str
) -> DataFrame:
    """Per-(key, batch) partial aggregate state: the unit a streaming or
    batch-incremental MV persists per refresh. count/sum/min/max are
    the mergeable algebra; avg is derived at merge time (never stored —
    averages don't merge)."""
    v = F.col(value_col).cast("double")
    return df.groupBy(*key_cols, batch_col).agg(
        F.count(v).alias("p_count"),
        F.sum(v).alias("p_sum"),
        F.min(v).alias("p_min"),
        F.max(v).alias("p_max"),
    )


def merge_aggregate_partials(partials: DataFrame, key_cols: list[str]) -> DataFrame:
    """Fold per-batch partials into the published MV state. Equivalent
    to aggregating the union of all batches directly — the incremental
    refresh only touches the NEW batch's partials plus one merge over
    (keys × batches), never the raw history. Replaces the reference's
    full-recompute ``REFRESH MATERIALIZED VIEW`` at scale."""
    merged = partials.groupBy(*key_cols).agg(
        F.sum("p_count").alias("n_rows"),
        F.sum("p_sum").alias("total"),
        F.min("p_min").alias("vmin"),
        F.max("p_max").alias("vmax"),
    )
    return merged.select(
        *key_cols,
        "n_rows",
        F.round("total", 2).alias("total"),
        (F.round(F.col("total") / F.col("n_rows"), 6)).alias("mean"),
        "vmin",
        "vmax",
    )


# ---------------------------------------------------------------------------
# Z-order clustering
# ---------------------------------------------------------------------------


def zorder_key2(a: Column, b: Column, bits: int = 16) -> Column:
    """Two-column Morton code: masks each input to its low ``bits``
    bits and delegates to :func:`..io.zorder_value` — the SAME curve
    ``io.publish_zordered`` clusters writes along, so the q_zorder
    oracle adjudicates the production layout's key bit-for-bit (bit i
    of ``a`` lands at position 2i, bit i of ``b`` at 2i+1). Pure
    codegen shift/mask/or ops, no UDF, no shuffle."""
    from ..io import zorder_value

    mask = F.lit((1 << bits) - 1)
    return zorder_value(
        [a.cast("long").bitwiseAND(mask), b.cast("long").bitwiseAND(mask)], bits
    )


def zorder_key2_sql(a: str, b: str, bits: int = 16) -> str:
    """The identical Morton interleave as ANSI SQL text (DuckDB/oracle
    twin of :func:`zorder_key2`, i.e. of io.zorder_value's 2-column
    bit layout) — generated from the same loop shape so the two can't
    drift."""
    mask = (1 << bits) - 1
    am = f"(CAST({a} AS BIGINT) & {mask})"
    bm = f"(CAST({b} AS BIGINT) & {mask})"
    parts = []
    for i in range(bits):
        parts.append(f"((({am} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({bm} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(parts) + ")"


# ---------------------------------------------------------------------------
# Exact heavy hitters with bucket pruning
# ---------------------------------------------------------------------------


def heavy_hitters(
    df: DataFrame, key_col: str, min_count: int, n_buckets: int = 1 << 14
) -> DataFrame:
    """All keys occurring ≥ ``min_count`` times, with exact counts —
    without shuffling the long tail.

    Phase 1 counts hash BUCKETS (bounded cardinality ``n_buckets``, so
    the shuffle is map-side-combined into at most ``n_buckets`` rows
    per task regardless of key cardinality); any key with count ≥ s
    lives in a bucket with count ≥ s, so buckets below the threshold
    are provably hitter-free. Phase 2 broadcast-semi-joins the heavy
    buckets and computes exact per-key counts over the survivors only.
    The result is exact and deterministic — the pruning is a superset
    guarantee, not an approximation; false-positive buckets (tail keys
    that collide into a heavy bucket) cost extra phase-2 rows, never
    wrong output. Size ``n_buckets`` ≫ n/min_count to keep collisions
    rare."""
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    keyed = df.select(F.col(key_col).alias("key"), bucket.alias("_b"))
    heavy_buckets = (
        keyed.groupBy("_b").count().filter(F.col("count") >= min_count).select("_b")
    )
    return (
        keyed.join(F.broadcast(heavy_buckets), "_b", "left_semi")
        .groupBy("key")
        .count()
        .filter(F.col("count") >= min_count)
        .select(F.col("key"), F.col("count").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (latest-wins snapshot compaction)
# ---------------------------------------------------------------------------


def apply_changelog(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    op_col: str,
    tiebreak_cols: list[str] | None = None,
    delete_op: str = "delete",
) -> DataFrame:
    """Compact a CDC change log into the current snapshot: per key,
    the latest change wins; a latest-change delete tombstone removes
    the key from the snapshot entirely.

    This is the general form of the reference's current-state upsert
    (silver_load.sql:240-262 keeps first-write-wins and has no delete
    path): one ``row_number`` window on (key, ts DESC, tiebreak DESC),
    keep rank 1, drop tombstones. One shuffle on the key; cost scales
    with the changelog slice being compacted, never the snapshot
    width, so at 100 TB you compact the day's changelog partition and
    merge with yesterday's snapshot (itself expressible as a changelog
    of 'upsert' rows with an older ``ts``).

    ``tiebreak_cols`` orders same-``ts`` changes deterministically —
    required for idempotent re-runs and oracle parity, same contract
    as :func:`scd2_history`.
    """
    order = [F.col(ts_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return latest.filter(F.col(op_col) != delete_op).drop(op_col)


# ---------------------------------------------------------------------------
# Mergeable histogram sketch (quantiles in the MV algebra)
# ---------------------------------------------------------------------------


def histogram_bin(value: Column, lo: float, hi: float, n_bins: int) -> Column:
    """Fixed-width bin index in [0, n_bins): floor((v-lo)/(hi-lo)*n)
    clamped at both edges (so outliers land in the boundary bins and
    the sketch never drops rows). The arithmetic is plain IEEE-double
    ops in a fixed order, so a SQL oracle reproduces every bin
    assignment bit-exactly."""
    v = value.cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(n_bins))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")


def histogram_partials(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    batch_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-(key, batch, bin) counts — the mergeable quantile state for
    an incremental MV. count/sum/min/max merge exactly
    (:func:`aggregate_partials`) and HLL covers COUNT(DISTINCT)
    (:func:`aggregate_distinct_partials`); quantiles are the remaining
    non-mergeable aggregate, and a fixed-bin histogram makes them
    mergeable too: bin counts ADD across batches, so refresh touches
    only the new batch's partials. Resolution is (hi-lo)/n_bins —
    pick n_bins for the error you can tolerate; the state per (key,
    batch) is at most n_bins rows regardless of data volume. NULLs are
    excluded (count semantics, same as every aggregate here)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            *key_cols,
            batch_col,
            histogram_bin(F.col(value_col), lo, hi, n_bins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("p_n"))
    )


def merge_histogram_partials(
    partials: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Fold per-batch histogram partials into the per-key histogram
    (bin counts are plain sums — exact, order- and batching-invariant)."""
    return partials.groupBy(*key_cols, "bin").agg(F.sum("p_n").alias("n"))


def histogram_quantiles(
    hist: DataFrame, key_cols: list[str], qs: list[float], lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Quantile estimates from a merged histogram: for each q, the
    RIGHT EDGE of the first bin whose cumulative count reaches
    q·total (the conservative upper-bound estimator — deterministic,
    no interpolation, error bounded by one bin width). The q list is a
    bounded literal relation (broadcast), cumulative counts are one
    window over the ≤n_bins rows per key, so the whole estimate reads
    sketch state only — never the raw data."""
    w_cum = Window.partitionBy(*key_cols).orderBy("bin")
    w_tot = Window.partitionBy(*key_cols)
    cum = hist.select(
        *key_cols,
        "bin",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("total"),
    )
    spark = hist.sparkSession
    q_df = spark.createDataFrame([(float(q),) for q in qs], "q double")
    width = (hi - lo) / n_bins
    hit = cum.join(F.broadcast(q_df)).filter(
        F.col("cum") >= F.col("q") * F.col("total")
    )
    first_bin = hit.groupBy(*key_cols, "q").agg(F.min("bin").alias("qbin"))
    return first_bin.select(
        *key_cols,
        "q",
        "qbin",
        F.round(
            F.lit(float(lo)) + (F.col("qbin") + F.lit(1)) * F.lit(float(width)), 6
        ).alias("q_value"),
    )


# ---------------------------------------------------------------------------
# Distinct-count MV maintenance (HLL sketch partials)
# ---------------------------------------------------------------------------


def aggregate_distinct_partials(
    df: DataFrame,
    key_cols: list[str],
    distinct_col: str,
    batch_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-(key, batch) HyperLogLog sketch of ``distinct_col`` — the
    mergeable state for COUNT(DISTINCT) in an incremental MV.
    count/sum/min/max merge trivially (:func:`aggregate_partials`);
    distinct counts DON'T (uniques overlap across batches), which is
    why the reference's marts re-run countDistinct over full history
    every refresh (gold_ddl.sql:17,25). HLL registers are max-merged,
    so sketch union is ORDER- and PARTITION-INSENSITIVE and merging
    per-batch sketches yields the IDENTICAL registers as sketching the
    union — not merely a close estimate (pinned in tests). ``lg_k``
    trades 2^lg_k bytes/sketch for accuracy (~1.04/√2^lg_k rel err)."""
    return df.groupBy(*key_cols, batch_col).agg(
        F.hll_sketch_agg(F.col(distinct_col), F.lit(lg_k)).alias("p_sketch")
    )


def merge_distinct_partials(partials: DataFrame, key_cols: list[str]) -> DataFrame:
    """Fold per-batch sketches into the published approximate distinct
    count per key. The refresh reads keys×batches sketch rows, never
    the raw history — COUNT(DISTINCT) at 100 TB for 2^lg_k bytes per
    (key, batch)."""
    return partials.groupBy(*key_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("p_sketch")).alias("approx_distinct")
    )


# ---------------------------------------------------------------------------
# Global row index (distributed contiguous numbering)
# ---------------------------------------------------------------------------


def global_row_index(
    df: DataFrame, order_cols: list[str], n_parts: int | None = None
) -> DataFrame:
    """Contiguous 0..N-1 ``row_idx`` in total ``order_cols`` order —
    without a single-partition global sort (the trap behind
    ``row_number() OVER (ORDER BY …)`` at scale, and the primitive
    shard interleaving / resumable sharding / stable pagination need).

    Three bounded steps: range-repartition on the order key (each
    partition owns a disjoint key range) + in-partition sort, then
    ``monotonically_increasing_id`` arithmetic — its layout is
    ``(partition_id << 33) | local_counter`` with the counter
    following row order, so the LOCAL rank is ``mid & (2³³−1)`` with
    no window and, crucially, NO second full-data shuffle (a window
    partitioned by partition-id would re-Exchange rows that are
    already home — measured as the plan's only avoidable Exchange).
    Per-partition counts → cumulative offsets (one window over
    ≤ n_parts rows, broadcast back), row_idx = offset + local rank.
    The OUTPUT is independent of where the sampled range boundaries
    fall: ranges are disjoint and ordered, so offset + local rank
    always reproduces the unique total order — which is why an oracle
    can pin it with a plain global row_number. ``order_cols`` must be
    a total order (add a tiebreak column); ties that straddle a
    boundary would otherwise number nondeterministically.
    """
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    mask = (1 << 33) - 1
    # localCheckpoint is REQUIRED, not an optimization: the offsets
    # branch and the main branch both consume this frame, and
    # repartitionByRange's sampled boundaries are not stable across
    # separate executions — without pinning one materialization the two
    # branches can see DIFFERENT partitionings and the offsets no
    # longer describe the data they're added to (measured: per-run
    # boundary drift of several hundred rows at sf0.01). With the
    # checkpoint, the output is also run-deterministic, because
    # offset + local rank reproduces the unique total order for ANY
    # disjoint ordered ranges.
    d = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", 33))
        .localCheckpoint()
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("_pid", "_off")
    )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "row_idx",
            (F.col("_off") + F.col("_mid").bitwiseAND(F.lit(mask))).cast("long"),
        )
        .drop("_pid", "_off", "_mid")
    )


# ---------------------------------------------------------------------------
# Semi-additive aggregation (balance-snapshot semantics)
# ---------------------------------------------------------------------------


def semi_additive_last(
    df: DataFrame,
    key_cols: list[str],
    period_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per (key, period) LAST observed value — the semi-additive
    measure pattern (balances, inventory levels, gauge readings): such
    measures sum across KEYS (accounts) but must take the latest
    observation across TIME, where a naive SUM double-counts every
    intermediate reading. One row_number window per (key, period),
    deterministic under ``tiebreak_cols``; the caller then aggregates
    across keys freely. Same one-shuffle-on-the-key shape as
    :func:`scd2_history`/:func:`apply_changelog`."""
    order = [F.col(ts_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key_cols, period_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def zorder_key(cols: list[Column], bits: int = 10) -> Column:
    """N-column Morton code (generalizes :func:`zorder_key2`): masks
    each input to its low ``bits`` bits and delegates to
    ``io.zorder_value`` — bit b of column i lands at position
    b·n + i. ``bits·n`` must fit 63 (io.zorder_value raises)."""
    from ..io import zorder_value

    mask = F.lit((1 << bits) - 1)
    return zorder_value([c.cast("long").bitwiseAND(mask) for c in cols], bits)


def zorder_key_sql(names: list[str], bits: int = 10) -> str:
    """The identical N-column interleave as ANSI SQL text, generated
    from the same loop shape as io.zorder_value so the two can't
    drift (the N-ary twin of :func:`zorder_key2_sql`)."""
    mask = (1 << bits) - 1
    n = len(names)
    parts = []
    for b in range(bits):
        for i, nm in enumerate(names):
            parts.append(
                f"((((CAST({nm} AS BIGINT) & {mask}) >> {b}) & 1) << {b * n + i})"
            )
    return "(" + " | ".join(parts) + ")"


def table_diff(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
    val_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: classify every key as added / removed /
    changed / unchanged between two table versions, with the count of
    differing value columns — the audit primitive behind "what did this
    batch actually do", and the verification step after any migration
    or CDC replay (apply_changelog's output vs an independent rebuild).

    One full-outer join on the key (both sides key-partitioned — the
    single unavoidable shuffle); per-column comparison is null-safe
    equality (<=>), evaluated column-by-column in codegen rather than
    via a row hash, so the diff is exact with no hash-collision caveat
    and no engine-parity dependence on a hash function. At 100 TB both
    snapshots usually share partitioning from their writer, which AQE
    exploits; a bucketed layout makes this diff shuffle-free.
    """
    b = before.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"_b_{c}") for c in val_cols],
        F.lit(1).alias("_in_b"),
    )
    a = after.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"_a_{c}") for c in val_cols],
        F.lit(1).alias("_in_a"),
    )
    joined = b.join(a, key_cols, "full_outer")
    n_diff = sum(
        (~F.col(f"_b_{c}").eqNullSafe(F.col(f"_a_{c}"))).cast("int")
        for c in val_cols
    )
    status = (
        F.when(F.col("_in_b").isNull(), F.lit("added"))
        .when(F.col("_in_a").isNull(), F.lit("removed"))
        .when(n_diff > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *key_cols,
        status.alias("diff_status"),
        F.when(
            F.col("_in_b").isNotNull() & F.col("_in_a").isNotNull(), n_diff
        ).otherwise(F.lit(None).cast("int")).alias("n_cols_changed"),
    )


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    append-heavy lake table needs: streaming/CDC appends accumulate
    KB-sized files, and at 100 TB the resulting per-file open/footer/
    seek overhead (plus task-per-file scheduling) dominates scan time
    long before data volume does.

    Shape: footer-only size census (sources/parquet_meta — no data
    read to PLAN the compaction), then one distributed rewrite sized
    so output files land near ``target_file_bytes``
    (`n_out = ceil(total_bytes / target)`), published through the
    atomic version swap (io.publish_overwrite) so readers never
    see a half-compacted table. With ``sort_cols`` the rewrite
    clusters via repartitionByRange + sortWithinPartitions — restoring
    min/max skip-stat locality (the same reasoning as q_zorder) in the
    same pass. With ``partition_by`` the rewrite shuffles on the
    partition columns so each hive partition directory collapses to
    one file per shuffle partition that owns it.

    Returns a stats dict (files/bytes before and after) — control
    data, not a DataFrame: compaction is a lifecycle action like
    io.publish_overwrite, and its caller is an orchestrator, not a
    query plan.
    """
    import math

    from ..io import publish_overwrite
    from ..sources.parquet_meta import harvest_footers, list_parquet_files

    before_paths = list_parquet_files(path)
    census = (
        harvest_footers(spark, before_paths)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_byte_size").alias("b"))
        .first()
    )
    total_bytes = int(census.b or 0)
    df = spark.read.parquet(path)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if partition_by:
        df = df.repartition(*[F.col(c) for c in partition_by])
    elif sort_cols:
        df = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(n_out)
    publish_overwrite(df, path, partition_by=partition_by)
    after_paths = list_parquet_files(path)
    return {
        "n_files_before": len(before_paths),
        "n_files_after": len(after_paths),
        "total_bytes_before": total_bytes,
        "target_file_bytes": target_file_bytes,
    }



def compaction_plan(
    census: DataFrame,
    group_col: str = "part",
    file_col: str = "file_id",
    bytes_col: str = "n_bytes",
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Deterministic small-file compaction PLAN — the relational,
    oracle-checkable half of :func:`compact_small_files`: given a
    file-size census (one row per file), assign every file to an
    output bin so each bin lands near ``target_bytes``. The
    assignment is next-fit in file order — ``bin = cumulative bytes
    BEFORE this file // target`` — which is what a maintenance job
    wants: stable under re-runs (no size-sorting reshuffle of file
    identities), append-only friendly (new files extend the last bin
    or open a new one, earlier bins never change), and within 2× of
    optimal fill for any input (next-fit's classic bound).

    Scale: one window per table-partition group (PARTITIONED cumsum
    in file order — never global) over the file CENSUS, which is
    metadata (one row per file, the same input harvest_footers
    produces), then one aggregate. Exact integer byte accounting;
    the only float is the final fill ratio. Returns one row per
    (group, bin): (part, bin, n_files, total_bytes, fill_ratio)."""
    w = Window.partitionBy(group_col).orderBy(file_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_before = F.coalesce(F.sum(bytes_col).over(w), F.lit(0)).cast("long")
    assigned = census.withColumn("_cum", cum_before).select(
        F.col(group_col).alias("part"),
        F.col(bytes_col).cast("long").alias("b"),
        F.expr(f"_cum div {int(target_bytes)}").cast("long").alias("bin"),
    )
    return (
        assigned.groupBy("part", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("b").cast("long").alias("total_bytes"),
        )
        .select(
            "part",
            "bin",
            "n_files",
            "total_bytes",
            F.round(
                F.col("total_bytes").cast("double") / F.lit(float(target_bytes)),
                9,
            ).alias("fill_ratio"),
        )
    )
