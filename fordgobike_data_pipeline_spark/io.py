"""Readers / writers / table commits.

Replaces the reference's storage lifecycle (SURVEY.md §2.10):
* Postgres `COPY FROM STDIN` bulk load  → replay-safe batch append.
* `REFRESH MATERIALIZED VIEW`           → atomic version-swap publish
  (`gold_ddl.sql:201-244`).
* transactional multi-step ETL          → per-table commits that a retry
  repeats to the same state (`silver_load.sql:285-308`).

Scale notes: all writes are plain DataFrame writes (Tungsten/Parquet).
A table changes only through :func:`append` (replaces its batch
partitions) or :func:`publish_overwrite` (one symlink swap), so readers
never see partial output.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TESTDATA_TABLES,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Read the driver testdata parquet tables.

    Parquet scans get predicate pushdown + column pruning from Catalyst
    for free; callers select/filter declaratively and the scan narrows.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        if name == "events":
            # Older testdata generations wrote events.ts as parquet
            # TIMESTAMP(NANOS), which Spark cannot read natively; with
            # nanosAsLong it surfaces as a long we convert ourselves.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = _normalize_event_ts(df)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Pin ``events.ts`` to TimestampType whatever the parquet wrote.

    The driver's testdata generator has shipped ``ts`` as both
    TIMESTAMP(NANOS) (read as long under nanosAsLong — convert with an
    exact integer div, floor matching DuckDB's ns→µs truncation) and
    TIMESTAMP(MICROS) (read natively as NTZ or local-tz timestamp).
    Normalizing here keeps every downstream query and oracle type-stable
    across regenerations; the NTZ→timestamp cast is value-preserving
    because the session timezone is pinned to UTC (session.py).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Table commits (replace MV refresh + multi-table transaction, D3/D4/S11)
# ---------------------------------------------------------------------------


def append(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Replay-safe batch write (stand-in for COPY, load_bronze.py:81-95):
    a dynamic partition overwrite replaces exactly the partitions in
    ``df``, so writing batch N again replaces batch N. An empty ``df``
    has no partitions and so replaces none: a stale batch N stays, and
    a table that only ever took empty batches has no file to read a
    schema from. Unpartitioned, it would replace the whole table, so
    that is refused. Into a table that :func:`publish_overwrite`
    versions (the IVF index's ``lists``), the write lands in the current
    version directory, which a later publish replaces or prunes."""
    if not partition_by:
        raise ValueError(f"append to {path} needs the batch partition columns")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def publish_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None, keep: int = 3
) -> int:
    """Publish ``df`` as a new version of the table at ``path`` and return
    its number. ``path`` is a symlink to an immutable version directory
    ``.<name>.v=N`` beside it; the version is written in full, then
    ``path`` is repointed by one ``os.replace``, so readers see the old
    table or the new one, never a gap. A failed write removes its version;
    one killed mid-write lacks Spark's ``_SUCCESS`` and is never listed.
    Readers of a resolved version survive later publishes (time travel,
    :func:`rollback`); committed versions beyond the newest ``keep`` are
    pruned, the current one always kept."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return _commit(writer, path, keep)


def _commit(writer, path: str, keep: int = 3) -> int:
    """Write a new version of ``path`` with ``writer``, repoint, prune."""
    version = max(_version_dirs(path), default=0) + 1
    vdir = _version_dir(path, version)
    try:
        writer.parquet(vdir)
        _repoint(path, version)
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    retained = set(list_versions(path)[-keep:]) | {_current(path)}
    for old, d in _version_dirs(path).items():
        if old not in retained:
            shutil.rmtree(d, ignore_errors=True)
    return version


def _version_dir(path: str, version: int) -> str:
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.v={version}")


def _version_dirs(path: str) -> dict[int, str]:
    """Every version directory of ``path``, committed or not."""
    head, name = os.path.split(path)
    head, prefix = head or ".", f".{name}.v="
    names = os.listdir(head) if os.path.isdir(head) else []
    return {int(d[len(prefix):]): os.path.join(head, d)
            for d in names if d.startswith(prefix) and d[len(prefix):].isdigit()}


def _current(path: str) -> int | None:
    """The version ``path`` points at (None for a missing or in-place table)."""
    if not os.path.islink(path):
        return None
    return int(os.readlink(path).rsplit("=", 1)[1])


def _repoint(path: str, version: int) -> None:
    """Point ``path`` at ``version``: the swap, one atomic ``os.replace``."""
    target = _version_dir(path, version)
    link = f"{target}.link"
    if os.path.lexists(link):
        os.remove(link)
    os.symlink(os.path.basename(target), link)
    if os.path.isdir(path) and not os.path.islink(path):
        # a table written in place (e.g. by append) cannot be replaced by
        # a symlink: move it aside as version 0 (pruned like any old
        # version), leaving only the gap between two renames
        os.rename(path, _version_dir(path, 0))
    os.replace(link, path)


def list_versions(path: str) -> list[int]:
    """Committed snapshot versions of ``path`` (ascending)."""
    dirs = _version_dirs(path)
    return sorted(v for v, d in dirs.items() if os.path.exists(os.path.join(d, "_SUCCESS")))


def read_versioned(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    v = version if version is not None else _current(path)
    if v not in list_versions(path):
        raise FileNotFoundError(
            f"version {v} of {path} not found (pruned or never written); "
            f"available: {list_versions(path)}"
        )
    return spark.read.parquet(_version_dir(path, v))


def rollback(path: str, version: int) -> None:
    """Repoint ``path`` at an older retained snapshot — the undo for a bad
    publish. The bad version stays on disk (forensics) until pruning
    retires it."""
    if version not in list_versions(path):
        raise FileNotFoundError(
            f"cannot roll back {path} to pruned/unknown version {version}; "
            f"available: {list_versions(path)}"
        )
    _repoint(path, version)


def read_evolved(
    spark: SparkSession,
    path: str,
    target_schema: "T.StructType | None" = None,
) -> DataFrame:
    """Read a table whose batches were written under EVOLVING schemas
    (the reference handles this with ALTER TABLE DDL between loads;
    append-only parquet directories just accumulate files with
    different footers, and a plain read resolves the schema from ONE
    footer — silently dropping columns newer batches added).

    ``mergeSchema`` unions every footer: columns absent in older files
    surface as NULL there. With ``target_schema`` the result is then
    ALIGNED to the declared contract — missing columns materialize as
    typed NULLs, extra columns drop, every column casts to its declared
    type — so downstream plans bind against the contract, not against
    whichever files happen to exist yet."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T  # noqa: F401  (doc type)

    df = spark.read.option("mergeSchema", "true").parquet(path)
    if target_schema is None:
        return df
    cols = []
    for field in target_schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def publish_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Publish as a bucketed (and optionally sort-ordered) catalog table.

    Bucketing is the physical-design lever the reference approximates
    with B-tree FK indexes (silver_ddl.sql:70-75): two tables bucketed
    on the same key with the same bucket count join WITHOUT a shuffle —
    the exchange both sides would pay disappears from the plan. At
    100 TB that is the difference between re-shuffling the fact table
    per join and never shuffling it at all; repeated aggregations on the
    bucket key skip their exchange too.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog forgets tables across sessions but leaves
    # their warehouse directories behind — clear a stale location
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.replace(".", ".db/"))
    if os.path.exists(loc):
        shutil.rmtree(loc)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def zorder_value(cols: list, bits: int = 12):
    """Z-order (Morton) curve value from already-normalized integer
    columns in [0, 2^bits): interleaves the bits of every column into
    one long. Pure codegen bit arithmetic — bits·|cols| shift/or ops,
    no UDF.

    ``bits * len(cols)`` must fit in the 63 value bits of a long: the
    JVM wraps shift amounts mod 64, so an oversized product would
    silently interleave bits into wrong positions (corrupting the curve
    with no error). Raise instead; callers with many columns lower
    ``bits`` (publish_zordered auto-reduces)."""
    from pyspark.sql import functions as F

    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"bits * len(cols) = {bits * n} exceeds 63: the interleaved value "
            f"must fit a long (JVM shifts wrap mod 64, which would silently "
            f"corrupt the curve). Use bits <= {63 // n} for {n} columns."
        )
    z = F.lit(0).cast("long")
    for b in range(bits):  # bit b of each column → output bit b*n + i
        for i, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z


def publish_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    n_files: int | None = None,
) -> None:
    """Atomic publish clustered along a Z-order curve over ``cols`` —
    multi-dimensional data skipping for the lakehouse layout.

    A sort on one column gives perfect parquet min/max pruning on that
    column and none on any other; the reference's answer is one B-tree
    per query column (silver_ddl.sql:70-75), which Spark-on-parquet has
    no analogue for. Interleaving the bits of all ``cols`` and range-
    partitioning + sorting on the interleaved value gives every file a
    tight bounding box in EVERY dimension, so scans filtered on any of
    the columns skip most files/row-groups footer-only — at 100 TB the
    difference between reading a terabyte and reading a few files.

    Normalization: each column is min/max-scaled to [0, 2^bits) using a
    single bounded agg (2·|cols| scalars broadcast into the plan —
    control data, no collect of row data). Timestamps are ranked via
    their (fractional-second) epoch cast, dates via ``unix_date`` (a
    DateType has no direct double cast in Spark — it would fail at
    analysis time). With many cluster columns ``bits`` auto-reduces to
    63 // len(cols) so the interleaved value still fits a long (fewer
    bits per dimension = coarser boxes, still far better than no
    clustering). The curve column is dropped before the write; the
    write itself is the atomic version swap of :func:`publish_overwrite`."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    bits = min(bits, 63 // max(1, len(cols)))

    def _numeric(c: str):
        dt = df.schema[c].dataType
        if isinstance(dt, T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        return F.col(c).cast("double")

    lo_hi = df.agg(
        *[F.min(_numeric(c)).alias(f"_lo_{c}") for c in cols],
        *[F.max(_numeric(c)).alias(f"_hi_{c}") for c in cols],
    ).first()
    scale = (1 << bits) - 1
    norm_cols = []
    for c in cols:
        lo, hi = lo_hi[f"_lo_{c}"], lo_hi[f"_hi_{c}"]
        span = (hi - lo) or 1.0
        norm_cols.append(
            F.least(
                F.lit(scale),
                ((_numeric(c) - F.lit(lo)) / F.lit(span) * scale).cast("long"),
            )
        )
    zed = df.withColumn("_z", zorder_value(norm_cols, bits))
    if n_files is None:
        n_files = max(1, df.sparkSession.sparkContext.defaultParallelism)
    clustered = (
        zed.repartitionByRange(n_files, "_z").sortWithinPartitions("_z").drop("_z")
    )
    publish_overwrite(clustered, path)


def write_training_shards(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    rows_per_shard: int = 100_000,
    n_shards: int | None = None,
) -> int:
    """Export a dataset as deterministic, ordered training shards —
    the final-mile layout step: data loaders stream shard files
    sequentially, so rows must land in a stable global order with
    bounded, uniform file sizes. Returns the shard count.

    repartitionByRange on ``order_cols`` gives contiguous, sorted,
    size-balanced ranges (range partitioning samples the key
    distribution, so skewed keys still split evenly);
    sortWithinPartitions fixes intra-shard order;
    ``maxRecordsPerFile`` caps any residual oversized range. The write
    is the atomic version swap of :func:`publish_overwrite`, so a
    half-written shard set is never visible."""
    if rows_per_shard <= 0:
        raise ValueError(f"rows_per_shard must be positive, got {rows_per_shard}")
    if n_shards is None:
        n_shards = max(1, int(df.count() // rows_per_shard) + 1)
    clustered = (
        df.repartitionByRange(n_shards, *order_cols)
        .sortWithinPartitions(*order_cols)
    )
    writer = clustered.write.mode("overwrite").option("maxRecordsPerFile", rows_per_shard)
    _commit(writer, path)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    zorder_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files,
    atomically. Returns the new file count.

    Streaming/incremental appends accumulate small files (every
    micro-batch writes at least one per partition); at 100 TB the
    resulting footer-read storm dominates scan setup and kills
    data-skipping locality. Compaction = size-aware repartition +
    atomic version swap, so readers never see a half-compacted
    table. Sizing comes from a recursive filesystem walk (driver-side
    control metadata, no data read) so Hive-partitioned layouts size
    correctly. A ``key=value``-partitioned table keeps its layout: the
    rewrite repartitions ON the partition keys (each key lands in one
    task → one file per partition directory) and republishes with the
    same ``partition_by`` — the directory-level pruning downstream
    readers depend on (e.g. the IVF ``lists`` table) survives
    compaction. With ``zorder_cols`` the rewrite also re-clusters along
    the Z-order curve (:func:`publish_zordered`) — compaction is the
    natural moment to restore clustering that appends have degraded;
    Z-ordering a partitioned table is refused (the two layouts
    prescribe conflicting file placement)."""
    total = _tree_parquet_bytes(path)
    n_files = max(1, round(total / target_file_bytes))
    part_keys = _partition_keys(path)
    df = spark.read.parquet(path)
    if zorder_cols:
        if part_keys:
            raise ValueError(
                f"compact_table: {path} is Hive-partitioned on {part_keys}; "
                "Z-order clustering and directory partitioning prescribe "
                "conflicting layouts — compact without zorder_cols, or "
                "publish_zordered to an unpartitioned copy."
            )
        publish_zordered(df, path, zorder_cols, n_files=n_files)
    elif part_keys:
        publish_overwrite(
            df.repartition(n_files, *part_keys), path, partition_by=part_keys
        )
    else:
        publish_overwrite(df.repartition(n_files), path)
    return _tree_parquet_count(path)


def _tree_parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _tree_parquet_count(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _partition_keys(path: str) -> list[str]:
    """Hive partition columns of a parquet directory, from its top-level
    ``key=value`` subdirectory names (nested keys walk one spine)."""
    keys: list[str] = []
    cur = path
    while True:
        subs = [
            d
            for d in os.listdir(cur)
            if "=" in d and os.path.isdir(os.path.join(cur, d))
        ]
        if not subs:
            return keys
        keys.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
