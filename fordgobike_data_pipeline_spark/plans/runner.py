"""Pipeline runner — the DAG chain as one driver program.

Replaces the reference's five Airflow DAGs (ddl → bronze → silver →
gold → report, SURVEY §2.10 D6): each stage is a function over
DataFrames. The reference's single Postgres transaction
(silver_load.sql:285-308) becomes per-table commits a retry or re-fired
batch repeats to the same state: batch-keyed tables (bronze, the silver
fact, run metrics) ``append`` over their own batch partition, whole
tables ``publish_overwrite`` by an atomic version swap. The run report
(S10: Airflow REST scrape → email) becomes a metrics table.

Incrementality: bronze and the silver fact are partitioned by
``_batch_id``; the fact's partitions are silver's progress marker (rows
and marker commit in one rename), and silver scans only the bronze
batches the fact lacks — replacing the UPDATE-every-row flag
(silver_load.sql:273-275), which would rewrite the fact each run. Gold
recomputes its four marts in full, as the reference's ``REFRESH
MATERIALIZED VIEW`` does (gold_ddl.sql:201-244); incremental mart
maintenance is ``operators.warehouse``'s mergeable partials
(``aggregate_partials``/``merge_aggregate_partials``).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import append, publish_overwrite
from . import bronze as bronze_mod
from . import gold as gold_mod
from . import silver as silver_mod


def with_retries(fn, retries: int = 2, delay_sec: float = 1.0):
    """Stage-level retry (replaces the Airflow retry policy, SURVEY
    §2.10 D5: retries=2 across all DAGs). Spark task-level retries are
    built in; this guards whole-stage failures (e.g. a flaky source)."""
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — mirror Airflow catch-all
            last = exc
            if attempt < retries:
                time.sleep(delay_sec)
    raise last


def format_run_report(spark: SparkSession, wh: "Warehouse") -> str:
    """Fixed-width run report from the metrics table (replaces the
    Airflow-REST-scrape → email report, sender.py:39-76)."""
    rows = (
        wh.read(spark, "_state", "run_metrics")
        .orderBy("batch_id", "stage")
        .collect()
    )
    lines = [f"{'batch':>6} | {'stage':<12} | {'wall_sec':>8}", "-" * 32]
    for r in rows:
        lines.append(f"{r.batch_id:>6} | {r.stage:<12} | {r.wall_sec:>8.3f}")
    return "\n".join(lines)


class Warehouse:
    """Path layout for the three medallion namespaces."""

    def __init__(self, root: str):
        self.root = root

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.root, layer, table)

    def exists(self, layer: str, table: str) -> bool:
        return os.path.exists(self.path(layer, table))

    def read(self, spark: SparkSession, layer: str, table: str) -> DataFrame:
        return spark.read.parquet(self.path(layer, table))


def ingest_bronze(
    spark: SparkSession, wh: Warehouse, trips_raw: DataFrame, batch_id: int
) -> None:
    """Append one batch of raw trips (entry point 1, SURVEY §3)."""
    df = bronze_mod.with_ingest_metadata(trips_raw, batch_id)
    append(df, wh.path("bronze", "bike_trips"), partition_by=["_batch_id"])


def load_locations(spark: SparkSession, wh: Warehouse, locations_geo: DataFrame) -> None:
    """Publish the geocoded lookup (bronze.locations), conflict-skip on
    (latitude, longitude) against any existing rows."""
    path = wh.path("bronze", "locations")
    existing = wh.read(spark, "bronze", "locations") if wh.exists("bronze", "locations") else None
    merged = silver_mod.upsert_skip_conflict(existing, locations_geo, ["latitude", "longitude"])
    publish_overwrite(merged, path)


def _batch_ids(path: str) -> set[int]:
    """Batch ids of a ``_batch_id``-partitioned table, from its partition
    directory names (a driver-side listing, no Spark job)."""
    if not os.path.isdir(path):
        return set()
    return {int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("_batch_id=")}


def build_silver(spark: SparkSession, wh: Warehouse) -> dict[str, int]:
    """Entry point 2 (SURVEY §3): the five-step silver ETL over the bronze
    batches without a fact partition. That partition's write is the
    commit: before it the batch stays pending (the dims' conflict-skip
    merge re-runs as a no-op), after it there is nothing to redo."""
    pending = sorted(
        _batch_ids(wh.path("bronze", "bike_trips"))
        - _batch_ids(wh.path("silver", "fact_trips"))
    )
    if not pending:
        return {"consumed_batches": 0}
    new_trips = wh.read(spark, "bronze", "bike_trips").filter(F.col("_batch_id").isin(pending))
    geo = wh.read(spark, "bronze", "locations")

    def merge(table: str, new: DataFrame, keys: list[str]) -> DataFrame:
        existing = wh.read(spark, "silver", table) if wh.exists("silver", table) else None
        return silver_mod.upsert_skip_conflict(existing, new, keys)

    dim_locations = merge(
        "dim_locations", silver_mod.build_dim_locations(new_trips, geo), ["location_id"]
    )
    publish_overwrite(dim_locations, wh.path("silver", "dim_locations"))

    dim_user_types = merge(
        "dim_user_types", silver_mod.build_dim_user_types(new_trips), ["user_type_id"]
    )
    publish_overwrite(dim_user_types, wh.path("silver", "dim_user_types"))

    dim_date = merge("dim_date", silver_mod.build_dim_date(new_trips), ["date_id"])
    publish_overwrite(dim_date, wh.path("silver", "dim_date"))

    dim_loc_published = wh.read(spark, "silver", "dim_locations")
    new_facts = silver_mod.build_fact_trips(new_trips, dim_loc_published)
    append(new_facts, wh.path("silver", "fact_trips"), partition_by=["_batch_id"])
    return {"consumed_batches": len(pending)}


def build_gold(spark: SparkSession, wh: Warehouse) -> None:
    """Entry point 3 (SURVEY §3): recompute and publish the four marts
    (independent jobs). The renaming views are catalog views over silver
    (``ddl.register_warehouse_tables``), so gold writes nothing else."""
    fact = wh.read(spark, "silver", "fact_trips")
    dim_locations = wh.read(spark, "silver", "dim_locations")
    dim_user_types = wh.read(spark, "silver", "dim_user_types")
    dim_date = wh.read(spark, "silver", "dim_date")

    marts = {
        "dm_daily_trip_summary": gold_mod.dm_daily_trip_summary(fact, dim_date),
        "dm_station_popularity": gold_mod.dm_station_popularity(fact, dim_locations),
        "dm_popular_routes": gold_mod.dm_popular_routes(fact, dim_locations),
        "dm_user_behavior_summary": gold_mod.dm_user_behavior_summary(
            fact, dim_user_types, dim_date
        ),
    }
    # the marts are independent jobs — submit concurrently so the Spark
    # scheduler interleaves their stages (the reference fans out its four
    # MV refreshes the same way, dags/gold_dag.py:70)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {
            name: pool.submit(publish_overwrite, df, wh.path("gold", name))
            for name, df in marts.items()
        }
        for name, fut in futures.items():
            fut.result()  # surface the first failure


def run_pipeline(
    spark: SparkSession,
    wh: Warehouse,
    trips_raw: DataFrame,
    locations_geo: DataFrame,
    batch_id: int,
) -> dict:
    """bronze → silver → gold for one batch, with a metrics row appended
    per stage (replaces the email run-report, SURVEY §2.1 S9/S10)."""
    metrics = []
    for stage, fn in (
        ("bronze", lambda: ingest_bronze(spark, wh, trips_raw, batch_id)),
        ("locations", lambda: load_locations(spark, wh, locations_geo)),
        ("silver", lambda: build_silver(spark, wh)),
        ("gold", lambda: build_gold(spark, wh)),
    ):
        t0 = time.perf_counter()
        with_retries(fn, retries=2, delay_sec=1.0)
        metrics.append((batch_id, stage, round(time.perf_counter() - t0, 3)))
    mdf = spark.createDataFrame(metrics, "batch_id INT, stage STRING, wall_sec DOUBLE")
    append(mdf, wh.path("_state", "run_metrics"), partition_by=["batch_id"])
    return {"batch_id": batch_id, "stages": [m[1] for m in metrics]}


def next_daily_fire_time(now_epoch: float) -> float:
    """Epoch seconds of the next UTC midnight strictly after
    ``now_epoch`` — the reference's ``schedule="@daily"`` cadence
    (Bronze_dag.py:32): Airflow fires a daily DAG at 00:00 for the
    data interval that just closed."""
    day = 86400.0
    return (now_epoch // day + 1) * day


def run_on_schedule(
    run_fn,
    max_runs: int,
    clock=None,
    sleep_fn=None,
    interval_sec: float | None = None,
) -> list:
    """Recurrence hook owning WHEN the pipeline runs — the stand-in
    for the reference's scheduler layer (``@daily`` cron on the bronze
    DAG, Bronze_dag.py:32, with silver/gold/report chained via
    TriggerDagRunOperator rather than their own schedules,
    Bronze_dag.py:48). Everything else in this module owns WHAT runs;
    this loop owns the cadence:

      * daily anchor by default (next UTC midnight, catchup=False —
        a missed window is skipped, never backfilled, matching the
        reference's ``catchup=False``), or a fixed ``interval_sec``;
      * each firing calls ``run_fn(batch_id)`` — normally a closure
        over :func:`run_pipeline`, which already retries per stage
        and chains bronze → silver → gold → report in-driver;
      * a failed firing is recorded and the loop keeps its cadence
        (the reference alerts per-task and lets the next DagRun fire).

    ``clock``/``sleep_fn`` are injectable (tests drive a fake clock;
    production defaults to time.time/time.sleep). ``max_runs`` bounds
    the loop — a long-running deployment passes a large count or
    wraps this in its own supervisor; tests pass 2-3."""
    clock = clock or time.time
    sleep_fn = sleep_fn or time.sleep
    outcomes = []
    for batch_id in range(max_runs):
        now = clock()
        fire_at = (
            now + interval_sec if interval_sec is not None
            else next_daily_fire_time(now)
        )
        wait = fire_at - now
        if wait > 0:
            sleep_fn(wait)
        try:
            outcomes.append(("ok", batch_id, run_fn(batch_id)))
        except Exception as exc:  # noqa: BLE001 — keep cadence, record failure
            outcomes.append(("err", batch_id, str(exc)))
    return outcomes
