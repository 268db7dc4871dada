"""End-to-end medallion pipeline test (SURVEY §5.3): bronze → silver →
gold on the FordGoBike-shaped fixture, mirroring the reference
notebook's manual audits plus incremental/idempotency properties."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.plans import runner, silver
from fordgobike_data_pipeline_spark.plans.runner import Warehouse

from . import fixtures


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse"))
    w = Warehouse(root)
    runner.run_pipeline(
        spark, w, fixtures.trips_df(spark), fixtures.locations_df(spark), batch_id=1
    )
    return w


def test_dim_locations(spark, wh):
    dim = wh.read(spark, "silver", "dim_locations").collect()
    by_coord = {(round(r.latitude, 4), round(r.longitude, 4)): r for r in dim}
    # non-CA geocode excluded (P2)
    assert (39.5296, -119.8138) not in by_coord
    # one row per CA coordinate
    assert len(dim) == 4
    # city default applied where geocode city was NULL (F4)
    emery = by_coord[(37.8312, -122.2852)]
    assert emery.city == "Emeryville"
    # 'NULL' string sentinel became real NULL (F5): the (0,0) start rows
    # carry no station name, but every CA coord here has a proper name
    assert all(r.station_name is None or r.station_name != "NULL" for r in dim)
    # surrogate keys unique + deterministic
    assert len({r.location_id for r in dim}) == 4


def test_dim_date(spark, wh):
    dim = wh.read(spark, "silver", "dim_date").orderBy("date_id").collect()
    # contiguous spine from min to max trip date
    ids = [r.date_id for r in dim]
    assert ids[0] == 20180105
    assert len(ids) == len(set(ids))
    d0 = dim[0]
    assert (d0.year, d0.month, d0.day) == (2018, 1, 5)
    assert d0.month_name == "January" and d0.day_name == "Friday"
    assert d0.day_of_week == 5 and d0.is_weekend is False  # PG dow: Fri=5
    sat = next(r for r in dim if r.day_name == "Saturday")
    assert sat.is_weekend is True and sat.day_of_week == 6


def test_dim_user_types(spark, wh):
    dim = wh.read(spark, "silver", "dim_user_types")
    rows = dim.collect()
    # 2 user types × (birth-year span + NULL) × 4 genders × 2 bike_share
    birth_span = {r.member_birth_year for r in rows}
    assert None in birth_span
    assert min(b for b in birth_span if b is not None) == 1878
    assert max(b for b in birth_span if b is not None) == 2017
    n_years = len(birth_span)
    assert len(rows) == 2 * n_years * 4 * 2
    assert dim.select("user_type_id").distinct().count() == len(rows)


def test_fact_trips(spark, wh):
    fact = wh.read(spark, "silver", "fact_trips")
    trips = fixtures.make_trips()
    assert fact.count() == len(trips)
    # FK integrity (the reference declares FKs, silver_ddl.sql:62-66)
    dim_ut = wh.read(spark, "silver", "dim_user_types")
    orphans = fact.join(dim_ut, "user_type_id", "left_anti")
    assert orphans.count() == 0
    # duration_min round-half-up (F15): 90s → 2 (1.5 up), 125s → 2 (2.08 down)
    r2 = fact.filter(F.col("duration_min") == 2).count()
    assert r2 == sum(1 for t in trips if t["duration_sec"] in (90, 125))
    # no location FK for (0,0) sentinels or the non-CA (Nevada) station —
    # both are absent from dim_locations
    n_unmatched = sum(
        1 for t in trips if t["start_station_latitude"] in (0.0, 39.5296)
    )
    assert fact.filter(F.col("start_location_id").isNull()).count() == n_unmatched
    # TIME representation is HH:mm:ss (SURVEY §7 hard part)
    t = fact.select("start_time").first()[0]
    dt.datetime.strptime(t, "%H:%M:%S")


def test_gold_station_popularity(spark, wh):
    pop = wh.read(spark, "gold", "dm_station_popularity").collect()
    fact = wh.read(spark, "silver", "fact_trips")
    dim = wh.read(spark, "silver", "dim_locations")
    named = dim.filter(F.col("station_name").isNotNull())
    starts = fact.join(named, fact.start_location_id == named.location_id).count()
    ends = fact.join(named, fact.end_location_id == named.location_id).count()
    assert sum(r.total_trips_started for r in pop) == starts
    assert sum(r.total_trips_ended for r in pop) == ends
    assert sum(r.net_flow for r in pop) == starts - ends
    for r in pop:
        assert r.total_trips == r.total_trips_started + r.total_trips_ended
        assert r.station_name is not None
    # every named CA station must survive — a 'NULL' sentinel must never
    # win the dim_locations dedup (regression: sentinel sorted before
    # real names and nulled the station out of every mart)
    assert {r.station_name for r in pop} == {
        "Market St at 10th St", "San Jose Diridon",
        "Oakland 19th St", "Emeryville Town Hall",
    }


def test_gold_daily_summary(spark, wh):
    dm = wh.read(spark, "gold", "dm_daily_trip_summary")
    fact = wh.read(spark, "silver", "fact_trips")
    assert dm.agg(F.sum("total_trips")).first()[0] == fact.count()
    hours = [r.start_hour for r in dm.select("start_hour").distinct().collect()]
    assert all(0 <= h <= 23 for h in hours)


def test_gold_popular_routes(spark, wh):
    routes = wh.read(spark, "gold", "dm_popular_routes").collect()
    for r in routes:
        assert r.route_id == f"{r.start_station_name} -> {r.end_station_name}"
        assert r.trip_count > 0


def test_gold_user_behavior(spark, wh):
    dm = wh.read(spark, "gold", "dm_user_behavior_summary")
    rows = dm.collect()
    # cleaned ages only: 18..100 or NULL (F6)
    for r in rows:
        assert r.age is None or 18 <= r.age <= 100 + 1
    assert dm.agg(F.sum("total_trips")).first()[0] == wh.read(
        spark, "silver", "fact_trips"
    ).count()


def test_silver_idempotent_rerun(spark, wh):
    """Re-running silver with no new bronze batch is a no-op (D2/D3)."""
    before = wh.read(spark, "silver", "fact_trips").count()
    out = runner.build_silver(spark, wh)
    assert out == {"consumed_batches": 0}
    assert wh.read(spark, "silver", "fact_trips").count() == before


def test_incremental_second_batch(spark, wh):
    """A second batch only appends its own slice; dims grow by new keys
    only and existing surrogate keys are stable."""
    dim_before = {
        r.location_id for r in wh.read(spark, "silver", "dim_locations").collect()
    }
    fact_before = wh.read(spark, "silver", "fact_trips").count()
    new_rows = fixtures.make_trips(n=60, seed=11, start_day=10)
    runner.ingest_bronze(spark, wh, fixtures.trips_df(spark, new_rows), batch_id=2)
    runner.build_silver(spark, wh)
    assert wh.read(spark, "silver", "fact_trips").count() == fact_before + 60
    dim_after = {
        r.location_id for r in wh.read(spark, "silver", "dim_locations").collect()
    }
    assert dim_before <= dim_after
    # date spine extended to cover the later batch
    max_date = wh.read(spark, "silver", "dim_date").agg(F.max("date_id")).first()[0]
    assert max_date >= 20180118


def test_catalog_registration(spark, wh):
    """D1: published tables addressable by <layer>.<name> via the
    catalog after registration."""
    from fordgobike_data_pipeline_spark.plans import ddl

    registered = ddl.register_warehouse_tables(spark, wh)
    assert "silver.fact_trips" in registered
    assert "gold.dm_station_popularity" in registered
    n = spark.table("silver.fact_trips").count()
    assert n == spark.read.parquet(wh.path("silver", "fact_trips")).count()
    # idempotent re-registration
    assert set(ddl.register_warehouse_tables(spark, wh)) == set(registered)


# reference column lists of the renaming views, in order (gold_ddl.sql:135-193)
VIEW_COLUMNS = {
    "dim_locations_view": (
        "silver.dim_locations",
        ["id", "lat", "lng", "highway_name", "road_name", "neighborhood", "suburb_name",
         "city_name", "state_name", "postal_code", "country_name", "full_address",
         "station_name"],
    ),
    "dim_user_types_view": (
        "silver.dim_user_types",
        ["id", "user_category", "birth_year", "gender", "bike_share_option"],
    ),
    "dim_date_view": (
        "silver.dim_date",
        ["id", "year_number", "month_number", "month_name_text", "day_number",
         "quarter_number", "weekday_number", "weekday_name", "weekend_flag"],
    ),
    "fact_trips_view": (
        "silver.fact_trips",
        ["id", "duration_minutes", "start_location", "start_date", "start_time_of_day",
         "end_location", "end_date", "end_time_of_day", "bike_identifier", "user_type"],
    ),
}


def test_renaming_views_through_catalog(spark, wh):
    """The renaming views are catalog views over silver: reference
    columns in order, the source's rows, fresh after another batch, and
    queryable by a reference user's SQL. Gold holds no copy of them."""
    from fordgobike_data_pipeline_spark import sql as engine_sql
    from fordgobike_data_pipeline_spark.plans import ddl

    registered = ddl.register_warehouse_tables(spark, wh)
    for view, (source, columns) in VIEW_COLUMNS.items():
        assert f"gold.{view}" in registered
        df = spark.table(f"gold.{view}")
        assert df.columns == columns, view
        assert df.count() == spark.table(source).count(), view

    runner.run_pipeline(
        spark,
        wh,
        fixtures.trips_df(spark, fixtures.make_trips(n=40, seed=23, start_day=20)),
        fixtures.locations_df(spark),
        batch_id=3,
    )
    gold_tables = [d for d in os.listdir(os.path.join(wh.root, "gold")) if not d.startswith(".")]
    assert sorted(gold_tables) == [
        "dm_daily_trip_summary", "dm_popular_routes", "dm_station_popularity",
        "dm_user_behavior_summary",
    ]
    ddl.register_warehouse_tables(spark, wh)
    fact_rows = wh.read(spark, "silver", "fact_trips").count()
    assert spark.table("gold.fact_trips_view").count() == fact_rows

    longest = engine_sql.sql(
        spark,
        """
        SELECT id, duration_minutes FROM gold.fact_trips_view
        ORDER BY duration_minutes DESC, id LIMIT 3
        """,
    ).collect()
    assert len(longest) == 3
    assert longest[0].duration_minutes >= longest[-1].duration_minutes


def _dim_date(spark, n: int):
    return spark.range(n).selectExpr(
        "CAST(20180101 + id AS INT) AS date_id", "2018 AS year", "1 AS month",
        "'January' AS month_name", "CAST(1 + id AS INT) AS day", "1 AS quarter",
        "1 AS day_of_week", "'Monday' AS day_name", "false AS is_weekend",
    )


def test_registration_repoints_names_at_the_given_warehouse(spark, tmp_path):
    """Registering a second warehouse in the same session points every
    name, and the views over them, at the second root. The first one
    also holds a stale parquet copy of a view, as a warehouse written
    before the views were catalog views does; the view shadows it."""
    from fordgobike_data_pipeline_spark.io import publish_overwrite
    from fordgobike_data_pipeline_spark.plans import ddl

    w1, w2 = Warehouse(str(tmp_path / "w1")), Warehouse(str(tmp_path / "w2"))
    publish_overwrite(_dim_date(spark, 5), w1.path("silver", "dim_date"))
    spark.range(3).write.parquet(w1.path("gold", "dim_date_view"))
    publish_overwrite(_dim_date(spark, 9), w2.path("silver", "dim_date"))

    assert ddl.register_warehouse_tables(spark, w1) == ["silver.dim_date", "gold.dim_date_view"]
    assert spark.table("silver.dim_date").count() == 5
    assert spark.table("gold.dim_date_view").count() == 5

    ddl.register_warehouse_tables(spark, w2)
    assert spark.table("silver.dim_date").count() == 9
    assert spark.table("gold.dim_date_view").count() == 9


def test_publish_failure_leaves_old_table_intact(spark, tmp_path):
    """D4 atomicity: a failing recompute must not damage the published
    table — the swap happens only after the new write succeeds."""
    from fordgobike_data_pipeline_spark.io import publish_overwrite

    path = str(tmp_path / "mart")
    publish_overwrite(spark.range(100).toDF("n"), path)

    bad = spark.range(10).selectExpr(
        "CASE WHEN id < 5 THEN id ELSE raise_error('boom') END AS n"
    )
    with pytest.raises(Exception):
        publish_overwrite(bad, path)
    # old version still fully readable
    assert spark.read.parquet(path).count() == 100
    # and a later good publish still succeeds
    publish_overwrite(spark.range(7).toDF("n"), path)
    assert spark.read.parquet(path).count() == 7


def test_sql_front_door(spark, wh):
    """A reference user's SQL runs verbatim after registration."""
    from fordgobike_data_pipeline_spark import sql as engine_sql

    engine_sql.register_warehouse(spark, wh.root)
    top = engine_sql.sql(
        spark,
        """
        SELECT station_name, total_trips
        FROM gold.dm_station_popularity
        ORDER BY total_trips DESC, station_name LIMIT 3
        """,
    ).collect()
    assert len(top) == 3 and top[0].total_trips >= top[-1].total_trips

    engine_sql.register_testdata(spark, "/root/testdata/sf0.001")
    n = engine_sql.sql(spark, "SELECT count(*) AS n FROM lineitem").first().n
    assert n > 0


def test_metrics_table(spark, wh):
    m = wh.read(spark, "_state", "run_metrics")
    stages = {r.stage for r in m.collect()}
    assert {"bronze", "locations", "silver", "gold"} <= stages
