"""Gold layer — four aggregate data marts + four renaming views.

Re-expresses the reference's gold schema (include/sql/gold/gold_ddl.sql).
The marts are materialized views there (gold_ddl.sql:11-132); their
`REFRESH MATERIALIZED VIEW` (gold_ddl.sql:201-244) becomes a full
recompute + atomic publish in ``runner.build_gold``. The four marts are
independent DataFrame jobs (the reference fans them out in parallel,
dags/gold_dag.py:70 — Spark's scheduler does the same within a session).
The renaming views are plain views over silver there
(gold_ddl.sql:135-193) and stay plain views here: ``RENAMING_VIEWS``
defines each one, and ``ddl.register_warehouse_tables`` creates it in
the catalog, so no run copies silver into gold.

Scale notes: every dim join broadcasts; the fact is scanned once per
mart with partial aggregation map-side. Exchange reuse makes the twin
starts/ends branches share the fact scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dm_daily_trip_summary(fact_trips: DataFrame, dim_date: DataFrame) -> DataFrame:
    """gold.dm_daily_trip_summary (gold_ddl.sql:11-26): by (hour, date):
    count/sum/avg/countDistinct. start_time is 'HH:mm:ss' → hour is the
    leading 2 chars."""
    from ..functions import exprs as E

    return (
        fact_trips.join(F.broadcast(dim_date), fact_trips.start_date_id == dim_date.date_id)
        .groupBy(
            F.substring("start_time", 1, 2).cast("int").alias("start_hour"),
            E.key_to_date("date_id").alias("date"),
            "year",
            "month_name",
            "day_name",
            "is_weekend",
        )
        .agg(
            F.count("trip_id").alias("total_trips"),
            F.sum("duration_min").alias("total_duration_min"),
            F.avg("duration_min").alias("avg_duration_min"),
            F.countDistinct("bike_id").alias("unique_bikes_used"),
        )
    )


def dm_station_popularity(fact_trips: DataFrame, dim_locations: DataFrame) -> DataFrame:
    """gold.dm_station_popularity (gold_ddl.sql:28-91): starts ∪ ends via
    FULL OUTER, COALESCE key + zero defaults, net_flow/total, pre-aggregated
    station_details left-joined back (MAX-dedup, gold_ddl.sql:53-67)."""
    loc = F.broadcast(dim_locations)
    starts = (
        fact_trips.join(loc, fact_trips.start_location_id == dim_locations.location_id)
        .groupBy("station_name")
        .agg(F.count("trip_id").alias("total_starts"))
    )
    ends = (
        fact_trips.join(loc, fact_trips.end_location_id == dim_locations.location_id)
        .groupBy("station_name")
        .agg(F.count("trip_id").alias("total_ends"))
    )
    details = (
        dim_locations.filter(F.col("station_name").isNotNull())
        .groupBy("station_name")
        .agg(
            F.max("city").alias("city"),
            F.max("latitude").alias("latitude"),
            F.max("longitude").alias("longitude"),
            F.max("display_name").alias("display_name"),
        )
    )
    n_starts = F.coalesce("total_starts", F.lit(0))
    n_ends = F.coalesce("total_ends", F.lit(0))
    return (
        starts.join(ends, "station_name", "full_outer")
        .join(F.broadcast(details), "station_name", "left")
        .filter(F.col("station_name").isNotNull())
        .select(
            "station_name",
            "city",
            "latitude",
            "longitude",
            "display_name",
            n_starts.alias("total_trips_started"),
            n_ends.alias("total_trips_ended"),
            (n_starts - n_ends).alias("net_flow"),
            (n_starts + n_ends).alias("total_trips"),
        )
    )


def dm_popular_routes(fact_trips: DataFrame, dim_locations: DataFrame) -> DataFrame:
    """gold.dm_popular_routes (gold_ddl.sql:94-113): role-playing left
    joins ×2, both names NOT NULL, `a -> b` route id, count/avg."""
    sl = dim_locations.select(
        F.col("location_id").alias("start_location_id"),
        F.col("station_name").alias("start_station_name"),
    )
    el = dim_locations.select(
        F.col("location_id").alias("end_location_id"),
        F.col("station_name").alias("end_station_name"),
    )
    return (
        fact_trips.join(F.broadcast(sl), "start_location_id", "left")
        .join(F.broadcast(el), "end_location_id", "left")
        .filter(
            F.col("start_station_name").isNotNull() & F.col("end_station_name").isNotNull()
        )
        .groupBy(
            "start_station_name", "end_station_name", "start_location_id", "end_location_id"
        )
        .agg(
            F.count("trip_id").alias("trip_count"),
            F.avg("duration_min").alias("avg_duration_min"),
        )
        .select(
            F.concat(
                F.col("start_station_name"), F.lit(" -> "), F.col("end_station_name")
            ).alias("route_id"),
            "start_station_name",
            "end_station_name",
            "start_location_id",
            "end_location_id",
            "trip_count",
            "avg_duration_min",
        )
    )


def dm_user_behavior_summary(
    fact_trips: DataFrame, dim_user_types: DataFrame, dim_date: DataFrame
) -> DataFrame:
    """gold.dm_user_behavior_summary (gold_ddl.sql:116-132): grouped by
    (user_type, gender, bike_share, derived age = trip year − birth year)."""
    return (
        fact_trips.join(
            F.broadcast(dim_user_types),
            fact_trips.user_type_id == dim_user_types.user_type_id,
        )
        .join(F.broadcast(dim_date), fact_trips.start_date_id == dim_date.date_id)
        .groupBy(
            "user_type",
            "member_gender",
            "bike_share_for_all_trip",
            (F.col("year") - F.col("member_birth_year")).alias("age"),
        )
        .agg(
            F.count("trip_id").alias("total_trips"),
            F.sum("duration_min").alias("total_duration_min"),
            F.avg("duration_min").alias("avg_duration_min"),
        )
    )


# ---------------------------------------------------------------------------
# Renaming views (gold_ddl.sql:135-193) — pure projection/alias, created as
# catalog views over silver by ddl.register_warehouse_tables
# ---------------------------------------------------------------------------

# view name -> (silver source table, ordered (source column, view column) pairs)
RENAMING_VIEWS: dict[str, tuple[str, tuple[tuple[str, str], ...]]] = {
    "dim_locations_view": (  # gold_ddl.sql:135-150
        "silver.dim_locations",
        (
            ("location_id", "id"),
            ("latitude", "lat"),
            ("longitude", "lng"),
            ("highway", "highway_name"),
            ("road", "road_name"),
            ("neighbourhood", "neighborhood"),
            ("suburb", "suburb_name"),
            ("city", "city_name"),
            ("state", "state_name"),
            ("postcode", "postal_code"),
            ("country", "country_name"),
            ("display_name", "full_address"),
            ("station_name", "station_name"),
        ),
    ),
    "dim_user_types_view": (  # gold_ddl.sql:155-162
        "silver.dim_user_types",
        (
            ("user_type_id", "id"),
            ("user_type", "user_category"),
            ("member_birth_year", "birth_year"),
            ("member_gender", "gender"),
            ("bike_share_for_all_trip", "bike_share_option"),
        ),
    ),
    "dim_date_view": (  # gold_ddl.sql:166-177
        "silver.dim_date",
        (
            ("date_id", "id"),
            ("year", "year_number"),
            ("month", "month_number"),
            ("month_name", "month_name_text"),
            ("day", "day_number"),
            ("quarter", "quarter_number"),
            ("day_of_week", "weekday_number"),
            ("day_name", "weekday_name"),
            ("is_weekend", "weekend_flag"),
        ),
    ),
    "fact_trips_view": (  # gold_ddl.sql:181-193
        "silver.fact_trips",
        (
            ("trip_id", "id"),
            ("duration_min", "duration_minutes"),
            ("start_location_id", "start_location"),
            ("start_date_id", "start_date"),
            ("start_time", "start_time_of_day"),
            ("end_location_id", "end_location"),
            ("end_date_id", "end_date"),
            ("end_time", "end_time_of_day"),
            ("bike_id", "bike_identifier"),
            ("user_type_id", "user_type"),
        ),
    ),
}
