"""Silver layer — star-schema builders (pure DataFrame transforms).

Re-expresses the reference's five plpgsql procedures
(include/sql/silver/silver_load.sql) as composable functions returning
DataFrames. Each maps 1:1 to a procedure; the orchestration (one
Postgres transaction, silver_load.sql:285-308) becomes idempotent
per-table atomic publish in plans/runner.py.

Deliberate semantic deviations (documented per SURVEY.md §7):
* TIME columns → 'HH:mm:ss' strings (Spark has no TIME type).
* DISTINCT ON without ORDER BY is nondeterministic in the reference —
  we pin a deterministic tiebreak (station_name asc, nulls last).
* trip_id: reference uses an IDENTITY column (insert order); a
  distributed engine can't cheaply do a global counter, so bronze
  assigns a deterministic content hash (xxhash64 of natural columns).
* location hash input `CONCAT(lat, ',', long)` renders floats with
  Spark's formatting (PG float8→text may differ in edge digits); the
  key is engine-internal so only self-consistency matters.

Scale notes: dims are tiny → broadcast in the fact build; the fact
build is one scan of the incremental bronze slice with two broadcast
role-playing joins — no shuffle of the fact at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import exprs as E

TIME_FMT = "HH:mm:ss"


def _station_name_pairs(trips: DataFrame) -> DataFrame:
    """UNION (dedup) of start/end (station_name, lat, long) triples
    (silver_load.sql:24-36 `stations` CTE)."""
    start = trips.select(
        F.col("start_station_name").alias("station_name"),
        F.col("start_station_latitude").alias("latitude"),
        F.col("start_station_longitude").alias("longitude"),
    )
    end = trips.select(
        F.col("end_station_name").alias("station_name"),
        F.col("end_station_latitude").alias("latitude"),
        F.col("end_station_longitude").alias("longitude"),
    )
    return start.union(end).distinct()


def location_surrogate_key(lat, lon):
    """``('x'||substr(md5(CONCAT(lat,',',long)),1,16))::bit(64)::bigint``
    (silver_load.sql:48)."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    return E.surrogate_key_md5(
        lat.cast("string"), lon.cast("string"), sep=","
    )


def user_type_surrogate_key(user_type, birth_year, gender, bike_share):
    """Hash of COALESCE(part,'') joined with '|' (silver_load.sql:114-119,
    248-253) — NULL-safe on every part."""
    cols = []
    for c in (user_type, birth_year, gender, bike_share):
        c = F.col(c) if isinstance(c, str) else c
        cols.append(F.coalesce(c.cast("string"), F.lit("")))
    return E.surrogate_key_md5(*cols, sep="|")


def build_dim_locations(trips: DataFrame, locations_geo: DataFrame) -> DataFrame:
    """silver.load_dim_locations (silver_load.sql:4-66).

    geo lookup ⟕ station names on (lat,long) → one row per coordinate
    (deterministic DISTINCT ON) → California only → city default →
    sentinel cleanup → hash key.
    """
    # clean the 'NULL' string sentinel BEFORE deduplication so the
    # deterministic tiebreak prefers real names (the reference applies
    # NULLIF after its nondeterministic DISTINCT ON, silver_load.sql:60 —
    # a literal 'NULL' could win the pick there; deliberate improvement)
    stations = _station_name_pairs(trips).withColumn(
        "station_name", E.nullif_sentinel("station_name")
    )
    joined = (
        locations_geo.filter(F.col("state") == "California")
        .join(F.broadcast(stations), ["latitude", "longitude"], "left")
    )
    # DISTINCT ON (latitude, longitude): deterministic first row per key
    w = Window.partitionBy("latitude", "longitude").orderBy(
        F.col("station_name").asc_nulls_last()
    )
    deduped = joined.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return deduped.select(
        location_surrogate_key("latitude", "longitude").alias("location_id"),
        "latitude",
        "longitude",
        "highway",
        "road",
        "neighbourhood",
        "suburb",
        E.coalesce_default("city", "Emeryville").alias("city"),
        "state",
        "postcode",
        "country",
        "display_name",
        E.nullif_sentinel("station_name").alias("station_name"),
    )


def build_dim_user_types(trips: DataFrame) -> DataFrame:
    """silver.load_dim_user_types (silver_load.sql:71-132).

    Global birth-year bounds → integer series ∪ ALL NULL → 4-way cross
    join of small enumerations → NULL-safe hash key. Everything after the
    bounds aggregate is a few thousand rows on the driver-free fast path
    (literal frames, broadcast nested-loop).
    """
    spark = trips.sparkSession
    bounds = trips.agg(
        F.min("member_birth_year").cast("int").alias("min_birth"),
        F.max("member_birth_year").cast("int").alias("max_birth"),
    )
    birth_years = bounds.select(
        F.explode(F.sequence("min_birth", "max_birth")).alias("birth_year")
    ).union(spark.range(1).select(F.lit(None).cast("int").alias("birth_year")))

    lit_dim = lambda name, *vals: spark.range(1).select(  # noqa: E731
        F.explode(F.array(*[F.lit(v) for v in vals])).alias(name)
    )
    user_types = lit_dim("user_type", "Customer", "Subscriber")
    genders = lit_dim("member_gender", "Male", "Female", "Other", "Unknown")
    bike_share = lit_dim("bike_share_for_all_trip", "No", "Yes")

    combos = (
        user_types.crossJoin(birth_years.withColumnRenamed("birth_year", "member_birth_year"))
        .crossJoin(genders)
        .crossJoin(bike_share)
    )
    return combos.select(
        user_type_surrogate_key(
            "user_type", "member_birth_year", "member_gender", "bike_share_for_all_trip"
        ).alias("user_type_id"),
        "user_type",
        "member_birth_year",
        "member_gender",
        "bike_share_for_all_trip",
    )


def build_dim_date(trips: DataFrame) -> DataFrame:
    """silver.load_dim_date (silver_load.sql:137-183).

    Date spine from MIN(LEAST(start,end))..MAX(GREATEST(start,end)),
    PG-style day_of_week (0=Sun..6=Sat), weekend flag, pinned-English
    month/day names.
    """
    lo, hi = E.least_greatest_bounds("start_time", "end_time")
    bounds = trips.agg(
        F.min(lo).cast("date").alias("min_date"), F.max(hi).cast("date").alias("max_date")
    )
    dates = bounds.select(
        F.explode(F.sequence("min_date", "max_date", F.expr("interval 1 day"))).alias("date")
    )
    parts = E.date_parts("date")
    return dates.select(
        E.smart_date_key("date").alias("date_id"),
        parts["year"].alias("year"),
        parts["month"].alias("month"),
        E.month_name("date").alias("month_name"),
        parts["day"].alias("day"),
        parts["quarter"].alias("quarter"),
        parts["dow"].cast("int").alias("day_of_week"),
        E.day_name("date").alias("day_name"),
        E.weekend_flag("date").alias("is_weekend"),
    )


def build_fact_trips(trips: DataFrame, dim_locations: DataFrame) -> DataFrame:
    """silver.load_fact_trips (silver_load.sql:188-263).

    Clean → two broadcast role-playing joins to dim_locations on raw
    (lat,long) → smart date keys → recomputed user-type hash FK. The
    user_type_id is hashed from the *cleaned* attributes so it lands on
    a dim_user_types row by construction (same formula both sides).
    """
    # lineage passthrough: the batch id is the fact's partition column,
    # and its partitions are silver's progress marker (runner.build_silver)
    lineage = [F.col("_batch_id")] if "_batch_id" in trips.columns else []
    cleaned = trips.select(
        *lineage,
        "trip_id",
        E.round_minutes("duration_sec").alias("duration_min"),
        F.col("start_time").cast("date").alias("start_date_trip"),
        F.date_format("start_time", TIME_FMT).alias("start_time_of_day"),
        F.col("end_time").cast("date").alias("end_date_trip"),
        F.date_format("end_time", TIME_FMT).alias("end_time_of_day"),
        "start_station_latitude",
        "start_station_longitude",
        "end_station_latitude",
        "end_station_longitude",
        "bike_id",
        "user_type",
        E.age_cleaned_birth_year("member_birth_year", F.year("start_time")).alias(
            "member_birth_year"
        ),
        E.coalesce_default("member_gender", "Unknown").alias("member_gender"),
        E.coalesce_default("bike_share_for_all_trip", "No").alias(
            "bike_share_for_all_trip"
        ),
    )
    start_loc = dim_locations.select(
        F.col("latitude").alias("start_station_latitude"),
        F.col("longitude").alias("start_station_longitude"),
        F.col("location_id").alias("start_location_id"),
    )
    end_loc = dim_locations.select(
        F.col("latitude").alias("end_station_latitude"),
        F.col("longitude").alias("end_station_longitude"),
        F.col("location_id").alias("end_location_id"),
    )
    return (
        cleaned.join(
            F.broadcast(start_loc),
            ["start_station_latitude", "start_station_longitude"],
            "left",
        )
        .join(
            F.broadcast(end_loc),
            ["end_station_latitude", "end_station_longitude"],
            "left",
        )
        .select(
            *lineage,
            "trip_id",
            "duration_min",
            "start_location_id",
            E.smart_date_key("start_date_trip").alias("start_date_id"),
            F.col("start_time_of_day").alias("start_time"),
            "end_location_id",
            E.smart_date_key("end_date_trip").alias("end_date_id"),
            F.col("end_time_of_day").alias("end_time"),
            "bike_id",
            user_type_surrogate_key(
                "user_type", "member_birth_year", "member_gender", "bike_share_for_all_trip"
            ).alias("user_type_id"),
        )
    )


def upsert_skip_conflict(existing: DataFrame | None, new: DataFrame, keys: list[str]) -> DataFrame:
    """``INSERT ... ON CONFLICT DO NOTHING`` (silver_load.sql:62,129,180;
    get_locations.py:93-107): existing ∪ (new ⟕̸ existing on keys)."""
    if existing is None:
        return new.dropDuplicates(keys)
    # no broadcast hint: the existing side can grow without bound over
    # the table's lifetime — AQE broadcasts it while it's small and
    # falls back to a shuffle join when it isn't
    fresh = new.dropDuplicates(keys).join(existing.select(*keys), keys, "left_anti")
    return existing.unionByName(fresh)
