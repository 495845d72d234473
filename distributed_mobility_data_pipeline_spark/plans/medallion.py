"""Medallion pipeline composition (SURVEY.md §3 entry point 1).

The reference runs Bronze→Silver→Gold as four separate driver processes
with Delta tables as the hand-off (bronze_loader → bronze_to_silver →
silver_to_gold → gold_aggregates, README.md:106-134). Here each layer is
a pure ``DataFrame -> DataFrame`` function and the composition is ONE
lazy plan: Catalyst sees silver's filters while planning bronze's scan
(filter/projection pushdown across layer boundaries), and
materialization between layers becomes an explicit choice
(``materialize=`` paths) instead of a structural requirement.

Domain functions operate on the reference's trips schema
(schemas.TRIPS_RAW / TRIPS_BRONZE; FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import exact_sum
from distributed_mobility_data_pipeline_spark.operators import cleaning, dedup, star
from distributed_mobility_data_pipeline_spark.sources import writers


def bronze(raw: DataFrame, source_label: str = "memory") -> DataFrame:
    """Bronze: raw + audit columns (bronze_loader.py:30-35, S1/P3)."""
    return (
        raw.withColumn("ingested_at", F.current_timestamp())
        .withColumn("source_file", F.lit(source_label))
        .withColumn("requested_date", F.to_date("requested_at"))
    )


def silver(bronze_df: DataFrame) -> DataFrame:
    """Silver: normalize → null-out cancelled completions → require key
    columns → keep-latest dedup (bronze_to_silver.py:17-43)."""
    df = cleaning.normalize_categoricals(bronze_df, ["status", "payment_method"])
    df = cleaning.null_out_when(
        df, "completed_at", F.col("status").startswith("cancelled")
    )
    df = cleaning.require_not_null(
        df, ["trip_id", "user_id", "driver_id", "requested_at"]
    )
    # bronze() stamps one current_timestamp() per QUERY and one literal
    # source_file per load, so same-load duplicates of a trip_id tie on
    # both — tiebreak on the remaining payload columns too, making the
    # survivor a deterministic function of row CONTENT rather than
    # shuffle order (keep_latest exists precisely to fix the reference's
    # nondeterministic tie; an incomplete tiebreak reintroduced it)
    tiebreak = ["source_file"] + sorted(
        c for c in df.columns
        if c not in ("trip_id", "ingested_at", "source_file")
    )
    return dedup.keep_latest(df, ["trip_id"], "ingested_at", tiebreak)


def _fact_key(col: str) -> F.Column:
    """The dimension surrogate key a fact row references, computed from
    its natural key ``col``; NULL when ``col`` is NULL (see ``gold``)."""
    return F.when(F.col(col).isNotNull(), star.surrogate_key(col))


def gold(silver_df: DataFrame) -> dict[str, DataFrame]:
    """Gold: star schema (silver_to_gold.py:27-162) + aggregates
    (gold_aggregates.py:41-84) on the trips domain.

    The facts need no join back to the dimensions. Every dimension is a
    ``distinct`` projection of this same ``silver_df`` and
    ``star.surrogate_key`` is a pure function of the natural key, so the
    reference's left join to a dimension returns exactly
    ``surrogate_key(natural key)`` for every non-NULL key; computing it
    inline saves a broadcast and a silver scan per join. A NULL natural
    key matches no dimension row, so the join gave NULL, while
    ``concat_ws`` skips NULLs and would hash it to ``sha2('')``: the
    ``isNotNull`` guard in ``_fact_key`` keeps the join's answer."""
    dim_time = star.dim_time(silver_df, "requested_at")
    dim_users = silver_df.select("user_id").distinct().select(
        star.surrogate_key("user_id").alias("user_key"), "user_id"
    )
    dim_drivers = silver_df.select("driver_id").distinct().select(
        star.surrogate_key("driver_id").alias("driver_key"), "driver_id"
    )
    # pickup and dropoff play the same location role: one scan, both ids
    zones = silver_df.select(
        F.explode(F.array("pickup_zone_id", "dropoff_zone_id")).alias("zone_id")
    ).distinct()
    dim_locations = zones.select(
        star.surrogate_key("zone_id").alias("location_id"), "zone_id"
    )
    trips_fact = silver_df.select(
        "trip_id",
        _fact_key("user_id").alias("user_key"),
        _fact_key("driver_id").alias("driver_key"),
        _fact_key("pickup_zone_id").alias("pickup_location_id"),
        _fact_key("dropoff_zone_id").alias("dropoff_location_id"),
        "status",
        "distance_km",
        "duration_min",
        "surge_multiplier",
        "fare_amount",
        "requested_at",
        "requested_date",
    )
    payments_fact = silver_df.select(
        F.sha2(
            F.concat_ws("||", F.col("trip_id").cast("string"), F.lit("payment")), 256
        ).alias("payment_id"),
        "trip_id",
        _fact_key("user_id").alias("user_key"),
        "payment_method",
        F.col("fare_amount").alias("amount"),
        "requested_date",
    )
    demand_hourly = (
        silver_df.groupBy(
            "requested_date",
            F.hour("requested_at").alias("hour"),
            "pickup_zone_id",
        )
        .agg(F.count(F.lit(1)).alias("trip_count"))
    )
    revenue_daily = (
        silver_df.filter(F.col("status") == "completed")
        .groupBy("requested_date", "pickup_zone_id")
        .agg(
            exact_sum("fare_amount").alias("total_revenue"),
            F.avg("surge_multiplier").alias("avg_surge_multiplier"),
            F.avg("distance_km").alias("avg_distance_km"),
            F.count(F.lit(1)).alias("completed_trips"),
        )
    )
    # grouped on the bigint id, hashed once per group afterwards
    driver_daily = (
        silver_df.filter(F.col("status") == "completed")
        .groupBy("requested_date", "driver_id")
        .agg(
            F.count(F.lit(1)).alias("completed_trips"),
            exact_sum("fare_amount").alias("driver_revenue"),
            F.avg("duration_min").alias("avg_trip_duration_min"),
        )
        .select(
            "requested_date",
            _fact_key("driver_id").alias("driver_key"),
            "completed_trips",
            "driver_revenue",
            "avg_trip_duration_min",
        )
    )
    # location_metrics — aspirational in the reference (gold_dag.py:
    # 123-160 imports a class that doesn't exist); working here:
    # zone × weekend grain, five metrics, ranked by volume.
    location_metrics = (
        silver_df.withColumn(
            "is_weekend",
            F.when(F.dayofweek("requested_at").isin(1, 7), 1).otherwise(0),
        )
        .groupBy("pickup_zone_id", "is_weekend")
        .agg(
            F.count(F.lit(1)).alias("total_trips"),
            exact_sum("fare_amount").alias("total_revenue"),
            F.avg("distance_km").alias("avg_distance_km"),
            F.avg("duration_min").alias("avg_duration_min"),
            F.countDistinct("driver_id").alias("active_drivers"),
        )
        .orderBy(F.col("total_trips").desc())
    )
    return {
        "dim_time": dim_time,
        "dim_users": dim_users,
        "dim_drivers": dim_drivers,
        "dim_locations": dim_locations,
        "trips_fact": trips_fact,
        "payments_fact": payments_fact,
        "demand_hourly_by_pickup_zone": demand_hourly,
        "revenue_daily_by_pickup_zone": revenue_daily,
        "driver_daily_summary": driver_daily,
        "location_metrics": location_metrics,
    }


def run_medallion(
    raw: DataFrame, base_dir: str | None = None
) -> dict[str, DataFrame]:
    """Full pipeline; if ``base_dir`` is given, each layer is persisted
    (partitioned by requested_date as the reference does,
    bronze_loader.py:56, silver_to_gold.py:197-198)."""
    b = bronze(raw)
    s = silver(b)
    tables = gold(s)
    out = {"bronze": b, "silver": s, **tables}
    if base_dir:
        for name, df in out.items():
            part = (
                ["requested_date"]
                if "requested_date" in df.columns
                else None
            )
            writers.write_overwrite(df, f"{base_dir}/{name}", part)
    return out
