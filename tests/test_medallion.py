"""End-to-end medallion pipeline on the trips fixture — mirrors the
reference's test invariants (SURVEY.md §5: required columns, dedup,
no-null keys, non-negative fares, min table sizes)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_mobility_data_pipeline_spark.plans import medallion
from tests.fixtures import trips_pdf


@pytest.fixture(scope="module")
def layers(spark):
    raw = spark.createDataFrame(trips_pdf())
    b = medallion.bronze(raw, "fixture")
    s = medallion.silver(b)
    return {"raw": raw, "bronze": b, "silver": s, **medallion.gold(s)}


def test_bronze_audit_columns(layers):
    for c in ("ingested_at", "source_file", "requested_date"):
        assert c in layers["bronze"].columns
    assert layers["bronze"].count() == 2050  # fixture injects 50 dups


def test_silver_dedup_and_invariants(layers):
    s = layers["silver"]
    assert s.count() == 2000  # dups collapsed
    assert s.filter(F.col("trip_id").isNull()).count() == 0
    assert s.filter(F.col("fare_amount") < 0).count() == 0
    # normalization: payment_method lowercased + trimmed
    vals = {r[0] for r in s.select("payment_method").distinct().collect()}
    assert vals == {"card", "wallet", "cash"}
    # cancelled trips have completed_at nulled
    assert (
        s.filter(
            F.col("status").startswith("cancelled")
            & F.col("completed_at").isNotNull()
        ).count()
        == 0
    )


def test_gold_star_schema(layers):
    tf = layers["trips_fact"]
    assert tf.count() == 2000
    # surrogate keys resolve for every fact row (RI holds)
    assert tf.filter(F.col("user_key").isNull()).count() == 0
    assert tf.filter(F.col("pickup_location_id").isNull()).count() == 0
    assert layers["dim_users"].count() <= 500
    assert layers["payments_fact"].count() == 2000


def test_location_metrics(layers):
    lm = layers["location_metrics"]
    assert set(lm.columns) == {
        "pickup_zone_id",
        "is_weekend",
        "total_trips",
        "total_revenue",
        "avg_distance_km",
        "avg_duration_min",
        "active_drivers",
    }
    total = lm.agg(F.sum("total_trips")).collect()[0][0]
    assert total == layers["silver"].count()


def test_gold_aggregates_consistency(layers):
    rev = layers["revenue_daily_by_pickup_zone"]
    total = rev.agg(F.sum("completed_trips")).collect()[0][0]
    completed = layers["silver"].filter(F.col("status") == "completed").count()
    assert total == completed
    assert rev.filter(F.col("total_revenue") < 0).count() == 0


def test_medallion_persist_roundtrip(spark, tmp_path):
    raw = spark.createDataFrame(trips_pdf(300))
    out = medallion.run_medallion(raw, str(tmp_path / "lake"))
    back = spark.read.parquet(str(tmp_path / "lake" / "silver"))
    assert back.count() == out["silver"].count()
    # partition pruning works on the persisted layout
    one_day = back.select("requested_date").distinct().limit(1).collect()[0][0]
    pruned = spark.read.parquet(str(tmp_path / "lake" / "silver")).filter(
        F.col("requested_date") == F.lit(one_day)
    )
    assert 0 < pruned.count() < back.count()


def test_silver_dedup_is_deterministic_on_same_load_duplicates(spark):
    """bronze() stamps one current_timestamp per query and one
    source_file per load, so duplicate trip_ids tie on the dedup order
    columns — the survivor must be a deterministic function of row
    CONTENT (payload tiebreak), not of shuffle order."""
    import pandas as pd

    pdf = trips_pdf(n=40, n_dups=0)
    dup = pdf.iloc[[0]].copy()
    dup["fare_amount"] = dup["fare_amount"] + 1.0  # same trip_id, new payload
    raw_pdf = pd.concat([pdf, dup], ignore_index=True)
    picks = set()
    for n_parts in (1, 7, 32):
        raw = spark.createDataFrame(raw_pdf).repartition(n_parts)
        sil = medallion.silver(medallion.bronze(raw))
        r = [x for x in sil.collect() if x.trip_id == 1]
        assert len(r) == 1
        picks.add(r[0].fare_amount)
    assert len(picks) == 1, picks  # content-deterministic survivor


def _gold_by_joins(silver_df):
    """The gold tables as first written: every fact looks its surrogate
    keys up by left-joining silver back to the dimensions. Kept as the
    oracle for the join-free ``medallion.gold``."""
    from distributed_mobility_data_pipeline_spark.functions.exact import exact_sum
    from distributed_mobility_data_pipeline_spark.operators import star

    dim_users = silver_df.select("user_id").distinct().select(
        star.surrogate_key("user_id").alias("user_key"), "user_id"
    )
    dim_drivers = silver_df.select("driver_id").distinct().select(
        star.surrogate_key("driver_id").alias("driver_key"), "driver_id"
    )
    zones = (
        silver_df.select(F.col("pickup_zone_id").alias("zone_id"))
        .union(silver_df.select(F.col("dropoff_zone_id").alias("zone_id")))
        .distinct()
    )
    dim_locations = zones.select(
        star.surrogate_key("zone_id").alias("location_id"), "zone_id"
    )

    def locations(role):
        return F.broadcast(
            dim_locations.select(
                F.col("location_id").alias(f"{role}_location_id"),
                F.col("zone_id").alias(f"{role}_zone_id"),
            )
        )

    trips_fact = (
        silver_df.join(F.broadcast(dim_users), "user_id", "left")
        .join(F.broadcast(dim_drivers), "driver_id", "left")
        .join(locations("pickup"), "pickup_zone_id", "left")
        .join(locations("dropoff"), "dropoff_zone_id", "left")
        .select(
            "trip_id", "user_key", "driver_key", "pickup_location_id",
            "dropoff_location_id", "status", "distance_km", "duration_min",
            "surge_multiplier", "fare_amount", "requested_at", "requested_date",
        )
    )
    payments_fact = silver_df.join(F.broadcast(dim_users), "user_id", "left").select(
        F.sha2(
            F.concat_ws("||", F.col("trip_id").cast("string"), F.lit("payment")), 256
        ).alias("payment_id"),
        "trip_id",
        "user_key",
        "payment_method",
        F.col("fare_amount").alias("amount"),
        "requested_date",
    )
    completed = silver_df.filter(F.col("status") == "completed")
    driver_daily = (
        completed.join(F.broadcast(dim_drivers), "driver_id", "left")
        .groupBy("requested_date", "driver_key")
        .agg(
            F.count(F.lit(1)).alias("completed_trips"),
            exact_sum("fare_amount").alias("driver_revenue"),
            F.avg("duration_min").alias("avg_trip_duration_min"),
        )
    )
    return {
        "dim_time": star.dim_time(silver_df, "requested_at"),
        "dim_users": dim_users,
        "dim_drivers": dim_drivers,
        "dim_locations": dim_locations,
        "trips_fact": trips_fact,
        "payments_fact": payments_fact,
        "demand_hourly_by_pickup_zone": silver_df.groupBy(
            "requested_date", F.hour("requested_at").alias("hour"), "pickup_zone_id"
        ).agg(F.count(F.lit(1)).alias("trip_count")),
        "revenue_daily_by_pickup_zone": completed.groupBy(
            "requested_date", "pickup_zone_id"
        ).agg(
            exact_sum("fare_amount").alias("total_revenue"),
            F.avg("surge_multiplier").alias("avg_surge_multiplier"),
            F.avg("distance_km").alias("avg_distance_km"),
            F.count(F.lit(1)).alias("completed_trips"),
        ),
        "driver_daily_summary": driver_daily,
        "location_metrics": silver_df.withColumn(
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
        .orderBy(F.col("total_trips").desc()),
    }


def _nulled(df, col, every):
    # only trips past the fixture's n_dups duplicated ones: for those,
    # dedup could keep the non-NULL copy and void the case
    hit = (F.col("trip_id") > 50) & (F.col("trip_id") % every == 0)
    return df.withColumn(col, F.when(hit, F.lit(None)).otherwise(F.col(col)))


@pytest.mark.parametrize("case", ["null_zones", "null_user_and_driver"])
def test_gold_matches_join_formulation(spark, case):
    """``medallion.gold`` computes fact keys inline instead of joining the
    dimensions back; on NULL natural keys, too, all ten tables equal the
    join formulation in schema and exact row multiset."""
    raw = spark.createDataFrame(trips_pdf())
    if case == "null_zones":
        raw = _nulled(_nulled(raw, "pickup_zone_id", 7), "dropoff_zone_id", 11)
    s = medallion.silver(medallion.bronze(raw, "fixture"))
    if case == "null_user_and_driver":
        s = _nulled(_nulled(s, "user_id", 7), "driver_id", 11)
    s = s.persist()
    got, want = medallion.gold(s), _gold_by_joins(s)
    assert set(got) == set(want)
    for name in want:
        assert got[name].schema == want[name].schema, name
        assert got[name].exceptAll(want[name]).count() == 0, name
        assert want[name].exceptAll(got[name]).count() == 0, name
    # the NULL keys reached the facts, so the guard was exercised
    tf = got["trips_fact"]
    nulls = ["pickup_location_id", "dropoff_location_id"]
    if case == "null_user_and_driver":
        nulls = ["user_key", "driver_key"]
    for c in nulls:
        assert tf.filter(F.col(c).isNull()).count() > 0, c
    s.unpersist()
