"""Scalar-function surface (SURVEY.md §2.9).

The reference's scalar usage (string normalize, sha2 keys, date parts,
math clamps, when-chains) is exercised throughout the operator layers;
these showcase queries pin down the *function-level* cross-engine
semantics explicitly — string, date, math families each as one wide
projection over a driver table, every column oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import rounded


def string_functions(part: DataFrame) -> DataFrame:
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.reverse("p_name").alias("name_rev"),
        F.lpad(F.col("p_brand"), 12, "*").alias("brand_padded"),
        F.concat_ws("::", "p_brand", "p_type").alias("brand_type"),
        # p_name is lowercase multi-word — these actually exercise the
        # found-position and multi-element paths (review finding)
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.element_at(F.split("p_name", " "), 1).alias("name_first_word"),
        F.element_at(F.split("p_name", " "), -1).alias("name_last_word"),
        F.translate("p_brand", "#", "_").alias("brand_clean"),
        F.trim(F.lower("p_type")).alias("type_norm"),
    )


def date_functions(orders: DataFrame) -> DataFrame:
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        d.cast("string").alias("od"),
        F.add_months(d, 3).cast("string").alias("plus_3_months"),
        F.date_add(d, 30).cast("string").alias("plus_30_days"),
        F.last_day(d).cast("string").alias("month_end"),
        F.trunc(d, "month").cast("string").alias("month_start"),
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        F.dayofyear(d).alias("doy"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
    )


def math_functions(lineitem: DataFrame) -> DataFrame:
    x = F.col("l_extendedprice")
    y = F.col("l_discount")
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(x - 1000.0).alias("abs_delta"),
        F.sqrt(x).alias("sqrt_price"),
        F.ceil(x).alias("ceil_price"),
        F.floor(x).alias("floor_price"),
        F.greatest(y, F.lit(0.05)).alias("disc_floor"),
        F.least(y, F.lit(0.05)).alias("disc_cap"),
        F.signum(y - 0.05).alias("disc_sign"),
        F.round(x, 1).alias("price_1dp"),
        # transcendentals truncated to decimal to absorb libm ULP noise
        rounded(F.log(x)).alias("ln_price"),
        (x % 97.0).alias("price_mod"),
    )


def distribution_windows(customer: DataFrame) -> DataFrame:
    """ntile / percent_rank / cume_dist / first / last — the W-surface
    beyond ranking (§2.6 extras). ntile order made unique via the key
    tiebreak so bucket assignment is deterministic."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_acctbal").over(frame).alias("seg_max_bal"),
        F.last("c_acctbal").over(frame).alias("seg_min_bal"),
    )
