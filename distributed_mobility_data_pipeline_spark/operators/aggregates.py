"""Aggregate operators (SURVEY.md §2.5 A1-A16 + free extras).

The reference's aggregate layer is gold_aggregates.py:41-84 (hourly
demand, daily revenue, driver daily summary) plus the feature-engineering
grains (feature_engineering.py:58-74, 185-197) and monitoring metrics.
Everything here is a pure ``DataFrame -> DataFrame`` built from
``groupBy().agg()`` — partial aggregation (map-side combine) and AQE
partition coalescing come free, so these scale to 100 TB as long as the
group-key cardinality fits the shuffle (they do: zone/hour grains).

Cross-engine parity conventions (driver DuckDB oracle):
- every computed column aliased identically in Spark and SQL;
- float sums/avgs via functions.exact (decimal accumulate → double), so
  results are bit-identical regardless of partitioning — no rounding;
- timestamps surfaced as formatted strings or DATE-cast strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import (
    DEC, DEC_PRODUCT, DEC_TOTAL, dec, discounted_price, exact_avg, exact_sum,
)


def hourly_demand(events: DataFrame) -> DataFrame:
    """Hourly event demand by type — A1/A4 transplanted to `events`.

    Reference: gold_aggregates.py:41-44 (groupBy date/hour/zone count)
    and feature_engineering.py:58-74 (date_trunc hour grain). This is a
    tumbling window in batch form; the streaming twin is
    streaming/events.py::hourly_counts.
    """
    return (
        events.filter(F.col("value").isNotNull())
        .withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour_ts", "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            exact_avg("value").alias("avg_value"),
        )
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "event_count",
            "avg_value",
        )
    )


def revenue_daily(lineitem: DataFrame) -> DataFrame:
    """Daily revenue rollup — A2 (gold_aggregates.py:47-56) on lineitem.

    completed-trips filter ≈ l_returnflag filter; fare ≈ discounted price.
    """
    return (
        lineitem.filter(F.col("l_returnflag") == "N")
        .groupBy(
            F.to_date("l_shipdate").cast("string").alias("ship_date"),
            "l_linestatus",
        )
        .agg(
            F.sum(discounted_price()).cast("double").alias("total_revenue"),
            exact_avg("l_discount").alias("avg_discount"),
            exact_avg("l_quantity").alias("avg_quantity"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


def driver_daily_summary(orders: DataFrame) -> DataFrame:
    """Per-entity daily rollup — A3 (gold_aggregates.py:59-67) on orders:
    customer plays the driver role, order date the trip date."""
    return (
        orders.groupBy(
            F.to_date("o_orderdate").cast("string").alias("order_date"),
            F.col("o_custkey").alias("cust_key"),
        )
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            exact_sum("o_totalprice").alias("total_spend"),
            exact_avg("o_totalprice").alias("avg_spend"),
        )
    )


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped multi-aggregate (A2/A6 pattern at full width).

    sum_charge chains two decimal products; the intermediate is rounded
    back to scale 6 (exact here: 2-decimal price × 4-decimal discount has
    ≤6 decimals) to stay inside decimal(38,12).
    """
    disc_price = discounted_price()
    charge = dec(disc_price) * (F.lit(1).cast(DEC) + dec("l_tax"))
    return (
        lineitem.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def supply_demand_hourly(events: DataFrame) -> DataFrame:
    """Multi-metric agg with exact countDistinct — A6
    (feature_engineering.py:185-197). The exact distinct is a second
    shuffle; at 100 TB prefer `approx_supply_demand_hourly`."""
    return (
        events.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .groupBy(F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.countDistinct("user_id").alias("active_users"),
            exact_avg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )
    )


def approx_supply_demand_hourly(events: DataFrame, rsd: float = 0.01) -> DataFrame:
    """100 TB variant of A6: HyperLogLog++ distinct (single shuffle,
    mergeable sketches). Rows-only check (approximate by design)."""
    return (
        events.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .groupBy(F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.approx_count_distinct("user_id", rsd).alias("approx_active_users"),
        )
    )


def histogram(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """Fixed-edge histogram — A9 (model_monitoring.py:105-113): shared
    bucketize (drift._bucketize — one home for the clamp/NULL boundary
    rule, also used by metrics.calibration_bins) + groupBy count.
    Buckets clamp: anything below edges[1] is bucket 0, anything ≥
    edges[-2] is the last bucket; nulls are bucket -1. Edges are
    explicit so the oracle is deterministic (approxQuantile-derived
    edges live in drift.py)."""
    from distributed_mobility_data_pipeline_spark.operators.drift import _bucketize

    return (
        _bucketize(df, col, edges)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def status_distribution(df: DataFrame, col: str) -> DataFrame:
    """Share-of-total per category — A16 (generate_all.py:158) done
    distributed: groupBy count + a window share, no collect."""
    counts = df.groupBy(F.col(col).alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = Window.partitionBy()
    return counts.select(
        "status",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(total)).alias("share"),
    )


def top_k(
    df: DataFrame,
    order_col: str,
    k: int,
    *group_cols: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Global or per-group top-k. Global compiles to
    TakeOrderedAndProject (no full sort); per-group is the canonical
    row_number window (SURVEY.md §2.7). ``tiebreak`` makes rows at the
    k boundary deterministic regardless of partitioning/layout — pass a
    unique key column whenever the order column can tie."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    if not group_cols:
        return df.orderBy(*order).limit(k)
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def cube_revenue(lineitem: DataFrame) -> DataFrame:
    """CUBE over (returnflag, linestatus) — grouping-sets surface the
    reference lacks but the engine exposes (SURVEY.md §2.5 note).

    Pre-aggregated before the cube (optimization guide §2.3 "aggregate
    before you shuffle"): CUBE's Expand multiplies every INPUT row by
    the number of grouping sets (4 here) before the partial aggregate,
    so cube directly over the fact pays 4× the row volume. Aggregating
    to the finest grain first, then cubing the (few) group rows, is
    exactly equivalent for algebraic aggregates — decimal sums re-sum
    exactly and counts sum — including when grouping keys hold data
    NULLs (GROUP BY already treats NULLs as equal at both levels).
    Measured 3.2× faster at sf0.1 with a bit-identical result; the gap
    widens with fact size since Expand cost is linear in input rows."""
    pre = lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_extendedprice")).alias("_sum_price"),
        F.count(F.lit(1)).alias("_n"),
    )
    return pre.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_sum_price").cast("double").alias("sum_price"),
        F.sum("_n").alias("n"),
    )


def rollup_revenue(lineitem: DataFrame) -> DataFrame:
    """ROLLUP over (year(shipdate), returnflag) — same pre-aggregation
    as cube_revenue (guide §2.3): Expand runs over the per-(year, flag)
    partial rows, not the fact."""
    pre = (
        lineitem.withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("ship_year", "l_returnflag")
        .agg(
            F.sum(dec("l_extendedprice")).alias("_sum_price"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return pre.rollup("ship_year", "l_returnflag").agg(
        F.sum("_sum_price").cast("double").alias("sum_price"),
        F.sum("_n").alias("n"),
    )


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, segment: str
) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on both sides,
    revenue aggregate, top-10. customer is broadcast; orders⨝lineitem is
    the real shuffle join — the multi-table pattern the star layer's
    broadcast path doesn't cover."""
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.filter(F.to_date("o_orderdate") < F.lit("1995-03-15")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.filter(F.to_date("l_shipdate") > F.lit("1995-03-15")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").cast("string").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_region: str,
    share_nation: str,
    part_type: str,
) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's yearly
    order volume for one part type. The 8-table pattern with a
    role-playing dimension — nation joins twice (customer side gates the
    region, supplier side labels the share) — and a conditional-ratio
    aggregate. All dims broadcast; the only shuffles are lineitem⨝orders
    and the final per-year groupBy, which is the plan that survives
    100 TB (dims stay small forever)."""
    vol = discounted_price()
    zero = F.lit(0).cast(DEC_PRODUCT)
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    reg = region.filter(F.col("r_name") == target_region).select(
        F.col("r_regionkey").alias("cr_key")
    )
    ords = orders.filter(
        (F.to_date("o_orderdate") >= F.lit("1995-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey", vol.alias("_vol"))
        .join(
            F.broadcast(
                part.filter(F.col("p_type") == part_type).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(reg), "cr_key")
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("supp_nation") == share_nation, F.col("_vol")
                    ).otherwise(zero)
                ).cast("double")
                / F.sum("_vol").cast("double")
            ).alias("mkt_share"),
            F.sum("_vol").cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    region_name: str,
) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (two broadcast dims + shuffle chain)
    where customer and supplier must share a nation; revenue per nation.

    The customer and supplier sides are pre-filtered with a broadcast
    LEFT SEMI join on the region's nation list BEFORE the join chain
    (r20, guide §3.2 — reduce the big side before shuffling it): the
    final broadcast-nations join plus the c_nationkey == s_nationkey
    condition mean only rows from the region's nations can survive, so
    the semi-joins drop the same rows the chain would — but ~(1 −
    1/|regions|) of the customer table now never enters the
    orders⋈customer exchange, and everything downstream of it (the
    composite-key supplier join input) shrinks by the same factor. Row
    set identical ⇒ the decimal revenue sums are bit-identical."""
    nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            nation.n_regionkey == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    nation_keys = nations.select("n_nationkey")
    customer_f = customer.join(
        F.broadcast(nation_keys),
        customer.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    supplier_f = supplier.join(
        F.broadcast(nation_keys),
        supplier.s_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer_f, orders.o_custkey == customer_f.c_custkey)
        .join(
            supplier_f,
            (lineitem.l_suppkey == supplier_f.s_suppkey)
            & (customer_f.c_nationkey == supplier_f.s_nationkey),
        )
        .join(
            F.broadcast(nations), supplier_f.s_nationkey == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
    )


def pivot_status(orders: DataFrame) -> DataFrame:
    """groupBy().pivot() — wide status columns per priority."""
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
    )


def order_priority_checks(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery → left-semi join, count by priority.

    The EXISTS becomes a LEFT SEMI shuffle join on orderkey; the quarter
    filter prunes orders before the shuffle and the returnflag filter is
    pushed into the lineitem scan, so at 100 TB both sides shrink before
    any network movement. (Adapted: no l_commitdate in this dataset, so
    the inner predicate is l_returnflag = 'R'.)
    """
    ords = orders.filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1996-04-01"))
    ).select("o_orderkey", "o_orderpriority")
    flagged = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        ords.join(flagged, ords.o_orderkey == flagged.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def returned_item_losses(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.

    lineitem(R-flag) ⨝ orders(one quarter) is the big shuffle join;
    customer joins on custkey and nation is broadcast. Top-20 via
    orderBy+limit → TakeOrderedAndProject, no full sort at scale.
    """
    ords = orders.filter(
        (F.to_date("o_orderdate") >= F.lit("1995-07-01"))
        & (F.to_date("o_orderdate") < F.lit("1995-10-01"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(customer, ords.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed N orders.

    LEFT OUTER join with an extra join-side predicate (priority filter
    lives in the ON clause, not WHERE — outer-join semantics differ!),
    then a two-level aggregate. Both groupBys are on low-cardinality
    keys after the first shuffle; AQE coalesces the second.
    """
    ords = orders.select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        customer.select("c_custkey")
        .join(
            ords,
            (F.col("c_custkey") == ords.o_custkey)
            & (ords.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def supplier_counts_by_part(
    part: DataFrame, lineitem: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute, with a
    NOT-IN exclusion list.

    (Adapted: no partsupp table — supplier↔part pairs come from lineitem;
    the excluded set is suppliers with negative balance.) The NOT IN is a
    broadcast anti-join (exclusion list is tiny); count(DISTINCT) expands
    to a two-phase aggregate, both shuffles on the same grouping keys.
    """
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == bad.s_suppkey, "left_anti")
        .join(
            part.filter(F.col("p_size").isin(10, 20, 30, 40)).select(
                "p_partkey", "p_brand", "p_type", "p_size"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def large_volume_customers(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with their customer. HAVING on an exact decimal sum (bit-identical
    across partitionings), then the tiny survivor set joins back
    broadcast — at 100 TB the only full shuffle is the first groupBy.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").cast("string").alias("order_date"),
            "o_totalprice",
            "sum_qty",
        )
    )


def dormant_high_value_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, grouped by nation.

    The scalar AVG subquery is computed distributed and crossJoin-
    broadcast (never collected to the driver); the NOT EXISTS is a
    left-anti shuffle join against the recent-orders keyset.
    """
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(exact_avg("c_acctbal").alias("avg_bal"))
    )
    recent = orders.filter(
        F.to_date("o_orderdate") >= F.lit("2001-01-01")
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal").alias("totacctbal"),
        )
    )


def nation_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str,
    nation_b: str,
) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations, either
    direction, by shipping year. The nation dim is broadcast twice in
    role-playing positions (supplier's vs customer's nation) and the
    pair condition is a disjunction across both aliases — the shape
    Catalyst can't reduce to a single equi-key, so it rides on the
    fact-side joins and filters after."""
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = lineitem.filter(F.year(F.to_date("l_shipdate")).isin(1995, 1996))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == nation_a)
                & (F.col("cust_nation") == nation_b)
            )
            | (
                (F.col("supp_nation") == nation_b)
                & (F.col("cust_nation") == nation_a)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).cast("int").alias("l_year"),
        )
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
    )


def top_revenue_suppliers(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    global max. The max is a distributed scalar (single-row aggregate)
    broadcast back over the revenue table — never collected to the
    driver, and the revenue table is computed once and reused through
    the self-reference (Spark plans it as two scans of the same
    aggregate; at scale, persist it)."""
    rev = (
        lineitem.filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(discounted_price()).cast("double").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def brand_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates. The OR-of-ANDs can't prune the part scan to one brand,
    but the common p_size lower bound and the quantity envelope still
    push down; everything else evaluates post-join in one codegen
    stage."""
    j = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.sum(discounted_price()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def sole_return_suppliers(
    lineitem: DataFrame, orders: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q21 shape: for finished orders with ≥2 suppliers, the
    supplier who is the ONLY one whose lines were returned — the
    classic EXISTS + NOT EXISTS double-correlated subquery.

    Implemented as the aggregate decorrelation a distributed engine
    would pick: one pass over lineitem computes per-order distinct
    supplier counts (all lines / returned lines); the EXISTS becomes
    ``n_supp >= 2`` and the NOT EXISTS becomes ``n_ret_supp == 1`` —
    two shuffles total instead of two correlated re-scans of lineitem.
    (Adapted: no l_commitdate/l_receiptdate in this dataset, so "kept
    waiting" is l_returnflag = 'R'.)"""
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supp"),
    )
    culprit = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    fords = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        culprit.join(fords, culprit.l_orderkey == fords.o_orderkey, "left_semi")
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
            "left_semi",
        )
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def important_part_values(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str,
    fraction: float,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose supply value (from one nation's
    suppliers) exceeds a fraction of the global total — HAVING against
    a scalar subquery over the same aggregate.

    The nation's suppliers are a broadcast filter; part values need one
    shuffle; the global total is the same aggregate re-reduced to a
    scalar and broadcast back, so the comparison never serializes
    through the driver. (Adapted: supplier↔part pairs come from
    lineitem — no partsupp table.)"""
    nkey = nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
    supps = supplier.join(
        F.broadcast(nkey), supplier.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey")
    vals = (
        lineitem.join(F.broadcast(supps), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(discounted_price()).alias("value_dec"))
    ).persist()  # part-level; feeds the scalar total AND the HAVING
    # comparison — persist so the fact scan + groupBy run once (r19, §5)
    total = vals.agg(F.sum("value_dec").alias("total_dec"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * F.lit(fraction)
        )
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
    )


# --- incremental aggregate maintenance (round-5 extension) -----------------
#
# The batch/streaming-unification primitive: keep a PARTIAL-aggregate
# state table (counts + exact decimal sums — associative, mergeable),
# fold new data in as it arrives, and derive final measures (avg) only
# at read time. The merge of two states built from disjoint slices is
# exactly the state built from their union, so incremental gold tables
# never drift from a full recompute (oracle-proven: the composed
# build-increment-merge query hash-matches the one-shot aggregate).


def daily_revenue_state(lineitem: DataFrame) -> DataFrame:
    """Partial-aggregate state per ship date: row count + exact decimal
    sums (revenue, quantity, discount). Decimal accumulation makes the
    state associative — merge order can never change a bit."""
    return lineitem.groupBy(
        F.to_date("l_shipdate").cast("string").alias("ship_date")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(discounted_price()).alias("sum_revenue_dec"),
        F.sum(dec("l_quantity")).alias("sum_qty_dec"),
        F.sum(dec("l_discount")).alias("sum_disc_dec"),
    )


def merge_daily_revenue_states(*states: DataFrame) -> DataFrame:
    """Fold any number of partial states into one: union + re-sum.
    Counts and decimal sums combine exactly; nothing non-associative
    lives in the state."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("ship_date").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_revenue_dec").alias("sum_revenue_dec"),
        F.sum("sum_qty_dec").alias("sum_qty_dec"),
        F.sum("sum_disc_dec").alias("sum_disc_dec"),
    )


def finalize_daily_revenue(state: DataFrame) -> DataFrame:
    """Read-time projection of the state: surface doubles + derived
    averages (never stored — avg is not mergeable, sum/count is)."""
    return state.select(
        "ship_date",
        "n_rows",
        F.col("sum_revenue_dec").cast("double").alias("total_revenue"),
        (F.col("sum_qty_dec").cast("double") / F.col("n_rows")).alias(
            "avg_quantity"
        ),
        (F.col("sum_disc_dec").cast("double") / F.col("n_rows")).alias(
            "avg_discount"
        ),
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Gini concentration of per-key value within each group — e.g.,
    how concentrated customer revenue is inside each nation. 0 = every
    key equal, ->1 = one key holds everything.

    Uses the rank formulation over ascending per-key totals:
        G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n
    Per-key totals accumulate in exact DECIMAL and ranks are integers,
    so every input to the final double arithmetic is bit-exact at any
    partitioning (oracle-checkable). The rank window partitions by the
    group — no global sort.
    """
    per_key = df.groupBy(group_col, key_col).agg(
        F.sum(dec(value_col)).alias("_x")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_x").asc(), F.col(key_col).asc()
    )
    ranked = per_key.withColumn("_i", F.row_number().over(w))
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").cast("double").alias("_total"),
        F.sum(F.col("_i") * F.col("_x")).cast("double").alias("_weighted"),
    )
    gini = (
        F.lit(2.0) * F.col("_weighted") / (F.col("_n") * F.col("_total"))
        - (F.col("_n") + F.lit(1.0)) / F.col("_n")
    )
    return agg.select(
        group_col,
        F.col("_n").cast("bigint").alias("n_keys"),
        F.col("_total").alias("total_value"),
        F.when(F.col("_total") != 0, gini).alias("gini"),
    )


def contribution_analysis(
    df: DataFrame,
    dim_col: str,
    measure_col: str,
    period_col,
    base_period: str,
    comp_period: str,
) -> DataFrame:
    """Period-over-period delta decomposition ("why did the metric
    move"): for each value of ``dim_col``, the measure total in the
    base and comparison periods, the delta, and its share of the total
    movement — ranked by absolute contribution, the standard root-cause
    table behind any "revenue dropped 8%" investigation.

    ``period_col`` is an expression labeling each row's period; rows
    labeled neither period are ignored. Shape: one conditional
    aggregation per dim value (single scan, map-side partial sums),
    a one-row total broadcast back — dimension-sized output. Measure
    sums accumulate in DECIMAL (order-free) so the whole table is
    hash-exact; contribution shares are single IEEE divisions.
    """
    agg = (
        df.filter(period_col.isin(base_period, comp_period))
        .groupBy(F.col(dim_col).alias("dim_value"))
        .agg(
            exact_sum(
                F.when(period_col == base_period, F.col(measure_col)).otherwise(
                    F.lit(0.0)
                )
            ).alias("base_total"),
            exact_sum(
                F.when(period_col == comp_period, F.col(measure_col)).otherwise(
                    F.lit(0.0)
                )
            ).alias("comp_total"),
        )
        .withColumn("delta", F.col("comp_total") - F.col("base_total"))
    )
    # delta is a per-dimension TOTAL, not a ≤6-digit source measure:
    # dec()'s decimal(18,6) would overflow (ANSI cast error) once
    # |delta| reaches 1e12 — plausible for revenue at 100 TB. Sum at
    # decimal(28,6): still order-free/exact, headroom to 1e22.
    total = agg.agg(
        F.sum(F.col("delta").cast(DEC_TOTAL)).cast("double").alias("_total_delta")
    )
    w = Window.orderBy(F.abs(F.col("delta")).desc(), F.col("dim_value"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "dim_value",
            "base_total",
            "comp_total",
            "delta",
            F.when(
                F.col("_total_delta") != 0.0,
                F.col("delta") / F.col("_total_delta"),
            ).alias("delta_share"),
            F.row_number().over(w).cast("int").alias("contribution_rank"),
        )
    )


def product_type_profit(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    orders: DataFrame,
    name_token: str = "red",
    cost_factor: float = 0.6,
) -> DataFrame:
    """TPC-H Q9 shape (adapted): profit by supplier nation and order
    year for parts whose name contains ``name_token``. The dataset has
    no partsupp table, so supply cost derives as ``cost_factor ·
    p_retailprice`` — the JOIN/AGG shape (4 joins incl. two broadcast
    dims, LIKE pushdown on part, year extraction, decimal-exact profit
    sums) is the point, not the cost model.
    """
    amount = F.col("l_extendedprice") * (1.0 - F.col("l_discount")) - F.lit(
        cost_factor
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_name").contains(name_token)).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy").alias("o_year"),
        )
        .agg(exact_sum(amount).alias("sum_profit"))
    )


def min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    region_name: str = "EUROPE",
    size: int = 5,
) -> DataFrame:
    """TPC-H Q2 shape (adapted): for each part of a given size, the
    supplier(s) in a region offering the minimum unit price. The
    part-supplier cost relation derives from lineitem (min observed
    ``l_extendedprice / l_quantity`` per (part, supplier)) since the
    dataset has no partsupp — the correlated per-group MIN plus the
    region-restricted dim chain is the exercised shape.
    """
    nr = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    # Pre-filter the fact side BEFORE the (partkey, suppkey) aggregation
    # (r20, guide §3.2/§2.3 — shuffle fewer bytes): the p_size predicate
    # keeps ~1/50 of parts, and per-key MIN commutes with filtering on
    # the grouping key, so joining the broadcast filtered part list
    # first and aggregating the survivors produces exactly the rows the
    # old aggregate-then-join computed — while the aggregation exchange
    # carries only matching lineitem rows instead of the whole fact
    # table. The same broadcast relation is reused as the p_brand
    # payload (it rides through the aggregation as a grouping column's
    # 1:1 attribute — each partkey has ONE brand — via a post-agg
    # rejoin, kept broadcast).
    sized_parts = part.filter(F.col("p_size") == size).select(
        "p_partkey", "p_brand"
    )
    cost = (
        lineitem.join(
            F.broadcast(sized_parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("unit_cost")
        )
    )
    offers = (
        cost.join(
            F.broadcast(sized_parts),
            F.col("partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name", "s_nationkey")),
            F.col("suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nr),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    w = Window.partitionBy("partkey")
    return (
        offers.withColumn("_min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("_min_cost"))
        .select(
            F.col("partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            F.col("n_name").alias("nation"),
            "unit_cost",
        )
    )


def promotion_candidate_suppliers(
    supplier: DataFrame,
    nation: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    name_token: str = "red",
    year: str = "1999",
    qty_factor: float = 60.0,
) -> DataFrame:
    """TPC-H Q20 shape (adapted): suppliers in any nation who shipped
    more than ``qty_factor`` units of some ``name_token`` part in a
    year — the nested semi-join chain (supplier IN (... part IN (...)))
    that Q20 exercises, with the availqty comparison replaced by a
    shipped-quantity threshold (no partsupp table).
    """
    qualifying = (
        lineitem.filter(
            F.date_format("l_shipdate", "yyyy") == year
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_name").contains(name_token)).select(
                    "p_partkey"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(exact_sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > qty_factor)
        .select(F.col("l_suppkey").alias("suppkey"))
        # no distinct: left_semi has set semantics on the build side
    )
    return (
        supplier.join(qualifying, F.col("s_suppkey") == F.col("suppkey"), "left_semi")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
