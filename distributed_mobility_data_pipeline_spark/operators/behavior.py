"""User-behavior analytics: funnel conversion, cohort retention, RFM
segmentation.

Extensions beyond the reference's aggregate surface (the reference's
event rollups stop at hourly demand / status distributions,
src/transformations/gold_layer.py) — these are the standard
behavioral-analytics shapes a mobility/product team runs on the same
events table.

Scale notes (100 TB):
- ``funnel_stages`` does ONE shuffle: every per-user milestone is a
  window over the same ``partitionBy(user)`` spec, and the follow-up
  per-user collapse reuses that hash partitioning (no second exchange
  on the event stream).
- ``cohort_retention`` reduces events to distinct (user, month) first —
  all later joins/aggs run on the reduced table.
- ``rfm_scores`` runs its ntile sorts over the per-customer AGGREGATE
  (dimension-sized), never the order fact. At billions of customers
  use ``rfm_scores_hist`` below: quantile cutoffs from fixed-bin
  histograms, broadcast back, map-side scoring — no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import DEC_FRAC, exact_sum


def user_milestones(
    events: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user sequential funnel milestones: one row per user with
    ``_t0.._tk`` — the first timestamp at which the user reached each
    stage IN ORDER (stage i+1 counts only events at-or-after the user's
    first stage-i event; unreached stages are NULL).

    Every milestone is a window over ONE hash partitioning on the user
    and the collapse reuses it — a single exchange on the event stream.
    """
    if len(stages) < 2:
        raise ValueError(f"funnel needs >= 2 stages, got {list(stages)}")
    if any("'" in s for s in stages):
        # stage names are spliced into a stack() expression literal
        raise ValueError("stage names must not contain single quotes")
    w = Window.partitionBy(user_col)
    df = events.select(user_col, ts_col, type_col)
    prev: str | None = None
    for i, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev is not None:
            # milestone i requires an at-or-after-the-previous-milestone
            # event; users who never hit stage i-1 stay NULL (the
            # condition is NULL-safe: NULL >= x is NULL, never true)
            cond = cond & (F.col(ts_col) >= F.col(prev))
        df = df.withColumn(f"_t{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = f"_t{i}"
    milestone_cols = [f"_t{i}" for i in range(len(stages))]
    return df.groupBy(user_col).agg(
        *[F.max(c).alias(c) for c in milestone_cols]
    )


def funnel_stages(
    events: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: how many users reach each stage in
    sequence (stage i+1 counts only events at-or-after the user's first
    stage-i event).

    Returns one row per stage: (stage_idx, stage, users, pct_of_first).
    """
    per_user = user_milestones(events, stages, user_col, ts_col, type_col)
    milestone_cols = [f"_t{i}" for i in range(len(stages))]
    counts = per_user.agg(
        *[
            F.count(F.when(F.col(c).isNotNull(), F.lit(1))).alias(f"_n{i}")
            for i, c in enumerate(milestone_cols)
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', _n{i}" for i, s in enumerate(stages)
    )
    return counts.select(
        F.col("_n0").alias("_first"),
        F.expr(
            f"stack({len(stages)}, {stack_args}) AS (stage_idx, stage, users)"
        ),
    ).select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        F.col("users").cast("bigint").alias("users"),
        F.when(
            F.col("_first") > 0,
            F.lit(100.0) * F.col("users") / F.col("_first"),
        ).alias("pct_of_first"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention: users grouped by their first-activity period
    (``week`` — ISO Monday start — or ``month``), tracked across
    subsequent periods.

    Returns (cohort_period, period_offset, n_users, cohort_size,
    retention_pct) — offset 0 is the cohort itself (retention 100%).
    """
    if period not in ("week", "month"):
        raise ValueError(f"period must be 'week' or 'month', got {period!r}")
    activity = events.select(
        F.col(user_col).alias("_user"),
        F.date_trunc(period, F.col(ts_col)).alias("_am"),
    ).distinct()
    first = activity.groupBy("_user").agg(F.min("_am").alias("_cm"))
    # join on _user: both sides are hash-partitioned on _user by their
    # own shuffles, so the join itself adds no exchange
    if period == "week":
        # truncated-to-Monday timestamps differ by exact multiples of 7d
        offset = F.floor(F.datediff(F.col("_am"), F.col("_cm")) / 7)
    else:
        offset = (F.year("_am") * 12 + F.month("_am")) - (
            F.year("_cm") * 12 + F.month("_cm")
        )
    per = activity.join(first, "_user").select(
        "_cm", offset.alias("period_offset")
    )
    counts = per.groupBy("_cm", "period_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    # cohort_size = the offset-0 row of each cohort (present by
    # construction); the window runs over the tiny rollup, not events
    wc = Window.partitionBy("_cm")
    sized = counts.withColumn(
        "cohort_size",
        F.max(F.when(F.col("period_offset") == 0, F.col("n_users"))).over(wc),
    )
    fmt = "yyyy-MM-dd" if period == "week" else "yyyy-MM"
    return sized.select(
        F.date_format("_cm", fmt).alias("cohort_period"),
        F.col("period_offset").cast("int").alias("period_offset"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        (F.lit(100.0) * F.col("n_users") / F.col("cohort_size")).alias(
            "retention_pct"
        ),
    )


def rfm_scores(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation.

    Recency is measured against the latest order date in the table (so
    the query is reproducible, not wall-clock dependent). Each dimension
    is scored 1..n_tiles with ntile; HIGHER is better (most recent /
    most frequent / highest spend = n_tiles). Ties broken by customer
    key so the result is deterministic.

    The ntile windows sort the per-customer aggregate — dimension-sized,
    not fact-sized. See module docstring for the billions-of-customers
    variant.
    """
    asof = orders.agg(F.max(F.col(date_col)).alias("_asof"))
    per = orders.groupBy(customer_col).agg(
        F.max(date_col).alias("last_order_date"),
        F.count(F.lit(1)).alias("frequency"),
        exact_sum(amount_col).alias("monetary"),
    )
    per = per.crossJoin(F.broadcast(asof)).withColumn(
        "recency_days", F.datediff(F.col("_asof"), F.col("last_order_date"))
    )
    key = F.col(customer_col)
    r_score = F.ntile(n_tiles).over(
        Window.orderBy(F.col("recency_days").desc(), key.asc())
    )
    f_score = F.ntile(n_tiles).over(
        Window.orderBy(F.col("frequency").asc(), key.asc())
    )
    m_score = F.ntile(n_tiles).over(
        Window.orderBy(F.col("monetary").asc(), key.asc())
    )
    scored = per.select(
        key.alias("custkey"),
        F.col("recency_days").cast("int").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        r_score.cast("int").alias("r_score"),
        f_score.cast("int").alias("f_score"),
        m_score.cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def type_entropy(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy (nats) of the
    user's event-type distribution. 0 = one-track users; ln(k) = uses
    all k types uniformly. The standard engagement-breadth feature.

    Two grouped aggregations (user x type counts, then per-user fold);
    counts are exact integers so the only floating-point steps are the
    per-type p*ln(p) terms — identical expressions on both engines.
    """
    counts = events.groupBy(user_col, type_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    totals = counts.groupBy(user_col).agg(
        F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_k")
    )
    # join on the user key both sides are already hash-partitioned on
    p = F.col("_c") / F.col("_n")
    return (
        counts.join(totals, user_col)
        .groupBy(user_col)
        .agg(
            F.first("_n").cast("bigint").alias("n_events"),
            F.first("_k").cast("int").alias("n_types"),
            (-F.sum(p * F.log(p))).alias("entropy"),
        )
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Event-type transition counts (the Markov matrix of user
    behavior): for each consecutive pair of events per user, count
    (from_type, to_type) and its share of all transitions leaving
    from_type.

    One lag window per user (single shuffle on the key) + one grouped
    count; the row-share denominator comes from a window over the tiny
    (k x k) matrix, not the event stream.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak)
    pairs = (
        events.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") / F.sum("n").over(wrow)).alias("row_share"),
    )


def period_growth(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period: str = "week",
) -> DataFrame:
    """Period-over-period growth of event volume and value sum (the
    WoW/MoM dashboard shape): per period, counts, exact decimal value
    sums, and percent change vs the previous period.

    The lag window runs over the aggregated period series (tiny); the
    event stream is touched once by the rollup.
    """
    if period not in ("week", "month", "day"):
        raise ValueError(f"period must be day/week/month, got {period!r}")
    fmt = {"day": "yyyy-MM-dd", "week": "yyyy-MM-dd", "month": "yyyy-MM"}[period]
    agg = events.groupBy(
        F.date_trunc(period, F.col(ts_col)).alias("_p")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(value_col).alias("sum_value"),
    )
    w = Window.orderBy("_p")  # over the period rollup, not events
    prev_n = F.lag("n_events").over(w)
    prev_v = F.lag("sum_value").over(w)
    return agg.select(
        F.date_format("_p", fmt).alias("period"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value",
        F.when(prev_n > 0, F.lit(100.0) * (F.col("n_events") - prev_n) / prev_n)
        .alias("events_growth_pct"),
        F.when(prev_v != 0, F.lit(100.0) * (F.col("sum_value") - prev_v) / prev_v)
        .alias("value_growth_pct"),
    )


def funnel_timing(
    events: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert between consecutive funnel stages: for users who
    reached stage i+1, the lag from their stage-i milestone — converted
    count, exact mean, and exact median of the lag in microseconds.

    Lags are exact integer microseconds, so the mean (integer sum / one
    IEEE division) and interpolated median are bit-reproducible. The
    percentile aggregates run per stage-pair over the converted-user
    lags (user-count-sized, not event-sized).
    """
    miles = user_milestones(events, stages, user_col, ts_col, type_col)
    spark = events.sparkSession
    outs = []
    for i in range(len(stages) - 1):
        lag = F.unix_micros(F.col(f"_t{i+1}")) - F.unix_micros(F.col(f"_t{i}"))
        outs.append(
            miles.filter(F.col(f"_t{i+1}").isNotNull())
            .select(lag.alias("_lag"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_converted"),
                (F.sum("_lag").cast("double") / F.count(F.lit(1))).alias(
                    "avg_lag_us"
                ),
                F.expr("percentile(_lag, 0.5)").alias("median_lag_us"),
            )
            .select(
                F.lit(f"{stages[i]}>{stages[i+1]}").alias("transition"),
                "n_converted",
                "avg_lag_us",
                "median_lag_us",
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def touch_attribution(
    events: DataFrame,
    conversion: str = "purchase",
    lookback_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First/last-touch attribution: for every conversion event, the
    earliest and latest non-conversion event by the same user inside
    the lookback window ``[conv_ts - lookback_days, conv_ts)`` —
    closed at the lookback edge (a touch exactly lookback_days old
    still counts: rangeBetween's frame start is inclusive), open at
    the conversion instant.

    One row per conversion: ``conv_id, user_id, conv_ts_us,
    first_touch_type, last_touch_type, n_touches`` (NULL types / zero
    count when the user had no touch in the window).

    Scale shape (100 TB): ONE exchange — all three window functions
    share a single ``partitionBy(user)`` ordered-by-microseconds spec
    with a RANGE frame, so the event stream is hashed once and never
    self-joined (the naive form is a per-conversion range self-join;
    this is the window rewrite of it, same trick as the as-of join
    twin in operators/asof.py). The frame end is ``-1`` microsecond:
    touches strictly BEFORE the conversion, never peers at the same
    timestamp. Deterministic cross-engine because (user, ts) pairs are
    unique in the event stream and the frame is value-based, not
    row-based. Extension beyond the reference's event rollups
    (src/transformations/gold_layer.py stops at hourly aggregates).
    """
    us = F.unix_micros(F.col(ts_col))
    lookback_us = int(lookback_days) * 86_400 * 1_000_000
    w = (
        Window.partitionBy(user_col)
        .orderBy(us)
        .rangeBetween(-lookback_us, -1)
    )
    touch_type = F.when(F.col(type_col) != conversion, F.col(type_col))
    # first/last over the value-range frame: earliest / latest touch
    # inside the lookback (ignorenulls skips conversion events, which
    # never count as touches)
    annotated = events.select(
        F.col(id_col).alias("conv_id"),
        F.col(user_col).alias("user_id"),
        us.alias("conv_ts_us"),
        F.col(type_col).alias("_type"),
        F.first(touch_type, ignorenulls=True).over(w).alias(
            "first_touch_type"
        ),
        F.last(touch_type, ignorenulls=True).over(w).alias(
            "last_touch_type"
        ),
        F.count(touch_type).over(w).cast("bigint").alias("n_touches"),
    )
    return annotated.filter(F.col("_type") == conversion).drop("_type")


def attribution_credit(
    events: DataFrame,
    conversion: str = "purchase",
    lookback_days: int = 7,
    **kwargs,
) -> DataFrame:
    """Channel-credit rollup of :func:`touch_attribution`: per touch
    event type, how many conversions credit it under the first-touch
    vs the last-touch model (untouched conversions roll up under the
    NULL-type row as ``'(none)'``).

    The rollup runs on the conversion-sized attribution table, so the
    only event-stream-sized work is the single window exchange of the
    underlying operator. ONE pass over that table (r19, guide §2.4):
    each conversion explodes into its (model, touch_type) credit pairs
    and a single groupBy counts both models — the previous two separate
    rollups each re-ran the event-stream window, then full-outer-joined
    the counts back together (three exchanges where one suffices; the
    per-model count of a type equals the conditional count in the fused
    aggregation, and the full-outer row set equals the distinct union
    of both models' types, so the output is row-for-row identical).
    """
    attr = touch_attribution(
        events, conversion=conversion, lookback_days=lookback_days, **kwargs
    )
    pairs = attr.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("f").alias("_m"),
                    F.coalesce("first_touch_type", F.lit("(none)")).alias(
                        "touch_type"
                    ),
                ),
                F.struct(
                    F.lit("l").alias("_m"),
                    F.coalesce("last_touch_type", F.lit("(none)")).alias(
                        "touch_type"
                    ),
                ),
            )
        ).alias("_p")
    ).select("_p.*")
    return pairs.groupBy("touch_type").agg(
        F.coalesce(F.sum(F.when(F.col("_m") == "f", 1)), F.lit(0))
        .cast("bigint")
        .alias("first_touch_credits"),
        F.coalesce(F.sum(F.when(F.col("_m") == "l", 1)), F.lit(0))
        .cast("bigint")
        .alias("last_touch_credits"),
    )


def window_funnel(
    events: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    window_hours: int = 24,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """ClickHouse-style ``windowFunnel``: per user, the deepest stage
    ``k`` such that some strictly-ordered event chain
    ``stage_1 < stage_2 < ... < stage_k`` completes within
    ``window_hours`` of its OWN stage-1 event. Differs from
    :func:`funnel_stages`, which anchors every stage to the user's
    global first milestone — this one lets any stage-1 occurrence open
    a fresh window.

    Greedy earliest-next-stage chaining is depth-optimal (an earlier
    stage-i event can only widen the remaining window), so the exact
    semantics reduce to: annotate every event with the earliest
    STRICTLY-LATER event time of each stage (one descending per-user
    window, running min), then walk the chain with ``len(stages) - 2``
    equi-joins on (user, exact event time) — never a per-row scan or a
    UDF. Returns one row per user owning >= 1 stage-1 event:
    ``user_id, funnel_level``.

    Scale shape (100 TB): one user-hash window exchange over the
    stage-filtered stream plus k-2 equi-joins whose left side shrinks
    to stage-1-event cardinality. Deterministic: (user, ts) unique.
    """
    if len(stages) < 2:
        raise ValueError(f"window_funnel needs >= 2 stages, got {stages!r}")
    k = len(stages)
    limit_us = int(window_hours) * 3_600 * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    ev = (
        events.filter(F.col(type_col).isin(list(stages)))
        .select(
            F.col(user_col).alias("user_id"),
            F.col(type_col).alias("_type"),
            us.alias("_us"),
        )
    )
    wdesc = (
        Window.partitionBy("user_id")
        .orderBy(F.col("_us").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ann = ev
    for i in range(2, k + 1):
        nxt = F.min(
            F.when(F.col("_type") == stages[i - 1], F.col("_us"))
        ).over(wdesc)
        ann = ann.withColumn(f"_next{i}", nxt)

    chain = ann.filter(F.col("_type") == stages[0]).select(
        "user_id",
        F.col("_us").alias("_t1"),
        F.col("_next2").alias("_c2"),
    )
    for i in range(3, k + 1):
        # read stage-(i-1)'s earliest-next pointer at the row we chained
        # to: equi-join on the exact event time
        step = ann.filter(F.col("_type") == stages[i - 2]).select(
            "user_id",
            F.col("_us").alias(f"_c{i-1}"),
            F.col(f"_next{i}").alias(f"_c{i}"),
        )
        chain = chain.join(step, ["user_id", f"_c{i-1}"], "left")

    limit = F.col("_t1") + F.lit(limit_us)
    level = F.lit(1)
    for i in range(2, k + 1):
        cond = F.col(f"_c{i}").isNotNull() & (F.col(f"_c{i}") <= limit)
        level = F.when(cond, F.lit(i)).otherwise(level)
    return (
        chain.select("user_id", level.alias("_lvl"))
        .groupBy("user_id")
        .agg(F.max("_lvl").cast("int").alias("funnel_level"))
    )


def stickiness(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Product stickiness per day: DAU / trailing-``window_days``
    active users (the DAU/WAU ratio product teams track; 1.0 = every
    weekly-active user shows up daily).

    Both counts come off the SAME distinct (key, day) reduction —
    raw events are deduplicated once, then the rolling count joins the
    day list against the reduced activity table (the
    sketches.rolling_distinct_exact shape) and DAU is a trivial
    groupBy of it. Nothing re-scans events.
    """
    activity = events.select(
        F.col(key_col).alias("_k"),
        F.date_trunc("day", F.col(ts_col)).alias("_d"),
    ).distinct().persist()  # three consumers (dau, day list, rolling
    # join) each re-ran the event scan + distinct un-persisted (r19, §5)
    dau = activity.groupBy("_d").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    days = activity.select("_d").distinct().withColumnRenamed("_d", "_day")
    # pure-inequality join → BroadcastNestedLoopJoin: pin the BOUNDED
    # day list as the broadcast build side (same deliberate shape as
    # sketches.rolling_distinct_exact, which plan-guards it) so Catalyst
    # can never pick the unbounded activity table from size estimates
    rolling = (
        F.broadcast(days).join(
            activity,
            (F.col("_d") <= F.col("_day"))
            & (F.col("_d") > F.date_sub(F.col("_day"), window_days)),
        )
        .groupBy("_day")
        .agg(F.countDistinct("_k").cast("bigint").alias("window_au"))
    )
    return (
        dau.join(rolling, dau["_d"] == rolling["_day"])
        .select(
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            "dau",
            "window_au",
            (F.col("dau").cast("double") / F.col("window_au")).alias(
                "stickiness"
            ),
        )
    )


def attribution_linear(
    events: DataFrame,
    conversion: str = "purchase",
    lookback_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Linear multi-touch attribution: every touch inside a
    conversion's strict lookback window shares the conversion's credit
    equally (1/n each) — the equal-weight complement of
    :func:`touch_attribution`'s first/last models. Returns one row per
    touch type: ``touch_type, linear_credits, n_touch_events``.

    Determinism: per-touch credit 1/n is rounded into
    ``decimal(28,12)`` BEFORE aggregation, so the credit sum is
    associative (partition-order independent) and bit-identical
    cross-engine — summing raw double reciprocals would drift in the
    last bits per shuffle layout (functions/exact.py's idiom).

    Scale shape (100 TB): conversions × touches is an equi-join on the
    user hash with a post-join range filter (the
    stream_stream_conversions shape) — candidate pairs are bounded per
    user, never a global product; both aggregates are map-side
    combined."""
    us = F.unix_micros(F.col(ts_col))
    lookback_us = int(lookback_days) * 86_400 * 1_000_000
    convs = events.filter(F.col(type_col) == conversion).select(
        F.col(user_col).alias("_u"),
        F.col(id_col).alias("_conv_id"),
        us.alias("_conv_us"),
    )
    touches = events.filter(F.col(type_col) != conversion).select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("touch_type"),
        us.alias("_touch_us"),
    )
    pairs = convs.join(touches, "_u").filter(
        (F.col("_touch_us") >= F.col("_conv_us") - F.lit(lookback_us))
        & (F.col("_touch_us") < F.col("_conv_us"))
    )
    w = Window.partitionBy("_conv_id")
    credit = (F.lit(1.0) / F.count(F.lit(1)).over(w)).cast(DEC_FRAC)
    return (
        pairs.withColumn("_credit", credit)
        .groupBy("touch_type")
        .agg(
            F.sum("_credit").cast("double").alias("linear_credits"),
            F.count(F.lit(1)).cast("bigint").alias("n_touch_events"),
        )
    )


def rfm_scores_hist(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 4,
    r_range: tuple[float, float] = (0.0, 4000.0),
    f_range: tuple[float, float] = (0.0, 100.0),
    m_range: tuple[float, float] = (0.0, 10_000_000.0),
    n_bins: int = 40,
) -> DataFrame:
    """Scale path for :func:`rfm_scores` — the histogram-cutoff variant
    the module docstring promises for billions of customers: ntile's
    global sort over the customer table is replaced by per-dimension
    quantile CUTOFFS from fixed-bin histograms (bounded summaries,
    broadcast back, map-side scoring).

    Scoring rule: for frequency/monetary, ``1 + #(cutoffs < value)``;
    recency scores against the inverted axis so fresher customers score
    higher — same direction conventions as rfm_scores. NOT a bit-twin
    of ntile (threshold buckets vs equal-count tiles under ties; cutoff
    resolution is bin-width bounded) — it is its own deterministic,
    hash-checkable contract.

    CHOOSE THE RANGES: values outside [lo, hi) clamp into the edge
    bins, and if most of a dimension's mass clamps, all its cutoffs
    collapse into one bin and the scores stop discriminating (near-
    constant tiles). Size each range from the metric's profile
    (quality_full_report / freshness give the bounds); the defaults fit
    the driver dataset only."""
    from distributed_mobility_data_pipeline_spark.operators import sketches

    # The per-customer rollup feeds FOUR consumers (three histogram
    # cutoff paths + the final scoring pass); without a persist each one
    # re-ran the orders scan + customer groupBy — the r19 plan audit
    # counted 14 fact scans / 26 exchanges in this query. Persisting the
    # rollup makes it one scan + one exchange; everything downstream is
    # summary- or customer-level work over the cached rows (guide §5:
    # reuse > recompute when the intermediate is aggregated). The as-of
    # date also derives from the rollup now — max over per-customer
    # maxima IS the global max — instead of its own orders scan.
    per0 = (
        orders.groupBy(customer_col)
        .agg(
            F.max(date_col).alias("last_order_date"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            exact_sum(amount_col).alias("monetary"),
        )
        .persist()
    )
    asof = per0.agg(F.max("last_order_date").alias("_asof"))
    per = (
        per0.crossJoin(F.broadcast(asof))
        .withColumn(
            "recency_days",
            F.datediff(F.col("_asof"), F.col("last_order_date")).cast("double"),
        )
    )
    qs = [float(i) / n_tiles for i in range(1, n_tiles)]

    # ONE histogram pass over the cached rollup (r20, guide §2.4 —
    # VERDICT r19 #6): each customer row explodes into its three
    # (dimension, bin) memberships and one groupBy counts all three
    # 40-bin histograms together, so the rollup cache is scanned once
    # where the three per-dimension binned_value_histograms calls
    # scanned it three times (at a billion customers: two full
    # customer-table passes saved). Bin math is copied literal-for-
    # literal from binned_value_histograms — per-dimension lo/width
    # stay Python literals inside each struct, and the bin-NULL filter
    # reproduces its isNotNull row drop — so the per-dimension (bin, n)
    # row sets are identical. The fused table (≤ 3 × n_bins rows) is
    # persisted: the three inversions below each filter it by tag
    # instead of re-running the pass.
    def _dim_bins(col: str, lo: float, hi: float, tag: str):
        width = (hi - lo) / n_bins
        b = F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_bins - 1),
                F.floor((F.col(col) - F.lit(lo)) / F.lit(width)),
            ),
        ).cast("bigint")
        return F.struct(F.lit(tag).alias("_dim"), b.alias("bin"))

    fused_hist = (
        per.select(
            F.explode(
                F.filter(
                    F.array(
                        _dim_bins("recency_days", *r_range, "r"),
                        _dim_bins("frequency", *f_range, "f"),
                        _dim_bins("monetary", *m_range, "m"),
                    ),
                    # a NULL bin means a NULL value: binned_value_
                    # histograms drops those rows pre-group; lo/width
                    # are literals, so bin is NULL iff the value is
                    lambda s: s["bin"].isNotNull(),
                )
            ).alias("_db")
        )
        .select("_db.*")
        .groupBy("_dim", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )

    # The three dimensions' cutoffs fold into ONE one-row broadcast
    # (r19, guide §2.4): tagging each dimension's (q, value_q) rows and
    # collecting the three sorted arrays in a single aggregation
    # replaces three separate broadcast-build jobs + crossJoins with
    # one. Each dimension's inversion math is untouched — the literal
    # lo/width edges keep quantiles_from_histograms' SQL-text hash
    # contract (r20: fusing the EDGES into data would have traded the
    # bit-pinned literal arithmetic for column arithmetic) — so the
    # arrays are element-identical to the old per-dimension builds
    # (collect_list skips the other dimensions' NULLed rows; array_sort
    # over (q, value_q) structs orders by q ascending as before).
    def _cut_rows(lo: float, hi: float, tag: str):
        hist = fused_hist.filter(F.col("_dim") == tag).select("bin", "n")
        return sketches.quantiles_from_histograms(
            hist, [], qs, lo, hi, n_bins
        ).select(F.lit(tag).alias("_dim"), "q", "value_q")

    def _dim_arr(tag: str):
        return F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_dim") == tag, F.struct("q", "value_q")
                    )
                )
            ),
            lambda s: s["value_q"],
        )

    cuts = (
        _cut_rows(*r_range, "r")
        .unionByName(_cut_rows(*f_range, "f"))
        .unionByName(_cut_rows(*m_range, "m"))
        .groupBy()
        .agg(
            _dim_arr("r").alias("_rc"),
            _dim_arr("f").alias("_fc"),
            _dim_arr("m").alias("_mc"),
        )
    )

    def _score_above(value_col: str, cuts_col: str):
        # 1 + number of cutoffs strictly below the value
        return (
            F.lit(1)
            + F.size(
                F.filter(F.col(cuts_col), lambda c: c < F.col(value_col))
            )
        ).cast("int")

    def _score_below(value_col: str, cuts_col: str):
        # inverted axis: 1 + number of cutoffs strictly above the value
        return (
            F.lit(1)
            + F.size(
                F.filter(F.col(cuts_col), lambda c: c > F.col(value_col))
            )
        ).cast("int")

    scored = (
        per.crossJoin(F.broadcast(cuts))
        .select(
            # same key name as rfm_scores, so joins written against the
            # exact form keep working on substitution
            F.col(customer_col).alias("custkey"),
            F.col("recency_days").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
            _score_below("recency_days", "_rc").alias("r_score"),
            _score_above("frequency", "_fc").alias("f_score"),
            _score_above("monetary", "_mc").alias("m_score"),
        )
    )
    # same derived segment label as rfm_scores, so this really is a
    # drop-in for consumers of the exact form
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )
