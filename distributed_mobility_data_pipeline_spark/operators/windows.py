"""Window-function operators (SURVEY.md §2.6 W1-W5, M9 churn labeling).

Re-expresses the reference's feature-engineering windows
(feature_engineering.py:91-114, 222-245, 299-328): lag/lead features,
rolling row-frame stats, and the gap-based churn label. Two upgrades
over the reference:

- deterministic ordering everywhere (explicit tie-break columns);
- a time-correct ``rangeBetween`` variant — the reference's row frames
  ("last 168 rows" ≈ "7 days", feature_engineering.py:103-109) are only
  correct on a dense grid; the range frame is correct on sparse grids.

Rolling stddev is computed from exact decimal sums
(sqrt((Σx² − (Σx)²/n)/(n−1))) instead of the built-in ``stddev`` so the
result is identical regardless of intra-frame accumulation order — same
trick as functions/exact.py, applied per frame.

Scale: every window here partitions by a key (zone/type/entity), so
state is bounded per partition and Spark's window exec streams sorted
runs — no driver collection, shuffles only on the partition keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import dec, exact_sum


def daily_counts(events: DataFrame) -> DataFrame:
    """Dense daily demand grain per event_type (the A4 grain at day
    resolution) — input for lag/rolling features."""
    return (
        events.groupBy(
            F.to_date("ts").alias("d"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value").alias("sum_value"),
        )
    )


def with_lags(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    lags: list[int],
    prefix: str | None = None,
) -> DataFrame:
    """Lag features — W2 (feature_engineering.py:91-100: lag 1/7/14 of
    trip_count over (zone, hour))."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    p = prefix or f"{value_col}_lag_"
    for n in lags:
        df = df.withColumn(f"{p}{n}", F.lag(value_col, n).over(w))
    return df


def _exact_rolling(
    value_col: str, w: WindowSpec
) -> tuple[Column, Column, Column]:
    """(count, Σx, Σx²) over the frame, exactly (decimal accumulate)."""
    x = dec(value_col)
    cnt = F.count(value_col).over(w)
    s1 = F.sum(x).over(w).cast("double")
    s2 = F.sum(x * x).over(w).cast("double")
    return cnt, s1, s2


def _std_from_moments(cnt: Column, s1: Column, s2: Column) -> Column:
    # zero-clamp before sqrt: on constant-valued frames catastrophic
    # cancellation can make s2 - s1²/cnt a tiny NEGATIVE double, and
    # sqrt of that is NaN — which Spark orders GREATER than any number,
    # so a downstream z-score filter would flag exactly the flat frames
    # that have zero variance (same hardening as cusum_alarms).
    var = F.greatest((s2 - s1 * s1 / cnt) / (cnt - 1), F.lit(0.0))
    return F.when(cnt > 1, F.sqrt(var)).otherwise(F.lit(None))


def with_rolling_rows(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    n_rows: int,
    suffix: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Trailing row-frame rolling stats — W4
    (feature_engineering.py:103-114: rowsBetween(-168,-1) avg/stddev).
    Frame = previous ``n_rows`` rows, excluding current."""
    order = [F.col(order_col)] + [F.col(c) for c in (tiebreak or [])]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-n_rows, -1)
    )
    cnt, s1, s2 = _exact_rolling(value_col, w)
    return (
        df.withColumn(f"avg_{suffix}", s1 / cnt)
        .withColumn(f"std_{suffix}", _std_from_moments(cnt, s1, s2))
        .withColumn(f"cnt_{suffix}", cnt)
    )


def with_rolling_range_days(
    df: DataFrame,
    keys: list[str],
    date_col: str,
    value_col: str,
    n_days: int,
    suffix: str,
) -> DataFrame:
    """Time-correct trailing window — the rangeBetween variant of W4
    (SURVEY.md §2.6 note). Frame = previous ``n_days`` calendar days
    (excluding today) keyed on epoch day, correct on sparse grids."""
    epoch_day = F.datediff(F.col(date_col), F.lit("1970-01-01"))
    df = df.withColumn("_epoch_day", epoch_day)
    w = (
        Window.partitionBy(*keys)
        .orderBy("_epoch_day")
        .rangeBetween(-n_days, -1)
    )
    cnt, s1, s2 = _exact_rolling(value_col, w)
    return (
        df.withColumn(f"avg_{suffix}", s1 / cnt)
        .withColumn(f"std_{suffix}", _std_from_moments(cnt, s1, s2))
        .withColumn(f"cnt_{suffix}", cnt)
        .drop("_epoch_day")
    )


def running_total(
    df: DataFrame, keys: list[str], order_col: str, value_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Cumulative sum per key (unboundedPreceding → current row)."""
    order = [F.col(order_col)] + [F.col(c) for c in (tiebreak or [])]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        "running_total", F.sum(dec(value_col)).over(w).cast("double")
    )


def rank_within(
    df: DataFrame, keys: list[str], order_col: str, desc: bool = True
) -> DataFrame:
    """Ranking trio — W1 surface (row_number/rank/dense_rank)."""
    oc = F.col(order_col).desc() if desc else F.col(order_col)
    w = Window.partitionBy(*keys).orderBy(oc)
    return (
        df.withColumn("rk", F.rank().over(w))
        .withColumn("drk", F.dense_rank().over(w))
    )


def churn_label(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    churn_gap_days: int = 30,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Gap-based churn labeling — W3/M9
    (feature_engineering.py:319-328): lead(next activity date) per
    entity; label 1 when the gap exceeds ``churn_gap_days`` or there is
    no next activity. ``tiebreak`` makes lead deterministic when an
    entity has several rows on the same date."""
    order = [F.col(date_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(entity_col).orderBy(*order)
    nxt = F.lead(F.col(date_col), 1).over(w)
    return (
        df.withColumn("next_date", nxt)
        .withColumn("days_to_next", F.datediff(nxt, F.col(date_col)))
        .withColumn(
            "will_churn",
            F.when(
                F.col("days_to_next").isNull()
                | (F.col("days_to_next") > churn_gap_days),
                1,
            ).otherwise(0),
        )
    )


def scd2_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history: collapse an event
    stream into versioned attribute intervals per key — one row per
    CHANGE of ``attr_col``, with ``valid_from``/``valid_to`` bounds,
    ``version`` number, and an ``is_current`` flag on the open interval.
    The warehouse primitive that turns a mutable dimension's change feed
    into an auditable history (the reference's dimension tables are
    type-1 overwrites; this is their history-keeping upgrade).

    Every window partitions by ``key_col`` — the work distributes per
    entity with ONE shuffle on the key, no global ordering anywhere.
    ``tiebreak`` columns make lag/lead deterministic when a key has
    several events on one timestamp."""
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(attr_col), 1).over(w)
    # change points: first event per key, or attr differs from previous
    # (null-safe: NULL -> value and value -> NULL both count as changes)
    changed = prev.isNull() & F.lag(F.lit(1), 1).over(w).isNull() | ~(
        F.col(attr_col).eqNullSafe(prev)
    )
    changes = df.withColumn("_chg", changed.cast("int")).filter(
        F.col("_chg") == 1
    )
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return changes.select(
        F.col(key_col),
        F.col(attr_col),
        F.row_number().over(w2).alias("version"),
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col), 1).over(w2).alias("valid_to"),
        F.lead(F.col(ts_col), 1).over(w2).isNull().cast("int").alias(
            "is_current"
        ),
    )


def ewma_dyadic(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    window_rows: int = 20,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2) of
    ``value_col`` over the last ``window_rows`` observations per key —
    the classic recency-weighted demand feature (W2's lag features give
    point lags; this is their smoothed aggregate).

    Determinism: dyadic weights (2^-i) and integer observations are
    exactly representable in binary floating point, so the weighted sum
    is BIT-exact at any parallelism and the operator is hash-checkable
    against a SQL oracle — no summation-order noise. The window frame
    is ordered rows per key: one shuffle on the key, nothing global.

    Bit-exactness additionally requires a total order within each key:
    if (key_col, order_col) can tie, pass ``tiebreak_col`` (appended to
    the window orderBy) — otherwise collect_list's element order, and
    hence the weighted fold, is undefined for the tied rows.

    Emits ``ewma`` normalized by the realized weight mass
    (2 - 2^(1-m) for m observations), so early rows with short history
    are unbiased.
    """
    if window_rows < 1:
        raise ValueError(f"window_rows must be >= 1, got {window_rows}")
    order_cols = [order_col] if tiebreak_col is None else [order_col, tiebreak_col]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window_rows - 1), 0)
    )
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    out = df.withColumn("_arr", arr)
    weighted = F.expr(
        "aggregate(zip_with(_arr, sequence(size(_arr) - 1, 0), "
        "(x, p) -> x * power(0.5, p)), cast(0.0 as double), "
        "(acc, v) -> acc + v)"
    )
    norm = F.expr("2.0 - power(0.5, size(_arr) - 1)")
    return out.withColumn("ewma", weighted / norm).drop("_arr")
