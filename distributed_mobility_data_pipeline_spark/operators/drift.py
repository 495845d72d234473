"""Drift monitoring (SURVEY.md §2.12 M8, model_monitoring.py:78-124).

PSI (population stability index) between a baseline and a current slice:
bucketize both by common edges, compare bin proportions,
psi = Σ (c% − b%) · ln(c% / b%).

Two variants, as SURVEY.md §6 prescribes:
- ``psi_fixed_bins`` — explicit edges, fully deterministic, DuckDB-
  oracle-checkable (the ln output is truncated at decimal(28,8) to
  absorb cross-engine libm ULP differences).
- ``psi_quantile_bins`` — edges from ``percentile_approx`` over the
  baseline (model_monitoring.py:101-103 uses approxQuantile; here the
  edges are computed IN-PLAN and joined in, so composing the operator
  triggers no driver-side action); approximate by design → rows-only
  check.

Laplace-style smoothing (+1 per bin) replaces the reference's eps-clamp
so empty bins can't produce ±inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import rounded, rounded_sum


def _bucketize(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    n = len(edges) - 1
    b = F.when(F.col(col).isNull(), F.lit(-1))
    for i in range(n - 1):
        b = b.when(F.col(col) < F.lit(edges[i + 1]), F.lit(i))
    b = b.otherwise(F.lit(n - 1))
    return df.withColumn("bucket", b)


def _psi_detail_from_buckets(b_rows: DataFrame, c_rows: DataFrame) -> DataFrame:
    """PSI terms from two DataFrames that each carry a ``bucket`` column."""
    b = b_rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("b_n"))
    c = c_rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_n"))
    joined = b.join(c, "bucket", "full").na.fill(0, ["b_n", "c_n"])
    b_tot = F.sum("b_n").over(Window.partitionBy())
    c_tot = F.sum("c_n").over(Window.partitionBy())
    b_pct = (F.col("b_n") + 1).cast("double") / (b_tot + 1)
    c_pct = (F.col("c_n") + 1).cast("double") / (c_tot + 1)
    term = rounded((c_pct - b_pct) * F.log(c_pct / b_pct))
    return joined.select(
        "bucket",
        F.col("b_n").cast("bigint").alias("baseline_n"),
        F.col("c_n").cast("bigint").alias("current_n"),
        term.alias("psi_term"),
    )


def psi_detail_fixed_bins(
    baseline: DataFrame, current: DataFrame, col: str, edges: list[float]
) -> DataFrame:
    """Per-bin PSI terms: bucket, baseline/current counts and shares,
    psi_term. Smoothed counts keep every bucket present on both sides."""
    return _psi_detail_from_buckets(
        _bucketize(baseline, col, edges), _bucketize(current, col, edges)
    )


def psi_fixed_bins(
    baseline: DataFrame, current: DataFrame, col: str, edges: list[float]
) -> DataFrame:
    """One-row PSI summary from the fixed-bin detail."""
    detail = psi_detail_fixed_bins(baseline, current, col, edges)
    return detail.agg(
        rounded_sum("psi_term").alias("psi"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def psi_quantile_bins(
    baseline: DataFrame, current: DataFrame, col: str, n_bins: int = 10
) -> DataFrame:
    """Production variant: bin edges from the baseline's approximate
    quantiles (model_monitoring.py:101-103). Approximate → rows-only.

    The edges are computed IN-PLAN (``percentile_approx`` → one-row
    array, broadcast to both sides) rather than via the blocking
    ``DataFrame.approxQuantile`` action, so the operator composes lazily
    like everything else. Bucket index = count of edges ≤ value — the
    same boundary semantics as ``_bucketize`` with (-inf, edges…, +inf).
    """
    probs = [i / n_bins for i in range(1, n_bins)]
    # accuracy 100 ≈ approxQuantile's relativeError 0.01
    edges = baseline.agg(
        F.array_distinct(
            F.percentile_approx(col, F.array(*[F.lit(p) for p in probs]), 100)
        ).alias("_edges")
    ).persist()  # one-row edge table rides TWO crossJoins (baseline +
    # current bucketing) — persist so the quantile pass runs once (r19)

    def bucketed(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(col).alias("_v"))
            .crossJoin(F.broadcast(edges))
            .select(
                F.when(F.col("_v").isNull(), F.lit(-1))
                .otherwise(
                    F.size(F.filter("_edges", lambda e: e <= F.col("_v")))
                )
                .alias("bucket")
            )
        )

    detail = _psi_detail_from_buckets(bucketed(baseline), bucketed(current))
    return detail.agg(
        rounded_sum("psi_term").alias("psi"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def missing_rate_shift(
    baseline: DataFrame, current: DataFrame, cols: list[str]
) -> DataFrame:
    """Null-rate drift per column (model_monitoring.py:126-133,
    threshold config.yaml:31)."""
    def rates(df: DataFrame, label: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("_total")]
        for c in cols:
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_n_{c}")
            )
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{c}', _n_{c}" for c in cols)
        return wide.selectExpr(
            f"stack({len(cols)}, {stack}) as (column, null_count)",
            "_total",
        ).select(
            "column",
            (F.col("null_count").cast("double") / F.col("_total")).alias(
                f"{label}_rate"
            ),
        )

    b = rates(baseline, "baseline")
    c = rates(current, "current")
    return b.join(c, "column").select(
        "column",
        "baseline_rate",
        "current_rate",
        F.abs(F.col("current_rate") - F.col("baseline_rate")).alias("shift"),
    )


def ks_binned(
    baseline: DataFrame, current: DataFrame, col: str, edges: list[float]
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift on fixed bins: per bin, the
    cumulative share of each side and the ECDF gap; ``max(abs_diff)``
    over the result is the (binned) KS statistic. Complements PSI —
    KS reacts to location shifts PSI's symmetric log terms can smear.

    Exact on the given bins: integer cumulative counts, one double
    division per side, fully deterministic cross-engine. NULLs and
    out-of-range values land in the clamp buckets like the PSI family
    (same ``_bucketize``).

    Scale shape (100 TB): each side aggregates to ≤ ``len(edges)`` bin
    counts (map-side combine); the cumulative window runs over that
    bounded bin table — its SinglePartition exchange sees bin-count
    rows, never data rows (the text_quality_cutoff histogram
    argument)."""
    b = (
        _bucketize(baseline, col, edges)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("b_n"))
    )
    c = (
        _bucketize(current, col, edges)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_n"))
    )
    joined = b.join(c, "bucket", "full").na.fill(0, ["b_n", "c_n"])
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot_b = F.sum("b_n").over(Window.partitionBy())
    tot_c = F.sum("c_n").over(Window.partitionBy())
    cum_b = F.sum("b_n").over(w)
    cum_c = F.sum("c_n").over(w)
    return joined.select(
        "bucket",
        F.col("b_n").cast("bigint").alias("b_n"),
        F.col("c_n").cast("bigint").alias("c_n"),
        (cum_b.cast("double") / tot_b).alias("b_cum_share"),
        (cum_c.cast("double") / tot_c).alias("c_cum_share"),
        F.abs(
            cum_b.cast("double") / tot_b - cum_c.cast("double") / tot_c
        ).alias("abs_diff"),
    )
