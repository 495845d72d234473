"""Model-evaluation metrics (SURVEY.md §2.5 A8).

MAE/RMSE/MAPE as one global aggregate pass
(batch_scoring.py:188-227, model_monitoring.py:50-67), composed from
exact decimal sums so the metrics are partition-order independent.
The per-term doubles (|y-ŷ|, (y-ŷ)², |rel|) are rounded at decimal
scale by the cast — deterministic and documented, not float noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import DEC_TOTAL, exact_sum, rounded_sum


def regression_metrics(df: DataFrame, y: str, yhat: str) -> DataFrame:
    """One-row MAE/RMSE/MAPE/n over prediction pairs.

    MAE/RMSE divide by the count of non-null error terms, so rows with
    NULL y or ŷ are excluded rather than diluting the averages; ``n``
    reports total rows seen so callers can spot the gap."""
    err = F.col(y) - F.col(yhat)
    abs_err = F.abs(err)
    sq_err = err * err
    rel_err = F.when(F.col(y) != 0, F.abs(err / F.col(y)))
    n = F.count(F.lit(1))
    n_scored = F.count(abs_err)
    n_nonzero = F.count(rel_err)
    return df.agg(
        (rounded_sum(abs_err) / n_scored).alias("mae"),
        F.sqrt(rounded_sum(sq_err) / n_scored).alias("rmse"),
        (rounded_sum(rel_err) / n_nonzero).alias("mape"),
        n.alias("n"),
    )


def naive_forecast_by_key(df: DataFrame, key: str, y: str) -> DataFrame:
    """Rule-based fallback predictor — F3 as pure column algebra
    (batch_scoring.py:71-82): per-key mean as ŷ, computed with a window
    so the frame stays one pass."""
    from pyspark.sql import Window

    w = Window.partitionBy(key)
    yhat = F.sum(F.col(y).cast(DEC_TOTAL)).over(w).cast("double") / F.count(y).over(w)
    return df.withColumn("yhat", yhat)


def calibration_bins(
    scored: DataFrame,
    pred_col: str,
    actual_col: str,
    edges: list[float],
) -> DataFrame:
    """Calibration table for a regression scorer: bucket rows by
    PREDICTED value, compare the bin's mean prediction against its mean
    actual — the monitoring view that exposes where a model over/under
    shoots even when global MAE looks fine (the binned counterpart of
    the reference's aggregate metrics, model_monitoring.py:78-124).

    One pass: bucketize (same clamp rules as the PSI/KS family,
    drift._bucketize), one groupBy over ≤ len(edges) bins with
    decimal-exact sums (functions/exact.py), so both means and the bias
    are bit-reproducible cross-engine. Map-side combine makes the
    shuffle bin-count-sized at any corpus scale."""
    from distributed_mobility_data_pipeline_spark.operators.drift import _bucketize

    rows = _bucketize(
        scored.filter(
            F.col(pred_col).isNotNull() & F.col(actual_col).isNotNull()
        ),
        pred_col,
        edges,
    )
    n = F.count(F.lit(1))
    avg_pred = exact_sum(pred_col) / n
    avg_actual = exact_sum(F.col(actual_col).cast("double")) / n
    return (
        rows.groupBy("bucket")
        .agg(
            n.cast("bigint").alias("n"),
            avg_pred.alias("avg_pred"),
            avg_actual.alias("avg_actual"),
            (avg_pred - avg_actual).alias("bias"),
        )
    )
