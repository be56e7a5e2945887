"""Forecast-shaped outputs and forecast-quality metrics.

Reference parity:
- predictions table shape: cassandra/scripts (predictions:
  product_id, model_name, prediction_time, target_time,
  predicted_price) and prediction_service/src/data_writer.py:27-54.
- horizon fan-out: predictor.predict returns pred_len=12 future
  5-minute steps (prediction_service/src/predictor.py:172-238).
- metrics: Crypto-TS-Model-master/src/metrics.py (SMAPE, MAE, RMSE,
  directional accuracy).

The model itself is torch (not in this environment and not a query
capability); the engine provides the *data plumbing*: a deterministic
naive-persistence forecaster producing the exact predictions-table
shape, and distributed metric evaluation over (actual, predicted)
series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def naive_forecast(candles: DataFrame, *, key: str = "product_id",
                   ts: str = "bucket_start", price: str = "close",
                   horizons: int = 12, step_minutes: int = 5,
                   model_name: str = "naive_persistence_v1") -> DataFrame:
    """Persistence forecast: from each candle, predict `price` for the
    next `horizons` buckets. One explode — no shuffle at all (the fan-
    out is map-side), which is the right plan for writing a
    predictions table at scale."""
    h = F.explode(F.sequence(F.lit(1), F.lit(horizons))).alias("horizon")
    out = candles.select(F.col(key), F.col(ts).alias("prediction_time"),
                         F.col(price).alias("predicted_price"), h)
    return out.select(
        key,
        F.lit(model_name).alias("model_name"),
        "prediction_time",
        F.expr(f"timestampadd(MINUTE, {step_minutes} * horizon, "
               "prediction_time)").alias("target_time"),
        "horizon",
        "predicted_price",
    )


def volatility_rmse(candles: DataFrame, *, key: str = "product_id",
                    ts: str = "bucket_start", price: str = "close",
                    vol_window: int = 10) -> DataFrame:
    """Volatility-RMSE of the 1-step naive forecast per key
    (metrics.py:35-50): rolling volatility = sqrt(mean of squared
    1-step diffs over `vol_window`, full windows only), then RMSE
    between the truth's and the forecast's volatility series.

    Same key-ordered window family as every other feature — no
    additional shuffle beyond the one exchange on `key`.
    """
    w = Window.partitionBy(key).orderBy(ts)
    wn = w.rowsBetween(-(vol_window - 1), 0)
    y = F.col(price)
    yhat = F.lag(price, 1).over(w)
    d = candles.select(
        F.col(key), F.col(ts),
        (y - F.lag(price, 1).over(w)).alias("dy"),
        (yhat - F.lag(price, 2).over(w)).alias("dyhat"))
    vol = d.select(
        F.col(key), F.col(ts),
        F.when(F.count("dy").over(wn) >= vol_window,
               F.sqrt(F.avg(F.pow("dy", 2)).over(wn))).alias("true_vol"),
        F.when(F.count("dyhat").over(wn) >= vol_window,
               F.sqrt(F.avg(F.pow("dyhat", 2)).over(wn))).alias("pred_vol"))
    both = vol.filter(F.col("true_vol").isNotNull()
                      & F.col("pred_vol").isNotNull())
    err = F.col("true_vol") - F.col("pred_vol")
    return both.groupBy(key).agg(
        (F.round(F.sqrt(F.avg(err * err)), 6) + F.lit(0.0))
        .alias("vol_rmse"),
        F.count(F.lit(1)).alias("sample_count"))


def forecast_metrics(candles: DataFrame, *, key: str = "product_id",
                     ts: str = "bucket_start",
                     price: str = "close") -> DataFrame:
    """SMAPE / MAE / RMSE / directional accuracy of the 1-step naive
    forecast (pred_t = actual_{t-1}) per key — metrics.py semantics:

    - smape = mean(2|y-ŷ| / (|y|+|ŷ|)) * 100        (metrics.py:15-23)
    - dir_acc = mean(sign(Δy) == sign(Δŷ))           (metrics.py:25-33)

    One window pass + one grouped agg (partial-agg friendly).
    """
    w = Window.partitionBy(key).orderBy(ts)
    y = F.col(price)
    yhat = F.lag(price, 1).over(w)
    d = candles.select(
        F.col(key), y.alias("y"), yhat.alias("yhat"),
        (y - F.lag(price, 1).over(w)).alias("dy"),
        (F.lag(price, 1).over(w) - F.lag(price, 2).over(w)).alias("dyhat"),
    ).filter(F.col("yhat").isNotNull())
    return d.groupBy(key).agg(
        F.round(F.avg(2.0 * F.abs(F.col("y") - F.col("yhat"))
                      / (F.abs("y") + F.abs("yhat"))) * 100.0, 6)
         .alias("smape"),
        F.round(F.avg(F.abs(F.col("y") - F.col("yhat"))), 6).alias("mae"),
        F.round(F.sqrt(F.avg(F.pow(F.col("y") - F.col("yhat"), 2))), 6)
         .alias("rmse"),
        F.round(F.avg(F.when(F.col("dyhat").isNotNull(),
                             (F.signum("dy") == F.signum("dyhat"))
                             .cast("double"))), 6)
         .alias("dir_acc"),
        F.count(F.lit(1)).alias("sample_count"),
    )


def _holt_sweep(df: DataFrame, key: str, ts: str, price: str,
                spans: list[tuple[float, float]]) -> DataFrame:
    """Score every HOLT_SWEEP_GRID lane per key over `spans`, then flag
    the argmin — the one scorer behind both sweeps.

    One Arrow-batched applyInPandas pass per key runs the Holt
    recursion (:func:`indicators._holt_lane`) once per lane over the
    whole series. A span (lo, hi) scores the one-step-ahead errors of
    rows max(⌊n·lo⌋, 1) .. min(⌊n·hi⌋, n) − 1 (0-based): the rows
    before it only advance the recursion, and every span's recursion
    is a prefix of the full-series one, so one pass serves all spans
    through a prefix sum. Each per-step error
    |y_t − (level_{t−1} + trend_{t−1})| enters as the fixed-point
    BIGINT floor(|err|·1e6 + 0.5), so the summed score is order-free
    and engine-independent. One shuffle total, whatever the grid or
    span count.

    Output: one row per (key, alpha, beta) with n_eval (scored rows
    over all spans), mae (the exact integer half-up ratio
    sum/(n_eval·1e6)) and is_best (argmin by integer error sum, ties
    to the smallest (alpha, beta)). A key no span scores keeps its
    rows with n_eval 0 and a NULL mae.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from .indicators import _holt_lane

    schema = StructType([
        StructField(key, df.schema[key].dataType),
        StructField("alpha", DoubleType()),
        StructField("beta", DoubleType()),
        StructField("n_eval", LongType()),
        StructField("sum_abs_err_fp", LongType()),
    ])

    def _per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts)
        y = pdf[price].to_numpy(dtype="float64")
        n = len(y)
        cuts = [(max(int(np.floor(n * lo)), 1),
                 min(int(np.floor(n * hi)), n)) for lo, hi in spans]
        cuts = [(a, b) for a, b in cuts if b > a]
        sums = []
        for alpha, beta in HOLT_SWEEP_GRID:
            level, trend = _holt_lane(y, alpha, beta)
            err = np.floor(np.abs(y[1:] - (level[:-1] + trend[:-1]))
                           * 1e6 + 0.5).astype(np.int64)
            # c[t] sums the errors of rows 1 .. t−1: span [a, b) is
            # c[b] − c[a]
            c = np.concatenate(([0, 0], np.cumsum(err)))
            sums.append(sum(int(c[b] - c[a]) for a, b in cuts))
        g = len(HOLT_SWEEP_GRID)
        return pd.DataFrame({
            key: [pdf[key].iloc[0]] * g,
            "alpha": [a for a, _ in HOLT_SWEEP_GRID],
            "beta": [b for _, b in HOLT_SWEEP_GRID],
            "n_eval": np.full(g, sum(b - a for a, b in cuts),
                              dtype=np.int64),
            "sum_abs_err_fp": np.array(sums, dtype=np.int64),
        })

    scored = df.groupBy(key).applyInPandas(_per_key, schema=schema)
    # argmin as a whole-partition window over the TINY scored relation
    # (keys × grid rows) — a groupBy+join here would re-execute the
    # per-key Arrow recursion for the second consumer of `scored`
    # (verified via .explain: two FlatMapGroupsInPandas subtrees)
    m = F.min(F.struct("sum_abs_err_fp", "alpha", "beta")).over(
        Window.partitionBy(key))
    return (scored.withColumn("_m", m)
            .select(key, "alpha", "beta", "n_eval",
                    # integer half-up rounding: an exact sum/count
                    # ratio can land on a 6dp midpoint where Spark's
                    # and DuckDB's double rounds diverge
                    (F.expr("(2 * sum_abs_err_fp + n_eval) "
                            "div (2 * n_eval)")
                     / F.lit(1000000.0)).alias("mae"),
                    ((F.col("sum_abs_err_fp") == F.col("_m.sum_abs_err_fp"))
                     & (F.col("alpha") == F.col("_m.alpha"))
                     & (F.col("beta") == F.col("_m.beta")))
                    .alias("is_best")))


def holt_grid_sweep(df: DataFrame, *, key: str = "product_id",
                    ts: str = "bucket_start",
                    price: str = "close") -> DataFrame:
    """Distributed (α, β) hyperparameter sweep for Holt double
    exponential smoothing, scored by one-step-ahead MAE per key over
    the whole series — the Spark-native analog of the reference's
    Optuna loop (Crypto-TS-Model-master/src/optimize_model.py)
    re-expressed as a deterministic grid (HOLT_SWEEP_GRID) so the
    result is oracle-checkable.

    The one-span case of :func:`_holt_sweep`: the span (0, 1) scores
    rows 2..n (1-based), so n_eval = n − 1, and a one-row series keeps
    its grid rows with n_eval 0 and a NULL mae.
    """
    return _holt_sweep(df, key, ts, price, [(0.0, 1.0)])


# Default sweep grid: 3 smoothing × 3 trend rates around the engine's
# Holt defaults (HW_ALPHA=0.2, HW_BETA=0.1) — inlined into the DuckDB
# oracle via repr, so keep values exactly representable in repr form.
HOLT_SWEEP_GRID: list[tuple[float, float]] = [
    (a, b) for a in (0.1, 0.2, 0.4) for b in (0.05, 0.1, 0.3)]


def holt_cv_sweep(df: DataFrame, *, key: str = "product_id",
                  ts: str = "bucket_start",
                  price: str = "close") -> DataFrame:
    """Walk-forward VALIDATION-scored (α, β) sweep — the missing half
    of :func:`holt_grid_sweep` (VERDICT r07 #3): the reference's
    Optuna loop (Crypto-TS-Model-master/src/optimize_model.py) scores
    every trial on a HELD-OUT split (train.py's per-epoch val loss),
    whereas holt_grid_sweep's one-step MAE over the whole series is
    in-sample selection that overfits any regime change.

    The walk_forward_splits fold manifest composed with the grid: for
    each expanding-window fold (train = first fₖ of each key's series,
    test = the next HOLT_CV_TEST_FRAC), the one-step-ahead error is
    scored ONLY over the test span; errors sum across folds per
    (key, α, β) and argmin flags the winner. These are the spans
    (fₖ, fₖ + HOLT_CV_TEST_FRAC) of :func:`_holt_sweep`, which smooths
    each series once for all folds (a fold's train span is a prefix of
    the series). Keys no fold scores (n_eval 0) are dropped. Pytest
    pins that the CV argmin diverges from the in-sample argmin on a
    planted trend→oscillation regime change."""
    return _holt_sweep(df, key, ts, price,
                       [(f, f + HOLT_CV_TEST_FRAC)
                        for _, f in HOLT_CV_FOLDS]
                       ).filter(F.col("n_eval") > 0)


# Walk-forward folds, shared by holt_cv_sweep and the walk_forward_splits
# manifest query: fold k trains on the first fₖ of each series and
# tests on the next HOLT_CV_TEST_FRAC.
HOLT_CV_FOLDS: list[tuple[int, float]] = [
    (1, 0.5), (2, 0.6), (3, 0.7), (4, 0.8)]
HOLT_CV_TEST_FRAC = 0.1
