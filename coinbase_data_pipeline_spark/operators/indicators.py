"""Time-series feature engineering — the reference's 26-feature set.

Reference parity: Crypto-TS-Model-master/src/data_loader.py:77-126
(`_enhance_crypto_features`), :46-75 (`_load_and_clean`),
:128-161 (scalers).

Spark-first: every rolling feature is a window function over
``partitionBy(key).orderBy(ts)`` — the SAME window family, so Catalyst
plans ONE Exchange(hashpartitioning(key)) + ONE per-partition sort and
evaluates all features in a single Window operator chain. That is the
plan you want at 100 TB: shuffle each series to its executor once,
then stream it.

Every rolling, lag and time feature is written once as SQL text and
applied with ``selectExpr``: :func:`enhance_features` is
``spread_by_key`` plus two projections (log returns and the lag
helpers, then every rolling and time feature), and each ``with_*``
builder is one projection (two where it needs a lag helper). SQL text
and Column calls go through the same Catalyst analysis, so this changes
how fast the plan is built, not what it computes: one whole windowed
expression as text is one py4j call, where the Column API makes one
per ``F.col``, window spec and operator (measurements in ROADMAP
item 2). Literals are written as doubles (``100.0D``): a bare
``100.0`` is a DECIMAL in Spark SQL, where the Column API's Python
floats are doubles.

EWM-family smoothing (Wilder RSI, MACD's EMA) is inherently
sequential per key; those live in :func:`ewm_features` as an
Arrow-batched applyInPandas where one group = one key's series —
parallel across keys, exactly the reference's per-product Cassandra
partitioning. Everything else is Spark SQL expressions (JVM codegen,
no Python in the hot path).

Semantics notes (documented deltas from the `ta` library, chosen for
distributed-friendliness; each is a recognized standard variant):
- RSI: Cutler's RSI (simple-moving-average of gains/losses) instead of
  Wilder's EWM — SQL-expressible, bounded window. Wilder variant in
  ewm_features.
- ATR: SMA of true range instead of Wilder smoothing. EWM variant in
  ewm_features.
- MACD: exact EWM version in ewm_features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _w(key: str, ts: str) -> Window:
    return Window.partitionBy(key).orderBy(ts)


def _rows(key: str, ts: str, n: int) -> Window:
    """Trailing n-row window (current row inclusive)."""
    return _w(key, ts).rowsBetween(-(n - 1), 0)


# ------------------------------------------------------- SQL-text features
#
# Each feature below is written once, as the SQL text of one column:
# a list of (name, expression) pairs. The with_* builders and
# enhance_features apply them with selectExpr.

def _q(name: str) -> str:
    """Backtick-quote a caller-supplied column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _over(key: str, ts: str, frame: str = "") -> str:
    """OVER clause of the shared key-ordered window family."""
    return f"OVER (PARTITION BY {_q(key)} ORDER BY {_q(ts)}{frame})"


def _trailing(key: str, ts: str, n: int) -> str:
    """Trailing n-row window (current row inclusive)."""
    return _over(key, ts, f" ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW")


def _project(df: DataFrame, cols: list[str],
             feats: list[tuple[str, str]]) -> DataFrame:
    """SELECT `cols`, then `feats`, in ONE projection. A feature named
    like one of `cols` replaces that column in place (withColumn
    semantics); a column of `df` not in `cols` (a lag helper) drops
    out."""
    sql = dict(feats)
    keep = [f"{sql.pop(c)} AS {_q(c)}" if c in sql else _q(c) for c in cols]
    return df.selectExpr(*keep, *(f"{e} AS {_q(n)}" for n, e in sql.items()))


def _full(fn: str, col: str, key: str, ts: str, n: int) -> str:
    """fn(col) over the trailing n rows, NULL until the frame holds n
    non-NULL values (pandas' default min_periods); `col` is SQL text."""
    w = _trailing(key, ts, n)
    return f"CASE WHEN count({col}) {w} >= {n} THEN {fn}({col}) {w} END"


def _lag(key: str, ts: str, col: str) -> str:
    """The previous row's `col` within the key's series."""
    return f"lag({_q(col)}) {_over(key, ts)}"


def _delta(key: str, ts: str, price: str) -> str:
    """price − previous price, the lag term of RSI's and OBV's helpers."""
    return f"({_q(price)} - {_lag(key, ts, price)})"


def _log_returns(key, ts, price, out):
    p, prev = _q(price), _lag(key, ts, price)
    return [(out, f"CASE WHEN {p} > 0 AND {prev} > 0 "
                  f"THEN ln({p} / {prev}) END")]


def _price(key, ts, price, high, low, ma_window):
    p = _q(price)
    return [("price_ma_ratio",
             f"{p} / avg({p}) {_trailing(key, ts, ma_window)}"),
            ("price_spread", f"({_q(high)} - {_q(low)}) / {p}")]


def _volume(key, ts, price, volume, window):
    v = _q(volume)
    return [("volume_zscore",
             f"({v} - {_full('avg', v, key, ts, window)})"
             f" / {_full('stddev_samp', v, key, ts, window)}"),
            ("volume_ma_ratio",
             f"{v} / avg({v}) {_trailing(key, ts, window)}"),
            ("liquidity", f"log1p({v} * {_q(price)})")]


def _rsi_lags(key, ts, price):
    d = _delta(key, ts, price)
    return [("_gain", f"CASE WHEN {d} > 0 THEN {d} "
                      f"WHEN {d} IS NOT NULL THEN 0.0D END"),
            ("_loss", f"CASE WHEN {d} < 0 THEN -{d} "
                      f"WHEN {d} IS NOT NULL THEN 0.0D END")]


def _rsi(key, ts, window, out):
    w = _trailing(key, ts, window)
    gain, loss = f"avg(_gain) {w}", f"avg(_loss) {w}"
    return [(out, f"CASE WHEN count(_gain) {w} >= {window} THEN "
                  f"CASE WHEN {loss} = 0 THEN 100.0D "
                  f"ELSE 100.0D - 100.0D / (1.0D + {gain} / {loss}) END END")]


def _atr_lags(key, ts, high, low, close):
    h, lo, prev = _q(high), _q(low), _lag(key, ts, close)
    return [("_tr", f"greatest({h} - {lo}, abs({h} - {prev}), "
                    f"abs({lo} - {prev}))")]


def _atr(key, ts, window, out):
    return [(out, _full("avg", "_tr", key, ts, window))]


def _obv_lags(key, ts, price, volume):
    d, v = _delta(key, ts, price), _q(volume)
    return [("_sv", f"CASE WHEN {d} > 0 THEN {v} WHEN {d} < 0 THEN -{v} "
                    f"ELSE 0.0D END")]


def _obv(key, ts, out):
    running = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return [(out, f"sum(_sv) {_over(key, ts, running)}")]


def _volatility(key, ts, returns, windows):
    return [(f"volatility_{n}", _full("stddev_samp", _q(returns), key, ts, n))
            for n in windows]


def _momentum(key, ts, price):
    def ma(n: int) -> str:
        return _full("avg", _q(price), key, ts, n)
    return [("momentum_3_6", f"{ma(3)} - {ma(6)}"),
            ("momentum_6_12", f"{ma(6)} - {ma(12)}")]


def _time(ts):
    hour, dow = f"hour({_q(ts)})", f"weekday({_q(ts)})"
    two_pi = repr(2.0 * 3.141592653589793) + "D"
    return [("hour", hour),
            ("dayofweek", dow),
            ("is_weekend", f"CAST({dow} IN (5, 6) AS INT)"),
            ("is_market_open", f"CAST({hour} >= 8 AND {hour} < 20 AS INT)"),
            ("hour_sin", f"sin({hour} * {two_pi} / 24.0D)"),
            ("hour_cos", f"cos({hour} * {two_pi} / 24.0D)"),
            ("dow_sin", f"sin({dow} * {two_pi} / 7.0D)"),
            ("dow_cos", f"cos({dow} * {two_pi} / 7.0D)")]


# ---------------------------------------------------------------- returns

def with_log_returns(df: DataFrame, *, key: str, ts: str,
                     price: str = "close",
                     out: str = "log_returns") -> DataFrame:
    """ln(1 + pct_change) == ln(p_t / p_{t-1}) (data_loader.py:91).

    Non-positive prices have no log return: without the guard a
    zero `prev` gives IEEE +inf in Spark while DuckDB THROWS on
    ln(0) — a divergence that only appears once the data is big
    enough to contain a zero-priced candle (sf0.1 has 4)."""
    return _project(df, df.columns, _log_returns(key, ts, price, out))


def with_price_features(df: DataFrame, *, key: str, ts: str,
                        price: str = "close", high: str = "high",
                        low: str = "low", ma_window: int = 24) -> DataFrame:
    """price_ma_ratio (min_periods=1) and price_spread (data_loader.py:92-93)."""
    return _project(df, df.columns,
                    _price(key, ts, price, high, low, ma_window))


def with_volume_features(df: DataFrame, *, key: str, ts: str,
                         price: str = "close", volume: str = "volume",
                         window: int = 24) -> DataFrame:
    """volume_zscore / volume_ma_ratio / liquidity (data_loader.py:96-98).

    zscore uses full-window semantics (NULL until `window` rows exist,
    pandas default min_periods); ma_ratio uses min_periods=1.
    """
    return _project(df, df.columns, _volume(key, ts, price, volume, window))


# ------------------------------------------------------------- indicators

def with_rsi(df: DataFrame, *, key: str, ts: str, price: str = "close",
             window: int = 14, out: str = "rsi") -> DataFrame:
    """Cutler's RSI: 100 - 100/(1 + SMA(gains)/SMA(losses)).

    (data_loader.py:101 uses Wilder's; see module docstring.)
    NULL until `window` deltas exist; all-gain windows → 100.
    """
    cols = df.columns
    return _project(_project(df, cols, _rsi_lags(key, ts, price)), cols,
                    _rsi(key, ts, window, out))


def with_atr(df: DataFrame, *, key: str, ts: str, high: str = "high",
             low: str = "low", close: str = "close", window: int = 14,
             out: str = "atr") -> DataFrame:
    """SMA-of-true-range ATR (data_loader.py:103 uses Wilder's EWM)."""
    cols = df.columns
    return _project(_project(df, cols, _atr_lags(key, ts, high, low, close)),
                    cols, _atr(key, ts, window, out))


def with_obv(df: DataFrame, *, key: str, ts: str, price: str = "close",
             volume: str = "volume", out: str = "obv") -> DataFrame:
    """On-balance volume: running sum of sign(Δprice)·volume
    (data_loader.py:104). Unbounded-preceding cumulative sum — one pass
    per series, no extra shuffle (same window family)."""
    cols = df.columns
    return _project(_project(df, cols, _obv_lags(key, ts, price, volume)),
                    cols, _obv(key, ts, out))


def with_volatility(df: DataFrame, *, key: str, ts: str,
                    returns: str = "log_returns",
                    windows: tuple[int, ...] = (6, 12, 24)) -> DataFrame:
    """Rolling std of log returns, full-window (data_loader.py:107-108)."""
    return _project(df, df.columns, _volatility(key, ts, returns, windows))


def with_momentum(df: DataFrame, *, key: str, ts: str,
                  price: str = "close") -> DataFrame:
    """MA(3)-MA(6) and MA(6)-MA(12), full-window (data_loader.py:111-112)."""
    return _project(df, df.columns, _momentum(key, ts, price))


def with_time_features(df: DataFrame, *, ts: str) -> DataFrame:
    """hour/dow/weekend/market-open + cyclical encodings
    (data_loader.py:115-124). dow is Monday=0 like pandas."""
    return _project(df, df.columns, _time(ts))


# ---------------------------------------------------------------- cleaning

def clean_series(df: DataFrame, *, key: str, ts: str,
                 close: str = "close", volume: str = "volume",
                 median_window: int = 12) -> DataFrame:
    """data_loader._load_and_clean, per key:

    1. volume 0 → NULL → trailing rolling median (min_periods=1);
    2. clip close/volume to per-key p01/p99 (linear-interp percentile);
    3. forward- then backward-fill remaining NULLs.

    Percentiles are exact (`F.percentile`) computed per key in one
    grouped agg and broadcast-joined back — per-key stats are tiny
    (one row per key) at any scale.
    """
    w1 = _w(key, ts)
    v_null = F.when(F.col(volume) != 0, F.col(volume))
    tmp = df.withColumn("_v", v_null)
    # rolling median via sorted frame array: F.percentile as a moving-
    # frame window re-runs its interpreted aggregation buffer per row
    # (~8 s for 39k rows at sf0.1); collect_list + array_sort +
    # element_at stays in cheap buffer appends and codegen'd
    # projections (NULLs skipped, empty frame → NULL). The even-count
    # interpolation MUST be lo + (hi - lo) * 0.5 — the formula both
    # F.percentile and DuckDB quantile_cont use — not (lo + hi) / 2:
    # the two differ in the last ulp, which can flip a ROUND(x, 6)
    # half-boundary between engines.
    frame = F.array_sort(
        F.collect_list("_v").over(_rows(key, ts, median_window)))
    m = F.size(frame)
    lo = F.element_at(frame, (m / 2).cast("int"))
    hi = F.element_at(frame, (m / 2).cast("int") + 1)
    med = (F.when(m == 0, F.lit(None).cast("double"))
           .when(m % 2 == 1,
                 F.element_at(frame, ((m + 1) / 2).cast("int")))
           .otherwise(lo + (hi - lo) * 0.5))
    tmp = tmp.withColumn("_vf", F.coalesce(F.col("_v"), med))

    stats = tmp.groupBy(key).agg(
        F.percentile(close, F.lit(0.01)).alias("_c_lo"),
        F.percentile(close, F.lit(0.99)).alias("_c_hi"),
        F.percentile("_vf", F.lit(0.01)).alias("_v_lo"),
        F.percentile("_vf", F.lit(0.99)).alias("_v_hi"),
    )
    tmp = tmp.join(F.broadcast(stats), on=key, how="left")
    # Spark's greatest/least SKIP NULLs (greatest(NULL, p01) = p01), so
    # clipping must preserve NULL explicitly or it would turn gaps into
    # the p01 bound and starve the ffill below of work
    def _clip(col, lo, hi):
        return F.when(col.isNotNull(),
                      F.least(F.greatest(col, F.col(lo)), F.col(hi)))
    tmp = (tmp.withColumn(close, _clip(F.col(close), "_c_lo", "_c_hi"))
              .withColumn(volume, _clip(F.col("_vf"), "_v_lo", "_v_hi"))
              .drop("_v", "_vf", "_c_lo", "_c_hi", "_v_lo", "_v_hi"))

    ffill = _w(key, ts).rowsBetween(Window.unboundedPreceding, 0)
    # bfill = "first non-null at or after this row", expressed as a
    # RUNNING last() over DESCENDING time. The direct frame
    # [current, unboundedFollowing] hits Spark's
    # UnboundedFollowingWindowFunctionFrame, which re-aggregates the
    # whole remaining frame for every row — O(n²) per key (~8 s at
    # sf0.1); the reversed running frame is incremental O(n). Same
    # partitionBy, so no extra Exchange — just a second local sort.
    bfill = (Window.partitionBy(key).orderBy(F.desc(ts))
             .rowsBetween(Window.unboundedPreceding, 0))
    for c in (close, volume):
        filled = F.coalesce(F.last(c, ignorenulls=True).over(ffill),
                            F.last(c, ignorenulls=True).over(bfill))
        tmp = tmp.withColumn(c, filled)
    return tmp


# ----------------------------------------------------------------- scaling

def robust_scale(df: DataFrame, cols: list[str], *, key: str) -> DataFrame:
    """(x - median) / IQR per key — sklearn RobustScaler semantics
    (data_loader.py:34-37,140-141). Exact linear-interp percentiles,
    grouped agg + broadcast join back."""
    aggs = []
    for c in cols:
        aggs += [F.percentile(c, F.lit(0.5)).alias(f"_{c}_med"),
                 F.percentile(c, F.lit(0.25)).alias(f"_{c}_q1"),
                 F.percentile(c, F.lit(0.75)).alias(f"_{c}_q3")]
    stats = df.groupBy(key).agg(*aggs)
    out = df.join(F.broadcast(stats), on=key, how="left")
    for c in cols:
        iqr = F.col(f"_{c}_q3") - F.col(f"_{c}_q1")
        scaled = F.when(iqr != 0, (F.col(c) - F.col(f"_{c}_med")) / iqr) \
                  .otherwise(F.col(c) - F.col(f"_{c}_med"))
        out = out.withColumn(f"{c}_scaled", scaled) \
                 .drop(f"_{c}_med", f"_{c}_q1", f"_{c}_q3")
    return out


def minmax_scale(df: DataFrame, cols: list[str], *, key: str,
                 feature_range: tuple[float, float] = (-1.0, 1.0)) -> DataFrame:
    """(x - min)/(max - min) → feature_range per key — sklearn
    MinMaxScaler semantics (data_loader.py:37)."""
    lo, hi = feature_range
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_{c}_min"), F.max(c).alias(f"_{c}_max")]
    stats = df.groupBy(key).agg(*aggs)
    out = df.join(F.broadcast(stats), on=key, how="left")
    for c in cols:
        rng = F.col(f"_{c}_max") - F.col(f"_{c}_min")
        unit = F.when(rng != 0, (F.col(c) - F.col(f"_{c}_min")) / rng) \
                .otherwise(F.lit(0.0))
        out = out.withColumn(f"{c}_scaled", unit * (hi - lo) + lo) \
                 .drop(f"_{c}_min", f"_{c}_max")
    return out


def grouped_scale(df: DataFrame, *, key: str, ts: str, split: str,
                  robust_cols: list[str], minmax_cols: list[str],
                  feature_range: tuple[float, float] = (-1.0, 1.0),
                  ) -> DataFrame:
    """Grouped scaler-matrix fit/transform — the reference's
    _fit_scalers/_scale_data contract (data_loader.py:127-161): one
    scaler object per column GROUP (RobustScaler for the price/volume
    groups, MinMaxScaler(feature_range) for the indicator/time
    groups), per-column statistics FIT on the TRAIN split only
    (ts < split), and the transform applied to the whole feature
    matrix. The split argument makes the train/serve leakage boundary
    explicit — whole-table fitting (robust_scale/minmax_scale) cannot
    express it.

    Plan: ALL group statistics come from ONE grouped aggregation over
    the train range (partial-agg + time-filter pushdown, one shuffle
    regardless of matrix width), broadcast-joined back onto the full
    matrix; transforms are pure column expressions. Adds
    `{col}_scaled` for every column in either group.
    """
    lo, hi = feature_range
    aggs = []
    for c in robust_cols:
        # ONE percentile buffer per column (the exact Percentile agg
        # keeps a value→count map; three scalar calls would shuffle
        # three copies of it per column)
        aggs.append(F.percentile(
            c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
            .alias(f"_{c}_q"))
    for c in minmax_cols:
        aggs += [F.min(c).alias(f"_{c}_min"), F.max(c).alias(f"_{c}_max")]
    stats = df.filter(F.col(ts) < split).groupBy(key).agg(*aggs)
    stats = stats.select(
        key,
        *[x for c in robust_cols for x in
          (F.element_at(f"_{c}_q", 2).alias(f"_{c}_med"),
           F.element_at(f"_{c}_q", 1).alias(f"_{c}_q1"),
           F.element_at(f"_{c}_q", 3).alias(f"_{c}_q3"))],
        *[F.col(f"_{c}_{s}") for c in minmax_cols
          for s in ("min", "max")])
    # LEFT join: a key with no train-split rows has no stats and its
    # scaled columns come out NULL — visible downstream, instead of
    # its entire history silently vanishing from the matrix
    out = df.join(F.broadcast(stats), on=key, how="left")
    # ONE projection for all scaled columns (a withColumn-per-column
    # loop stacks one Project node per column; at matrix width the
    # optimizer's constraint propagation over that chain is
    # quadratic — it OOM'd the driver on the 25-column matrix)
    scaled_cols = []
    for c in robust_cols:
        iqr = F.col(f"_{c}_q3") - F.col(f"_{c}_q1")
        scaled = F.when(iqr != 0, (F.col(c) - F.col(f"_{c}_med")) / iqr) \
                  .otherwise(F.col(c) - F.col(f"_{c}_med"))
        scaled_cols.append(scaled.alias(f"{c}_scaled"))
    for c in minmax_cols:
        rng = F.col(f"_{c}_max") - F.col(f"_{c}_min")
        unit = F.when(rng != 0, (F.col(c) - F.col(f"_{c}_min")) / rng) \
                .otherwise(F.lit(0.0))
        scaled_cols.append((unit * (hi - lo) + lo).alias(f"{c}_scaled"))
    stat_names = {f"_{c}_{s}" for c in robust_cols
                  for s in ("med", "q1", "q3")} \
        | {f"_{c}_{s}" for c in minmax_cols for s in ("min", "max")}
    keep = [c for c in out.columns if c not in stat_names]
    return out.select(*keep, *scaled_cols)


def with_bollinger(df: DataFrame, *, key: str, ts: str,
                   price: str = "close", window: int = 20,
                   num_std: float = 2.0) -> DataFrame:
    """Bollinger bands: MA(window) ± num_std·stddev(window), full
    windows only. Same shared key-ordered window family."""
    wn = _rows(key, ts, window)
    full = F.count(price).over(wn) >= window
    ma = F.when(full, F.avg(price).over(wn))
    sd = F.when(full, F.stddev_samp(F.col(price)).over(wn))
    return (df.withColumn("bb_mid", ma)
              .withColumn("bb_upper", ma + num_std * sd)
              .withColumn("bb_lower", ma - num_std * sd))


def with_stochastic(df: DataFrame, *, key: str, ts: str,
                    high: str = "high", low: str = "low",
                    close: str = "close", window: int = 14,
                    smooth: int = 3) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close−minLow)/(maxHigh−minLow)
    over `window` rows (full windows), %D = SMA(smooth) of %K."""
    wn = _rows(key, ts, window)
    full = F.count(close).over(wn) >= window
    lo = F.min(low).over(wn)
    hi = F.max(high).over(wn)
    k = F.when(full, 100.0 * (F.col(close) - lo) / (hi - lo))
    out = df.withColumn("stoch_k", k)
    wd = _rows(key, ts, smooth)
    d = F.when(F.count("stoch_k").over(wd) >= smooth,
               F.avg("stoch_k").over(wd))
    return out.withColumn("stoch_d", d)


def with_macd_approx(df: DataFrame, *, key: str, ts: str,
                     price: str = "close", fast: int = 12, slow: int = 26,
                     trunc: int = 60) -> DataFrame:
    """Truncated-window EMA MACD — the SQL-checkable variant of the
    exact EWM MACD in :func:`ewm_features` (data_loader.py:102).

    EMA is approximated by its normalized geometric-weight sum over
    the trailing `trunc` rows: sum(w_i·x_i)/sum(w_i), w_i=(1-α)^age.
    With trunc=60 the dropped tail mass for span 26 is (1-α)^60≈1.2%,
    re-normalized away. Bounded window → no recursion, stays JVM-side
    (one collect_list per row over the shared key-ordered window).
    """
    w = _w(key, ts).rowsBetween(-(trunc - 1), 0)
    arr = F.collect_list(price).over(w)

    def ema(span: int):
        a = 2.0 / (span + 1.0)
        sz = F.size(arr)
        # element i (1-based, oldest first) has age sz-i
        weighted = F.aggregate(
            F.zip_with(arr, F.sequence(F.lit(1), sz),
                       lambda x, i: x * F.pow(F.lit(1.0 - a),
                                              (sz - i).cast("double"))),
            F.lit(0.0), lambda acc, z: acc + z)
        denom = (1.0 - F.pow(F.lit(1.0 - a), sz.cast("double"))) / F.lit(a)
        return weighted / denom

    return (df.withColumn("ema_fast_approx", ema(fast))
              .withColumn("ema_slow_approx", ema(slow))
              .withColumn("macd_approx",
                          F.col("ema_fast_approx")
                          - F.col("ema_slow_approx")))


# --------------------------------------------------------------- EWM family

def ewm_features(df: DataFrame, *, key: str, ts: str, price: str = "close",
                 macd_fast: int = 12, macd_slow: int = 26,
                 macd_signal: int = 9, rsi_window: int = 14) -> DataFrame:
    """Exact EWM-based indicators: EMA(fast/slow), MACD diff (ta's
    macd_diff, data_loader.py:102), Wilder RSI (data_loader.py:101).

    EWM recursion is sequential per series, so this is the one
    deliberate Python hop: Arrow-batched applyInPandas with one group
    per key — embarrassingly parallel across keys (the reference's own
    partitioning axis). A single key's full history must fit in one
    executor's memory; for pathological keys, pre-segment by coarse
    time range and chain segments (documented limitation).
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(df.schema.fields + [
        StructField("ema_fast", DoubleType()),
        StructField("ema_slow", DoubleType()),
        StructField("macd", DoubleType()),
        StructField("rsi_wilder", DoubleType()),
    ])

    def _per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts)
        close = pdf[price].astype("float64")
        ema_fast = close.ewm(span=macd_fast, adjust=False).mean()
        ema_slow = close.ewm(span=macd_slow, adjust=False).mean()
        macd_line = ema_fast - ema_slow
        signal = macd_line.ewm(span=macd_signal, adjust=False).mean()
        delta = close.diff()
        gain = delta.clip(lower=0.0)
        loss = -delta.clip(upper=0.0)
        # Wilder smoothing = EWM(alpha=1/n, adjust=False) seeded like `ta`
        avg_gain = gain.ewm(alpha=1.0 / rsi_window, adjust=False,
                            min_periods=rsi_window).mean()
        avg_loss = loss.ewm(alpha=1.0 / rsi_window, adjust=False,
                            min_periods=rsi_window).mean()
        rs = avg_gain / avg_loss
        rsi = (100.0 - 100.0 / (1.0 + rs)).where(avg_loss != 0, 100.0)
        pdf = pdf.assign(ema_fast=ema_fast, ema_slow=ema_slow,
                         macd=macd_line - signal, rsi_wilder=rsi)
        return pdf

    return df.groupBy(key).applyInPandas(_per_key, schema=schema)


def _holt_lane(y, alpha: float, beta: float):
    """The non-seasonal Holt recursion over one series, as the
    (level, trend) arrays:

        level_t = α·y_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}

    seeded level_1 = y_1, trend_1 = 0. The one copy of the update:
    :func:`holt_features` and both forecast sweeps call it. The float
    op order is written to match the recursive-CTE oracles literally
    (both engines run IEEE-754 doubles), so the comparison is
    bit-identical, not merely close."""
    import numpy as np

    oma, omb = 1.0 - alpha, 1.0 - beta
    n = len(y)
    level = np.empty(n)
    trend = np.empty(n)
    lvl, tr = float(y[0]), 0.0
    level[0], trend[0] = lvl, tr
    for t in range(1, n):
        prev = lvl
        lvl = alpha * float(y[t]) + oma * (lvl + tr)
        tr = beta * (lvl - prev) + omb * tr
        level[t], trend[t] = lvl, tr
    return level, trend


def holt_features(df: DataFrame, *, key: str, ts: str,
                  price: str = "close", alpha: float = 0.2,
                  beta: float = 0.1) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per series —
    the one-step-ahead forecast `level + trend` is the classic
    local-trend baseline the reference's model variants are benchmarked
    against (Crypto-TS-Model train.py's naive/last-value baselines;
    this is the next rung up). The recursion is :func:`_holt_lane`.

    Same execution recipe as :func:`ewm_features`: the recursion is
    sequential per series, so one Arrow-batched applyInPandas group
    per key, embarrassingly parallel across keys.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(df.schema.fields + [
        StructField("hw_level", DoubleType()),
        StructField("hw_trend", DoubleType()),
        StructField("hw_forecast", DoubleType()),
    ])

    def _per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts)
        level, trend = _holt_lane(pdf[price].to_numpy(dtype="float64"),
                                  alpha, beta)
        return pdf.assign(hw_level=level, hw_trend=trend,
                          hw_forecast=level + trend)

    return df.groupBy(key).applyInPandas(_per_key, schema=schema)


def holt_winters_seasonal(df: DataFrame, *, key: str, ts: str,
                          price: str = "close", alpha: float = 0.2,
                          beta: float = 0.1, gamma: float = 0.3,
                          period: int = 24) -> DataFrame:
    """TRIPLE (additive-seasonal) Holt-Winters per series — the rung
    above :func:`holt_features` for data with a periodic profile (the
    reference's candles exhibit hour-of-day seasonality; see
    seasonality_profile):

        level_t  = α·(y_t − s_{t−m}) + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t  = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
        season_t = γ·(y_t − level_t) + (1−γ)·s_{t−m}
        forecast_{t+1} = level_t + trend_t + s_{t+1−m}

    Seeding (the classic first-cycle init, written to be replicable):
    level_m = left-fold sum of y_1..y_m divided by m, trend_m = 0,
    s_i = y_i − level_m for i = 1..m. Output starts at t = m; series
    shorter than one period emit nothing. Per-key applyInPandas
    recursion (sequential by nature, parallel across keys); every
    float op — including the seed fold — is ordered to match the
    recursive-CTE oracle literally, so parity is bit-identical. The
    seasonal state carried per step is the m-slot ring — a few
    hundred doubles per live series at worst, nothing at rest.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    m = period
    oma, omb, omg = 1.0 - alpha, 1.0 - beta, 1.0 - gamma
    base_fields = [f for f in df.schema.fields]
    schema = StructType(base_fields + [
        StructField("hw_level", DoubleType()),
        StructField("hw_trend", DoubleType()),
        StructField("hw_season", DoubleType()),
        StructField("hw_forecast", DoubleType()),
    ])

    def _per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts).reset_index(drop=True)
        y = [float(v) for v in pdf[price]]
        n = len(y)
        if n < m:
            return pdf.head(0).assign(hw_level=0.0, hw_trend=0.0,
                                      hw_season=0.0, hw_forecast=0.0)
        acc = y[0]
        for i in range(1, m):        # left fold, matches list_reduce
            acc = acc + y[i]
        lvl = acc / m
        tr = 0.0
        seas = [y[i] - lvl for i in range(m)]
        rows = [(lvl, tr, seas[m - 1], lvl + tr + seas[0])]
        for t in range(m, n):
            s_old = seas[t - m]
            prev = lvl
            lvl = alpha * (y[t] - s_old) + oma * (lvl + tr)
            tr = beta * (lvl - prev) + omb * tr
            s_new = gamma * (y[t] - lvl) + omg * s_old
            seas.append(s_new)
            rows.append((lvl, tr, s_new, lvl + tr + seas[t + 1 - m]))
        out = pdf.iloc[m - 1:].reset_index(drop=True)
        cols = list(zip(*rows))
        return out.assign(hw_level=cols[0], hw_trend=cols[1],
                          hw_season=cols[2], hw_forecast=cols[3])

    return df.groupBy(key).applyInPandas(_per_key, schema=schema)


# ------------------------------------------------------------ full pipeline

def enhance_features(candles: DataFrame, *, key: str = "product_id",
                     ts: str = "bucket_start") -> DataFrame:
    """The reference's full `_enhance_crypto_features` (minus EWM
    indicators — compose with :func:`ewm_features` when needed), with
    the with_* builders' default windows. All window functions share
    one partitioning → one shuffle total; the two projections plan as
    two Window operators over one sort.
    """
    from .spread import spread_by_key

    # pin the window family's key-partitioning at cluster width: AQE's
    # byte-based coalescer sees a few MB and serializes this 25-column
    # window chain onto one core otherwise (see spread_by_key)
    df = spread_by_key(candles, key)
    cols = df.columns
    # pass 1: log returns and the lag helpers the rolling features read
    df = _project(df, cols, [
        *_log_returns(key, ts, "close", "log_returns"),
        *_rsi_lags(key, ts, "close"),
        *_atr_lags(key, ts, "high", "low", "close"),
        *_obv_lags(key, ts, "close", "volume")])
    # pass 2: every rolling and time feature; the helpers drop out
    return _project(df, [*cols, "log_returns"], [
        *_price(key, ts, "close", "high", "low", 24),
        *_volume(key, ts, "close", "volume", 24),
        *_rsi(key, ts, 14, "rsi"),
        *_atr(key, ts, 14, "atr"),
        *_obv(key, ts, "obv"),
        *_volatility(key, ts, "log_returns", (6, 12, 24)),
        *_momentum(key, ts, "close"),
        *_time(ts)])


def max_drawdown(df: DataFrame, *, key: str, ts: str,
                 price: str = "close") -> DataFrame:
    """Per-key maximum drawdown: the most negative price/running_peak-1
    over the series, with the trough timestamp (earliest on ties —
    lexicographic struct-min keeps it deterministic). One window pass
    (running max is an incremental frame) + one grouped agg."""
    runmax = F.max(price).over(
        _w(key, ts).rowsBetween(Window.unboundedPreceding, 0))
    dd = (F.round(F.col(price) / runmax - 1.0, 6) + F.lit(0.0))
    tagged = df.select(F.col(key), F.col(ts),
                       dd.alias("dd"))
    m = (tagged.groupBy(key)
         .agg(F.min(F.struct("dd", ts)).alias("m")))
    return m.select(key,
                    F.col("m.dd").alias("max_drawdown"),
                    F.col(f"m.{ts}").alias("trough_ts"))


def rolling_beta(df: DataFrame, *, key: str, ts: str,
                 price: str = "close", window: int = 24) -> DataFrame:
    """Trailing market beta per key: cov(r_key, r_mkt) / var(r_mkt)
    over the last `window` buckets, where r_mkt is the EQUAL-WEIGHT
    mean log return across all keys at that bucket — the classic
    systematic-exposure factor over the per-product return panel.

    Determinism contract: per-key log returns are 6dp-snapped first
    (non-positive prices → NULL, excluded — the with_log_returns
    guard); the market mean folds the per-bucket returns in KEY order
    (sorted-struct fold — a bare avg() would sum in partition order)
    and stays an UNROUNDED ratio of that gridded sum (bit-identical
    quotients; re-rounding would hit exact midpoints where engine tie
    rules differ — SURVEY §5), so both window inputs are bit-identical
    across engines and the final 6dp beta rounding dominates any
    windowed-moment summation-order noise (the rolling_correlation
    rule).
    Short frames (< window) and zero-variance market frames emit NULL
    on both engines by construction.

    Scale: one per-key shuffle for the lag, one bucket-keyed shuffle
    for the market mean (time-partitioned — no hot key), one join back
    on bucket, then the per-key window family. The market table is one
    row per bucket; AQE sizes that join (no forced broadcast — it
    grows with history length).
    """
    wk = Window.partitionBy(key).orderBy(ts)
    prev = F.lag(price).over(wk)
    ret = (F.round(F.when((F.col(price) > 0) & (prev > 0),
                          F.log(F.col(price) / prev)), 6)
           + F.lit(0.0))
    r = (df.select(F.col(key), F.col(ts), ret.alias("ret"))
         .filter(F.col("ret").isNotNull()))
    ordered_sum = F.aggregate(
        F.transform(F.array_sort(F.collect_list(F.struct(key, "ret"))),
                    lambda s: s.getField("ret")),
        F.lit(0.0), lambda acc, x: acc + x)
    # UNROUNDED ratio-of-gridded-sum (the SURVEY §5 rule): the fold
    # sum and the count are bit-identical across engines, so the
    # quotient is too; re-rounding would land on exact midpoints
    # where engine tie rules differ.
    mkt = (r.groupBy(ts)
           .agg(ordered_sum.alias("_s"), F.count(F.lit(1)).alias("_n"))
           .select(ts, (F.col("_s") / F.col("_n")).alias("mkt_ret")))
    j = r.join(mkt, ts)
    fr = _rows(key, ts, window)
    n = F.count(F.lit(1)).over(fr)
    er = F.avg("ret").over(fr)
    em = F.avg("mkt_ret").over(fr)
    erm = F.avg(F.col("ret") * F.col("mkt_ret")).over(fr)
    emm = F.avg(F.col("mkt_ret") * F.col("mkt_ret")).over(fr)
    vm = emm - em * em
    beta = F.when((n >= window) & (vm > 0),
                  F.round((erm - er * em) / vm, 6) + F.lit(0.0))
    return j.select(F.col(key), F.col(ts), "ret", "mkt_ret",
                    beta.alias("rolling_beta"))


def rolling_correlation(df: DataFrame, *, key: str, ts: str,
                        x: str = "close", y: str = "volume",
                        window: int = 24) -> DataFrame:
    """Trailing Pearson correlation of two series per key, computed
    from explicit windowed moments (population form) instead of a
    corr() window aggregate — full control over the 0-variance and
    short-frame edges, which engines otherwise disagree on (NaN vs
    NULL): frames shorter than `window` and zero-variance frames emit
    NULL on both sides by construction. One window family (all frames
    share the partition/order), one shuffle."""
    fr = _rows(key, ts, window)
    n = F.count(F.lit(1)).over(fr)
    ex = F.avg(x).over(fr)
    ey = F.avg(y).over(fr)
    exy = F.avg(F.col(x) * F.col(y)).over(fr)
    exx = F.avg(F.col(x) * F.col(x)).over(fr)
    eyy = F.avg(F.col(y) * F.col(y)).over(fr)
    vx = exx - ex * ex
    vy = eyy - ey * ey
    corr = F.when(
        (n >= window) & (vx > 0) & (vy > 0),
        F.round((exy - ex * ey) / F.sqrt(vx * vy), 6) + F.lit(0.0))
    return df.select(F.col(key), F.col(ts), corr.alias("rolling_corr"))


def heikin_ashi(df: DataFrame, *, key: str, ts: str) -> DataFrame:
    """Heikin-Ashi candle transform — the smoothed-candle chart
    pattern traders read for trend persistence:
      ha_close_t = (open+high+low+close)/4
      ha_open_t  = (ha_open_{t-1} + ha_close_{t-1})/2, seeded
                   (open_1 + close_1)/2
      ha_high/ha_low = max/min(high|low, ha_open, ha_close).

    ha_open is the one recursive term (the EWM situation: sequential
    per key, parallel across keys), so this is an Arrow-batched
    applyInPandas with one group per key — same partitioning and
    memory bound as ewm_features. The recursion is plain IEEE doubles
    with the exact op order `(prev_open + prev_close) / 2`, which a
    recursive-CTE oracle replicates bit-for-bit (the ewm_indicators
    recipe; max/min are order-exact, no rounding subtleties).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([
        df.schema[key], df.schema[ts],
        StructField("ha_open", DoubleType()),
        StructField("ha_high", DoubleType()),
        StructField("ha_low", DoubleType()),
        StructField("ha_close", DoubleType()),
    ])

    def _per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts)
        o = pdf["open"].to_numpy(dtype="float64")
        h = pdf["high"].to_numpy(dtype="float64")
        lo = pdf["low"].to_numpy(dtype="float64")
        c = pdf["close"].to_numpy(dtype="float64")
        ha_c = (o + h + lo + c) / 4.0
        ha_o = np.empty_like(ha_c)
        if len(ha_o):
            ha_o[0] = (o[0] + c[0]) / 2.0
            for i in range(1, len(ha_o)):
                ha_o[i] = (ha_o[i - 1] + ha_c[i - 1]) / 2.0
        return pd.DataFrame({
            key: pdf[key].values, ts: pdf[ts].values,
            "ha_open": ha_o,
            "ha_high": np.maximum(h, np.maximum(ha_o, ha_c)),
            "ha_low": np.minimum(lo, np.minimum(ha_o, ha_c)),
            "ha_close": ha_c,
        })

    return df.groupBy(key).applyInPandas(_per_key, schema=schema)
