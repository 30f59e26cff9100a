"""Time-series queries (operators/timeseries.py) over the per-symbol price
series: rolling windows, OHLC resampling, as-of joins, risk and
volatility estimators, drawdowns, channels and cross-sectional ranking —
the sliding-frame surface the reference lacks (SURVEY §2.5 notes only
lag/first_value appear there). Prefix: ts.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import timeseries as tseries
from market_data_pipeline_spark.operators.analytics import fp_sum
from market_data_pipeline_spark.plans.driver_queries import (
    _RET_IN,
    _STOCK_IN,
    MARKET_SERIES_CTE,
    PRICE_CTE,
    RETURN_SYMBOLS,
    STOCK_SYMBOLS,
    _ts_series,
    index_returns_frame,
    market_series,
    price_frame,
    query,
    returns_frame,
)
from market_data_pipeline_spark.sources.catalog import load_table


QUARTER_ENDS = [
    f"{y}-{md}"
    for y in range(1995, 1999)
    for md in ("03-31", "06-30", "09-30", "12-31")
]


@query(
    "ts1_sma",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
)
SELECT symbol, trade_date, close_price,
       CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
           / COUNT(close_price) OVER w5 AS sma_5,
       CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w20 AS DOUBLE)
           / COUNT(close_price) OVER w20 AS sma_20
FROM sel
WINDOW w5  AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w20 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY symbol, trade_date""",
)
def ts1_sma(spark, sf_dir):
    """Trailing 5/20-row moving averages — decimal-accumulated window sums
    so Spark's sequential frame buffer and DuckDB's segment tree can't
    produce different floats."""
    return tseries.sma(tseries.sma(_ts_series(spark, sf_dir), 5), 20)


@query(
    "ts7_bollinger",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
)
SELECT symbol, trade_date, close_price,
       CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w AS DOUBLE)
           / COUNT(close_price) OVER w AS sma_20,
       ROUND(stddev_samp(close_price) OVER w, 6) AS band_dev,
       ROUND(CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(close_price) OVER w
             + 2.0 * ROUND(stddev_samp(close_price) OVER w, 6), 6) AS upper_band,
       ROUND(CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(close_price) OVER w
             - 2.0 * ROUND(stddev_samp(close_price) OVER w, 6), 6) AS lower_band
FROM sel
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY symbol, trade_date""",
)
def ts7_bollinger(spark, sf_dir):
    """Bollinger bands (20-row SMA ± 2σ): both moments in one window pass
    on one shuffle; mean decimal-exact, deviation rounded (see
    operators/timeseries.bollinger_bands)."""
    return tseries.bollinger_bands(_ts_series(spark, sf_dir), n=20, k=2.0)


@query(
    "ts8_rsi",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
),
d AS (
  SELECT symbol, trade_date, close_price,
         close_price - lag(close_price) OVER
             (PARTITION BY symbol ORDER BY trade_date) AS diff
  FROM sel
),
g AS (
  SELECT symbol, trade_date, close_price,
         CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS gain,
         CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS loss,
         CASE WHEN diff IS NULL THEN 0 ELSE 1 END AS has
  FROM d
)
SELECT symbol, trade_date, close_price,
       ROUND(CASE
         WHEN SUM(has) OVER w = 0 THEN NULL
         WHEN CAST(SUM(CAST(loss AS DECIMAL(18,6))) OVER w AS DOUBLE)
                  / SUM(has) OVER w = 0 THEN 100.0
         ELSE 100.0 - 100.0 / (1.0 +
              (CAST(SUM(CAST(gain AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   / SUM(has) OVER w)
            / (CAST(SUM(CAST(loss AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   / SUM(has) OVER w))
       END, 6) AS rsi_14
FROM g
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
ORDER BY symbol, trade_date""",
)
def ts8_rsi(spark, sf_dir):
    """RSI-14 (Cutler simple-average variant — the Wilder recursion is
    not SQL-window-expressible, see operators/timeseries.rsi): lag diff
    plus trailing averages stacked on ONE (symbol, date) shuffle."""
    return tseries.rsi(_ts_series(spark, sf_dir), n=14)


@query(
    "ts9_rolling_corr",
    f"""WITH {MARKET_SERIES_CTE},
rets AS (
  SELECT symbol, trade_date,
         close_price / lag(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0
             AS daily_return,
         lag(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close
  FROM mseries
  WHERE close_price > 0
),
sel AS (
  SELECT symbol, trade_date, daily_return FROM rets
  WHERE prev_close IS NOT NULL AND prev_close > 0
),
p(key_a, key_b) AS (VALUES ('Brand#1', 'Brand#2'), ('Brand#3', 'Brand#4')),
j AS (
  SELECT p.key_a, p.key_b, a.trade_date,
         a.daily_return AS ra, b.daily_return AS rb
  FROM p
  JOIN sel a ON a.symbol = p.key_a
  JOIN sel b ON b.symbol = p.key_b AND b.trade_date = a.trade_date
)
SELECT key_a, key_b, trade_date,
       ROUND(corr(ra, rb) OVER w, 6) AS corr_20
FROM j
WINDOW w AS (PARTITION BY key_a, key_b ORDER BY trade_date
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY key_a, key_b, trade_date""",
)
def ts9_rolling_corr(spark, sf_dir):
    """Trailing-20-day rolling correlation for an explicit pair shortlist
    (pairs-trading monitor): per-pair window partitioning, so many pairs
    parallelize and no global window exists — see
    operators/timeseries.rolling_pair_corr for the quadratic guard."""
    ms = market_series(spark, sf_dir).filter(F.col("close_price") > 0)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    rets = (
        ms.withColumn("prev_close", F.lag("close_price").over(w))
        .filter(F.col("prev_close").isNotNull() & (F.col("prev_close") > 0))
        .select(
            "symbol",
            "trade_date",
            (F.col("close_price") / F.col("prev_close") - 1.0).alias("daily_return"),
        )
    )
    return tseries.rolling_pair_corr(
        rets, pairs=[("Brand#1", "Brand#2"), ("Brand#3", "Brand#4")], n=20
    )


@query(
    "ts2_volatility",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
),
rets AS (
  SELECT symbol, trade_date, close_price,
         close_price / lag(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0 AS ret
  FROM sel
)
SELECT symbol, trade_date, close_price, ret,
       ROUND(stddev_samp(ret) OVER (PARTITION BY symbol ORDER BY trade_date
                                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS vol_10
FROM rets
ORDER BY symbol, trade_date""",
)
def ts2_volatility(spark, sf_dir):
    """Rolling 10-row realized volatility of daily returns (stddev rounded:
    variance accumulation order is engine-internal)."""
    return tseries.rolling_volatility(_ts_series(spark, sf_dir), 10)


@query(
    "ts3_drawdown",
    f"""WITH {PRICE_CTE},
dd AS (
  SELECT symbol,
         close_price / MAX(close_price) OVER (PARTITION BY symbol ORDER BY trade_date
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
             AS _dd
  FROM price WHERE close_price > 0
)
SELECT symbol, ROUND(MIN(_dd), 6) AS max_drawdown
FROM dd GROUP BY symbol ORDER BY symbol""",
)
def ts3_drawdown(spark, sf_dir):
    """Per-symbol maximum drawdown over the whole series: running max is
    order-insensitive, the ratio is per-row IEEE, the min is exact."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price") > 0)
    return tseries.max_drawdown(p)


@query(
    "ts4_weekly_ohlc",
    f"""WITH {PRICE_CTE}
SELECT symbol,
       date_trunc('week', trade_date) AS bucket,
       arg_min(close_price, trade_date) AS open_px,
       MAX(close_price) AS high_px,
       MIN(close_price) AS low_px,
       arg_max(close_price, trade_date) AS close_px,
       CAST(SUM(CAST(volume AS DECIMAL(18,2))) AS BIGINT) AS volume
FROM price
WHERE symbol IN ({_STOCK_IN}) AND close_price IS NOT NULL
GROUP BY 1, 2
ORDER BY symbol, bucket""",
)
def ts4_weekly_ohlc(spark, sf_dir):
    """Weekly OHLC resampling via min_by/max_by — one hash aggregate, no
    window pass; deterministic because (symbol, trade_date) is unique."""
    p = price_frame(spark, sf_dir, symbols=STOCK_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    bars = tseries.resample_ohlc(
        p, F.date_trunc("week", F.col("trade_date")).cast("date")
    )
    return bars.select(
        "symbol",
        "bucket",
        F.col("open").alias("open_px"),
        F.col("high").alias("high_px"),
        F.col("low").alias("low_px"),
        F.col("close").alias("close_px"),
        "volume",
    )


@query(
    "ts5_asof_prices",
    f"""WITH {PRICE_CTE},
grid AS (
  SELECT s.symbol, CAST(d.qend AS DATE) AS qend
  FROM (VALUES {",".join(f"('{s}')" for s in STOCK_SYMBOLS)}) s(symbol)
  CROSS JOIN (VALUES {",".join(f"('{d}')" for d in QUARTER_ENDS)}) d(qend)
)
SELECT g.symbol, g.qend, p.close_price AS asof_close
FROM grid g
ASOF LEFT JOIN (SELECT * FROM price WHERE close_price IS NOT NULL) p
  ON g.symbol = p.symbol AND p.trade_date <= g.qend
ORDER BY g.symbol, g.qend""",
)
def ts5_asof_prices(spark, sf_dir):
    """Quarter-end as-of valuation: each (symbol, quarter-end) picks up the
    latest close at-or-before that date via the single-shuffle union as-of
    join (operators/timeseries.asof_join) — checked against DuckDB's native
    ASOF LEFT JOIN."""
    grid = spark.createDataFrame(
        [(s, d) for s in STOCK_SYMBOLS for d in QUARTER_ENDS],
        "symbol string, qend string",
    ).select("symbol", F.to_date("qend").alias("qend"))
    # symbols= pushes the key filter into the parquet scan itself (footer
    # pruning — round 1 fed the FULL series through the as-of window for a
    # 64-row grid, 8.1s at sf0.1). asof_join's prune_right_to_left_keys
    # covers callers whose left keys aren't statically known; here the
    # scan filter already is the prune, so the flag stays off and the plan
    # stays join-free.
    p = price_frame(spark, sf_dir, symbols=STOCK_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    ).select("symbol", "trade_date", "close_price")
    joined = tseries.asof_join(
        grid, p, on=["symbol"], left_ts="qend", right_ts="trade_date",
        value_cols=["close_price"],
    )
    return joined.select(
        "symbol", "qend", F.col("close_price").alias("asof_close")
    )


@query(
    "ts6_range_avg",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
)
SELECT symbol, trade_date, close_price,
       CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w AS DOUBLE)
           / COUNT(close_price) OVER w AS sma_30d
FROM sel
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
             RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)
ORDER BY symbol, trade_date""",
)
def ts6_range_avg(spark, sf_dir):
    """Trailing 30 CALENDAR days average (RANGE frame over days-since-
    epoch) — on a gapped series this is a different operator from the
    row-frame sma, and it is the one a human means by '30-day average'."""
    return tseries.sma_range_days(_ts_series(spark, sf_dir), 30)


# --- TS10: return z-score outliers -------------------------------------------


@query(
    "ts10_zscore_outliers",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
),
rets AS (
  SELECT symbol, trade_date, close_price,
         close_price / lag(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0 AS ret
  FROM sel
),
z AS (
  SELECT symbol, trade_date, close_price, ret,
         avg(ret) OVER (PARTITION BY symbol) AS mu,
         stddev_samp(ret) OVER (PARTITION BY symbol) AS sd
  FROM rets WHERE ret IS NOT NULL
)
SELECT symbol, trade_date, close_price, ret, ROUND((ret - mu) / sd, 6) AS z
FROM z
WHERE sd > 0 AND abs(ROUND((ret - mu) / sd, 6)) >= 2.0
ORDER BY symbol, trade_date""",
)
def ts10_zscore_outliers(spark, sf_dir):
    """Per-series return z-score spike screen (|z| >= 2, rounded before
    thresholding so the flagged set is engine-independent)."""
    return tseries.zscore_outliers(_ts_series(spark, sf_dir), 2.0)


# --- TS11: forward fill ------------------------------------------------------


@query(
    "ts11_forward_fill",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date,
         CASE WHEN day(trade_date) % 7 = 0 THEN NULL ELSE close_price END
             AS close_gapped
  FROM price
  WHERE symbol IN ({_RET_IN})
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
)
SELECT symbol, trade_date, close_gapped,
       last_value(close_gapped IGNORE NULLS) OVER (
         PARTITION BY symbol ORDER BY trade_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled
FROM sel ORDER BY symbol, trade_date""",
)
def ts11_forward_fill(spark, sf_dir):
    """Forward fill over a deterministically gapped series (every
    7th-day-of-month observation nulled): last-observation-carried-
    forward per symbol, no back-fill — see timeseries.forward_fill."""
    gapped = (
        price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
        .filter(
            (F.col("trade_date") >= "1996-01-01")
            & (F.col("trade_date") <= "1998-12-31")
        )
        .select(
            "symbol",
            "trade_date",
            F.when(F.dayofmonth("trade_date") % 7 == 0, F.lit(None))
            .otherwise(F.col("close_price"))
            .alias("close_gapped"),
        )
    )
    return (
        tseries.forward_fill(
            gapped, ["close_gapped"], suffix="_x"
        )
        .select(
            "symbol",
            "trade_date",
            "close_gapped",
            F.col("close_gapped_x").alias("close_filled"),
        )
    )


# --- TS12/TS13: regression aggregates (trend, market beta) -------------------


@query(
    "ts12_linear_trend",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol,
         CAST(trade_date - DATE '1970-01-01' AS DOUBLE) AS x,
         close_price AS y
  FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(regr_slope(y, x), 6) AS slope,
       ROUND(regr_intercept(y, x), 6) AS intercept,
       ROUND(regr_r2(y, x), 6) AS r2
FROM sel GROUP BY symbol ORDER BY symbol""",
)
def ts12_linear_trend(spark, sf_dir):
    """Per-symbol OLS price trend via the native regression aggregates
    (regr_slope/intercept/r2 over epoch-day x): one hash aggregate on the
    series key, no window pass, no UDF. Rounded to 6dp — regression
    moments accumulate in engine-internal order (same rule as corr)."""
    s = _ts_series(spark, sf_dir).select(
        "symbol",
        F.datediff(F.col("trade_date"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("close_price").alias("y"),
    )
    return (
        s.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
    )


@query(
    "ts13_market_beta",
    f"""WITH {PRICE_CTE},
idx AS (
  SELECT trade_date,
         CAST(SUM(CAST(close_price AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(close_price) AS idx_close
  FROM price WHERE close_price IS NOT NULL GROUP BY 1
),
idx_ret AS (
  SELECT trade_date,
         idx_close / lag(idx_close) OVER (ORDER BY trade_date) - 1.0 AS mkt_ret
  FROM idx
),
stk AS (
  SELECT symbol, trade_date,
         close_price / lag(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0 AS ret
  FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
)
SELECT s.symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(regr_slope(s.ret, i.mkt_ret), 6) AS beta,
       ROUND(regr_intercept(s.ret, i.mkt_ret), 6) AS alpha,
       ROUND(corr(s.ret, i.mkt_ret), 6) AS mkt_corr
FROM stk s JOIN idx_ret i USING (trade_date)
WHERE s.ret IS NOT NULL AND i.mkt_ret IS NOT NULL
GROUP BY s.symbol ORDER BY s.symbol""",
)
def ts13_market_beta(spark, sf_dir):
    """CAPM-style market beta: each symbol's daily returns regressed on
    an equal-weight whole-market index's returns. The index is one
    groupBy over the full price frame (decimal-exact average); the
    per-date index-return series is tiny, so the join back to stock
    returns broadcasts. Beta/alpha/corr round to 6dp (moment
    accumulation order is engine-internal)."""
    idx_ret = index_returns_frame(spark, sf_dir).filter(
        F.col("mkt_ret").isNotNull()
    )
    sw = Window.partitionBy("symbol").orderBy("trade_date")
    stk = (
        _ts_series(spark, sf_dir)
        .select(
            "symbol",
            "trade_date",
            (F.col("close_price") / F.lag("close_price").over(sw) - 1.0).alias(
                "ret"
            ),
        )
        .filter(F.col("ret").isNotNull())
    )
    joined = stk.join(F.broadcast(idx_ret), "trade_date")
    return (
        joined.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.regr_slope("ret", "mkt_ret"), 6).alias("beta"),
            F.round(F.regr_intercept("ret", "mkt_ret"), 6).alias("alpha"),
            F.round(F.corr("ret", "mkt_ret"), 6).alias("mkt_corr"),
        )
    )


_EWMA_IN = ", ".join(f"'{s}'" for s in RETURN_SYMBOLS)


@query(
    "ts14_ewma",
    f"""WITH {PRICE_CTE}, r AS (
  SELECT symbol, trade_date, close_price,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS rn
  FROM price WHERE symbol IN ({_EWMA_IN})
)
SELECT symbol, trade_date, close_price,
       ROUND(
         SUM(close_price * pow(0.8, -rn)) OVER (
           PARTITION BY symbol ORDER BY trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / SUM(pow(0.8, -rn)) OVER (
           PARTITION BY symbol ORDER BY trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS ewma
FROM r ORDER BY symbol, trade_date""",
)
def ts14_ewma(spark, sf_dir):
    """Per-symbol EWMA (pandas adjust=True semantics) as a segmented
    prefix scan — closed form over window sums, blocks of 512 rows to
    bound the q^-r exponent, carries folded exactly across blocks; no
    UDF, one shuffle — see operators.timeseries.ewma. (The oracle's
    direct closed form is overflow-safe only at oracle scale; the
    segmented form is the 100 TB shape.)"""
    prices = price_frame(spark, sf_dir, RETURN_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.ewma(prices, alpha=0.2, round_digits=4)


_CAL_IN = ", ".join(f"'{s}'" for s in STOCK_SYMBOLS)


@query(
    "ts15_calendar_fill",
    f"""WITH {PRICE_CTE},
spans AS (
  SELECT symbol, MIN(trade_date) AS d0, MAX(trade_date) AS d1
  FROM price WHERE symbol IN ({_CAL_IN}) GROUP BY 1
), cal AS (
  SELECT symbol,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS trade_date
  FROM spans
)
SELECT c.symbol, c.trade_date,
       last_value(p.close_price IGNORE NULLS) OVER (
         PARTITION BY c.symbol ORDER BY c.trade_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_price,
       CAST(CASE WHEN p.symbol IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS is_observed
FROM cal c LEFT JOIN price p USING (symbol, trade_date)
ORDER BY 1, 2""",
)
def ts15_calendar_fill(spark, sf_dir):
    """Dense-calendar upsampling with forward fill: per-series
    min/max span -> explode(sequence(...)) calendar (distributed, no
    driver date loop) -> left join observed -> LOCF window — see
    operators.timeseries.calendar_fill."""
    prices = price_frame(spark, sf_dir, STOCK_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.calendar_fill(prices, ["close_price"])


@query(
    "ts16_rolling_median",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date, close_price,
       median(close_price) OVER (
         PARTITION BY symbol ORDER BY trade_date
         ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS median_15
FROM price WHERE symbol IN ({_EWMA_IN})
ORDER BY symbol, trade_date""",
)
def ts16_rolling_median(spark, sf_dir):
    """Outlier-robust rolling median (exact percentile over a bounded
    ROWS frame; both engines midpoint-interpolate identically) — see
    operators.timeseries.rolling_median."""
    prices = price_frame(spark, sf_dir, RETURN_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.rolling_median(prices, 15)


@query(
    "ts17_cusum",
    f"""WITH {PRICE_CTE}, r AS (
  SELECT symbol, trade_date, close_price,
         close_price / lag(close_price) OVER (
           PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE symbol IN ({_EWMA_IN})
), c AS (
  SELECT symbol, trade_date, ret,
         SUM(ret - 0.0) OVER (
           PARTITION BY symbol ORDER BY trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM r WHERE ret IS NOT NULL
)
SELECT symbol, trade_date, ret,
       ROUND(cum - LEAST(0.0, MIN(cum) OVER (
         PARTITION BY symbol ORDER BY trade_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS cusum,
       ROUND(cum - LEAST(0.0, MIN(cum) OVER (
         PARTITION BY symbol ORDER BY trade_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) > 0.05
         AS alarm
FROM c ORDER BY symbol, trade_date""",
)
def ts17_cusum(spark, sf_dir):
    """CUSUM drift detection: the clamped recurrence
    max(0, S+ret-k) rewritten exactly as prefix-sum minus running-min —
    two window aggregates on one shuffle, no sequential loop — see
    operators.timeseries.cusum."""
    prices = price_frame(spark, sf_dir, RETURN_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.cusum(prices, slack=0.0, threshold=0.05)


_ADJ_SYMBOLS = ["3", "7", "16", "27", "42", "101"]
_ADJ_IN = ", ".join(f"'{s}'" for s in _ADJ_SYMBOLS)

_ACTIONS_CTE = """
actions AS (
  SELECT CAST(p_partkey AS VARCHAR) AS symbol,
         DATE '1996-06-01' AS action_date, 0.5 AS factor
  FROM part WHERE p_partkey % 7 = 3
  UNION ALL
  SELECT CAST(p_partkey AS VARCHAR), DATE '1997-03-01', 0.8
  FROM part WHERE p_partkey % 11 = 5
)"""


@query(
    "ts18_adjusted_close",
    f"""WITH {PRICE_CTE}, {_ACTIONS_CTE}
SELECT p.symbol, p.trade_date, p.close_price,
       ROUND(COALESCE(exp(SUM(ln(a.factor))), 1.0), 6) AS adj_factor,
       ROUND(p.close_price * COALESCE(exp(SUM(ln(a.factor))), 1.0), 6)
         AS adj_close
FROM price p LEFT JOIN actions a
  ON a.symbol = p.symbol AND a.action_date > p.trade_date
WHERE p.symbol IN ({_ADJ_IN})
GROUP BY p.symbol, p.trade_date, p.close_price
ORDER BY p.symbol, p.trade_date""",
)
def ts18_adjusted_close(spark, sf_dir):
    """Corporate-action back-adjustment: prices restated by the
    cumulative product of all STRICTLY-LATER adjustment factors. The
    product runs as exp(sum(ln)) over the tiny actions frame only; the
    prices pick it up via the one-shuffle as-of union (the oracle's
    correlated join explodes |P|x|A| — fine at oracle scale, not at
    100 TB) — see operators.timeseries.adjusted_close."""
    p = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    splits = p.filter(pk % 7 == 3).select(
        pk.cast("string").alias("symbol"),
        F.to_date(F.lit("1996-06-01")).alias("action_date"),
        F.lit(0.5).alias("factor"),
    )
    divs = p.filter(pk % 11 == 5).select(
        pk.cast("string").alias("symbol"),
        F.to_date(F.lit("1997-03-01")).alias("action_date"),
        F.lit(0.8).alias("factor"),
    )
    actions = splits.unionByName(divs)
    prices = price_frame(spark, sf_dir, _ADJ_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.adjusted_close(prices, actions)


@query(
    "ts19_vwap",
    f"""WITH {PRICE_CTE}
SELECT symbol, CAST(date_trunc('month', trade_date) AS DATE) AS bucket,
       CAST(SUM(CAST(CAST(close_price AS DECIMAL(18,2)) * volume
                     AS DECIMAL(38,2))) AS DOUBLE)
         / CAST(SUM(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS vwap,
       CAST(SUM(CAST(volume AS DECIMAL(18,2))) AS BIGINT) AS total_volume
FROM price WHERE symbol IN ({_CAL_IN})
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def ts19_vwap(spark, sf_dir):
    """Monthly volume-weighted average price — decimal-exact numerator
    and denominator so re-partitioning cannot change the result — see
    operators.timeseries.vwap."""
    prices = price_frame(spark, sf_dir, STOCK_SYMBOLS)
    return tseries.vwap(
        prices, F.date_trunc("month", F.col("trade_date")).cast("date")
    )


@query(
    "ts20_seasonal_baseline",
    f"""WITH {PRICE_CTE},
base AS (
  SELECT symbol, dayofweek(trade_date) + 1 AS dow,
         CAST(SUM(CAST(close_price AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(close_price) AS dow_avg
  FROM price WHERE symbol IN ({_CAL_IN}) GROUP BY 1, 2
)
SELECT p.symbol, p.trade_date, p.close_price,
       CAST(dayofweek(p.trade_date) + 1 AS INTEGER) AS dow,
       b.dow_avg,
       ROUND(p.close_price / b.dow_avg, 6) AS seasonal_ratio
FROM price p JOIN base b
  ON p.symbol = b.symbol AND dayofweek(p.trade_date) + 1 = b.dow
WHERE p.symbol IN ({_CAL_IN})
ORDER BY p.symbol, p.trade_date""",
)
def ts20_seasonal_baseline(spark, sf_dir):
    """Weekday seasonal baseline per series: decimal-exact per-(symbol,
    weekday) means joined back on the series key; deviation rounded —
    see operators.timeseries.seasonal_baseline. (DuckDB's dayofweek is
    0=Sunday; Spark's is 1=Sunday — the oracle shifts by one.)"""
    prices = price_frame(spark, sf_dir, STOCK_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.seasonal_baseline(prices).select(
        "symbol", "trade_date", "close_price", "dow", "dow_avg", "seasonal_ratio"
    )


@query(
    "ts21_robust_scale",
    f"""WITH {PRICE_CTE},
stats AS (
  SELECT symbol,
         quantile_cont(close_price, 0.5) AS median,
         quantile_cont(close_price, 0.75) - quantile_cont(close_price, 0.25)
           AS iqr
  FROM price WHERE symbol IN ({_CAL_IN}) GROUP BY 1
)
SELECT p.symbol, p.trade_date, p.close_price, s.median, s.iqr,
       CASE WHEN s.iqr <> 0
            THEN ROUND((p.close_price - s.median) / s.iqr, 6) END AS scaled
FROM price p JOIN stats s USING (symbol)
WHERE p.symbol IN ({_CAL_IN})
ORDER BY p.symbol, p.trade_date""",
)
def ts21_robust_scale(spark, sf_dir):
    """Outlier-insensitive (median/IQR) feature scaling per series —
    exact type-7 percentiles on both engines, zero-IQR surfaced as NULL
    — see operators.timeseries.robust_scale."""
    prices = price_frame(spark, sf_dir, STOCK_SYMBOLS).select(
        "symbol", "trade_date", "close_price"
    )
    return tseries.robust_scale(prices).select(
        "symbol", "trade_date", "close_price", "median", "iqr", "scaled"
    )


@query(
    "ts22_sharpe",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
), r AS (
  SELECT symbol,
         close_price / LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM sel
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       CASE WHEN STDDEV_SAMP(ret) > 0
            THEN ROUND(AVG(ret) / STDDEV_SAMP(ret) * SQRT(252), 6) END AS sharpe_annual
FROM r WHERE ret IS NOT NULL GROUP BY 1 ORDER BY symbol""",
)
def ts22_sharpe(spark, sf_dir):
    """Annualized per-symbol Sharpe ratio (rf=0) over daily returns —
    one window pass + one map-combined moment aggregate; ratio rounded
    (moment accumulation is engine-internal). See
    operators.timeseries.sharpe_ratio."""
    return tseries.sharpe_ratio(_ts_series(spark, sf_dir))


@query(
    "ts23_donchian",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
), ch AS (
  SELECT symbol, trade_date, close_price,
         MAX(close_price) OVER w20 AS upper_20,
         MIN(close_price) OVER w20 AS lower_20
  FROM sel
  WINDOW w20 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date, close_price, upper_20, lower_20,
       close_price > LAG(upper_20) OVER w AS breakout_up,
       close_price < LAG(lower_20) OVER w AS breakout_down
FROM ch
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
ORDER BY symbol, trade_date""",
)
def ts23_donchian(spark, sf_dir):
    """Donchian channel (trailing 20-row max/min) with lagged breakout
    flags — exact associative aggregates, fully deterministic, one
    shuffle on the series key. See
    operators.timeseries.donchian_channels."""
    return tseries.donchian_channels(_ts_series(spark, sf_dir), 20)


@query(
    "ts24_return_autocorr",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
), r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price) OVER w - 1 AS ret
  FROM sel WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
), p AS (
  SELECT symbol, ret, LAG(ret) OVER (PARTITION BY symbol ORDER BY trade_date) AS lagged
  FROM r
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CORR(ret, lagged), 6) AS autocorr
FROM p WHERE ret IS NOT NULL AND lagged IS NOT NULL
GROUP BY 1 ORDER BY symbol""",
)
def ts24_return_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of daily returns per symbol (mean-reversion
    diagnostic); corr rounded at 6dp. See
    operators.timeseries.return_autocorr."""
    return tseries.return_autocorr(_ts_series(spark, sf_dir), 1)


@query(
    "ts25_xs_momentum",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT trade_date, symbol,
         close_price / LAG(close_price, 20) OVER (PARTITION BY symbol ORDER BY trade_date) - 1
             AS mom
  FROM price WHERE close_price IS NOT NULL
)
SELECT trade_date, symbol, ROUND(mom, 6) AS momentum,
       CAST(ROW_NUMBER() OVER wx AS BIGINT) AS xs_rank,
       CAST(NTILE(5) OVER wx AS BIGINT) AS quantile
FROM r WHERE mom IS NOT NULL
  AND trade_date >= DATE '1998-06-01' AND trade_date <= DATE '1998-06-30'
WINDOW wx AS (PARTITION BY trade_date ORDER BY mom DESC, symbol)
ORDER BY trade_date, xs_rank""",
)
def ts25_xs_momentum(spark, sf_dir):
    """Cross-sectional momentum: every symbol's trailing 20-row return
    ranked against the whole universe on one date (rank + quintile, ties
    broken on symbol). Two window passes with different partitionings —
    per-series lag, then the per-date cross-section (bounded by the
    symbol universe, never history length). See
    operators.timeseries.cross_sectional_momentum."""
    p = returns_frame(spark, sf_dir)  # reuses the materialized price stage
    out = tseries.cross_sectional_momentum(p, lookback=20, n_quantiles=5)
    return out.filter(
        (F.col("trade_date") >= "1998-06-01") & (F.col("trade_date") <= "1998-06-30")
    )


@query(
    "ts26_amihud_illiquidity",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol,
         ABS(close_price / LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1)
             / amount * 1e9 AS ratio
  FROM price WHERE close_price IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       (SUM(CAST(ROUND(ratio * 1e9) AS DECIMAL(38,0))) / 1e9) / COUNT(*) AS amihud_illiq
FROM r WHERE ratio IS NOT NULL GROUP BY 1 ORDER BY symbol""",
)
def ts26_amihud_illiquidity(spark, sf_dir):
    """Amihud price-impact proxy per symbol: avg(|return| / traded
    amount). The double average is made engine-exact by fixed-pointing
    each row's contribution to 1e-9 and summing as BIGINT — bit-identical
    with no output rounding. See
    operators.timeseries.amihud_illiquidity."""
    p = returns_frame(spark, sf_dir)
    return tseries.amihud_illiquidity(p, ret_col="ret")


@query(
    "ts27_candlestick_flags",
    f"""WITH {PRICE_CTE},
bars AS (
  SELECT symbol, date_trunc('week', trade_date) AS bucket,
         arg_min(close_price, trade_date) AS open_px,
         MAX(close_price) AS high_px,
         MIN(close_price) AS low_px,
         arg_max(close_price, trade_date) AS close_px,
         CAST(SUM(CAST(volume AS DECIMAL(18,2))) AS BIGINT) AS volume
  FROM price WHERE symbol IN ({_STOCK_IN}) AND close_price IS NOT NULL
  GROUP BY 1, 2
), flagged AS (
  SELECT *,
         close_px > open_px AS bullish,
         high_px - low_px > 0
           AND ABS(close_px - open_px) <= 0.1 * (high_px - low_px) AS doji,
         GREATEST(open_px, close_px) AS body_hi,
         LEAST(open_px, close_px) AS body_lo,
         LAG(GREATEST(open_px, close_px)) OVER w AS prev_hi,
         LAG(LEAST(open_px, close_px)) OVER w AS prev_lo,
         LAG(close_px > open_px) OVER w AS prev_bull
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
)
SELECT symbol, bucket, open_px, high_px, low_px, close_px, volume,
       bullish, doji,
       bullish AND NOT COALESCE(prev_bull, TRUE)
         AND body_hi > prev_hi AND body_lo < prev_lo AS engulfing_up,
       NOT bullish AND COALESCE(prev_bull, FALSE)
         AND body_hi > prev_hi AND body_lo < prev_lo AS engulfing_down
FROM flagged ORDER BY symbol, bucket""",
)
def ts27_candlestick_flags(spark, sf_dir):
    """Candlestick pattern census over weekly OHLC bars (direction, doji,
    engulfing vs previous bar body) — exact boolean expressions over the
    resampled bars, one window shuffle. See
    operators.timeseries.candlestick_flags."""
    p = price_frame(spark, sf_dir, symbols=STOCK_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    bars = tseries.resample_ohlc(
        p, F.date_trunc("week", F.col("trade_date")).cast("date")
    )
    out = tseries.candlestick_flags(bars)
    return out.select(
        "symbol", "bucket",
        F.col("open").alias("open_px"), F.col("high").alias("high_px"),
        F.col("low").alias("low_px"), F.col("close").alias("close_px"),
        "volume", "bullish", "doji", "engulfing_up", "engulfing_down",
    )


@query(
    "ts28_drawdown_duration",
    f"""WITH {PRICE_CTE},
staged AS (
  SELECT symbol, trade_date, close_price,
         MAX(close_price) OVER w AS peak
  FROM price WHERE close_price > 0
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), flagged AS (
  SELECT symbol, trade_date,
         CASE WHEN close_price < peak THEN 1 ELSE 0 END AS under
  FROM staged
), starts AS (
  SELECT symbol, trade_date, under,
         CASE WHEN under = 1 AND COALESCE(LAG(under) OVER w, 0) = 0
              THEN 1 ELSE 0 END AS s
  FROM flagged WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
), spells AS (
  SELECT symbol,
         SUM(s) OVER (PARTITION BY symbol ORDER BY trade_date
                      ROWS UNBOUNDED PRECEDING) AS spell,
         under
  FROM starts
), lens AS (
  SELECT symbol, spell, COUNT(*) AS len
  FROM spells WHERE under = 1 GROUP BY 1, 2
)
SELECT symbol,
       CAST(SUM(len) AS BIGINT) AS n_underwater_days,
       CAST(MAX(len) AS BIGINT) AS longest_underwater,
       CAST(COUNT(*) AS BIGINT) AS n_spells
FROM lens GROUP BY 1 ORDER BY symbol""",
)
def ts28_drawdown_duration(spark, sf_dir):
    """Longest underwater spell per symbol (recovery-time risk — the
    duration companion to ts3's depth): gaps-and-islands over the
    below-running-peak flag, one shuffle on the series key. See
    operators.timeseries.drawdown_duration."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price") > 0)
    return tseries.drawdown_duration(p)


@query(
    "ts29_ulcer_index",
    f"""WITH {PRICE_CTE},
dd AS (
  SELECT symbol,
         (close_price / MAX(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date
                   ROWS UNBOUNDED PRECEDING) - 1) * 100 AS ddp
  FROM price WHERE close_price IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       SQRT((SUM(CAST(ROUND(ddp * ddp * 1e6) AS DECIMAL(38,0))) / 1e6)
            / COUNT(*)) AS ulcer_index
FROM dd GROUP BY 1 ORDER BY symbol""",
)
def ts29_ulcer_index(spark, sf_dir):
    """Ulcer Index per symbol (root-mean-square percent drawdown from
    the running peak) — depth-weighted downside risk. One per-series
    window + one groupBy on the same key; squared drawdowns fixed-point
    summed so the root is engine-identical. See
    operators.timeseries.ulcer_index."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    return tseries.ulcer_index(p)


@query(
    "ts30_obv",
    f"""WITH {PRICE_CTE},
s AS (
  SELECT symbol, trade_date,
         COALESCE(CAST(SIGN(close_price - LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date)) AS BIGINT), 0)
           * volume AS sv
  FROM price
), o AS (
  SELECT symbol, sv,
         SUM(sv) OVER (PARTITION BY symbol ORDER BY trade_date
                       ROWS UNBOUNDED PRECEDING) AS obv
  FROM s
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(sv) AS BIGINT) AS obv_final,
       CAST(MAX(obv) AS BIGINT) AS obv_peak
FROM o GROUP BY 1 ORDER BY symbol""",
)
def ts30_obv(spark, sf_dir):
    """On-Balance Volume per symbol: final OBV and running peak —
    accumulation/distribution divergence. All-integer arithmetic
    (sign x volume), exact in any engine; two window passes share one
    series-key shuffle. See operators.timeseries.on_balance_volume."""
    return tseries.on_balance_volume(price_frame(spark, sf_dir))


@query(
    "ts31_streaks",
    f"""WITH {PRICE_CTE},
s AS (
  SELECT symbol, trade_date,
         SIGN(close_price - LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date)) AS sgn
  FROM price
), f AS (
  SELECT symbol, trade_date, sgn,
         CASE WHEN LAG(sgn) OVER (PARTITION BY symbol ORDER BY trade_date)
                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS new_run
  FROM s WHERE sgn IS NOT NULL
), r AS (
  SELECT symbol, sgn,
         SUM(new_run) OVER (PARTITION BY symbol ORDER BY trade_date
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM f
), runs AS (
  SELECT symbol, run_id, sgn, COUNT(*) AS len FROM r GROUP BY 1, 2, 3
)
SELECT symbol,
       CAST(MAX(CASE WHEN sgn = 1 THEN len END) AS BIGINT) AS longest_up,
       CAST(MAX(CASE WHEN sgn = -1 THEN len END) AS BIGINT) AS longest_down
FROM runs GROUP BY 1 ORDER BY symbol""",
)
def ts31_streaks(spark, sf_dir):
    """Longest strictly-rising and strictly-falling close streaks per
    symbol — gaps-and-islands on the daily change sign (flat days break
    streaks). Run lengths are integers, exact everywhere; one series-key
    shuffle. See operators.timeseries.streak_stats."""
    return tseries.streak_stats(price_frame(spark, sf_dir))


@query(
    "ts32_monthly_seasonality",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT month(trade_date) AS m,
         close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
)
SELECT CAST(m AS BIGINT) AS month, CAST(COUNT(*) AS BIGINT) AS n_returns,
       SUM(CAST(ROUND(ret * 1e9) AS DECIMAL(38,0))) / 1e9 / COUNT(*)
           AS mean_ret
FROM r WHERE ret IS NOT NULL GROUP BY 1 ORDER BY month""",
)
def ts32_monthly_seasonality(spark, sf_dir):
    """Calendar-month return seasonality across the whole universe
    (the January-effect table): exact fixed-point mean of per-symbol
    daily returns grouped by month-of-year. Rides the shared returns
    stage — by the time this runs in a suite the lag window is already
    materialized; the query itself is one 12-group aggregate."""
    r = returns_frame(spark, sf_dir).filter(F.col("ret").isNotNull())
    return (
        r.groupBy(F.month("trade_date").cast("long").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_returns"),
            (
                F.sum(F.round(F.col("ret") * 1e9).cast("decimal(38,0)"))
                / 1e9
                / F.count(F.lit(1))
            ).alias("mean_ret"),
        )
    )


@query(
    "ts33_weekly_atr",
    f"""WITH {PRICE_CTE},
bars AS (
  SELECT symbol, date_trunc('week', trade_date) AS bucket,
         MAX(close_price) AS high_px, MIN(close_price) AS low_px,
         arg_max(close_price, trade_date) AS close_px
  FROM price WHERE symbol IN ({_STOCK_IN}) AND close_price IS NOT NULL
  GROUP BY 1, 2
), tr AS (
  SELECT symbol, bucket,
         GREATEST(high_px - low_px,
                  ABS(high_px - COALESCE(LAG(close_px) OVER w, close_px)),
                  ABS(low_px - COALESCE(LAG(close_px) OVER w, close_px)))
             AS true_range
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
)
SELECT symbol, bucket, ROUND(true_range, 6) AS true_range,
       ROUND(SUM(CAST(ROUND(true_range * 1e6) AS BIGINT))
                 OVER w14 / 1e6
             / COUNT(*) OVER w14, 6) AS atr_14
FROM tr
WINDOW w14 AS (PARTITION BY symbol ORDER BY bucket
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
ORDER BY symbol, bucket""",
)
def ts33_weekly_atr(spark, sf_dir):
    """Average True Range over weekly bars: TR = max(high-low,
    |high-prev_close|, |low-prev_close|) with the first bar's prev_close
    coalesced to its own close (making TR = high-low exactly), then a
    14-bar trailing mean with fixed-point accumulation. OHLC resample +
    two window passes per series, one symbol-key shuffle."""
    p = price_frame(spark, sf_dir, symbols=STOCK_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    bars = tseries.resample_ohlc(
        p, F.date_trunc("week", F.col("trade_date")).cast("date"), volume_col=None
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    prev_close = F.coalesce(F.lag("close").over(w), F.col("close"))
    tr = bars.select(
        "symbol",
        "bucket",
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        ).alias("_tr"),
    )
    w14 = w.rowsBetween(-13, 0)
    return tr.select(
        "symbol",
        "bucket",
        F.round("_tr", 6).alias("true_range"),
        F.round(
            F.sum(F.round(F.col("_tr") * 1e6).cast("long")).over(w14)
            / 1e6
            / F.count(F.lit(1)).over(w14),
            6,
        ).alias("atr_14"),
    )


@query(
    "ts34_calmar",
    f"""WITH {PRICE_CTE},
dd AS (
  SELECT symbol, trade_date, close_price,
         close_price / MAX(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date
                   ROWS UNBOUNDED PRECEDING) - 1 AS drawdown
  FROM price WHERE close_price > 0
), agg AS (
  SELECT symbol,
         arg_min(close_price, trade_date) AS first_close,
         arg_max(close_price, trade_date) AS last_close,
         CAST(date_diff('day', MIN(trade_date), MAX(trade_date)) AS BIGINT)
             AS span_days,
         ROUND(MIN(drawdown), 6) AS max_drawdown
  FROM dd GROUP BY 1
)
SELECT symbol, span_days, max_drawdown, cagr,
       -- the ratio divides the ROUNDED factors (pow() is not correctly
       -- rounded and drifts between engines in the last ulps; rounding
       -- both inputs first makes the quotient engine-stable)
       CASE WHEN max_drawdown < 0 THEN
         ROUND(cagr / ABS(max_drawdown), 6)
       END AS calmar
FROM (
  SELECT symbol, span_days, max_drawdown,
         ROUND(POW(last_close / first_close, 365.25 / span_days) - 1, 6)
             AS cagr
  FROM agg WHERE span_days > 0
) ORDER BY symbol""",
)
def ts34_calmar(spark, sf_dir):
    """Calmar ratio per symbol: CAGR (from argmin/argmax closes over the
    span) divided by |max drawdown| — the drawdown-adjusted return the
    risk family was missing next to Sharpe (ts22) and Ulcer (ts29). One
    running-max window + one groupBy on the series key; NULL where the
    series never drew down. Both factors rounded before the ratio so
    the quotient is engine-stable."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price") > 0)
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = (F.col("close_price") / F.max("close_price").over(w) - 1).alias("_dd")
    staged = p.select("symbol", "trade_date", "close_price", dd)
    span = F.datediff(F.max("trade_date"), F.min("trade_date")).cast("long")
    agg = staged.groupBy("symbol").agg(
        F.min_by("close_price", "trade_date").alias("_first"),
        F.max_by("close_price", "trade_date").alias("_last"),
        span.alias("span_days"),
        F.round(F.min("_dd"), 6).alias("max_drawdown"),
    )
    cagr = F.round(
        F.pow(F.col("_last") / F.col("_first"), 365.25 / F.col("span_days")) - 1, 6
    )
    return (
        agg.filter(F.col("span_days") > 0)
        .select(
            "symbol",
            "span_days",
            "max_drawdown",
            cagr.alias("cagr"),
            F.when(
                F.col("max_drawdown") < 0,
                F.round(cagr / F.abs(F.col("max_drawdown")), 6),
            ).alias("calmar"),
        )
    )


@query(
    "ts35_rolling_sharpe",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE symbol IN ({_RET_IN})
)
SELECT symbol, trade_date,
       ROUND(AVG(ret) OVER w60 / STDDEV_SAMP(ret) OVER w60 * SQRT(252), 6)
           AS rolling_sharpe
FROM r WHERE ret IS NOT NULL
WINDOW w60 AS (PARTITION BY symbol ORDER BY trade_date
               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
ORDER BY symbol, trade_date""",
)
def ts35_rolling_sharpe(spark, sf_dir):
    """Annualized 60-day rolling Sharpe per symbol — ts22's full-history
    ratio made a monitoring series. One window pass computes both
    moments (Catalyst shares the WindowExec); the ratio is rounded
    because variance accumulation is engine-order dependent (the ts2
    discipline). Symbol-pruned at the scan."""
    p = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    r = p.select(
        "symbol",
        "trade_date",
        (F.col("close_price") / F.lag("close_price").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    w60 = w.rowsBetween(-59, 0)
    sharpe = F.round(
        F.avg("ret").over(w60) / F.stddev_samp("ret").over(w60) * math.sqrt(252), 6
    )
    return r.select("symbol", "trade_date", sharpe.alias("rolling_sharpe"))


@query(
    "ts36_inverse_vol_weights",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
), v AS (
  SELECT symbol, ROUND(STDDEV_SAMP(ret), 6) AS vol
  FROM r WHERE ret IS NOT NULL GROUP BY 1 HAVING STDDEV_SAMP(ret) > 0
), iv AS (
  SELECT symbol, CAST(ROUND(1e9 / vol) AS BIGINT) AS iv_fp FROM v
)
SELECT symbol,
       iv_fp * 1.0 / SUM(iv_fp) OVER () AS weight
FROM iv ORDER BY symbol""",
)
def ts36_inverse_vol_weights(spark, sf_dir):
    """Inverse-volatility portfolio weights across the whole universe
    (risk-parity first cut): w_i = (1/vol_i) / sum(1/vol). Volatilities
    are rounded (variance is order-dependent), inverse vols fixed-point
    to integers so the normalizing window sum is exact BIGINT — the
    weight vector is engine-identical and sums to 1. The unpartitioned
    window sum runs over one POST-AGGREGATION row per symbol (bounded
    by the universe, the allowed SinglePartition shape)."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = Window.partitionBy("symbol").orderBy("trade_date")
    r = p.select(
        "symbol",
        (F.col("close_price") / F.lag("close_price").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    v = (
        r.groupBy("symbol")
        .agg(F.round(F.stddev_samp("ret"), 6).alias("vol"))
        .filter(F.col("vol") > 0)
    )
    iv = v.select("symbol", F.round(1e9 / F.col("vol")).cast("long").alias("_iv"))
    return (
        iv.select(
            "symbol",
            (F.col("_iv") * 1.0 / F.sum("_iv").over(Window.partitionBy())).alias(
                "weight"
            ),
        )
    )


@query(
    "ts37_updown_capture",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
), mkt AS (
  SELECT trade_date,
         SUM(CAST(ROUND(ret * 1e9) AS DECIMAL(38,0))) / 1e9 / COUNT(*) AS mret
  FROM r WHERE ret IS NOT NULL GROUP BY 1
), j AS (
  SELECT r.symbol, r.ret, m.mret FROM r JOIN mkt m USING (trade_date)
  WHERE r.ret IS NOT NULL AND r.symbol IN ({_RET_IN})
)
SELECT symbol,
       ROUND((SUM(CASE WHEN mret > 0 THEN CAST(ROUND(ret * 1e9) AS DECIMAL(38,0)) END) / 1e9)
           / (SUM(CASE WHEN mret > 0 THEN CAST(ROUND(mret * 1e9) AS DECIMAL(38,0)) END) / 1e9), 6)
           AS up_capture,
       ROUND((SUM(CASE WHEN mret < 0 THEN CAST(ROUND(ret * 1e9) AS DECIMAL(38,0)) END) / 1e9)
           / (SUM(CASE WHEN mret < 0 THEN CAST(ROUND(mret * 1e9) AS DECIMAL(38,0)) END) / 1e9), 6)
           AS down_capture
FROM j GROUP BY 1 ORDER BY symbol""",
)
def ts37_updown_capture(spark, sf_dir):
    """Up/down capture vs the equal-weight market: the symbol's summed
    return on market-up days over the market's, and likewise for down
    days — the asymmetric-beta diagnostic. The market series reuses the
    shared returns stage's exact fixed-point mean; all sums accumulate
    as DECIMAL(38,0) micro-units so both ratios are engine-identical."""
    r = returns_frame(spark, sf_dir).filter(F.col("ret").isNotNull())
    mkt = r.groupBy("trade_date").agg(
        (
            F.sum(F.round(F.col("ret") * 1e9).cast("decimal(38,0)"))
            / 1e9
            / F.count(F.lit(1))
        ).alias("mret")
    )
    j = (
        r.filter(F.col("symbol").isin(RETURN_SYMBOLS))
        .join(mkt, "trade_date")
        .select("symbol", "ret", "mret")
    )
    fp = lambda c: F.round(c * 1e9).cast("decimal(38,0)")
    up_n = F.sum(F.when(F.col("mret") > 0, fp(F.col("ret")))) / 1e9
    up_d = F.sum(F.when(F.col("mret") > 0, fp(F.col("mret")))) / 1e9
    dn_n = F.sum(F.when(F.col("mret") < 0, fp(F.col("ret")))) / 1e9
    dn_d = F.sum(F.when(F.col("mret") < 0, fp(F.col("mret")))) / 1e9
    return (
        j.groupBy("symbol")
        .agg(
            F.round(up_n / up_d, 6).alias("up_capture"),
            F.round(dn_n / dn_d, 6).alias("down_capture"),
        )
    )


@query(
    "ts38_rank_churn",
    f"""WITH {PRICE_CTE},
m AS (
  SELECT symbol, strftime(trade_date, '%Y-%m') AS month,
         CAST(SUM(CAST(amount AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM price GROUP BY 1, 2
), rk AS (
  SELECT symbol, month,
         ROW_NUMBER() OVER (PARTITION BY month ORDER BY cents DESC, symbol) AS rnk
  FROM m
), paired AS (
  SELECT a.month AS month, a.rnk AS r1, b.rnk AS r2
  FROM rk a JOIN rk b ON a.symbol = b.symbol
    AND b.month = strftime(CAST(a.month || '-01' AS DATE) + INTERVAL 1 MONTH, '%Y-%m')
)
SELECT month, CAST(COUNT(*) AS BIGINT) AS n_symbols,
       ROUND(CORR(r1, r2), 6) AS rank_autocorr
FROM paired GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY month""",
)
def ts38_rank_churn(spark, sf_dir):
    """Month-over-month turnover-rank stability (Spearman via Pearson on
    ranks): high autocorrelation = a stable leaderboard, drops flag
    regime changes. Monthly cents totals are decimal-exact so ranks are
    deterministic (symbol tiebreak); the correlation is rounded (moment
    accumulation order). Rank windows partition by month — bounded by
    the universe per month. See operators.timeseries.rank_churn."""
    return tseries.rank_churn(price_frame(spark, sf_dir))


@query(
    "ts40_return_moments",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol,
         close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE symbol IN ({_RET_IN})
), s AS (
  -- abs(ret) <= 100 sanity domain: a >10,000% daily move is corrupt
  -- data, and it keeps ret^4 * 1e15 provably inside DECIMAL(38,0)
  -- (ANSI Spark otherwise CRASHES the whole query on one glitch row —
  -- r7 extremes sweep)
  SELECT symbol, COUNT(*) AS n,
         SUM(CAST(ROUND(ret * 1e9) AS DECIMAL(38,0))) / 1e9 AS s1,
         SUM(CAST(ROUND(ret * ret * 1e12) AS DECIMAL(38,0))) / 1e12 AS s2,
         SUM(CAST(ROUND(ret * ret * ret * 1e15) AS DECIMAL(38,0))) / 1e15 AS s3,
         SUM(CAST(ROUND(ret * ret * ret * ret * 1e15) AS DECIMAL(38,0))) / 1e15 AS s4
  FROM r WHERE ret IS NOT NULL AND abs(ret) <= 100 GROUP BY 1
)
SELECT symbol, CAST(n AS BIGINT) AS n_returns,
       ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POW(s1 / n, 3))
             / POW(s2 / n - POW(s1 / n, 2), 1.5), 6) AS skewness,
       ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * POW(s1 / n, 2) * (s2 / n) - 3 * POW(s1 / n, 4))
             / POW(s2 / n - POW(s1 / n, 2), 2) - 3, 6) AS excess_kurtosis
FROM s ORDER BY symbol""",
)
def ts40_return_moments(spark, sf_dir):
    """Return skewness and excess kurtosis per symbol (crash asymmetry
    and tail weight — the distribution diagnostics behind every risk
    model's normality assumption) computed from EXACT fixed-point power
    sums, then identical closed-form moment algebra in both engines —
    sidestepping the fact that Spark's and DuckDB's built-in
    skewness/kurtosis aggregates use different bias conventions. One
    series-key window + one aggregate."""
    p = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    r = p.select(
        "symbol",
        (F.col("close_price") / F.lag("close_price").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull() & (F.abs(F.col("ret")) <= 100))
    # abs(ret) <= 100 sanity domain (see oracle comment): keeps the
    # ret^4 femto-unit fixed point provably inside DECIMAL(38,0) —
    # ANSI Spark crashed on a single corrupt-price row otherwise
    ret = F.col("ret")
    s = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        # DECIMAL(38,0), not BIGINT: synthetic price jumps make ret^4
        # femto-units exceed 2^63 (measured overflow at sf0.01)
        (F.sum(F.round(ret * 1e9).cast("decimal(38,0)")) / 1e9).alias("s1"),
        (F.sum(F.round(ret * ret * 1e12).cast("decimal(38,0)")) / 1e12).alias("s2"),
        (F.sum(F.round(ret * ret * ret * 1e15).cast("decimal(38,0)")) / 1e15).alias("s3"),
        (F.sum(F.round(ret * ret * ret * ret * 1e15).cast("decimal(38,0)")) / 1e15).alias(
            "s4"
        ),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    m3 = F.col("s3") / F.col("n")
    m4 = F.col("s4") / F.col("n")
    var = m2 - F.pow(m1, 2)
    skew = (m3 - 3 * m1 * m2 + 2 * F.pow(m1, 3)) / F.pow(var, 1.5)
    kurt = (
        m4 - 4 * m1 * m3 + 6 * F.pow(m1, 2) * m2 - 3 * F.pow(m1, 4)
    ) / F.pow(var, 2) - 3
    return s.select(
        "symbol",
        F.col("n").cast("long").alias("n_returns"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@query(
    "ts41_pain_index",
    f"""WITH {PRICE_CTE},
dd AS (
  SELECT symbol, trade_date, close_price,
         close_price / MAX(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date
                   ROWS UNBOUNDED PRECEDING) - 1 AS drawdown
  FROM price WHERE close_price > 0 AND symbol IN ({_RET_IN})
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       SUM(CAST(ROUND(-drawdown * 1e9) AS DECIMAL(38,0))) / 1e9 / COUNT(*)
           AS pain_index,
       ROUND(MIN(drawdown), 6) AS max_drawdown
FROM dd GROUP BY 1 ORDER BY symbol""",
)
def ts41_pain_index(spark, sf_dir):
    """Pain index per symbol: the MEAN drawdown over the whole history
    (depth x duration in one number — the linear companion to ts29's
    quadratic Ulcer). Per-row drawdowns are IEEE-deterministic; the
    mean is an exact fixed-point ratio. One running-max window + one
    aggregate on the series key."""
    p = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS).filter(
        F.col("close_price") > 0
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = F.col("close_price") / F.max("close_price").over(w) - 1
    staged = p.select("symbol", dd.alias("_dd"))
    return (
        staged.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum(F.round(-F.col("_dd") * 1e9).cast("decimal(38,0)"))
                / 1e9
                / F.count(F.lit(1))
            ).alias("pain_index"),
            F.round(F.min("_dd"), 6).alias("max_drawdown"),
        )
    )


@query(
    "ts42_up_day_ratio",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol,
         SIGN(close_price - LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date)) AS sgn
  FROM price WHERE close_price IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       ROUND(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
           AS up_ratio,
       ROUND((SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) - 0.5 * COUNT(*))
             / (0.5 * SQRT(COUNT(*))), 6) AS binomial_z
FROM r WHERE sgn IS NOT NULL GROUP BY 1 ORDER BY symbol""",
)
def ts42_up_day_ratio(spark, sf_dir):
    """Up-day ratio per symbol with its binomial z-score against a fair
    coin — the drift-significance screen (|z| > 2 separates trending
    series from noise at a glance). Pure integer counts; the z-score's
    sqrt is the only float op, computed identically from exact inputs."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = Window.partitionBy("symbol").orderBy("trade_date")
    sgn = F.signum(F.col("close_price") - F.lag("close_price").over(w))
    staged = p.select("symbol", sgn.alias("_s")).filter(F.col("_s").isNotNull())
    n_up = F.sum(F.when(F.col("_s") == 1, 1).otherwise(0))
    n = F.count(F.lit(1))
    return (
        staged.groupBy("symbol")
        .agg(
            n.cast("long").alias("n_days"),
            n_up.cast("long").alias("n_up"),
            F.round(n_up * 1.0 / n, 6).alias("up_ratio"),
            F.round((n_up - 0.5 * n) / (0.5 * F.sqrt(n)), 6).alias("binomial_z"),
        )
    )


@query(
    "ts43_series_gaps",
    f"""WITH {PRICE_CTE}, g AS (
  SELECT symbol,
         trade_date - LAG(trade_date)
             OVER (PARTITION BY symbol ORDER BY trade_date) AS gap
  FROM price WHERE close_price IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MAX(gap) AS BIGINT) AS max_gap_days,
       CAST(SUM(gap) AS BIGINT) AS total_gap_days
FROM g WHERE gap IS NOT NULL GROUP BY symbol ORDER BY symbol""",
)
def ts43_series_gaps(spark, sf_dir):
    """Per-symbol trading-calendar gap audit (max/total days between
    consecutive observations) — the staleness check run before any
    rolling-window computation trusts its windows. Integer day counts
    only (no float means), one series-key shuffle."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = Window.partitionBy("symbol").orderBy("trade_date")
    return (
        p.withColumn(
            "gap", F.datediff(F.col("trade_date"), F.lag("trade_date").over(w))
        )
        .filter(F.col("gap").isNotNull())
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.max("gap").cast("long").alias("max_gap_days"),
            F.sum("gap").cast("long").alias("total_gap_days"),
        )
    )


@query(
    "ts44_parkinson_vol",
    f"""WITH {PRICE_CTE}, wk AS (
  SELECT symbol, date_trunc('week', trade_date) AS bucket,
         MAX(close_price) AS h, MIN(close_price) AS l
  FROM price WHERE close_price IS NOT NULL GROUP BY 1, 2
), q AS (
  SELECT symbol,
         CAST(ROUND(ln(h / l) * ln(h / l) * 1e12) AS BIGINT) AS qv
  FROM wk WHERE l > 0
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_weeks,
       sqrt(SUM(qv) / 1e12 / COUNT(*) / (4 * ln(2))) AS parkinson_vol
FROM q GROUP BY symbol ORDER BY symbol""",
)
def ts44_parkinson_vol(spark, sf_dir):
    """Parkinson range-based volatility per symbol (mean weekly
    ln(H/L)² / 4ln2, square-rooted) — the high/low estimator that is
    ~5x more statistically efficient than close-to-close vol. Weekly
    range bars from one hash aggregate; the squared-log terms are
    fixed-pointed to 1e-12 BIGINTs before summing so accumulation order
    cannot move the mean. Full-universe, one series shuffle."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    wk = p.groupBy(
        "symbol", F.date_trunc("week", F.col("trade_date")).alias("bucket")
    ).agg(F.max("close_price").alias("h"), F.min("close_price").alias("l"))
    lhl = F.log(F.col("h") / F.col("l"))
    q = wk.filter(F.col("l") > 0).select(
        "symbol", F.round(lhl * lhl * 1e12).cast("long").alias("qv")
    )
    n = F.count(F.lit(1))
    return (
        q.groupBy("symbol")
        .agg(
            n.cast("long").alias("n_weeks"),
            F.sqrt(
                F.sum("qv") / 1e12 / n / F.lit(4 * math.log(2))
            ).alias("parkinson_vol"),
        )
    )


@query(
    "ts45_hurst_exponent",
    f"""WITH {PRICE_CTE}, sel AS (
  SELECT symbol, trade_date, close_price
  FROM price
  WHERE symbol IN ('3', '7', '21', '42', '101') AND close_price IS NOT NULL
), lags AS (
  SELECT symbol, 1 AS q,
         close_price / LAG(close_price, 1)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret_q
  FROM sel
  UNION ALL
  SELECT symbol, 2 AS q,
         close_price / LAG(close_price, 2)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret_q
  FROM sel
  UNION ALL
  SELECT symbol, 4 AS q,
         close_price / LAG(close_price, 4)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret_q
  FROM sel
  UNION ALL
  SELECT symbol, 8 AS q,
         close_price / LAG(close_price, 8)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret_q
  FROM sel
  UNION ALL
  SELECT symbol, 16 AS q,
         close_price / LAG(close_price, 16)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret_q
  FROM sel
), vars_ AS (
  SELECT symbol, q, ROUND(var_samp(ret_q), 6) AS v
  FROM lags WHERE ret_q IS NOT NULL GROUP BY 1, 2
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_scales,
       ROUND(regr_slope(ln(v), ln(CAST(q AS DOUBLE))) / 2, 6) AS hurst
FROM vars_ WHERE v > 0 GROUP BY symbol ORDER BY symbol""",
)
def ts45_hurst_exponent(spark, sf_dir):
    """Hurst exponent per symbol via the aggregated-variance method:
    var of q-day returns regressed on q in log-log space, slope/2 —
    H>0.5 trending, H<0.5 mean-reverting, the long-memory diagnostic.
    One fixed-lag window pass per scale (lag offsets must be literals),
    all over the same 5-symbol series shuffle; variances round to 6dp
    BEFORE the log-log regression so the cross-engine regression inputs
    are bit-identical (the ts12 rule applied twice)."""
    p = price_frame(spark, sf_dir, RETURN_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    w = Window.partitionBy("symbol").orderBy("trade_date")
    parts = [
        p.select(
            "symbol",
            F.lit(q).alias("q"),
            (F.col("close_price") / F.lag("close_price", q).over(w) - 1).alias(
                "ret_q"
            ),
        )
        for q in (1, 2, 4, 8, 16)
    ]
    lagged = parts[0]
    for part in parts[1:]:
        lagged = lagged.unionByName(part)
    vars_ = (
        lagged.filter(F.col("ret_q").isNotNull())
        .groupBy("symbol", "q")
        .agg(F.round(F.var_samp("ret_q"), 6).alias("v"))
    )
    return (
        vars_.filter(F.col("v") > 0)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scales"),
            F.round(
                F.regr_slope(F.log("v"), F.log(F.col("q").cast("double"))) / 2, 6
            ).alias("hurst"),
        )
    )


@query(
    "ts46_garman_klass_vol",
    f"""WITH {PRICE_CTE},
bars AS (
  SELECT symbol, date_trunc('week', trade_date) AS bucket,
         arg_min(close_price, trade_date) AS o,
         arg_max(close_price, trade_date) AS c,
         MAX(close_price) AS h, MIN(close_price) AS l
  FROM price WHERE close_price IS NOT NULL
  GROUP BY 1, 2
), q AS (
  SELECT symbol,
         CAST(ROUND((0.5 * ln(h / l) * ln(h / l)
                     - 0.3862943611198906 * ln(c / o) * ln(c / o)) * 1e12)
              AS BIGINT) AS qv
  FROM bars WHERE l > 0 AND o > 0
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_bars,
       sqrt(GREATEST(0.0, SUM(qv) / 1e12 / COUNT(*))) AS gk_vol
FROM q GROUP BY 1 ORDER BY symbol""",
)
def ts46_garman_klass_vol(spark, sf_dir):
    """Garman-Klass range-based volatility per symbol from weekly OHLC
    bars — the open/close-corrected sibling of ts44's Parkinson
    estimator (~7.4x more efficient than close-to-close variance). Bars
    come from one tie-free min_by/max_by hash aggregate (input is one
    row per (symbol, day)); per-bar terms are fixed-pointed to 1e-12
    BIGINTs so the per-symbol mean is accumulation-order-proof. Two
    shuffles, no window. See operators.timeseries.garman_klass_vol."""
    return tseries.garman_klass_vol(price_frame(spark, sf_dir))


@query(
    "ts47_roll_spread",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price) OVER w - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
), p AS (
  SELECT symbol, ret,
         LAG(ret) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev
  FROM r
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_obs,
       ROUND(2.0 * sqrt(GREATEST(0.0, -COVAR_POP(ret, prev))), 6) AS roll_spread
FROM p WHERE ret IS NOT NULL AND prev IS NOT NULL
GROUP BY 1 ORDER BY symbol""",
)
def ts47_roll_spread(spark, sf_dir):
    """Roll (1984) implied effective spread per symbol: 2*sqrt(-cov) of
    adjacent daily returns when the lag-1 autocovariance is negative
    (bid-ask bounce), else 0 — the quote-free microstructure liquidity
    estimator, complementing ts26's Amihud illiquidity. Full universe,
    single series-key shuffle; rides the memoized returns stage. See
    operators.timeseries.roll_spread."""
    return tseries.roll_spread(returns_frame(spark, sf_dir))


@query(
    "ts48_kaufman_er",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date, close_price,
         ABS(close_price - LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date)) AS chg
  FROM price WHERE close_price IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(ABS(arg_max(close_price, trade_date)
                 - arg_min(close_price, trade_date))
             / NULLIF(SUM(CAST(ROUND(chg * 1e6) AS BIGINT)) / 1e6, 0), 6)
           AS efficiency_ratio
FROM r GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY symbol""",
)
def ts48_kaufman_er(spark, sf_dir):
    """Kaufman efficiency ratio per symbol over its full history: net
    price displacement / total path length — 1.0 for a straight trend,
    near 0 for pure chop; the regime filter adaptive moving averages key
    off. One series-key window (lag) + one aggregate with tie-free
    first/last via min_by/max_by on the date; the path-length sum is
    fixed-pointed (1e-6 -> BIGINT) so it is accumulation-order-proof."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = Window.partitionBy("symbol").orderBy("trade_date")
    r = p.withColumn(
        "chg", F.abs(F.col("close_price") - F.lag("close_price").over(w))
    )
    denom = fp_sum(F.col("chg"), 6)
    net = F.abs(
        F.max_by("close_price", "trade_date")
        - F.min_by("close_price", "trade_date")
    )
    return (
        r.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                net / F.when(denom != 0, denom).otherwise(F.lit(None)), 6
            ).alias("efficiency_ratio"),
        )
        .filter(F.col("n_days") >= 2)
    )


@query(
    "ts49_variance_ratio",
    f"""WITH {PRICE_CTE},
b AS (
  SELECT symbol, trade_date, close_price FROM price WHERE close_price IS NOT NULL
), r AS (
  SELECT symbol,
         ln(close_price / LAG(close_price, 1) OVER w) AS r1,
         ln(close_price / LAG(close_price, 5) OVER w) AS r5
  FROM b WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
), s AS (
  SELECT symbol,
         CAST(COUNT(r1) AS BIGINT) AS n1,
         SUM(CAST(ROUND(r1 * 1e9) AS BIGINT)) AS s1,
         SUM(CAST(ROUND(r1 * r1 * 1e12) AS BIGINT)) AS q1,
         CAST(COUNT(r5) AS BIGINT) AS n5,
         SUM(CAST(ROUND(r5 * 1e9) AS BIGINT)) AS s5,
         SUM(CAST(ROUND(r5 * r5 * 1e12) AS BIGINT)) AS q5
  FROM r GROUP BY 1 HAVING COUNT(r5) >= 10
)
SELECT symbol, n1 AS n_daily, n5 AS n_5d,
       ROUND((q5 / 1e12 / n5 - (s5 / 1e9 / n5) * (s5 / 1e9 / n5))
             / NULLIF(5 * (q1 / 1e12 / n1 - (s1 / 1e9 / n1) * (s1 / 1e9 / n1)), 0), 6)
           AS vr5
FROM s ORDER BY symbol""",
)
def ts49_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance ratio VR(5) per symbol: variance of
    overlapping 5-day log returns over 5x the daily-return variance —
    ~1 under a random walk, <1 mean-reverting, >1 trending; the classic
    market-efficiency diagnostic. Both return series come from ONE
    per-series window pass (lag 1 and lag 5 share the sort); variances
    use fixed-point moment sums (1e-9 / 1e-12 -> BIGINT) so the ratio
    is accumulation-order-proof; one series-key shuffle total."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = Window.partitionBy("symbol").orderBy("trade_date")
    r = p.select(
        "symbol",
        F.log(F.col("close_price") / F.lag("close_price", 1).over(w)).alias("r1"),
        F.log(F.col("close_price") / F.lag("close_price", 5).over(w)).alias("r5"),
    )
    s = r.groupBy("symbol").agg(
        F.count("r1").cast("long").alias("n1"),
        F.sum(F.round(F.col("r1") * 1e9).cast("long")).alias("s1"),
        F.sum(F.round(F.col("r1") * F.col("r1") * 1e12).cast("long")).alias("q1"),
        F.count("r5").cast("long").alias("n5"),
        F.sum(F.round(F.col("r5") * 1e9).cast("long")).alias("s5"),
        F.sum(F.round(F.col("r5") * F.col("r5") * 1e12).cast("long")).alias("q5"),
    ).filter(F.col("n5") >= 10)
    var1 = F.col("q1") / 1e12 / F.col("n1") - (
        F.col("s1") / 1e9 / F.col("n1")
    ) * (F.col("s1") / 1e9 / F.col("n1"))
    var5 = F.col("q5") / 1e12 / F.col("n5") - (
        F.col("s5") / 1e9 / F.col("n5")
    ) * (F.col("s5") / 1e9 / F.col("n5"))
    denom = 5 * var1
    return (
        s.select(
            "symbol",
            F.col("n1").alias("n_daily"),
            F.col("n5").alias("n_5d"),
            F.round(
                var5 / F.when(denom != 0, denom).otherwise(F.lit(None)), 6
            ).alias("vr5"),
        )
    )


@query(
    "ts50_sortino",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol,
         close_price / LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
), s AS (
  SELECT symbol, CAST(COUNT(ret) AS BIGINT) AS n_days,
         SUM(CAST(ROUND(ret * 1e9) AS BIGINT)) / 1e9 / COUNT(ret) AS mret,
         SUM(CAST(ROUND(CASE WHEN ret < 0 THEN ret * ret ELSE 0 END * 1e12)
                  AS BIGINT)) / 1e12 / COUNT(ret) AS dvar
  FROM r WHERE ret IS NOT NULL GROUP BY 1 HAVING COUNT(ret) >= 30
)
SELECT symbol, n_days,
       ROUND(mret / NULLIF(sqrt(dvar), 0), 6) AS sortino
FROM s ORDER BY symbol""",
)
def ts50_sortino(spark, sf_dir):
    """Sortino ratio per symbol: mean daily return over DOWNSIDE
    deviation (root-mean-square of negative returns only) — the
    risk-adjusted return that does not punish upside volatility, the
    complement of ts22's Sharpe. One aggregate over the memoized
    returns stage; both moments fixed-pointed so the ratio is
    accumulation-order-proof; all-positive histories (downside 0)
    yield NULL rather than infinity."""
    r = returns_frame(spark, sf_dir).filter(F.col("ret").isNotNull())
    n = F.count("ret")
    mret = fp_sum(F.col("ret")) / n
    dvar = (
        fp_sum(
            F.when(F.col("ret") < 0, F.col("ret") * F.col("ret")).otherwise(
                F.lit(0.0)
            ),
            12,
        )
        / n
    )
    s = (
        r.groupBy("symbol")
        .agg(
            n.cast("long").alias("n_days"),
            mret.alias("_mret"),
            F.sqrt(dvar).alias("_dd"),
        )
        .filter(F.col("n_days") >= 30)
    )
    return s.select(
        "symbol",
        "n_days",
        F.round(
            F.col("_mret")
            / F.when(F.col("_dd") != 0, F.col("_dd")).otherwise(F.lit(None)),
            6,
        ).alias("sortino"),
    )


@query(
    "ts51_downside_beta",
    f"""WITH {PRICE_CTE},
idx AS (
  SELECT trade_date,
         CAST(SUM(CAST(close_price AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(close_price) AS idx_close
  FROM price WHERE close_price IS NOT NULL GROUP BY 1
),
idx_ret AS (
  SELECT trade_date,
         idx_close / lag(idx_close) OVER (ORDER BY trade_date) - 1.0 AS mkt_ret
  FROM idx
),
stk AS (
  SELECT symbol, trade_date,
         close_price / lag(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0 AS ret
  FROM price WHERE close_price IS NOT NULL
)
SELECT s.symbol,
       CAST(COUNT(*) AS BIGINT) AS n_down_days,
       ROUND(regr_slope(s.ret, i.mkt_ret), 6) AS downside_beta
FROM stk s JOIN idx_ret i USING (trade_date)
WHERE s.ret IS NOT NULL AND i.mkt_ret < 0
GROUP BY s.symbol HAVING COUNT(*) >= 10
ORDER BY s.symbol""",
)
def ts51_downside_beta(spark, sf_dir):
    """Downside beta: each symbol's daily returns regressed on the
    equal-weight market index return, restricted to DOWN-market days
    (mkt_ret < 0) — the conditional-CAPM risk measure (a stock that
    falls hard when the market falls carries downside beta > its
    unconditional ts13 beta). Same scale shape as ts13: the index
    series is |dates| rows (decimal-exact average, then a tiny
    single-partition lag window AFTER the aggregate shrinks it) and
    broadcasts to the per-series return join; one symbol-key aggregate
    with regr_slope. The >= 10 floor drops symbols with too few
    down-day observations for a meaningful slope."""
    idx_ret = index_returns_frame(spark, sf_dir).filter(F.col("mkt_ret") < 0)
    stk = returns_frame(spark, sf_dir).filter(F.col("ret").isNotNull())
    joined = stk.join(F.broadcast(idx_ret), "trade_date")
    return (
        joined.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_down_days"),
            F.round(F.regr_slope("ret", "mkt_ret"), 6).alias("downside_beta"),
        )
        .filter(F.col("n_down_days") >= 10)
    )


@query(
    "ts55_vol_regimes",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / lag(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0 AS ret
  FROM price WHERE close_price IS NOT NULL
),
d AS (
  SELECT trade_date, COUNT(*) AS n,
         SUM(CASE WHEN ret > 0 THEN 1 ELSE 0 END) AS nup,
         SUM(CAST(ROUND(ABS(ret) * 1e9) AS BIGINT)) AS a9
  FROM r WHERE ret IS NOT NULL GROUP BY 1
),
m AS (
  SELECT strftime(trade_date, '%Y-%m') AS month,
         SUM(a9) / 1e9 / SUM(n) AS avg_abs_ret,
         SUM(nup) * 1.0 / SUM(n) AS up_share
  FROM d GROUP BY 1
),
t AS (
  SELECT month, avg_abs_ret, up_share,
         NTILE(3) OVER (ORDER BY avg_abs_ret, month) AS tercile
  FROM m
)
SELECT CASE tercile WHEN 1 THEN 'calm' WHEN 2 THEN 'normal'
            ELSE 'turbulent' END AS regime,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       (SUM(CAST(ROUND(avg_abs_ret * 1e9) AS BIGINT)) / 1e9) / COUNT(*)
           AS regime_abs_ret,
       (SUM(CAST(ROUND(up_share * 1e9) AS BIGINT)) / 1e9) / COUNT(*)
           AS regime_up_share
FROM t GROUP BY 1, tercile ORDER BY tercile""",
)
def ts55_vol_regimes(spark, sf_dir):
    """Volatility-regime classification: months ranked into terciles by
    the cross-sectional average |daily return| (calm / normal /
    turbulent), then per regime the average monthly up-day share — the
    market-state conditioning table behind regime-aware strategy
    evaluation (checker: 'regime' appears only incidentally). Rides the
    memoized returns stage; daily and monthly aggregates shrink the
    frame to ~|months| rows BEFORE the single bounded NTILE window
    (a16/r5 precedent, ties broken on month); all cross-engine floats
    go through 1e-9 fixed-point sums. See
    operators.timeseries.vol_regimes."""
    return tseries.vol_regimes(returns_frame(spark, sf_dir))
