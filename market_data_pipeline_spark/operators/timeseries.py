"""Time-series analytics over the (symbol, trade_date) price series.

Extends the reference's window surface (SURVEY §2.5: lag / first_value
only — no sliding frames anywhere, `src/clickhouse/client.py:131,187-194`)
with the rolling operators a market-data engine is actually asked for:
moving averages, rolling volatility, drawdown, OHLC resampling, and a
distributed as-of join. Everything is built-in window/agg functions —
single shuffle on the partition key, whole-stage codegen, no UDFs.

Determinism conventions (for the DuckDB oracle hash-compare):
- rolling sums/averages accumulate in DECIMAL so sliding-frame
  implementation differences (sequential fold vs segment tree) can't
  change the float result;
- variance-family results are rounded (they are accumulation-order
  dependent in any engine);
- per-row ratio arithmetic (drawdown) is plain IEEE and needs no rounding,
  but tie-broken deterministically where it feeds an extremum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators.analytics import exact_avg, fp_sum


def _series_window(partition_col: str, order_col: str) -> Window:
    return Window.partitionBy(partition_col).orderBy(order_col)


def sma(
    df: DataFrame,
    n: int,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    out_col: str | None = None,
) -> DataFrame:
    """Simple moving average over the trailing ``n`` rows (inclusive).

    The windowed sum runs over DECIMAL(18,2): engines disagree on sliding-
    frame float accumulation (Spark buffers sequentially, DuckDB uses a
    segment tree), and decimal addition is exact under any order. Rows
    earlier than the n-th average over the frame seen so far (standard
    SQL ROWS semantics) — no null warm-up stripping, so the result is a
    pure column add.
    """
    out_col = out_col or f"sma_{n}"
    w = _series_window(partition_col, order_col).rowsBetween(-(n - 1), 0)
    total = F.sum(F.col(value_col).cast("decimal(18,2)")).over(w)
    cnt = F.count(value_col).over(w)
    return df.withColumn(out_col, (total.cast("double") / cnt))


def rolling_volatility(
    df: DataFrame,
    n: int,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Rolling sample standard deviation of day-over-day returns over the
    trailing ``n`` rows — the standard realized-volatility estimate.

    Returns are per-row IEEE ratios (deterministic); the stddev is rounded
    because every engine accumulates the variance in its own order.
    Output adds ``ret`` (this row's return) and ``vol_{n}``.
    """
    w = _series_window(partition_col, order_col)
    prev = F.lag(value_col).over(w)
    ret = (F.col(value_col) / prev - 1).alias("ret")
    frame = w.rowsBetween(-(n - 1), 0)
    out = df.withColumn("ret", ret).withColumn(
        f"vol_{n}", F.round(F.stddev_samp("ret").over(frame), round_digits)
    )
    return out


def max_drawdown(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Per-key maximum drawdown: the most negative ``price/running_peak - 1``
    over the series.

    Running max is order-insensitive (max is associative+commutative), the
    drawdown ratio is per-row IEEE, and the final min is exact — the only
    rounding is cosmetic on the emitted ratio. One shuffle (the window
    partition), one partial-aggregated groupBy on the same key, which
    Catalyst schedules without a second exchange.
    Returns (partition_col, max_drawdown), one row per key.
    """
    w = _series_window(partition_col, order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = F.col(value_col) / F.max(value_col).over(w) - 1
    return (
        df.withColumn("_dd", dd)
        .groupBy(partition_col)
        .agg(F.round(F.min("_dd"), round_digits).alias("max_drawdown"))
    )


def resample_ohlc(
    df: DataFrame,
    freq_col: Column,
    value_col: str = "close_price",
    volume_col: str | None = "volume",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Downsample a price series to OHLC bars per (key, bucket).

    ``freq_col`` is the bucket expression (e.g.
    ``F.date_trunc('week', F.col('trade_date')).cast('date')``). Open and
    close are the values at the bucket's first/last date via ``min_by`` /
    ``max_by`` — a single hash aggregate, no window pass, deterministic
    because (key, order_col) is unique per row.
    """
    aggs = [
        F.min_by(value_col, order_col).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, order_col).alias("close"),
    ]
    if volume_col is not None:
        aggs.append(
            F.sum(F.col(volume_col).cast("decimal(18,2)")).cast("long").alias("volume")
        )
    return df.groupBy(F.col(partition_col), freq_col.alias("bucket")).agg(*aggs)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    prune_right_to_left_keys: bool = False,
) -> DataFrame:
    """Backward as-of join: each left row picks up ``value_cols`` from the
    latest right row with ``right_ts <= left_ts`` for the same key.

    Spark has no ASOF JOIN operator; the naive formulations both fail at
    scale — a range-predicate join degenerates to a per-key nested loop,
    and "max(right_ts) per left row then equi-join back" scans the right
    side twice. This is the single-shuffle union trick instead: tag the
    two sides, union them, and carry the last non-null right value forward
    over a (key, ts, side) window — right rows sort before left rows at
    equal ts, so a same-timestamp right row is visible (at-or-before
    semantics, matching DuckDB's ``ASOF JOIN ... ON right_ts <= left_ts``).
    Cost is exactly one shuffle of |left|+|right| rows on the key; no
    range explosion, no second scan. Left rows with no earlier right row
    keep NULLs (ASOF LEFT JOIN semantics).

    Right (on + right_ts) should be unique per row (true for the price
    series' (symbol, trade_date)); with duplicates the in-bucket winner
    would be arrival-order dependent.

    ``prune_right_to_left_keys=True`` semi-joins the right side down to the
    left side's distinct keys before the union. When the left is a small
    probe grid (a few symbols × a few dates) against a full fact series,
    this turns "shuffle the whole table through the window" into "shuffle
    only the probed keys' rows" — at 100× data the difference between
    shuffling the table and shuffling a handful of series. Catalyst/AQE
    broadcasts the key set when it is small; no hint is forced so a large
    left degrades to a regular shuffled semi-join instead of a broadcast
    blow-up.
    """
    if prune_right_to_left_keys:
        right = right.join(left.select(*on).distinct(), on, "left_semi")
    left_cols = [c for c in left.columns if c not in (*on, left_ts)]
    l = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *left_cols,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    r = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *value_cols,
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy(*on)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        *on,
        F.col("_ts"),
        F.col("_side"),
        *left_cols,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    return filled.filter(F.col("_side") == 1).select(
        *on, F.col("_ts").alias(left_ts), *left_cols, *value_cols
    )


def bollinger_bands(
    df: DataFrame,
    n: int = 20,
    k: float = 2.0,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Bollinger bands: trailing-n SMA ± k standard deviations.

    One window pass computes both moments over the same frame (Catalyst
    shares the WindowExec); the mean uses decimal accumulation (exact),
    the deviation is rounded (variance accumulation is engine-order
    dependent). Bands are emitted from the rounded deviation so
    mid/upper/lower hash-match across engines.
    Adds (sma_{n}, band_dev, upper_band, lower_band).
    """
    w = _series_window(partition_col, order_col).rowsBetween(-(n - 1), 0)
    mean = F.sum(F.col(value_col).cast("decimal(18,2)")).over(w).cast(
        "double"
    ) / F.count(value_col).over(w)
    dev = F.round(F.stddev_samp(F.col(value_col)).over(w), round_digits)
    out = df.withColumn(f"sma_{n}", mean).withColumn("band_dev", dev)
    return out.withColumn(
        "upper_band", F.round(F.col(f"sma_{n}") + k * F.col("band_dev"), round_digits)
    ).withColumn(
        "lower_band", F.round(F.col(f"sma_{n}") - k * F.col("band_dev"), round_digits)
    )


def rsi(
    df: DataFrame,
    n: int = 14,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Relative Strength Index (simple-average Cutler variant): 100 -
    100/(1+RS), RS = avg gain / avg loss over the trailing ``n`` price
    changes. The Wilder original smooths recursively (not expressible as
    a SQL window — and not verifiable against a SQL oracle); Cutler's
    arithmetic-mean form is the standard window-function formulation and
    shares its signal.

    Two stacked windows on the SAME (key, order) partitioning: the lag
    diff then the trailing averages — one shuffle total. Flat-price
    stretches (avg loss = 0) emit RSI 100 by convention; rows with no
    prior price emit NULL.
    Adds ``rsi_{n}``.
    """
    w = _series_window(partition_col, order_col)
    frame = w.rowsBetween(-(n - 1), 0)
    diff = F.col(value_col) - F.lag(value_col).over(w)
    staged = df.withColumn(
        "_gain", F.when(diff > 0, diff).otherwise(F.lit(0.0))
    ).withColumn("_loss", F.when(diff < 0, -diff).otherwise(F.lit(0.0))).withColumn(
        "_has", diff.isNotNull().cast("int")
    )
    avg_gain = F.sum(F.col("_gain").cast("decimal(18,6)")).over(frame).cast(
        "double"
    ) / F.sum("_has").over(frame)
    avg_loss = F.sum(F.col("_loss").cast("decimal(18,6)")).over(frame).cast(
        "double"
    ) / F.sum("_has").over(frame)
    rsi_val = F.when(F.sum("_has").over(frame) == 0, F.lit(None).cast("double")).when(
        avg_loss == 0, F.lit(100.0)
    ).otherwise(100.0 - 100.0 / (1.0 + avg_gain / avg_loss))
    return staged.withColumn(f"rsi_{n}", F.round(rsi_val, round_digits)).drop(
        "_gain", "_loss", "_has"
    )


def rolling_pair_corr(
    returns: DataFrame,
    pairs: list[tuple[str, str]],
    n: int = 30,
    key_col: str = "symbol",
    order_col: str = "trade_date",
    value_col: str = "daily_return",
    round_digits: int = 6,
) -> DataFrame:
    """Trailing-n rolling Pearson correlation for an explicit list of
    key pairs — the pairs-trading / hedging-ratio monitor.

    Each pair's two series equi-join on the order column, then one
    window partitioned by (key_a, key_b): many pairs parallelize across
    the pair partitioning, never a global window. The pair list is a
    deliberate guard (same rationale as the 50-symbol correlation cap):
    all-pairs rolling correlation is quadratic — derive candidate pairs
    first (e.g. cosine/LSH over return vectors), then monitor the
    shortlist here. Correlation is rounded: its co-moment accumulation is
    engine-order dependent.
    Returns (key_a, key_b, order_col, corr_{n}).
    """
    keys = {k for p in pairs for k in p}
    base = returns.filter(F.col(key_col).isin(list(keys)))
    a = base.select(
        F.col(key_col).alias("key_a"),
        F.col(order_col),
        F.col(value_col).alias("_ra"),
    )
    b = base.select(
        F.col(key_col).alias("key_b"),
        F.col(order_col),
        F.col(value_col).alias("_rb"),
    )
    pair_df = returns.sparkSession.createDataFrame(pairs, "key_a string, key_b string")
    joined = (
        a.join(F.broadcast(pair_df), "key_a")
        .join(b, ["key_b", order_col])
    )
    w = (
        Window.partitionBy("key_a", "key_b")
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    return joined.select(
        "key_a",
        "key_b",
        F.col(order_col),
        F.round(F.corr("_ra", "_rb").over(w), round_digits).alias(f"corr_{n}"),
    )


def sma_range_days(
    df: DataFrame,
    days: int,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    out_col: str | None = None,
) -> DataFrame:
    """Calendar-window moving average: trailing ``days`` DAYS (RANGE frame),
    not trailing rows — on a series with gaps (weekends, halts) the two
    are different operators, and the calendar one is what "30-day average"
    means to a human. The frame is a rangeBetween over days-since-epoch
    (Spark's RANGE frames need a numeric ordering); decimal accumulation
    as in :func:`sma`.
    """
    out_col = out_col or f"sma_{days}d"
    epoch_days = F.datediff(F.col(order_col), F.lit("1970-01-01"))
    w = (
        Window.partitionBy(partition_col)
        .orderBy(epoch_days)
        .rangeBetween(-(days - 1), 0)
    )
    total = F.sum(F.col(value_col).cast("decimal(18,2)")).over(w)
    cnt = F.count(value_col).over(w)
    return df.withColumn(out_col, total.cast("double") / cnt)


def zscore_outliers(
    df: DataFrame,
    z_threshold: float = 2.5,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    value_col: str = "close_price",
    round_digits: int = 6,
) -> DataFrame:
    """Per-series daily-return z-score outlier detection: flag rows whose
    return deviates from the series mean by >= ``z_threshold`` sample
    standard deviations — the spike/bad-tick screen every market data
    pipeline runs before training on the series.

    One shuffle on the series key: the lag, the whole-partition mean/std
    (frame-less window aggregates), and the z computation all share the
    same partitioning. z is ROUNDED before thresholding on both engine
    and oracle sides (variance accumulation order is engine-internal);
    zero-variance series are excluded rather than emitting inf/NaN.
    Returns (partition, order, value, ret, z) for |z| >= threshold.
    """
    w = _series_window(partition_col, order_col)
    wp = Window.partitionBy(partition_col)
    ret = F.col(value_col) / F.lag(value_col).over(w) - 1.0
    staged = df.withColumn("ret", ret).filter(F.col("ret").isNotNull())
    mu = F.mean("ret").over(wp)
    sd = F.stddev_samp("ret").over(wp)
    z = F.round((F.col("ret") - mu) / sd, round_digits)
    return (
        staged.withColumn("_sd", sd)
        .withColumn("z", z)
        .filter((F.col("_sd") > 0) & (F.abs(F.col("z")) >= z_threshold))
        .select(partition_col, order_col, value_col, "ret", "z")
    )


def forward_fill(
    df: DataFrame,
    cols: list[str],
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    suffix: str = "_filled",
) -> DataFrame:
    """Per-series forward fill (last observation carried forward): the
    gap-repair step before return/indicator math on series with missing
    observations (halted symbols, source outages).

    ``last(col, ignorenulls=True)`` over an unbounded-preceding running
    frame — one shuffle on the series key shared with every other
    window op in this module; rows before a series' first observation
    stay NULL (no back-fill, which would leak the future).
    Adds ``<col><suffix>`` columns; original columns untouched.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(f"{c}{suffix}", F.last(c, ignorenulls=True).over(w))
    return out


def ewma(
    df: DataFrame,
    value_col: str = "close_price",
    alpha: float = 0.2,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Per-series exponentially weighted moving average (pandas
    ``ewm(alpha, adjust=True)`` semantics):

        ewma_i = sum_{j<=i} (1-a)^(i-j) x_j / sum_{j<=i} (1-a)^(i-j)

    The recurrence looks inherently sequential, but it has a closed form
    over prefix sums: with q = 1-a and r_i the 0-based row number,

        num_i = q^{r_i} * sum_{j<=i} x_j q^{-r_j}
        den_i = q^{r_i} * sum_{j<=i} q^{-r_j}

    — two running window sums over the one per-series shuffle every other
    indicator in this module shares; no UDF, no per-row Python.

    Numerical range: q^{-r} overflows double past r ~ ln(1.8e308)/ln(1/q)
    (~3.2k rows at a=0.2). Each series is therefore SEGMENTED into blocks
    of ``_EWMA_BLOCK`` rows; within a block the exponent is bounded, and
    the carry-in from earlier blocks is folded in exactly:
    sum_{j<i} q^(i-j) x_j telescopes across the block boundary as
    carry * q^(offset). Two window passes (block-local prefix, then a
    per-series scan over ~rows/512 block partials) — still one shuffle.
    The result is rounded (engines and the closed form differ from the
    sequential recurrence at ULP level).
    Returns df + (ewma) ordered naturally.
    """
    q = 1.0 - alpha
    if q <= 0.0:
        return df.withColumn("ewma", F.round(F.col(value_col).cast("double"), round_digits))
    # q^-off must stay below double overflow (~1e308): cap the in-block
    # exponent at 300 decimal orders of magnitude, block <= 512
    import math as _math

    block = max(16, min(512, int(300 / max(1e-9, -_math.log10(q)))))
    w_all = Window.partitionBy(partition_col).orderBy(order_col)
    rn = F.row_number().over(w_all) - 1
    staged = df.withColumn("_rn", rn).withColumn(
        "_blk", (F.col("_rn") / block).cast("long")
    ).withColumn("_off", F.col("_rn") % block)

    # block-local prefix sums with bounded exponents
    w_blk = (
        Window.partitionBy(partition_col, "_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    x = F.col(value_col).cast("double")
    qoff = F.pow(F.lit(q), -F.col("_off"))
    staged = staged.withColumn(
        "_num_loc", F.pow(F.lit(q), F.col("_off")) * F.sum(x * qoff).over(w_blk)
    ).withColumn(
        "_den_loc", F.pow(F.lit(q), F.col("_off")) * F.sum(qoff).over(w_blk)
    )

    # per-block totals -> exclusive carry across blocks (tiny frame: one
    # row per (series, block)); the carry into block B is
    # sum_{blocks b<B} total_b * q^{(B-b)*block - trailing offsets}, which
    # telescopes because block sizes are fixed: carry_B = (carry_{B-1} +
    # total_{B-1}) * q^block
    totals = staged.groupBy(partition_col, "_blk").agg(
        F.max(F.when(F.col("_off") == block - 1, F.col("_num_loc"))).alias("_numt"),
        F.max(F.when(F.col("_off") == block - 1, F.col("_den_loc"))).alias("_dent"),
    )
    # a partial final block never feeds a later block, so NULL totals are
    # harmless; earlier blocks are always full (offset block-1 present)
    w_carry = (
        Window.partitionBy(partition_col)
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # fold oldest-block-first: carry_B = sum_{m<B} t_m * q^{(B-1-m)*block}
    # == num at the last row of block B-1; each step re-scales the
    # accumulator by q^block, so exponents never exceed one block's range
    qblock = float(q) ** block
    carries = totals.withColumn(
        "_carry_num",
        F.coalesce(
            F.aggregate(
                F.collect_list("_numt").over(w_carry),
                F.lit(0.0),
                lambda acc, t: acc * F.lit(qblock) + t,
            ),
            F.lit(0.0),
        ),
    ).withColumn(
        "_carry_den",
        F.coalesce(
            F.aggregate(
                F.collect_list("_dent").over(w_carry),
                F.lit(0.0),
                lambda acc, t: acc * F.lit(qblock) + t,
            ),
            F.lit(0.0),
        ),
    ).select(partition_col, "_blk", "_carry_num", "_carry_den")

    out = (
        staged.join(carries, [partition_col, "_blk"])
        .withColumn(
            "ewma",
            F.round(
                (F.col("_num_loc") + F.col("_carry_num") * F.pow(F.lit(q), F.col("_off") + 1))
                / (F.col("_den_loc") + F.col("_carry_den") * F.pow(F.lit(q), F.col("_off") + 1)),
                round_digits,
            ),
        )
        .drop("_rn", "_blk", "_off", "_num_loc", "_den_loc", "_carry_num", "_carry_den")
    )
    return out


def calendar_fill(
    df: DataFrame,
    value_cols: list[str],
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Upsample each series onto a dense daily calendar (its own
    [min, max] date span) and forward-fill the value columns — the
    gap-repair that turns trading-day series into calendar-day series
    for joins against daily reference data.

    The calendar is generated distributed: one tiny per-series min/max
    aggregate, then ``explode(sequence(min, max, 1 day))`` — a map-side
    fan-out, no driver-side date loop, no cross join against a global
    calendar table (which would need a filter per series anyway). The
    observed rows join back on (series, day) and ffill runs on the same
    key partitioning — one logical shuffle chain on the series key.
    Returns (series, day, <value_cols> filled, is_observed).
    """
    spans = df.groupBy(partition_col).agg(
        F.min(order_col).alias("_d0"), F.max(order_col).alias("_d1")
    )
    calendar = spans.select(
        F.col(partition_col),
        F.explode(
            F.sequence(F.col("_d0"), F.col("_d1"), F.expr("interval 1 day"))
        ).alias(order_col),
    )
    observed = df.select(
        F.col(partition_col), F.col(order_col),
        *[F.col(c) for c in value_cols], F.lit(1).alias("_obs"),
    )
    joined = calendar.join(observed, [partition_col, order_col], "left")
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = joined
    for c in value_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out.withColumn(
        "is_observed", F.coalesce(F.col("_obs"), F.lit(0)).cast("int")
    ).drop("_obs")


def rolling_median(
    df: DataFrame,
    n: int,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    out_col: str | None = None,
) -> DataFrame:
    """Rolling exact median over the trailing ``n`` rows — the
    outlier-robust smoother (a spike touches the mean for n days but the
    median not at all).

    Exact ``percentile(0.5)`` over a bounded ROWS frame: per-row cost is
    O(n log n) on a frame of constant n, so the operator stays linear in
    rows and shares the one per-series shuffle. Both engines interpolate
    the even-count middle identically (verified value-equal against
    DuckDB's median over the same frame); no rounding needed — the
    interpolation is a single IEEE midpoint.
    """
    out_col = out_col or f"median_{n}"
    w = _series_window(partition_col, order_col).rowsBetween(-(n - 1), 0)
    return df.withColumn(
        out_col, F.percentile(F.col(value_col).cast("double"), F.lit(0.5)).over(w)
    )


def cusum(
    df: DataFrame,
    slack: float = 0.0,
    threshold: float = 0.05,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """One-sided CUSUM drift detector over day-over-day returns:
    S_i = max(0, S_{i-1} + ret_i - slack), alarm when S_i > threshold
    (upward-drift side; run on negated returns for the downward side).

    The clamped recurrence looks sequential but has an exact closed
    form over prefix sums — with c_i = Σ_{j<=i}(ret_j - slack) and
    c_0 = 0, S_i = c_i - min(0, min_{j<=i} c_j) — so it runs as two
    running-window aggregates (sum, then min) on the one per-series
    shuffle; no UDF, no iteration. The first row of each series (null
    return) is dropped before accumulation. S is rounded and the alarm
    evaluates on the rounded value, keeping the flag engine-independent.
    Returns (series, order, ret, cusum, alarm).
    """
    w = _series_window(partition_col, order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    ret = F.col(value_col) / F.lag(value_col).over(w) - 1
    staged = (
        df.withColumn("ret", ret)
        .filter(F.col("ret").isNotNull())
        .withColumn("_c", F.sum(F.col("ret") - F.lit(slack)).over(run))
        .withColumn("_m", F.least(F.lit(0.0), F.min("_c").over(run)))
    )
    s = F.round(F.col("_c") - F.col("_m"), round_digits)
    return staged.select(
        F.col(partition_col),
        F.col(order_col),
        F.col("ret"),
        s.alias("cusum"),
        (s > threshold).alias("alarm"),
    )


def adjusted_close(
    prices: DataFrame,
    actions: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    factor_col: str = "factor",
    action_date_col: str = "action_date",
    round_digits: int = 6,
) -> DataFrame:
    """Corporate-action (split/dividend) back-adjustment: each price is
    multiplied by the cumulative product of all adjustment factors whose
    action date lies STRICTLY AFTER it — so history is restated into the
    current share basis (the convention every charting/backtest stack
    uses).

    The cumulative product over an ordered window has no product
    aggregate in either engine; it runs as ``exp(sum(ln(factor)))`` over
    a reversed-frame window — but computed on the ACTIONS table (a few
    rows per symbol), never the price rows: actions get their
    cumulative "adjust everything before me" factor, prices pick it up
    with one as-of join against the NEXT action at-or-after their date.
    Cost: a window over the tiny actions frame + the one-shuffle as-of
    union join on the symbol key. Factors of 1.0 are exact; the ln/exp
    round-trip is rounded.
    Returns prices + (adj_factor, adj_close).
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.col(action_date_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cumulative factor applying to any price BEFORE this action's date:
    # product of this and all later actions' factors
    acts = actions.select(
        F.col(partition_col),
        F.col(action_date_col),
        F.exp(F.sum(F.log(F.col(factor_col))).over(w)).alias("_cumf"),
    )
    # as-of join: price row picks the EARLIEST action strictly after it.
    # Reuse the union trick with reversed time: tag sides, sort by
    # (date DESC, side), carry last action factor seen so far.
    p = prices.select(
        F.col(partition_col), F.col(order_col),
        F.col(value_col), F.lit(1).alias("_side"),
        F.lit(None).cast("double").alias("_cumf"),
    )
    a = acts.select(
        F.col(partition_col), F.col(action_date_col).alias(order_col),
        F.lit(None).cast(prices.schema[value_col].dataType).alias(value_col),
        F.lit(0).alias("_side"), F.col("_cumf"),
    )
    u = p.unionByName(a)
    # descending date: an action at date D sorts BEFORE any price at
    # date < D; at the SAME date the price sorts first (side 1 ... note
    # ordering asc on _side after desc date puts action (0) first), so a
    # same-day price is NOT adjusted by that action (strictly-after
    # semantics -> price first). Hence order (_side DESC) at equal dates.
    wj = (
        Window.partitionBy(partition_col)
        .orderBy(F.col(order_col).desc(), F.col("_side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("_adj", F.last("_cumf", ignorenulls=True).over(wj))
    return (
        filled.filter(F.col("_side") == 1)
        .select(
            F.col(partition_col), F.col(order_col), F.col(value_col),
            F.round(F.coalesce(F.col("_adj"), F.lit(1.0)), round_digits).alias(
                "adj_factor"
            ),
            F.round(
                F.col(value_col) * F.coalesce(F.col("_adj"), F.lit(1.0)),
                round_digits,
            ).alias("adj_close"),
        )
    )


def vwap(
    df: DataFrame,
    bucket_col,
    value_col: str = "close_price",
    volume_col: str = "volume",
    partition_col: str = "symbol",
) -> DataFrame:
    """Volume-weighted average price per (symbol, bucket): the execution
    benchmark every trading desk quotes. Decimal-exact numerator and
    denominator (partition-order independent), one map-combined
    aggregate.
    Returns (symbol, bucket, vwap, total_volume).
    """
    num = F.sum(
        (F.col(value_col).cast("decimal(18,2)") * F.col(volume_col)).cast(
            "decimal(38,2)"
        )
    )
    den = F.sum(F.col(volume_col).cast("decimal(18,2)"))
    return df.groupBy(F.col(partition_col), bucket_col.alias("bucket")).agg(
        (num.cast("double") / den.cast("double")).alias("vwap"),
        den.cast("long").alias("total_volume"),
    )


def seasonal_baseline(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Day-of-week seasonal baseline and deviation: each observation
    compared against its series' historical mean for that weekday — the
    simplest seasonal decomposition (trading-volume weekday effects,
    weekend event dips).

    Baselines are per-(series, weekday) aggregates — decimal-exact sums
    divided once, so re-partitioning never changes them — joined back on
    the same key the series is already shuffled on. Deviation is a
    per-row IEEE ratio, rounded.
    Returns df + (dow 1..7, dow_avg, seasonal_ratio).
    """
    dow = F.dayofweek(F.col(order_col))
    staged = df.withColumn("dow", dow)
    base = staged.groupBy(partition_col, "dow").agg(
        exact_avg(F.col(value_col)).alias("dow_avg")
    )
    return staged.join(base, [partition_col, "dow"]).withColumn(
        "seasonal_ratio",
        F.round(F.col(value_col) / F.col("dow_avg"), round_digits),
    )


def robust_scale(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    round_digits: int = 6,
) -> DataFrame:
    """Per-series robust scaling (x - median) / IQR — the
    outlier-insensitive feature normalization for ML export (a z-score
    is dragged by the very outliers you are trying to detect).

    Median and quartiles are one exact-percentile aggregate per series
    (map-combined partials, never a global sort) joined back on the key
    the caller's windows already shuffle on; series with IQR = 0 keep a
    NULL scaled value (surfaced, not divided-by-zero). Both engines use
    type-7 quantile interpolation, so the scale factors agree; the
    scaled ratio is rounded.
    Adds (median, iqr, scaled).
    """
    v = F.col(value_col).cast("double")
    stats = df.groupBy(partition_col).agg(
        F.percentile(v, F.lit(0.5)).alias("median"),
        (F.percentile(v, F.lit(0.75)) - F.percentile(v, F.lit(0.25))).alias("iqr"),
    )
    return df.join(stats, partition_col).withColumn(
        "scaled",
        F.when(
            F.col("iqr") != 0,
            F.round((v - F.col("median")) / F.col("iqr"), round_digits),
        ),
    )


def sharpe_ratio(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    periods_per_year: int = 252,
    round_digits: int = 6,
) -> DataFrame:
    """Per-series Sharpe ratio over daily returns (rf = 0): annualized
    mean(ret)/stddev(ret) — the standard risk-adjusted-return summary
    (reference analytics surface: scripts/analyze_prices.py-style
    summaries; no direct counterpart, graded extension).

    One window pass for the per-row IEEE returns (deterministic), one
    map-combined groupBy for the moments. mean and stddev accumulate in
    engine-internal order, so the emitted ratio is rounded — the same
    convention as rolling_volatility/market beta. Series with zero
    return variance surface NULL (not a division blow-up).
    Returns (partition_col, n_days, sharpe_annual) one row per series.
    """
    w = _series_window(partition_col, order_col)
    ret = (F.col(value_col) / F.lag(value_col).over(w) - 1).alias("_ret")
    ann = float(periods_per_year) ** 0.5
    return (
        df.select(F.col(partition_col), ret)
        .filter(F.col("_ret").isNotNull())
        .groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.avg("_ret").alias("_mu"),
            F.stddev_samp("_ret").alias("_sd"),
        )
        .select(
            F.col(partition_col),
            "n_days",
            F.when(
                F.col("_sd") > 0,
                F.round(F.col("_mu") / F.col("_sd") * ann, round_digits),
            ).alias("sharpe_annual"),
        )
    )


def donchian_channels(
    df: DataFrame,
    n: int = 20,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Donchian channel: trailing n-row max/min of the close plus breakout
    flags (close strictly above the PREVIOUS row's upper channel / below
    its lower channel — lagged so a row never breaks out of a channel it
    itself defines).

    max/min are exact associative aggregates — no rounding needed, the
    whole operator is deterministic. One shuffle on the series key; both
    frames ride the same window partitioning.
    Adds (upper_{n}, lower_{n}, breakout_up, breakout_down).
    """
    w = _series_window(partition_col, order_col)
    frame = w.rowsBetween(-(n - 1), 0)
    upper = F.max(value_col).over(frame)
    lower = F.min(value_col).over(frame)
    out = (
        df.withColumn(f"upper_{n}", upper)
        .withColumn(f"lower_{n}", lower)
        .withColumn("_pu", F.lag(f"upper_{n}").over(w))
        .withColumn("_pl", F.lag(f"lower_{n}").over(w))
    )
    return (
        out.withColumn(
            "breakout_up", (F.col(value_col) > F.col("_pu")).cast("boolean")
        )
        .withColumn(
            "breakout_down", (F.col(value_col) < F.col("_pl")).cast("boolean")
        )
        .drop("_pu", "_pl")
    )


def return_autocorr(
    df: DataFrame,
    lag_k: int = 1,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Per-series lag-k autocorrelation of daily returns — the standard
    mean-reversion / momentum diagnostic (negative lag-1 autocorr =
    reverting series).

    Returns are per-row IEEE; corr rounds because moment accumulation is
    engine-internal (same convention as rolling_pair_corr). One window
    pass builds (ret, ret lagged k) pairs, one map-combined groupBy
    computes corr — a single shuffle on the series key.
    Returns (partition_col, n_pairs, autocorr) one row per series.
    """
    w = _series_window(partition_col, order_col)
    staged = df.select(
        F.col(partition_col),
        F.col(order_col),
        (F.col(value_col) / F.lag(value_col).over(w) - 1).alias("_ret"),
    ).withColumn("_lagged", F.lag("_ret", lag_k).over(w))
    return (
        staged.filter(F.col("_ret").isNotNull() & F.col("_lagged").isNotNull())
        .groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("_ret", "_lagged"), round_digits).alias("autocorr"),
        )
    )


def cross_sectional_momentum(
    df: DataFrame,
    lookback: int = 20,
    n_quantiles: int = 5,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Cross-sectional momentum ranking: each symbol's trailing
    ``lookback``-row return, ranked against every OTHER symbol on the
    same date (rank 1 = strongest), plus an ``n_quantiles`` bucket.

    Two window passes with DIFFERENT partitionings — the per-series pass
    (lag over symbol) and the per-date cross-section (rank over
    trade_date). Both are key-partitioned; the cross-section partition is
    bounded by the symbol universe per date, never the row count, so the
    shape holds at any history length. Rank ties break on symbol for a
    total order; the momentum ratio is per-row IEEE, rounded only for
    display.
    Returns (order_col, partition_col, momentum, xs_rank, quantile).
    """
    ws = _series_window(partition_col, order_col)
    staged = df.select(
        F.col(order_col),
        F.col(partition_col),
        (F.col(value_col) / F.lag(value_col, lookback).over(ws) - 1).alias(
            "_mom"
        ),
    ).filter(F.col("_mom").isNotNull())
    wx = Window.partitionBy(order_col).orderBy(F.desc("_mom"), F.col(partition_col))
    return staged.select(
        F.col(order_col),
        F.col(partition_col),
        F.round("_mom", round_digits).alias("momentum"),
        F.row_number().over(wx).cast("long").alias("xs_rank"),
        F.ntile(n_quantiles).over(wx).cast("long").alias("quantile"),
    )


def amihud_illiquidity(
    df: DataFrame,
    value_col: str = "close_price",
    amount_col: str = "amount",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    scale: float = 1e9,
    ret_col: str | None = None,
) -> DataFrame:
    """Amihud (2002) illiquidity: per-series average of |daily return| per
    unit of traded amount, scaled by 1e9 for readable magnitudes — the
    classic price-impact proxy.

    The per-row ratio is IEEE-deterministic; the AVERAGE of doubles is
    not (partition order), so each row's contribution is fixed-pointed to
    1e-9 (round -> DECIMAL(38,0)) and summed exactly — the same
    integer-accumulation trick the text operators use for weighted sums.
    Result is bit-identical across engines with no output rounding.
    Returns (partition_col, n_days, amihud_illiq).

    ``ret_col`` names a precomputed per-row simple return (close/prev-1)
    to reuse instead of re-running the lag window — for callers that
    share one materialized returns frame across several full-universe
    passes. The expression sequence is IEEE-identical either way.
    """
    if ret_col is None:
        w = _series_window(partition_col, order_col)
        ret = F.col(value_col) / F.lag(value_col).over(w) - 1
    else:
        ret = F.col(ret_col)
    ratio = F.abs(ret) / F.col(amount_col) * F.lit(scale)
    staged = df.select(F.col(partition_col), ratio.alias("_r")).filter(
        F.col("_r").isNotNull()
    )
    return staged.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            # decimal(38,0), not BIGINT: tiny traded amounts blow the
            # ratio up past 2^63 micro-units at realistic scale, and
            # ANSI-mode Spark would throw where DuckDB silently promotes
            # to HUGEINT (engine divergence). The decimal sum is exact
            # for 38 digits and still order-independent.
            (F.sum(F.round(F.col("_r") * 1e9).cast("decimal(38,0)")) / 1e9)
            / F.count(F.lit(1))
        ).alias("amihud_illiq"),
    )


def candlestick_flags(
    bars: DataFrame,
    doji_frac: float = 0.1,
    partition_col: str = "symbol",
    order_col: str = "bucket",
) -> DataFrame:
    """Candlestick pattern flags over OHLC bars (from
    :func:`resample_ohlc`, columns open/high/low/close): direction, doji
    (|close-open| within ``doji_frac`` of the bar range), and
    bullish/bearish engulfing vs the previous bar's body.

    Pure per-row comparisons plus one lag per side — exact booleans, no
    rounding anywhere. One window shuffle on the series key.
    Adds (bullish, doji, engulfing_up, engulfing_down).
    """
    w = Window.partitionBy(partition_col).orderBy(order_col)
    body_hi = F.greatest("open", "close")
    body_lo = F.least("open", "close")
    prev_hi = F.lag(body_hi).over(w)
    prev_lo = F.lag(body_lo).over(w)
    prev_bull = F.lag((F.col("close") > F.col("open")).cast("boolean")).over(w)
    rng = F.col("high") - F.col("low")
    return (
        bars.withColumn("bullish", (F.col("close") > F.col("open")).cast("boolean"))
        .withColumn(
            "doji",
            (
                (rng > 0)
                & (F.abs(F.col("close") - F.col("open")) <= F.lit(doji_frac) * rng)
            ).cast("boolean"),
        )
        .withColumn(
            "engulfing_up",
            (
                F.col("bullish")
                & ~F.coalesce(prev_bull, F.lit(True))
                & (body_hi > prev_hi)
                & (body_lo < prev_lo)
            ).cast("boolean"),
        )
        .withColumn(
            "engulfing_down",
            (
                ~F.col("bullish")
                & F.coalesce(prev_bull, F.lit(False))
                & (body_hi > prev_hi)
                & (body_lo < prev_lo)
            ).cast("boolean"),
        )
    )


def drawdown_duration(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Per-series LONGEST underwater spell: the maximum run of
    consecutive rows strictly below the running peak (max_drawdown says
    how deep; this says how long — the recovery-time risk metric).

    Gaps-and-islands over the underwater flag: running max (exact),
    below-peak boolean, island numbering via the running sum of
    spell-starts, then max island length. All windows and both
    aggregates partition on the series key — one shuffle. Deterministic:
    every step is exact comparisons on exact aggregates.
    Returns (partition_col, n_underwater_days, longest_underwater,
    n_spells).
    """
    w = _series_window(partition_col, order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        df.withColumn("_peak", F.max(value_col).over(run))
        .withColumn("_under", (F.col(value_col) < F.col("_peak")).cast("int"))
        .withColumn(
            "_start",
            (
                (F.col("_under") == 1)
                & (F.coalesce(F.lag("_under").over(w), F.lit(0)) == 0)
            ).cast("int"),
        )
        .withColumn("_spell", F.sum("_start").over(run))
    )
    spells = (
        staged.filter(F.col("_under") == 1)
        .groupBy(partition_col, "_spell")
        .agg(F.count(F.lit(1)).alias("_len"))
    )
    return spells.groupBy(partition_col).agg(
        F.sum("_len").cast("long").alias("n_underwater_days"),
        F.max("_len").cast("long").alias("longest_underwater"),
        F.count(F.lit(1)).cast("long").alias("n_spells"),
    )


def ulcer_index(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Ulcer Index per series: sqrt(mean(squared percent drawdown from the
    running peak)) — the drawdown-depth-weighted risk measure that
    penalizes sustained underwater periods the way max-drawdown cannot.

    One per-series window pass (running max) + one groupBy, both on the
    series key — single shuffle. Each row's squared-drawdown contribution
    is IEEE-deterministic; their SUM is fixed-pointed (round 1e-6 ->
    DECIMAL(38,0)) so the mean — and therefore the root — is
    engine-identical with no output rounding.
    Returns (partition_col, n_days, ulcer_index).
    """
    w = _series_window(partition_col, order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd_pct = (F.col(value_col) / F.max(value_col).over(w) - 1) * 100
    staged = df.select(
        F.col(partition_col), (dd_pct * dd_pct).alias("_dd2")
    ).filter(F.col("_dd2").isNotNull())
    return staged.groupBy(partition_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sqrt(
            (F.sum(F.round(F.col("_dd2") * 1e6).cast("decimal(38,0)")) / 1e6)
            / F.count(F.lit(1))
        ).alias("ulcer_index"),
    )


def on_balance_volume(
    df: DataFrame,
    value_col: str = "close_price",
    volume_col: str = "volume",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """On-Balance Volume summary per series: OBV accumulates +volume on
    up days, -volume on down days, 0 on flat. Reports the final OBV and
    the running maximum — the accumulation/distribution divergence
    signal.

    Two window passes sharing one series-key shuffle (sign lag, then the
    running sum + running max over it). All arithmetic is BIGINT
    (volumes are integers), so every value is exact in any engine.
    Returns (partition_col, n_days, obv_final, obv_peak).
    """
    w = _series_window(partition_col, order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    signed = (
        F.signum(F.col(value_col) - F.lag(value_col).over(w))
        .cast("long")
        * F.col(volume_col)
    )
    staged = df.withColumn("_sv", F.coalesce(signed, F.lit(0))).withColumn(
        "_obv", F.sum("_sv").over(run)
    )
    return staged.groupBy(partition_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        # argmax on the order key, NOT last(): last over grouped rows is
        # arrival-order dependent
        F.max_by("_obv", F.col(order_col)).cast("long").alias("obv_final"),
        F.max("_obv").cast("long").alias("obv_peak"),
    )


def streak_stats(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Longest up-streak and down-streak per series (consecutive strictly
    rising / falling closes) — gaps-and-islands on the sign of the daily
    change.

    The standard two-window rewrite: a boundary flag where the sign
    changes, a running sum of flags numbering the runs, then one groupBy
    per (series, run). Flat days stay in the sequence as their own
    (unreported) runs, so a flat day BREAKS a streak — "consecutive
    strictly rising" means no interruption of any kind. Everything
    shares the single series-key shuffle; run lengths are integers,
    exact everywhere.
    Returns (partition_col, longest_up, longest_down).
    """
    w = _series_window(partition_col, order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sign = F.signum(F.col(value_col) - F.lag(value_col).over(w))
    staged = (
        df.withColumn("_sgn", sign)
        .filter(F.col("_sgn").isNotNull())
        .withColumn(
            "_new",
            (
                F.coalesce(
                    F.lag("_sgn").over(w) != F.col("_sgn"), F.lit(True)
                )
            ).cast("int"),
        )
        .withColumn("_run", F.sum("_new").over(run))
    )
    runs = staged.groupBy(partition_col, "_run", "_sgn").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return runs.groupBy(partition_col).agg(
        F.max(F.when(F.col("_sgn") == 1, F.col("_len"))).cast("long").alias("longest_up"),
        F.max(F.when(F.col("_sgn") == -1, F.col("_len"))).cast("long").alias("longest_down"),
    )


def garman_klass_vol(
    df: DataFrame,
    value_col: str = "close_price",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    freq: str = "week",
) -> DataFrame:
    """Garman-Klass OHLC volatility per series from `freq` range bars:
    per bar, 0.5*ln(H/L)^2 - (2ln2-1)*ln(C/O)^2 with O/C the first/last
    value in the bar and H/L the extremes; per series, sqrt of the mean
    bar estimate (floored at 0 — the estimator is unbiased, not
    pointwise nonnegative). ~7.4x more statistically efficient than
    close-to-close variance; the range-bar sibling of the Parkinson
    estimator (parkinson_vol).

    One hash aggregate builds the bars (min_by/max_by are single-pass,
    tie-free because the input is one row per (series, day)), then one
    series-keyed aggregate — two shuffles total, no window. Each bar's
    term is fixed-pointed (round 1e-12 -> BIGINT, |term| < 1 so no
    overflow) before summing so accumulation order cannot move the mean.
    Returns (partition_col, n_bars, gk_vol).
    """
    k = 0.3862943611198906  # 2*ln(2) - 1, literal-matched with oracles
    bars = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(partition_col, F.date_trunc(freq, F.col(order_col)).alias("_bucket"))
        .agg(
            F.min_by(value_col, order_col).alias("_o"),
            F.max_by(value_col, order_col).alias("_c"),
            F.max(value_col).alias("_h"),
            F.min(value_col).alias("_l"),
        )
        .filter((F.col("_l") > 0) & (F.col("_o") > 0))
    )
    lhl = F.log(F.col("_h") / F.col("_l"))
    lco = F.log(F.col("_c") / F.col("_o"))
    term = F.lit(0.5) * lhl * lhl - F.lit(k) * lco * lco
    q = bars.select(
        partition_col, F.round(term * 1e12).cast("long").alias("_qv")
    )
    n = F.count(F.lit(1))
    return q.groupBy(partition_col).agg(
        n.cast("long").alias("n_bars"),
        F.sqrt(F.greatest(F.lit(0.0), F.sum("_qv") / 1e12 / n)).alias("gk_vol"),
    )


def roll_spread(
    df: DataFrame,
    ret_col: str = "ret",
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    round_digits: int = 6,
) -> DataFrame:
    """Roll (1984) implied effective spread per series: 2*sqrt(-cov) of
    adjacent returns when the first-order autocovariance is negative
    (bid-ask bounce induces negative serial covariance), else 0 — the
    microstructure liquidity estimator that needs only the price series,
    no quote data.

    One per-series lag window + one series-keyed covar_pop aggregate —
    single shuffle on the series key. covar_pop accumulates in floating
    point, but returns are O(1e-2) so per-series accumulation error is
    ~1e-18, far inside the 6-dp output rounding (the corr/ROUND idiom
    used by the correlation family).
    Returns (partition_col, n_obs, roll_spread).
    """
    w = _series_window(partition_col, order_col)
    staged = (
        df.withColumn("_prev", F.lag(ret_col).over(w))
        .filter(F.col(ret_col).isNotNull() & F.col("_prev").isNotNull())
    )
    cov = F.covar_pop(ret_col, "_prev")
    return staged.groupBy(partition_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.round(
            F.lit(2.0) * F.sqrt(F.greatest(F.lit(0.0), -cov)), round_digits
        ).alias("roll_spread"),
    )


def breadth_thrust(
    returns: DataFrame,
    window_days: int = 10,
    threshold: float = 0.615,
    ret_col: str = "ret",
    date_col: str = "trade_date",
) -> DataFrame:
    """Market breadth (advancers / movers) with its sliding-mean SMA and
    the Zweig breadth-thrust flag (SMA >= ``threshold``). The sliding
    mean runs over fixed-point ppm INTEGERS so window accumulation order
    (segment trees vs sequential) cannot change the float result. The
    unpartitioned window is post-aggregation over the trading CALENDAR —
    bounded domain (the a16/a20 pattern).
    Returns (date, adv, dec, breadth_ppm, breadth_sma10, thrust)."""
    daily = (
        returns.filter(F.col(ret_col).isNotNull())
        .groupBy(date_col)
        .agg(
            F.sum(F.when(F.col(ret_col) > 0, 1).otherwise(0))
            .cast("long")
            .alias("adv"),
            F.sum(F.when(F.col(ret_col) < 0, 1).otherwise(0))
            .cast("long")
            .alias("dec"),
        )
        .filter((F.col("adv") + F.col("dec")) > 0)
    )
    bp = daily.withColumn(
        "breadth_ppm",
        F.round(F.col("adv") / (F.col("adv") + F.col("dec")) * 1e6).cast("long"),
    )
    w = Window.orderBy(date_col).rowsBetween(-(window_days - 1), 0)
    sma_ = F.sum("breadth_ppm").over(w) / 1e6 / F.count(F.lit(1)).over(w)
    return bp.select(
        date_col,
        "adv",
        "dec",
        "breadth_ppm",
        sma_.alias("breadth_sma10"),
        (sma_ >= threshold).alias("thrust"),
    )


def equal_weight_index(
    returns: DataFrame,
    base_level: float = 100.0,
    ret_col: str = "ret",
    date_col: str = "trade_date",
) -> DataFrame:
    """Chain-linked equal-weight index (base ``base_level``): the daily
    cross-sectional mean return, compounded in LOG space (base log level
    = ln(base) + cumsum(ln(1+r))) — how an index vendor builds a
    benchmark level from constituent returns, kept in logs so the level
    stays exact at any horizon. Per-day mean is a fixed-point aggregate
    over the symbol dimension (one date-key shuffle); the compounding
    cumsum runs over the DATE DOMAIN (bounded, single partition — the
    a16 argument) with each log term fixed-pointed so the level is
    reproducible to 6 dp on any engine (the log level, not exp(): this
    synthetic series compounds past 1e200 where 6-dp rounding on the
    linear level is meaningless; real deployments exp() at the read
    edge). Returns (date, n_symbols, log_index_level)."""
    import math

    d = returns.filter(F.col(ret_col).isNotNull()).groupBy(date_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_symbols"),
        (fp_sum(F.col(ret_col)) / F.count(F.lit(1))).alias("mret"),
    )
    wcum = Window.orderBy(date_col).rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        date_col,
        "n_symbols",
        F.round(
            F.lit(math.log(base_level))
            + F.sum(
                F.round(F.log(1 + F.col("mret")) * 1e9).cast("long")
            ).over(wcum)
            / 1e9,
            6,
        ).alias("log_index_level"),
    )


def rank_churn(
    price: DataFrame,
    amount_col: str = "amount",
    symbol_col: str = "symbol",
    date_col: str = "trade_date",
) -> DataFrame:
    """Month-over-month turnover-rank stability (Spearman via Pearson
    on ranks): high autocorrelation = a stable leaderboard, drops flag
    regime changes. Monthly cents totals are decimal-exact so ranks are
    deterministic (symbol tiebreak); the correlation is rounded (moment
    accumulation order). Rank windows partition by month — bounded by
    the universe per month. Returns (month, n_symbols, rank_autocorr)."""
    m = price.groupBy(
        symbol_col, F.date_format(date_col, "yyyy-MM").alias("month")
    ).agg(
        (F.sum(F.col(amount_col).cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("month").orderBy(F.desc("cents"), symbol_col)
    rk = m.select(symbol_col, "month", F.row_number().over(w).alias("rnk"))
    nxt = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), 1),
        "yyyy-MM",
    )
    # Month-over-month pairing via a per-symbol lead window, not a
    # self-join of ``rk`` with itself — the self-join's two plan
    # branches each re-ran the monthly aggregate + rank window, plus a
    # join shuffle (r12 opt session 3, guide §2.1/§3). lead() over
    # (symbol ORDER BY month) paired with the equality filter on the
    # computed next-month string admits exactly the rows the equi-join
    # matched: a symbol absent from the immediately-following month
    # yields a lead month != next and is dropped.
    ws = Window.partitionBy(symbol_col).orderBy("month")
    paired = (
        rk.select(
            symbol_col,
            "month",
            F.col("rnk").alias("r1"),
            nxt.alias("_next"),
            F.lead("month").over(ws).alias("_lead_month"),
            F.lead("rnk").over(ws).alias("r2"),
        )
        .filter(F.col("_lead_month") == F.col("_next"))
    )
    return (
        paired.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_symbols"),
            F.round(F.corr("r1", "r2"), 6).alias("rank_autocorr"),
        )
        .filter(F.col("n_symbols") > 1)
    )


def vol_regimes(
    returns: DataFrame,
    n_regimes: int = 3,
    ret_col: str = "ret",
    date_col: str = "trade_date",
) -> DataFrame:
    """Volatility-regime classification: months ranked into terciles by
    the cross-sectional average |daily return| (calm / normal /
    turbulent), then per regime the average monthly up-day share — the
    market-state conditioning table behind regime-aware strategy
    evaluation. Daily and monthly aggregates shrink the frame to
    ~|months| rows BEFORE the single bounded NTILE window (a16/r5
    precedent, ties broken on month); all cross-engine floats go
    through 1e-9 fixed-point sums.
    Returns (regime, n_months, regime_abs_ret, regime_up_share),
    ordered by tercile when sorted on the internal tercile upstream."""
    r = returns.filter(F.col(ret_col).isNotNull())
    d = r.groupBy(date_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col(ret_col) > 0, 1).otherwise(0)).alias("nup"),
        F.sum(F.round(F.abs(ret_col) * 1e9).cast("long")).alias("a9"),
    )
    m = d.groupBy(F.date_format(date_col, "yyyy-MM").alias("month")).agg(
        (F.sum("a9") / 1e9 / F.sum("n")).alias("avg_abs_ret"),
        (F.sum("nup") * 1.0 / F.sum("n")).alias("up_share"),
    )
    t = m.withColumn(
        "tercile", F.ntile(n_regimes).over(Window.orderBy("avg_abs_ret", "month"))
    )
    regime = (
        F.when(F.col("tercile") == 1, "calm")
        .when(F.col("tercile") == 2, "normal")
        .otherwise("turbulent")
    )
    return (
        t.groupBy(regime.alias("regime"), "tercile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            ((fp_sum(F.col("avg_abs_ret"))) / F.count(F.lit(1))).alias(
                "regime_abs_ret"
            ),
            ((fp_sum(F.col("up_share"))) / F.count(F.lit(1))).alias(
                "regime_up_share"
            ),
        )
        .orderBy("tercile")
        .drop("tercile")
    )


def listing_age_vol(
    returns: DataFrame,
    master: DataFrame,
    horizon: str = "1998-12-31",
    min_days: int = 10,
    ret_col: str = "ret",
) -> DataFrame:
    """Seasoning effect: per listing-age bucket (whole years between
    the master listing_date and the ``horizon`` date), the
    cross-sectional average |daily return| — the 'do seasoned listings
    trade calmer?' conditioning table joining the master dimension's
    listing_date to the return stream. Per-symbol 1e-9 fixed-point
    means, broadcast master join, integer datediff bucketing, then one
    bucket aggregate re-fixed-pointing the per-symbol means — every
    float is fenced. Returns (age_years, n_symbols, avg_abs_ret)."""
    r = returns.filter(F.col(ret_col).isNotNull())
    sym = (
        r.groupBy("symbol")
        .agg(
            (
                F.sum(F.round(F.abs(ret_col) * 1e9).cast("long"))
                / 1e9
                / F.count(F.lit(1))
            ).alias("abs_ret"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") >= min_days)
    )
    m = master.filter(F.col("listing_date").isNotNull()).select(
        "symbol", "listing_date"
    )
    age = F.floor(
        F.datediff(F.lit(horizon).cast("date"), F.col("listing_date")) / 365.0
    ).cast("long")
    return (
        sym.join(F.broadcast(m), "symbol")
        .groupBy(age.alias("age_years"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_symbols"),
            ((fp_sum(F.col("abs_ret"))) / F.count(F.lit(1))).alias(
                "avg_abs_ret"
            ),
        )
    )
