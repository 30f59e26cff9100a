"""Analytical query layer (SURVEY §2.3-§2.6, §3.3).

Re-expresses every analytics entry point of the reference's ClickHouse client
(reference: src/clickhouse/client.py:73-235 and the views at
src/setup/setup_clickhouse.py:247-295) as pure ``DataFrame -> DataFrame``
functions over stock-shaped frames:

- ``price``:  columns (symbol, trade_date, close_price, volume, amount, ...)
- ``master``: columns (symbol, name, market, is_active, ...)

Scale notes (100 TB discipline):
- the dim side of every fact⋈dim join is broadcast explicitly — master is
  ~5k rows in the reference and small in any realistic deployment;
- per-symbol windows shuffle once on ``symbol`` and reuse that partitioning
  for all window computations in the same query;
- top-k is ``orderBy().limit()`` which Spark plans as TakeOrderedAndProject
  (per-partition heap + driver merge of k rows — no global sort);
- the correlation pair join is capped (``max_symbols``) exactly like the
  reference (reference: src/clickhouse/client.py:207-209) because an
  uncapped self-join on date is a quadratic blow-up at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators.util import ensure_parallelism


def exact_sum(c: Column) -> Column:
    """Order-independent money sum: accumulate in DECIMAL(18,2), emit
    double. Float sums are partition-order-dependent; decimal accumulation
    makes results bit-stable across engines and run-to-run (needed for
    golden/oracle hashing, and the right call for money anyway)."""
    return F.sum(c.cast("decimal(18,2)")).cast("double")


def exact_avg(c: Column) -> Column:
    """Order-independent mean built on :func:`exact_sum` (double / count
    is a single deterministic IEEE op)."""
    return exact_sum(c) / F.count(c)


def fp_sum(c: Column, digits: int = 9) -> Column:
    """Order-independent float sum on a fixed-point grid: round each
    term to ``digits`` decimals, accumulate as LONG (associative —
    partition- and engine-order free), descale once at the end. The
    registry's standard cross-engine float recipe (r9), extracted in
    r11 from ~50 inline copies. Use :func:`exact_sum` for money (cents
    are already a grid); use this for returns/ratios/log terms."""
    scale = float(10**digits)
    return F.sum(F.round(c * scale).cast("long")) / scale


def get_stock_data(
    price: DataFrame,
    master: DataFrame,
    symbols: list[str] | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
) -> DataFrame:
    """Fact rows joined with dim names, dynamically filtered.

    (reference: src/clickhouse/client.py:73-102 — J1 broadcast join, P7
    dynamic predicate assembly, P8 IN-list, O2 deterministic sort.)
    """
    df = price
    if symbols:
        df = df.filter(F.col("symbol").isin(symbols))
    if start_date:
        df = df.filter(F.col("trade_date") >= F.lit(start_date))
    if end_date:
        df = df.filter(F.col("trade_date") <= F.lit(end_date))
    return (
        df.join(F.broadcast(master.select("symbol", "name", "market")), "symbol")
        .orderBy("symbol", "trade_date")
    )


def market_summary(price: DataFrame, master: DataFrame, trade_date: str) -> DataFrame:
    """Per-market stats for one day: count / avg close / sum volume / sum
    amount (rows in no defined order).

    (reference: src/clickhouse/client.py:104-121 — A1 + J1.)
    """
    return (
        price.filter((F.col("trade_date") == F.lit(trade_date)) & (F.col("close_price") > 0))
        .join(F.broadcast(master.select("symbol", "market")), "symbol")
        .groupBy("market")
        .agg(
            F.count("*").alias("stock_count"),
            exact_avg(F.col("close_price")).alias("avg_close_price"),
            F.sum("volume").alias("total_volume"),
            exact_sum(F.col("amount")).alias("total_amount"),
        )
    )


def top_performers(
    price: DataFrame,
    master: DataFrame,
    trade_date: str,
    limit: int = 20,
) -> DataFrame:
    """Top day-over-day gainers on ``trade_date``.

    Implements the *intent* of the reference (change vs previous trading
    day): the window scans the full per-symbol history, THEN the result is
    filtered to the target date. The reference filters the date inside the
    CTE before ``lagInFrame``, so its prev_close is always NULL — a latent
    bug we do not replicate (reference: src/clickhouse/client.py:123-150,
    bug analysis in SURVEY §3.3).
    """
    w = Window.partitionBy("symbol").orderBy("trade_date")
    return (
        price.filter(F.col("close_price").isNotNull() & (F.col("close_price") > 0))
        .withColumn("prev_close", F.lag("close_price", 1).over(w))
        .filter((F.col("trade_date") == F.lit(trade_date)) & (F.col("prev_close") > 0))
        .withColumn(
            "change_pct",
            (F.col("close_price") - F.col("prev_close")) / F.col("prev_close") * 100.0,
        )
        .join(F.broadcast(master.select("symbol", "name", "market")), "symbol")
        .select(
            "symbol", "name", "market", "close_price", "prev_close", "change_pct", "volume"
        )
        .orderBy(F.desc("change_pct"), "symbol")
        .limit(limit)
    )


def calculate_returns(
    price: DataFrame,
    symbols: list[str] | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
) -> DataFrame:
    """Daily and cumulative returns per symbol.

    (reference: src/clickhouse/client.py:179-202 — W1 lag, W2 first_value
    with an explicit unbounded frame, W3 arithmetic.)
    """
    df = price.filter(F.col("close_price").isNotNull() & (F.col("close_price") > 0))
    if symbols:
        df = df.filter(F.col("symbol").isin(symbols))
    if start_date:
        df = df.filter(F.col("trade_date") >= F.lit(start_date))
    if end_date:
        df = df.filter(F.col("trade_date") <= F.lit(end_date))
    w = Window.partitionBy("symbol").orderBy("trade_date")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.withColumn("prev_close", F.lag("close_price", 1).over(w))
        .withColumn("first_close", F.first("close_price").over(w_all))
        .withColumn("daily_return", F.col("close_price") / F.col("prev_close") - 1.0)
        .withColumn("cumulative_return", F.col("close_price") / F.col("first_close") - 1.0)
        .select(
            "symbol", "trade_date", "close_price",
            "daily_return", "cumulative_return",
        )
    )


def correlation_matrix(
    price: DataFrame,
    symbols: list[str],
    start_date: str | None = None,
    end_date: str | None = None,
    max_symbols: int = 50,
) -> DataFrame:
    """Pairwise Pearson correlation of daily returns.

    (reference: src/clickhouse/client.py:204-235 — CTE of lag-returns, J2
    self-join on trade_date, A5 ``corr`` grouped by the symbol pair.)

    The symbol cap is a deliberate cardinality guard kept from the
    reference (reference: src/clickhouse/client.py:207-209): the self-join
    produces |S|² × |dates| rows; at 100 TB an uncapped version must go
    through a pivoted matrix path instead, not a pair join.
    """
    if len(symbols) > max_symbols:
        symbols = sorted(symbols)[:max_symbols]
    df = price.filter(F.col("symbol").isin(symbols) & (F.col("close_price") > 0))
    if start_date:
        df = df.filter(F.col("trade_date") >= F.lit(start_date))
    if end_date:
        df = df.filter(F.col("trade_date") <= F.lit(end_date))
    w = Window.partitionBy("symbol").orderBy("trade_date")
    returns = (
        df.withColumn("prev_close", F.lag("close_price", 1).over(w))
        .filter(F.col("prev_close").isNotNull() & (F.col("prev_close") > 0))
        .select(
            "symbol", "trade_date",
            (F.col("close_price") / F.col("prev_close") - 1.0).alias("daily_return"),
        )
    )
    a = returns.alias("a")
    b = returns.alias("b")
    return (
        a.join(b, F.col("a.trade_date") == F.col("b.trade_date"))
        .filter(F.col("a.symbol") < F.col("b.symbol"))
        .groupBy(
            F.col("a.symbol").alias("symbol_a"),
            F.col("b.symbol").alias("symbol_b"),
        )
        # corr is rounded to 6 dp: its streaming co-moment accumulation is
        # float-order-dependent, so raw values differ in the last ulps
        # between engines/runs; n_days >= 3 drops degenerate pairs where
        # corr is NULL/NaN (engines disagree on 1-point correlations)
        .agg(
            F.round(F.corr("a.daily_return", "b.daily_return"), 6).alias("correlation"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .filter(F.col("n_days") >= 3)
    )


def backtest_universe(
    price: DataFrame,
    master: DataFrame,
    start_date: str,
    min_market_cap: float = 0.0,
) -> DataFrame:
    """Symbols listed on/before ``start_date`` whose turnover qualifies.

    (reference: src/clickhouse/client.py:152-177 — P9 null-tolerant
    survivorship predicate, J4 semi-join via IN-subquery, A8 distinct.)
    """
    eligible = master.filter(
        (F.col("is_active") == 1)
        & (F.col("listing_date").isNull() | (F.col("listing_date") <= F.lit(start_date)))
    )
    qualifying = (
        price.filter(
            (F.col("trade_date") == F.lit(start_date))
            & (F.col("close_price") * F.col("volume") > F.lit(min_market_cap))
        )
        .select("symbol")
        .distinct()
    )
    return (
        eligible.join(qualifying, "symbol", "left_semi")
        .select("symbol", "name", "market")
    )


def latest_prices(price: DataFrame, master: DataFrame) -> DataFrame:
    """Most recent price row per symbol, with dim attributes.

    Decorrelates the reference's correlated scalar subquery
    (reference: src/setup/setup_clickhouse.py:267-283 — J3) into a
    sort-free per-symbol argmax AGGREGATE (``max_by(col, trade_date)``)
    rather than a row_number window: an aggregate combines map-side, so
    the shuffle carries one partial row per (symbol, map partition)
    instead of every price row, and no per-partition sort exists. Ties
    on trade_date are impossible for the (symbol, trade_date)-keyed
    table, so max_by is deterministic here.
    """
    latest = price.groupBy("symbol").agg(
        F.max("trade_date").alias("trade_date"),
        F.max_by("close_price", "trade_date").alias("close_price"),
        F.max_by("volume", "trade_date").alias("volume"),
        F.max_by("amount", "trade_date").alias("amount"),
    )
    return latest.join(F.broadcast(master.select("symbol", "name", "market")), "symbol")


def daily_market_summary(price: DataFrame) -> DataFrame:
    """Whole-market daily rollup view.

    (reference: src/setup/setup_clickhouse.py:252-264 — A6.)
    """
    return (
        price.filter(F.col("close_price").isNotNull())
        .groupBy("trade_date")
        .agg(
            F.count("*").alias("stock_count"),
            exact_avg(F.col("close_price")).alias("avg_close"),
            F.sum("volume").alias("total_volume"),
            exact_sum(F.col("amount")).alias("total_amount"),
        )
    )


def stock_count_stats(master: DataFrame) -> DataFrame:
    """Active/delisted counts per market via conditional aggregation.

    (reference: src/clickhouse/stock_master.py:255-276 — A2 countIf.)
    """
    return (
        master.groupBy("market")
        .agg(
            F.count(F.when(F.col("is_active") == 1, 1)).alias("active_count"),
            F.count(F.when(F.col("is_active") == 0, 1)).alias("delisted_count"),
            F.count("*").alias("total_count"),
        )
    )


def delisted_report(master: DataFrame) -> DataFrame:
    """Delisting stats per market: count + date range, most-delisted first.

    (reference: scripts/sync_delisted_stocks.py:269-304 — A3.)
    """
    return (
        master.filter(F.col("is_active") == 0)
        .groupBy("market")
        .agg(
            F.count("*").alias("delisted_count"),
            F.min("delisting_date").alias("earliest_delisting"),
            F.max("delisting_date").alias("latest_delisting"),
        )
    )


def table_info(price: DataFrame) -> DataFrame:
    """Global fact-table stats: rows, date range, distinct symbols.

    (reference: src/clickhouse/price_client.py:174-183,286-341 — A4/S13.)
    """
    return price.agg(
        F.count("*").alias("row_count"),
        F.min("trade_date").alias("min_date"),
        F.max("trade_date").alias("max_date"),
        F.countDistinct("symbol").alias("symbol_count"),
    )


def get_all_symbols(master: DataFrame, active_only: bool = True) -> DataFrame:
    """Distinct symbol list — the helper the reference calls but never
    defined (reference: scripts/sync_new_listings.py:114, drift list in
    SURVEY §0)."""
    df = master
    if active_only:
        df = df.filter(F.col("is_active") == 1)
    return df.select("symbol").distinct()


def global_ntile(
    df: DataFrame,
    order_cols: list[Column],
    n: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(n) over a global total order WITHOUT a partition-less
    window (``Window.orderBy`` with no partition sorts every row in one
    task — the classic scale-killer).

    Range-partitioned rank pattern: ``repartitionByRange`` on the order
    columns makes every partition a contiguous slice of the total order;
    ``row_number`` then ranks locally inside each partition (distributed
    sort), and adding per-partition row-count offsets recovers the exact
    global row number. The per-partition counts are the only driver-side
    data — bounded by the partition count, never by the row count. The SQL
    NTILE sizing rule (first N mod n buckets take one extra row) is applied
    arithmetically, so the bucket assignment is bit-identical to
    ``NTILE(n) OVER (ORDER BY ...)`` in any engine.

    ``order_cols`` must define a TOTAL order (include a tiebreak key) or
    bucket assignment at boundaries is nondeterministic. Two passes over
    the input are avoided by local-checkpointing the range-partitioned
    frame; both the offsets branch and the ranking branch read the same
    materialized blocks.

    Fully LAZY (r12 optimization, guide §1.2): the per-partition offsets
    used to be a driver collect — one blocking job per call, so a query
    chaining three ntiles (e11) paid three extra job round-trips at plan
    BUILD time. The offsets (and the NTILE sizing terms q/r, derived from
    the total row count) now ride a tiny in-plan window over the
    per-partition counts frame (bounded by partition count, never row
    count) and come back via the same broadcast join that carried them
    before. Bucket arithmetic is the exact expression tree the literal
    version embedded, so assignments are bit-identical. (The lazy
    localCheckpoint still executes its shuffle stages when the plan is
    first walked under AQE; the saving is the per-call offsets
    collect job + driver createDataFrame, pinned as a strict job-count
    reduction in tests/test_r12_opt.py.)
    """
    sess = df.sparkSession
    p = num_partitions or sess.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(p, *order_cols).localCheckpoint(eager=False)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # offsets ride a broadcast join, not a create_map literal — a plan
    # literal sized by partition count would grow with cluster width
    # (see _global_rank_cumsum)
    # coalesce(1), not an Exchange SinglePartition: the counts frame is
    # bounded by the PARTITION count (never row count), and Coalesce's
    # single output partition already satisfies the global window's
    # required distribution, so no single-partition shuffle is planned —
    # the plan-quality gate's no-one-task-stage-over-data contract holds
    counts = with_pid.groupBy("_pid").agg(F.count("*").alias("_cnt")).coalesce(1)
    w_prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_cnt_off"),
        F.sum("_cnt").over(Window.partitionBy()).alias("_total"),
    ).select(
        "_pid",
        "_cnt_off",
        F.expr(f"_total div {int(n)}").alias("_q"),
        (F.col("_total") % int(n)).alias("_r"),
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    rn = F.row_number().over(w) + F.col("_cnt_off")
    # rows living in the (q+1)-sized leading buckets
    big = F.col("_r") * (F.col("_q") + 1)
    bucket = (
        # fewer rows than buckets: NTILE gives row i bucket i
        F.when(F.col("_q") == 0, rn)
        .when(rn <= big, F.ceil(rn / (F.col("_q") + 1)))
        .otherwise(F.col("_r") + F.ceil((rn - big) / F.col("_q")))
    )
    return (
        with_pid.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, bucket.cast("long"))
        .drop("_pid", "_cnt_off", "_q", "_r")
    )


def correlation_matrix_wide(
    price: DataFrame,
    symbols: list[str],
    start_date: str | None = None,
    end_date: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation via the pivoted-matrix path — the
    scale escape hatch :func:`correlation_matrix`'s 50-symbol cap promises.

    The pair-join form materializes |S|² × |dates| rows in the shuffle;
    this path pivots returns to one row per date (S columns), assembles
    them into vectors, and lets ``pyspark.ml.stat.Correlation`` compute the
    full Pearson matrix in one distributed pass over sufficient statistics
    (Gram-matrix accumulation; shuffle carries only partition-level S×S
    partials). Output is the same (symbol_a, symbol_b, correlation, n_days)
    pair shape, built from the S×S result — driver memory is O(S²) doubles,
    fine into the tens of thousands of symbols; beyond that store the
    matrix block-wise instead of exploding pairs.

    Semantics note: the matrix path uses COMPLETE dates only (rows where
    every symbol has a return) — listwise deletion — while the pair join
    uses pairwise-complete observations. On a complete panel the two are
    identical (asserted in tests); on ragged panels prefer the pair join
    below the cap.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    symbols = sorted(symbols)
    df = price.filter(F.col("symbol").isin(symbols) & (F.col("close_price") > 0))
    if start_date:
        df = df.filter(F.col("trade_date") >= F.lit(start_date))
    if end_date:
        df = df.filter(F.col("trade_date") <= F.lit(end_date))
    w = Window.partitionBy("symbol").orderBy("trade_date")
    returns = (
        df.withColumn("prev_close", F.lag("close_price", 1).over(w))
        .filter(F.col("prev_close").isNotNull() & (F.col("prev_close") > 0))
        .select(
            "symbol", "trade_date",
            (F.col("close_price") / F.col("prev_close") - 1.0).alias("daily_return"),
        )
    )
    wide = (
        returns.groupBy("trade_date")
        .pivot("symbol", symbols)  # explicit values: no discovery pass
        .agg(F.first("daily_return"))
        .dropna()
        .localCheckpoint(eager=True)  # count + corr fit share ONE pivot exec
    )
    n_days = wide.count()
    if n_days == 0:
        # no complete dates survive listwise deletion: Correlation.corr on
        # an empty frame head()s to None — return the empty pair frame
        return price.sparkSession.createDataFrame(
            [], "symbol_a string, symbol_b string, correlation double, n_days long"
        )
    assembled = VectorAssembler(inputCols=symbols, outputCol="_v").transform(wide)
    mat = Correlation.corr(assembled, "_v").head()[0].toArray()
    pairs = [
        (symbols[i], symbols[j], round(float(mat[i, j]), round_digits), n_days)
        for i in range(len(symbols))
        for j in range(i + 1, len(symbols))
    ]
    return price.sparkSession.createDataFrame(
        pairs, "symbol_a string, symbol_b string, correlation double, n_days long"
    ).orderBy("symbol_a", "symbol_b")


def missing_dates_stats(price: DataFrame) -> DataFrame:
    """Per-symbol coverage stats: first/last date, trading-day count, and
    the span's calendar-day count — the 'missing dates' intent of the
    stale check_stock_data statistics calls (reference:
    scripts/check_stock_data.py:82-90, drift list in SURVEY §0)."""
    return (
        price.groupBy("symbol")
        .agg(
            F.min("trade_date").alias("first_date"),
            F.max("trade_date").alias("last_date"),
            F.count("*").alias("day_count"),
        )
        .withColumn(
            "span_days", F.datediff(F.col("last_date"), F.col("first_date")) + 1
        )
    )


def sketch_rollup(
    df: DataFrame,
    group_col: str,
    partition_col: str,
    key_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count sketches: build one HLL sketch per
    (group, partition) — the shape you MATERIALIZE alongside each ingest
    partition — then answer the per-group distinct question by merging
    partials, never rescanning history.

    This is incremental view maintenance for COUNT(DISTINCT): the
    per-partition sketches are small (2^lg_k registers), commutative and
    idempotent to merge, so a new month means one new sketch plus a
    re-merge of ~#partitions sketches, not a full-table distinct. The
    result carries ``merge_consistent`` — the merged-partials estimate
    within 2% of the single-pass estimate. (Not exact equality: a
    single-pass sketch can stay in sparse representation while the union
    promotes to dense HLL_8, shifting the estimator by a fraction of a
    percent — observed 83-partition merge vs direct at 1000 true
    distincts differing by ~1.)
    Returns (group, n_partitions, merged_distinct, direct_distinct,
    merge_consistent).
    """
    partials = df.groupBy(group_col, partition_col).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("_sketch")
    )
    merged = partials.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.hll_sketch_estimate(F.hll_union_agg("_sketch")).cast("long").alias(
            "merged_distinct"
        ),
    )
    direct = df.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(key_col, F.lit(lg_k)))
        .cast("long")
        .alias("direct_distinct")
    )
    return merged.join(direct, group_col).withColumn(
        "merge_consistent",
        F.abs(
            F.col("merged_distinct") / F.col("direct_distinct").cast("double") - 1
        )
        < 0.02,
    )


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over a total order without a
    partition-less window — the same range-partitioned rank pattern as
    :func:`global_ntile` (contiguous range slices, local row_number,
    exact per-partition offsets; driver data bounded by partition
    count). ``order_cols`` must be a total order. Rank is 1-based.
    """
    return _global_rank_cumsum(df, order_cols, None, out_col, None, num_partitions)


def global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running SUM over a global total order without a
    partition-less window — the range-partitioned pattern of
    :func:`global_rank` applied to sums: contiguous range slices, local
    running sum, plus each partition's exact preceding-total offset
    (driver data bounded by the partition count).

    ``value_col`` must be an integer (BIGINT) column — fixed-point your
    doubles first (e.g. cents) so the partial sums are exact and the
    offsets engine-independent; a float version would reintroduce
    accumulation-order drift, the thing this helper exists to avoid.
    ``order_cols`` must be a total order.
    """
    return _global_rank_cumsum(
        df, order_cols, value_col, None, out_col, num_partitions
    )


def _global_rank_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str | None,
    rank_col: str | None,
    cumsum_col: str | None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Shared engine for global_rank/global_cumsum, and the fused form
    (both outputs from ONE range partitioning): a single
    repartitionByRange + checkpoint + one in-plan offsets pass carrying
    BOTH the per-partition row counts and value sums — callers that need
    rank AND running sum over the same order (Pareto analyses) pay one
    pass instead of two.

    In-plan offsets (r12 optimization, guide §1.2): the per-partition
    offsets used to be a driver collect — one blocking job per call at
    plan BUILD time. They now ride a tiny in-plan window over the
    per-partition counts/sums frame (bounded by partition count, never
    row count) and come back via the same broadcast join as before
    (same AQE-checkpoint caveat and job-count pin as global_ntile).
    A partition whose value sum is all-NULL contributes nothing to later
    offsets (window SUM skips NULLs), exactly as the old ``or 0`` did.
    """
    sess = df.sparkSession
    p = num_partitions or sess.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(p, *order_cols).localCheckpoint(eager=False)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    aggs = [F.count("*").alias("_cnt")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("_s"))
    # coalesce(1): see global_ntile — partition-count-bounded frame whose
    # single partition satisfies the offsets window without a
    # single-partition shuffle
    counts = with_pid.groupBy("_pid").agg(*aggs).coalesce(1)
    # per-partition offsets travel as a BROADCAST-joined frame, not a
    # create_map literal: a plan literal sized by partition count is fine
    # at local parallelism but becomes a 200k-element expression on a
    # 100k-partition cluster run; the broadcast join stays O(partitions)
    # off the plan and adds no shuffle (pid side is tiny)
    w_prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_cnt_off"),
        (
            F.coalesce(F.sum("_s").over(w_prev), F.lit(0)).cast("long")
            if value_col is not None
            else F.lit(0).cast("long")
        ).alias("_sum_off"),
    )
    out = with_pid.join(F.broadcast(offs), "_pid")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    if rank_col:
        out = out.withColumn(
            rank_col, (F.row_number().over(w) + F.col("_cnt_off")).cast("long")
        )
    if cumsum_col:
        run = F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
        out = out.withColumn(cumsum_col, (run + F.col("_sum_off")).cast("long"))
    return out.drop("_pid", "_cnt_off", "_sum_off")


def global_rank_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    rank_col: str = "rank",
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fused exact global ROW_NUMBER + running SUM over one total order —
    one range partitioning, one checkpoint, one driver collect (see
    :func:`_global_rank_cumsum`). ``value_col`` must be BIGINT
    (fixed-point doubles first)."""
    return _global_rank_cumsum(
        df, order_cols, value_col, rank_col, cumsum_col, num_partitions
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 10,
    capacity: int = 64,
) -> DataFrame:
    """Approximate heavy hitters via MERGEABLE Misra-Gries summaries —
    the bounded-memory answer to "top items" when the item domain is too
    large to aggregate exactly (URLs, tokens, user agents at 100 TB).

    Each input partition maintains one Misra-Gries summary of
    ``capacity`` counters in a single Arrow pass (the ``mapInPandas``
    iterator spans the whole partition, so state carries across
    batches); summaries then merge by a plain map-combined SUM per item
    — the MG merge theorem: summing per-partition counters preserves
    the deficit bound, and the total decrement weight (emitted as one
    audit row per partition under a NULL item) bounds every count's
    underestimate. An item with true frequency > total_decrements is
    GUARANTEED present; stored counts are lower bounds.

    Shuffle budget: at most ``capacity + 1`` rows per partition reach
    the merge — the sketch, never the stream. Returns the top ``k`` by
    merged lower-bound count: (item, count_lower, error_bound,
    guaranteed) with ties broken on item.
    """
    import pandas as pd

    def mg_partition(batches):
        counters: dict = {}
        decrements = 0
        for pdf in batches:
            for v in pdf[item_col]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < capacity:
                    counters[v] = 1
                else:
                    # decrement-all step: one unit off every counter
                    decrements += 1
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        rows = [(str(item), int(c)) for item, c in counters.items()]
        rows.append((None, int(decrements)))  # audit row: deficit weight
        yield pd.DataFrame(rows, columns=["item", "w"])

    summaries = df.select(F.col(item_col).cast("string").alias(item_col)).mapInPandas(
        mg_partition, f"item string, w long"
    )
    merged = summaries.groupBy("item").agg(F.sum("w").alias("w"))
    # total decrements across partitions: every decrement removed one
    # unit from capacity counters AND one unseen arrival, so any count
    # is underestimated by at most this total
    err = merged.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("w"), F.lit(0)).alias("error_bound")
    )
    return (
        merged.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(err))
        .select(
            F.col("item"),
            F.col("w").alias("count_lower"),
            F.col("error_bound"),
            (F.col("w") > F.col("error_bound")).alias("guaranteed"),
        )
        .orderBy(F.desc("count_lower"), F.col("item"))
        .limit(k)
    )


def monthly_cents_totals(
    price: DataFrame,
    keys: list[str],
    amount_col: str = "amount",
    date_col: str = "trade_date",
) -> DataFrame:
    """Aggregate-first monthly turnover totals in exact integer cents —
    the shared scaffold of the monthly concentration/share queries
    (a19, a27; r9 verdict #6 extraction). One map-combined aggregate to
    (*keys, month); everything downstream works on the shrunk frame.
    Returns (*keys, month, cents)."""
    return price.groupBy(
        *keys, F.date_format(date_col, "yyyy-MM").alias("month")
    ).agg(F.sum(F.round(F.col(amount_col) * 100).cast("long")).alias("cents"))


def fixed_point_hhi(
    df: DataFrame, part_col: str, cents_col: str = "cents"
) -> DataFrame:
    """Herfindahl-Hirschman concentration per ``part_col`` over exact
    integer ``cents_col`` totals, with each squared share fixed-pointed
    to 1e-12 before summing so the index is engine-identical (the
    a14/a27 arithmetic, extracted per r9 verdict #6). The share window
    partitions on ``part_col`` over the POST-aggregation frame — bounded
    by the universe per partition value, never the fact table.
    Returns (part_col, n_symbols, hhi)."""
    w = Window.partitionBy(part_col)
    share = F.col(cents_col) / F.sum(cents_col).over(w)
    return (
        df.select(
            part_col, F.round(share * share * 1e12).cast("long").alias("_s2")
        )
        .groupBy(part_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_symbols"),
            (F.sum("_s2") / 1e12).alias("hhi"),
        )
    )


def deterministic_heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 16,  # = default capacity * shards (the structural maximum)
    capacity: int = 8,
    shards: int = 2,
) -> DataFrame:
    """Weighted Misra-Gries in its deterministic RE-AGGREGATION form:
    exact map-combined counts per item first, md5-sharded, then one
    weighted-MG fold per shard over the canonical (count DESC, item)
    order — insert each item with its full count; on overflow subtract
    the minimum counter from all (one round suffices: the minimum dies)
    and add it to the shard's deficit. Global error_bound = sum of
    shard deficits; an item with count_lower > error_bound is GUARANTEED
    a true heavy hitter.

    Engine-exact by construction (r10 conversion, the r9 md5/fixed-point
    recipe): shard assignment is an md5-prefix integer mod ``shards``
    (cross-engine stable, unlike Murmur), the fold order is a total
    order, and all arithmetic is integer — so a DuckDB recursive CTE
    replays the folds verbatim and the apx4 oracle hash-gates it.

    Scale split vs :func:`heavy_hitters` (the streaming sketch): this
    form's fold input is the COUNTS frame (vocab-sized, not the
    stream), grouped per shard through ``applyInPandas`` — right when
    you can afford one exact aggregation and need an auditable,
    reproducible summary. The single-pass, partitioning-dependent
    sketch remains the 100 TB hot path.

    ``k`` may not exceed ``capacity * shards`` — the folds keep at most
    ``capacity`` survivors per shard, so a larger ``k`` would silently
    return fewer rows than requested (r10 advice: enforce the contract
    where it lives).
    """
    import pandas as pd

    if k > capacity * shards:
        raise ValueError(
            f"k={k} exceeds the structural maximum capacity*shards="
            f"{capacity * shards}; raise capacity/shards or lower k"
        )

    counts = (
        df.filter(F.col(item_col).isNotNull())
        .select(F.col(item_col).cast("string").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "shard",
            (
                F.conv(F.substring(F.md5(F.col("item").cast("binary")), 1, 7), 16, 10)
                .cast("long")
                % shards
            ).cast("int"),
        )
    )

    def mg_fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ctr: dict = {}
        deficit = 0
        ordered = pdf.sort_values(["c", "item"], ascending=[False, True])
        for item, c in zip(ordered["item"], ordered["c"]):
            ctr[item] = ctr.get(item, 0) + int(c)
            if len(ctr) > capacity:
                m = min(ctr.values())
                ctr = {t: v - m for t, v in ctr.items() if v - m > 0}
                deficit += m
        rows = [(t, int(v)) for t, v in ctr.items()]
        rows.append((None, int(deficit)))  # audit row: shard deficit
        return pd.DataFrame(rows, columns=["item", "w"])

    # two consumers (error-bound aggregate + the main select) — stage
    # the tiny summary frame once, don't re-run the corpus count + folds
    summaries = counts.groupBy("shard").applyInPandas(
        lambda _key, pdf: mg_fold(pdf), "item string, w long"
    ).localCheckpoint(eager=False)
    err = summaries.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("error_bound")
    )
    return (
        summaries.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(err))
        .select(
            F.col("item"),
            F.col("w").alias("count_lower"),
            F.col("error_bound"),
            (F.col("w") > F.col("error_bound")).alias("guaranteed"),
        )
        .orderBy(F.desc("count_lower"), F.col("item"))
        .limit(k)
    )


def listing_flows(master: DataFrame) -> DataFrame:
    """Monthly listing/delisting flow counts from the symbol master —
    the market-entry/exit series the reference's KRX sync pipelines
    feed (new listings in, delistings out). Two pruned aggregates
    unioned by month; pure date bucketing, exact counts.
    Returns (month, n_listed, n_delisted)."""
    listed = (
        master.filter(F.col("listing_date").isNotNull())
        .groupBy(F.date_format("listing_date", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_listed"))
        .withColumn("n_delisted", F.lit(0).cast("long"))
    )
    delisted = (
        master.filter(F.col("delisting_date").isNotNull())
        .groupBy(F.date_format("delisting_date", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_delisted"))
        .withColumn("n_listed", F.lit(0).cast("long"))
    )
    return (
        listed.unionByName(delisted)
        .groupBy("month")
        .agg(
            F.sum("n_listed").cast("long").alias("n_listed"),
            F.sum("n_delisted").cast("long").alias("n_delisted"),
        )
    )


def return_rates(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Return/refund analytics per brand: the share of order lines
    returned (l_returnflag = 'R') and the share of DISCOUNTED REVENUE
    those returns represent (high-ticket returns hurt more than many
    cheap ones). Broadcast dim join + one brand aggregate; both rates
    are divisions of exact BIGINTs (cents fixed-point for revenue),
    IEEE-identical with no rounding.
    Returns (brand, n_lines, n_returned, line_return_rate,
    revenue_return_rate)."""
    p = part.select("p_partkey", F.col("p_brand").alias("brand"))
    r = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = lineitem.join(F.broadcast(p), lineitem.l_partkey == p.p_partkey).select(
        "brand", r.alias("_r"), cents.alias("_c")
    )
    return j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("_r").cast("long").alias("n_returned"),
        (F.sum("_r") * 1.0 / F.count(F.lit(1))).alias("line_return_rate"),
        (
            F.sum(F.when(F.col("_r") == 1, F.col("_c")).otherwise(0))
            * 1.0
            / F.sum("_c")
        ).alias("revenue_return_rate"),
    )


def margin_health(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Pricing-health audit per part type: the share of order lines
    sold below the part's retail price and the average realized markup
    (unit price / retail - 1) — the discounting-discipline view.
    Broadcast dim join + one type-key aggregate; the below-retail
    comparison is between identically-derived doubles, per-line markups
    are 1e-6 fixed-point BIGINTs before the average, and the share is
    an exact int/int division.
    Returns (part_type, n_lines, n_below_retail, below_retail_share,
    avg_markup)."""
    li = lineitem.filter(F.col("l_quantity") > 0)
    p = part.filter(F.col("p_retailprice") > 0).select(
        "p_partkey", F.col("p_type").alias("part_type"), "p_retailprice"
    )
    up = F.col("l_extendedprice") / F.col("l_quantity")
    below = F.when(up < F.col("p_retailprice"), 1).otherwise(0)
    mk6 = F.round((up / F.col("p_retailprice") - 1.0) * 1e6).cast("long")
    m = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "part_type", below.alias("_b"), mk6.alias("_m")
    )
    return m.groupBy("part_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("_b").cast("long").alias("n_below_retail"),
        (F.sum("_b") * 1.0 / F.count(F.lit(1))).alias("below_retail_share"),
        ((F.sum("_m") / 1e6) / F.count(F.lit(1))).alias("avg_markup"),
    )


def sourcing_entropy(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """Supply-chain diversification per market segment: each customer's
    Shannon entropy over the supplier-NATION mix of their discounted
    revenue (0 = single-sourced, ln(|nations|) = perfectly spread),
    averaged per segment. Four-way join where only lineitem⋈orders is
    large (co-keyed shuffle equi-join); supplier→nation broadcasts.
    Revenue is cent-fixed-pointed before the (customer, nation) sum;
    per-customer entropies (sums of ≤|nations| p*ln p terms) are
    fixed-pointed to 1e-6 BIGINTs before the segment average (the
    a14/ts26 engine-exactness idiom).
    Returns (segment, n_customers, avg_sourcing_entropy)."""
    o = orders.select("o_orderkey", "o_custkey")
    sup = supplier.select("s_suppkey", "s_nationkey")
    nat = nation.select("n_nationkey", "n_name")
    cust = customer.select("c_custkey", "c_mktsegment")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        lineitem.join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), lineitem.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("n_name"))
        .agg(F.sum(cents).alias("_c"))
    )
    w = Window.partitionBy("cust")
    p = F.col("_c") * 1.0 / F.sum("_c").over(w)
    ent = (
        rev.select("cust", (-p * F.log(p)).alias("_term"))
        .groupBy("cust")
        .agg(F.round(F.sum("_term") * 1e6).cast("long").alias("_e6"))
    )
    return (
        ent.join(cust, ent.cust == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            ((F.sum("_e6") / 1e6) / F.count(F.lit(1))).alias(
                "avg_sourcing_entropy"
            ),
        )
    )


def oof_target_mean(
    assigned: DataFrame,
    category_col: str = "category",
    cents_col: str = "cents",
    fold_col: str = "fold",
) -> DataFrame:
    """K-fold out-of-fold target encoding table from a pre-fold-assigned
    frame (category, cents, fold): for each (category, fold), the
    target mean computed over the OTHER folds — the leakage guard at
    the granularity CV training actually joins on. Money sums are exact
    cents; the out-of-fold subtraction runs on the tiny
    (category, fold) frame, so the only data-scale pass is one
    map-side-combined aggregate. A category whose rows ALL land in one
    fold has no out-of-fold data: the CASE guard yields NULL there
    (ANSI Spark would otherwise raise DIVIDE_BY_ZERO). The 6-decimal
    rounding runs in exact INTEGER micro-dollars — round(a/b/100, 6) =
    ((a*20000 + b) DIV (2*b))/1e6 with a = out-of-fold cents (>= 0:
    prices are positive) and b = out-of-fold rows; double ROUND(x, 6)
    above ~1e10 is engine-divergent. Precondition: total corpus cents
    * 2e4 fits BIGINT, i.e. < ~4.6e14 dollars of turnover.
    Returns (category, fold, n_in_fold, oof_target_mean)."""
    f = assigned.groupBy(category_col, fold_col).agg(
        F.sum(cents_col).cast("long").alias("fc"),
        F.count(F.lit(1)).cast("long").alias("fn"),
    )
    wcat = Window.partitionBy(category_col)
    return f.select(
        F.col(category_col).alias("category"),
        F.col(fold_col).alias("fold"),
        F.col("fn").alias("n_in_fold"),
        (F.sum("fc").over(wcat) - F.col("fc")).alias("_a"),
        (F.sum("fn").over(wcat) - F.col("fn")).alias("_d"),
    ).select(
        "category",
        "fold",
        "n_in_fold",
        F.expr(
            "CASE WHEN _d <> 0 THEN"
            " CAST((_a * 20000 + _d) DIV (2 * _d) AS DOUBLE) / 1000000.0"
            " END"
        ).alias("oof_target_mean"),
    )


def new_vs_repeat_revenue(orders: DataFrame) -> DataFrame:
    """New-vs-repeat revenue split per month: an order counts as 'new
    customer' while its customer is in their FIRST order month — the
    acquisition-vs-retention revenue mix every commerce dashboard leads
    with. ONE orders walk (r13 walk census; the old min-aggregate
    re-joined co-keyed to orders walked the table twice): orders
    map-combine to per-(custkey, month) order counts and cent sums
    FIRST (guide §2.3 — the shuffle carries one row per customer-month,
    not one per order), the customer's first month is a MIN window over
    the custkey partition of that tiny frame (guide §2.4; "yyyy-MM"
    strings order chronologically, so min month string == month of min
    date, NULL months skipped by MIN exactly like the old min(date)
    aggregate), then the month rollup sums the group sums — long
    arithmetic throughout, so totals are bit-identical to the per-row
    fold. Orders with a NULL custkey are dropped before the window, as
    the old inner join (and the oracle's) dropped them; the window would
    otherwise pool them into one pseudo-customer. Returns (month,
    n_orders, n_new_customer_orders, new_customer_revenue,
    new_revenue_share)."""
    mo = F.date_format("o_orderdate", "yyyy-MM")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keyed = orders.filter(F.col("o_custkey").isNotNull())
    per_cm = keyed.groupBy(F.col("o_custkey"), mo.alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(cents).alias("_c"),
    )
    first_mo = F.min("month").over(Window.partitionBy("o_custkey"))
    tagged = per_cm.select(
        "month",
        F.when(F.col("month") == first_mo, 1).otherwise(0).alias("_new"),
        "_n",
        "_c",
    )
    new_cents = F.sum(F.when(F.col("_new") == 1, F.col("_c")).otherwise(0))
    return tagged.groupBy("month").agg(
        F.sum("_n").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("_new") == 1, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_new_customer_orders"),
        (new_cents / 100.0).alias("new_customer_revenue"),
        (new_cents * 1.0 / F.sum("_c")).alias("new_revenue_share"),
    )


def order_price_reconciliation(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Cross-table money reconciliation: does orders.o_totalprice equal
    the sum of its lineitems' extended charge? Reports, per order
    status, how many orders reconcile within one cent, how many
    disagree, and the total absolute drift — the invariant audit a
    warehouse runs after every load (the TPC-H totalprice identity).

    The lineitem side map-side-combines to one row per orderkey before
    the join, so the join input is order-cardinality, not
    lineitem-cardinality; at 100 TB both sides hash-partition on the
    orderkey (co-partitioned if the tables are bucketed on it) and the
    final status rollup is a 3-row aggregate. All money stays DECIMAL
    end to end — each factor is cast to decimal BEFORE multiplying (the
    sources are generated at <=2/4 dp, so the double->decimal rounding
    is far from any tie on both engines, and the product/sum stay exact
    decimal; casting the double PRODUCT instead leaves ulp-ties that
    drift the corpus total by parts in 1e8 between engines); the output
    total is cast to DOUBLE only for display.
    Returns (order_status, n_orders, n_childless, n_reconciled,
    n_mismatched, total_abs_diff)."""
    # guide §2.5 input under-split: a single-row-group lineitem scans as
    # ONE task, serializing the per-order decimal partial agg; a hash
    # exchange on the grouping key spreads it and is REUSED by the
    # groupBy (same key), so the exchange count is unchanged. No-op on
    # many-partition inputs; decimal sums are accumulation-order-free.
    computed = ensure_parallelism(lineitem, "l_orderkey").groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount")).cast("decimal(8,4)")
            * (1 + F.col("l_tax")).cast("decimal(8,4)")
        )
        .cast("decimal(18,2)")
        .alias("computed")
    )
    j = orders.join(computed, orders.o_orderkey == computed.l_orderkey, "left")
    diff = F.col("o_totalprice").cast("decimal(18,2)") - F.col("computed")
    has = F.col("computed").isNotNull()
    return j.groupBy(F.col("o_orderstatus").alias("order_status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(~has, 1).otherwise(0)).cast("long").alias("n_childless"),
        F.sum(F.when(has & (F.abs(diff) <= 0.01), 1).otherwise(0))
        .cast("long")
        .alias("n_reconciled"),
        F.sum(F.when(has & (F.abs(diff) > 0.01), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatched"),
        F.sum(
            F.when(has, F.abs(diff)).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("total_abs_diff"),
    )
