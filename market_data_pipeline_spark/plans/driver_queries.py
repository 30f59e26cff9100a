"""The query registry: ``QUERIES``, ``ORACLES``, the ``query`` decorator,
and the derived frames the subject modules share.

The registered queries map every operator family of SURVEY §2 (and the
§7 Phase-6 extensions) onto the TPC-H-ish driver tables (FIXTURES.md
§B): ``lineitem`` plays the ``stock_price`` fact role through a derived
per-(symbol, day) price series, ``part`` plays ``stock_master``,
``events``/``documents``/``embeddings`` drive the event-window / dedup /
text / similarity operators. They live in subject modules under
``plans/`` (market, timeseries, events, corpus, similarity, relational,
ingest, tpch); each registers its queries here when it is imported, and
the imports at the end of this module make ``QUERIES`` complete.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable registered with a
matching DuckDB oracle SQL string (where SQL-expressible). Determinism
rules that make the hash-compare meaningful:

- money sums/avgs accumulate in DECIMAL(18,2) on both sides (float sums
  are partition-order-dependent);
- ratio/return arithmetic uses the same IEEE expression tree on both
  sides (deterministic per-row, no accumulation);
- corr and cosine are rounded (6 dp) because their accumulation order is
  engine-internal;
- every top-k has a total order (explicit tiebreak columns);
- integer-ish computed columns are BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup
from market_data_pipeline_spark.operators.analytics import exact_avg, exact_sum
from market_data_pipeline_spark.operators.util import ensure_parallelism
from market_data_pipeline_spark.sources.catalog import load_table, staged_frame


# ---------------------------------------------------------------------------
# Derived frames: the stock-domain mapping over driver tables
# ---------------------------------------------------------------------------


def price_frame(
    spark: SparkSession, sf_dir: str, symbols: list[str] | None = None
) -> DataFrame:
    """Per-(symbol, trading day) series derived from lineitem:
    symbol = partkey, close = max extended price, volume = total quantity,
    amount = total extended price. Mirrors the stock_price fact shape
    (reference: src/clickhouse/price_client.py:78-96).

    ``symbols`` filters BEFORE the aggregation on the raw bigint key:
    a post-agg filter on ``cast(l_partkey as string)`` passes through the
    groupBy but the cast blocks parquet predicate pushdown, so the scan
    reads every row group; ``l_partkey IN (...)`` reaches the footer stats
    — at 100 TB that is the difference between scanning the table and
    scanning the few row groups holding those keys.

    The FULL-universe frame (symbols=None) is staged behind a lazy
    localCheckpoint — the returns_frame pattern (r9, measured 2x)
    extended to its upstream (r10): ~54 registry queries derive from
    this exact stage, and re-running the lineitem scan + (symbol, day)
    aggregation per query is recompute, not measurement. This is the
    "stage the derived fact once" shape; on a cluster the same role is
    played by materializing the price fact as a table
    (storage/table.py). Symbol-FILTERED calls are not checkpointed on
    purpose: at 100 TB you want the pushed-down key scan, not a
    materialization of the whole universe — but their PLAN (which
    embeds the pushed-down IN-list) is memoized per symbols list since
    r12: dozens of ts/a queries rebuild byte-identical filtered
    aggregations, ~0.1s of py4j/analysis each, and a shared lazy plan
    object re-executes the same pushed scan every time (no data cached).

    Both memos go through :func:`staged_frame` with the current
    lineitem relation as input, so a rewritten lineitem is re-staged on
    the next call; nothing needs clearing."""
    li = load_table(spark, sf_dir, "lineitem")
    if symbols is not None:
        return staged_frame(
            spark, sf_dir, "price_symbols", (li,),
            lambda li: _price_agg(li, symbols), args=tuple(symbols),
        )
    return staged_frame(
        spark, sf_dir, "price", (li,), lambda li: _price_agg(li, None),
        checkpoint=True,
    )


def _price_agg(li: DataFrame, symbols: list[str] | None) -> DataFrame:
    """The raw declarative price aggregation over ``lineitem`` — what
    price_frame stages. Kept separate so the plan-quality tests can
    assert the UNCACHED shape (key pushdown reaching the parquet footer,
    4-column pruning) independently of the memo."""
    if symbols is not None:
        li = li.filter(F.col("l_partkey").isin([int(s) for s in symbols]))
    else:
        # full-universe staging only (guide §2.5 input under-split): the
        # single-row-group testdata scans as ONE task, serializing the
        # (symbol, day) decimal partial agg that price_frame
        # materializes; one hash exchange spreads it (measured 2.67 ->
        # 1.15 s interleaved at sf0.1) and no-ops on multi-partition
        # inputs. The FILTERED path keeps the bare pushed-key scan —
        # a handful of post-scan rows gains nothing from an exchange.
        # All three aggregates are max/decimal (accumulation-order-free).

        li = ensure_parallelism(li, "l_partkey")
    return li.groupBy(
        F.col("l_partkey").cast("string").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
    ).agg(
        F.max("l_extendedprice").alias("close_price"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("long").alias("volume"),
        exact_sum(F.col("l_extendedprice")).alias("amount"),
    )


def returns_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged per-symbol 1-day-return frame: ``price_frame`` (non-null
    closes) plus ``ret`` = close/prev_close - 1 over the per-series lag
    window, behind a lazy localCheckpoint.

    a12 / ts25 / ts26 are all full-universe passes over this exact
    stage; without the memo each re-runs the lineitem scan, the price
    aggregation, and (for a12/ts26) the same lag window. The checkpoint
    materializes once on first action and later queries read its blocks
    (the ``_symbol_totals``-reuse pattern r9 measured at 2x). Its input
    is the staged price frame itself, so a lineitem rewrite, which
    re-stages that frame, re-stages this one too."""

    def build(price: DataFrame) -> DataFrame:
        p = price.filter(F.col("close_price").isNotNull())
        w = Window.partitionBy("symbol").orderBy("trade_date")
        return p.withColumn(
            "ret", F.col("close_price") / F.lag("close_price").over(w) - 1
        )

    return staged_frame(
        spark, sf_dir, "returns", (price_frame(spark, sf_dir),), build,
        checkpoint=True,
    )


def index_returns_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-weight market index daily-return series: one groupBy over
    the staged price frame (decimal-exact average close per date), then
    the 1-day return over a single-partition lag window — fine because
    the aggregate has already shrunk the frame to |dates| rows. The
    CAPM-style conditioning series shared by ts13 (beta), ts51
    (downside beta) and friends; callers broadcast it into the
    per-symbol return join. Extracted r11 (registry hygiene)."""
    price = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    idx = price.groupBy("trade_date").agg(
        exact_avg(F.col("close_price")).alias("idx_close")
    )
    iw = Window.orderBy("trade_date")
    return idx.select(
        "trade_date",
        (F.col("idx_close") / F.lag("idx_close").over(iw) - 1.0).alias("mkt_ret"),
    )


PRICE_CTE = """
price AS (
  SELECT CAST(l_partkey AS VARCHAR) AS symbol,
         CAST(l_shipdate AS DATE)   AS trade_date,
         MAX(l_extendedprice)       AS close_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT)      AS volume,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
  FROM lineitem
  GROUP BY 1, 2
)"""


def master_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol dimension derived from part, with deterministic
    listing/delisting attributes mirroring stock_master
    (reference: src/clickhouse/stock_master.py:18-30; invariant
    is_active=0 <=> delisting_date set, FIXTURES.md A1).

    The PLAN is memoized against the current part relation — 20
    registry queries (x2 bench reps) rebuild this byte-identical dim
    projection; the memo holds the lazy plan only (no checkpoint, no
    data): execution and column pruning behave exactly as a fresh build
    (r12, guide §1.2)."""
    p = load_table(spark, sf_dir, "part")
    return staged_frame(spark, sf_dir, "master", (p,), _master_projection)


def _master_projection(p: DataFrame) -> DataFrame:
    pk = F.col("p_partkey")
    return p.select(
        pk.cast("string").alias("symbol"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("market"),
        F.when(pk % 5 == 0, F.lit(None).cast("date"))
        .otherwise(F.date_add(F.to_date(F.lit("1994-01-01")), (pk % 1000).cast("int")))
        .alias("listing_date"),
        F.when(pk % 10 == 0, F.date_add(F.to_date(F.lit("1999-06-30")), (pk % 300).cast("int")))
        .otherwise(F.lit(None).cast("date"))
        .alias("delisting_date"),
        F.when(pk % 10 == 0, F.lit(0)).otherwise(F.lit(1)).cast("int").alias("is_active"),
    )


MASTER_CTE = """
master AS (
  SELECT CAST(p_partkey AS VARCHAR) AS symbol,
         p_name  AS name,
         p_brand AS market,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              ELSE DATE '1994-01-01' + CAST(p_partkey % 1000 AS INTEGER) END AS listing_date,
         CASE WHEN p_partkey % 10 = 0 THEN DATE '1999-06-30' + CAST(p_partkey % 300 AS INTEGER)
              ELSE NULL END AS delisting_date,
         CASE WHEN p_partkey % 10 = 0 THEN 0 ELSE 1 END AS is_active
  FROM part
)"""


def market_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level daily close series (dense enough for correlations)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("symbol"),
            F.to_date("l_shipdate").alias("trade_date"),
        )
        .agg(F.max("l_extendedprice").alias("close_price"))
    )


MARKET_SERIES_CTE = """
mseries AS (
  SELECT p.p_brand AS symbol,
         CAST(l.l_shipdate AS DATE) AS trade_date,
         MAX(l.l_extendedprice) AS close_price
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)"""


def _ts_series(spark, sf_dir):
    """Shared ts-family input: the RETURN_SYMBOLS price series with the
    fixed date/null filters. The PLAN is memoized against the filtered
    price plan it extends — 13 ts queries (x2 bench reps) build this
    byte-identical subtree, ~0.1s of py4j/analysis each (r12 build
    census). Unlike price_frame's staged full-universe frame this memo
    holds NO checkpoint: the cached object is the lazy pushed-down plan
    (symbol keys still reach the parquet footer), so execution re-scans
    parquet every time — only the plan-BUILD cost is shared."""

    def build(price: DataFrame) -> DataFrame:
        return price.filter(
            F.col("close_price").isNotNull()
            & (F.col("trade_date") >= "1996-01-01")
            & (F.col("trade_date") <= "1998-12-31")
        ).select("symbol", "trade_date", "close_price")

    price = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
    return staged_frame(spark, sf_dir, "ts_series", (price,), build)


def _symbol_totals(spark, sf_dir):
    """Decimal-exact total traded amount per (market, symbol), shared by
    the market and ranking queries; ``_TOTALS_CTE`` is its oracle twin."""
    p = price_frame(spark, sf_dir)
    m = master_frame(spark, sf_dir)
    return (
        p.join(F.broadcast(m.select("symbol", "market")), "symbol")
        .groupBy("market", "symbol")
        .agg(
            exact_sum(F.col("amount")).alias("total_amount")
        )
    )


_TOTALS_CTE = f"""totals AS (
  SELECT m.market AS market, p.symbol AS symbol,
         CAST(SUM(CAST(p.amount AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
  FROM price p JOIN master m USING (symbol)
  GROUP BY 1, 2
)"""


# Events flagged ns = 1 where a user's session starts (the first event, or
# one more than 30 minutes after the previous): the oracles' session split.
SESSION_CTE = """g AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)"""


def _dd3_perms_values() -> str:
    """The dd3 oracle's inline universal-hash parameters — generated by
    the SAME ``dedup._minhash_params(64, 42)`` call the Spark operator
    uses, so the two sides cannot drift."""
    return ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup._minhash_params(64, 42))
    )


# Fixed query parameters (chosen to have data at every scale factor).
SUMMARY_DATE = "1998-06-05"
STOCK_SYMBOLS = ["7", "42", "101", "157"]
RETURN_SYMBOLS = ["3", "7", "21", "42", "101"]
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
UNIVERSE_DATE = "1997-06-02"
# The symbol lists as SQL IN-list literals, for the oracles.
_RET_IN = ",".join(f"'{s}'" for s in RETURN_SYMBOLS)
_STOCK_IN = ",".join(f"'{s}'" for s in STOCK_SYMBOLS)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query under ``name``, with its DuckDB oracle SQL
    if it has one. ``QUERIES[name]`` is the function itself.

    A registered query returns its rows in no defined order: a closing
    presentation sort would cost a range exchange per call and every
    consumer here compares results as multisets. Sorts that feed a limit,
    a window or a rank stay where they are. A caller that prints, limits
    or indexes rows sorts them itself."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Importing a subject module registers its queries. These imports come
# last because each module imports ``query`` and the frames above.
from market_data_pipeline_spark.plans import (  # noqa: E402,F401
    market,
    timeseries,
    events,
    corpus,
    similarity,
    relational,
    ingest,
    tpch,
)
