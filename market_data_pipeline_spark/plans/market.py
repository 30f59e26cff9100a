"""Market and KRX-reference queries over the derived price/master frames.

The reference's own query set (per-market summaries, top performers,
returns, latest prices, the delisted report), the fact⋈dim joins, set
operations and validation chains, the feature-export compositions
(``f*``/``fx*``), change-data-capture and SCD-2 views (``cdc*``), and the
market-breadth and concentration analytics. Prefixes: a, w, j, o, u, s,
p, f, fx, cdc.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions import normalize as N
from market_data_pipeline_spark.functions.normalize import month_bucket
from market_data_pipeline_spark.operators import (
    analytics,
    bloom,
    incremental as ivm,
    text as tx,
    timeseries as tseries,
    upsert,
    validate as val,
)
from market_data_pipeline_spark.operators.analytics import (
    fixed_point_hhi,
    monthly_cents_totals,
)
from market_data_pipeline_spark.operators.rangejoin import banded_range_join
from market_data_pipeline_spark.operators.setops import bag_difference, union_relaxed
from market_data_pipeline_spark.operators.skew import salted_join
from market_data_pipeline_spark.plans.driver_queries import (
    _RET_IN,
    _TOTALS_CTE,
    BRANDS,
    MARKET_SERIES_CTE,
    MASTER_CTE,
    PRICE_CTE,
    RETURN_SYMBOLS,
    STOCK_SYMBOLS,
    SUMMARY_DATE,
    UNIVERSE_DATE,
    _symbol_totals,
    _ts_series,
    market_series,
    master_frame,
    price_frame,
    query,
    returns_frame,
)
from market_data_pipeline_spark.sources.catalog import load_table


# --- A1/J1: per-market one-day summary -------------------------------------


@query(
    "a1_market_summary",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}
SELECT m.market AS market,
       COUNT(*) AS stock_count,
       CAST(SUM(CAST(p.close_price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(p.close_price)
           AS avg_close_price,
       CAST(SUM(p.volume) AS BIGINT) AS total_volume,
       CAST(SUM(CAST(p.amount AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
FROM price p JOIN master m USING (symbol)
WHERE p.trade_date = DATE '{SUMMARY_DATE}' AND p.close_price > 0
GROUP BY 1""",
)
def a1_market_summary(spark, sf_dir):
    return analytics.market_summary(
        price_frame(spark, sf_dir), master_frame(spark, sf_dir), SUMMARY_DATE
    )


# --- W1/W3/O1: top day-over-day gainers ------------------------------------


@query(
    "w1_top_performers",
    f"""WITH {PRICE_CTE}, {MASTER_CTE},
lagged AS (
  SELECT symbol, trade_date, close_price, volume,
         lag(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close
  FROM price
  WHERE close_price IS NOT NULL AND close_price > 0
)
SELECT l.symbol AS symbol, m.name AS name, m.market AS market,
       l.close_price AS close_price, l.prev_close AS prev_close,
       (l.close_price - l.prev_close) / l.prev_close * 100.0 AS change_pct,
       l.volume AS volume
FROM lagged l JOIN master m USING (symbol)
WHERE l.trade_date = DATE '{SUMMARY_DATE}' AND l.prev_close > 0
ORDER BY change_pct DESC, symbol
LIMIT 20""",
)
def w1_top_performers(spark, sf_dir):
    return analytics.top_performers(
        price_frame(spark, sf_dir), master_frame(spark, sf_dir), SUMMARY_DATE, limit=20
    )


# --- W1/W2/W3: daily + cumulative returns ----------------------------------


@query(
    "w2_calculate_returns",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date, close_price,
       close_price / lag(close_price) OVER w - 1.0 AS daily_return,
       close_price / first_value(close_price)
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - 1.0
           AS cumulative_return
FROM price
WHERE close_price IS NOT NULL AND close_price > 0
  AND symbol IN ({",".join(f"'{s}'" for s in RETURN_SYMBOLS)})
  AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1999-12-31'
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
ORDER BY symbol, trade_date""",
)
def w2_calculate_returns(spark, sf_dir):
    return analytics.calculate_returns(
        price_frame(spark, sf_dir),
        symbols=RETURN_SYMBOLS,
        start_date="1996-01-01",
        end_date="1999-12-31",
    )


# --- J2/A5: pairwise correlation over brand-level series --------------------


@query(
    "a5_correlation_matrix",
    f"""WITH {MARKET_SERIES_CTE},
rets AS (
  SELECT symbol, trade_date,
         close_price / lag(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0
             AS daily_return,
         lag(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close
  FROM mseries
  WHERE close_price > 0
)
SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
       ROUND(corr(a.daily_return, b.daily_return), 6) AS correlation,
       COUNT(*) AS n_days
FROM rets a JOIN rets b ON a.trade_date = b.trade_date AND a.symbol < b.symbol
WHERE a.prev_close IS NOT NULL AND a.prev_close > 0
  AND b.prev_close IS NOT NULL AND b.prev_close > 0
GROUP BY 1, 2
HAVING COUNT(*) >= 3""",
)
def a5_correlation_matrix(spark, sf_dir):
    return analytics.correlation_matrix(market_series(spark, sf_dir), BRANDS, max_symbols=50)


# --- J3/W4: latest price row per symbol ------------------------------------


@query(
    "j3_latest_prices",
    f"""WITH {PRICE_CTE}, {MASTER_CTE},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rn
  FROM price
)
SELECT r.symbol AS symbol, r.trade_date AS trade_date, r.close_price AS close_price,
       r.volume AS volume, r.amount AS amount, m.name AS name, m.market AS market
FROM ranked r JOIN master m USING (symbol)
WHERE r.rn = 1""",
)
def j3_latest_prices(spark, sf_dir):
    return analytics.latest_prices(price_frame(spark, sf_dir), master_frame(spark, sf_dir))


# --- J4/P9/A8: backtest universe -------------------------------------------


@query(
    "j4_backtest_universe",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}
SELECT m.symbol AS symbol, m.name AS name, m.market AS market
FROM master m
WHERE m.is_active = 1
  AND (m.listing_date IS NULL OR m.listing_date <= DATE '{UNIVERSE_DATE}')
  AND m.symbol IN (
    SELECT symbol FROM price
    WHERE trade_date = DATE '{UNIVERSE_DATE}' AND close_price * volume > 100000.0
  )
ORDER BY symbol""",
)
def j4_backtest_universe(spark, sf_dir):
    return analytics.backtest_universe(
        price_frame(spark, sf_dir),
        master_frame(spark, sf_dir),
        UNIVERSE_DATE,
        min_market_cap=100000.0,
    )


# --- A6: daily whole-market rollup -----------------------------------------


@query(
    "a6_daily_market_summary",
    f"""WITH {PRICE_CTE}
SELECT trade_date,
       COUNT(*) AS stock_count,
       CAST(SUM(CAST(close_price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(close_price) AS avg_close,
       CAST(SUM(volume) AS BIGINT) AS total_volume,
       CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
FROM price
WHERE close_price IS NOT NULL
GROUP BY 1""",
)
def a6_daily_market_summary(spark, sf_dir):
    return analytics.daily_market_summary(price_frame(spark, sf_dir))


# --- A2: conditional aggregation -------------------------------------------


@query(
    "a2_stock_count_stats",
    f"""WITH {MASTER_CTE}
SELECT market,
       COUNT(CASE WHEN is_active = 1 THEN 1 END) AS active_count,
       COUNT(CASE WHEN is_active = 0 THEN 1 END) AS delisted_count,
       COUNT(*) AS total_count
FROM master
GROUP BY 1""",
)
def a2_stock_count_stats(spark, sf_dir):
    return analytics.stock_count_stats(master_frame(spark, sf_dir))


# --- A3: delisted report ----------------------------------------------------


@query(
    "a3_delisted_report",
    f"""WITH {MASTER_CTE}
SELECT market,
       COUNT(*) AS delisted_count,
       MIN(delisting_date) AS earliest_delisting,
       MAX(delisting_date) AS latest_delisting
FROM master
WHERE is_active = 0
GROUP BY 1""",
)
def a3_delisted_report(spark, sf_dir):
    return analytics.delisted_report(master_frame(spark, sf_dir))


# --- A4/S13: global table stats --------------------------------------------


@query(
    "a4_table_info",
    f"""WITH {PRICE_CTE}
SELECT COUNT(*) AS row_count,
       MIN(trade_date) AS min_date,
       MAX(trade_date) AS max_date,
       COUNT(DISTINCT symbol) AS symbol_count
FROM price""",
)
def a4_table_info(spark, sf_dir):
    return analytics.table_info(price_frame(spark, sf_dir))


# --- A8: distinct symbol list ----------------------------------------------


@query(
    "a8_all_symbols",
    f"""WITH {MASTER_CTE}
SELECT DISTINCT symbol FROM master WHERE is_active = 1""",
)
def a8_all_symbols(spark, sf_dir):
    return analytics.get_all_symbols(master_frame(spark, sf_dir))


# --- S13: per-symbol coverage ----------------------------------------------


@query(
    "s13_symbol_coverage",
    f"""WITH {PRICE_CTE}
SELECT symbol,
       MIN(trade_date) AS first_date,
       MAX(trade_date) AS last_date,
       COUNT(*) AS day_count,
       CAST(date_diff('day', MIN(trade_date), MAX(trade_date)) AS INTEGER) + 1 AS span_days
FROM price
GROUP BY 1""",
)
def s13_symbol_coverage(spark, sf_dir):
    return analytics.missing_dates_stats(price_frame(spark, sf_dir))


# --- J1/P7/P8/O2: filtered fact-dim join -----------------------------------


@query(
    "j1_stock_data",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}
SELECT p.symbol AS symbol, p.trade_date AS trade_date, p.close_price AS close_price,
       p.volume AS volume, p.amount AS amount, m.name AS name, m.market AS market
FROM price p JOIN master m USING (symbol)
WHERE p.symbol IN ({",".join(f"'{s}'" for s in STOCK_SYMBOLS)})
  AND p.trade_date >= DATE '1996-01-01' AND p.trade_date <= DATE '1999-12-31'
ORDER BY symbol, trade_date""",
)
def j1_stock_data(spark, sf_dir):
    # symbols= takes the UNCACHED pushdown path on purpose: a selective
    # key predicate belongs in the parquet footer scan, not applied to
    # a staged full-universe frame (the 100 TB argument in price_frame)
    return analytics.get_stock_data(
        price_frame(spark, sf_dir, symbols=STOCK_SYMBOLS),
        master_frame(spark, sf_dir),
        symbols=STOCK_SYMBOLS,
        start_date="1996-01-01",
        end_date="1999-12-31",
    ).select("symbol", "trade_date", "close_price", "volume", "amount", "name", "market")


# --- J5/U3: insert-if-absent anti-join -------------------------------------


@query(
    "j5_insert_if_absent",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}
SELECT m.* FROM master m
WHERE NOT EXISTS (
  SELECT 1 FROM price p
  WHERE p.symbol = m.symbol AND p.trade_date <= DATE '1995-06-30'
)""",
)
def j5_insert_if_absent(spark, sf_dir):
    existing = price_frame(spark, sf_dir).filter(F.col("trade_date") <= F.lit("1995-06-30"))
    return upsert.insert_if_absent(existing, master_frame(spark, sf_dir), "symbol")


# --- A10/W4: versioned dedup (latest order per customer) --------------------


@query(
    "a10_dedup_latest",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1""",
)
def a10_dedup_latest(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return upsert.dedup_latest(orders, "o_custkey", "o_orderdate", tiebreak=["o_orderkey"])


# --- P2-P5/A9: validation chain --------------------------------------------

DIRTY_CTE = """
dirty AS (
  SELECT CASE WHEN p_partkey % 3 = 0 THEN lpad(CAST(p_partkey AS VARCHAR), 6, '0')
              ELSE CAST(p_partkey AS VARCHAR) END AS symbol,
         CASE WHEN p_partkey % 7 = 0 THEN '' ELSE p_name END AS name,
         CASE WHEN p_partkey % 11 = 0 THEN DATE '1985-01-01'
              ELSE DATE '1995-01-01' + CAST(p_partkey % 400 AS INTEGER) END AS delisting_date
  FROM part
)"""


def dirty_frame(spark, sf_dir):
    """Deterministically dirtied master batch: 2/3 bad symbols, 1/7 empty
    names, 1/11 out-of-range dates — the dirtiness profile of crawled
    batches (FIXTURES.md A3)."""
    p = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    return p.select(
        F.when(pk % 3 == 0, F.lpad(pk.cast("string"), 6, "0"))
        .otherwise(pk.cast("string"))
        .alias("symbol"),
        F.when(pk % 7 == 0, F.lit("")).otherwise(F.col("p_name")).alias("name"),
        F.when(pk % 11 == 0, F.to_date(F.lit("1985-01-01")))
        .otherwise(F.date_add(F.to_date(F.lit("1995-01-01")), (pk % 400).cast("int")))
        .alias("delisting_date"),
    )


@query(
    "p2_validate_rows",
    f"""WITH {DIRTY_CTE}
SELECT DISTINCT symbol, name, delisting_date FROM dirty
WHERE regexp_matches(symbol, '^[0-9]{{6}}$')
  AND name IS NOT NULL AND length(trim(name)) > 0
  AND delisting_date IS NOT NULL
  AND delisting_date BETWEEN DATE '1990-01-01' AND current_date""",
)
def p2_validate_rows(spark, sf_dir):
    valid, _ = val.validate_delisted(dirty_frame(spark, sf_dir))
    return valid


@query(
    "p2_validate_stats",
    f"""WITH {DIRTY_CTE}
SELECT COUNT(*) AS input_count,
       COUNT(CASE WHEN NOT regexp_matches(symbol, '^[0-9]{{6}}$') THEN 1 END)
           AS valid_symbol_failed,
       COUNT(CASE WHEN NOT (name IS NOT NULL AND length(trim(name)) > 0) THEN 1 END)
           AS valid_name_failed,
       COUNT(CASE WHEN NOT (delisting_date IS NOT NULL
               AND delisting_date BETWEEN DATE '1990-01-01' AND current_date) THEN 1 END)
           AS valid_date_failed,
       COUNT(CASE WHEN regexp_matches(symbol, '^[0-9]{{6}}$')
               AND name IS NOT NULL AND length(trim(name)) > 0
               AND delisting_date IS NOT NULL
               AND delisting_date BETWEEN DATE '1990-01-01' AND current_date THEN 1 END)
           AS valid_count
FROM dirty""",
)
def p2_validate_stats(spark, sf_dir):
    _, stats = val.validate_delisted(dirty_frame(spark, sf_dir))
    return stats


# --- U1: relaxed union ------------------------------------------------------


@query(
    "u1_union_relaxed",
    """SELECT CAST(c_custkey AS VARCHAR) AS entity_id, c_name AS name,
       c_acctbal AS acctbal, c_mktsegment AS segment, CAST(NULL AS INTEGER) AS nation
FROM customer
UNION ALL
SELECT CAST(s_suppkey AS VARCHAR) AS entity_id, s_name AS name,
       s_acctbal AS acctbal, CAST(NULL AS VARCHAR) AS segment, s_nationkey AS nation
FROM supplier""",
)
def u1_union_relaxed(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").alias("nation"),
    )
    return union_relaxed([cust, supp])


# --- O1: top-k with total order --------------------------------------------


@query(
    "o1_topk_orders",
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25""",
)
def o1_topk_orders(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


# --- F-series: scalar normalization chain over a crawl-shaped frame ---------

_RAW_STRINGS_CTE = """
rawstr AS (
  SELECT p_partkey AS id,
         CASE WHEN p_partkey % 4 = 0
              THEN 'A' || lpad(CAST(p_partkey % 1000000 AS VARCHAR), 6, '0')
              ELSE lpad(CAST(p_partkey % 1000000 AS VARCHAR), 6, '0') END AS code_raw,
         CASE WHEN p_partkey % 3 = 0
              THEN strftime(DATE '2020-01-01' + CAST(p_partkey % 1000 AS INTEGER), '%Y.%m.%d')
              WHEN p_partkey % 3 = 1
              THEN strftime(DATE '2020-01-01' + CAST(p_partkey % 1000 AS INTEGER), '%Y-%m-%d')
              ELSE strftime(DATE '2020-01-01' + CAST(p_partkey % 1000 AS INTEGER), '%Y%m%d')
         END AS date_raw,
         CASE WHEN p_partkey % 5 = 0
              THEN CAST(p_partkey % 90 AS VARCHAR) || ',' ||
                   lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0') || '원'
              ELSE CAST((p_partkey % 9000) + 100 AS VARCHAR) || '원' END AS price_raw,
         CASE WHEN p_partkey % 7 = 0 THEN '' ELSE p_name END AS name_raw
  FROM part
)"""


def _raw_strings_frame(spark, sf_dir):
    """Crawl-shaped dirty strings built deterministically from part: mixed
    date formats, Korean-number prices, letter-prefixed codes, empty names
    (the §1.2 crawler intermediate profile)."""
    p = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    d = F.date_add(F.to_date(F.lit("2020-01-01")), (pk % 1000).cast("int"))
    code6 = F.lpad((pk % 1000000).cast("string"), 6, "0")
    return p.select(
        pk.alias("id"),
        F.when(pk % 4 == 0, F.concat(F.lit("A"), code6)).otherwise(code6).alias("code_raw"),
        F.when(pk % 3 == 0, F.date_format(d, "yyyy.MM.dd"))
        .when(pk % 3 == 1, F.date_format(d, "yyyy-MM-dd"))
        .otherwise(F.date_format(d, "yyyyMMdd"))
        .alias("date_raw"),
        F.when(
            pk % 5 == 0,
            F.concat(
                (pk % 90).cast("string"),
                F.lit(","),
                F.lpad((pk % 1000).cast("string"), 3, "0"),
                F.lit("원"),
            ),
        )
        .otherwise(F.concat(((pk % 9000) + 100).cast("string"), F.lit("원")))
        .alias("price_raw"),
        F.when(pk % 7 == 0, F.lit("")).otherwise(F.col("p_name")).alias("name_raw"),
    )


@query(
    "f1_normalize_chain",
    f"""WITH {_RAW_STRINGS_CTE}
SELECT id,
       substr(regexp_replace(code_raw, '[^0-9]', '', 'g'), 1, 6) AS symbol,
       CASE WHEN length(regexp_replace(date_raw, '[^0-9]', '', 'g')) = 8
            THEN CAST(try_strptime(regexp_replace(date_raw, '[^0-9]', '', 'g'), '%Y%m%d') AS DATE)
       END AS parsed_date,
       TRY_CAST(NULLIF(regexp_replace(price_raw, '[^0-9.]', '', 'g'), '') AS DOUBLE) AS price,
       NULLIF(name_raw, '') AS name
FROM rawstr""",
)
def f1_normalize_chain(spark, sf_dir):
    """F1/F2/F3/F7/F8 in one pass: digit strip + 6-char slice, multiformat
    date parse, Korean-number parse, empty->null — the full §2.8 scalar
    normalization surface, hash-checked against DuckDB."""
    raw = _raw_strings_frame(spark, sf_dir)
    return raw.select(
        "id",
        N.clean_symbol(F.col("code_raw")).alias("symbol"),
        N.parse_multiformat_date(F.col("date_raw")).alias("parsed_date"),
        N.parse_korean_number(F.col("price_raw")).alias("price"),
        N.empty_to_null(F.col("name_raw")).alias("name"),
    )


# --- A7: per-market crawl distribution --------------------------------------


@query(
    "a7_market_counts",
    f"""WITH {MASTER_CTE}
SELECT market, COUNT(*) AS n
FROM master
GROUP BY 1""",
)
def a7_market_counts(spark, sf_dir):
    """A7 — groupBy(market).count() distribution report (reference:
    src/crawlers/krx_delisted_crawler.py:389-391)."""
    return master_frame(spark, sf_dir).groupBy("market").agg(F.count("*").alias("n"))


# --- F9/S13: month-bucket partition histogram -------------------------------


@query(
    "f9_month_buckets",
    f"""WITH {PRICE_CTE}
SELECT strftime(trade_date, '%Y%m') AS trade_month,
       COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT symbol) AS BIGINT) AS n_symbols
FROM price
GROUP BY 1""",
)
def f9_month_buckets(spark, sf_dir):
    """F9 + S13 — the toYYYYMM partition bucketing used for table layout,
    as a partition-size introspection query (reference:
    src/clickhouse/price_client.py:93,286-341)."""
    return (
        price_frame(spark, sf_dir)
        .groupBy(month_bucket(F.col("trade_date")).alias("trade_month"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("symbol").alias("n_symbols"),
        )
    )


# --- J7: multi-table join chain (region -> nation -> customer -> orders -> lineitem)


@query(
    "j7_revenue_by_nation",
    """SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(DISTINCT c.c_custkey) AS n_customers,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1997-01-01'
GROUP BY 1, 2""",
)
def j7_revenue_by_nation(spark, sf_dir):
    """Five-table join chain with a selective date predicate — the
    Catalyst join-planning showcase: region/nation/customer broadcast up
    the chain, the orders date filter pushes to its scan, and only the
    orders⋈lineitem join shuffles (on the biggest key)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
    )
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("region", "nation")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("*").alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "j8_segment_top_orders",
    """SELECT l.l_orderkey AS orderkey,
       CAST(o.o_orderdate AS DATE) AS orderdate,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1996-03-15'
  AND l.l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY 1, 2
ORDER BY revenue DESC, orderkey
LIMIT 10""",
)
def j8_segment_top_orders(spark, sf_dir):
    """TPC-H Q3 shape: segment-filtered customers broadcast into orders,
    the date predicates push to both fact scans, and only orders⋈lineitem
    shuffles; top-k plans as TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-03-15"
    )
    return (
        li.join(
            o.join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


@query(
    "cdc1_snapshot_diff",
    f"""WITH {MASTER_CTE},
old AS (
  SELECT symbol, name, market, is_active FROM master
  WHERE CAST(symbol AS BIGINT) % 97 <> 0
),
new AS (
  SELECT symbol, name,
         CASE WHEN CAST(symbol AS BIGINT) % 31 = 0 THEN 'MOVED' ELSE market END AS market,
         is_active
  FROM master WHERE CAST(symbol AS BIGINT) % 89 <> 0
)
SELECT * FROM (
  SELECT COALESCE(o.symbol, n.symbol) AS symbol,
         CASE WHEN o.symbol IS NULL THEN 'added'
              WHEN n.symbol IS NULL THEN 'removed'
              WHEN NOT (o.name IS NOT DISTINCT FROM n.name
                        AND o.market IS NOT DISTINCT FROM n.market
                        AND o.is_active IS NOT DISTINCT FROM n.is_active)
                   THEN 'changed' END AS change,
         o.name AS old_name, n.name AS new_name,
         o.market AS old_market, n.market AS new_market,
         o.is_active AS old_is_active, n.is_active AS new_is_active
  FROM old o FULL OUTER JOIN new n ON o.symbol = n.symbol
) WHERE change IS NOT NULL
ORDER BY symbol""",
)
def cdc1_snapshot_diff(spark, sf_dir):
    """Change-data-capture between two deterministic snapshots of the
    master dim (operators/upsert.snapshot_diff): one full outer join,
    null-safe column compares, unchanged keys dropped."""
    m = master_frame(spark, sf_dir)
    pk = F.col("symbol").cast("bigint")
    old = m.filter(pk % 97 != 0).select("symbol", "name", "market", "is_active")
    new = (
        m.filter(pk % 89 != 0)
        .withColumn(
            "market", F.when(pk % 31 == 0, F.lit("MOVED")).otherwise(F.col("market"))
        )
        .select("symbol", "name", "market", "is_active")
    )
    return upsert.snapshot_diff(
        old, new, "symbol", ["name", "market", "is_active"]
    )


# --- J9: salted skew join, oracle-checked ------------------------------------


@query(
    "j9_salted_join",
    """SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY 1""",
)
def j9_salted_join(spark, sf_dir):
    """The skew-salting escape hatch proven value-identical to the plain
    equi-join it replaces: orders (the would-be hot side) salted across
    8 buckets, customer replicated 8x, grouped to per-segment totals.
    Deterministic salt (xxhash64 of the row, not rand()) keeps reruns
    and stage retries shuffle-identical — which is exactly what makes
    the result oracle-checkable."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return (
        salted_join(o, c, on=["custkey"], salt_buckets=8)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            analytics.exact_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


# --- U4: intersect -----------------------------------------------------------


@query(
    "u4_intersect_symbols",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}
SELECT symbol FROM master WHERE is_active = 1
INTERSECT
SELECT DISTINCT symbol FROM price WHERE volume > 0
ORDER BY symbol""",
)
def u4_intersect_symbols(spark, sf_dir):
    """Set intersection (completes the set-ops family alongside relaxed
    union U1/U2 and anti-diff U3): active master symbols that actually
    traded. Spark plans INTERSECT as a left-semi join over distincts —
    both sides shuffle once on the key."""
    active = master_frame(spark, sf_dir).filter(F.col("is_active") == 1).select(
        "symbol"
    )
    traded = (
        price_frame(spark, sf_dir).filter(F.col("volume") > 0).select("symbol")
    )
    return active.intersect(traded)


# --- A11: deterministic mode per group ---------------------------------------


@query(
    "a11_modal_priority",
    """WITH counts AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT segment, priority AS modal_priority, n AS n_orders
FROM (
  SELECT segment, priority, n,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY n DESC, priority) AS rn
  FROM counts)
WHERE rn = 1
ORDER BY segment""",
)
def a11_modal_priority(spark, sf_dir):
    """Deterministic per-group mode (most frequent order priority per
    segment; lowest value wins count ties — F.mode's tie behavior is
    unspecified, so the count+argmax-window form is the hash-checkable
    one). Two shuffles: the count aggregate and the per-group argmax."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("n"), "priority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "segment",
            F.col("priority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
    )


@query(
    "j10_bloom_semi_join",
    """SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 2500)
GROUP BY 1 ORDER BY 1""",
)
def j10_bloom_semi_join(spark, sf_dir):
    """Fact filtered by a dim key set too big to IN-list: bloom bitmap
    (built by distributed bit_or, collected as num_bits/64 longs) prunes
    the scan map-side; an exact semi-join removes false positives, so
    the result is exactly the semi-join — see operators.bloom."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 2500)
    # 2^17 bits over ~500 keys is ~262 bits/key: 3 hashes already give
    # fp ~1e-6, and each hash is a per-row expression at the scan
    joined = bloom.bloom_semi_join(
        li, "l_suppkey", sup, "s_suppkey", num_bits=1 << 17, num_hashes=3
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            analytics.exact_sum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


@query(
    "u5_bag_difference",
    """(SELECT user_id, event_type FROM events WHERE ts < TIMESTAMP '2024-01-15')
EXCEPT ALL
(SELECT user_id, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-15')
ORDER BY user_id, event_type""",
)
def u5_bag_difference(spark, sf_dir):
    """Multiset reconciliation: per-(user, type) event occurrences in the
    first half of the month not matched one-for-one by the second half
    (EXCEPT ALL keeps multiplicity — the per-occurrence diff the
    set-based anti-join cannot express) — see operators.setops.bag_difference."""
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    l = events.filter(F.col("ts") < cut).select("user_id", "event_type")
    r = events.filter(F.col("ts") >= cut).select("user_id", "event_type")
    return bag_difference(l, r)


_PRICE_BANDS = [
    ("penny", 0.0, 5000.0),
    ("low", 5000.0, 20000.0),
    ("mid", 20000.0, 50000.0),
    ("high", 50000.0, 80000.0),
    ("premium", 80000.0, 1000000.0),
]
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS band, {lo} AS lo, {hi} AS hi" for n, lo, hi in _PRICE_BANDS
)


@query(
    "j11_band_range_join",
    f"""WITH bands AS ({_BANDS_SQL})
SELECT b.band AS band,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN bands b
  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
GROUP BY 1 ORDER BY band""",
)
def j11_band_range_join(spark, sf_dir):
    """Price-band classification via the BUCKETED range join: dim
    intervals explode to fixed-width buckets, the fact hash-joins on its
    single bucket id, the exact range predicate filters in-bucket — a
    hash join where the naive BETWEEN formulation plans a nested loop
    (O(|fact| x |bands|) comparisons, or a cartesian once the dim stops
    broadcasting). See operators.rangejoin.banded_range_join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    joined = banded_range_join(
        li, bands, "l_extendedprice", bucket_width=10000.0
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            analytics.exact_sum(F.col("l_extendedprice")).alias("revenue"),
        )
    )


@query(
    "a12_weighted_market_return",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT trade_date,
         close_price / LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1
             AS ret,
         amount
  FROM price WHERE close_price IS NOT NULL
)
SELECT trade_date,
       CAST(COUNT(*) AS BIGINT) AS n_symbols,
       (SUM(CAST(ROUND(ret * amount * 1e6) AS DECIMAL(38,0))) / 1e6)
         / (SUM(CAST(ROUND(amount * 1e6) AS DECIMAL(38,0))) / 1e6) AS vw_return
FROM r WHERE ret IS NOT NULL
GROUP BY 1 ORDER BY trade_date""",
)
def a12_weighted_market_return(spark, sf_dir):
    """Amount-weighted whole-market daily return: per-symbol IEEE
    returns, then an exact weighted mean per date — numerator and
    denominator fixed-pointed to 1e-6 and summed as DECIMAL(38,0)
    (BIGINT micro-units of large turnover amounts would overflow at
    realistic scale; ANSI Spark throws where DuckDB promotes), so the
    ratio is engine-identical with no output rounding."""
    r = (
        returns_frame(spark, sf_dir)
        .select("trade_date", F.col("ret").alias("_ret"), "amount")
        .filter(F.col("_ret").isNotNull())
    )
    return (
        r.groupBy("trade_date")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_symbols"),
            (
                (
                    F.sum(
                        F.round(F.col("_ret") * F.col("amount") * 1e6).cast(
                            "decimal(38,0)"
                        )
                    )
                    / 1e6
                )
                / (F.sum(F.round(F.col("amount") * 1e6).cast("decimal(38,0)")) / 1e6)
            ).alias("vw_return"),
        )
    )


@query(
    "u6_symmetric_difference",
    f"""WITH {PRICE_CTE},
a AS (SELECT DISTINCT symbol FROM price WHERE trade_date = DATE '1998-06-15'),
b AS (SELECT DISTINCT symbol FROM price WHERE trade_date = DATE '1998-06-16')
SELECT symbol, 'only_first' AS side FROM a ANTI JOIN b USING (symbol)
UNION ALL
SELECT symbol, 'only_second' AS side FROM b ANTI JOIN a USING (symbol)
ORDER BY symbol, side""",
)
def u6_symmetric_difference(spark, sf_dir):
    """Symbol symmetric difference between two trading days (who traded
    one day but not the other) — two distributed anti-joins unioned,
    each side tagged. Completes the set-ops family (union / intersect /
    except / bag-difference / symmetric difference)."""
    p = price_frame(spark, sf_dir)
    a = p.filter(F.col("trade_date") == "1998-06-15").select("symbol").distinct()
    b = p.filter(F.col("trade_date") == "1998-06-16").select("symbol").distinct()
    only_a = a.join(b, "symbol", "left_anti").select(
        "symbol", F.lit("only_first").alias("side")
    )
    only_b = b.join(a, "symbol", "left_anti").select(
        "symbol", F.lit("only_second").alias("side")
    )
    return only_a.unionByName(only_b)


@query(
    "cdc2_status_history",
    """WITH numbered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)
         - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderdate, o_orderkey) AS island
  FROM orders
)
SELECT o_custkey, o_orderstatus,
       MIN(o_orderdate) AS run_start,
       MAX(o_orderdate) AS run_end,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM numbered GROUP BY o_custkey, o_orderstatus, island
ORDER BY o_custkey, run_start, o_orderstatus""",
)
def cdc2_status_history(spark, sf_dir):
    """SCD-Type-2-style history build via gaps-and-islands: each
    customer's consecutive same-status orders collapse into validity
    runs (two row_number windows + one aggregate, all partitioned on
    the customer key — one shuffle). See
    operators.incremental.collapse_runs."""
    return ivm.collapse_runs(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        ["o_orderdate", "o_orderkey"],
        "o_orderstatus",
    )


@query(
    "f10_time_features",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date,
       CAST(isodow(trade_date) AS BIGINT) AS day_of_week,
       CAST(week(trade_date) AS BIGINT) AS iso_week,
       CAST(month(trade_date) AS BIGINT) AS month,
       CAST(quarter(trade_date) AS BIGINT) AS quarter,
       trade_date = last_day(trade_date) AS is_month_end,
       CAST(date_diff('day', DATE '1970-01-01', trade_date) AS BIGINT)
           AS days_since_epoch
FROM price WHERE symbol IN ({_RET_IN})
ORDER BY symbol, trade_date""",
)
def f10_time_features(spark, sf_dir):
    """Calendar feature extraction for ML export (ISO weekday/week,
    month, quarter, month-end flag, epoch-day ordinal) — map-only
    codegen expressions, the standard temporal feature block every
    training-data export prepends."""
    p = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
    return p.select(
        "symbol",
        "trade_date",
        F.dayofweek(F.col("trade_date")).alias("_dow_sun1"),
        F.weekofyear("trade_date").cast("long").alias("iso_week"),
        F.month("trade_date").cast("long").alias("month"),
        F.quarter("trade_date").cast("long").alias("quarter"),
        (F.col("trade_date") == F.last_day("trade_date")).alias("is_month_end"),
        F.datediff("trade_date", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch"),
    ).withColumn(
        # Spark dayofweek is Sunday=1; ISO (DuckDB isodow) is Monday=1
        "day_of_week",
        ((F.col("_dow_sun1") + 5) % 7 + 1).cast("long"),
    ).drop("_dow_sun1")


@query(
    "fx1_feature_matrix",
    f"""WITH {PRICE_CTE},
sel AS (
  SELECT symbol, trade_date, close_price FROM price
  WHERE symbol IN ({_RET_IN}) AND close_price IS NOT NULL
    AND trade_date >= DATE '1996-01-01' AND trade_date <= DATE '1998-12-31'
), feat AS (
  SELECT symbol, trade_date, close_price,
         CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
             / COUNT(close_price) OVER w5 AS sma_5,
         close_price / LAG(close_price) OVER wo - 1 AS ret,
         MAX(close_price) OVER w20 AS hi_20,
         MIN(close_price) OVER w20 AS lo_20
  FROM sel
  WINDOW wo AS (PARTITION BY symbol ORDER BY trade_date),
         w5 AS (PARTITION BY symbol ORDER BY trade_date
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w20 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date, close_price, sma_5, ret, hi_20, lo_20,
       ROUND(STDDEV_SAMP(ret) OVER (PARTITION BY symbol ORDER BY trade_date
                                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
             6) AS vol_10,
       CASE WHEN hi_20 - lo_20 > 0
            THEN (close_price - lo_20) / (hi_20 - lo_20) END AS chan_pos_20
FROM feat ORDER BY symbol, trade_date""",
)
def fx1_feature_matrix(spark, sf_dir):
    """The ML-export feature matrix: five per-series features (SMA,
    return, rolling volatility, Donchian channel bounds + position)
    assembled in ONE pass — every window shares the single series-key
    shuffle, which is the entire point of composing the operators
    instead of joining their outputs (five self-joins would scan the
    fact five times). Channel position is a per-row IEEE ratio; the
    volatility rounds like ts2."""
    s = _ts_series(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    w5 = w.rowsBetween(-4, 0)
    w10 = w.rowsBetween(-9, 0)
    w20 = w.rowsBetween(-19, 0)
    sma5 = (
        F.sum(F.col("close_price").cast("decimal(18,2)")).over(w5).cast("double")
        / F.count("close_price").over(w5)
    )
    ret = F.col("close_price") / F.lag("close_price").over(w) - 1
    hi20 = F.max("close_price").over(w20)
    lo20 = F.min("close_price").over(w20)
    staged = s.select(
        "symbol", "trade_date", "close_price",
        sma5.alias("sma_5"), ret.alias("ret"),
        hi20.alias("hi_20"), lo20.alias("lo_20"),
    )
    return staged.select(
        "symbol", "trade_date", "close_price", "sma_5", "ret", "hi_20", "lo_20",
        F.round(F.stddev_samp("ret").over(w10), 6).alias("vol_10"),
        F.when(
            F.col("hi_20") - F.col("lo_20") > 0,
            (F.col("close_price") - F.col("lo_20"))
            / (F.col("hi_20") - F.col("lo_20")),
        ).alias("chan_pos_20"),
    )


@query(
    "fx2_point_in_time_join",
    f"""WITH {PRICE_CTE},
labels AS (
  SELECT event_id, ts, CAST(user_id % 4 AS VARCHAR) AS bucket,
         CAST(ts AS DATE) AS event_date
  FROM events WHERE event_type = 'purchase'
), sym AS (
  SELECT event_id, ts, event_date,
         CASE bucket WHEN '0' THEN '7' WHEN '1' THEN '42'
                     WHEN '2' THEN '101' ELSE '157' END AS symbol
  FROM labels
)
SELECT s.event_id, s.symbol, s.event_date,
       p.trade_date AS feature_date, p.close_price AS feature_close
FROM sym s
ASOF LEFT JOIN (SELECT * FROM price WHERE close_price IS NOT NULL) p
  ON s.symbol = p.symbol AND p.trade_date <= s.event_date
ORDER BY event_id""",
)
def fx2_point_in_time_join(spark, sf_dir):
    """Point-in-time feature join — the leakage-safety primitive of every
    feature store: each label event picks up the LATEST feature row
    at-or-before its own date, never a future one, via the
    single-shuffle union as-of join (checked against DuckDB's native
    ASOF LEFT JOIN). Events map to a symbol bucket deterministically so
    the composition is reproducible on the synthetic lake."""
    ev_t = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    sym = F.element_at(
        F.array(F.lit("7"), F.lit("42"), F.lit("101"), F.lit("157")),
        (F.col("user_id") % 4 + 1).cast("int"),
    )
    labels = ev_t.select(
        "event_id",
        sym.alias("symbol"),
        F.to_date("ts").alias("event_date"),
    )
    feats = price_frame(spark, sf_dir, symbols=STOCK_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    out = tseries.asof_join(
        labels,
        feats.select("symbol", "trade_date", "close_price"),
        on=["symbol"],
        left_ts="event_date",
        right_ts="trade_date",
        value_cols=["trade_date", "close_price"],
        prune_right_to_left_keys=True,
    )
    return out.select(
        "event_id", "symbol", "event_date",
        F.col("trade_date").alias("feature_date"),
        F.col("close_price").alias("feature_close"),
    )


@query(
    "a13_advance_decline",
    f"""WITH {PRICE_CTE}, {MASTER_CTE},
r AS (
  SELECT m.market, p.trade_date,
         SIGN(p.close_price - LAG(p.close_price)
             OVER (PARTITION BY p.symbol ORDER BY p.trade_date)) AS sgn
  FROM price p JOIN master m USING (symbol)
  WHERE p.close_price IS NOT NULL
), d AS (
  SELECT market, trade_date,
         CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_adv,
         CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dec
  FROM r WHERE sgn IS NOT NULL GROUP BY 1, 2
)
SELECT market, trade_date, n_adv, n_dec,
       CAST(SUM(n_adv - n_dec) OVER (PARTITION BY market ORDER BY trade_date
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS ad_line
FROM d ORDER BY market, trade_date""",
)
def a13_advance_decline(spark, sf_dir):
    """Market-breadth advance/decline line: per (market, day) advancing
    vs declining symbol counts and the cumulative net — the breadth
    indicator behind divergence analysis. Reuses the shared returns
    stage (sign(ret) = sign of the close change); the cumulative window
    partitions by MARKET and holds one row per calendar day — bounded by
    the calendar, never the symbol count."""
    m = master_frame(spark, sf_dir).select("symbol", "market")
    sgn = F.signum(F.col("ret"))
    daily = (
        returns_frame(spark, sf_dir)
        .join(F.broadcast(m), "symbol")
        .filter(sgn.isNotNull())
        .groupBy("market", "trade_date")
        .agg(
            F.sum(F.when(sgn == 1, 1).otherwise(0)).cast("long").alias("n_adv"),
            F.sum(F.when(sgn == -1, 1).otherwise(0)).cast("long").alias("n_dec"),
        )
    )
    w = (
        Window.partitionBy("market")
        .orderBy("trade_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.withColumn(
        "ad_line", F.sum(F.col("n_adv") - F.col("n_dec")).over(w).cast("long")
    )


@query(
    "cdc3_point_in_time_status",
    f"""WITH latest AS (
  SELECT o_custkey, o_orderstatus,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders WHERE o_orderdate <= DATE '{UNIVERSE_DATE}'
)
SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM latest WHERE rn = 1 GROUP BY 1 ORDER BY status""",
)
def cdc3_point_in_time_status(spark, sf_dir):
    """SCD2 point-in-time reconstruction: each customer's CURRENT order
    status as of a date (latest at-or-before row), counted per status —
    the as-of snapshot read every slowly-changing-dimension table
    serves. No window over the fact stream: the latest-row-per-key is
    one argmax aggregate (max_by on the (date, orderkey) struct —
    deterministic, orderkey unique), then a 3-group count."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= UNIVERSE_DATE
    )
    latest = o.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderstatus", F.struct("o_orderdate", "o_orderkey")
        ).alias("status")
    )
    return (
        latest.groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@query(
    "fx3_lagged_features",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date, close_price,
       LAG(close_price, 1) OVER w AS close_lag1,
       LAG(close_price, 5) OVER w AS close_lag5,
       LEAD(close_price, 1) OVER w AS close_fwd1,
       LEAD(close_price, 1) OVER w / close_price - 1 AS target_ret
FROM price WHERE symbol IN ({_RET_IN})
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
ORDER BY symbol, trade_date""",
)
def fx3_lagged_features(spark, sf_dir):
    """Lag/lead feature export: the standard supervised-learning frame
    (trailing closes as features, next-day return as the label) in ONE
    window pass per series — lead() makes the label column explicit so
    the leakage boundary is visible in the plan (features strictly
    backward, label strictly forward). Symbol-pruned at the scan."""
    p = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    fwd = F.lead("close_price", 1).over(w)
    return p.select(
        "symbol",
        "trade_date",
        "close_price",
        F.lag("close_price", 1).over(w).alias("close_lag1"),
        F.lag("close_price", 5).over(w).alias("close_lag5"),
        fwd.alias("close_fwd1"),
        (fwd / F.col("close_price") - 1).alias("target_ret"),
    )


@query(
    "j12_nation_top_customers",
    """WITH rev AS (
  SELECT c.c_nationkey, o.o_custkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS total
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT n.n_name AS nation, r.o_custkey AS custkey,
         CAST(r.total AS DOUBLE) AS total_spend,
         ROW_NUMBER() OVER (PARTITION BY r.c_nationkey
                            ORDER BY r.total DESC, r.o_custkey) AS rnk
  FROM rev r JOIN nation n ON r.c_nationkey = n.n_nationkey
)
SELECT nation, custkey, total_spend, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 2 ORDER BY nation, rnk""",
)
def j12_nation_top_customers(spark, sf_dir):
    """Top-2 customers by lifetime spend per nation: fact aggregation ->
    broadcast dim join -> rank-in-group window. The rank partitions by
    nation key (25 partitions, each bounded by the nation's customer
    count); spend totals accumulate in DECIMAL so the ranking order —
    and therefore the result — is engine-exact, with the double cast
    only at emission."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_total"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("_total"), F.col("o_custkey")
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .join(F.broadcast(n), rev.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_custkey").alias("custkey"),
            F.col("_total").cast("double").alias("total_spend"),
            "rnk",
        )
    )


@query(
    "a14_hhi_concentration",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}, {_TOTALS_CTE},
sh AS (
  SELECT market,
         CAST(ROUND(total_amount * 100) AS BIGINT) AS cents,
         SUM(CAST(ROUND(total_amount * 100) AS BIGINT))
             OVER (PARTITION BY market) AS tot
  FROM totals
)
SELECT market, CAST(COUNT(*) AS BIGINT) AS n_symbols,
       SUM(CAST(ROUND((cents * 1.0 / tot) * (cents * 1.0 / tot) * 1e12)
                AS BIGINT)) / 1e12 AS hhi
FROM sh GROUP BY 1 ORDER BY market""",
)
def a14_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman turnover concentration per market: the sum
    of squared symbol shares (1/n = perfectly even, 1 = monopolized) —
    r10's share-of-total completed into the standard concentration
    index. Shares are exact cent ratios; their squares are fixed-pointed
    to 1e-12 before summing so the index is engine-identical."""
    totals = _symbol_totals(spark, sf_dir).select(
        "market", F.round(F.col("total_amount") * 100).cast("long").alias("cents")
    )
    return fixed_point_hhi(totals, "market")


@query(
    "a15_listing_flows",
    f"""WITH {MASTER_CTE},
l AS (
  SELECT strftime(listing_date, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_listed,
         CAST(0 AS BIGINT) AS n_delisted
  FROM master WHERE listing_date IS NOT NULL GROUP BY 1
), d AS (
  SELECT strftime(delisting_date, '%Y-%m') AS month,
         CAST(0 AS BIGINT) AS n_listed,
         CAST(COUNT(*) AS BIGINT) AS n_delisted
  FROM master WHERE delisting_date IS NOT NULL GROUP BY 1
)
SELECT month, CAST(SUM(n_listed) AS BIGINT) AS n_listed,
       CAST(SUM(n_delisted) AS BIGINT) AS n_delisted
FROM (SELECT * FROM l UNION ALL SELECT * FROM d)
GROUP BY 1 ORDER BY month""",
)
def a15_listing_flows(spark, sf_dir):
    """Monthly listing/delisting flow counts from the symbol master —
    the market-entry/exit series the reference's KRX sync pipelines
    feed (new listings in, delistings out). Two pruned aggregates
    unioned by month; pure date bucketing, exact counts. See
    operators.analytics.listing_flows."""
    return analytics.listing_flows(master_frame(spark, sf_dir))


@query(
    "fx4_winsorized_returns",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
), xs AS (
  SELECT symbol, trade_date, ret,
         ROUND(quantile_cont(ret, 0.05) OVER (PARTITION BY trade_date), 6) AS lo,
         ROUND(quantile_cont(ret, 0.95) OVER (PARTITION BY trade_date), 6) AS hi
  FROM r WHERE ret IS NOT NULL
    AND trade_date BETWEEN DATE '1998-06-01' AND DATE '1998-06-30'
)
SELECT symbol, trade_date, ROUND(ret, 6) AS ret_raw,
       ROUND(CASE WHEN ret < lo THEN lo WHEN ret > hi THEN hi ELSE ret END, 6)
           AS ret_winsorized
FROM xs ORDER BY trade_date, symbol""",
)
def fx4_winsorized_returns(spark, sf_dir):
    """Cross-sectional winsorization: each day's returns clipped to that
    day's [5th, 95th] percentile — the outlier-taming step every factor
    pipeline applies before fitting. The percentile window partitions by
    DATE (bounded by the symbol universe, the ts25 orthogonal
    partitioning); bounds are exact interpolated quantiles rounded
    before clipping so the clip branch is engine-stable."""
    r = returns_frame(spark, sf_dir).filter(
        F.col("ret").isNotNull()
        & (F.col("trade_date") >= "1998-06-01")
        & (F.col("trade_date") <= "1998-06-30")
    )
    wd = Window.partitionBy("trade_date")
    lo = F.round(F.expr("percentile(ret, 0.05)").over(wd), 6)
    hi = F.round(F.expr("percentile(ret, 0.95)").over(wd), 6)
    staged = r.select("symbol", "trade_date", "ret", lo.alias("_lo"), hi.alias("_hi"))
    clipped = (
        F.when(F.col("ret") < F.col("_lo"), F.col("_lo"))
        .when(F.col("ret") > F.col("_hi"), F.col("_hi"))
        .otherwise(F.col("ret"))
    )
    return staged.select(
        "symbol",
        "trade_date",
        F.round("ret", 6).alias("ret_raw"),
        F.round(clipped, 6).alias("ret_winsorized"),
    )


@query(
    "a16_monthly_momentum",
    f"""WITH {PRICE_CTE},
m AS (
  SELECT strftime(trade_date, '%Y-%m') AS month,
         CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS turnover
  FROM price GROUP BY 1
)
SELECT month, turnover,
       ROUND(turnover / LAG(turnover) OVER (ORDER BY month) - 1, 6)
           AS mom_growth
FROM m ORDER BY month""",
)
def a16_monthly_momentum(spark, sf_dir):
    """Month-over-month market turnover growth: monthly decimal-exact
    totals + one lag over the month series (bounded by the calendar —
    the allowed post-aggregation global window). The operational KPI
    line every exchange report leads with."""
    p = price_frame(spark, sf_dir)
    m = p.groupBy(F.date_format("trade_date", "yyyy-MM").alias("month")).agg(
        analytics.exact_sum(F.col("amount")).alias("turnover")
    )
    w = Window.orderBy("month")
    return m.select(
        "month",
        "turnover",
        F.round(F.col("turnover") / F.lag("turnover").over(w) - 1, 6).alias(
            "mom_growth"
        ),
    )


@query(
    "f11_target_encoding",
    """WITH w AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             OVER (PARTITION BY o_orderpriority) AS cat_cents,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cat_n
  FROM orders
)
SELECT o_orderkey, o_orderpriority,
       (cat_cents - cents) * 1.0 / (cat_n - 1) / 100 AS loo_target_mean
FROM w WHERE cat_n > 1 ORDER BY o_orderkey""",
)
def f11_target_encoding(spark, sf_dir):
    """Leakage-safe leave-one-out target encoding: each row's category
    mean EXCLUDES its own label ((sum - own)/(n - 1)) — the categorical
    feature every tabular-ML pipeline derives, with the leakage guard
    built into the formula instead of bolted on. Decimal window sums
    make the encoding exact; one category-key window partition
    (bounded by category cardinality balance, AQE-splittable)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    staged = o.select(
        "o_orderkey",
        "o_orderpriority",
        cents.alias("_p"),
        F.sum(cents).over(w).alias("_s"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )
    # exact integer cents, then ONE double division sequence mirrored in
    # the oracle — decimal division scale/rounding differs across engines
    return (
        staged.filter(F.col("_n") > 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                (F.col("_s") - F.col("_p")) * 1.0 / (F.col("_n") - 1) / 100
            ).alias("loo_target_mean"),
        )
    )


@query(
    "f12_feature_binning",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date, close_price,
       CAST(NTILE(4) OVER (PARTITION BY symbol
                           ORDER BY close_price, trade_date) AS BIGINT)
           AS price_quartile_bin
FROM price WHERE symbol IN ({_RET_IN})
ORDER BY symbol, trade_date""",
)
def f12_feature_binning(spark, sf_dir):
    """Quantile feature discretization: each observation's close price
    binned into its symbol's own quartiles (per-series NTILE with a date
    tiebreak for a total order) — the standard tree-model/monotonic
    binning step of tabular feature prep. Per-series windows bounded by
    history length; symbol-pruned at the scan."""
    p = price_frame(spark, sf_dir, symbols=RETURN_SYMBOLS)
    w = Window.partitionBy("symbol").orderBy("close_price", "trade_date")
    return p.select(
        "symbol",
        "trade_date",
        "close_price",
        F.ntile(4).over(w).cast("long").alias("price_quartile_bin"),
    )


@query(
    "a18_turnover_gini",
    f"""WITH {PRICE_CTE}, {MASTER_CTE}, {_TOTALS_CTE},
rk AS (
  SELECT market, CAST(ROUND(total_amount * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY market
                            ORDER BY CAST(ROUND(total_amount * 100) AS BIGINT),
                                     symbol) AS i,
         COUNT(*) OVER (PARTITION BY market) AS n,
         SUM(CAST(ROUND(total_amount * 100) AS BIGINT))
             OVER (PARTITION BY market) AS tot
  FROM totals
)
SELECT market, CAST(MAX(n) AS BIGINT) AS n_symbols,
       ROUND(2.0 * SUM(i * cents) / (MAX(n) * MAX(tot))
             - (MAX(n) + 1.0) / MAX(n), 6) AS gini
FROM rk GROUP BY 1 ORDER BY market""",
)
def a18_turnover_gini(spark, sf_dir):
    """Gini coefficient of turnover per market (0 = perfectly even,
    ->1 = winner-take-all) via the sorted-rank closed form
    2*Σ(i*x_i)/(n*Σx) - (n+1)/n — a18 completes the concentration family
    next to a14's HHI and r9's Pareto curve. Ranks and sums are exact
    integer arithmetic on deterministic cent totals; one market-key
    window + one aggregate."""
    cents = F.round(F.col("total_amount") * 100).cast("long")
    wm = Window.partitionBy("market")
    wr = wm.orderBy(cents, F.col("symbol"))
    rk = _symbol_totals(spark, sf_dir).select(
        "market",
        cents.alias("_c"),
        F.row_number().over(wr).alias("_i"),
        F.count(F.lit(1)).over(wm).alias("_n"),
        F.sum(cents).over(wm).alias("_t"),
    )
    return (
        rk.groupBy("market")
        .agg(
            F.max("_n").cast("long").alias("n_symbols"),
            F.round(
                2.0 * F.sum(F.col("_i") * F.col("_c")) / (F.max("_n") * F.max("_t"))
                - (F.max("_n") + 1.0) / F.max("_n"),
                6,
            ).alias("gini"),
        )
    )


@query(
    "a19_market_share_trend",
    f"""WITH {PRICE_CTE}, {MASTER_CTE},
m AS (
  SELECT mm.market, strftime(p.trade_date, '%Y-%m') AS month,
         SUM(CAST(ROUND(p.amount * 100) AS BIGINT)) AS cents
  FROM price p JOIN master mm USING (symbol)
  GROUP BY 1, 2
)
SELECT market, month,
       CAST(cents AS DOUBLE) / 100 AS turnover,
       cents * 1.0 / SUM(cents) OVER (PARTITION BY month) AS market_share
FROM m ORDER BY market, month""",
)
def a19_market_share_trend(spark, sf_dir):
    """Monthly market-share trend: each market's slice of total monthly
    turnover (the competitive-dynamics series behind venue analysis).
    Exact integer cents throughout — the share's window denominator
    partitions by month over one POST-AGGREGATION row per (market,
    month), bounded by markets x calendar."""
    p = price_frame(spark, sf_dir)
    mast = master_frame(spark, sf_dir).select("symbol", "market")
    m = monthly_cents_totals(p.join(F.broadcast(mast), "symbol"), ["market"])
    wm = Window.partitionBy("month")
    return m.select(
        "market",
        "month",
        (F.col("cents").cast("double") / 100).alias("turnover"),
        (F.col("cents") * 1.0 / F.sum("cents").over(wm)).alias("market_share"),
    )


@query(
    "u7_bag_intersect",
    """SELECT l_partkey AS part_key,
       CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_1995,
       CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n_1996,
       CAST(LEAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN 1 ELSE 0 END),
                  SUM(CASE WHEN year(l_shipdate) = 1996 THEN 1 ELSE 0 END)) AS BIGINT)
         AS common
FROM lineitem
WHERE year(l_shipdate) IN (1995, 1996)
GROUP BY 1
HAVING SUM(CASE WHEN year(l_shipdate) = 1995 THEN 1 ELSE 0 END) > 0
   AND SUM(CASE WHEN year(l_shipdate) = 1996 THEN 1 ELSE 0 END) > 0
ORDER BY 1""",
)
def u7_bag_intersect(spark, sf_dir):
    """Multiset (bag) INTERSECTION between two year-slices of the fact
    stream: per key, min of the two multiplicities — completes the
    set-op family (u5 is bag difference). ONE scan with conditional
    counts and one shuffle — not two aggregations joined (which would
    scan and shuffle twice)."""
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")
    c95 = F.sum(F.when(yr == 1995, 1).otherwise(0)).cast("long")
    c96 = F.sum(F.when(yr == 1996, 1).otherwise(0)).cast("long")
    return (
        li.filter(yr.isin(1995, 1996))
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(c95.alias("n_1995"), c96.alias("n_1996"))
        .filter((F.col("n_1995") > 0) & (F.col("n_1996") > 0))
        .withColumn("common", F.least("n_1995", "n_1996").cast("long"))
    )


@query(
    "f13_minmax_log_features",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date, close_price,
       CASE WHEN MAX(close_price) OVER w = MIN(close_price) OVER w THEN NULL
            ELSE (close_price - MIN(close_price) OVER w)
                 / (MAX(close_price) OVER w - MIN(close_price) OVER w) END
         AS close_scaled,
       ln(1 + volume) AS log_volume
FROM price
WHERE symbol IN ('3', '7', '21', '42', '101') AND close_price IS NOT NULL
WINDOW w AS (PARTITION BY symbol)
ORDER BY symbol, trade_date""",
)
def f13_minmax_log_features(spark, sf_dir):
    """Feature scaling for model input: per-symbol min-max normalized
    close (NULL on constant series — no divide-by-zero poison) and
    log1p(volume). Per-series unordered windows (map-side after the one
    series shuffle); every expression is per-row deterministic IEEE so
    the oracle hashes exactly."""
    p = price_frame(spark, sf_dir, RETURN_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    w = Window.partitionBy("symbol")
    mn, mx = F.min("close_price").over(w), F.max("close_price").over(w)
    return p.select(
        "symbol",
        "trade_date",
        "close_price",
        F.when(mx == mn, F.lit(None).cast("double"))
        .otherwise((F.col("close_price") - mn) / (mx - mn))
        .alias("close_scaled"),
        F.log(F.lit(1) + F.col("volume")).alias("log_volume"),
    )


@query(
    "o2_keyset_pagination",
    """WITH cur AS (
  SELECT o_totalprice AS cp, o_orderkey AS ck
  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1 OFFSET 99
)
SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
FROM orders, cur
WHERE o_totalprice < cp OR (o_totalprice = cp AND o_orderkey > ck)
ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""",
)
def o2_keyset_pagination(spark, sf_dir):
    """Keyset (seek-method) pagination: page 3 of the price-ranked order
    list via a (o_totalprice, o_orderkey) cursor instead of OFFSET. The
    cursor row is ONE driver-side value from a TakeOrdered(100); the
    page is then a pushed-down filter + TakeOrdered(50) — at 100 TB an
    OFFSET shuffles and discards the whole prefix on every page, while
    the seek scans stay O(page) per request. Total order via the
    orderkey tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    cur = (
        o.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .orderBy(F.asc("o_totalprice"), F.desc("o_orderkey"))
        .limit(1)
        .collect()
    )  # bounded: at most one cursor row crosses to the driver
    if cur:
        cp, ck = cur[0]["o_totalprice"], cur[0]["o_orderkey"]
        after_cursor = (F.col("o_totalprice") < cp) | (
            (F.col("o_totalprice") == cp) & (F.col("o_orderkey") > ck)
        )
    else:
        # fewer orders than one page: page 3 is empty, matching the
        # oracle's cross join against an empty cursor CTE
        after_cursor = F.lit(False)
    return (
        o.filter(after_cursor)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


@query(
    "a20_breadth_thrust",
    f"""WITH {PRICE_CTE}, lagged AS (
  SELECT symbol, trade_date, close_price,
         LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date)
           AS prev_close
  FROM price WHERE close_price IS NOT NULL
), daily AS (
  SELECT trade_date,
         SUM(CASE WHEN close_price > prev_close THEN 1 ELSE 0 END) AS adv,
         SUM(CASE WHEN close_price < prev_close THEN 1 ELSE 0 END) AS dec
  FROM lagged WHERE prev_close IS NOT NULL
  GROUP BY 1 HAVING SUM(CASE WHEN close_price > prev_close THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN close_price < prev_close THEN 1 ELSE 0 END) > 0
), bp AS (
  SELECT trade_date, CAST(adv AS BIGINT) AS adv, CAST(dec AS BIGINT) AS dec,
         CAST(ROUND(adv / (adv + dec) * 1e6) AS BIGINT) AS breadth_ppm
  FROM daily
)
SELECT trade_date, adv, dec, breadth_ppm,
       SUM(breadth_ppm) OVER w / 1e6
         / COUNT(*) OVER w AS breadth_sma10,
       SUM(breadth_ppm) OVER w / 1e6 / COUNT(*) OVER w >= 0.615 AS thrust
FROM bp
WINDOW w AS (ORDER BY trade_date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
ORDER BY trade_date""",
)
def a20_breadth_thrust(spark, sf_dir):
    """Market breadth (advancers / movers) with its 10-day SMA and the
    Zweig breadth-thrust flag (SMA >= 0.615). The sliding mean runs over
    fixed-point ppm INTEGERS so window accumulation order (segment trees
    vs sequential) cannot change the float result. The unpartitioned
    window is post-aggregation over the trading CALENDAR — bounded
    domain, the a16 pattern. See operators.timeseries.breadth_thrust."""
    return tseries.breadth_thrust(returns_frame(spark, sf_dir))


@query(
    "cdc4_scd2_dimension",
    """WITH s AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         arg_max(o_orderstatus, o_orderkey) AS o_orderstatus
  FROM orders GROUP BY 1, 2
), n AS (
  SELECT o_custkey, d, o_orderstatus,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d)
       - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus ORDER BY d)
           AS island
  FROM s
), runs AS (
  SELECT o_custkey, o_orderstatus, MIN(d) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM n GROUP BY o_custkey, o_orderstatus, island
)
SELECT o_custkey, o_orderstatus, valid_from,
       LEAD(valid_from) OVER w - 1 AS valid_to,
       LEAD(valid_from) OVER w IS NULL AS is_current,
       n_days
FROM runs
WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)
ORDER BY o_custkey, valid_from""",
)
def cdc4_scd2_dimension(spark, sf_dir):
    """Full SCD-Type-2 dimension materialization (valid_from / valid_to /
    is_current) from the order-status stream — the warehouse history
    shape point-in-time joins consume. Daily latest-writer-wins
    (max_by on orderkey) makes run starts strictly increasing per key,
    so intervals partition the timeline deterministically; everything
    partitions on the customer key (one shuffle). See
    operators.incremental.scd2_history."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    return ivm.scd2_history(
        orders, "o_custkey", "o_orderdate", "o_orderstatus", "o_orderkey"
    )


@query(
    "f14_cyclic_time_features",
    f"""WITH {PRICE_CTE}
SELECT symbol, trade_date,
       ROUND(sin(2 * pi() * isodow(trade_date) / 7), 6) + 0 AS dow_sin,
       ROUND(cos(2 * pi() * isodow(trade_date) / 7), 6) + 0 AS dow_cos,
       ROUND(sin(2 * pi() * month(trade_date) / 12), 6) + 0 AS month_sin,
       ROUND(cos(2 * pi() * month(trade_date) / 12), 6) + 0 AS month_cos
FROM price
WHERE symbol IN ('3', '7', '21', '42', '101') AND close_price IS NOT NULL
ORDER BY symbol, trade_date""",
)
def f14_cyclic_time_features(spark, sf_dir):
    """Cyclic (sin/cos) encodings of day-of-week and month — the feature
    shape that lets a model see Sunday and Monday as adjacent (a raw
    ordinal puts them 6 apart). Map-only per-row trigonometry, rounded
    to 6 dp so libm ULP differences cannot leak into the hash, then
    ``+ 0`` to collapse IEEE negative zero (DuckDB's ROUND keeps -0.0,
    Spark's BigDecimal round does not); ISO day-of-week on both
    engines."""
    p = price_frame(spark, sf_dir, RETURN_SYMBOLS).filter(
        F.col("close_price").isNotNull()
    )
    two_pi = F.lit(2 * math.pi)
    dow = ((F.dayofweek("trade_date") + 5) % 7 + 1).cast("int")
    month = F.month("trade_date")
    return p.select(
        "symbol",
        "trade_date",
        (F.round(F.sin(two_pi * dow / 7), 6) + 0).alias("dow_sin"),
        (F.round(F.cos(two_pi * dow / 7), 6) + 0).alias("dow_cos"),
        (F.round(F.sin(two_pi * month / 12), 6) + 0).alias("month_sin"),
        (F.round(F.cos(two_pi * month / 12), 6) + 0).alias("month_cos"),
    )


@query(
    "a22_turn_of_month",
    f"""WITH {PRICE_CTE}, lagged AS (
  SELECT symbol, trade_date, close_price,
         LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date)
           AS prev_close
  FROM price WHERE close_price IS NOT NULL
), q AS (
  SELECT CAST(day(trade_date) AS BIGINT) AS day_of_month,
         CAST(ROUND((close_price / prev_close - 1) * 1e9) AS BIGINT) AS qret
  FROM lagged WHERE prev_close IS NOT NULL
)
SELECT day_of_month, CAST(COUNT(*) AS BIGINT) AS n_obs,
       SUM(qret) / 1e9 / COUNT(*) AS mean_ret
FROM q GROUP BY 1 ORDER BY 1""",
)
def a22_turn_of_month(spark, sf_dir):
    """Calendar-anomaly screen: mean daily return by day-of-month across
    the whole market (the turn-of-month effect test). Returns are
    fixed-pointed to 1e-9 BIGINTs before the cross-sectional mean so
    the sum is accumulation-order-free; reuses the memoized
    returns_frame stage (one lineitem scan shared with a12/a20/ts25)."""
    r = returns_frame(spark, sf_dir).filter(F.col("ret").isNotNull())
    q = r.select(
        F.dayofmonth("trade_date").cast("long").alias("day_of_month"),
        F.round(F.col("ret") * 1e9).cast("long").alias("qret"),
    )
    n = F.count(F.lit(1))
    return (
        q.groupBy("day_of_month")
        .agg(
            n.cast("long").alias("n_obs"),
            (F.sum("qret") / 1e9 / n).alias("mean_ret"),
        )
    )


@query(
    "f15_doc_feature_matrix",
    r"""WITH base AS (
  SELECT doc_id, lang, source, n_chars,
         string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t
  FROM documents
), w AS (
  SELECT b.doc_id, b.lang, unnest(b.t) AS word FROM base b
), nz AS (
  SELECT doc_id, lang, word, length(word) AS wl FROM w WHERE word <> ''
), tok AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(wl) / COUNT(*) AS mean_word_len,
         SUM(CASE WHEN CASE lang
               WHEN 'en' THEN word IN ('the','a','of','and','in','to','is')
               WHEN 'es' THEN word IN ('el','la','de','que','y','en','los')
               WHEN 'fr' THEN word IN ('le','la','de','et','les','des','un')
               WHEN 'de' THEN word IN ('der','die','das','und','ist','von','ein')
               WHEN 'zh' THEN word IN ('的','是','了','在','和','有','我')
               ELSE FALSE END THEN 1 ELSE 0 END) / COUNT(*) AS stop_ratio
  FROM nz GROUP BY doc_id
), sh0 AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM base
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM sh0
), df_ AS (
  SELECT shingle, COUNT(*) AS docfreq FROM sh GROUP BY 1
), nov AS (
  SELECT s.doc_id,
         SUM(CASE WHEN d.docfreq = 1 THEN 1 ELSE 0 END) / COUNT(*) AS novelty
  FROM sh s JOIN df_ d USING (shingle) GROUP BY s.doc_id
)
SELECT b.doc_id, b.lang, b.source, CAST(b.n_chars AS BIGINT) AS n_chars,
       tok.n_tokens, tok.mean_word_len, tok.stop_ratio, nov.novelty
FROM base b
JOIN tok ON tok.doc_id = b.doc_id
LEFT JOIN nov ON nov.doc_id = b.doc_id
ORDER BY b.doc_id""",
)
def f15_doc_feature_matrix(spark, sf_dir):
    """The per-document FEATURE MATRIX a quality classifier trains on —
    token stats, own-language stopword density, and corpus-level n-gram
    novelty joined into one wide frame. Integration query: composes the
    tx26/tx27/tx28 building blocks end-to-end (each already oracled
    alone); two explode passes over text, hash-only shuffles for the
    novelty join, exact-integer ratios throughout. See
    operators.text.doc_feature_matrix."""
    return tx.doc_feature_matrix(load_table(spark, sf_dir, "documents"))


@query(
    "a23_high_proximity",
    f"""WITH {PRICE_CTE},
s AS (
  SELECT symbol,
         MAX(trade_date) AS last_trade_date,
         arg_max(close_price, trade_date) AS last_close,
         MAX(close_price) AS peak_close
  FROM price WHERE close_price IS NOT NULL GROUP BY 1
)
SELECT symbol, last_trade_date, last_close, peak_close,
       ROUND(last_close / peak_close, 6) AS high_proximity,
       CAST(CASE WHEN last_close >= peak_close THEN 1 ELSE 0 END AS INTEGER)
           AS at_high
FROM s ORDER BY high_proximity DESC, symbol LIMIT 100""",
)
def a23_high_proximity(spark, sf_dir):
    """52-week-high-style proximity screen: each symbol's latest close as
    a fraction of its historical peak, top-100 closest to (or at) their
    highs — the momentum screen behind "new-highs" breadth products
    (pairs with a20's breadth thrust). One tie-free max_by hash
    aggregate over the price series (no window), then a global top-k:
    TakeOrderedAndProject with a total order (proximity desc, symbol),
    never a full sort at scale."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    s = p.groupBy("symbol").agg(
        F.max("trade_date").alias("last_trade_date"),
        F.max_by("close_price", "trade_date").alias("last_close"),
        F.max("close_price").alias("peak_close"),
    )
    return (
        s.select(
            "symbol",
            "last_trade_date",
            "last_close",
            "peak_close",
            F.round(F.col("last_close") / F.col("peak_close"), 6).alias(
                "high_proximity"
            ),
            F.when(F.col("last_close") >= F.col("peak_close"), 1)
            .otherwise(0)
            .cast("int")
            .alias("at_high"),
        )
        .orderBy(F.col("high_proximity").desc(), "symbol")
        .limit(100)
    )


@query(
    "f16_oof_target_encoding",
    """WITH t AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(CASE WHEN substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '33' THEN 0
              WHEN substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '66' THEN 1
              WHEN substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '99' THEN 2
              WHEN substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < 'cc' THEN 3
              ELSE 4 END AS BIGINT) AS fold
  FROM orders
), f AS (
  SELECT o_orderpriority, fold,
         CAST(SUM(cents) AS BIGINT) AS fc, CAST(COUNT(*) AS BIGINT) AS fn
  FROM t GROUP BY 1, 2
)
SELECT o_orderpriority AS category, fold, fn AS n_in_fold,
       -- exact half-up rounding to micro-dollars in INTEGER space:
       -- round(a/b/100, 6) = ((a*20000 + b) // (2*b)) / 1e6. A double
       -- ROUND(x, 6) at 1e10 magnitudes is engine-divergent (x*1e6
       -- exceeds 2^53; DuckDB's multiply-based round drifts a ULP off
       -- Spark/Python's decimal-correct round — r7 extremes sweep)
       CASE WHEN (SUM(fn) OVER w - fn) <> 0 THEN
         CAST(((SUM(fc) OVER w - fc) * 20000 + (SUM(fn) OVER w - fn))
              // (2 * (SUM(fn) OVER w - fn)) AS DOUBLE) / 1000000.0
       END AS oof_target_mean
FROM f WINDOW w AS (PARTITION BY o_orderpriority) ORDER BY category, fold""",
)
def f16_oof_target_encoding(spark, sf_dir):
    """K-fold out-of-fold target encoding table: for each (category,
    fold), the target mean computed over the OTHER four folds — the
    leakage guard f11's leave-one-out gives per row, at the granularity
    CV training actually joins on (encode fold i's rows with statistics
    that never saw fold i). Folds are md5-deterministic (smp13's
    assignment, engine-stable); money sums are exact cents; the
    out-of-fold subtraction runs on the 25-row (category, fold) frame,
    so the only data-scale pass is one map-side-combined aggregate.
    A category whose rows ALL land in one fold has no out-of-fold data:
    the CASE guard yields NULL there, matching DuckDB (ANSI Spark
    raised DIVIDE_BY_ZERO — found by the round-7 hypothesis property,
    the same class of bug the k23 property caught in round 6). The
    6-decimal rounding runs in exact INTEGER micro-dollars on both
    engines — double ROUND(x, 6) above ~1e10 is engine-divergent
    (found by the r7 extremes sweep). See
    operators.analytics.oof_target_mean."""
    o = load_table(spark, sf_dir, "orders")
    t = tx.kfold_assign(o, key_col="o_orderkey", k=5).select(
        F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "fold",
    )
    return analytics.oof_target_mean(t)


@query(
    "a24_equal_weight_index",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, trade_date,
         close_price / LAG(close_price) OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS ret
  FROM price WHERE close_price IS NOT NULL
), d AS (
  SELECT trade_date, CAST(COUNT(*) AS BIGINT) AS n_symbols,
         SUM(CAST(ROUND(ret * 1e9) AS BIGINT)) / 1e9 / COUNT(*) AS mret
  FROM r WHERE ret IS NOT NULL GROUP BY 1
)
SELECT trade_date, n_symbols,
       ROUND(ln(100) + SUM(CAST(ROUND(ln(1 + mret) * 1e9) AS BIGINT))
                       OVER (ORDER BY trade_date
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       / 1e9, 6) AS log_index_level
FROM d ORDER BY trade_date""",
)
def a24_equal_weight_index(spark, sf_dir):
    """Chain-linked equal-weight market index (base 100): the daily
    cross-sectional mean return, compounded in LOG space
    (base-100 log level = ln(100) + cumsum(ln(1+r))) — how an index
    vendor builds a benchmark level from constituent returns, kept in
    logs so the level stays exact at any horizon. The per-day mean is a fixed-point aggregate
    over the symbol dimension (one date-key shuffle); the compounding
    cumsum runs over the DATE DOMAIN (bounded, single partition — the
    a16 argument) with each log term fixed-pointed so the level is
    reproducible to 6 dp on any engine. Rides the memoized returns
    stage shared with a12/ts25/ts26. See
    operators.timeseries.equal_weight_index."""
    return tseries.equal_weight_index(returns_frame(spark, sf_dir))


@query(
    "a25_volume_volatility_corr",
    f"""WITH {PRICE_CTE},
r AS (
  SELECT symbol, volume,
         ABS(close_price / LAG(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1) AS aret
  FROM price WHERE close_price IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CORR(CAST(volume AS DOUBLE), aret), 6) AS vol_ret_corr
FROM r WHERE aret IS NOT NULL
GROUP BY 1 HAVING COUNT(*) >= 30 ORDER BY symbol""",
)
def a25_volume_volatility_corr(spark, sf_dir):
    """Volume-volatility correlation per symbol: corr(volume, |return|)
    — the classic mixture-of-distributions stylized fact (heavy days
    move more); a screening feature for liquidity-aware models. One
    series-key window + one aggregate; CORR uses the established
    round-6 idiom (per-series accumulation error ~1e-15 against a 5e-7
    rounding boundary)."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = Window.partitionBy("symbol").orderBy("trade_date")
    r = p.select(
        "symbol",
        "volume",
        F.abs(
            F.col("close_price") / F.lag("close_price").over(w) - 1
        ).alias("aret"),
    ).filter(F.col("aret").isNotNull())
    return (
        r.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.corr(F.col("volume").cast("double"), "aret"), 6).alias(
                "vol_ret_corr"
            ),
        )
        .filter(F.col("n_days") >= 30)
    )


@query(
    "cdc5_status_change_rate",
    """WITH numbered AS (
  SELECT o_custkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)
         - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderdate, o_orderkey) AS island,
         o_orderstatus
  FROM orders
), runs AS (
  SELECT o_custkey, CAST(COUNT(DISTINCT (o_orderstatus, island)) AS BIGINT)
             AS n_runs
  FROM numbered GROUP BY 1
)
SELECT CAST(n_runs - 1 AS BIGINT) AS n_changes,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM runs GROUP BY 1 ORDER BY n_changes""",
)
def cdc5_status_change_rate(spark, sf_dir):
    """Distribution of status-change counts per customer: how many
    times each customer's order status flipped over their ordered
    history (cdc2's gaps-and-islands runs, reduced to a change-rate
    histogram) — the CDC volume-planning statistic (changes/key sizes
    an SCD-2 dimension's growth). Two same-key window passes + two
    aggregates, all partitioned on the customer key; output is bounded
    by the maximum change count."""
    o = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_st = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    numbered = o.select(
        "o_custkey",
        "o_orderstatus",
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias("island"),
    )
    runs = (
        numbered.select("o_custkey", "o_orderstatus", "island")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_runs"))
    )
    return (
        runs.groupBy((F.col("n_runs") - 1).cast("long").alias("n_changes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@query(
    "a26_new_highs_lows",
    f"""WITH {PRICE_CTE},
roll AS (
  SELECT trade_date, close_price,
         MAX(close_price) OVER w AS hi20,
         MIN(close_price) OVER w AS lo20,
         COUNT(close_price) OVER w AS n_obs
  FROM price WHERE close_price IS NOT NULL
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT trade_date,
       CAST(SUM(CASE WHEN close_price >= hi20 THEN 1 ELSE 0 END) AS BIGINT)
           AS new_highs,
       CAST(SUM(CASE WHEN close_price <= lo20 THEN 1 ELSE 0 END) AS BIGINT)
           AS new_lows,
       CAST(COUNT(*) AS BIGINT) AS n_symbols
FROM roll WHERE n_obs = 20
GROUP BY 1 ORDER BY trade_date""",
)
def a26_new_highs_lows(spark, sf_dir):
    """New-highs/new-lows market breadth: per trading day, how many
    symbols closed at their rolling 20-observation high (resp. low) —
    the classic market-internals gauge that complements a13's
    advance-decline and a20's breadth thrust. Per-series bounded
    rolling windows (ROWS 19 PRECEDING; 20 not the classic 52-week
    lookback because the synthetic per-symbol depth is ~30 obs at
    EVERY sf — rows and symbols scale together — so a longer frame
    never fills and the query degenerates to 0 rows), a full-window
    floor (n_obs = 20) so warm-up rows never count as 'new highs',
    then one date-key aggregate. The high/low comparison is exact:
    close_price is compared against a window max/min that contains
    the row's own stored value, so no float tolerance is needed."""
    p = price_frame(spark, sf_dir).filter(F.col("close_price").isNotNull())
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date")
        .rowsBetween(-19, 0)
    )
    roll = p.select(
        "trade_date",
        "close_price",
        F.max("close_price").over(w).alias("hi20"),
        F.min("close_price").over(w).alias("lo20"),
        F.count("close_price").over(w).alias("n_obs"),
    ).filter(F.col("n_obs") == 20)
    return (
        roll.groupBy("trade_date")
        .agg(
            F.sum(
                F.when(F.col("close_price") >= F.col("hi20"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_highs"),
            F.sum(
                F.when(F.col("close_price") <= F.col("lo20"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_lows"),
            F.count(F.lit(1)).cast("long").alias("n_symbols"),
        )
    )


@query(
    "a27_monthly_hhi",
    f"""WITH {PRICE_CTE},
m AS (
  SELECT strftime(trade_date, '%Y-%m') AS month, symbol,
         SUM(CAST(ROUND(amount * 100) AS BIGINT)) AS cents
  FROM price GROUP BY 1, 2
),
sh AS (
  SELECT month, cents,
         SUM(cents) OVER (PARTITION BY month) AS tot
  FROM m
)
SELECT month, CAST(COUNT(*) AS BIGINT) AS n_symbols,
       SUM(CAST(ROUND((cents * 1.0 / tot) * (cents * 1.0 / tot) * 1e12)
                AS BIGINT)) / 1e12 AS hhi
FROM sh GROUP BY 1 ORDER BY month""",
)
def a27_monthly_hhi(spark, sf_dir):
    """Monthly turnover-concentration trend: the Herfindahl-Hirschman
    index of symbol turnover shares computed PER MONTH — the
    time-series view of concentration that a14's static per-market HHI
    cannot show (is the market concentrating or broadening?). Same
    exact-arithmetic discipline as a14: shares are cent ratios, squares
    fixed-pointed to 1e-12 before summing so the index is
    engine-identical; one (month, symbol) aggregate, one month-key
    window over the shrunk frame, one month-key aggregate."""
    m = monthly_cents_totals(price_frame(spark, sf_dir), ["symbol"])
    return fixed_point_hhi(m, "month")


@query(
    "j13_price_elasticity",
    """WITH u AS (
  SELECT p.p_brand AS brand,
         ln(l.l_quantity) AS log_q,
         ln(l.l_extendedprice / l.l_quantity) AS log_p
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(regr_slope(log_q, log_p), 6) AS elasticity
FROM u GROUP BY 1 ORDER BY brand""",
)
def j13_price_elasticity(spark, sf_dir):
    """Log-log price elasticity of demand per part brand: the OLS slope
    of ln(quantity) on ln(unit price) across order lines — the classic
    demand-curve diagnostic; no other registered query measures
    elasticity or unit price. Fact⋈dim broadcast equi-join (the J1 shape: part is
    the small side at every sf since both scale together — at cluster
    scale the same join stays broadcastable or falls back to a
    co-partitioned equi-join), then one brand-key regr_slope; ln() of
    identical stored doubles is last-ulp stable across engines and the
    O(1) slope is rounded at 6 per the float convention."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    u = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "brand",
        F.log(F.col("l_quantity")).alias("log_q"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("log_p"),
    )
    return (
        u.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.regr_slope("log_q", "log_p"), 6).alias("elasticity"),
        )
    )


@query(
    "j14_sourcing_entropy",
    """WITH rev AS (
  SELECT o.o_custkey AS cust, n.n_name AS nation,
         SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
ent AS (
  SELECT cust,
         CAST(ROUND(SUM(-(cents * 1.0 / tot) * ln(cents * 1.0 / tot)) * 1e6)
              AS BIGINT) AS e6
  FROM (SELECT cust, cents, SUM(cents) OVER (PARTITION BY cust) AS tot
        FROM rev) t
  GROUP BY cust
)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       (SUM(e6) / 1e6) / COUNT(*) AS avg_sourcing_entropy
FROM ent JOIN customer c ON ent.cust = c.c_custkey
GROUP BY 1 ORDER BY segment""",
)
def j14_sourcing_entropy(spark, sf_dir):
    """Supply-chain diversification per market segment: each customer's
    Shannon entropy over the supplier-NATION mix of their discounted
    revenue (0 = single-sourced, ln(25) = perfectly spread), averaged
    per segment — the sourcing-concentration diagnostic no existing
    query carries (checker: 0 matches). Four-way join where only
    lineitem⋈orders is large (co-keyed shuffle equi-join);
    supplier→nation broadcasts. Revenue is cent-fixed-pointed before
    the (customer, nation) sum; per-customer entropies (sums of ≤25
    p*ln p terms) are fixed-pointed to 1e-6 BIGINTs before the segment
    average, the a14/ts26 engine-exactness idiom. See
    operators.analytics.sourcing_entropy."""
    return analytics.sourcing_entropy(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
    )


@query(
    "a28_price_dispersion",
    """WITH u AS (
  SELECT l_partkey AS pk, l_extendedprice / l_quantity AS up
  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
),
pr AS (
  SELECT pk, COUNT(*) AS n_lines,
         CAST(ROUND(ln(MAX(up) / MIN(up)) * 1e6) AS BIGINT) AS lr6
  FROM u GROUP BY pk HAVING COUNT(*) >= 2
)
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       (SUM(pr.lr6) / 1e6) / COUNT(*) AS avg_log_price_range
FROM pr JOIN part p ON pr.pk = p.p_partkey
GROUP BY 1 ORDER BY brand""",
)
def a28_price_dispersion(spark, sf_dir):
    """Law-of-one-price violation per brand: the SAME part sells at
    different unit prices across order lines; per part (>= 2 lines)
    take ln(max/min unit price), fix-point it to 1e-6, and average per
    brand — the price-dispersion measure from the search-cost
    literature, complementing j13's demand slope (checker: only an
    incidental q20 match). One partkey aggregate, a broadcast dim join,
    one brand aggregate; max/min of identical stored doubles are exact,
    the single ln per part is last-ulp stable, and the brand average
    sums BIGINTs."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    up = F.col("l_extendedprice") / F.col("l_quantity")
    pr = (
        li.select(F.col("l_partkey").alias("pk"), up.alias("_up"))
        .groupBy("pk")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.round(F.log(F.max("_up") / F.min("_up")) * 1e6)
            .cast("long")
            .alias("_lr6"),
        )
        .filter(F.col("_n") >= 2)
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    return (
        pr.join(F.broadcast(part), pr.pk == part.p_partkey)
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            ((F.sum("_lr6") / 1e6) / F.count(F.lit(1))).alias(
                "avg_log_price_range"
            ),
        )
    )


@query(
    "a29_return_rates",
    """WITH l AS (
  SELECT p.p_brand AS brand,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
         CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(r) AS BIGINT) AS n_returned,
       SUM(r) * 1.0 / COUNT(*) AS line_return_rate,
       SUM(CASE WHEN r = 1 THEN cents ELSE 0 END) * 1.0 / SUM(cents)
           AS revenue_return_rate
FROM l GROUP BY 1 ORDER BY brand""",
)
def a29_return_rates(spark, sf_dir):
    """Return/refund analytics per brand: the share of order lines
    returned (l_returnflag = 'R') and — the number merchants actually
    watch — the share of DISCOUNTED REVENUE those returns represent
    (high-ticket returns hurt more than many cheap ones). No existing
    query reports a return rate (checker: tpch_q10 only totals returned
    revenue per customer). Broadcast dim join + one brand aggregate;
    both rates are divisions of exact BIGINTs (cents fixed-point for
    revenue), IEEE-identical with no rounding. See
    operators.analytics.return_rates."""
    return analytics.return_rates(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "j15_supplier_risk_exposure",
    """WITH t AS (
  SELECT CASE WHEN s.s_acctbal < 0 THEN 'negative'
              WHEN s.s_acctbal < 5000 THEN 'low'
              ELSE 'healthy' END AS tier,
         s.s_suppkey,
         CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
agg AS (
  SELECT tier, COUNT(DISTINCT s_suppkey) AS n_suppliers,
         SUM(cents) AS tier_cents
  FROM t GROUP BY 1
)
SELECT tier, CAST(n_suppliers AS BIGINT) AS n_suppliers,
       tier_cents / 100.0 AS revenue,
       tier_cents * 1.0 / SUM(tier_cents) OVER () AS revenue_share
FROM agg ORDER BY tier""",
)
def j15_supplier_risk_exposure(spark, sf_dir):
    """Supply-chain financial-risk exposure: how much discounted
    revenue flows through suppliers in each account-balance tier
    (negative / under 5000 / healthy) — the counterparty-risk rollup
    behind q2/q22's balance predicates that no query aggregates
    (checker: 0 exposure/tier matches). Broadcast supplier join, one
    tier aggregate; the share divides exact BIGINT cents by the
    window-summed total (3 rows), so every number is engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal"
    )
    tier = (
        F.when(F.col("s_acctbal") < 0, "negative")
        .when(F.col("s_acctbal") < 5000, "low")
        .otherwise("healthy")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    t = li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey).select(
        tier.alias("tier"), "s_suppkey", cents.alias("_c")
    )
    agg = t.groupBy("tier").agg(
        F.countDistinct("s_suppkey").cast("long").alias("n_suppliers"),
        F.sum("_c").alias("_tc"),
    )
    w = Window.partitionBy()
    return (
        agg.select(
            "tier",
            "n_suppliers",
            (F.col("_tc") / 100.0).alias("revenue"),
            (F.col("_tc") * 1.0 / F.sum("_tc").over(w)).alias(
                "revenue_share"
            ),
        )
    )


@query(
    "a30_margin_health",
    """WITH m AS (
  SELECT p.p_type AS part_type,
         CASE WHEN l.l_extendedprice / l.l_quantity < p.p_retailprice
              THEN 1 ELSE 0 END AS below,
         CAST(ROUND((l.l_extendedprice / l.l_quantity / p.p_retailprice
                     - 1.0) * 1e6) AS BIGINT) AS mk6
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_quantity > 0 AND p.p_retailprice > 0
)
SELECT part_type,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(below) AS BIGINT) AS n_below_retail,
       SUM(below) * 1.0 / COUNT(*) AS below_retail_share,
       (SUM(mk6) / 1e6) / COUNT(*) AS avg_markup
FROM m GROUP BY 1 ORDER BY part_type""",
)
def a30_margin_health(spark, sf_dir):
    """Pricing-health audit per part type: the share of order lines
    sold below the part's retail price and the average realized markup
    (unit price / retail - 1) — the discounting-discipline view q9's
    absolute profit proxy hides, and the first analytical use of the
    p_type dimension outside TPC-H predicates (checker: margin/markup
    unclaimed). Broadcast dim join + one type-key aggregate; the
    below-retail comparison is between identically-derived doubles,
    per-line markups are 1e-6 fixed-point BIGINTs before the average,
    and the share is an exact int/int division. See
    operators.analytics.margin_health."""
    return analytics.margin_health(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "a31_new_vs_repeat_revenue",
    """WITH firsts AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_date
  FROM orders GROUP BY 1
),
tagged AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
         CASE WHEN strftime(o.o_orderdate, '%Y-%m')
                   = strftime(f.first_date, '%Y-%m')
              THEN 1 ELSE 0 END AS is_new,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(is_new) AS BIGINT) AS n_new_customer_orders,
       SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) / 100.0
           AS new_customer_revenue,
       SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1.0 / SUM(cents)
           AS new_revenue_share
FROM tagged GROUP BY 1 ORDER BY month""",
)
def a31_new_vs_repeat_revenue(spark, sf_dir):
    """New-vs-repeat revenue split per month: an order counts as 'new
    customer' while its customer is in their FIRST order month — the
    acquisition-vs-retention revenue mix every commerce dashboard
    leads with (checker: e31 splits event USERS, nothing splits order
    REVENUE). One custkey min-aggregate re-joined co-keyed to orders,
    then a month rollup; revenue is exact cents, the share an exact
    int/int division. See operators.analytics.new_vs_repeat_revenue."""
    return analytics.new_vs_repeat_revenue(
        load_table(spark, sf_dir, "orders")
    )


@query(
    "a32_listing_age_vol",
    f"""WITH {PRICE_CTE}, {MASTER_CTE},
r AS (
  SELECT symbol, close_price / lag(close_price)
             OVER (PARTITION BY symbol ORDER BY trade_date) - 1.0 AS ret
  FROM price WHERE close_price IS NOT NULL
),
sym AS (
  SELECT symbol,
         SUM(CAST(ROUND(ABS(ret) * 1e9) AS BIGINT)) / 1e9 / COUNT(*)
             AS abs_ret
  FROM r WHERE ret IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 10
)
SELECT CAST(FLOOR(datediff('day', m.listing_date, DATE '1998-12-31')
                  / 365.0) AS BIGINT) AS age_years,
       CAST(COUNT(*) AS BIGINT) AS n_symbols,
       (SUM(CAST(ROUND(s.abs_ret * 1e9) AS BIGINT)) / 1e9) / COUNT(*)
           AS avg_abs_ret
FROM sym s JOIN master m ON s.symbol = m.symbol
WHERE m.listing_date IS NOT NULL
GROUP BY 1 ORDER BY age_years""",
)
def a32_listing_age_vol(spark, sf_dir):
    """Seasoning effect: per listing-age bucket (whole years between
    the master listing_date and the dataset's 1998-12-31 horizon), the
    cross-sectional average |daily return| — the 'do seasoned listings
    trade calmer?' conditioning table joining the master dimension's
    listing_date (used by a15's flows but never as a RISK conditioner)
    to the return stream. Per-symbol 1e-9 fixed-point means, broadcast
    master join, integer datediff bucketing, then one bucket aggregate
    re-fixed-pointing the per-symbol means — every float is fenced. See
    operators.timeseries.listing_age_vol."""
    return tseries.listing_age_vol(
        returns_frame(spark, sf_dir), master_frame(spark, sf_dir)
    )
