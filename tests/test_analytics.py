"""Tests for the analytical query layer on a hand-built stock fixture with
known expected values (oracle style mirrors the reference's inline
expected-value tests, SURVEY §5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import analytics as A

D = dt.date


@pytest.fixture(scope="module")
def price(spark):
    rows = []
    # s1: rises 100 -> 110 -> 121 ; s2: flat 50 ; s3: single day (lag edge)
    for i, (sym, closes) in enumerate(
        [("s1", [100.0, 110.0, 121.0]), ("s2", [50.0, 50.0, 50.0]), ("s3", [70.0])]
    ):
        for d, c in enumerate(closes, start=1):
            rows.append((sym, D(2024, 1, d), c, 100 * (i + 1), int(c * 100 * (i + 1))))
    return spark.createDataFrame(
        rows, ["symbol", "trade_date", "close_price", "volume", "amount"]
    )


@pytest.fixture(scope="module")
def master(spark):
    return spark.createDataFrame(
        [
            ("s1", "One", "KOSPI", D(2020, 1, 1), None, 1),
            ("s2", "Two", "KOSDAQ", None, None, 1),
            ("s3", "Three", "KOSPI", D(2023, 12, 1), D(2024, 2, 1), 0),
        ],
        ["symbol", "name", "market", "listing_date", "delisting_date", "is_active"],
    )


def test_market_summary(price, master):
    out = {r.market: r for r in A.market_summary(price, master, "2024-01-02").collect()}
    assert out["KOSPI"].stock_count == 1 and out["KOSPI"].avg_close_price == 110.0
    assert out["KOSDAQ"].total_volume == 200


def test_top_performers_uses_prior_day(price, master):
    """The reference's latent bug (lag inside a single-date filter) would
    return an empty frame; the intent returns s1 +10% (SURVEY §3.3)."""
    out = A.top_performers(price, master, "2024-01-02").collect()
    assert [r.symbol for r in out] == ["s1", "s2"]
    assert out[0].change_pct == pytest.approx(10.0)
    assert out[1].change_pct == 0.0


def test_calculate_returns(price):
    out = A.calculate_returns(price, symbols=["s1"]).orderBy("trade_date").collect()
    assert out[0].daily_return is None  # lag null on first day
    assert out[1].daily_return == pytest.approx(0.10)
    assert out[2].cumulative_return == pytest.approx(0.21)


def test_returns_single_day_symbol_edge(price):
    out = A.calculate_returns(price, symbols=["s3"]).collect()
    assert len(out) == 1 and out[0].daily_return is None and out[0].cumulative_return == 0.0


def test_correlation_symbol_cap(spark):
    """The 50-symbol cardinality guard survives (reference:
    src/clickhouse/client.py:207-209)."""
    syms = [f"x{i:03d}" for i in range(60)]
    rows = [(s, D(2024, 1, d), float(d)) for s in syms for d in range(1, 6)]
    df = spark.createDataFrame(rows, ["symbol", "trade_date", "close_price"])
    out = A.correlation_matrix(df, syms, max_symbols=50)
    n_syms = out.select("symbol_a").union(out.select("symbol_b")).distinct().count()
    assert n_syms <= 50


def test_latest_prices(price, master):
    out = {r.symbol: r for r in A.latest_prices(price, master).collect()}
    assert out["s1"].trade_date == D(2024, 1, 3) and out["s1"].close_price == 121.0
    assert out["s3"].trade_date == D(2024, 1, 1)


def test_backtest_universe_survivorship(price, master):
    # s2 has null listing_date -> survives the null-tolerant predicate (P9);
    # s3 is delisted -> excluded
    out = A.backtest_universe(price, master, "2024-01-01", min_market_cap=0.0)
    assert [r.symbol for r in out.collect()] == ["s1", "s2"]


def test_stock_count_stats(master):
    out = {r.market: r for r in A.stock_count_stats(master).collect()}
    assert out["KOSPI"].active_count == 1 and out["KOSPI"].delisted_count == 1
    assert out["KOSDAQ"].total_count == 1


def test_table_info(price):
    r = A.table_info(price).first()
    assert (r.row_count, r.symbol_count) == (7, 3)
    assert r.min_date == D(2024, 1, 1) and r.max_date == D(2024, 1, 3)


def test_broadcast_join_in_plan(price, master):
    """The fact⋈dim join must be a broadcast join, not a shuffle join
    (100 TB discipline: SURVEY §4)."""
    plan = A.market_summary(price, master, "2024-01-02")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- scale-safe global ntile -------------------------------------------------


def test_global_ntile_matches_window_ntile(spark):
    from pyspark.sql import Window

    import random

    rng = random.Random(7)
    rows = [(f"s{i:04d}", float(rng.randint(0, 500))) for i in range(237)]
    df = spark.createDataFrame(rows, "symbol string, total double")
    order = [F.desc("total"), F.col("symbol")]
    expected = sorted(
        map(
            tuple,
            df.select(
                "symbol", F.ntile(7).over(Window.orderBy(*order)).cast("long").alias("b")
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            A.global_ntile(df, order, 7, out_col="b").select("symbol", "b").collect(),
        )
    )
    # 237 rows / 7 buckets: 237 = 7*33 + 6 -> first 6 buckets get 34 rows;
    # the arithmetic NTILE rule must be bit-identical to the window ntile
    assert got == expected


def test_global_ntile_fewer_rows_than_buckets(spark):
    df = spark.createDataFrame([("a", 3.0), ("b", 2.0), ("c", 1.0)], "k string, v double")
    out = {
        r.k: r.b
        for r in A.global_ntile(df, [F.desc("v"), F.col("k")], 10, out_col="b").collect()
    }
    assert out == {"a": 1, "b": 2, "c": 3}  # NTILE gives row i bucket i


def test_global_ntile_empty_frame(spark):
    df = spark.createDataFrame([], "k string, v double")
    assert A.global_ntile(df, [F.desc("v")], 10).count() == 0


# --- wide (pivoted-matrix) correlation ---------------------------------------


def test_correlation_matrix_wide_matches_pair_join(spark):
    import math

    # complete panel: 4 symbols x 40 days, deterministic price paths
    rows = []
    for s in range(4):
        px = 100.0
        for d in range(40):
            px *= 1.0 + 0.01 * math.sin(0.7 * d + s) + 0.002 * s
            rows.append((f"w{s}", D(2024, 1, 1) + dt.timedelta(days=d), px))
    price = spark.createDataFrame(rows, "symbol string, trade_date date, close_price double")
    symbols = [f"w{s}" for s in range(4)]
    pair = {
        (r.symbol_a, r.symbol_b): (r.correlation, r.n_days)
        for r in A.correlation_matrix(price, symbols).collect()
    }
    wide = {
        (r.symbol_a, r.symbol_b): (r.correlation, r.n_days)
        for r in A.correlation_matrix_wide(price, symbols).collect()
    }
    assert set(pair) == set(wide) and len(pair) == 6
    for k in pair:
        assert pair[k][1] == wide[k][1]  # same observation count
        # same Pearson value modulo last-ulp accumulation differences
        assert abs(pair[k][0] - wide[k][0]) <= 2e-6
