"""Round-7 bank batch 6 operator tests: event-type lift, retention
survival, Garman-Klass volatility, Roll spread, and the order-price
reconciliation audit — each pinned against a hand-computed or numpy
reference on tiny deterministic inputs."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import events as ev
from market_data_pipeline_spark.operators import timeseries as tseries


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def test_event_type_lift_hand_computed(spark):
    """4 users: u1,u2 do A+B, u3 only A, u4 only B.
    N=4, n_a=3, n_b=3, n_both=2 -> lift = 2*4/(3*3) = 0.888889."""
    t = dt.datetime(2024, 1, 1, 9)
    rows = [
        (1, 1, "A", t), (2, 1, "B", t), (3, 2, "A", t), (4, 2, "B", t),
        (5, 3, "A", t), (6, 4, "B", t),
        # duplicates must not inflate counts (distinct (user, type) first)
        (7, 1, "A", t), (8, 3, "A", t),
    ]
    out = ev.event_type_lift(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("A", "B")
    assert (r["n_a"], r["n_b"], r["n_both"]) == (3, 3, 2)
    assert r["lift"] == round(2 * 4 / 9, 6)


def test_event_type_lift_independence_is_one(spark):
    """A perfectly independent split: every user has A, half have B ->
    lift = (N/2)*N / (N * N/2) = 1.0 exactly."""
    t = dt.datetime(2024, 1, 1, 9)
    rows = []
    eid = 0
    for u in range(1, 9):
        eid += 1
        rows.append((eid, u, "A", t))
        if u <= 4:
            eid += 1
            rows.append((eid, u, "B", t))
    out = ev.event_type_lift(_events(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["lift"] == 1.0


def test_retention_survival_reverse_cumulative(spark):
    """Lifetimes 0,0,2,5 -> survival curve (0: 4/4), (2: 2/4), (5: 1/4)."""
    def span(uid, days):
        base = dt.datetime(2024, 1, 1, 9)
        return [
            (uid * 10, uid, "x", base),
            (uid * 10 + 1, uid, "x", base + dt.timedelta(days=days)),
        ]

    rows = span(1, 0)[:1] + span(2, 0)[:1] + span(3, 2) + span(4, 5)
    out = {
        r["lifetime_days"]: r
        for r in ev.retention_survival(_events(spark, rows)).collect()
    }
    assert set(out) == {0, 2, 5}
    assert (out[0]["n_keys"], out[0]["surviving"], out[0]["survival_rate"]) == (2, 4, 1.0)
    assert (out[2]["n_keys"], out[2]["surviving"], out[2]["survival_rate"]) == (1, 2, 0.5)
    assert (out[5]["n_keys"], out[5]["surviving"], out[5]["survival_rate"]) == (1, 1, 0.25)


def _price_df(spark, closes, start=dt.date(2024, 1, 1)):
    """One symbol, consecutive weekdays-agnostic daily closes."""
    rows = [
        ("S", start + dt.timedelta(days=i), float(c)) for i, c in enumerate(closes)
    ]
    return spark.createDataFrame(rows, "symbol string, trade_date date, close_price double")


def test_garman_klass_single_bar_closed_form(spark):
    """Mon..Fri of one ISO week -> one bar; expected value computed with
    the same fixed-point rounding the operator documents."""
    closes = [100.0, 104.0, 98.0, 101.0, 103.0]  # 2024-01-01 is a Monday
    out = tseries.garman_klass_vol(_price_df(spark, closes)).collect()
    assert len(out) == 1
    o, c, h, l = 100.0, 103.0, 104.0, 98.0
    k = 0.3862943611198906
    term = 0.5 * math.log(h / l) ** 2 - k * math.log(c / o) ** 2
    expected = math.sqrt(max(0.0, round(term * 1e12) / 1e12))
    assert out[0]["n_bars"] == 1
    assert out[0]["gk_vol"] == pytest.approx(expected, abs=1e-12)


def test_garman_klass_negative_mean_floors_to_zero(spark):
    """A bar where the close-to-open swing dwarfs the range is
    impossible (|ln C/O| <= ln H/L), so force the floor with a
    DEGENERATE range: H == L (term = -k*ln(C/O)^2 < 0 ... but H=L means
    C=O too). Instead: two days, H/L tiny vs C/O makes term negative:
    closes 100, 100.0001 -> ln(H/L) ~ 1e-6, term ~ 0.5e-12 - k*1e-12 < 0."""
    closes = [100.0, 100.0001]
    out = tseries.garman_klass_vol(_price_df(spark, closes)).collect()
    assert len(out) == 1
    assert out[0]["gk_vol"] == 0.0


def test_roll_spread_vs_numpy(spark):
    """Deterministic bouncy returns -> spread must match
    2*sqrt(-cov_pop(ret_t, ret_{t-1})) rounded to 6 dp."""
    rng = np.random.RandomState(7)
    rets = (0.01 * rng.standard_normal(40) + 0.02 * np.tile([1, -1], 20)).round(6)
    rows = [
        ("S", dt.date(2024, 1, 1) + dt.timedelta(days=i), float(r))
        for i, r in enumerate(rets)
    ]
    df = spark.createDataFrame(rows, "symbol string, trade_date date, ret double")
    out = tseries.roll_spread(df).collect()
    assert len(out) == 1
    x, y = rets[1:], rets[:-1]
    cov = float(np.mean(x * y) - np.mean(x) * np.mean(y))
    expected = round(2 * math.sqrt(max(0.0, -cov)), 6)
    assert out[0]["n_obs"] == 39
    assert out[0]["roll_spread"] == pytest.approx(expected, abs=1e-9)


def test_roll_spread_positive_autocov_is_zero(spark):
    """Trending (positively autocorrelated) returns -> estimator
    clamps at 0 rather than emitting NaN from sqrt(negative)."""
    rows = [
        ("S", dt.date(2024, 1, 1) + dt.timedelta(days=i), 0.01 + 0.001 * i)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "symbol string, trade_date date, ret double")
    out = tseries.roll_spread(df).collect()
    assert out[0]["roll_spread"] == 0.0


def test_dq10_reconciliation_edges(spark, tmp_path):
    """One reconciled order (exact identity), one off by > a cent, one
    childless — the audit must classify all three."""
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 106.08, dt.date(2024, 1, 1), "1-URGENT"),
            (2, 1, "F", 999.99, dt.date(2024, 1, 2), "2-HIGH"),
            (3, 1, "P", 50.0, dt.date(2024, 1, 3), "3-MEDIUM"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    # order 1: 100 * (1-0.0) * (1+0.0608) = 106.08 exactly; order 2: 10.00
    lineitem = spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0608, "N", "O", dt.date(2024, 1, 5)),
            (2, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 6)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    )
    orders.write.parquet(f"{tmp_path}/orders.parquet")
    lineitem.write.parquet(f"{tmp_path}/lineitem.parquet")

    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    out = {r["order_status"]: r for r in QUERIES["dq10_order_price_reconciliation"](spark, str(tmp_path)).collect()}
    assert out["O"]["n_reconciled"] == 1 and out["O"]["total_abs_diff"] == 0.0
    assert out["F"]["n_mismatched"] == 1
    assert out["F"]["total_abs_diff"] == pytest.approx(989.99, abs=1e-9)
    assert out["P"]["n_childless"] == 1 and out["P"]["n_mismatched"] == 0


# --- bank batch 7 -----------------------------------------------------------


def test_quantization_error_vs_numpy(spark):
    """Int8 round-trip error must match a numpy reference using the same
    symmetric per-vector scale and the same fixed-point rounding."""
    from market_data_pipeline_spark.operators.similarity import (
        quantization_error_stats,
    )

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((6, 8)).round(4)
    rows = [(i, [float(x) for x in v], "L") for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = quantization_error_stats(df, group_col="label").collect()
    assert len(out) == 1

    l2s, rels = [], []
    for v in vecs:
        mx = np.max(np.abs(v))
        deq = np.round(v / mx * 127) * mx / 127
        err = v - deq
        e2 = np.round(err * err * 1e12).astype("int64").sum() / 1e12
        n2 = np.round(v * v * 1e9).astype("int64").sum() / 1e9
        l2s.append(math.sqrt(e2))
        rels.append(math.sqrt(e2) / math.sqrt(n2))
    exp_l2 = sum(round(x * 1e9) for x in l2s) / 1e9 / len(l2s)
    exp_rel = sum(round(x * 1e9) for x in rels) / 1e9 / len(rels)
    assert out[0]["n_vectors"] == 6
    assert out[0]["avg_l2_err"] == pytest.approx(exp_l2, abs=1e-12)
    assert out[0]["avg_rel_err"] == pytest.approx(exp_rel, abs=1e-12)
    # int8 at 8 dims: relative error should be small but nonzero
    assert 0 < out[0]["avg_rel_err"] < 0.05


def test_quantization_error_excludes_zero_vectors(spark):
    from market_data_pipeline_spark.operators.similarity import (
        quantization_error_stats,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], "Z"), (2, [1.0, 0.0], "Z")],
        "vec_id long, embedding array<double>, label string",
    )
    out = quantization_error_stats(df, group_col="label").collect()
    assert out[0]["n_vectors"] == 1  # the zero vector is excluded
    assert out[0]["avg_l2_err"] == 0.0  # 1.0 quantizes exactly


def test_doc_entropy_hand_computed(spark, tmp_path):
    """'a a b b' -> 2 bits? No: p=.5/.5 -> entropy 1.0; 'a a a a' -> 0."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    docs = spark.createDataFrame(
        [(1, "a a b b", "en", "s1", 7), (2, "a a a a", "en", "s1", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in QUERIES["tx30_doc_entropy"](spark, str(tmp_path)).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_distinct"] == 2
    assert out[1]["entropy"] == 1.0
    assert out[2]["entropy"] == 0.0


def test_kaufman_er_straight_trend_is_one(spark, tmp_path):
    """Monotone series: net displacement == path length -> ER = 1.0;
    a perfect round trip -> ER = 0.0."""
    from market_data_pipeline_spark.operators import timeseries as _ts  # noqa: F401
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = []
    # symbol 1 trends 100 -> 104; symbol 2 goes 100 -> 102 -> 100
    for i, c in enumerate([100.0, 101.0, 102.0, 103.0, 104.0]):
        rows.append((1, 1, 1, 1, 1.0, c, 0.0, 0.0, "N", "O", dt.date(2024, 1, 1 + i)))
    for i, c in enumerate([100.0, 102.0, 100.0]):
        rows.append((2, 2, 1, 1, 1.0, c, 0.0, 0.0, "N", "O", dt.date(2024, 1, 1 + i)))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    )
    li.write.parquet(f"{tmp_path}/lineitem.parquet")
    out = {r["symbol"]: r for r in QUERIES["ts48_kaufman_er"](spark, str(tmp_path)).collect()}
    assert out["1"]["efficiency_ratio"] == 1.0
    assert out["2"]["efficiency_ratio"] == 0.0


def test_power_users_shares_sum_to_one(spark):
    from market_data_pipeline_spark.operators import events as _ev  # noqa: F401
    from market_data_pipeline_spark.plans.driver_queries import QUERIES
    import tempfile

    t = dt.datetime(2024, 1, 1, 9)
    rows = []
    eid = 0
    # user u produces u events -> heavy skew, 20 users
    for u in range(1, 21):
        for _ in range(u):
            eid += 1
            rows.append((eid, u, "x", t))
    path = tempfile.mkdtemp(prefix="e39_")
    _events(spark, rows).write.parquet(f"{path}/events.parquet")
    out = QUERIES["e39_power_users"](spark, path).orderBy("decile").collect()
    assert len(out) == 10 and sum(r["n_users"] for r in out) == 20
    assert sum(r["events"] for r in out) == 210
    assert abs(sum(r["event_share"] for r in out) - 1.0) < 1e-5
    # decile 1 holds the two heaviest users (20+19 of 210)
    assert out[0]["decile"] == 1 and out[0]["events"] == 39


def test_jaccard_histogram_buckets_partition_pairs(spark, tmp_path):
    """Histogram over threshold-0 candidates must cover every dd2-style
    pair exactly once, including the identical-doc pair in bucket 20."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5", "en", "s", 1),
            (2, "w1 w2 w3 w4 w5", "en", "s", 1),  # identical -> jaccard 1.0
            (3, "w1 w2 w3 zz yy", "en", "s", 1),  # shares shingle 'w1 w2 w3'
            (4, "q1 q2 q3 q4 q5", "en", "s", 1),  # no shared shingle
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["bucket"]: r["n_pairs"] for r in QUERIES["dd22_jaccard_histogram"](spark, str(tmp_path)).collect()}
    assert sum(out.values()) == 3  # (1,2) (1,3) (2,3); doc 4 never pairs
    assert out[20] == 1  # the identical pair at jaccard == 1.0


# --- bank batch 8 -----------------------------------------------------------


def test_oof_encoding_excludes_own_fold(spark, tmp_path):
    """Each (category, fold) mean must be computable from the other
    folds only: reconstruct from raw sums and compare."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES
    from market_data_pipeline_spark.operators.text import kfold_assign

    rows = [
        (k, 1, "O", float(100 + k), dt.date(2024, 1, 1), "1-URGENT" if k % 2 else "2-HIGH")
        for k in range(1, 41)
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    orders.write.parquet(f"{tmp_path}/orders.parquet")
    out = QUERIES["f16_oof_target_encoding"](spark, str(tmp_path)).collect()

    folds = {
        r["o_orderkey"]: r["fold"]
        for r in kfold_assign(orders, key_col="o_orderkey", k=5).collect()
    }
    for r in out:
        other = [
            p for k_, _, _, p, _, prio in rows
            if prio == r["category"] and folds[k_] != r["fold"]
        ]
        assert r["oof_target_mean"] == pytest.approx(
            round(sum(other) / len(other), 6), abs=1e-9
        )


def test_variance_ratio_random_walk_near_one(spark, tmp_path):
    """An iid-increment log price: VR(5) ~ 1 (within sampling noise)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rng = np.random.RandomState(3)
    logp = np.cumsum(rng.standard_normal(400) * 0.01) + 5
    rows = [
        (1, 1, 1, 1, 1.0, float(np.exp(p)), 0.0, 0.0, "N", "O",
         dt.date(2020, 1, 1) + dt.timedelta(days=i))
        for i, p in enumerate(logp)
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    )
    li.write.parquet(f"{tmp_path}/lineitem.parquet")
    out = QUERIES["ts49_variance_ratio"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert 0.6 < out[0]["vr5"] < 1.5  # random walk: VR(5) concentrated near 1


def test_ks_drift_identical_halves_is_zero(spark, tmp_path):
    """Same distribution in both periods -> binned KS exactly 0."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = []
    k = 0
    for period, d0 in ((0, dt.date(1995, 1, 1)), (1, dt.date(1997, 1, 1))):
        for i in range(50):
            k += 1
            rows.append((k, 1, 1, 1, 1.0, 1000.0 * (i % 10) + 500, 0.0, 0.0,
                         "N", "O", d0))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    )
    li.write.parquet(f"{tmp_path}/lineitem.parquet")
    out = QUERIES["dp6_ks_drift"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["ks_stat"] == 0.0
    assert out[0]["n_baseline"] == out[0]["n_current"] == 50


def test_log_index_compounds_mean_returns(spark, tmp_path):
    """Two symbols with identical +1%/day returns -> mean ret 0.01/day,
    log level after d days = ln(100) + d*ln(1.01) (to fixed-point)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = []
    for sym in (1, 2):
        price = 100.0
        for i in range(4):
            rows.append((sym, sym, 1, 1, 1.0, price, 0.0, 0.0, "N", "O",
                         dt.date(2024, 1, 1) + dt.timedelta(days=i)))
            price *= 1.01
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    )
    li.write.parquet(f"{tmp_path}/lineitem.parquet")
    out = QUERIES["a24_equal_weight_index"](spark, str(tmp_path)).collect()
    assert [r["n_symbols"] for r in out] == [2, 2, 2]
    for d, r in enumerate(out, start=1):
        mret = round(round(0.01000000000000001 * 1e9) + 0) / 1e9  # fp of the data's ret
        # reconstruct with the operator's own fixed-point pipeline
        term = round(math.log(1 + mret) * 1e9) / 1e9
        assert r["log_index_level"] == pytest.approx(
            round(math.log(100.0) + d * term, 6), abs=2e-6
        )


# --- bank batch 9 -----------------------------------------------------------


def _li_frame(spark, tmp_path, series):
    """Write lineitem.parquet from {symbol: [(date, close)]}."""
    rows, k = [], 0
    for sym, pts in series.items():
        for d, c in pts:
            k += 1
            rows.append((k, sym, 1, 1, 1.0, float(c), 0.0, 0.0, "N", "O", d))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")


def test_sortino_all_positive_is_null_and_sign(spark, tmp_path):
    """Monotone-up series (no downside) -> NULL sortino; a series with
    losses -> finite value with the sign of the mean return."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    up = [(d0 + dt.timedelta(days=i), 100 * (1.01 ** i)) for i in range(40)]
    mixed = [
        (d0 + dt.timedelta(days=i), 100 * (1.02 if i % 2 else 0.99) ** i)
        for i in range(40)
    ]
    _li_frame(spark, tmp_path, {1: up, 2: mixed})
    out = {r["symbol"]: r for r in QUERIES["ts50_sortino"](spark, str(tmp_path)).collect()}
    assert out["1"]["sortino"] is None
    assert out["2"]["sortino"] is not None


def test_vocab_coverage_curve_monotone_and_complete(spark, tmp_path):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    docs = spark.createDataFrame(
        [(1, "a a a a b b c d", "en", "s", 1), (2, "a b b e", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["tx32_vocab_coverage_curve"](spark, str(tmp_path)).collect()
    # vocab = {a:5, b:4, c:1, d:1, e:1}, total 12; checkpoints 1, 2, 5(=vocab)
    assert [r["vocab_size"] for r in out] == [1, 2, 5]
    assert [r["covered_tokens"] for r in out] == [5, 9, 12]
    assert out[-1]["coverage"] == 1.0
    cov = [r["coverage"] for r in out]
    assert cov == sorted(cov)


def test_status_change_rate_hand_computed(spark, tmp_path):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = []
    # cust 1: O O F O -> 2 changes; cust 2: F F -> 0 changes
    for i, s in enumerate(["O", "O", "F", "O"]):
        rows.append((i + 1, 1, s, 10.0, dt.date(2024, 1, 1 + i), "x"))
    for i, s in enumerate(["F", "F"]):
        rows.append((i + 10, 2, s, 10.0, dt.date(2024, 1, 1 + i), "x"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = {r["n_changes"]: r["n_customers"] for r in QUERIES["cdc5_status_change_rate"](spark, str(tmp_path)).collect()}
    assert out == {0: 1, 2: 1}


def test_downside_beta_scaled_series_is_one(spark, tmp_path):
    """Two symbols that are exact scalar multiples of one path: the
    equal-weight index is the same path up to scale, so every return
    matches the market return and downside beta is exactly 1.0. Prices
    are whole integers so the DECIMAL(18,2) index average is exact."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    a, path = 200, []
    for i in range(30):
        if i:
            a = a - 2 if i % 2 else a + 4
        path.append((d0 + dt.timedelta(days=i), a))
    _li_frame(
        spark,
        tmp_path,
        {1: path, 2: [(d, c / 2) for d, c in path]},
    )
    out = {
        r["symbol"]: r
        for r in QUERIES["ts51_downside_beta"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {"1", "2"}
    # odd i (1,3,...,29) are the down steps -> 15 market down days
    assert out["1"]["n_down_days"] == 15
    assert out["2"]["n_down_days"] == 15
    assert out["1"]["downside_beta"] == 1.0
    assert out["2"]["downside_beta"] == 1.0


def test_new_highs_lows_monotone_paths(spark, tmp_path):
    """One strictly ascending and one strictly descending 25-day path:
    only the 6 dates with a full 20-observation window emit rows, and
    each shows exactly one new high (the ascender) and one new low
    (the descender)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    up = [(d0 + dt.timedelta(days=i), 100 + i) for i in range(25)]
    dn = [(d0 + dt.timedelta(days=i), 1000 - i) for i in range(25)]
    _li_frame(spark, tmp_path, {1: up, 2: dn})
    out = QUERIES["a26_new_highs_lows"](spark, str(tmp_path)).orderBy("trade_date").collect()
    assert len(out) == 6
    assert [r["trade_date"] for r in out] == [
        d0 + dt.timedelta(days=i) for i in range(19, 25)
    ]
    for r in out:
        assert (r["new_highs"], r["new_lows"], r["n_symbols"]) == (1, 1, 2)


def test_hapax_by_source_hand_computed(spark, tmp_path):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "a b a", "en", "s1", 5),
            (2, "c", "en", "s1", 1),
            (3, "x x", "en", "s2", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["source"]: r
        for r in QUERIES["tx33_hapax_by_source"](spark, str(tmp_path)).collect()
    }
    # s1: {a:2, b:1, c:1} -> vocab 3, total 4, hapax 2
    assert (
        out["s1"]["vocab_size"],
        out["s1"]["total_tokens"],
        out["s1"]["hapax_count"],
    ) == (3, 4, 2)
    assert out["s1"]["hapax_ratio"] == pytest.approx(0.666667)
    # s2: {x:2} -> no hapax
    assert (
        out["s2"]["vocab_size"],
        out["s2"]["total_tokens"],
        out["s2"]["hapax_count"],
        out["s2"]["hapax_ratio"],
    ) == (1, 2, 0, 0.0)


# --- bank batch 11 ----------------------------------------------------------


def test_doc_length_gini_known_values(spark, tmp_path):
    """Equal lengths -> gini 0 exactly; lengths 1,1,1,97 -> closed form
    2*(1+2+3+388)/(4*100) - 5/4 = 0.72."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = (
        [(i, "t", "en", "even", 50) for i in range(4)]
        + [(10, "t", "en", "skew", 1), (11, "t", "en", "skew", 1),
           (12, "t", "en", "skew", 1), (13, "t", "en", "skew", 97)]
    )
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["source"]: r
        for r in QUERIES["tx35_doc_length_gini"](spark, str(tmp_path)).collect()
    }
    assert (out["even"]["n_docs"], out["even"]["total_chars"]) == (4, 200)
    assert out["even"]["length_gini"] == 0.0
    assert (out["skew"]["n_docs"], out["skew"]["total_chars"]) == (4, 100)
    assert out["skew"]["length_gini"] == pytest.approx(0.72)


def test_monthly_hhi_two_months(spark, tmp_path):
    """Jan: shares 75/25 -> HHI 0.625; Feb: 50/50 -> HHI 0.5 exactly."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    jan, feb = dt.date(2024, 1, 10), dt.date(2024, 2, 10)
    _li_frame(
        spark,
        tmp_path,
        {1: [(jan, 75.0), (feb, 40.0)], 2: [(jan, 25.0), (feb, 40.0)]},
    )
    out = {r["month"]: r for r in QUERIES["a27_monthly_hhi"](spark, str(tmp_path)).collect()}
    assert (out["2024-01"]["n_symbols"], out["2024-01"]["hhi"]) == (2, 0.625)
    assert (out["2024-02"]["n_symbols"], out["2024-02"]["hhi"]) == (2, 0.5)


def test_readability_hand_computed(spark, tmp_path):
    """'The table runs. It works well!': 6 tokens, 2 sentences, 7 vowel
    groups -> FRE = 206.835 - 1.015*3 - 84.6*(7/6); a terminator-less
    doc scores as ONE sentence (3 words, 7 vowel groups)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "The table runs. It works well!", "en", "s1", 30),
            (2, "no terminator here", "en", "s1", 18),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["tx36_readability"](spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["n_docs_scored"] == 2
    f1 = 206.835 - 1.015 * (6 / 2) - 84.6 * (7 / 6)
    f2 = 206.835 - 1.015 * (3 / 1) - 84.6 * (7 / 3)
    expected = (round(f1 * 1e6) + round(f2 * 1e6)) / 1e6 / 2
    assert out[0]["avg_flesch"] == pytest.approx(expected, abs=1e-9)


def test_daily_error_rate_hand_computed(spark, tmp_path):
    """Day 1: 4 events (1 error) across users 1,2 with only user 1
    erroring -> rate 0.25, affected 1 of 2; day 2: no errors -> 0.0
    and affected 0."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d1, d2 = dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 2, 9)
    rows = [
        (1, 1, "view", d1), (2, 1, "error", d1),
        (3, 2, "click", d1), (4, 2, "view", d1),
        (5, 1, "view", d2), (6, 2, "purchase", d2),
    ]
    _events(spark, rows).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["day"]: r for r in QUERIES["e42_daily_error_rate"](spark, str(tmp_path)).collect()}
    r1 = out[dt.date(2024, 1, 1)]
    assert (r1["n_events"], r1["n_errors"], r1["n_users"], r1["n_affected_users"]) == (4, 1, 2, 1)
    assert r1["error_rate"] == 0.25
    r2 = out[dt.date(2024, 1, 2)]
    assert (r2["n_errors"], r2["error_rate"], r2["n_affected_users"]) == (0, 0.0, 0)


def test_price_elasticity_exact_loglog_line(spark, tmp_path):
    """Quantities chosen so ln(q) = -2*ln(unit_price) + c exactly ->
    slope -2; a flat-demand brand (same q at all prices) -> slope 0."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows, k = [], 0
    # brand A: unit prices 2,4,8; q = 64/p^2 -> 16, 4, 1 (exact line)
    for p_, q in [(2.0, 16.0), (4.0, 4.0), (8.0, 1.0)]:
        k += 1
        rows.append((k, 1, 1, 1, q, p_ * q, 0.0, 0.0, "N", "O", dt.date(2024, 1, k)))
    # brand B: q = 5 at prices 1 and 10 -> slope 0
    for p_ in (1.0, 10.0):
        k += 1
        rows.append((k, 2, 1, 1, 5.0, p_ * 5.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, k)))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "n1", "BRAND#A"), (2, "n2", "BRAND#B")],
        "p_partkey long, p_name string, p_brand string",
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = {r["brand"]: r for r in QUERIES["j13_price_elasticity"](spark, str(tmp_path)).collect()}
    assert out["BRAND#A"]["n_lines"] == 3
    assert out["BRAND#A"]["elasticity"] == pytest.approx(-2.0, abs=1e-6)
    assert out["BRAND#B"]["elasticity"] == pytest.approx(0.0, abs=1e-6)


def test_sourcing_entropy_hand_computed(spark, tmp_path):
    """Customer 1 splits 50/50 across two nations -> entropy ln(2);
    customer 2 single-sources -> 0. Both in one segment -> avg."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d = dt.date(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", d),
            (1, 1, 2, 2, 1.0, 100.0, 0.0, 0.0, "N", "O", d),
            (2, 1, 1, 1, 1.0, 40.0, 0.0, 0.0, "N", "O", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1, "O"), (2, 2, "O")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "s_suppkey long, s_nationkey long"
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(10, "KOREA"), (20, "JAPAN")], "n_nationkey long, n_name string"
    ).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(1, "BUILDING"), (2, "BUILDING")],
        "c_custkey long, c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    out = QUERIES["j14_sourcing_entropy"](spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["n_customers"] == 2
    expected = (round(math.log(2) * 1e6) + 0) / 1e6 / 2
    assert out[0]["avg_sourcing_entropy"] == pytest.approx(expected, abs=1e-9)


def test_price_dispersion_hand_computed(spark, tmp_path):
    """Part 1 sells at unit prices 10 and 20 -> ln(2); part 2 has one
    line (dropped); part 3 sells at one price twice -> ln(1) = 0."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d = dt.date(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d),
            (2, 1, 1, 1, 2.0, 40.0, 0.0, 0.0, "N", "O", d),
            (3, 2, 1, 1, 1.0, 7.0, 0.0, 0.0, "N", "O", d),
            (4, 3, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", d),
            (5, 3, 1, 1, 3.0, 15.0, 0.0, 0.0, "N", "O", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "n", "B#A"), (2, "n", "B#A"), (3, "n", "B#B")],
        "p_partkey long, p_name string, p_brand string",
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = {r["brand"]: r for r in QUERIES["a28_price_dispersion"](spark, str(tmp_path)).collect()}
    assert out["B#A"]["n_parts"] == 1  # part 2's single line dropped
    assert out["B#A"]["avg_log_price_range"] == pytest.approx(
        round(math.log(2) * 1e6) / 1e6, abs=1e-9
    )
    assert (out["B#B"]["n_parts"], out["B#B"]["avg_log_price_range"]) == (1, 0.0)


def test_return_rates_revenue_weighting(spark, tmp_path):
    """Brand A: the returned line carries 90 of 100 revenue cents ->
    line rate 0.5 but revenue rate 0.9 — the weighting the query
    exists to expose."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d = dt.date(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 0.90, 0.0, 0.0, "R", "O", d),
            (2, 1, 1, 1, 1.0, 0.10, 0.0, 0.0, "N", "O", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "n", "B#A")], "p_partkey long, p_name string, p_brand string"
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = QUERIES["a29_return_rates"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_lines"], r["n_returned"], r["line_return_rate"]) == (2, 1, 0.5)
    assert r["revenue_return_rate"] == 0.9


def test_split_representativeness_identical_halves(spark, tmp_path):
    """Even and odd ids carry the SAME two vectors -> centroids equal ->
    cosine exactly 1.0; a label whose halves are orthogonal -> 0.0."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = [
        # label 1: both parities average to (0.5, 0.5)
        (0, [1.0, 0.0], 1), (2, [0.0, 1.0], 1),
        (1, [1.0, 0.0], 1), (3, [0.0, 1.0], 1),
        # label 2: even ids on x-axis, odd ids on y-axis -> cosine 0
        (10, [1.0, 0.0], 2), (12, [1.0, 0.0], 2),
        (11, [0.0, 1.0], 2), (13, [0.0, 1.0], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {
        r["label"]: r
        for r in QUERIES["k23_split_representativeness"](spark, str(tmp_path)).collect()
    }
    assert (out[1]["n_even"], out[1]["n_odd"]) == (2, 2)
    assert out[1]["split_cosine"] == 1.0
    assert out[2]["split_cosine"] == 0.0


def test_supplier_risk_exposure_tiers(spark, tmp_path):
    """Supplier 1 (negative bal) carries 30 of 100 revenue cents;
    supplier 2 (healthy) carries 70 -> shares 0.3 / 0.7 exactly."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d = dt.date(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 0.30, 0.0, 0.0, "N", "O", d),
            (2, 1, 2, 1, 1.0, 0.70, 0.0, 0.0, "N", "O", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, -10.0), (2, 9000.0)], "s_suppkey long, s_acctbal double"
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    out = {
        r["tier"]: r
        for r in QUERIES["j15_supplier_risk_exposure"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {"negative", "healthy"}
    assert (out["negative"]["n_suppliers"], out["negative"]["revenue_share"]) == (1, 0.3)
    assert (out["healthy"]["revenue"], out["healthy"]["revenue_share"]) == (0.7, 0.7)


def test_status_invariant_detects_violation(spark, tmp_path):
    """Order 1: declared F, all lines F -> consistent. Order 2:
    declared O but one line F (mixed) -> derived P, a violation."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d = dt.date(2024, 1, 1)
    # lines 1-2 -> order 1 (all F); lines 3-4 -> order 2 (mixed F/O)
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "F", d),
            (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "F", d),
            (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "F", d),
            (2, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1, "F"), (2, 1, "O")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = {r["status"]: r for r in QUERIES["dq12_status_invariant"](spark, str(tmp_path)).collect()}
    assert (out["F"]["n_consistent"], out["F"]["n_violations"]) == (1, 0)
    assert (out["O"]["n_consistent"], out["O"]["n_violations"]) == (0, 1)


def test_margin_health_hand_computed(spark, tmp_path):
    """Retail 10: one line at unit 8 (below, markup -0.2), one at 15
    (above, +0.5) -> share 0.5, avg markup 0.15."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d = dt.date(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 8.0, 0.0, 0.0, "N", "O", d),
            (2, 1, 1, 1, 2.0, 30.0, 0.0, 0.0, "N", "O", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "n", "B", "COPPER", 5, 10.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = QUERIES["a30_margin_health"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_lines"], r["n_below_retail"], r["below_retail_share"]) == (2, 1, 0.5)
    assert r["avg_markup"] == pytest.approx(0.15, abs=1e-9)


def test_vol_regimes_tercile_split(spark, tmp_path):
    """Six months with strictly increasing |return| levels -> terciles
    of exactly 2 months each, regime_abs_ret strictly increasing and
    all up-shares 1.0 (monotone-up paths)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    series = []
    c = 100.0
    # month k (1..6): daily return ~ k%, 10 trading days per month
    for k in range(1, 7):
        for day in range(1, 11):
            series.append((dt.date(2024, k, day), c))
            c *= 1 + 0.01 * k
    _li_frame(spark, tmp_path, {1: series})
    out = QUERIES["ts55_vol_regimes"](spark, str(tmp_path)).collect()
    assert [r["regime"] for r in out] == ["calm", "normal", "turbulent"]
    assert all(r["n_months"] == 2 for r in out)
    vals = [r["regime_abs_ret"] for r in out]
    assert vals[0] < vals[1] < vals[2]
    assert all(r["regime_up_share"] == 1.0 for r in out)


def test_activity_streaks_islands(spark, tmp_path):
    """User 1: days 1,2,3 then 5,6 -> best 3; user 2: day 1 only ->
    best 1; multiple events in one day count once."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    def at(day, hour=9):
        return dt.datetime(2024, 1, day, hour)

    rows = [
        (1, 1, "x", at(1)), (2, 1, "x", at(1, 15)),  # dup day
        (3, 1, "x", at(2)), (4, 1, "x", at(3)),
        (5, 1, "x", at(5)), (6, 1, "x", at(6)),
        (7, 2, "x", at(1)),
    ]
    _events(spark, rows).write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r["streak_days"]: r["n_users"]
        for r in QUERIES["e43_activity_streaks"](spark, str(tmp_path)).collect()
    }
    assert out == {1: 1, 3: 1}


def test_new_vs_repeat_revenue_split(spark, tmp_path):
    """Customer 1 first orders in Jan (2 orders) and repeats in Feb;
    customer 2 is new in Feb -> Jan 100% new; Feb share = 30/(30+20)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    spark.createDataFrame(
        [
            (1, 1, "O", 10.0, dt.date(2024, 1, 5), "p"),
            (2, 1, "O", 15.0, dt.date(2024, 1, 20), "p"),
            (3, 1, "O", 20.0, dt.date(2024, 2, 3), "p"),
            (4, 2, "O", 30.0, dt.date(2024, 2, 10), "p"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = {
        r["month"]: r
        for r in QUERIES["a31_new_vs_repeat_revenue"](spark, str(tmp_path)).collect()
    }
    jan, feb = out["2024-01"], out["2024-02"]
    assert (jan["n_orders"], jan["n_new_customer_orders"]) == (2, 2)
    assert (jan["new_customer_revenue"], jan["new_revenue_share"]) == (25.0, 1.0)
    assert (feb["n_orders"], feb["n_new_customer_orders"]) == (2, 1)
    assert feb["new_customer_revenue"] == 30.0
    assert feb["new_revenue_share"] == 0.6


def test_last_digit_bias_hand_computed(spark, tmp_path):
    """Totals 10,20,35,47: last digits 0,0,5,7 -> digit 0 share 0.5,
    deviation 2*10/4 - 1 = 4.0; digits 5 and 7 share 0.25 each,
    deviation 10/4 - 1 = 1.5."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    spark.createDataFrame(
        [
            (1, 1, "O", 10.0, dt.date(2024, 1, 1), "p"),
            (2, 1, "O", 20.0, dt.date(2024, 1, 2), "p"),
            (3, 1, "O", 35.5, dt.date(2024, 1, 3), "p"),
            (4, 1, "O", 47.9, dt.date(2024, 1, 4), "p"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = {r["digit"]: r for r in QUERIES["dq13_last_digit_bias"](spark, str(tmp_path)).collect()}
    assert set(out) == {0, 5, 7}
    assert (out[0]["n"], out[0]["observed_share"]) == (2, 0.5)
    assert out[0]["uniform_deviation"] == 4.0
    assert (out[5]["n"], out[5]["observed_share"], out[5]["uniform_deviation"]) == (1, 0.25, 1.5)


def test_listing_age_vol_buckets(spark, tmp_path):
    """Two symbols with constant |ret| 0.01 and 0.03; partkeys chosen
    so master assigns listing ages in different year buckets."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    # master: listing_date = 1994-01-01 + (pk % 1000) days for pk % 5 != 0
    # pk=1 -> 1994-01-02 (age ~4y); pk=901 -> 1996-07-21 (age ~2y)
    s1 = [(d0 + dt.timedelta(days=i), 100 * 1.01**i) for i in range(15)]
    s2 = [(d0 + dt.timedelta(days=i), 100 * 1.03**i) for i in range(15)]
    _li_frame(spark, tmp_path, {1: s1, 901: s2})
    spark.createDataFrame(
        [(1, "n1", "B"), (901, "n2", "B")],
        "p_partkey long, p_name string, p_brand string",
    ).write.parquet(f"{tmp_path}/part.parquet")
    out = {
        r["age_years"]: r
        for r in QUERIES["a32_listing_age_vol"](spark, str(tmp_path)).collect()
    }
    assert len(out) == 2
    ages = sorted(out)
    young, old = out[ages[0]], out[ages[1]]
    assert young["n_symbols"] == 1 and old["n_symbols"] == 1
    # the younger listing (pk=901) is the 3% mover, the older the 1%
    assert young["avg_abs_ret"] == pytest.approx(0.03, abs=1e-6)
    assert old["avg_abs_ret"] == pytest.approx(0.01, abs=1e-6)


def test_frame_cache_bounded_per_session(spark, sf_dir):
    """r10 advice: one long-lived session touching many sf_dirs (sweep
    clones, tmp_path tests) must not accumulate a checkpointed price
    frame per directory — staged_frame keeps only the newest
    checkpointed entries per (session, name) and releases evicted
    frames' blocks. Path variants of the same directory are distinct
    keys, so no data copies are needed to simulate many directories."""
    from market_data_pipeline_spark.plans import driver_queries as dq
    from market_data_pipeline_spark.sources import catalog as cat

    def kept():
        return [k[1] for k in cat._STAGED if k[0] is spark and k[2] == "price"]

    cap = cat._STAGED_CAP[True]
    variants = [
        sf_dir,
        sf_dir + "/",
        sf_dir + "/.",
        sf_dir + "//",
        sf_dir + "/./.",
        sf_dir + "/.//",
    ]
    for v in variants:
        dq.price_frame(spark, v).limit(1).count()  # materialize each
    # the SURVIVORS are the most recently USED dirs, and still compute
    assert kept() == variants[-cap:]
    assert dq.price_frame(spark, variants[-1]) is dq.price_frame(spark, variants[-1])
    assert dq.price_frame(spark, variants[-1]).count() > 0
    # an evicted dir re-stages transparently on next request
    assert dq.price_frame(spark, variants[0]).count() > 0
    # LRU, not FIFO (r11 review): re-touching the eldest survivor
    # refreshes it, so the NEXT eviction takes a different key
    eldest = kept()[0]
    dq.price_frame(spark, eldest).limit(1).count()  # refresh
    dq.price_frame(spark, variants[1]).limit(1).count()  # insert -> evict
    assert eldest in kept() and len(kept()) == cap
    # a dead-session entry purges without disturbing live ones, and a
    # live hit right after a purge must not KeyError (r11 review: the
    # post-lookup purge deleted the entry being returned)
    class _DeadSess:
        class _SC:
            _jsc = None
        sparkContext = _SC()
    cat._STAGED[(_DeadSess(), "/nowhere", "price", ())] = ((), None)
    hit = dq.price_frame(spark, eldest)
    assert hit is dq.price_frame(spark, eldest) and hit.count() > 0
    assert not any(k[1] == "/nowhere" for k in cat._STAGED)
