"""Hypothesis properties for the bank batch 6-8 operators: each is
compared against an independent pure-Python reference that replicates
the operator's documented fixed-point contract (HALF_UP rounding, exact
BIGINT sums), so integer-valued generated inputs give equality checks
and float paths get one-rounding-step tolerances."""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from market_data_pipeline_spark.operators import events as ev
from market_data_pipeline_spark.operators import timeseries as tseries
from prop_helpers import rhu as _rhu

SET = settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


# --- retention survival: exact integer contract -----------------------------

events_strategy = st.lists(
    st.tuples(st.integers(1, 8), st.integers(0, 40)),  # (user, day offset)
    min_size=1,
    max_size=60,
)


@SET
@given(events_strategy)
def test_retention_survival_matches_reference(spark, pairs):
    base = dt.datetime(2024, 1, 1, 12)
    rows = [
        (i, u, "x", base + dt.timedelta(days=d)) for i, (u, d) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r["lifetime_days"]: (r["n_keys"], r["surviving"], r["survival_rate"])
        for r in ev.retention_survival(df).collect()
    }

    spans: dict[int, list[int]] = {}
    for u, d in pairs:
        spans.setdefault(u, []).append(d)
    lifetimes = sorted(max(v) - min(v) for v in spans.values())
    total = len(lifetimes)
    by_lt: dict[int, int] = {}
    for lt in lifetimes:
        by_lt[lt] = by_lt.get(lt, 0) + 1
    expected = {}
    for lt, n in by_lt.items():
        surviving = sum(c for k, c in by_lt.items() if k >= lt)
        expected[lt] = (n, surviving, _rhu(surviving / total, 6))
    assert got == expected


# --- event-type lift: exact counts + one rounded division -------------------

lift_strategy = st.lists(
    st.tuples(st.integers(1, 6), st.sampled_from(["A", "B", "C"])),
    min_size=1,
    max_size=40,
)


@SET
@given(lift_strategy)
def test_event_type_lift_matches_reference(spark, pairs):
    base = dt.datetime(2024, 1, 1, 12)
    rows = [(i, u, t, base) for i, (u, t) in enumerate(pairs)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        (r["type_a"], r["type_b"]): (r["n_a"], r["n_b"], r["n_both"], r["lift"])
        for r in ev.event_type_lift(df).collect()
    }

    kt = set(pairs)
    users = {u for u, _ in kt}
    types = sorted({t for _, t in kt})
    per_type = {t: sum(1 for u in users if (u, t) in kt) for t in types}
    expected = {}
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            both = sum(1 for u in users if (u, a) in kt and (u, b) in kt)
            if both:
                expected[(a, b)] = (
                    per_type[a],
                    per_type[b],
                    both,
                    _rhu(both * len(users) / (per_type[a] * per_type[b]), 6),
                )
    assert got == expected


# --- Garman-Klass: python reference with the same fixed-point contract ------

gk_strategy = st.lists(
    st.integers(50, 500),  # integer prices: h/l and c/o ratios are exact doubles
    min_size=2,
    max_size=30,
)


@SET
@given(gk_strategy)
def test_garman_klass_matches_reference(spark, closes):
    start = dt.date(2024, 1, 1)  # a Monday
    rows = [
        ("S", start + dt.timedelta(days=i), float(c)) for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_date date, close_price double"
    )
    out = tseries.garman_klass_vol(df).collect()
    assert len(out) == 1

    # weekly bars, ISO Monday weeks (date_trunc('week'))
    bars: dict[dt.date, list[tuple[dt.date, float]]] = {}
    for i, c in enumerate(closes):
        d = start + dt.timedelta(days=i)
        monday = d - dt.timedelta(days=d.weekday())
        bars.setdefault(monday, []).append((d, float(c)))
    k = 0.3862943611198906
    qvs = []
    for bar in bars.values():
        bar.sort()
        o, c = bar[0][1], bar[-1][1]
        h = max(v for _, v in bar)
        l = min(v for _, v in bar)
        term = 0.5 * math.log(h / l) ** 2 - k * math.log(c / o) ** 2
        qvs.append(int(_rhu(term * 1e12)))
    expected = math.sqrt(max(0.0, sum(qvs) / 1e12 / len(qvs)))
    assert out[0]["n_bars"] == len(qvs)
    # JVM Math.log vs libm log may differ in the last ulp before the
    # fixed-point round — allow one 1e-12 quantum through the sqrt
    assert abs(out[0]["gk_vol"] - expected) < 1e-6


# --- quantization error: exact fixed-point with HALF_UP reference -----------

quant_strategy = st.lists(
    st.lists(st.integers(-8, 8), min_size=2, max_size=6).filter(
        lambda v: any(x != 0 for x in v)
    ),
    min_size=1,
    max_size=8,
)


@SET
@given(quant_strategy)
def test_quantization_error_matches_reference(spark, vecs):
    from market_data_pipeline_spark.operators.similarity import (
        quantization_error_stats,
    )

    rows = [(i, [float(x) for x in v], "L") for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = quantization_error_stats(df, group_col="label").collect()
    assert len(out) == 1

    l2s, rels = [], []
    for v in vecs:
        mx = float(max(abs(x) for x in v))
        err = [x - _rhu(x / mx * 127) * mx / 127 for x in map(float, v)]
        e2 = sum(int(_rhu(d * d * 1e12)) for d in err) / 1e12
        n2 = sum(int(_rhu(float(x) * float(x) * 1e9)) for x in v) / 1e9
        l2s.append(math.sqrt(e2))
        rels.append(math.sqrt(e2) / math.sqrt(n2))
    exp_l2 = sum(int(_rhu(x * 1e9)) for x in l2s) / 1e9 / len(l2s)
    exp_rel = sum(int(_rhu(x * 1e9)) for x in rels) / 1e9 / len(rels)
    assert out[0]["n_vectors"] == len(vecs)
    assert abs(out[0]["avg_l2_err"] - exp_l2) < 1e-9
    assert abs(out[0]["avg_rel_err"] - exp_rel) < 1e-9
