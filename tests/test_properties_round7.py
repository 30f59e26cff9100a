"""Round-7 property tests (r6 verdict #6): the four riskiest previously
hand-pin-only bank pipelines — Hurst exponent, Lo-MacKinlay variance
ratio, out-of-fold target encoding, and int8 quantization-error audit —
each against an independent pure-Python reference that reproduces the
queries' documented pipelines over hypothesis-generated inputs. The
round-6c pattern: this approach surfaced k23's zero-norm ANSI
divide-by-zero, which no hand-picked fixture had hit."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from prop_helpers import rhu as _rhu, write_lineitem as _write_lineitem

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)


def _fp(x: float) -> int:
    """Spark's ROUND(x) -> double -> CAST(decimal(38,0)) chain for values
    that may exceed 2^53: the rounded value becomes a DOUBLE first (Round
    on DoubleType returns double), and the decimal cast then takes the
    shortest-repr decimal of THAT double — so the reference must also go
    through the double."""
    d = Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP)
    return int(Decimal(repr(float(d))))


def _var_samp(xs: list[float]) -> float | None:
    if len(xs) < 2:
        return None
    m = sum(xs) / len(xs)
    return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)


# --- ts45_hurst_exponent -----------------------------------------------------


@st.composite
def hurst_series(draw):
    """1-3 symbols from RETURN_SYMBOLS, each a consecutive-day series of
    2-decimal closes long enough to populate several lag scales."""
    syms = draw(
        st.lists(st.sampled_from([3, 7, 21, 42]), min_size=1, max_size=3, unique=True)
    )
    out = []
    for s in syms:
        n = draw(st.integers(min_value=3, max_value=40))
        closes = draw(
            st.lists(
                st.integers(min_value=50, max_value=99900),
                min_size=n,
                max_size=n,
            )
        )
        out.append((s, [c / 100.0 for c in closes]))
    return out


@SET
@given(hurst_series())
def test_hurst_matches_python(spark, tmp_path, series):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    pts = [
        (s, d0 + dt.timedelta(days=i), c)
        for s, closes in series
        for i, c in enumerate(closes)
    ]
    _write_lineitem(spark, tmp_path, pts)
    got = {
        r["symbol"]: (r["n_scales"], r["hurst"])
        for r in QUERIES["ts45_hurst_exponent"](spark, str(tmp_path)).collect()
    }

    want = {}
    for s, closes in series:
        scales = []
        for q in (1, 2, 4, 8, 16):
            rets = [closes[i] / closes[i - q] - 1 for i in range(q, len(closes))]
            v = _var_samp(rets)
            if v is None:
                continue
            v = _rhu(v, 6)
            if v > 0:
                scales.append((math.log(q), math.log(v)))
        if not scales:
            continue
        n = len(scales)
        sx = sum(x for x, _ in scales)
        sy = sum(y for _, y in scales)
        sxx = sum(x * x for x, _ in scales)
        sxy = sum(x * y for x, y in scales)
        varx = sxx - sx * sx / n
        hurst = None if n < 2 or varx == 0 else _rhu((sxy - sx * sy / n) / varx / 2, 6)
        want[str(s)] = (n, hurst)

    assert set(got) == set(want)
    for sym, (n, hurst) in want.items():
        gn, gh = got[sym]
        assert gn == n
        if hurst is None:
            assert gh is None
        else:
            # var_samp and ln are engine-native floats; a 6dp rounding
            # boundary can flip the last digit — tolerance, not equality
            assert gh is not None and abs(gh - hurst) < 1e-4


# --- ts49_variance_ratio -----------------------------------------------------


@st.composite
def vr_series(draw):
    syms = draw(
        st.lists(st.integers(min_value=1, max_value=5), min_size=1, max_size=3,
                 unique=True)
    )
    out = []
    for s in syms:
        n = draw(st.integers(min_value=5, max_value=40))
        closes = draw(
            st.lists(
                st.integers(min_value=100, max_value=99900),
                min_size=n,
                max_size=n,
            )
        )
        out.append((s, [c / 100.0 for c in closes]))
    return out


@SET
@given(vr_series())
def test_variance_ratio_matches_python(spark, tmp_path, series):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    pts = [
        (s, d0 + dt.timedelta(days=i), c)
        for s, closes in series
        for i, c in enumerate(closes)
    ]
    _write_lineitem(spark, tmp_path, pts)
    got = {
        r["symbol"]: (r["n_daily"], r["n_5d"], r["vr5"])
        for r in QUERIES["ts49_variance_ratio"](spark, str(tmp_path)).collect()
    }

    want = {}
    for s, closes in series:
        r1 = [math.log(closes[i] / closes[i - 1]) for i in range(1, len(closes))]
        r5 = [math.log(closes[i] / closes[i - 5]) for i in range(5, len(closes))]
        if len(r5) < 10:
            continue
        s1 = sum(int(_rhu(r * 1e9)) for r in r1)
        q1 = sum(int(_rhu(r * r * 1e12)) for r in r1)
        s5 = sum(int(_rhu(r * 1e9)) for r in r5)
        q5 = sum(int(_rhu(r * r * 1e12)) for r in r5)
        n1, n5 = len(r1), len(r5)
        var1 = q1 / 1e12 / n1 - (s1 / 1e9 / n1) * (s1 / 1e9 / n1)
        var5 = q5 / 1e12 / n5 - (s5 / 1e9 / n5) * (s5 / 1e9 / n5)
        denom = 5 * var1
        vr5 = None if denom == 0 else _rhu(var5 / denom, 6)
        want[str(s)] = (n1, n5, vr5)

    assert set(got) == set(want)
    for sym, (n1, n5, vr5) in want.items():
        gn1, gn5, gvr = got[sym]
        assert (gn1, gn5) == (n1, n5)
        if vr5 is None:
            assert gvr is None
        else:
            # ln is engine-native; a 1-ulp difference can move one 1e-9
            # fixed-point count — tolerance on the final 6dp ratio
            assert gvr is not None and abs(gvr - vr5) < 1e-5


# --- f16_oof_target_encoding -------------------------------------------------


def _fold(key) -> int:
    h2 = hashlib.md5(f"fold:{key}".encode()).hexdigest()[:2]
    for i, edge in enumerate(("33", "66", "99", "cc")):
        if h2 < edge:
            return i
    return 4


@SET
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
            st.integers(min_value=100, max_value=50_000_000),  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_oof_target_encoding_matches_python(spark, tmp_path, rows):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    orders = [
        (i + 1, 1, "O", cents / 100.0, dt.datetime(2024, 1, 1), prio)
        for i, (prio, cents) in enumerate(rows)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = {
        (r["category"], r["fold"]): (r["n_in_fold"], r["oof_target_mean"])
        for r in QUERIES["f16_oof_target_encoding"](spark, str(tmp_path)).collect()
    }

    per = {}
    for i, (prio, cents) in enumerate(rows):
        fold = _fold(i + 1)
        fc, fn = per.get((prio, fold), (0, 0))
        per[(prio, fold)] = (fc + int(_rhu(cents / 100.0 * 100)), fn + 1)
    want = {}
    for (prio, fold), (fc, fn) in per.items():
        tot_c = sum(c for (p, _), (c, _) in per.items() if p == prio)
        tot_n = sum(n for (p, _), (_, n) in per.items() if p == prio)
        oof_c, oof_n = tot_c - fc, tot_n - fn
        # all of a category in one fold -> no out-of-fold data -> NULL;
        # otherwise exact half-up micro-dollar rounding in integer
        # space, the query's documented semantics (r7 extremes sweep:
        # double ROUND(x, 6) above ~1e10 is engine-divergent)
        mean = (
            None
            if oof_n == 0
            else ((oof_c * 20000 + oof_n) // (2 * oof_n)) / 1e6
        )
        want[(prio, fold)] = (fn, mean)

    assert got == want


# --- k22 / quantization_error_stats ------------------------------------------


@SET
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.lists(
                # large components exercise the decimal(38,0) fix: a
                # BIGINT fold wrapped silently beyond ~3e4 (r6 advisor)
                st.floats(
                    min_value=-5e5,
                    max_value=5e5,
                    allow_nan=False,
                    allow_infinity=False,
                    width=64,
                ),
                min_size=2,
                max_size=6,
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_quantization_error_matches_python(spark, groups):
    from market_data_pipeline_spark.operators.similarity import (
        quantization_error_stats,
    )

    dim = len(groups[0][1])
    rows = [(g, [float(x) for x in vec[:dim]] + [0.0] * (dim - len(vec)))
            for g, vec in groups]
    emb = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {
        r["label"]: (r["n_vectors"], r["avg_l2_err"], r["avg_rel_err"])
        for r in quantization_error_stats(emb, "label").collect()
    }

    per: dict[str, list[tuple[float, float]]] = {}
    for g, vec in rows:
        mx = max(abs(x) for x in vec)
        if not mx > 0:
            continue  # zero vector: excluded (no relative error exists)
        err = [x - _rhu(x / mx * 127) * mx / 127 for x in vec]
        err2 = sum(_fp(d * d * 1e12) for d in err)
        sq = sum(_fp(x * x * 1e9) for x in vec)
        if sq == 0:
            continue  # fixed-point norm rounds to zero: excluded
        l2 = math.sqrt(err2 / 1e12)
        nrm = math.sqrt(sq / 1e9)
        per.setdefault(g, []).append((l2, l2 / nrm))
    want = {}
    for g, pairs in per.items():
        n = len(pairs)
        want[g] = (
            n,
            sum(_fp(l2 * 1e9) for l2, _ in pairs) / 1e9 / n,
            sum(_fp(rel * 1e9) for _, rel in pairs) / 1e9 / n,
        )

    assert set(got) == set(want)
    for g, (n, l2, rel) in want.items():
        gn, gl2, grel = got[g]
        assert gn == n
        assert math.isclose(gl2, l2, rel_tol=0, abs_tol=1e-9)
        assert math.isclose(grel, rel, rel_tol=0, abs_tol=1e-9)


# --- streaming_running_stats: exact state across paths and batches -----------


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-2e9, max_value=2e9, allow_nan=False, width=64),
            # around the int64 square boundary (|cents| ~ 3e9 squares to
            # ~9.2e18): forces the exact Python-int fallback path
            st.floats(min_value=1e8, max_value=5e9, allow_nan=False, width=64),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_streaming_running_stats_state_exact(spark, tmp_path_factory, values, files):
    """The (n, s_cents, ssq) state must equal exact Python-int sums over
    the non-null values REGARDLESS of which accumulation path ran
    (vectorized int64 fast path vs Python-int fallback — r7 extremes
    sweep found the int64 wrap) and of how the backfill splits into
    micro-batches (maxFilesPerTrigger)."""
    import datetime as _dt

    import numpy as np

    from market_data_pipeline_spark.streaming import jobs as sj

    src = str(tmp_path_factory.mktemp("rs"))
    rows = [
        (1, _dt.datetime(2024, 1, 1, 0, 0, 0) + _dt.timedelta(seconds=i), v)
        for i, v in enumerate(values)
    ]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).repartition(files).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = (
        sj.run_stream_to_memory(
            sj.streaming_running_stats(stream),
            "t_rs_prop",
            output_mode="update",
        )
        .orderBy(F.desc("n_events"))
        .limit(1)
        .collect()
    )

    cents = [int(np.round(np.float64(v) * 100)) for v in values if v is not None]
    if not cents:
        assert out == [] or out[0]["n_events"] == 0
        return
    n = len(cents)
    s = sum(cents)
    q = sum(c * c for c in cents)  # exact Python ints — the reference
    r = out[0]
    assert r["n_events"] == n
    sm = s / 100.0
    assert r["mean_value"] == sm / n
    assert r["var_pop"] == (float(q) / 10000.0 - sm * sm / n) / n
