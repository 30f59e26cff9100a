"""Round-4 operator unit tests: the new time-series / event / text /
range-join operators, plus regressions for the round-4 advice fixes
(id-equality self-pair masking, schema-derived id types, zero-norm
guards)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import (
    events as ev,
    similarity,
    text as tx,
    timeseries as tseries,
)
from market_data_pipeline_spark.operators.rangejoin import banded_range_join


def _series(spark, closes, symbol="S", amounts=None):
    rows = [
        (symbol, dt.date(2024, 1, 1) + dt.timedelta(days=i), float(c))
        + ((float(amounts[i]),) if amounts else ())
        for i, c in enumerate(closes)
    ]
    schema = "symbol string, trade_date date, close_price double" + (
        ", amount double" if amounts else ""
    )
    return spark.createDataFrame(rows, schema)


# --- time-series -----------------------------------------------------------


def test_sharpe_ratio_known_value(spark):
    # returns: +10%, -10%, +10%, -10% -> mean 0, sd > 0 -> sharpe 0
    df = _series(spark, [100, 110, 99, 108.9, 98.01])
    out = tseries.sharpe_ratio(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 4
    assert abs(r["sharpe_annual"]) < 1e-6


def test_sharpe_zero_variance_is_null(spark):
    df = _series(spark, [100, 110, 121])  # constant +10% -> sd == 0
    r = tseries.sharpe_ratio(df).collect()[0]
    assert r["sharpe_annual"] is None


def test_donchian_breakout_flags(spark):
    df = _series(spark, [10, 11, 12, 9, 20])
    out = {
        r["trade_date"].day: r
        for r in tseries.donchian_channels(df, n=3).collect()
    }
    # day5 close 20 > prev upper (max of 11,12,9 = 12) -> breakout up
    assert out[5]["breakout_up"] is True
    # day4 close 9 < prev lower (min of 10,11,12 = 10) -> breakout down
    assert out[4]["breakout_down"] is True
    assert out[4]["breakout_up"] is False


def test_return_autocorr_alternating_is_negative(spark):
    closes = [100]
    for _ in range(10):
        closes.append(closes[-1] * (1.1 if len(closes) % 2 else 0.95))
    out = tseries.return_autocorr(_series(spark, closes), 1).collect()[0]
    assert out["autocorr"] < -0.9  # strictly alternating returns


def test_cross_sectional_momentum_ranks(spark):
    rows = []
    for sym, mult in (("A", 1.5), ("B", 1.2), ("C", 0.8)):
        rows += [
            (sym, dt.date(2024, 1, 1), 100.0),
            (sym, dt.date(2024, 1, 2), 100.0 * mult),
        ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_date date, close_price double"
    )
    out = tseries.cross_sectional_momentum(df, lookback=1, n_quantiles=3)
    ranks = {r["symbol"]: r["xs_rank"] for r in out.collect()}
    assert ranks == {"A": 1, "B": 2, "C": 3}


def test_amihud_illiquidity_exact(spark):
    # |ret| = 0.1 each day, amount = 2.0 -> ratio = 0.05 * 1e9 per day
    df = _series(spark, [100, 110, 99], amounts=[2e9, 2e9, 2e9])
    r = tseries.amihud_illiquidity(df).collect()[0]
    assert r["n_days"] == 2
    assert r["amihud_illiq"] == pytest.approx(0.05, abs=1e-9)


def test_candlestick_doji_and_engulfing(spark):
    bars = spark.createDataFrame(
        [
            ("S", dt.date(2024, 1, 1), 10.0, 12.0, 8.0, 10.1),   # doji-ish
            ("S", dt.date(2024, 1, 8), 11.0, 11.5, 9.5, 10.0),   # bearish
            ("S", dt.date(2024, 1, 15), 9.0, 13.0, 8.5, 12.0),   # engulfs prev body
        ],
        "symbol string, bucket date, open double, high double, low double, close double",
    )
    out = {r["bucket"].day: r for r in tseries.candlestick_flags(bars).collect()}
    assert out[1]["doji"] is True  # |10.1-10| = 0.1 <= 0.1*(12-8)
    assert out[15]["engulfing_up"] is True  # bull body 9..12 engulfs 10..11
    assert out[8]["engulfing_up"] is False


# --- events ----------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s), u, t, v)
            for i, (s, u, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_conversion_latency_basic(spark):
    df = _events(
        spark,
        [
            (0, 1, "purchase", 1.0),   # BEFORE first view: must not count
            (10, 1, "view", 0.0),
            (70, 1, "purchase", 2.0),  # +60s after first view
            (0, 2, "view", 0.0),       # never converts
        ],
    )
    out = {r["user_id"]: r for r in ev.conversion_latency(df).collect()}
    assert out[1]["latency_sec"] == pytest.approx(60.0)
    assert out[2]["first_to_ts"] is None and out[2]["latency_sec"] is None


def test_rfm_scores_shape(spark):
    df = _events(
        spark,
        [(i * 3600, u, "purchase" if i % 2 else "view", float(u)) for u in (1, 2, 3, 4, 5) for i in range(u)],
    )
    out = ev.rfm_scores(df, n_quantiles=5).collect()
    assert len(out) == 5
    for r in out:
        assert 1 <= r["r_score"] <= 5 and 1 <= r["f_score"] <= 5
    by_user = {r["user_id"]: r for r in out}
    # user 5 has the most events -> best (lowest) f bucket
    assert by_user[5]["f_score"] == 1


def test_burst_detection_flags(spark):
    rows = [(i, 1, "click", 0.0) for i in range(6)]          # 6 events in 1 min
    rows += [(i * 120, 2, "click", 0.0) for i in range(6)]   # spread out
    out = {r["user_id"]: r for r in ev.burst_detection(_events(spark, rows), burst_threshold=5).collect()}
    assert out[1]["is_burst"] is True and out[1]["peak_per_window"] == 6
    assert out[2]["is_burst"] is False and out[2]["peak_per_window"] == 1


# --- text ------------------------------------------------------------------


def test_sentence_stats(spark):
    df = spark.createDataFrame(
        [(1, "one two three. four five! six?"), (2, "   "), (3, "no terminator here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.sentence_stats(df).collect()}
    assert 2 not in out  # whitespace-only doc has no sentences
    assert out[1]["n_sentences"] == 3
    assert out[1]["avg_sentence_tokens"] == pytest.approx(2.0)
    assert out[1]["max_sentence_tokens"] == 3
    assert out[3]["n_sentences"] == 1


def test_zipf_slope_power_law(spark):
    # construct freq ~ rank^-1 exactly: slope must be ~ -1
    words = []
    for rank in range(1, 21):
        freq = round(1000 / rank)
        words += [f"w{rank:02d}"] * freq
    df = spark.createDataFrame(
        [(1, "en", " ".join(words))], "doc_id long, lang string, text string"
    )
    r = tx.zipf_slope(df, top_k=20).collect()[0]
    assert r["n_tokens_fit"] == 20
    assert r["zipf_slope"] == pytest.approx(-1.0, abs=0.05)


def test_crossdoc_sentence_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "shared boilerplate here. unique alpha."),
            (2, "shared boilerplate here. unique beta."),
            (3, "completely original text."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.crossdoc_sentence_stats(df).collect()}
    assert out[1]["n_dup_sentences"] == 1 and out[1]["n_sentences"] == 2
    assert out[1]["dup_frac"] == pytest.approx(0.5)
    assert out[3]["n_dup_sentences"] == 0


# --- range join ------------------------------------------------------------


def test_banded_range_join_boundaries(spark):
    fact = spark.createDataFrame(
        [(1, 4.9), (2, 5.0), (3, 19.999), (4, 20.0), (5, 100.0)],
        "id long, v double",
    )
    dim = spark.createDataFrame(
        [("a", 0.0, 5.0), ("b", 5.0, 20.0)], "band string, lo double, hi double"
    )
    out = {
        r["id"]: r["band"]
        for r in banded_range_join(fact, dim, "v", bucket_width=7.0).collect()
    }
    # half-open: 5.0 joins band b (lo inclusive), 20.0 matches nothing
    assert out == {1: "a", 2: "b", 3: "b"}


def test_banded_range_join_left_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 4.0), (2, 50.0)], "id long, v double")
    dim = spark.createDataFrame([("a", 0.0, 5.0)], "band string, lo double, hi double")
    out = {
        r["id"]: r["band"]
        for r in banded_range_join(fact, dim, "v", how="left").collect()
    }
    assert out == {1: "a", 2: None}


def test_banded_range_join_matches_naive(spark):
    import random

    rng = random.Random(7)
    fact = spark.createDataFrame(
        [(i, rng.uniform(0, 100)) for i in range(300)], "id long, v double"
    )
    dim = spark.createDataFrame(
        [("b0", 0.0, 13.0), ("b1", 13.0, 40.0), ("b2", 40.0, 99.5)],
        "band string, lo double, hi double",
    )
    got = sorted(
        (r["id"], r["band"])
        for r in banded_range_join(fact, dim, "v", bucket_width=9.0).collect()
    )
    naive = sorted(
        (r["id"], r["band"])
        for r in fact.join(
            dim, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).collect()
    )
    assert got == naive


# --- round-4 advice regressions -------------------------------------------


def test_knn_graph_masks_self_pairs_with_duplicate_vectors(spark):
    # identical vectors across ids: the id-equality mask must drop only
    # TRUE self-pairs; the duplicate OTHER vector must rank first at 1.0
    vecs = [(i, [1.0, 0.0, 0.0]) for i in range(4)] + [
        (10, [0.0, 1.0, 0.0]),
        (11, [0.6, 0.8, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = similarity.knn_graph(df, k=2, n_blocks=3).collect()
    assert all(r["src_id"] != r["nbr_id"] for r in out)
    top = {r["src_id"]: r for r in out if r["rank"] == 1}
    for i in range(4):  # each clone's best neighbor is another clone at 1.0
        assert top[i]["cosine"] == pytest.approx(1.0)
        assert top[i]["nbr_id"] in {0, 1, 2, 3} - {i}


def test_pq_encode_string_ids_and_zero_vectors(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0]), ("b", [0.0, 0.0, 0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    books = similarity.pq_train(df, dim=4, m=2, k_codes=2, sample_limit=10)
    out = similarity.pq_encode(df, books).collect()
    assert {r["vec_id"] for r in out} == {"a", "b"}
    for r in out:  # zero-norm guard: codes defined, never NaN-poisoned
        assert len(r["codes"]) == 2
        assert all(c in (0, 1) for c in r["codes"])


def test_negative_sampling_string_id_empty_schema(spark):
    df = spark.createDataFrame([("only",)], "doc_id string")
    out = tx.negative_sampling(df, k=2)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"
    assert dict(out.dtypes)["negative_id"] == "string"


def test_nearest_event_join_string_event_ids(spark):
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 10), "ev-a")],
        "user_id long, ts timestamp, event_id string",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 13))], "user_id long, ts timestamp"
    )
    r = ev.nearest_event_join(left, right).collect()[0]
    assert r["left_id"] == "ev-a" and r["diff_us"] == 3_000_000


# --- second batch: coverage / runs / radius --------------------------------


def test_interval_coverage_merges_overlaps(spark):
    # user 1: events at t=0s and t=300s with 10-min cover -> one island,
    # covered = 300 + 600 = 900s (NOT 1200 — the naive double-count)
    # user 2: events 0s and 3600s -> two disjoint islands, 1200s
    df = _events(
        spark,
        [(0, 1, "view", 0.0), (300, 1, "view", 0.0),
         (0, 2, "view", 0.0), (3600, 2, "view", 0.0)],
    )
    out = {r["user_id"]: r for r in ev.interval_coverage(df, 10).collect()}
    assert out[1]["n_islands"] == 1 and out[1]["covered_sec"] == 900.0
    assert out[2]["n_islands"] == 2 and out[2]["covered_sec"] == 1200.0


def test_bounce_rate(spark):
    # user 1: one 2-event session + one 1-event session -> rate 0.5
    df = _events(
        spark,
        [(0, 1, "view", 0.0), (60, 1, "click", 0.0), (7200, 1, "view", 0.0)],
    )
    r = ev.bounce_rate(df).collect()[0]
    assert r["n_sessions"] == 2 and r["n_bounces"] == 1
    assert r["bounce_rate"] == pytest.approx(0.5)


def test_collapse_runs_islands(spark):
    from market_data_pipeline_spark.operators.incremental import collapse_runs

    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, d), k, s) for d, k, s in
         [(1, 10, "O"), (2, 11, "O"), (3, 12, "F"), (4, 13, "O")]],
        "cust long, d date, k long, status string",
    )
    out = sorted(
        collapse_runs(df, "cust", ["d", "k"], "status").collect(),
        key=lambda r: r["run_start"],
    )
    # O,O | F | O -> three runs; the split O-run must NOT merge
    assert [(r["status"], r["n_rows"]) for r in out] == [("O", 2), ("F", 1), ("O", 1)]
    assert out[0]["run_end"] == dt.date(2024, 1, 2)


def test_radius_search_threshold(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.radius_search(
        df, df.filter(F.col("vec_id") == 0), threshold=0.9
    ).collect()
    ids = {r["vec_id"] for r in out}
    assert ids == {1, 2}  # 3 is orthogonal; 0 is the query itself
    assert all(r["cosine"] >= 0.9 for r in out)


# --- third batch: phash + streaming burst ----------------------------------


def _gradient_image(spark_unused, h, w, media_id=1):
    import numpy as np

    y = np.linspace(0, 255, h)[:, None]
    x = np.linspace(0, 255, w)[None, :]
    arr = np.clip((y + x) / 2, 0, 255).astype(np.uint8)
    rgb = np.repeat(arr[:, :, None], 3, axis=2)
    return (
        media_id,
        "image",
        rgb.tobytes(),
        {"format": "raw-rgb8", "width": w, "height": h, "channels": 3,
         "sample_rate": None, "n_frames": None},
    )


def test_phash_resize_invariant_on_smooth_images(spark):
    from market_data_pipeline_spark.operators import multimodal as mm

    rows = [
        _gradient_image(spark, 32, 32, 1),
        _gradient_image(spark, 64, 64, 2),   # same content, 2x scale
        _gradient_image(spark, 16, 24, 3),   # same gradient, other aspect
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    assert out[1] == out[2]  # resize-class duplicate collides
    # determinism: re-run yields identical hashes
    again = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    assert out == again


def test_phash_distinguishes_content(spark):
    import numpy as np

    from market_data_pipeline_spark.operators import multimodal as mm

    grad = _gradient_image(spark, 32, 32, 1)
    rng = np.random.default_rng(5)
    noise = rng.integers(0, 255, (32, 32, 3), dtype=np.uint8)
    rows = [
        grad,
        (2, "image", noise.tobytes(),
         {"format": "raw-rgb8", "width": 32, "height": 32, "channels": 3,
          "sample_rate": None, "n_frames": None}),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    assert out[1] != out[2]


def test_streaming_burst_matches_batch(spark, sf_dir):
    from market_data_pipeline_spark.operators import events as evo
    from market_data_pipeline_spark.sources.catalog import load_table
    from market_data_pipeline_spark.streaming import jobs as sj

    counts = sj.streaming_burst_counts(
        sj.read_events_stream(spark, sf_dir), window_duration="1 minute"
    )
    sink = sj.run_stream_to_memory(counts, "st11_test_sink", state_partitions=4)
    streamed = (
        sink.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("total_events"),
            F.max("n").cast("long").alias("peak_per_window"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .collect()
    )
    batch = {
        r["user_id"]: r
        for r in evo.burst_detection(
            load_table(spark, sf_dir, "events"), burst_threshold=3
        ).collect()
    }
    assert len(streamed) == len(batch)
    for r in streamed:
        b = batch[r["user_id"]]
        assert (r["total_events"], r["peak_per_window"], r["n_windows"]) == (
            b["total_events"], b["peak_per_window"], b["n_windows"]
        )


# --- fourth batch: sliding actives / bucketed batches / quality gate -------


def test_sliding_active_users_window_semantics(spark):
    # user 1 active day 1 only; user 2 active day 5: the day-5 window
    # [day-1 .. day5] covers both; day 1 covers only user 1
    df = _events(spark, [(0, 1, "view", 0.0), (4 * 86400, 2, "view", 0.0)])
    out = {r["day"].day: r["active_users"] for r in ev.sliding_active_users(df, 7).collect()}
    assert out[1] == 1 and out[5] == 2
    # only observed activity days are reported
    assert set(out) == {1, 5}


def test_bucketed_batches_bounds(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(["w"] * 50)), (3, " ".join(["w"] * 500))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.bucketed_batches(docs, budget=64).collect()}
    assert out[1]["length_bucket"] == 32
    assert out[2]["length_bucket"] == 64
    assert out[3]["length_bucket"] == 1 << 30
    assert out[1]["batch_no"] == 0


def test_quality_gate_reasons(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the warm mat today"),
            (2, "hi"),                                   # too_short
            (3, "the the the of of and and in in to"),   # stopword_heavy
            (4, "ok ok ok " + "x" * 80),                 # giant_token
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.quality_gate(docs).collect()}
    assert out[1]["keep"] is True and out[1]["reasons"] == ""
    assert out[2]["keep"] is False and out[2]["reasons"] == "too_short"
    assert "stopword_heavy" in out[3]["reasons"]
    assert "giant_token" in out[4]["reasons"]


def test_drawdown_duration_spells(spark):
    # peaks at 10; underwater days 2-3 (len 2) recover day 4 (new peak 11),
    # then underwater day 5 (len 1)
    df = _series(spark, [10, 9, 9.5, 11, 10.5])
    r = tseries.drawdown_duration(df).collect()[0]
    assert r["n_underwater_days"] == 3
    assert r["longest_underwater"] == 2
    assert r["n_spells"] == 2


def test_drawdown_duration_monotonic_series_empty(spark):
    # strictly rising series: never underwater -> no row for the symbol
    df = _series(spark, [1, 2, 3, 4])
    assert tseries.drawdown_duration(df).count() == 0


def test_global_cumsum_matches_single_window(spark):
    from market_data_pipeline_spark.operators.analytics import global_cumsum
    from pyspark.sql import Window as W

    rows = [(i, (i * 37) % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.desc("v"), F.col("id")]
    got = {
        r["id"]: r["cumsum"]
        for r in global_cumsum(df, order, "v", num_partitions=7).collect()
    }
    w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    want = {
        r["id"]: r["c"]
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_cumsum_empty(spark):
    from market_data_pipeline_spark.operators.analytics import global_cumsum

    df = spark.createDataFrame([], "id long, v long")
    assert global_cumsum(df, [F.col("id")], "v").count() == 0


def test_bpe_pair_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b")], "doc_id long, text string"
    )
    out = [(r["pair"], r["n"]) for r in tx.bpe_pair_counts(docs, top_k=10).collect()]
    assert out[0] == ("a b", 3)   # doc1 twice + doc2 once
    assert ("b a", 1) in out and ("b c", 1) in out


def test_group_centroids_exact_mean(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "x"), (2, [3.0, 2.0], "x"), (3, [10.0, 10.0], "y")],
        "vec_id long, embedding array<double>, grp string",
    )
    out = {r["grp"]: r for r in similarity.group_centroids(emb, "grp").collect()}
    assert out["x"]["n_vectors"] == 2
    assert out["x"]["centroid"] == [2.0, 1.0]
    assert out["y"]["centroid"] == [10.0, 10.0]


# --- Misra-Gries heavy hitters ---------------------------------------------


def test_heavy_hitters_guarantees(spark):
    from collections import Counter

    from market_data_pipeline_spark.operators.analytics import heavy_hitters

    # skewed stream: a few heavy items + a long tail, forced through a
    # TINY capacity so decrements actually happen, across 4 partitions
    items = (["hot"] * 300 + ["warm"] * 150 + ["mild"] * 80
             + [f"tail{i}" for i in range(400)])
    df = spark.createDataFrame([(v,) for v in items], "item string").repartition(4)
    out = heavy_hitters(df, "item", k=10, capacity=8).collect()
    exact = Counter(items)
    got = {r["item"]: r for r in out}
    err = out[0]["error_bound"]
    # every stored count is a lower bound within the deficit bound
    for r in out:
        assert r["count_lower"] <= exact[r["item"]]
        assert exact[r["item"]] - r["count_lower"] <= err
    # items with true frequency above the bound MUST be present+flagged
    for item, n in exact.items():
        if n > err:
            assert item in got, f"{item} (freq {n} > bound {err}) missing"
    # and the flag itself is sound: guaranteed => truly above the bound
    for r in out:
        if r["guaranteed"]:
            assert exact[r["item"]] > 0


def test_deterministic_heavy_hitters_skewed(spark):
    """The r10 oracle-replayable re-aggregation form: on a SKEWED
    corpus the heavy item survives with guaranteed=True (the uniform
    gate corpus never exercises that branch), bounds hold vs exact
    counts, and the result is invariant to input partitioning."""
    from collections import Counter

    from market_data_pipeline_spark.operators.analytics import (
        deterministic_heavy_hitters,
    )

    items = (["hot"] * 500 + ["warm"] * 120 + ["mild"] * 40
             + [f"tail{i}" for i in range(60) for _ in range(2)])
    exact = Counter(items)
    df = spark.createDataFrame([(v,) for v in items], "item string")
    out = deterministic_heavy_hitters(df, "item", k=8, capacity=4, shards=2).collect()
    got = {r["item"]: r for r in out}
    err = out[0]["error_bound"]
    assert err > 0, "capacity 4 over 63 distinct items must decrement"
    for r in out:
        assert r["count_lower"] <= exact[r["item"]]
        assert r["guaranteed"] == (r["count_lower"] > err)
    # the dominant item must be present, near-exact, and guaranteed
    assert got["hot"]["guaranteed"] and got["hot"]["count_lower"] <= 500
    # partitioning invariance: md5 sharding + canonical fold order make
    # the summary a pure function of the multiset
    again = deterministic_heavy_hitters(
        df.repartition(7), "item", k=8, capacity=4, shards=2
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # k beyond the structural maximum capacity*shards raises instead of
    # silently under-returning (r10 advice)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="structural maximum"):
        deterministic_heavy_hitters(df, "item", k=10, capacity=4, shards=2)
    # the default signature must satisfy its own guard (r11 review:
    # k=20 against capacity*shards=16 was self-invalidating)
    assert len(deterministic_heavy_hitters(df, "item").collect()) <= 16


def test_heavy_hitters_no_decrement_is_exact(spark):
    from market_data_pipeline_spark.operators.analytics import heavy_hitters

    # distinct domain smaller than capacity: MG degenerates to exact
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "item string"
    ).repartition(3)
    out = {r["item"]: r for r in heavy_hitters(df, "item", k=5, capacity=16).collect()}
    assert out["a"]["count_lower"] == 5 and out["a"]["error_bound"] == 0
    assert out["b"]["count_lower"] == 3 and out["b"]["guaranteed"]


def test_top_session_paths(spark):
    # user 1: view>click twice (two sessions, 2h apart); user 2: view once
    df = _events(
        spark,
        [(0, 1, "view", 0.0), (60, 1, "click", 0.0),
         (7200, 1, "view", 0.0), (7260, 1, "click", 0.0),
         (0, 2, "view", 0.0)],
    )
    out = [(r["path"], r["n_sessions"]) for r in ev.top_session_paths(df, k=5).collect()]
    assert out[0] == ("view>click", 2)
    assert ("view", 1) in out


def test_point_in_time_join_never_leaks_future(spark, sf_dir):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    out = QUERIES["fx2_point_in_time_join"](spark, sf_dir).collect()
    assert out, "expected label rows"
    for r in out:
        if r["feature_date"] is not None:
            assert r["feature_date"] <= r["event_date"], (
                f"future leak: {r['feature_date']} > {r['event_date']}"
            )


def test_purged_split_embargo_semantics(spark, sf_dir):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = QUERIES["smp8_purged_split"](spark, sf_dir).collect()
    assert rows
    import datetime as dtt

    base = dtt.date(1996, 1, 1)
    for r in rows:
        days = (r["trade_date"] - base).days
        assert r["fold"] == days // 120
        if days % 120 >= 115:
            assert r["split"] == "embargo"
        else:
            assert r["split"] == ("val" if r["fold"] % 3 == 2 else "train")


def test_hll_sliding_actives_parity_with_exact(spark, sf_dir):
    from market_data_pipeline_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    exact = {r["day"]: r["active_users"] for r in ev.sliding_active_users(events, 7).collect()}
    approx = {
        r["day"]: r["active_users_approx"]
        for r in ev.sliding_active_users_hll(events, 7).collect()
    }
    # HLL reports estimates for every day with a sketch (same day set)
    assert set(approx) == set(exact)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(2, 0.05 * n), (day, n, approx[day])
