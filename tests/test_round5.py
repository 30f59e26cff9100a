"""Round-5 operator unit tests: edge cases the sf0.01 oracle sweep can't
reach (empty inputs, single rows, all-flat series, degenerate images).
The value-level correctness of the round-5 queries is pinned by the
DuckDB oracle gate; these are the operator-level guards."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import events as ev
from market_data_pipeline_spark.operators import text as tx
from market_data_pipeline_spark.operators import timeseries as tseries
from market_data_pipeline_spark.operators.similarity import centroid_distances


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def _prices(spark, rows):
    return spark.createDataFrame(
        rows, "symbol string, trade_date date, close_price double, volume long, amount double"
    )


T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
D0 = dt.date(2024, 1, 1)


def test_interarrival_single_event_user_excluded(spark):
    df = _events(
        spark,
        [
            (1, T0, 1, "view", 0.0),
            (2, T0 + dt.timedelta(seconds=10), 1, "view", 0.0),
            (3, T0, 2, "view", 0.0),  # one event -> no gaps -> no row
        ],
    )
    got = {r["user_id"]: r for r in ev.interarrival_stats(df).collect()}
    assert set(got) == {1}
    assert got[1]["n_gaps"] == 1
    assert got[1]["mean_gap_sec"] == pytest.approx(10.0)
    assert got[1]["max_gap_sec"] == pytest.approx(10.0)


def test_interarrival_equal_timestamps_zero_gap(spark):
    df = _events(spark, [(1, T0, 1, "a", 0.0), (2, T0, 1, "b", 0.0)])
    row = ev.interarrival_stats(df).collect()[0]
    assert row["n_gaps"] == 1 and row["mean_gap_sec"] == 0.0


def test_event_type_pairs_requires_both_types(spark):
    df = _events(
        spark,
        [
            (1, T0, 1, "view", 0.0),
            (2, T0, 1, "click", 0.0),
            (3, T0, 1, "click", 0.0),  # duplicate type collapses
            (4, T0, 2, "view", 0.0),
        ],
    )
    rows = ev.event_type_pairs(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["type_a"], r["type_b"], r["n_keys"]) == ("click", "view", 1)


def test_stickiness_all_users_daily_is_one(spark):
    rows = []
    eid = 0
    for day in range(3):
        for u in (1, 2):
            rows.append((eid, T0 + dt.timedelta(days=day), u, "view", 0.0))
            eid += 1
    out = ev.stickiness(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 3 and r["mau"] == 2
    assert r["stickiness"] == pytest.approx(1.0)


def test_ulcer_index_monotonic_series_is_zero(spark):
    df = _prices(
        spark,
        [("A", D0 + dt.timedelta(days=i), 100.0 + i, 10, 1.0) for i in range(5)],
    )
    row = tseries.ulcer_index(df).collect()[0]
    assert row["ulcer_index"] == pytest.approx(0.0)


def test_ulcer_index_known_value(spark):
    # peak 100, then 90 (dd -10%), then 80 (dd -20%): sqrt((0+100+400)/3)
    df = _prices(
        spark,
        [
            ("A", D0, 100.0, 10, 1.0),
            ("A", D0 + dt.timedelta(days=1), 90.0, 10, 1.0),
            ("A", D0 + dt.timedelta(days=2), 80.0, 10, 1.0),
        ],
    )
    row = tseries.ulcer_index(df).collect()[0]
    assert row["ulcer_index"] == pytest.approx(math.sqrt(500 / 3), rel=1e-9)


def test_obv_signs_and_peak(spark):
    # up (+10), down (-20), flat (0): final = -10, peak = +10
    df = _prices(
        spark,
        [
            ("A", D0, 100.0, 5, 1.0),
            ("A", D0 + dt.timedelta(days=1), 101.0, 10, 1.0),
            ("A", D0 + dt.timedelta(days=2), 99.0, 20, 1.0),
            ("A", D0 + dt.timedelta(days=3), 99.0, 30, 1.0),
        ],
    )
    row = tseries.on_balance_volume(df).collect()[0]
    assert row["obv_final"] == -10 and row["obv_peak"] == 10


def test_streaks_flat_day_breaks_run(spark):
    # up, up, flat, up -> longest_up must be 2 (flat interrupts)
    closes = [100.0, 101.0, 102.0, 102.0, 103.0]
    df = _prices(
        spark,
        [("A", D0 + dt.timedelta(days=i), c, 1, 1.0) for i, c in enumerate(closes)],
    )
    row = tseries.streak_stats(df).collect()[0]
    assert row["longest_up"] == 2
    assert row["longest_down"] is None


def test_charset_stats_empty_text_null_ratios(spark):
    df = spark.createDataFrame(
        [(1, "Abc 123"), (2, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in tx.charset_stats(df).collect()}
    assert got[2]["n_chars"] == 0 and got[2]["ascii_ratio"] is None
    r = got[1]
    assert r["ascii_ratio"] == pytest.approx(1.0)
    assert r["digit_ratio"] == pytest.approx(3 / 7, abs=1e-6)
    assert r["upper_ratio"] == pytest.approx(1 / 7, abs=1e-6)
    assert r["space_ratio"] == pytest.approx(1 / 7, abs=1e-6)


def test_charset_stats_non_ascii(spark):
    df = spark.createDataFrame([(1, "abé中")], "doc_id long, text string")
    r = tx.charset_stats(df).collect()[0]
    assert r["n_chars"] == 4
    assert r["ascii_ratio"] == pytest.approx(0.5)


def test_centroid_distances_two_separated_labels(spark):
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.0, 0.0], 0),
        (3, [3.0, 4.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = centroid_distances(df, "label").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["group_a"], r["group_b"], r["n_a"], r["n_b"]) == (0, 1, 2, 1)
    assert r["dist"] == pytest.approx(5.0)


def test_norm_stats_unit_and_scaled(spark):
    from market_data_pipeline_spark.operators.similarity import norm_stats

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.6, 0.8], 0),   # unit norm
        (3, [3.0, 4.0], 0),   # norm 5
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    r = norm_stats(df, "label").collect()[0]
    assert r["n_vectors"] == 3
    assert r["n_unit"] == 2
    assert r["avg_norm"] == pytest.approx((1 + 1 + 5) / 3, abs=1e-5)


def test_streaming_distinct_users_matches_batch_within_horizon(spark, tmp_path):
    """Chained streaming aggregation (dedup -> count) equals the batch
    COUNT(DISTINCT) for every watermark-closed window, across multiple
    micro-batches."""
    from market_data_pipeline_spark.streaming import jobs as sj

    sf = "/root/testdata/sf0.001"
    out = sj.run_stream_to_memory(
        sj.streaming_distinct_users(
            sj.read_events_stream(spark, sf, max_files_per_trigger=1)
        ),
        "st13_test",
        output_mode="append",
    )
    from market_data_pipeline_spark.sources.catalog import load_table

    events = load_table(spark, sf, "events")
    horizon = events.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("h")
    ).collect()[0]["h"]
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(horizon))
    )
    got = {(r["window_start"], r["n_users"]) for r in out.collect()}
    want = {(r["window_start"], r["n_users"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_mmr_excludes_overflow_vectors(spark):
    """r10 review: a vector whose self-dot overflows to inf has FINITE
    relevance (finite/inf = 0) and used to crash the greedy loop with
    int(NaN); the finite-norm pool guard must drop it, not crash."""
    from market_data_pipeline_spark.operators.similarity import mmr_select

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [1e160, 1e160]), (4, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_select(df, [1.0, 0.0], k=4, pool=10).collect()
    assert [r.vec_id for r in out] == [1, 2, 4]  # 3 excluded, no ValueError
    assert out[0].relevance == 1.0


def test_mmr_more_diverse_than_topk(spark):
    """The MMR-selected set's max pairwise cosine must not exceed plain
    top-k's (diversity is the whole point), and the top-1 must be the
    most relevant item."""
    import itertools

    import numpy as np

    from market_data_pipeline_spark.operators.similarity import (
        knn_bruteforce,
        mmr_select,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(3, 8))
    rows = []
    vid = 1
    for b in range(3):  # three tight clusters
        for _ in range(10):
            v = base[b] + rng.normal(scale=0.05, size=8)
            rows.append((vid, [float(x) for x in v], b))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in base[0]]

    def max_pair(ids):
        vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
        sims = []
        for a, b in itertools.combinations(ids, 2):
            va, vb = vecs[a], vecs[b]
            sims.append(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        return max(sims)

    mmr = mmr_select(df, q, k=5, pool=30, lam=0.5).collect()
    plain = knn_bruteforce(df, q, k=5).collect()
    assert mmr[0]["vec_id"] == plain[0]["vec_id"]  # top-1 is pure relevance
    assert max_pair([r["vec_id"] for r in mmr]) <= max_pair(
        [r["vec_id"] for r in plain]
    ) + 1e-9
    # rerun is deterministic
    again = mmr_select(df, q, k=5, pool=30, lam=0.5).collect()
    assert [r["vec_id"] for r in again] == [r["vec_id"] for r in mmr]


def test_scene_change_stats_detects_inserted_cut(spark):
    """A video whose frames are near-identical except one hard cut must
    report exactly one cut; a static video reports zero."""
    import numpy as np

    from market_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        scene_change_stats,
    )

    h = w = 8
    base = np.full((h, w, 3), 100, dtype=np.uint8)
    jitter = base.copy()
    jitter[0, 0, 0] += 1  # tiny diff so mean_diff > 0
    bright = np.full((h, w, 3), 220, dtype=np.uint8)
    cut_vid = np.stack([base, jitter, base, bright, bright])  # one hard cut
    static = np.stack([base, jitter, base, jitter])

    def meta(n):
        return {
            "format": "raw-v8", "width": w, "height": h, "channels": 3,
            "sample_rate": None, "n_frames": n,
        }

    df = spark.createDataFrame(
        [
            (1, "video", cut_vid.tobytes(), meta(5)),
            (2, "video", static.tobytes(), meta(4)),
        ],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r for r in scene_change_stats(df).collect()}
    assert got[1]["n_cuts"] == 1
    assert got[2]["n_cuts"] == 0
    assert got[1]["n_frames"] == 5


def test_hll_day_overlap_within_error(spark):
    """The inclusion-exclusion sketch overlap must track the exact
    day-over-day distinct-user intersection within combined HLL error
    (~3 sketches x 0.8% at lg_k=14 — use a generous 5% + small absolute
    floor at these cardinalities)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES
    from market_data_pipeline_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    est = {r["day"]: r for r in QUERIES["apx6_hll_day_overlap"](spark, sf).collect()}
    events = load_table(spark, sf, "events")
    days = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    a = days.alias("a")
    b = days.select(
        F.date_add("day", 1).alias("day"), F.col("user_id")
    ).alias("b")
    exact = {
        r["day"]: r["n"]
        for r in a.join(b, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for day, r in est.items():
        want = exact[day]
        assert abs(r["overlap_estimate"] - want) <= max(5, 0.05 * want), (
            day,
            r["overlap_estimate"],
            want,
        )


def test_banded_range_join_unaligned_hi_keeps_top_bucket(spark):
    """Regression (r4 advisor): a hi lying within 1e-9 above a bucket
    boundary must still match fact rows in [boundary, hi)."""
    from market_data_pipeline_spark.operators.rangejoin import banded_range_join

    fact = spark.createDataFrame([(10.0,), (10.5,)], "v double")
    dim = spark.createDataFrame(
        [("band", 0.0, 10.0 + 5e-10)], "band string, lo double, hi double"
    )
    got = banded_range_join(fact, dim, "v", bucket_width=10.0).collect()
    assert [r["v"] for r in got] == [10.0]  # 10.0 < hi, 10.5 > hi


def test_banded_range_join_inverted_interval_matches_nothing(spark):
    from market_data_pipeline_spark.operators.rangejoin import banded_range_join

    fact = spark.createDataFrame([(5.0,)], "v double")
    dim = spark.createDataFrame(
        [("bad", 100.0, 0.0), ("ok", 0.0, 10.0)],
        "band string, lo double, hi double",
    )
    got = banded_range_join(fact, dim, "v", bucket_width=1.0).collect()
    assert [(r["band"], r["v"]) for r in got] == [("ok", 5.0)]


def test_banded_range_join_left_keeps_unmatched(spark):
    from market_data_pipeline_spark.operators.rangejoin import banded_range_join

    fact = spark.createDataFrame([(5.0,), (50.0,)], "v double")
    dim = spark.createDataFrame(
        [("a", 0.0, 10.0)], "band string, lo double, hi double"
    )
    got = {
        r["v"]: r["band"]
        for r in banded_range_join(fact, dim, "v", how="left").collect()
    }
    assert got == {5.0: "a", 50.0: None}


def test_perceptual_hash_tiny_and_grayscale_images(spark):
    """Regression (r4 advisor): images smaller than the grid and 2-D
    grayscale decodes must hash without NaN degeneracy."""
    import numpy as np

    from market_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        perceptual_hash,
    )

    tiny = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)  # h,w < 8
    df = spark.createDataFrame(
        [
            (
                1,
                "image",
                tiny.tobytes(),
                {"format": "raw-rgb8", "width": 5, "height": 4, "channels": 3,
                 "sample_rate": None, "n_frames": None},
            )
        ],
        MEDIA_SCHEMA,
    )
    rows = perceptual_hash(df).collect()
    assert len(rows) == 1 and rows[0]["phash"] is not None
    # deterministic on rerun
    assert perceptual_hash(df).collect()[0]["phash"] == rows[0]["phash"]


def test_pagerank_matches_power_iteration(spark):
    """Distributed PageRank equals a dense numpy power iteration on a
    small graph with a dangling node and weighted (duplicate) edges."""
    import numpy as np

    from market_data_pipeline_spark.operators.graph import pagerank

    # nodes 0..3; node 3 dangles; edge 0->1 doubled (weight 2)
    edge_list = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=25).collect()}

    n, d = 4, 0.85
    M = np.zeros((n, n))
    from collections import Counter

    cnt = Counter(edge_list)
    deg = Counter(s for s, _ in edge_list)
    for (s, t), m in cnt.items():
        M[t][s] = m / deg[s]
    r = np.full(n, 1 / n)
    for _ in range(25):
        dangling = sum(r[i] for i in range(n) if i not in deg)
        r = (1 - d) / n + d * (M @ r + dangling / n)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_session_follow_edges_ordering(spark):
    from market_data_pipeline_spark.operators.graph import session_follow_edges

    df = _events(
        spark,
        [
            (1, T0, 1, "view", 0.0),
            (2, T0 + dt.timedelta(seconds=1), 1, "click", 0.0),
            (3, T0 + dt.timedelta(seconds=2), 1, "purchase", 0.0),
            (4, T0, 2, "view", 0.0),  # single event: no edge
        ],
    )
    got = {(r["src"], r["dst"]) for r in session_follow_edges(df).collect()}
    assert got == {("view", "click"), ("click", "purchase")}


def test_es_weighted_sample_matches_reference(spark):
    """The distributed ES top-k equals a pure-Python computation of the
    same deterministic keys, and heavier weights dominate: with weights
    1000 vs 1, the top-k is (overwhelmingly) the heavy rows."""
    import hashlib

    from market_data_pipeline_spark.operators.text import (
        weighted_sample_without_replacement,
    )

    rows = [(i, 1000.0 if i < 10 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        r["doc_id"]
        for r in weighted_sample_without_replacement(
            df, F.col("w"), k=8, key_col="doc_id"
        ).collect()
    ]

    def es_key(i, w):
        u = int(hashlib.md5(f"42:{i}".encode()).hexdigest()[:6], 16) / 16777216.0
        u = max(u, 1 / 16777216.0)
        return round(u ** (1.0 / w), 6)  # operator orders on the rounded key

    want = sorted(rows, key=lambda r: (-es_key(*r), r[0]))[:8]
    assert got == [i for i, _ in want]
    # weight dominance is probabilistic, not absolute (a light row with an
    # extreme uniform can legitimately win — that IS the ES distribution):
    # the 10 heavy rows (5% of the population) must be overrepresented
    assert sum(1 for i in got if i < 10) >= 4
    # zero/negative weights are never drawn
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -5.0), (3, 1.0)], "doc_id long, w double"
    )
    got2 = weighted_sample_without_replacement(df2, F.col("w"), k=3).collect()
    assert [r["doc_id"] for r in got2] == [3]


def test_hashed_embedding_properties(spark):
    """Feature-hashed embeddings: unit norm, deterministic across reruns
    and partitionings, identical texts map to identical vectors, empty
    docs dropped, and the vectors compose with the ANN family (cosine of
    a doc with itself = 1)."""
    import math

    from market_data_pipeline_spark.operators.similarity import knn_batch
    from market_data_pipeline_spark.operators.text import hashed_embedding

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fox"),  # identical text
            (3, "entirely different words here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["embedding"] for r in hashed_embedding(df, dim=16).collect()}
    assert set(rows) == {1, 2, 3}  # empty doc dropped
    for v in rows.values():
        assert math.sqrt(sum(x * x for x in v)) == pytest.approx(1.0, abs=1e-9)
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    # deterministic across repartitioning
    again = {
        r["doc_id"]: r["embedding"]
        for r in hashed_embedding(df.repartition(7), dim=16).collect()
    }
    assert again == rows
    # composes with ANN: self-similarity 1.0 at rank 1
    emb = hashed_embedding(df, dim=16).withColumnRenamed("doc_id", "vec_id")
    top = knn_batch(emb, emb.filter(F.col("vec_id") == 1), k=1).collect()[0]
    assert top["vec_id"] == 2 and top["cosine"] == pytest.approx(1.0)


def test_mmr_no_crash_at_double_max_boundary(spark):
    """r10 advice: the pool guard checks self-dots only; pin that
    vectors sitting right at the IEEE-double boundary (self-dot within
    an ulp of DBL_MAX — the only regime where a pairwise dot or norm
    product could round to inf/NaN) neither crash the greedy loop nor
    perturb determinism. The pairwise clamp (non-finite cosine -> 0)
    makes the worst case well-defined."""
    import math

    from market_data_pipeline_spark.operators.similarity import mmr_select

    a = math.sqrt(1.7976931348623157e308 / 2)  # [a, a] self-dot ~ DBL_MAX
    rows = [
        (1, [1.0, 0.0]),
        (2, [a, a]),
        (3, [math.nextafter(a, 0), a]),
        (4, [a, math.nextafter(a, 0)]),
        (5, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out1 = mmr_select(df, [1.0, 0.0], k=5, pool=10).collect()
    out2 = mmr_select(df.repartition(3), [1.0, 0.0], k=5, pool=10).collect()
    assert [r.vec_id for r in out1] == [r.vec_id for r in out2]
    assert out1[0].vec_id == 1 and len(out1) == 5
