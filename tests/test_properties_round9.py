"""Round-9 property tests: the sharded hot-entity sessionization must be
value-identical to the plain single-window formulation on every input —
including gaps exactly AT the threshold, events exactly ON a shard
boundary, and sessions spanning several shards — and the ingest-side
hot-entity cap must be deterministic and bounded."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import events as EV
from market_data_pipeline_spark.operators import skew as SK

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

_EPOCH = datetime.datetime(2024, 1, 1)

SCHEMA = "user_id long, ts timestamp, value double"


def _rows(spec):
    """spec: list of (user, offset_seconds, value)."""
    return [
        (u, _EPOCH + datetime.timedelta(seconds=s), v) for u, s, v in spec
    ]


def _canon(df):
    return sorted(
        (
            r.user_id,
            r.session_id,
            r.session_start,
            r.session_end,
            r.n_events,
            None if r.total_value is None else round(r.total_value, 6),
        )
        for r in df.collect()
    )


@given(
    spec=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # few users -> collisions
            # offsets up to ~3 shard widths at shard_hours=1, mixing
            # sub-gap and super-gap spacings and exact boundary hits
            st.integers(min_value=0, max_value=3 * 3600),
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=40,
    ),
    gap_minutes=st.sampled_from([1, 10, 30]),
)
@SET
def test_sharded_sessionize_matches_plain(spark, spec, gap_minutes):
    df = spark.createDataFrame(_rows(spec), SCHEMA)
    plain = _canon(EV.sessionize(df, gap_minutes=gap_minutes))
    # shard_hours=1 over a 3-hour span: sessions genuinely straddle edges
    sharded = _canon(
        EV.sessionize_sharded(df, gap_minutes=gap_minutes, shard_hours=1)
    )
    assert sharded == plain


def test_sharded_sessionize_edge_cases(spark):
    """Hand-pinned adversarial spacings: gap EXACTLY at the threshold
    (must NOT split — the rule is strictly-greater), events exactly on
    the shard boundary, a session spanning three shards, and a user
    whose every event is its own session."""
    gap_s = 30 * 60
    shard_s = 3600
    spec = [
        # user 1: ONE session crossing two shard edges via sub-gap steps
        # (offsets 0..8500 step 1700s < 1800s gap; shards 0,0,0,1,1,2)
        (1, 0, 1.0), (1, 1700, 1.0), (1, 3400, 1.0),
        (1, 5100, 1.0), (1, 6800, 1.0), (1, 8500, 1.0),
        # user 2: consecutive gaps EXACTLY the threshold -> one session
        (2, 0, 2.0), (2, gap_s, 2.0), (2, 2 * gap_s, 2.0),
        # user 3: gap threshold + 1us handled below in micro test; here
        # gap + 1 second -> split, with the second event ON a boundary
        (3, 0, 3.0), (3, gap_s + 1, 3.0), (3, shard_s, 3.0),
        # user 4: single event exactly on a shard boundary
        (4, 2 * shard_s, 4.0),
    ]
    df = spark.createDataFrame(_rows(spec), SCHEMA)
    plain = _canon(EV.sessionize(df, gap_minutes=30))
    sharded = _canon(EV.sessionize_sharded(df, gap_minutes=30, shard_hours=1))
    assert sharded == plain
    # user 1 merged into ONE session across three shards
    u1 = [r for r in sharded if r[0] == 1]
    assert len(u1) == 1 and u1[0][4] == 6
    # user 2's exact-threshold gaps did not split
    u2 = [r for r in sharded if r[0] == 2]
    assert len(u2) == 1 and u2[0][4] == 3


def test_sharded_sessionize_microsecond_boundary(spark):
    """The gap compare is integer microseconds on both paths: a gap of
    threshold+1us splits, threshold does not (the class unix_timestamp
    truncation would misread)."""
    gap_us = 30 * 60 * 1_000_000
    base = _EPOCH
    rows = [
        (1, base, 1.0),
        (1, base + datetime.timedelta(microseconds=gap_us), 1.0),
        (2, base, 2.0),
        (2, base + datetime.timedelta(microseconds=gap_us + 1), 2.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        (r.user_id, r.session_id): r.n_events
        for r in EV.sessionize_sharded(df, gap_minutes=30, shard_hours=1).collect()
    }
    assert out == {(1, 1): 2, (2, 1): 1, (2, 2): 1}


def test_cap_hot_entities_drop_and_sample(spark):
    rows = [(1, i, float(i)) for i in range(100)] + [
        (2, i, float(i)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "user_id long, seq long, value double")
    dropped = SK.cap_hot_entities(df, "user_id", max_rows=10, mode="drop")
    assert {r.user_id for r in dropped.collect()} == {2}
    assert dropped.count() == 5
    sampled = SK.cap_hot_entities(df, "user_id", max_rows=10, mode="sample")
    s1 = sampled.filter(F.col("user_id") == 1).count()
    # hash thinning lands near the cap, never at the raw count
    assert 0 < s1 < 50
    # under-cap entities pass through intact
    assert sampled.filter(F.col("user_id") == 2).count() == 5
    # deterministic: a rerun keeps the identical row set
    a = sorted(map(tuple, sampled.collect()))
    b = sorted(
        map(
            tuple,
            SK.cap_hot_entities(df, "user_id", max_rows=10, mode="sample").collect(),
        )
    )
    assert a == b
    # schema unchanged in both modes
    assert dropped.columns == df.columns and sampled.columns == df.columns
    import pytest

    with pytest.raises(ValueError):
        SK.cap_hot_entities(df, "user_id", 10, mode="bogus")


def test_hot_entities_audit(spark):
    rows = [(1, float(i)) for i in range(20)] + [(2, 1.0), (3, 2.0)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    hot = SK.hot_entities(df, "user_id", threshold_rows=5).collect()
    assert [(r.user_id, r.n_rows) for r in hot] == [(1, 20)]


def test_pagerank_fixed_exact_integer_reference(spark):
    """pagerank_fixed equals a pure-python integer replay of the same
    recurrence EXACTLY (the engine-reproducibility claim behind e24's
    recursive-CTE oracle), and stays within 1e-6 of the float pagerank
    (the truncation-leak bound)."""
    from collections import Counter

    from market_data_pipeline_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank,
        pagerank_fixed,
    )

    edge_list = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed(edges, iterations=10).collect()
    }

    n = 4
    cnt = Counter(edge_list)
    deg = Counter(s for s, _ in edge_list)
    r = {i: PAGERANK_SCALE // n for i in range(n)}
    base = (15 * PAGERANK_SCALE) // (100 * n)
    for _ in range(10):
        inn = {i: 0 for i in range(n)}
        for (s, t), m in cnt.items():
            d = deg[s]
            inn[t] += (r[s] // d) * m + ((r[s] % d) * m) // d
        dang = sum(r[i] for i in range(n) if i not in deg)
        r = {i: base + (17 * (inn[i] + dang // n)) // 20 for i in range(n)}
    assert got == r  # bit-exact

    flt = {x["node"]: x["rank"] for x in pagerank(edges, iterations=10).collect()}
    for i in range(n):
        assert abs(got[i] / PAGERANK_SCALE - flt[i]) < 1e-6


def test_minhash_band_matches_are_not_degenerate(spark):
    """Regression pin for the missing-modulus bug: without the mod in
    (a*h + b) mod p, every signature position is an affine image of the
    single minimum gram hash, so any colliding pair matches ALL bands
    (observed 16/16 on every sf0.01 collision). Near-duplicate (not
    identical) docs must be able to collide on SOME but not all bands."""
    from market_data_pipeline_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    for i in range(12):
        # each doc shares most of the base but swaps a few tokens
        toks = list(base)
        toks[i % len(toks)] = f"swap{i}"
        toks[(i * 7) % len(toks)] = f"alt{i}"
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.minhash_lsh_pairs(docs).collect()
    assert got, "near-dup corpus must produce candidate pairs"
    n_bands = sorted({r["n_bands_matched"] for r in got})
    assert any(n < 16 for n in n_bands), (
        f"every pair matched all 16 bands ({n_bands}) — the degenerate "
        "affine-permutation signature is back"
    )
