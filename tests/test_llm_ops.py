"""Tests for the LLM-data-pipeline operators: dedup, similarity, text,
events (SURVEY §7 Phase 6)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup as DD
from market_data_pipeline_spark.operators import events as EV
from market_data_pipeline_spark.operators import similarity as SIM
from market_data_pipeline_spark.operators import text as TX

TS = dt.datetime


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
    other = "completely different words appear here without any overlap with that sentence"
    return spark.createDataFrame(
        [
            (1, base, "en"),
            (2, base, "en"),      # exact dup of 1
            (3, near, "en"),      # near dup of 1
            (4, other, "en"),
            (5, base, "fr"),      # same text, different lang group
        ],
        ["doc_id", "text", "lang"],
    )


def test_exact_dedup(docs):
    out = {r.doc_id: r.dup_count for r in DD.exact_dedup(docs).collect()}
    assert out[1] == 3  # docs 1, 2, 5 share text (hash ignores lang)
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.5 < pairs[(1, 3)] < 1.0     # near dup
    assert (1, 4) not in pairs           # unrelated
    assert (1, 5) not in pairs           # lang partition separates


def test_minhash_lsh_candidates(docs):
    pairs = {(r.doc_a, r.doc_b) for r in DD.minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs       # identical signatures always collide
    assert (1, 3) in pairs       # near dup shares most bands
    assert (1, 4) not in pairs


def test_simhash_hamming(docs):
    fp = DD.simhash(docs)
    vals = {r.doc_id: r.fingerprint for r in fp.collect()}
    ham = lambda a, b: bin(vals[a] ^ vals[b]).count("1")
    assert ham(1, 2) == 0  # identical text -> identical fingerprint
    # near dup is closer than unrelated text (tiny docs are noisy, so only
    # the relative ordering is a stable invariant)
    assert ham(1, 3) < ham(1, 4)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in DD.simhash_near_pairs(fp, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0


def test_knn_bruteforce_orders_by_cosine(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = SIM.knn_bruteforce(emb, [1.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [0, 1, 2]
    assert out[0].cosine == 1.0
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert out[1].cosine == pytest.approx(expected, abs=1e-6)


def test_knn_batch_excludes_self(spark):
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(3)]) for i in range(3)], ["vec_id", "embedding"]
    )
    out = SIM.knn_batch(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert all(r.vec_id != 0 for r in out)
    assert len(out) == 2


def test_knn_lsh_recall_on_clusters(spark):
    # two tight clusters: LSH must retrieve same-cluster neighbors
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
        rows.append((100 + i, [0.0, 0.0, 1.0, 0.001 * i]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = SIM.knn_lsh(emb, emb.filter(F.col("vec_id") == 0), dim=4, k=3, n_planes=4)
    got = [r.vec_id for r in out.collect()]
    assert got and all(v < 100 for v in got)


def test_quality_stats_and_tokens(spark):
    df = spark.createDataFrame([(1, "The quick, brown fox!")], ["doc_id", "text"])
    r = TX.quality_stats(df).first()
    assert r.token_count == 4
    assert r.stop_count == 1  # 'the'
    assert r.punct_count == 2  # ',' and '!'
    t = df.select(TX.bpe_ish_token_count(F.col("text")).alias("n")).first()
    assert t.n == 6  # The / quick / , / brown / fox / !


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in the house"),
            (2, "el gato y la casa de los perros en madrid"),
            (3, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.predicted_lang for r in TX.detect_language(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "unknown"


def test_tumbling_and_sliding_windows(spark):
    rows = [
        (1, TS(2024, 1, 1, 10, 5), 7, "a", 1.0),
        (2, TS(2024, 1, 1, 10, 40), 7, "a", 2.0),
        (3, TS(2024, 1, 1, 11, 10), 7, "a", 4.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    tumb = {r.window_start: r.n_events for r in EV.tumbling_window(df, keys=["event_type"]).collect()}
    assert tumb[TS(2024, 1, 1, 10)] == 2 and tumb[TS(2024, 1, 1, 11)] == 1
    slid = {(r.window_start, r.n_events) for r in EV.sliding_window(df, keys=["event_type"]).collect()}
    # event at 10:40 belongs to windows starting 10:00 and 10:30
    assert (TS(2024, 1, 1, 10), 2) in slid
    assert (TS(2024, 1, 1, 10, 30), 2) in slid  # 10:40 + 11:10


def test_sessionize_gap_split(spark):
    rows = [
        (1, TS(2024, 1, 1, 10, 0), 7, "a", 1.0),
        (2, TS(2024, 1, 1, 10, 20), 7, "a", 1.0),   # same session (gap 20m)
        (3, TS(2024, 1, 1, 11, 30), 7, "a", 1.0),   # new session (gap 70m)
        (4, TS(2024, 1, 1, 10, 0), 8, "a", 1.0),    # other user
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    out = EV.sessionize(df, gap_minutes=30).orderBy("user_id", "session_id").collect()
    u7 = [r for r in out if r.user_id == 7]
    assert [(r.session_id, r.n_events) for r in u7] == [(1, 2), (2, 1)]
    assert len([r for r in out if r.user_id == 8]) == 1


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Two tight clusters plus an outlier: ids 0-2 near +x, 10-12 near +y."""
    rows = []
    for i, eps in [(0, 0.0), (1, 0.01), (2, -0.02)]:
        rows.append((i, [1.0, eps, 0.0, 0.0]))
    for i, eps in [(10, 0.0), (11, 0.015), (12, -0.01)]:
        rows.append((i, [eps, 1.0, 0.0, 0.0]))
    rows.append((20, [0.0, 0.0, 1.0, 0.0]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_near_dup_exact(clustered_emb):
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in SIM.cosine_near_dup_pairs(clustered_emb, threshold=0.99).collect()
    }
    assert set(pairs) == {(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12)}
    assert all(v >= 0.99 for v in pairs.values())


def test_cosine_near_dup_lsh_recall(clustered_emb):
    exact = {
        (r.vec_a, r.vec_b)
        for r in SIM.cosine_near_dup_pairs(clustered_emb, threshold=0.99).collect()
    }
    approx = {
        (r.vec_a, r.vec_b)
        for r in SIM.cosine_near_dup_lsh(
            clustered_emb, dim=4, threshold=0.99, n_bands=8, band_planes=2
        ).collect()
    }
    # every LSH pair is a true pair (cosine confirmed); recall is high on
    # tight clusters
    assert approx <= exact
    assert len(approx) >= len(exact) - 1


def test_knn_ivf_matches_bruteforce_on_clusters(clustered_emb):
    # centroids = vec_id < 3 (all in cluster A) still routes cluster-B
    # queries through their best available centroid; with n_probe covering
    # all centroids the search is exhaustive and must equal brute force
    q = clustered_emb.filter(F.col("vec_id") == 0)
    ivf = SIM.knn_ivf(clustered_emb, q, k=3, n_centroids=3, n_probe=3)
    bf = SIM.knn_batch(clustered_emb, q, k=3)
    assert [(r.vec_id, r.rank) for r in ivf.orderBy("rank").collect()] == [
        (r.vec_id, r.rank) for r in bf.orderBy("rank").collect()
    ]


def test_ivf_assign_deterministic_ties(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (5, [1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    cents = emb.filter(F.col("vec_id") < 2)
    out = {r.vec_id: r.centroid_id for r in SIM.ivf_assign(emb, cents).collect()}
    # identical cosines -> lowest centroid id wins everywhere
    assert out == {0: 0, 1: 0, 5: 0}


def test_ivf_assign_join_path_matches_literal_path(spark, monkeypatch):
    """Both ivf_assign regimes (plan-literal argmax vs broadcast-join
    argmax keyed on the full row) must agree — including exact-duplicate
    multiplicity, which the join path restores via count/|C|."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.6, 0.8, 0.0]),
        (2, [0.6, 0.8, 0.0]),  # exact duplicate row: must appear twice
        (3, [0.0, 0.6, 0.8]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], ["vec_id", "embedding"]
    )
    key = lambda r: (r.vec_id, r.centroid_id, r.cosine)  # noqa: E731
    lit_out = sorted(map(key, SIM.ivf_assign(emb, cents).collect()))
    monkeypatch.setattr(SIM, "_LITERAL_ARGMAX_TERMS", 0)
    join_out = sorted(map(key, SIM.ivf_assign(emb, cents).collect()))
    assert lit_out == join_out
    assert len(join_out) == len(rows)
    # keep_vec carries vectors identically through both paths
    lit_v = sorted(
        (r.vec_id, tuple(r.embedding))
        for r in SIM.ivf_assign(emb, cents, keep_vec=True).collect()
    )
    assert lit_v.count((2, (0.6, 0.8, 0.0))) == 2


def test_ivf_assign_empty_centroids(spark):
    emb = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    cents = emb.filter(F.col("vec_id") < 0)
    out = SIM.ivf_assign(emb, cents)
    assert out.count() == 0
    assert out.columns == ["vec_id", "centroid_id", "cosine"]


def test_kmeans_centroids_shape_and_ivf(clustered_emb):
    cents = SIM.kmeans_centroids(clustered_emb, k=3)
    rows = cents.collect()
    assert {r.vec_id for r in rows} == {0, 1, 2}
    assert all(len(r.embedding) == 4 for r in rows)
    # learned centroids route the two clusters + outlier properly: ivf with
    # full probe equals brute force
    q = clustered_emb.filter(F.col("vec_id") == 10)
    ivf = SIM.knn_ivf(clustered_emb, q, k=3, n_probe=3, centroids=cents)
    bf = SIM.knn_batch(clustered_emb, q, k=3)
    assert [(r.vec_id, r.rank) for r in ivf.orderBy("rank").collect()] == [
        (r.vec_id, r.rank) for r in bf.orderBy("rank").collect()
    ]


def test_kmeans_lloyd_exact_properties(clustered_emb):
    """The deterministic Lloyd fit (r11 verdict #3: the oracle-replayable
    replacement for MLlib in k5): same-input determinism, MLlib-grade
    clustering on the planted fixture, empty-cluster keep-prior, and the
    knn_ivf recall property the MLlib fit satisfied."""
    # sample_hex=None: fit on the whole 7-row fixture
    cents = SIM.kmeans_lloyd_exact(clustered_emb, k=3, max_iter=5, sample_hex=None)
    rows = sorted((r.vec_id, tuple(r.embedding)) for r in cents.collect())
    # determinism: a second independent fit is bit-identical
    again = sorted(
        (r.vec_id, tuple(r.embedding))
        for r in SIM.kmeans_lloyd_exact(
            clustered_emb, k=3, max_iter=5, sample_hex=None
        ).collect()
    )
    assert rows == again
    assert [cid for cid, _ in rows] == [0, 1, 2]
    assert all(len(v) == 4 for _, v in rows)
    # the 3 learned centroids separate the planted structure: one near +x,
    # one near +y, one at the outlier (each centroid's argmax dim differs)
    argmax_dims = sorted(v.index(max(v)) for _, v in rows)
    assert argmax_dims == [0, 1, 2]
    # recall property (same as the MLlib test): IVF with full probe over
    # the learned centroids equals brute force
    q = clustered_emb.filter(F.col("vec_id") == 10)
    ivf = SIM.knn_ivf(clustered_emb, q, k=3, n_probe=3, centroids=cents)
    bf = SIM.knn_batch(clustered_emb, q, k=3)
    assert [(r.vec_id, r.rank) for r in ivf.orderBy("rank").collect()] == [
        (r.vec_id, r.rank) for r in bf.orderBy("rank").collect()
    ]


def test_kmeans_lloyd_exact_empty_cluster_keeps_prior(spark):
    """k = n: every point seeds a centroid; after one step two identical
    points collapse onto one centroid, so another cluster goes empty and
    must KEEP its previous centroid (MLlib parity), not vanish."""
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    cents = SIM.kmeans_lloyd_exact(emb, k=3, max_iter=3, sample_hex=None)
    rows = cents.collect()
    assert len(rows) == 3  # no centroid dropped
    vecs = sorted(tuple(r.embedding) for r in rows)
    assert (0.0, 0.0) in vecs and (1.0, 1.0) in vecs


def test_kmeans_lloyd_exact_backtick_column(clustered_emb):
    """A vector column whose name contains a backtick is quoted, not
    spliced, into the assignment SQL: the fit equals the plain-name fit."""
    name = "emb`x"
    renamed = clustered_emb.withColumnRenamed("embedding", name)
    got = SIM.kmeans_lloyd_exact(renamed, k=3, max_iter=3, vec_col=name, sample_hex=None)
    assert got.columns == ["vec_id", name]
    want = SIM.kmeans_lloyd_exact(clustered_emb, k=3, max_iter=3, sample_hex=None)
    assert sorted((r[0], tuple(r[1])) for r in got.collect()) == sorted(
        (r[0], tuple(r[1])) for r in want.collect()
    )


def test_kmeans_lloyd_exact_empty_input(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert SIM.kmeans_lloyd_exact(emb, k=4).count() == 0
    assert (
        SIM.knn_ivf(emb, emb, centroids=SIM.kmeans_lloyd_exact(emb, k=4)).count()
        == 0
    )


def test_exact_sq_fold_two_path_parity(spark):
    """exact_sq_fold's double fast path and DECIMAL(38,0) slow path must
    produce identical values (r7 verdict #2: the two-path rewrite of the
    ANSI-safe k folds). Vectors straddle the 2^53 bound: unit-scale
    (fast), |x|=5e3 at dim 64 (terms 2.5e16 > 9e15 -> slow), a mixed
    frame, NULL element, and empty array."""
    rows = [
        (1, [0.3, -0.4, 0.5, 0.1]),            # fast path
        (2, [5e3] * 64),                        # slow path: term 2.5e16
        (3, [1e-9, 0.0, -1e-9]),                # fast, rounds to 0 terms
        (4, [2.0, None, 1.0]),                  # NULL element -> NULL
        (5, []),                                # empty -> 0
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>").select(
        "id",
        F.transform(
            F.col("v"), lambda x: F.round(x * x * 1e9)
        ).alias("_t"),
    )
    got = {
        r.id: r.s
        for r in df.select(
            "id", SIM.exact_sq_fold(F.col("_t"), 1e9).alias("s")
        ).collect()
    }
    # decimal-only reference fold (the pre-r8 implementation)
    ref_expr = (
        F.aggregate(
            F.transform(F.col("_t"), lambda t: t.cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
            lambda a, t: a + t,
        ).cast("double")
        / 1e9
    )
    ref = {r.id: r.s for r in df.select("id", ref_expr.alias("s")).collect()}
    assert got == ref
    assert got[1] == pytest.approx(0.51, abs=1e-12)
    assert got[2] == pytest.approx(64 * 25e6, rel=1e-15)  # slow path exact
    assert got[3] == 0.0 and got[5] == 0.0
    assert got[4] is None


def test_ivf_assign_string_ids_both_paths(spark, monkeypatch):
    """Non-numeric centroid ids must analyze on BOTH argmax paths (r7
    ADVICE #2: the old key negated the id). Ties break on the LOWEST id
    in string order."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    cents = spark.createDataFrame(
        [("b", [1.0, 0.0]), ("a", [1.0, 0.0]), ("c", [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    expect = {0: "a", 1: "c", 2: "a"}  # tie between a/b -> a
    lit_out = {r.vec_id: r.centroid_id for r in SIM.ivf_assign(emb, cents).collect()}
    monkeypatch.setattr(SIM, "_LITERAL_ARGMAX_TERMS", 0)
    join_out = {r.vec_id: r.centroid_id for r in SIM.ivf_assign(emb, cents).collect()}
    assert lit_out == expect and join_out == expect


def test_ivf_assign_null_centroid_vectors_route_to_join_path(spark):
    """A NULL centroid vector or NULL component crashed the literal
    path's driver-side F.lit() construction while the join path handled
    it (r7 ADVICE #1): degenerate pools now route to the join path and
    the NULL-cosine centroid loses the argmax."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    schema = "vec_id long, embedding array<double>"
    for bad in ([(10, None)], [(10, [None, 1.0])]):
        cents = spark.createDataFrame(
            [(20, [1.0, 0.0]), (21, [0.0, 1.0])] + bad, schema
        )
        out = {
            r.vec_id: (r.centroid_id, r.cosine)
            for r in SIM.ivf_assign(emb, cents).collect()
        }
        assert out == {0: (20, 1.0), 1: (21, 1.0)}
    # NULL vector FIRST in the pool: the old regime check raised
    # TypeError on len(None) before even choosing a path
    cents = spark.createDataFrame([(10, None), (20, [1.0, 0.0])], schema)
    out = {r.vec_id: r.centroid_id for r in SIM.ivf_assign(emb, cents).collect()}
    assert out == {0: 20, 1: 20}


def test_salted_group_agg_matches_plain_groupby(spark):
    """salted_group_agg's two-phase (key, salt) -> key aggregation must
    be value-identical to the plain one-phase groupBy, including NULL
    sum values (skipped) and exact decimal sums."""
    from market_data_pipeline_spark.operators.skew import salted_group_agg

    rows = [(1, 10.5), (1, 0.25), (1, None), (2, -3.0), (3, 0.0)] + [
        (1, float(i)) for i in range(50)  # hot key
    ]
    df = spark.createDataFrame(rows, "k long, v double")
    got = {
        r.k: (r.n_rows, float(r.sum_v) if r.sum_v is not None else None)
        for r in salted_group_agg(df, ["k"], sum_cols=["v"], salt_buckets=4).collect()
    }
    ref = {
        r.k: (r.n, float(r.s) if r.s is not None else None)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
        )
        .collect()
    }
    assert got == ref
    assert got[1][0] == 53  # NULL row still counted
    # all-NULL group sums to NULL in both shapes
    df2 = spark.createDataFrame([(9, None), (9, None)], "k long, v double")
    out = salted_group_agg(df2, ["k"], sum_cols=["v"]).collect()[0]
    assert out.n_rows == 2 and out.sum_v is None


def test_grouped_knn_per_group_topk(spark):
    """grouped_knn returns the k best per group with global ordering
    semantics per group (cosine desc, id tiebreak), never letting one
    group crowd out another; NULL query components -> NULL cosines
    ranked by id (the oracle's NULLS LAST order)."""
    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [0.9, 0.1]),
        (3, "a", [0.0, 1.0]),
        (4, "b", [1.0, 0.0]),  # b's best
        (5, "b", [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = SIM.grouped_knn(emb, [1.0, 0.0], k=2, group_col="label").collect()
    got = {(r.label, r.rank): r.vec_id for r in out}
    assert got == {("a", 1): 1, ("a", 2): 2, ("b", 1): 4, ("b", 2): 5}
    # NULL component query: every cosine NULL, ranks fall back to id order
    out2 = SIM.grouped_knn(emb, [None, 1.0], k=2, group_col="label").collect()
    got2 = {(r.label, r.rank): (r.vec_id, r.cosine) for r in out2}
    assert got2 == {
        ("a", 1): (1, None), ("a", 2): (2, None),
        ("b", 1): (4, None), ("b", 2): (5, None),
    }


def test_blocked_name_pairs_deletion_path_matches_quadratic(spark):
    """The SymSpell-style deletion-neighborhood candidate path (r8
    §G-100x fix: nation-blocked all-pairs is quadratic in corpus size)
    must produce EXACTLY the quadratic expansion's pairs — including
    unicode, empty, single-char and NULL names — and the long-name
    fallback regime must stay reachable."""
    from market_data_pipeline_spark.operators.util import pairs_within_groups

    rows = [
        (1, 10, "ab"), (1, 11, "b"), (1, 12, ""), (1, 13, None),
        (1, 14, "héllo"), (1, 15, "hëllo"), (1, 16, "hello"),
        (2, 17, "hello"), (1, 18, "x"), (1, 19, "xyz"), (1, 20, "zyx"),
        (2, 21, "hallo"), (2, 22, "hullo!"),
    ]
    df = spark.createDataFrame(rows, "blk int, id long, nm string")

    def quadratic(frame):
        p = pairs_within_groups(frame.select("blk", "id", "nm"), ["blk"], "id", ["nm"])
        return (
            p.select(
                F.col("blk"),
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.levenshtein(F.col("a.nm"), F.col("b.nm")).cast("long").alias("edit_dist"),
            ).filter(F.col("edit_dist") <= 2)
        )

    ref = sorted(map(tuple, quadratic(df).collect()))
    # deletion_min_rows=0 forces the deletion path on this tiny frame
    # (the production default keeps small corpora on the quadratic plan)
    got = sorted(
        map(tuple, DD.blocked_name_pairs(df, "blk", "id", "nm", deletion_min_rows=0).collect())
    )
    assert got == ref and len(ref) >= 5
    # forcing the fallback regime (deletion_max_len below every name)
    fb = sorted(
        map(tuple, DD.blocked_name_pairs(df, "blk", "id", "nm", deletion_max_len=0).collect())
    )
    assert fb == ref
    # max_dist=1 tightens identically on both paths
    ref1 = sorted(
        map(tuple, quadratic(df).filter(F.col("edit_dist") <= 1).collect())
    )
    got1 = sorted(
        map(
            tuple,
            DD.blocked_name_pairs(df, "blk", "id", "nm", max_dist=1, deletion_min_rows=0).collect(),
        )
    )
    assert got1 == ref1
    # max_block_size drops oversized blocks entirely in the deletion regime
    capped = DD.blocked_name_pairs(
        df, "blk", "id", "nm", max_block_size=3, deletion_min_rows=0
    ).collect()
    assert {r.blk for r in capped} == {2}


def test_blocked_name_pairs_short_name_hot_core(spark):
    """r8 ADVICE #4: a corpus dense in short names used to collapse onto
    the alphabet-bounded tiny cores (every <=2-char name shares the ''
    core) and recreate the k^2 bucket inside the deletion regime. The
    fix routes short names through the exact in-block expansion and
    prunes cores of length <= max_dist, so the result stays EXACTLY the
    quadratic reference — short-short, short-long and long-long pairs
    alike — while no (block, core) bucket holds the short names."""
    from market_data_pipeline_spark.operators.util import pairs_within_groups

    # 30 short names (<=4 chars at max_dist=2) + long names within 2
    # edits of some short ones (cross-regime pairs must survive)
    rows = [(1, i, s) for i, s in enumerate(
        ["a", "b", "ab", "ba", "abc", "bc", "c", "cd", "abcd", "bcd",
         "x", "xy", "xyz", "yz", "z", "q", "qr", "qrs", "rs", "r",
         "m", "mn", "mno", "no", "o", "k", "kl", "klm", "lm", "l"]
    )]
    rows += [(1, 100, "abcde"), (1, 101, "abcdef"), (1, 102, "xyzzy"),
             (1, 103, "qrstu"), (1, 104, "mnopq")]
    df = spark.createDataFrame(rows, "blk int, id long, nm string")

    def quadratic(frame):
        p = pairs_within_groups(frame.select("blk", "id", "nm"), ["blk"], "id", ["nm"])
        return (
            p.select(
                F.col("blk"),
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.levenshtein(F.col("a.nm"), F.col("b.nm")).cast("long").alias("edit_dist"),
            ).filter(F.col("edit_dist") <= 2)
        )

    ref = sorted(map(tuple, quadratic(df).collect()))
    got = sorted(map(tuple, DD.blocked_name_pairs(
        df, "blk", "id", "nm", regime="deletion"
    ).collect()))
    assert got == ref and len(ref) > 30
    # pinned regimes bypass the eager auto probe and agree
    quad = sorted(map(tuple, DD.blocked_name_pairs(
        df, "blk", "id", "nm", regime="quadratic"
    ).collect()))
    assert quad == ref
    # max_core_bucket only drops candidates from oversized CORE buckets
    # (recall knob): output is a subset of the exact result
    sub = sorted(map(tuple, DD.blocked_name_pairs(
        df, "blk", "id", "nm", regime="deletion", max_core_bucket=2
    ).collect()))
    assert set(sub) <= set(ref)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        DD.blocked_name_pairs(df, "blk", "id", "nm", regime="bogus")


def test_ivf_assign_nan_outranks_inf_both_paths(spark, monkeypatch):
    """The argmax ordering is exactly a descending double scan: NaN
    sorts ABOVE +inf (Spark and DuckDB agree), NULL sorts last. The r8
    (rank, -cosine, cid) key must preserve that even when a NaN-cosine
    and an inf-cosine centroid coexist — plain negation would collapse
    them onto the same -inf key."""
    import math

    emb = spark.createDataFrame(
        [(0, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [
            (10, [float("inf"), 1.0]),    # dot=inf, norms inf -> cosine NaN
            (20, [1e308, 1e308]),          # dot overflows -> cosine inf
            (30, [1.0, 0.9]),              # ordinary
            (40, [0.0, 0.0]),              # zero-norm -> NULL, must lose
        ],
        "vec_id long, embedding array<double>",
    )
    for _ in range(2):
        out = {r.vec_id: r.centroid_id for r in SIM.ivf_assign(emb, cents).collect()}
        assert out == {0: 10}, out  # NaN beats inf beats finite beats NULL
        cos = [r.cosine for r in SIM.ivf_assign(emb, cents).collect()]
        assert len(cos) == 1 and math.isnan(cos[0])
        monkeypatch.setattr(SIM, "_LITERAL_ARGMAX_TERMS", 0)  # join path
