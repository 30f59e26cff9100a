"""Empty-input robustness sweep: every core operator must accept a
0-row frame (empty streaming micro-batches, fully-filtered partitions,
fresh tables are all routine at scale) and return an empty — or
well-defined degenerate — result instead of crashing on head()[0] /
np.min-of-empty / div-by-zero assumptions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup as DD
from market_data_pipeline_spark.operators import events as EV
from market_data_pipeline_spark.operators import similarity as SIM
from market_data_pipeline_spark.operators import text as TX
from market_data_pipeline_spark.operators import timeseries as TS
from market_data_pipeline_spark.operators.quality import profile_columns

DOCS = "doc_id long, text string"
EMB = "vec_id long, embedding array<float>"
PRICE = "symbol string, trade_date date, close_price double"
EVENTS = "user_id long, ts timestamp"


@pytest.fixture(scope="module")
def empty(spark):
    def make(schema):
        return spark.createDataFrame([], schema)

    return make


def test_dedup_ops_empty(spark, empty):
    docs = empty(DOCS)
    assert DD.exact_dedup(docs).count() == 0
    assert DD.ngram_jaccard_pairs(docs, group_col=None).count() == 0
    assert DD.minhash_lsh_pairs(docs).count() == 0
    assert DD.decontaminate(docs, docs).count() == 0
    # empty benchmark: nothing is contaminated, corpus passes through
    one = spark.createDataFrame([(1, "a b c d")], DOCS)
    out = DD.decontaminate(one, empty(DOCS)).collect()
    assert len(out) == 1 and out[0]["n_overlap"] == 0
    assert DD.incremental_dedup(docs, docs).count() == 0
    # empty seen side: every arrival survives
    assert DD.incremental_dedup(one, empty(DOCS)).count() == 1


def test_connected_components_empty(spark, empty):
    pairs = empty("doc_a long, doc_b long")
    assert DD.connected_components(pairs).count() == 0


def test_similarity_ops_empty(spark, empty):
    vecs = empty(EMB)
    assert SIM.cosine_near_dup_pairs(vecs).count() == 0
    assert SIM.semantic_dedup(vecs, n_clusters=4).count() == 0
    one = spark.createDataFrame([(0, [1.0, 0.0])], EMB)
    # empty corpus, non-empty queries and vice versa
    assert SIM.knn_bruteforce(vecs, [1.0, 0.0]).count() == 0
    assert SIM.knn_batch(vecs, one).count() == 0
    assert SIM.knn_batch(one, vecs).count() == 0


def test_text_ops_empty(spark, empty):
    docs = empty(DOCS)
    assert TX.quality_stats(docs).count() == 0
    assert TX.detect_language(docs).count() == 0
    assert TX.repetition_stats(docs).count() == 0
    assert TX.rolling_fingerprint(docs).count() == 0
    assert TX.chunk_documents(docs).count() == 0
    assert TX.pack_sequences(docs).count() == 0
    assert TX.tfidf_top_terms(docs).count() == 0
    assert TX.shuffle_shards(docs).count() == 0
    assert TX.weighted_sample(docs, F.lit(1.0)).count() == 0
    assert (
        TX.domain_quota_sample(
            empty("doc_id long, source string, n_chars long"), budget=10
        ).count()
        == 0
    )


def test_timeseries_ops_empty(spark, empty):
    price = empty(PRICE)
    assert TS.sma(price, 5).count() == 0
    assert TS.zscore_outliers(price).count() == 0
    assert TS.forward_fill(price, ["close_price"]).count() == 0
    assert TS.max_drawdown(price).count() == 0


def test_events_and_profile_empty(spark, empty):
    assert EV.retention_cohorts(empty(EVENTS)).count() == 0
    # profile of an empty table: one row per column, zero counts, null min/max
    rows = {r["column"]: r.asDict() for r in profile_columns(empty(DOCS), ["doc_id", "text"]).collect()}
    assert set(rows) == {"doc_id", "text"}
    for r in rows.values():
        assert r["n_rows"] == 0 and r["n_nulls"] == 0 and r["n_distinct"] == 0
        assert r["min_value"] is None and r["max_value"] is None


def test_round3b_ops_empty(spark, empty):
    from market_data_pipeline_spark.operators import bloom
    from market_data_pipeline_spark.operators.events import (
        cumulative_distinct_users,
        nearest_event_join,
        transition_matrix,
    )
    from market_data_pipeline_spark.operators.quality import (
        freshness_report,
        population_stability,
    )

    docs = empty(DOCS)
    assert TX.bm25_rank(docs, ["x"]).count() == 0
    assert TX.crossdoc_ngram_stats(docs).count() == 0
    assert TX.temperature_resample(docs.withColumn("source", F.lit("s"))).count() == 0
    assert TX.bigram_lm_score(docs).count() == 0

    prices = empty(PRICE)
    assert TS.ewma(prices).count() == 0
    assert TS.rolling_median(prices, 5).count() == 0
    assert TS.cusum(prices).count() == 0
    assert TS.calendar_fill(prices, ["close_price"]).count() == 0
    actions = empty("symbol string, action_date date, factor double")
    # empty actions: every price keeps factor 1.0
    one = spark.createDataFrame([("A",)], "symbol string").select(
        "symbol",
        F.to_date(F.lit("2024-01-01")).alias("trade_date"),
        F.lit(10.0).alias("close_price"),
    )
    out = TS.adjusted_close(one, actions).collect()
    assert len(out) == 1 and out[0]["adj_factor"] == 1.0
    assert TS.adjusted_close(empty(PRICE), actions).count() == 0
    assert TS.vwap(prices.withColumn("volume", F.lit(1).cast("long")),
                   F.col("trade_date")).count() == 0

    ev = empty("user_id long, event_id long, ts timestamp, event_type string, value double")
    assert cumulative_distinct_users(ev).count() == 0
    assert nearest_event_join(ev, ev).count() == 0
    assert transition_matrix(ev).count() == 0
    assert freshness_report(prices).count() == 0
    assert population_stability(
        empty("b long, ref boolean"), F.col("b"), F.col("ref")
    ).count() == 0

    # bloom over an empty dim: bitmap all zeros -> nothing passes the
    # filter, semi-join correctly empty
    dim = empty("k long")
    bm = bloom.build_bloom(dim, "k", num_bits=1 << 10)
    assert all(w == 0 for w in bm)
    probe = spark.range(0, 100).select(F.col("id").alias("k"))
    assert bloom.bloom_semi_join(probe, "k", dim, "k", num_bits=1 << 10).count() == 0

    emb = empty(EMB)
    assert SIM.knn_graph(emb, k=3).count() == 0


def test_round4_ops_empty(spark, empty):
    from market_data_pipeline_spark.operators.incremental import collapse_runs
    from market_data_pipeline_spark.operators.rangejoin import banded_range_join

    price = empty(PRICE)
    assert TS.sharpe_ratio(price).count() == 0
    assert TS.donchian_channels(price).count() == 0
    assert TS.return_autocorr(price).count() == 0
    assert TS.cross_sectional_momentum(price).count() == 0
    events = empty(EVENTS + ", event_id long, event_type string, value double")
    assert EV.conversion_latency(events).count() == 0
    assert EV.rfm_scores(events).count() == 0
    assert EV.burst_detection(events).count() == 0
    assert EV.bounce_rate(events).count() == 0
    assert EV.interval_coverage(events).count() == 0
    assert EV.sliding_active_users(events).count() == 0
    docs = empty(DOCS)
    assert TX.sentence_stats(docs).count() == 0
    assert TX.zipf_slope(docs.withColumn("lang", F.lit("en"))).count() == 0
    assert TX.crossdoc_sentence_stats(docs).count() == 0
    assert TX.bucketed_batches(docs).count() == 0
    assert TX.quality_gate(docs).count() == 0
    assert collapse_runs(
        empty("k long, d date, o long, v string"), "k", ["d", "o"], "v"
    ).count() == 0
    fact = empty("id long, v double")
    dim = empty("band string, lo double, hi double")
    assert banded_range_join(fact, dim, "v").count() == 0
    assert banded_range_join(fact, dim, "v", how="left").count() == 0


def test_round6_ops_empty(spark, empty):
    """Round-6 operators: containment pairs, SCD-2, k-fold, stopword
    profile, BPE training, PCA all survive 0-row inputs."""
    from market_data_pipeline_spark.operators.incremental import scd2_history

    docs = empty("doc_id long, text string, lang string")
    assert DD.containment_pairs(docs).count() == 0
    assert TX.kfold_assign(empty("doc_id long")).count() == 0
    assert TX.stopword_profile(docs).count() == 0
    assert TX.bpe_train(docs).count() == 0
    assert (
        scd2_history(
            empty("k long, dt date, status string, seq long"),
            "k", "dt", "status", "seq",
        ).count()
        == 0
    )
    assert SIM.pca_explained_variance(empty(EMB)).count() == 0


def test_round7_query_level_empty(spark, empty):
    """Round-7 registry-wide empty sweep (`scripts/sweep.py empty`) found
    exactly four of 355 queries crashing on 0-row tables — the same
    collect()[0] / empty-fit / div-by-zero class as the r6 o2 advisor
    finding. Pin the operator-level fixes here."""
    import numpy as np

    vecs = empty(EMB)
    # MLlib KMeans aborts on an empty fit; guard returns empty centroids
    assert SIM.kmeans_centroids(vecs, k=4).count() == 0
    # empty centroids -> empty assignment (already total), end to end
    assert SIM.knn_ivf(vecs, vecs, centroids=SIM.kmeans_centroids(vecs, k=4)).count() == 0
    # pq_train on a 0-row sample: degenerate one-zero-code books, right shapes
    books = SIM.pq_train(vecs, dim=8, m=4, k_codes=16)
    assert len(books) == 4 and all(b.shape == (1, 2) for b in books)
    assert np.all(books[0] == 0.0)
    # and the books stay usable: encoding an empty corpus is empty
    assert SIM.pq_encode(vecs, books).count() == 0


def test_zero_norm_centroid_loses_argmax(spark, monkeypatch):
    """r7 zero-vector sweep: NULL sorts GREATEST in struct-comparison
    argmax, so an all-zero centroid (NULL cosine) silently won every
    assignment in ivf_assign (both paths) and semantic_dedup — the
    whole corpus moved to one centroid with no error. Pin the fix:
    the zero centroid must lose to any real similarity on all three
    paths, and its NULL cosine must surface as NULL."""
    from market_data_pipeline_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0])], EMB
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])], EMB
    )

    def check(df):
        got = {r["vec_id"]: (r["centroid_id"], r["cosine"]) for r in df.collect()}
        assert got[10][0] == 1 and got[11][0] == 1 and got[12][0] == 2
        assert all(c is not None for _, c in got.values())

    check(SIM.ivf_assign(emb, cents))  # literal-argmax path
    monkeypatch.setattr(SIM, "_LITERAL_ARGMAX_TERMS", 0)
    check(SIM.ivf_assign(emb, cents))  # broadcast-join max_by path
    # semantic_dedup's inlined min_by assignment (zero centroid id 0)
    sd = {
        r["vec_id"]: r["centroid_id"]
        for r in SIM.semantic_dedup(
            spark.createDataFrame(
                [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (10, [1.0, 0.0]), (11, [0.9, 0.1])],
                EMB,
            ),
            n_clusters=2,  # centroids = vec_id < 2 -> zero vec + a real one
            threshold=0.99,
        ).collect()
    }
    assert sd[10] == 1 and sd[11] == 1
    # the zero vector itself has NULL cosine everywhere -> lowest cid wins
    assert sd[0] == 0
