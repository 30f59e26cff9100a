"""Round-3 second-pass operators: BM25, cross-doc n-grams, kNN graph,
bloom semi-join, segmented EWMA, temperature resampling."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import bloom, similarity
from market_data_pipeline_spark.operators.text import (
    bm25_rank,
    crossdoc_ngram_stats,
    temperature_resample,
)
from market_data_pipeline_spark.operators.timeseries import ewma


# --- EWMA -------------------------------------------------------------------


@pytest.mark.parametrize("alpha", [0.1, 0.5, 0.9])
def test_ewma_matches_pandas_across_block_boundaries(spark, alpha):
    rng = np.random.default_rng(11)
    rows = []
    for sym, n in [("A", 1300), ("B", 700), ("C", 3)]:  # spans 512-blocks
        for i in range(n):
            rows.append((sym, i, float(np.round(rng.uniform(1, 1000), 2))))
    pdf = pd.DataFrame(rows, columns=["symbol", "trade_date", "close_price"])
    out = (
        ewma(spark.createDataFrame(pdf), alpha=alpha)
        .toPandas()
        .sort_values(["symbol", "trade_date"])
        .reset_index(drop=True)
    )
    exp = pdf.groupby("symbol", group_keys=False)["close_price"].apply(
        lambda s: s.ewm(alpha=alpha, adjust=True).mean()
    )
    pdf["exp"] = exp
    merged = out.merge(pdf, on=["symbol", "trade_date"], suffixes=("", "_p"))
    assert len(merged) == len(pdf)
    assert (merged["ewma"] - merged["exp"].round(6)).abs().max() < 2e-6


def test_ewma_single_row_series(spark):
    df = spark.createDataFrame(
        [("A", 1, 10.0)], "symbol string, trade_date int, close_price double"
    )
    [r] = ewma(df, alpha=0.3).collect()
    assert r["ewma"] == 10.0


# --- Bloom semi-join --------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    dim = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("k"))
    keys = set(r["k"] for r in dim.collect())
    bitmap = bloom.build_bloom(dim, "k", num_bits=1 << 14, num_hashes=5)
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    hits = probe.filter(
        bloom.bloom_might_contain(F.col("k"), bitmap, 1 << 14, 5)
    ).collect()
    hit_keys = set(r["k"] for r in hits)
    present = {k for k in keys if k < 5000}
    assert present <= hit_keys  # no false negatives
    fp = len(hit_keys - present) / (5000 - len(present))
    assert fp < 0.05  # 16384 bits / 500 keys ~ 32 bits/key -> way under 5%


def test_bloom_semi_join_is_exact(spark, sf_dir):
    from market_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 2500)
    got = bloom.bloom_semi_join(li, "l_suppkey", sup, "s_suppkey", num_bits=1 << 12)
    exp = li.join(
        sup.select(F.col("s_suppkey").alias("l_suppkey")).distinct(),
        "l_suppkey",
        "left_semi",
    )
    assert got.count() == exp.count()
    assert got.select(F.sum("l_orderkey")).first()[0] == exp.select(
        F.sum("l_orderkey")
    ).first()[0]


# --- kNN graph --------------------------------------------------------------


def test_knn_graph_matches_bruteforce(spark):
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 8)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["src_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in similarity.knn_graph(df, k=3, n_blocks=4).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    C = np.round((vecs @ vecs.T) / np.outer(norms, norms), 6)
    np.fill_diagonal(C, -np.inf)
    for i in range(60):
        # expected order: cosine desc, id asc tiebreak
        order = sorted(range(60), key=lambda j: (-C[i, j], j))[:3]
        for rank, j in enumerate(order, start=1):
            nbr, cos = got[(i, rank)]
            assert nbr == j and abs(cos - C[i, j]) < 1e-9
    assert len(got) == 180


# --- BM25 -------------------------------------------------------------------


def test_bm25_against_python_reference(spark):
    docs = [
        (0, "spark window join window window"),
        (1, "customer vector"),
        (2, "the quick fox"),
        (3, "vector vector vector spark"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bm25_rank(df, ["window", "vector"], k=10).collect()}

    toks = {d: t.split() for d, t in docs}
    N = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / N
    dfreq = {
        q: sum(1 for t in toks.values() if q in t) for q in ["window", "vector"]
    }
    k1, b = 1.2, 0.75
    for d, t in toks.items():
        contribs = []
        for q in ["window", "vector"]:
            tf = t.count(q)
            if not tf:
                continue
            idf = math.log(1.0 + (N - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            contribs.append(round(round(c, 6) * 1e6))
        if not contribs:
            assert d not in out
            continue
        assert out[d]["n_terms"] == len(contribs)
        assert abs(out[d]["score"] - sum(contribs) / 1e6) < 1e-9


# --- cross-document n-gram stats -------------------------------------------


def test_crossdoc_ngram_stats_reference(spark):
    docs = [
        (0, "a b c d e f"),          # grams: abcde bcdef
        (1, "a b c d e x"),          # grams: abcde bcdex -> shares abcde with 0
        (2, "p q r s t"),            # gram: pqrst unique
        (3, "too short"),            # no 5-gram -> absent from output
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in crossdoc_ngram_stats(df, n=5).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["n_grams"] == 2 and out[0]["n_dup_grams"] == 1
    assert out[0]["dup_frac"] == 0.5
    assert out[1]["n_grams"] == 2 and out[1]["n_dup_grams"] == 1
    assert out[2]["n_grams"] == 1 and out[2]["n_dup_grams"] == 0


def test_crossdoc_ngram_within_doc_repeat_counts_once(spark):
    # the same gram repeated INSIDE one doc is not a cross-doc dup
    df = spark.createDataFrame(
        [(0, "a b c d e a b c d e"), (1, "z z z z z")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in crossdoc_ngram_stats(df, n=5).collect()}
    assert out[0]["n_dup_grams"] == 0  # distinct grams, none shared with doc 1
    assert out[1]["n_grams"] == 1  # 'z z z z z' once, array_distinct collapses


# --- temperature resampling -------------------------------------------------


def test_temperature_resample_flattens_shares(spark):
    rows = [(i, "big") for i in range(900)] + [(i + 900, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(df, temperature=2.0, scale=1.0)
    shares = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(shares.values())
    # T=2 targets sqrt-flattened shares: 0.9 -> .9487/(.9487+.3162)=0.75
    assert shares["small"] / total == pytest.approx(0.25, abs=0.02)
    assert shares["big"] / total == pytest.approx(0.75, abs=0.02)
    # T=1 is a no-op (m == 1 for every group)
    noop = temperature_resample(df, temperature=1.0, scale=1.0)
    assert noop.count() == 1000
    assert noop.select(F.max("copy_idx")).first()[0] == 1


def test_temperature_resample_deterministic(spark):
    rows = [(i, f"s{i % 3}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(map(tuple, temperature_resample(df, 4.0).collect()))
    b = sorted(map(tuple, temperature_resample(df, 4.0).collect()))
    assert a == b


# --- cumulative distinct users ----------------------------------------------


def test_cumulative_distinct_users_reference(spark):
    from market_data_pipeline_spark.operators.events import cumulative_distinct_users

    rows = [
        # (user, type, day)
        (1, "a", "2024-01-01"), (2, "a", "2024-01-01"),
        (1, "a", "2024-01-02"),                      # no new users that day
        (3, "a", "2024-01-03"), (1, "b", "2024-01-02"),
    ]
    df = spark.createDataFrame(
        [(u, t, f"{d} 12:00:00") for u, t, d in rows],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["event_type"], str(r["day"])): (r["new_users"], r["cum_users"])
        for r in cumulative_distinct_users(df).collect()
    }
    assert out[("a", "2024-01-01")] == (2, 2)
    assert out[("a", "2024-01-02")] == (0, 2)
    assert out[("a", "2024-01-03")] == (1, 3)
    assert out[("b", "2024-01-02")] == (1, 1)


# --- calendar fill ----------------------------------------------------------


def test_calendar_fill_dense_and_locf(spark):
    from market_data_pipeline_spark.operators.timeseries import calendar_fill

    df = spark.createDataFrame(
        [("A", "2024-01-01", 10.0), ("A", "2024-01-04", 40.0),
         ("B", "2024-02-01", 5.0)],
        "symbol string, trade_date string, close_price double",
    ).withColumn("trade_date", F.to_date("trade_date"))
    out = calendar_fill(df, ["close_price"]).collect()
    a = sorted(
        [(str(r["trade_date"]), r["close_price"], r["is_observed"])
         for r in out if r["symbol"] == "A"]
    )
    assert a == [
        ("2024-01-01", 10.0, 1), ("2024-01-02", 10.0, 0),
        ("2024-01-03", 10.0, 0), ("2024-01-04", 40.0, 1),
    ]
    b = [r for r in out if r["symbol"] == "B"]
    assert len(b) == 1 and b[0]["is_observed"] == 1


# --- nearest-event join -----------------------------------------------------


def test_nearest_event_join_both_directions(spark):
    from market_data_pipeline_spark.operators.events import nearest_event_join

    def ts(s):
        return f"2024-01-01 00:00:{s:02d}"

    left = spark.createDataFrame(
        [(1, 100, ts(10)), (1, 101, ts(30)), (2, 200, ts(5))],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, ts(12)), (1, ts(27)), (3, ts(0))],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["left_id"]: r for r in nearest_event_join(left, right).collect()}
    # click@10: nearest is 12 (after, 2s) vs none before -> 12
    assert str(out[100]["nearest_ts"]).endswith("00:00:12")
    assert out[100]["diff_us"] == 2_000_000
    # click@30: 27 (before, 3s) beats nothing after -> 27
    assert str(out[101]["nearest_ts"]).endswith("00:00:27")
    assert out[101]["diff_us"] == 3_000_000
    # user 2 has no right rows -> NULLs retained
    assert out[200]["nearest_ts"] is None and out[200]["diff_us"] is None


def test_nearest_event_join_tie_prefers_earlier(spark):
    from market_data_pipeline_spark.operators.events import nearest_event_join

    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:10")], "user_id long, event_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:08"), (1, "2024-01-01 00:00:12")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    [r] = nearest_event_join(left, right).collect()
    assert str(r["nearest_ts"]).endswith("00:00:08")  # equal distance -> earlier


# --- CUSUM ------------------------------------------------------------------


def test_cusum_closed_form_equals_sequential_recurrence(spark):
    from market_data_pipeline_spark.operators.timeseries import cusum

    rng = np.random.default_rng(3)
    prices = {}
    rows = []
    for sym in ["A", "B"]:
        p = 100.0
        seq = []
        for i in range(200):
            p *= 1 + rng.normal(0.001, 0.02)
            seq.append(round(p, 4))
            rows.append((sym, i, seq[-1]))
        prices[sym] = seq
    df = spark.createDataFrame(rows, "symbol string, trade_date int, close_price double")
    out = {
        (r["symbol"], r["trade_date"]): (r["cusum"], r["alarm"])
        for r in cusum(df, slack=0.001, threshold=0.04).collect()
    }
    for sym, seq in prices.items():
        s = 0.0
        for i in range(1, len(seq)):
            ret = seq[i] / seq[i - 1] - 1
            s = max(0.0, s + ret - 0.001)       # the sequential definition
            got_s, got_alarm = out[(sym, i)]
            assert abs(got_s - s) < 1e-6, (sym, i)
            assert got_alarm == (round(s, 6) > 0.04) or abs(s - 0.04) < 1e-9


# --- end-to-end corpus prep pipeline ----------------------------------------


def test_corpus_prep_pipeline_invariants(spark, sf_dir):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from corpus_prep import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # benchmark = a slice of the corpus itself -> those docs must be removed
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    out, counts = prepare_corpus(spark, docs, benchmark=bench, n_shards=4)

    assert counts["after_quality"] <= counts["input"]
    assert counts["after_exact_dedup"] <= counts["after_quality"]
    assert counts["after_near_dedup"] <= counts["after_exact_dedup"]
    assert counts["after_decontaminate"] < counts["after_near_dedup"]
    rows = out.collect()
    assert len(rows) == counts["chunks"] > 0
    assert set(r["shard"] for r in rows) <= {1, 2, 3, 4}  # ntile is 1-based
    # decontamination removed every benchmark doc that survived dedup
    surviving_ids = {r["doc_id"] for r in rows}
    assert not any(i % 50 == 0 for i in surviving_ids)
    # per-shard positions are a clean 1..n sequence (loader contract)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


# --- bigram LM --------------------------------------------------------------


def test_bigram_lm_score_reference(spark):
    from market_data_pipeline_spark.operators.text import bigram_lm_score

    docs = [(0, "a b a b"), (1, "a b c"), (2, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_score(df).collect()}
    # corpus bigrams: doc0: (a b), (b a), (a b); doc1: (a b), (b c)
    # counts: "a b"->3, "b a"->1, "b c"->1 ; ctx-as-predecessor a->3, b->2
    la, lb = math.log(3 / 3), math.log(1 / 2)
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_logprob"] == pytest.approx(round((la + lb + la) / 3, 6), abs=1e-6)
    assert out[1]["n_bigrams"] == 2
    assert out[1]["avg_logprob"] == pytest.approx(round((la + lb) / 2, 6), abs=1e-6)
    assert 2 not in out  # single-token doc has no bigrams


# --- last-touch attribution -------------------------------------------------


def test_last_touch_attribution_uses_latest_click(spark):
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    out = {
        r["purchase_id"]: r
        for r in QUERIES["e8_last_touch_attribution"](spark, "/root/testdata/sf0.001").collect()
    }
    assert out  # purchases exist at sf0.001
    for r in out.values():
        if r["click_ts"] is not None:
            assert r["click_ts"] <= r["purchase_ts"]


# --- streaming EWMA ---------------------------------------------------------


def test_streaming_ewma_matches_batch_closed_form(spark, sf_dir):
    from market_data_pipeline_spark.operators.timeseries import ewma as batch_ewma
    from market_data_pipeline_spark.sources.catalog import load_table
    from market_data_pipeline_spark.streaming import jobs as sj

    stream = sj.streaming_ewma(sj.read_events_stream(spark, sf_dir), alpha=0.3)
    out = sj.run_stream_to_memory(stream, "t_st8_parity", output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = {
        r["user_id"]: r["ewma"]
        for r in out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    batch = batch_ewma(
        events, value_col="value", alpha=0.3,
        partition_col="user_id", order_col="ts",
    )
    last = {
        r["user_id"]: r["ewma"]
        for r in batch.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("ts"))),
        )
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert final.keys() == last.keys()
    for u in final:
        assert final[u] == pytest.approx(last[u], abs=2e-6), u


# --- freshness SLA ----------------------------------------------------------


def test_freshness_report_flags_dead_feed(spark):
    from market_data_pipeline_spark.operators.quality import freshness_report

    rows = [("A", "2024-03-01"), ("A", "2024-03-10"), ("B", "2024-02-01")]
    df = spark.createDataFrame(rows, "symbol string, trade_date string").withColumn(
        "trade_date", F.to_date("trade_date")
    )
    out = {r["symbol"]: r for r in freshness_report(df, max_staleness_days=7).collect()}
    assert out["A"]["days_stale"] == 0 and not out["A"]["stale"]
    assert out["B"]["days_stale"] == 38 and out["B"]["stale"]
    assert str(out["B"]["watermark_ts"]) == "2024-03-10"


# --- corporate-action adjustment --------------------------------------------


def test_adjusted_close_strictly_after_and_stacked(spark):
    from market_data_pipeline_spark.operators.timeseries import adjusted_close

    prices = spark.createDataFrame(
        [("A", "2024-01-01", 100.0), ("A", "2024-02-01", 100.0),
         ("A", "2024-03-01", 100.0), ("B", "2024-01-01", 50.0)],
        "symbol string, trade_date string, close_price double",
    ).withColumn("trade_date", F.to_date("trade_date"))
    actions = spark.createDataFrame(
        [("A", "2024-02-01", 0.5), ("A", "2024-03-01", 0.8)],
        "symbol string, action_date string, factor double",
    ).withColumn("action_date", F.to_date("action_date"))
    out = {
        (r["symbol"], str(r["trade_date"])): (r["adj_factor"], r["adj_close"])
        for r in adjusted_close(prices, actions).collect()
    }
    # Jan 1 price: both later actions apply -> 0.5*0.8 = 0.4
    assert out[("A", "2024-01-01")] == (0.4, 40.0)
    # Feb 1 price: SAME-day action does NOT apply (strictly after), only
    # the Mar 1 action -> 0.8
    assert out[("A", "2024-02-01")] == (0.8, 80.0)
    # Mar 1 price: no later action -> 1.0
    assert out[("A", "2024-03-01")] == (1.0, 100.0)
    # symbol with no actions at all
    assert out[("B", "2024-01-01")] == (1.0, 50.0)


# --- Markov transitions -----------------------------------------------------


def test_transition_matrix_reference(spark):
    from market_data_pipeline_spark.operators.events import transition_matrix

    rows = [
        # user 1: a -> b -> a ; user 2: a -> c
        (1, 1, "2024-01-01 00:00:01", "a"), (1, 2, "2024-01-01 00:00:02", "b"),
        (1, 3, "2024-01-01 00:00:03", "a"), (2, 4, "2024-01-01 00:00:01", "a"),
        (2, 5, "2024-01-01 00:00:02", "c"),
    ]
    df = spark.createDataFrame(
        [(u, e, ts, t) for u, e, ts, t in rows],
        "user_id long, event_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in transition_matrix(df).collect()
    }
    # from a: ->b once, ->c once; from b: ->a once
    assert out[("a", "b")] == (1, 0.5)
    assert out[("a", "c")] == (1, 0.5)
    assert out[("b", "a")] == (1, 1.0)
    assert ("c", None) not in out and len(out) == 3


# --- population stability (drift) -------------------------------------------


def test_population_stability_reference(spark):
    import math

    from market_data_pipeline_spark.operators.quality import population_stability

    rows = [(0, True)] * 8 + [(0, False)] * 2 + [(1, True)] * 2 + [(1, False)] * 8 \
        + [(2, False)] * 5  # bucket 2 absent from reference
    df = spark.createDataFrame(rows, "b long, ref boolean")
    out = {
        r["bucket"]: r
        for r in population_stability(df, F.col("b"), F.col("ref")).collect()
    }
    # ref shares: .8/.2/0 over 10; cur shares: 2/15, 8/15, 5/15
    p0r, p0c = 0.8, 2 / 15
    assert out[0]["psi_term"] == pytest.approx(
        round((p0r - p0c) * math.log(p0r / p0c), 6), abs=1e-9
    )
    assert out[2]["n_ref"] == 0 and out[2]["psi_term"] is None  # surfaced, not fudged


# --- duplicated-span removal ------------------------------------------------


def test_remove_duplicate_spans_semantics(spark):
    from market_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    docs = [
        (0, "a b c d e tail zero"),      # canonical owner of "a b c d e"
        (1, "head a b c d e tail one"),  # span excised
        (2, "unique words only here now"),
        (3, "a b c d e"),                # entire doc is the dup span -> emptied
        (4, "hi"),                       # shorter than n -> untouched
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=5).collect()}

    assert out[0]["n_removed"] == 0
    assert out[0]["cleaned_text"] == "a b c d e tail zero"
    # doc 1 shares TWO grams with doc 0: "a b c d e" (idx 2-6) and
    # "b c d e tail" (idx 3-7) — union of spans = idx 2-7, 6 tokens
    assert out[1]["n_removed"] == 6
    assert out[1]["cleaned_text"] == "head one"
    assert out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 5 and out[3]["cleaned_text"] == ""
    assert out[4]["cleaned_text"] == "hi" and out[4]["n_removed"] == 0


def test_remove_duplicate_spans_within_doc_repeat(spark):
    from market_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    # the SAME doc repeats its own 5-gram: first occurrence is canonical,
    # the second is excised even with no other doc involved
    df = spark.createDataFrame(
        [(0, "a b c d e x a b c d e")], "doc_id long, text string"
    )
    [r] = remove_duplicate_spans(df, n=5).collect()
    assert r["n_removed"] == 5
    assert r["cleaned_text"] == "a b c d e x"


# --- source interleaving ----------------------------------------------------


def test_interleave_sources_spreads_domains(spark):
    from market_data_pipeline_spark.operators.text import interleave_sources

    # 90/10 split: in the interleaved global order, every window of 10
    # consecutive positions should hold ~1 minority doc (no clumping)
    rows = [(i, "maj") for i in range(90)] + [(90 + i, "min") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = interleave_sources(df, n_shards=2).collect()
    ordered = [r["source"] for r in sorted(out, key=lambda r: (r["shard"], r["pos"]))]
    assert len(ordered) == 100
    # minority gaps: consecutive 'min' docs must be ~10 apart (8..12)
    pos_min = [i for i, s in enumerate(ordered) if s == "min"]
    assert len(pos_min) == 10
    gaps = [b - a for a, b in zip(pos_min, pos_min[1:])]
    assert all(7 <= g <= 13 for g in gaps), gaps


# --- product quantization ANN -----------------------------------------------


def test_pq_recall_against_exact(spark, sf_dir):
    from market_data_pipeline_spark.operators.similarity import (
        knn_bruteforce,
        knn_pq,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, dim=64, m=8, k_codes=16)
    assert len(books) == 8 and books[0].shape == (16, 8)
    codes = pq_encode(emb, books)
    assert codes.count() == emb.count()

    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in knn_bruteforce(emb, query, k=10).collect()}
    approx = {r["vec_id"] for r in knn_pq(codes, books, query, k=10).collect()}
    assert 0 in approx  # raw ADC finds the self-match
    assert len(exact & approx) / 10 >= 0.3  # coarse codes: shortlist-grade
    # the production two-stage shape: ADC shortlist + exact re-rank
    rr = {r["vec_id"] for r in
          knn_pq(codes, books, query, k=10, rerank_with=emb, shortlist=50).collect()}
    assert len(exact & rr) / 10 >= 0.7, rr


def test_pq_codes_deterministic(spark, sf_dir):
    from market_data_pipeline_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    b1 = pq_train(emb, dim=64, m=4, k_codes=8, seed=7)
    b2 = pq_train(emb, dim=64, m=4, k_codes=8, seed=7)
    for x, y in zip(b1, b2):
        assert (x == y).all()
    c1 = sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in pq_encode(emb, b1).collect())))
    c2 = sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in pq_encode(emb, b2).collect())))
    assert c1 == c2


# --- negative sampling ------------------------------------------------------


def test_negative_sampling_invariants(spark):
    from market_data_pipeline_spark.operators.text import negative_sampling

    # sparse, non-dense ids on purpose
    ids = [3, 17, 99, 100, 2048, 70000]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = negative_sampling(df, k=3).collect()
    assert len(out) == len(ids) * 3
    idset = set(ids)
    for r in out:
        assert r["negative_id"] in idset      # negatives are real docs
        assert r["negative_id"] != r["doc_id"]  # never the anchor itself
    # deterministic across runs
    a = sorted(map(tuple, out))
    b = sorted(map(tuple, negative_sampling(df, k=3).collect()))
    assert a == b


def test_negative_sampling_degenerate_corpus(spark):
    from market_data_pipeline_spark.operators.text import negative_sampling

    one = spark.createDataFrame([(1,)], "doc_id long")
    assert negative_sampling(one, k=3).count() == 0  # no possible negative


# --- seasonal baseline and robust scaling -----------------------------------


def test_seasonal_baseline_reference(spark):
    from market_data_pipeline_spark.operators.timeseries import seasonal_baseline

    # two Mondays at 10 and 20 (avg 15), one Tuesday at 30
    rows = [("A", "2024-01-01", 10.0), ("A", "2024-01-08", 20.0),
            ("A", "2024-01-02", 30.0)]
    df = spark.createDataFrame(rows, "symbol string, trade_date string, close_price double")
    df = df.withColumn("trade_date", F.to_date("trade_date"))
    out = {str(r["trade_date"]): r for r in seasonal_baseline(df).collect()}
    assert out["2024-01-01"]["dow_avg"] == 15.0
    assert out["2024-01-01"]["seasonal_ratio"] == pytest.approx(10 / 15, abs=1e-6)
    assert out["2024-01-08"]["seasonal_ratio"] == pytest.approx(20 / 15, abs=1e-6)
    assert out["2024-01-02"]["dow_avg"] == 30.0 and out["2024-01-02"]["seasonal_ratio"] == 1.0


def test_robust_scale_reference_and_zero_iqr(spark):
    from market_data_pipeline_spark.operators.timeseries import robust_scale

    rows = [("A", i, v) for i, v in enumerate([1.0, 2.0, 4.0, 8.0, 9.0])] + [
        ("B", i, 5.0) for i in range(4)  # constant series -> IQR 0
    ]
    df = spark.createDataFrame(rows, "symbol string, trade_date int, close_price double")
    out = robust_scale(df).collect()
    a = {r["close_price"]: r for r in out if r["symbol"] == "A"}
    assert a[4.0]["median"] == 4.0 and a[4.0]["iqr"] == 6.0  # q3=8, q1=2
    assert a[9.0]["scaled"] == pytest.approx(round((9 - 4) / 6, 6), abs=1e-9)
    for r in out:
        if r["symbol"] == "B":
            assert r["iqr"] == 0.0 and r["scaled"] is None
