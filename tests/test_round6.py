"""Round-6 regression tests: the r5 advisor findings plus the k9 scalar
reshape. Each test pins the exact failure mode the advisor described."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _write_events(spark, path, rows):
    """Write a minimal events.parquet a driver query can load (schema
    superset of what the queries touch: ts/user_id/event_id/event_type)."""
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_hll_day_overlap_skips_calendar_gaps(spark, tmp_path):
    """r5 advice #1 (medium): after a calendar gap, the previous ROW is
    not the previous DAY — the old implementation emitted
    overlap_estimate == prev_day_users for the post-gap day. The fixed
    query must emit ONLY days whose previous calendar day exists."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    def ts(day, hour, minute=0):
        return dt.datetime(2024, 1, day, hour, minute)

    rows = []
    eid = 0
    # day 1: users 1..10; day 2: users 6..15 (overlap 5); gap on day 3;
    # day 4: users 1..10 (its previous ROW is day 2 — must be dropped).
    for u in range(1, 11):
        eid += 1
        rows.append((eid, u, "view", ts(1, 9)))
    for u in range(6, 16):
        eid += 1
        rows.append((eid, u, "view", ts(2, 9)))
    for u in range(1, 11):
        eid += 1
        rows.append((eid, u, "view", ts(4, 9)))
    _write_events(spark, str(tmp_path), rows)

    out = {r["day"]: r for r in QUERIES["apx6_hll_day_overlap"](spark, str(tmp_path)).collect()}
    assert set(out) == {dt.date(2024, 1, 2)}, (
        "post-gap day must not be emitted", sorted(out)
    )
    r = out[dt.date(2024, 1, 2)]
    # lg_k=14 HLL is exact at these cardinalities
    assert r["day_users"] == 10
    assert r["prev_day_users"] == 10
    assert r["overlap_estimate"] == 5


def test_k9_label_centroids_scalar_shape_and_values(spark, sf_dir):
    """r5 verdict #1: k9 must emit scalar rows (label, n_vectors, dim,
    component) — no array column — and the exploded components must equal
    the array-form group_centroids exactly."""
    from market_data_pipeline_spark.operators.similarity import group_centroids
    from market_data_pipeline_spark.plans.driver_queries import QUERIES
    from market_data_pipeline_spark.sources.catalog import load_table

    out = QUERIES["k9_label_centroids"](spark, sf_dir)
    assert [f.name for f in out.schema.fields] == [
        "label", "n_vectors", "dim", "component",
    ]
    for f in out.schema.fields:
        assert f.dataType.typeName() not in ("array", "map"), f
    rows = out.collect()
    arrays = {
        r["label"]: r
        for r in group_centroids(
            load_table(spark, sf_dir, "embeddings"), "label"
        ).collect()
    }
    assert len(rows) == sum(len(r["centroid"]) for r in arrays.values())
    for r in rows:
        ref = arrays[r["label"]]
        assert r["n_vectors"] == ref["n_vectors"]
        assert r["component"] == ref["centroid"][r["dim"]]


def test_oracled_queries_never_return_array_or_map(registry_plans):
    """Registry-wide rule from r5 verdict #1: the driver's pandas
    canonicalizer cannot hash array/map cells, so every ORACLED query's
    schema must be scalar-only. (No-oracle queries may return anything —
    they are rows-only checked.)"""
    from market_data_pipeline_spark.plans.driver_queries import ORACLES

    offenders = []
    for name in sorted(ORACLES):
        rec = registry_plans[name]
        for col, typ in zip(rec.get("columns", []), rec.get("types", [])):
            if typ in ("array", "map", "struct"):
                offenders.append((name, col, typ))
    assert offenders == []


def test_cosine_lsh_thresholds_rounded_value(spark):
    """r5 advice #2: LSH must threshold the ROUNDED cosine exactly like
    the exact path, so a pair whose true cosine is within 5e-7 below the
    threshold but rounds up to it is emitted by BOTH paths."""
    import math

    from market_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_lsh,
        cosine_near_dup_pairs,
    )

    # Two unit vectors at an angle chosen so cosine = 0.89999998 — below
    # 0.9 raw, but rounds to 0.900000 at 6 digits.
    c = 0.89999998
    a = [1.0, 0.0]
    b = [c, math.sqrt(1 - c * c)]
    df = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id long, embedding array<double>"
    )
    exact = cosine_near_dup_pairs(df, threshold=0.9, round_digits=6).collect()
    assert len(exact) == 1, "exact path emits the rounds-up pair"
    # both vectors sit in the same half-space for every hyperplane often
    # enough at 8 bands x 6 planes that a collision is certain here: the
    # angle between them is ~0.45 rad, per-plane agree prob ~0.857
    got = cosine_near_dup_lsh(
        df, dim=2, threshold=0.9, round_digits=6, seed=7
    ).collect()
    assert len(got) == 1, "LSH path must emit the rounds-up pair too"
    assert got[0]["cosine"] == 0.9
    assert (got[0]["vec_a"], got[0]["vec_b"]) == (1, 2)


def test_cosine_lsh_round_digits_none_is_raw(spark):
    """r5 advice #2 second half: an explicit round_digits=None must mean
    RAW cosines (no silent coercion to 6), matching the exact path."""
    import math

    from market_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_lsh,
    )

    c = 0.89999998  # rounds up to 0.9 but is below it raw
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [c, math.sqrt(1 - c * c)])],
        "vec_id long, embedding array<double>",
    )
    got = cosine_near_dup_lsh(
        df, dim=2, threshold=0.9, round_digits=None, seed=7
    ).collect()
    assert got == [], "raw 0.89999998 < 0.9 must not be emitted"


def test_semantic_dedup_string_ids(spark):
    """r5 advice #3: semantic_dedup's dup_of must pass native id values
    through untouched — a string id_col used to raise ValueError inside
    the executor from int() coercion (and the output schema hardcoded
    centroid_id long)."""
    from market_data_pipeline_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [
            ("doc-a", [1.0, 0.0]),
            ("doc-b", [1.0, 1e-6]),
            ("doc-c", [0.0, 1.0]),
        ],
        "doc_id string, embedding array<double>",
    )
    out = semantic_dedup(
        df,
        threshold=0.99,
        id_col="doc_id",
        centroids=df.filter(F.col("doc_id") == "doc-a"),
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert not rows["doc-b"]["keep"] and rows["doc-b"]["dup_of"] == "doc-a"
    assert rows["doc-a"]["keep"] and rows["doc-a"]["dup_of"] is None
    assert rows["doc-c"]["keep"]


def test_run_daily_update_reports_snapshot_only_when_taken(spark, tmp_path):
    """r5 advice #4: the run report must not name a snapshot tag when no
    snapshot was actually created (master table absent on first run) —
    a caller acting on the report would master.restore() into
    FileNotFoundError mid-incident."""
    import datetime as dt

    from market_data_pipeline_spark.plans import pipelines as PL
    from market_data_pipeline_spark.storage.table import stock_master_table

    master = stock_master_table(spark, str(tmp_path / "master"))
    listings = {
        "KOSPI": spark.createDataFrame(
            [("005930", "Samsung Electronics")], ["symbol", "name"]
        )
    }
    empty_new = spark.createDataFrame(
        [], "company_name string, company_code string, listing_date string, "
        "par_value string, ipo_price string, market string",
    )
    empty_delisted = spark.createDataFrame(
        [], "company_name string, company_code string, delisting_date string, "
        "delisting_reason string, market string",
    )
    now = dt.datetime(2024, 6, 1, 2, 0, 0)

    # first run: master absent -> tag requested but NOT taken
    r1 = PL.run_daily_update(
        master, listings, empty_new, empty_delisted, now=now,
        snapshot_tag="pre-r1",
    )
    assert r1["pre_update_snapshot"] is None

    # second run: master exists -> snapshot taken and reported
    r2 = PL.run_daily_update(
        master, listings, empty_new, empty_delisted, now=now,
        snapshot_tag="pre-r2",
    )
    assert r2["pre_update_snapshot"] == "pre-r2"
    master.restore("pre-r2")  # and the tag is actually restorable


def test_pq_train_codebooks_layout_independent(spark):
    """r5 advice #5: pq_train's sample must be layout-independent — the
    same data at different partition counts must train identical
    codebooks."""
    import random

    from market_data_pipeline_spark.operators.similarity import pq_train

    import numpy as np

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(1)
    df8 = spark.createDataFrame(
        rows[::-1], "vec_id long, embedding array<double>"
    ).repartition(8)
    b1 = pq_train(df1, dim=8, m=2, k_codes=4, iters=3, seed=5, sample_limit=128)
    b8 = pq_train(df8, dim=8, m=2, k_codes=4, iters=3, seed=5, sample_limit=128)
    assert len(b1) == len(b8) == 2
    for c1, c8 in zip(b1, b8):
        np.testing.assert_allclose(c1, c8, rtol=0, atol=0)


def test_containment_pairs_catches_embedded_quote(spark):
    """A short doc fully quoted inside a long one: containment(short in
    long) = 1.0 even though Jaccard is far below any dedup threshold —
    the directed signal the operator exists for."""
    from market_data_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"word{i}" for i in range(60))
    long = filler + " " + short + " " + " ".join(f"tail{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short, "en"), (2, long, "en"), (3, "totally different text here", "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        (r["doc_id"], r["other_id"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}, got
    jac = ngram_jaccard_pairs(df, threshold=0.8).collect()
    assert jac == [], "Jaccard must NOT fire on the quote pair"


def test_peak_concurrency_sweep(spark, tmp_path):
    """Planted overlap: three 10-minute holds starting 0/5/8 min apart
    peak at 3 concurrent; a lone event peaks at 1."""
    import datetime as dt

    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, "a", t0, 10.0),
        (2, 2, "a", t0 + dt.timedelta(minutes=5), 10.0),
        (3, 3, "a", t0 + dt.timedelta(minutes=8), 10.0),
        (4, 4, "a", t0 + dt.timedelta(minutes=30), 10.0),
        (5, 5, "b", t0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["event_type"]: r["peak_concurrency"] for r in
           QUERIES["iv8_peak_concurrency"](spark, str(tmp_path)).collect()}
    assert got == {"a": 3, "b": 1}


def test_keyset_pagination_is_contiguous(spark, sf_dir):
    """Page 3 via keyset must equal rows 101-150 of the global
    (o_totalprice DESC, o_orderkey) order — the seek method loses no row
    and duplicates no row at the cursor boundary."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES
    from market_data_pipeline_spark.sources.catalog import load_table

    got = [
        (r["o_orderkey"], r["o_totalprice"])
        for r in QUERIES["o2_keyset_pagination"](spark, sf_dir).collect()
    ]
    full = (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(150)
        .collect()
    )
    want = [(r["o_orderkey"], r["o_totalprice"]) for r in full[100:150]]
    assert got == want


def test_scd2_history_same_day_flapping_is_deterministic(spark):
    """Same-day value flapping must resolve via latest-writer-wins
    (max_by on the tiebreak) so SCD-2 intervals partition the timeline
    regardless of input order."""
    import datetime as dt

    from market_data_pipeline_spark.operators.incremental import scd2_history

    d = dt.date
    rows = [
        # key 1: F(k1), O(k2) SAME day -> day resolves to O; then F later
        (1, d(2024, 1, 1), "F", 1),
        (1, d(2024, 1, 1), "O", 2),
        (1, d(2024, 1, 5), "F", 3),
        # key 2: single status, one open interval
        (2, d(2024, 1, 2), "P", 4),
    ]
    df = spark.createDataFrame(
        rows, "k long, dt date, status string, seq long"
    )
    out = sorted(
        (r["k"], r["status"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, "k", "dt", "status", "seq").collect()
    )
    assert out == [
        (1, "F", d(2024, 1, 5), None, True),
        (1, "O", d(2024, 1, 1), d(2024, 1, 4), False),
        (2, "P", d(2024, 1, 2), None, True),
    ]


def test_kfold_assign_covers_all_folds_and_is_stable(spark):
    """k-fold assignment: every fold 0..k-1 used, near-uniform sizes,
    identical across reruns and partitionings."""
    from market_data_pipeline_spark.operators.text import kfold_assign

    df1 = spark.range(0, 2000).withColumnRenamed("id", "doc_id").repartition(1)
    df8 = spark.range(0, 2000).withColumnRenamed("id", "doc_id").repartition(8)
    a = {r["doc_id"]: r["fold"] for r in kfold_assign(df1, k=5).collect()}
    b = {r["doc_id"]: r["fold"] for r in kfold_assign(df8, k=5).collect()}
    assert a == b
    sizes = [list(a.values()).count(f) for f in range(5)]
    assert all(s > 0 for s in sizes)
    assert max(sizes) - min(sizes) < 2000 * 0.1  # ~uniform within 10pp

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kfold_assign(df1, k=1)


def test_pca_explained_variance_matches_numpy(spark, sf_dir):
    """The distributed single-pass Gram PCA must match a direct numpy
    PCA on the collected vectors (population covariance, descending
    eigenvalues) within float accumulation noise."""
    import numpy as np

    from market_data_pipeline_spark.operators.similarity import (
        pca_explained_variance,
    )
    from market_data_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = pca_explained_variance(emb, top_k=16).collect()
    X = np.vstack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    cov = np.cov(X, rowvar=False, bias=True)
    evals = np.clip(np.linalg.eigvalsh(cov)[::-1], 0.0, None)
    ratios = evals / evals.sum()
    assert len(got) == 16
    for r in got:
        i = r["component"]
        assert abs(r["eigenvalue"] - evals[i]) < 1e-5, (i, r["eigenvalue"], evals[i])
        assert abs(r["explained_ratio"] - ratios[i]) < 1e-5
    # spectrum must be descending and ratios cumulative-consistent
    vals = [r["eigenvalue"] for r in got]
    assert vals == sorted(vals, reverse=True)
    assert abs(got[-1]["cumulative_ratio"] - sum(r["explained_ratio"] for r in got)) < 1e-4


def test_pca_explained_variance_empty_input(spark):
    from market_data_pipeline_spark.operators.similarity import (
        pca_explained_variance,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert pca_explained_variance(df).collect() == []


def test_bpe_train_matches_python_reference(spark):
    """The distributed BPE loop must learn the same merge sequence as a
    sequential pure-python BPE (count desc, (left, right) asc tiebreak)
    over a small corpus."""
    from market_data_pipeline_spark.operators.text import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(df, n_merges=8).collect()
    ]

    # pure-python reference
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            words[w] += 1
    vocab = {w: list(w) for w in words}
    want = []
    for rank in range(8):
        pairs = Counter()
        for w, n in words.items():
            syms = vocab[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((rank, left, right, cnt))
        for w in vocab:
            syms = vocab[w]
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            vocab[w] = res
    assert got == want
    assert len(got) == 8
