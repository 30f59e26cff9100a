"""Property tests for the round-6 bank-batch-11 survivors: the
monthly HHI, the document-length Gini, and the embedding
split-representativeness cosine — each compared against an
independent pure-Python reference that reproduces the queries'
documented fixed-point pipelines over hypothesis-generated inputs."""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from prop_helpers import rhu as _rhu, write_lineitem as _write_lineitem

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # symbol
            st.integers(min_value=0, max_value=89),         # day offset
            st.floats(min_value=0.5, max_value=999.0,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_monthly_hhi_matches_python(spark, tmp_path, pts):
    """a27_monthly_hhi == the pure-Python cents/1e-12 fixed-point HHI
    over arbitrary (symbol, day, close) singleton-line frames."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    d0 = dt.date(2024, 1, 1)
    rows = [(s, d0 + dt.timedelta(days=off), c) for s, off, c in pts]
    _write_lineitem(spark, tmp_path, rows)
    got = {
        r["month"]: (r["n_symbols"], r["hhi"])
        for r in QUERIES["a27_monthly_hhi"](spark, str(tmp_path)).collect()
    }

    # reference: amount = DECIMAL(18,2) day sum (one line -> cent-rounded
    # close); month cents summed per symbol; shares squared, 1e-12 fixed.
    month_sym = {}
    for s, d, c in rows:
        key = (d.strftime("%Y-%m"), s)
        month_sym[key] = month_sym.get(key, 0) + int(_rhu(_rhu(c, 2) * 100))
    expected = {}
    months = {m for m, _ in month_sym}
    for m in months:
        cents = [v for (mm, _), v in month_sym.items() if mm == m]
        tot = sum(cents)
        s2 = sum(int(_rhu((c / tot) * (c / tot) * 1e12)) for c in cents)
        expected[m] = (len(cents), s2 / 1e12)
    assert got == expected


@SET
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.integers(min_value=1, max_value=10_000),      # n_chars
        ),
        min_size=1,
        max_size=25,
    )
)
def test_doc_length_gini_matches_python(spark, tmp_path, docs):
    """tx35_doc_length_gini == the sorted-rank closed form computed in
    Python with identical (n_chars, doc_id) tie-breaking."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = [(i, "t", "en", src, n) for i, (src, n) in enumerate(docs)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: (r["n_docs"], r["total_chars"], r["length_gini"])
        for r in QUERIES["tx35_doc_length_gini"](spark, str(tmp_path)).collect()
    }

    expected = {}
    for src in {s for s, _ in docs}:
        items = sorted(
            [(n, i) for i, (s, n) in enumerate(docs) if s == src]
        )
        n, tot = len(items), sum(x for x, _ in items)
        g = 2.0 * sum((i + 1) * x for i, (x, _) in enumerate(items)) / (
            n * tot
        ) - (n + 1.0) / n
        expected[src] = (n, tot, _rhu(g, 6))
    assert got == expected


@SET
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0,
                      allow_nan=False, allow_infinity=False),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=16,
    )
)
def test_split_cosine_matches_python(spark, tmp_path, vecs):
    """k23_split_representativeness == the Python reference using the
    same 1e-6 fixed-point per-(parity, dim) means, when both parities
    are populated."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    rows = [(i, [float(x) for x in v], 7) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = QUERIES["k23_split_representativeness"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]

    import numpy as np

    # float32 storage first, like the parquet column
    stored = [np.array(v, dtype=np.float32).astype(float) for _, v, _ in rows]
    halves = {0: [], 1: []}
    for i, v in enumerate(stored):
        halves[i % 2].append(v)
    assert r["n_even"] == len(halves[0]) and r["n_odd"] == len(halves[1])
    if not halves[0] or not halves[1]:
        assert r["split_cosine"] is None
        return
    means = {}
    for par, vs in halves.items():
        sums = [
            sum(int(_rhu(v[d] * 1e6)) for v in vs) for d in range(3)
        ]
        means[par] = [s / 1e6 / len(vs) for s in sums]
    a, b = means[0], means[1]
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0.0 or nb == 0.0:
        assert r["split_cosine"] is None or math.isnan(r["split_cosine"])
        return
    assert r["split_cosine"] == _rhu(dot / (na * nb), 6)
