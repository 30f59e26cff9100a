"""Property-based tests against pure-Python references: directed
shingle containment (``dedup.containment_pairs``) and SCD-2 intervals
(``incremental.scd2_history``) over hypothesis-generated inputs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# --- containment_pairs vs pure-python shingle reference ----------------------


def _py_shingles(text, n=3):
    toks = [t for t in text.lower().strip().split() if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
            min_size=0,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.3, 0.5, 0.8, 1.0]),
)
def test_containment_pairs_match_python_reference(spark, docs_tokens, threshold):
    """Directed containment over random small-vocab docs must equal the
    set-arithmetic reference exactly (counts are integers, containment
    is an exact integer division)."""
    from market_data_pipeline_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(toks), "en") for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r["doc_id"], r["other_id"]): (r["common"], r["containment"])
        for r in containment_pairs(df, threshold=threshold).collect()
    }
    sh = {i: _py_shingles(t) for i, t, _ in rows}
    want = {}
    for a in sh:
        for b in sh:
            if a == b or not sh[a]:
                continue
            common = len(sh[a] & sh[b])
            if common and common / len(sh[a]) >= threshold:
                want[(a, b)] = (common, common / len(sh[a]))
    assert got == want


# --- scd2_history vs pure-python reference -----------------------------------


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # key
            st.integers(min_value=0, max_value=10),  # day offset
            st.sampled_from(["A", "B", "C"]),        # value
        ),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_history_matches_python_reference(spark, events):
    """SCD-2 intervals from a random event stream (with same-day
    flapping and duplicate rows) must equal the per-key sequential
    reference: daily latest-writer-wins, run collapse, next-start-minus-
    one closing."""
    import datetime as dt

    from market_data_pipeline_spark.operators.incremental import scd2_history

    d0 = dt.date(2024, 1, 1)
    rows = [
        (k, d0 + dt.timedelta(days=off), v, seq)
        for seq, (k, off, v) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "k long, dt date, status string, seq long")
    got = sorted(
        (r["k"], r["status"], r["valid_from"], r["valid_to"], r["is_current"], r["n_days"])
        for r in scd2_history(df, "k", "dt", "status", "seq").collect()
    )

    # reference
    daily = {}
    for k, day, v, seq in rows:
        cur = daily.get((k, day))
        if cur is None or seq > cur[1]:
            daily[(k, day)] = (v, seq)
    per_key = {}
    for (k, day), (v, _) in sorted(daily.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        per_key.setdefault(k, []).append((day, v))
    want = []
    for k, seq_days in per_key.items():
        runs = []
        for day, v in seq_days:
            if runs and runs[-1][0] == v:
                runs[-1][2] += 1
            else:
                runs.append([v, day, 1])
        for i, (v, start, ndays) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            want.append(
                (
                    k,
                    v,
                    start,
                    (nxt - dt.timedelta(days=1)) if nxt else None,
                    nxt is None,
                    ndays,
                )
            )
    assert got == sorted(want)
