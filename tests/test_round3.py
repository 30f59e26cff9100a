"""Round-3 regression tests: connected-components edge checkpoint +
convergence audit, dq in_set null guard, fdr NaN-safe strings, event-ts
timezone normalization, correlation_matrix_wide empty-panel guard."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup as DD


# --- connected_components: materialize-once + convergence audit -------------


def test_cc_edges_materialized_once(spark):
    """The pair pipeline upstream of connected_components must execute
    exactly once (the r2 verdict's top scale-killer: every label round
    re-ran shingling->bucketing->pair-explode from the scan). The edge
    list is localCheckpoint-ed before the loop, so an accumulator bumped
    per-row in the pair source counts each row once per side of the
    symmetrized union — never once per iteration round."""
    acc = spark.sparkContext.accumulator(0)

    def bump(pdf_iter):
        for pdf in pdf_iter:
            acc.add(len(pdf))
            yield pdf

    # chain 1-2-...-6: needs >=5 label-propagation rounds to converge
    base = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    pairs = base.mapInPandas(bump, base.schema)
    out = DD.connected_components(pairs, "doc_a", "doc_b")
    assert {r.component for r in out.collect()} == {1}
    # 5 pair rows, read exactly ONCE (r12 opt session 3: the symmetrize
    # is a map-side explode, so there is no second union branch; the
    # union-era pin was 10 = once per side). Without the checkpoint each
    # of the >=5 rounds would re-read the source (>=25).
    assert acc.value == 5


def test_cc_audit_converged_flag(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = DD.connected_components(pairs)
    audit = out._cc_audit
    assert audit["converged"] is True
    assert audit["rounds"][-1] == 0
    assert all(isinstance(c, int) for c in audit["rounds"])


def test_cc_nonconvergence_detected_not_silent(spark, caplog):
    # chain of diameter 8 with max_iterations=2: labels CANNOT settle
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    import logging

    with caplog.at_level(logging.WARNING):
        out = DD.connected_components(pairs, max_iterations=2)
    assert out._cc_audit["converged"] is False
    assert len(out._cc_audit["rounds"]) == 2
    assert any("did not converge" in r.message for r in caplog.records)
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iterations=2, require_converged=True)


# --- dd8_capped: capped dedup is a conservative superset of survivors -------


def test_capped_dedup_corpus_superset_of_uncapped(spark, sf_dir):
    """max_doc_freq can only DROP candidate pairs, so capped components
    refine the uncapped ones and every uncapped survivor also survives
    capped (the cap trades recall for bounded buckets, never precision)."""
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    capped = {r.doc_id for r in QUERIES["dd8_capped_dedup_corpus"](spark, sf_dir).collect()}
    uncapped = {r.doc_id for r in QUERIES["dd8_dedup_corpus"](spark, sf_dir).collect()}
    assert uncapped <= capped


# --- dq: in_set must count NULL as a violation ------------------------------


def test_in_set_null_is_violation(spark):
    from market_data_pipeline_spark.operators import quality as DQ

    df = spark.createDataFrame([("A",), (None,), ("X",)], "flag string")
    rep = {
        r.constraint: r.n_violations
        for r in DQ.check_constraints(df, [DQ.in_set("flag", ["A", "B"])]).collect()
    }
    # NULL and 'X' both violate; a bare isin() would let NULL pass silently
    assert rep["flag_in_set"] == 2


# --- fdr: NaN sector/industry must become NULL, not "nan" -------------------


def test_fdr_nan_sector_becomes_null(spark):
    from market_data_pipeline_spark.sources.fdr import FdrListingSource

    def fetcher(market):
        return pd.DataFrame(
            {
                "Code": ["000001", "000002"],
                "Name": ["Alpha", "Beta ETF"],
                "Sector": ["Chemicals", float("nan")],
                "Industry": [None, float("nan")],
            }
        )

    out = FdrListingSource(spark, fetcher=fetcher).fetch_market("KOSPI")
    rows = {r.symbol: r for r in out.collect()}
    assert rows["000002"].sector is None
    assert rows["000002"].industry is None
    assert rows["000001"].sector == "Chemicals"
    assert rows["000001"].industry is None


# --- events.ts normalization under a non-UTC session timezone ---------------


def test_normalize_event_ts_non_utc_session(spark):
    """NTZ wallclocks are UTC instants by contract. Under a non-UTC
    session timezone the NTZ->timestamp cast shifts them; the repair must
    ADD the offset back (from_utc_timestamp), not subtract it again."""
    from market_data_pipeline_spark.sources.catalog import normalize_event_ts

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Seoul")  # UTC+9
        ntz = spark.createDataFrame(
            [("2024-03-01 12:00:00",)], "raw string"
        ).select(F.to_timestamp_ntz("raw").alias("ts"))
        assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"
        fixed = normalize_event_ts(ntz)
        assert dict(fixed.dtypes)["ts"] == "timestamp"
        # epoch of 2024-03-01T12:00:00Z — timezone-independent instant
        got = fixed.select(F.unix_timestamp("ts").alias("e")).collect()[0].e
        assert got == 1709294400
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# --- correlation_matrix_wide: empty complete-date panel ---------------------


def test_correlation_matrix_wide_empty_panel(spark):
    """Symbols with disjoint trading dates leave zero complete rows after
    listwise deletion; the matrix path must return the empty pair frame
    instead of crashing on Correlation.corr(empty).head()."""
    import datetime as dt

    from market_data_pipeline_spark.operators import analytics as A

    rows = [
        ("A", dt.date(2024, 1, 1), 10.0),
        ("A", dt.date(2024, 1, 2), 11.0),
        ("B", dt.date(2024, 2, 1), 20.0),
        ("B", dt.date(2024, 2, 2), 21.0),
    ]
    price = spark.createDataFrame(
        rows, "symbol string, trade_date date, close_price double"
    )
    out = A.correlation_matrix_wide(price, ["A", "B"])
    assert out.count() == 0
    assert out.columns == ["symbol_a", "symbol_b", "correlation", "n_days"]
