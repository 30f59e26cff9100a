"""The session-defaults contract (r8 verdict #4): correctness of every
timestamp-bearing query depends on sources.catalog.ensure_session_defaults
pinning the session to UTC BEFORE plan build (Spark resolves tz-aware
expressions at analysis time). These tests fail if the pin is removed or
an entry path stops routing through it."""

from __future__ import annotations

import pytest

import __spark_entry__ as E

# One representative per timestamp-sensitive family plus both end-to-end
# pipelines — each must re-pin a session that was flipped to a hostile
# zone before the call.
SAMPLE = [
    "e3_sessionize",
    "skw3_sharded_sessions",
    "f9_month_buckets",
    "ts4_weekly_ohlc",
    "cdc1_snapshot_diff",
    "tpch_q1_pricing_summary",
    "pipeline1_daily_update",
    "pipeline2_delisted_sync",
]


@pytest.mark.parametrize("name", SAMPLE)
def test_public_entry_repins_utc(spark, sf_dir, name):
    qs = E.queries()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = qs[name](spark, sf_dir)  # plan build must apply the pin
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC", name
        assert df.columns, name
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_get_spark_pins_utc():
    from market_data_pipeline_spark.session import get_spark

    spark = get_spark("session-contract-test")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_repins_utc_on_frame_cache_hit(spark, sf_dir):
    """r11: the staged price/returns frames used to skip load_table on a
    cache HIT, and the UTC re-pin with it — downstream tz-aware
    expressions then resolved against whatever zone the session was
    left in (latent until batch ordering populated the cache before the
    zone flip). Prime the cache explicitly so the hit path is the one
    under test."""
    from market_data_pipeline_spark.plans import driver_queries as dq

    dq.price_frame(spark, sf_dir).limit(1).count()  # prime: next call HITS
    dq.returns_frame(spark, sf_dir).limit(1).count()
    qs = E.queries()
    for name in ("f9_month_buckets", "ts4_weekly_ohlc"):
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            qs[name](spark, sf_dir)
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC", name
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


# perfbench's analytics_mix workload: six lazy queries served warm.
WARM_MIX = [
    "ts12_linear_trend",
    "ts33_weekly_atr",
    "ts15_calendar_fill",
    "e13_bounce_rate",
    "e9_markov_transitions",
    "tx9_redact_pii",
]


def test_warm_pass_reuses_generated_code(spark, sf_dir):
    """A pass of the same queries needs ~103 generated classes, more than
    Spark's default generated-class cache holds (100): at that size every
    warm pass evicted what the next one needed and recompiled ~58 classes
    with Janino. get_spark sizes the cache to the registry, so a second
    pass compiles (next to) nothing."""
    from bench import codegen_counters
    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    def run_pass():
        for name in WARM_MIX:
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    run_pass()
    before, _ = codegen_counters(spark)
    run_pass()
    after, _ = codegen_counters(spark)
    assert after - before <= 2, f"{after - before} classes recompiled on a warm pass"
