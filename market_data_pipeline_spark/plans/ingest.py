"""Ingest queries: Structured Streaming runs to completion (``st*``), the
stream-to-batch reconciliation (``stb*``), and the end-to-end pipelines
(``pipeline1``-``pipeline5``) — the reference's daily update, delisted
sync and master update, the corpus-prep chain, and the chained streaming
ingest — each hash-gated against a batch replay.
"""

from __future__ import annotations

import atexit
import datetime as dt
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup, text as tx
from market_data_pipeline_spark.plans import pipelines as PL
from market_data_pipeline_spark.plans.driver_queries import (
    SESSION_CTE,
    _dd3_perms_values,
    query,
)
from market_data_pipeline_spark.sources.catalog import load_table
from market_data_pipeline_spark.storage.table import stock_master_table
from market_data_pipeline_spark.streaming import jobs as sj


# Scratch roots created by the pipeline composites, removed at
# interpreter exit: each invocation needs a FRESH empty master dir (the
# bootstrap path is part of what the query exercises), but repeated
# bench/correctness runs used to leak one mkdtemp per call (r6 advisor).
_PIPELINE_SCRATCH: list[str] = []


def _pipeline_scratch(prefix: str) -> str:
    if not _PIPELINE_SCRATCH:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _PIPELINE_SCRATCH
            ]
        )
    d = tempfile.mkdtemp(prefix=prefix)
    _PIPELINE_SCRATCH.append(d)
    return d


# --- ST: structured streaming run to completion -----------------------------


@query(
    "st1_streaming_tumbling",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2""",
)
def st1_streaming_tumbling(spark, sf_dir):
    """The tumbling window executed THROUGH Structured Streaming
    (readStream -> watermark -> window agg -> memory sink, availableNow)
    and hash-checked against the same DuckDB oracle as the batch e1 —
    stream/batch parity is part of the contract."""
    stream = sj.streaming_tumbling(
        sj.read_events_stream(spark, sf_dir), duration="1 hour", keys=["event_type"]
    )
    return sj.run_stream_to_memory(stream, "st1_sink")


@query(
    "st2_streaming_user_totals",
    """SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS events_total,
       ROUND(SUM(value), 2) AS value_total,
       MAX(ts) AS last_seen
FROM events
GROUP BY user_id""",
)
def st2_streaming_user_totals(spark, sf_dir):
    """applyInPandasWithState running per-user totals over the whole events
    backfill. The FINAL state per user (max events_total across the
    update-mode emissions) is a plain groupBy total, so it IS
    SQL-expressible and hash-checked against DuckDB."""
    stream = sj.running_user_totals(sj.read_events_stream(spark, sf_dir))
    out = sj.run_stream_to_memory(stream, "st2_sink", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("events_total"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "st3_streaming_sessions",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id, ts, value,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, session_id""",
)
def st3_streaming_sessions(spark, sf_dir):
    """Built-in session_window sessionization over the stream; boundaries
    equal the batch e3_sessionize operator (same 30-min-gap oracle SQL,
    minus the ordinal session_id the streaming form doesn't emit)."""
    stream = sj.streaming_sessionize(sj.read_events_stream(spark, sf_dir))
    return sj.run_stream_to_memory(stream, "st3_sink")


@query(
    "st4_streaming_dedup",
    """SELECT event_id, ts, user_id, event_type, value
FROM events ORDER BY event_id""",
)
def st4_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup: the events stream unioned with itself (a
    synthetic at-least-once source) passes dropDuplicatesWithinWatermark
    and must reproduce the original rows exactly — the oracle is the
    plain table."""
    s1 = sj.read_events_stream(spark, sf_dir)
    s2 = sj.read_events_stream(spark, sf_dir)
    deduped = sj.streaming_dedup(s1.unionByName(s2), id_cols=["event_id"])
    return sj.run_stream_to_memory(
        deduped.select("event_id", "ts", "user_id", "event_type", "value"),
        "st4_sink",
        output_mode="append",
    )


@query(
    "st5_stream_static_join",
    """SELECT date_trunc('hour', e.ts) AS window_start,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2""",
)
def st5_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join (stateless: the dim is a batch frame
    broadcast into every micro-batch) feeding a windowed aggregate —
    hash-matched against the batch join+agg oracle."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    stream = sj.read_events_stream(spark, sf_dir).join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey")
    )
    agg = sj.streaming_tumbling(stream, duration="1 hour", keys=["segment"])
    return sj.run_stream_to_memory(
        agg.select("window_start", "segment", "n_events", "total_value"), "st5_sink"
    )


@query(
    "st6_stream_stream_join",
    """SELECT v.event_id AS view_id, c.event_id AS click_id,
       v.user_id AS user_id, v.ts AS view_ts, c.ts AS click_ts
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
ORDER BY view_id, click_id""",
)
def st6_stream_stream_join(spark, sf_dir):
    """Stream-stream watermarked interval join (view→click attribution):
    run to completion it must equal the batch interval self-join the
    oracle spells. The time-range condition is what bounds the join
    state — see streaming.jobs.streaming_view_click_join."""
    joined = sj.streaming_view_click_join(sj.read_events_stream(spark, sf_dir))
    return sj.run_stream_to_memory(joined, "st6_sink", output_mode="append")


# --- ST7: streaming incremental-ingest dedup ---------------------------------


@query(
    "st7_streaming_ingest_dedup",
    r"""WITH fp AS (
  SELECT doc_id, lang, source, n_chars,
         md5(array_to_string(
             (string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'))[1:10], ' ')) AS fpr
  FROM documents
)
SELECT n.doc_id, n.lang, n.source, n.n_chars
FROM fp n
WHERE n.doc_id % 5 = 0
  AND NOT EXISTS (SELECT 1 FROM fp s
                  WHERE s.doc_id % 5 <> 0 AND s.fpr = n.fpr)
ORDER BY n.doc_id""",
)
def st7_streaming_ingest_dedup(spark, sf_dir):
    """dd11's streaming twin: the arriving documents flow through
    readStream and the SAME batch-built incremental_dedup operator (a
    stream-static left-anti join against the fingerprint store is
    stateless per micro-batch, so the operator composes unchanged).
    Run to completion it must equal the batch anti-join — the identical
    oracle. This is the continuous-ingest shape: files land, each
    micro-batch drops already-seen content, survivors append."""
    docs_stream = sj.read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0
    )
    seen = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 != 0)
    toks = tx.tokens(F.col("text"))
    head_fp = F.md5(F.array_join(F.slice(toks, 1, 10), " ").cast("binary"))
    survivors = dedup.incremental_dedup(
        docs_stream, seen, fingerprint_col=head_fp
    ).select("doc_id", "lang", "source", "n_chars")
    return sj.run_stream_to_memory(survivors, "st7_sink", output_mode="append")


@query(
    "st8_streaming_ewma",
    """WITH r AS (
  -- value IS NOT NULL: NULL values are non-observations and never
  -- enter the streaming state (streaming_ewma filters them JVM-side)
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value * pow(0.8, -rn)) / SUM(pow(0.8, -rn)), 6) AS ewma
FROM r GROUP BY user_id ORDER BY user_id""",
)
def st8_streaming_ewma(spark, sf_dir):
    """Streaming per-user EWMA via applyInPandasWithState (the online
    recurrence; the batch operator is the closed-form replay). The FINAL
    state per user equals the closed form over the user's full ordered
    event series, so it is SQL-expressible and hash-checked — see
    streaming.jobs.streaming_ewma."""
    stream = sj.streaming_ewma(sj.read_events_stream(spark, sf_dir), alpha=0.2)
    out = sj.run_stream_to_memory(stream, "st8_sink", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "st9_streaming_windowed_topk",
    """WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY window_start
         ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
FROM c QUALIFY rnk <= 3
ORDER BY window_start, rnk""",
)
def st9_streaming_windowed_topk(spark, sf_dir):
    """Streaming trending-now: hourly event-type counts maintained by
    the streaming window aggregation, top-3 per closed window ranked on
    the (bounded: one row per (window, type)) sink frame — the
    dashboard pattern where the stream keeps state and the rank runs on
    the tiny materialized result."""
    stream = sj.streaming_tumbling(
        sj.read_events_stream(spark, sf_dir), duration="1 hour", keys=["event_type"]
    )
    out = sj.run_stream_to_memory(stream, "st9_sink")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n_events", "rnk")
    )


@query(
    "st10_streaming_running_stats",
    """WITH c AS (
  -- value IS NOT NULL: NULL values are non-observations and never
  -- enter the streaming state (streaming_running_stats filters them)
  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (SUM(cents) / 100.0) / COUNT(*) AS mean_value,
       -- HUGEINT squares: cents*cents overflows INT64 at |value|~9.6e8
       -- (the operator's state carries the same sum exactly in decimal).
       -- VARCHAR hop before the double: DuckDB's direct HUGEINT->DOUBLE
       -- cast is not correctly rounded past 2^53, strtod is — matching
       -- Python's float(int) in the operator (r7 extremes sweep)
       (CAST(CAST(SUM(CAST(cents AS HUGEINT) * cents) AS VARCHAR) AS DOUBLE)
          / 10000.0
        - (SUM(cents) / 100.0) * (SUM(cents) / 100.0) / COUNT(*))
         / COUNT(*) AS var_pop
FROM c GROUP BY user_id ORDER BY user_id""",
)
def st10_streaming_running_stats(spark, sf_dir):
    """Streaming per-user mean/variance from exact integer-cents sums
    (a float Welford state sits a ULP off the SQL aggregate and flips
    the 2-decimal values' exact rounding ties); the final state is
    bit-identical to the oracle's sum formula — see
    streaming.jobs.streaming_running_stats."""
    stream = sj.streaming_running_stats(sj.read_events_stream(spark, sf_dir))
    out = sj.run_stream_to_memory(stream, "st10_sink", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "st11_streaming_burst",
    """WITH per_window AS (
  SELECT user_id, date_trunc('minute', ts) AS w, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS total_events,
       CAST(MAX(n) AS BIGINT) AS peak_per_window,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       MAX(n) >= 3 AS is_burst
FROM per_window GROUP BY 1 ORDER BY user_id""",
)
def st11_streaming_burst(spark, sf_dir):
    """Burst/bot detection with the stateful half run through Structured
    Streaming: watermarked per-(user, 1-min window) counts maintain the
    state store; the per-user peak/flag summary is a stateless batch
    reduction over the completed sink. Hash-checked against the same
    oracle as the batch e12 — stream/batch parity is the contract."""
    counts = sj.streaming_burst_counts(
        sj.read_events_stream(spark, sf_dir), window_duration="1 minute"
    )
    sink = sj.run_stream_to_memory(counts, "st11_sink")
    return (
        sink.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("total_events"),
            F.max("n").cast("long").alias("peak_per_window"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .withColumn("is_burst", (F.col("peak_per_window") >= 3).cast("boolean"))
    )


@query(
    "st12_streaming_sliding",
    """WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
), expanded AS (
  SELECT ws AS window_start, value FROM b
  UNION ALL
  SELECT ws - INTERVAL '30 minutes' AS window_start, value FROM b
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY 1, 2""",
)
def st12_streaming_sliding(spark, sf_dir):
    """The sliding window through Structured Streaming (each event lands
    in window/slide overlapping windows; state keyed per window),
    hash-checked against the batch e2 oracle — completes the streaming
    window triad (tumbling st1, session st3, sliding here)."""
    stream = sj.streaming_sliding(
        sj.read_events_stream(spark, sf_dir),
        window_duration="1 hour",
        slide_duration="30 minutes",
    )
    return sj.run_stream_to_memory(stream, "st12_sink")


@query(
    "st13_streaming_distinct_users",
    """WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS horizon FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.horizon
GROUP BY 1 ORDER BY 1""",
)
def st13_streaming_distinct_users(spark, sf_dir):
    """Hourly DISTINCT actives through Structured Streaming — the
    aggregation streams cannot do directly (COUNT DISTINCT is
    unsupported) as CHAINED stateful operators: watermarked
    (window, user) dedup-agg, then a second streaming count over its
    appended output (Spark 3.4+ multiple-stateful-operator support).
    Append mode emits only watermark-closed windows, so the oracle
    excludes windows ending within the 2h horizon of max(ts) — the
    exact emission rule, asserted here against DuckDB. See
    streaming.jobs.streaming_distinct_users."""
    stream = sj.streaming_distinct_users(
        sj.read_events_stream(spark, sf_dir), duration="1 hour", watermark="2 hours"
    )
    return sj.run_stream_to_memory(
        stream, "st13_sink", output_mode="append"
    )


@query(
    "pipeline2_delisted_sync",
    """WITH listed AS (
  SELECT CAST(100000 + s_suppkey AS VARCHAR) AS symbol,
         CASE WHEN s_suppkey % 2 = 0 THEN 'KOSPI' ELSE 'KOSDAQ' END AS market,
         s_suppkey
  FROM supplier
), del AS (
  SELECT symbol, market,
         CASE CAST(s_suppkey % 3 AS INTEGER)
           WHEN 0 THEN DATE '2023-12-31'
           WHEN 1 THEN DATE '2023-10-25'
           ELSE DATE '2023-11-30' END AS ddate
  FROM listed WHERE s_suppkey % 5 = 0
)
SELECT market, CAST(COUNT(*) AS BIGINT) AS delisted_count,
       MIN(ddate) AS earliest, MAX(ddate) AS latest
FROM del GROUP BY market
ORDER BY delisted_count DESC, market""",
)
def pipeline2_delisted_sync(spark, sf_dir):
    """The reference's §3.2 delisted-sync script end-to-end (reference:
    scripts/sync_delisted_stocks.py:219-304): bootstrap a two-market
    master from supplier-derived listings, run the full sync
    (normalization chain, multi-format date parse, validation,
    set-based full-outer delisting update, timestamped report) through
    the REAL ParquetTable storage path, and return the reference's
    closing delisted REPORT (per-market counts + date range). Every 5th
    supplier delists with a format-rotating date string; symbol ranges
    and markets are deterministic so DuckDB replays the net semantics
    as set logic."""
    sup = load_table(spark, sf_dir, "supplier")
    sym = (F.col("s_suppkey") + 100000).cast("string")
    kospi = sup.filter(F.col("s_suppkey") % 2 == 0).select(
        sym.alias("symbol"), F.col("s_name").alias("name")
    )
    kosdaq = sup.filter(F.col("s_suppkey") % 2 == 1).select(
        sym.alias("symbol"), F.col("s_name").alias("name")
    )
    sk3 = F.col("s_suppkey") % 3
    raw_delisted = sup.filter(F.col("s_suppkey") % 5 == 0).select(
        F.col("s_name").alias("company_name"),
        sym.alias("company_code"),
        F.when(sk3 == 0, F.lit("2023.12.31"))
        .when(sk3 == 1, F.lit("20231025"))
        .otherwise(F.lit("2023-11-30"))
        .alias("delisting_date"),
        F.when(F.col("s_suppkey") % 2 == 0, "KOSPI")
        .otherwise("KOSDAQ")
        .alias("market"),
    )
    path = _pipeline_scratch("mdps_pipeline2_") + "/master"
    master = stock_master_table(spark, path)
    now = dt.datetime(2024, 6, 1, 2, 0, 0)
    PL.update_listed_stocks(master, {"KOSPI": kospi, "KOSDAQ": kosdaq}, now)
    PL.sync_delisted_stocks(master, raw_delisted, force=True, now=now)
    return PL.delisted_report(master)


@query(
    "pipeline1_daily_update",
    """WITH listed AS (
  SELECT CAST(100000 + s_suppkey AS VARCHAR) AS symbol,
         trim(s_name) AS name, 'KOSPI' AS market,
         CAST(NULL AS DATE) AS listing_date
  FROM supplier
  UNION ALL
  SELECT CAST(200000 + c_custkey AS VARCHAR),
         trim(c_name), 'KOSDAQ', CAST(NULL AS DATE)
  FROM customer
), newl AS (
  SELECT CAST(400000 + p_partkey AS VARCHAR) AS symbol,
         trim(p_name) AS name, 'KONEX' AS market,
         CASE CAST(p_partkey % 3 AS INTEGER)
           WHEN 0 THEN DATE '2024-01-15'
           WHEN 1 THEN DATE '2024-02-20'
           ELSE DATE '2024-03-10' END AS listing_date
  FROM part WHERE p_partkey <= 400
), del AS (
  SELECT CAST(100000 + s_suppkey AS VARCHAR) AS symbol,
         CASE CAST(s_suppkey % 3 AS INTEGER)
           WHEN 0 THEN DATE '2023-12-31'
           WHEN 1 THEN DATE '2023-10-25'
           ELSE DATE '2023-11-30' END AS ddate,
         'reason-' || CAST(s_suppkey % 5 AS VARCHAR) AS dreason
  FROM supplier WHERE s_suppkey % 7 = 0
)
SELECT l.symbol, l.name, l.market,
       CAST(NULL AS VARCHAR) AS sector, CAST(NULL AS VARCHAR) AS industry,
       l.listing_date,
       d.ddate AS delisting_date, d.dreason AS delisting_reason,
       CAST(CASE WHEN d.symbol IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS is_active,
       TIMESTAMP '2024-06-01 02:00:00' AS create_dt,
       TIMESTAMP '2024-06-01 02:00:00' AS update_dt
FROM (SELECT * FROM listed UNION ALL SELECT * FROM newl) l
LEFT JOIN del d ON l.symbol = d.symbol
ORDER BY l.symbol""",
)
def pipeline1_daily_update(spark, sf_dir):
    """The reference's §3.1 daily batch END TO END as one oracled query
    (reference: scripts/daily_stock_master_update.py:333-367): per-market
    listing upsert -> new-listing sync (multi-format date parse, Korean
    number fields) -> delisted sync (validation chain + set-based master
    update) -> compaction -> final master. Inputs are deterministic
    crawl-shaped frames derived from the TPC-H dims (suppliers = KOSPI
    listings, customers = KOSDAQ, parts = new listings, every 7th
    supplier delists), so DuckDB can replay the pipeline's NET semantics
    as plain set logic while the Spark side runs the REAL storage path:
    ParquetTable bootstrap, insert-if-absent anti-joins, the
    full-outer-join delisting update, ReplacingMergeTree-style
    compaction, and read_current() dedup. Symbol ranges are disjoint by
    construction (1xxxxx/2xxxxx/4xxxxx) so the oracle needs no
    tie-break modeling. The injectable ``now`` pins the audit columns.

    The write lands in a per-call temp directory (the returned DataFrame
    reads from it lazily); at sf0.1 the master is ~16k rows — dim-scale
    by design, like the reference's."""
    per_market, raw_new, raw_delisted = _daily_update_inputs(spark, sf_dir)
    path = _pipeline_scratch("mdps_pipeline1_") + "/master"
    master = stock_master_table(spark, path)
    PL.run_daily_update(
        master,
        per_market,
        raw_new,
        raw_delisted,
        now=dt.datetime(2024, 6, 1, 2, 0, 0),
    )
    return master.read_current()


def _daily_update_inputs(spark, sf_dir):
    """The deterministic crawl-shaped §3.1 input frames shared by
    pipeline1 (master surface) and pipeline3 (re-run + report surface):
    suppliers = KOSPI listings, customers = KOSDAQ, parts = KONEX new
    listings with format-rotating dates and Korean number fields, every
    7th supplier delists."""
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    kospi = sup.select(
        (F.col("s_suppkey") + 100000).cast("string").alias("symbol"),
        F.col("s_name").alias("name"),
    )
    kosdaq = cust.select(
        (F.col("c_custkey") + 200000).cast("string").alias("symbol"),
        F.col("c_name").alias("name"),
    )
    pk3 = F.col("p_partkey") % 3
    raw_new = part.filter(F.col("p_partkey") <= 400).select(
        F.col("p_name").alias("company_name"),
        (F.col("p_partkey") + 400000).cast("string").alias("company_code"),
        F.when(pk3 == 0, F.lit("2024.01.15"))
        .when(pk3 == 1, F.lit("20240220"))
        .otherwise(F.lit("2024-03-10"))
        .alias("listing_date"),
        F.lit("500원").alias("par_value"),
        F.lit("1,000원").alias("ipo_price"),
        F.lit("KONEX").alias("market"),
    )
    sk3 = F.col("s_suppkey") % 3
    raw_delisted = sup.filter(F.col("s_suppkey") % 7 == 0).select(
        F.col("s_name").alias("company_name"),
        (F.col("s_suppkey") + 100000).cast("string").alias("company_code"),
        F.when(sk3 == 0, F.lit("2023.12.31"))
        .when(sk3 == 1, F.lit("20231025"))
        .otherwise(F.lit("2023-11-30"))
        .alias("delisting_date"),
        F.concat(
            F.lit("reason-"), (F.col("s_suppkey") % 5).cast("string")
        ).alias("delisting_reason"),
        F.lit("KOSPI").alias("market"),
    )
    return {"KOSPI": kospi, "KOSDAQ": kosdaq}, raw_new, raw_delisted


@query(
    "pipeline3_daily_master_update",
    """WITH listed AS (
  SELECT CAST(100000 + s_suppkey AS VARCHAR) AS symbol, 'KOSPI' AS market
  FROM supplier
  UNION ALL
  SELECT CAST(200000 + c_custkey AS VARCHAR), 'KOSDAQ'
  FROM customer
), newl AS (
  SELECT CAST(400000 + p_partkey AS VARCHAR) AS symbol, 'KONEX' AS market
  FROM part WHERE p_partkey <= 400
), del AS (
  SELECT CAST(100000 + s_suppkey AS VARCHAR) AS symbol,
         CASE CAST(s_suppkey % 3 AS INTEGER)
           WHEN 0 THEN DATE '2023-12-31'
           WHEN 1 THEN DATE '2023-10-25'
           ELSE DATE '2023-11-30' END AS ddate
  FROM supplier WHERE s_suppkey % 7 = 0
), m AS (
  SELECT l.market,
         CASE WHEN d.symbol IS NULL THEN 1 ELSE 0 END AS is_active,
         d.ddate
  FROM (SELECT * FROM listed UNION ALL SELECT * FROM newl) l
  LEFT JOIN del d ON l.symbol = d.symbol
)
SELECT market,
       CAST(COUNT(*) AS BIGINT) AS total,
       CAST(SUM(is_active) AS BIGINT) AS active,
       CAST(SUM(1 - is_active) AS BIGINT) AS delisted,
       MIN(ddate) AS earliest_delisting,
       MAX(ddate) AS latest_delisting
FROM m GROUP BY market ORDER BY market""",
)
def pipeline3_daily_master_update(spark, sf_dir):
    """The reference's §3.1 daily batch run as OPERATIONS runs it —
    TWICE, day after day, against the same upstream crawl — closing
    with the per-market daily REPORT (reference:
    scripts/daily_stock_master_update.py:333-367 ends by printing
    exactly these stats). pipeline1 proves the single-run master;
    pipeline2 proves the §3.2 delisted report from its own bootstrap;
    this query is the missing composition: crawl-shaped inputs ->
    validate -> per-market upsert -> new-listing sync -> delisted sync
    -> compact -> RE-RUN the whole batch for day 2 -> report. The
    oracle models ONE logical application of the net semantics, so the
    hash match IS the idempotence proof: the second day's run must
    insert nothing, re-delist nothing new, and leave every reported
    count and date identical (insert-if-absent anti-joins + keyed
    version compaction are the mechanisms under test; audit columns
    move to day 2 but are deliberately not part of the report, exactly
    like the reference's printed stats)."""
    per_market, raw_new, raw_delisted = _daily_update_inputs(spark, sf_dir)
    path = _pipeline_scratch("mdps_pipeline3_") + "/master"
    master = stock_master_table(spark, path)
    for day in (1, 2):  # day 2 is the idempotence re-run
        PL.run_daily_update(
            master,
            per_market,
            raw_new,
            raw_delisted,
            now=dt.datetime(2024, 6, day, 2, 0, 0),
        )
    return (
        master.read_current()
        .groupBy("market")
        .agg(
            F.count("*").cast("long").alias("total"),
            F.sum("is_active").cast("long").alias("active"),
            F.sum(1 - F.col("is_active")).cast("long").alias("delisted"),
            F.min("delisting_date").alias("earliest_delisting"),
            F.max("delisting_date").alias("latest_delisting"),
        )
    )


@query(
    "stb1_stream_batch_reconcile",
    """WITH b AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n AS n_stream, n AS n_batch,
       'match' AS status
FROM b ORDER BY window_start, event_type""",
)
def stb1_stream_batch_reconcile(spark, sf_dir):
    """Streaming-to-batch reconciliation report (r7 verdict #6's named
    suggestion): the SAME tumbling hourly count computed twice — through
    Structured Streaming (readStream -> watermark -> window -> memory
    sink, availableNow) and as a batch aggregate — then FULL OUTER
    joined per (window, event_type) with a match/mismatch/one-sided
    classification. The lambda-architecture audit every migration from
    batch to streaming runs nightly; the oracle asserts the engine's
    stream/batch parity contract (every row 'match'), and any drift
    (lost late data, watermark clipping, double-fired windows) surfaces
    as a non-match row. One shuffle per side plus a key-aligned join."""
    stream = sj.streaming_tumbling(
        sj.read_events_stream(spark, sf_dir), duration="1 hour", keys=["event_type"]
    )
    s = sj.run_stream_to_memory(stream, "stb1_sink").select(
        "window_start", "event_type", F.col("n_events").alias("n_stream")
    )
    b = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
    return (
        s.join(b, ["window_start", "event_type"], "full_outer")
        .select(
            "window_start",
            "event_type",
            F.col("n_stream").cast("long").alias("n_stream"),
            F.col("n_batch").cast("long").alias("n_batch"),
            F.when(F.col("n_stream").isNull(), "batch_only")
            .when(F.col("n_batch").isNull(), "stream_only")
            .when(F.col("n_stream") == F.col("n_batch"), "match")
            .otherwise("mismatch")
            .alias("status"),
        )
    )


def _pipeline4_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE corpus-prep composition
    (plans.pipelines.prepare_corpus): quality floor -> exact dedup ->
    MinHash-LSH + connected components + keep-longest survivors ->
    3-gram decontamination -> 64/16 chunking -> md5 shuffle-sharding ->
    per-shard 256-token packing. Every stage reuses its own green
    oracle fragment (ck1/dd3/dc1/shf1/pk1 shapes); connected components
    is an exact transitive closure (recursive CTE with UNION dedup) —
    equal to the operator's converged min-label propagation. What unit
    oracles cannot see — operator-BOUNDARY bugs like dd4's empty-doc
    collision — only surfaces composed, which is this query's job."""
    return rf"""WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
), benchdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
), q AS (  -- stage 1: quality floor (whitespace token count >= 5)
  SELECT doc_id, text FROM corpus
  WHERE len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) >= 5
), q2 AS (  -- stage 2: exact dedup, min doc_id per identical text
  SELECT doc_id, text FROM (
    SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY text) AS keep FROM q)
  WHERE doc_id = keep
), toks3 AS (  -- stage 3: minhash LSH pairs (dd3 oracle over q2, cap 200)
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS t
  FROM q2
), g0 AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
  FROM toks3 WHERE len(t) >= 3
), grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM g0
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 7))::BIGINT AS h FROM grams
), perms(i, a, b) AS (
  VALUES {_dd3_perms_values()}
), sig AS (
  SELECT doc_id, p.i, MIN((p.a * h.h + p.b) % 2147483647) AS mh
  FROM hs h CROSS JOIN perms p GROUP BY 1, 2
), bands AS (
  SELECT doc_id, i // 4 AS band_id,
         ('0x' || substr(md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)),
                         1, 15))::BIGINT AS band_hash
  FROM sig GROUP BY doc_id, i // 4
), bsize AS (
  SELECT band_id, band_hash, COUNT(*) AS c FROM bands GROUP BY 1, 2
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  JOIN bsize s ON s.band_id = a.band_id AND s.band_hash = a.band_hash
              AND s.c <= 200
), edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach AS (  -- transitive closure -> min reachable label
  SELECT s AS node, d AS lbl FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.lbl
), comp AS (
  SELECT node, LEAST(node, MIN(lbl)) AS component FROM reach GROUP BY node
), clustered AS (
  SELECT q2.doc_id, q2.text, c.component FROM q2
  LEFT JOIN comp c ON c.node = q2.doc_id
), surv AS (  -- keep longest (token count DESC, doc_id) per cluster
  SELECT doc_id, text FROM (
    SELECT doc_id, text, ROW_NUMBER() OVER (
      PARTITION BY COALESCE('c:' || CAST(component AS VARCHAR),
                            'd:' || CAST(doc_id AS VARCHAR))
      ORDER BY len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) DESC,
               doc_id) AS rk
    FROM clustered)
  WHERE rk = 1
), ssh0 AS (  -- stage 4: decontamination (3-gram overlap >= 2 vs benchmark)
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
  FROM (SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t
        FROM surv)
), ssh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM ssh0
), bsh AS (
  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t,
               unnest(range(1, greatest(len(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+')) - 1, 1))) AS i
        FROM benchdocs) z(t, i)
), ov AS (
  SELECT s.doc_id, COUNT(*) AS n_overlap
  FROM ssh s JOIN bsh b USING (shingle) GROUP BY 1
), clean AS (
  SELECT s.doc_id, s.text FROM surv s
  LEFT JOIN ov o USING (doc_id)
  WHERE COALESCE(o.n_overlap, 0) < 2
), ctoks AS (  -- stage 5: chunking (64-token windows, stride 48)
  SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS t FROM clean
), starts AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, 48)) AS start
  FROM ctoks
), chunks AS (
  SELECT doc_id,
         CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
         array_to_string(list_slice(t, start, start + 63), ' ') AS chunk_text,
         CAST(least(64, len(t) - start + 1) AS BIGINT) AS n_tokens
  FROM starts
), keyed AS (  -- stage 6: deterministic shuffle-shard on chunk_key
  SELECT *, CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR) AS ck,
         md5('42:' || CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)) AS hv
  FROM chunks
), sharded AS (
  SELECT doc_id, chunk_idx, chunk_text, n_tokens,
         CAST(NTILE(8) OVER (ORDER BY hv, ck) AS BIGINT) AS shard,
         hv, ck
  FROM keyed
), positioned AS (
  SELECT doc_id, chunk_idx, chunk_text, n_tokens, shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hv, ck) AS BIGINT) AS pos
  FROM sharded
)
SELECT doc_id, chunk_idx, chunk_text, n_tokens, shard, pos,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / 256.0) AS BIGINT) AS pack_no
FROM positioned
ORDER BY doc_id, chunk_idx"""


@query("pipeline4_corpus_prep", _pipeline4_oracle_sql())
def pipeline4_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus preparation, hash-gated as ONE chain:
    the exact composition `scripts/corpus_prep.py` runs (library entry
    `plans.pipelines.prepare_corpus`), with every 20th document playing
    the held-out benchmark (dc1's convention). Output is the final
    loader table: (doc_id, chunk_idx, chunk_text, n_tokens, shard, pos,
    pack_no). Composition cost is real work run eagerly (stage counts +
    localCheckpoints), the same by-design shape as pipeline3's
    idempotence proof. Reference parity: the reference has no LLM
    pipeline; this is the §LLM extension's capstone composition."""
    docs = load_table(spark, sf_dir, "documents")
    out, _counts = PL.prepare_corpus(
        spark,
        docs.filter(F.col("doc_id") % 20 != 0),
        benchmark=docs.filter(F.col("doc_id") % 20 == 0),
        audit_counts=False,  # the CLI's audit actions are dead weight here
    )
    return out


@query(
    "pipeline5_streaming_ingest",
    """WITH clean AS (
  SELECT event_id, ts, event_type, value
  FROM events
  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL AND value >= 0 AND event_type <> 'error'
), wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS horizon FROM clean),
dedup AS (
  -- the at-least-once source is the clean stream unioned with itself;
  -- dedup on the idempotency key restores exactly the clean rows
  SELECT DISTINCT event_id, ts, event_type, value FROM clean
)
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM dedup, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.horizon
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def pipeline5_streaming_ingest(spark, sf_dir):
    """§streaming capstone (r10 verdict #4): the full ingest chain —
    at-least-once source (events unioned with itself, the st4 replay
    trick) -> quality floor -> dedup repair -> watermarked tumbling
    per-type sink — as ONE chained streaming query, hash-gated against
    the batch replay. Append mode (the multiple-stateful-operator
    contract), so the oracle applies the exact emission rule: windows
    ending <= max(clean ts) - 2h horizon. The duplicate source rows are
    provably absorbed: n_events counts each event once or the hash
    diverges. See streaming.jobs.streaming_ingest_pipeline."""
    s1 = sj.read_events_stream(spark, sf_dir)
    s2 = sj.read_events_stream(spark, sf_dir)
    stream = sj.streaming_ingest_pipeline(s1.unionByName(s2))
    return sj.run_stream_to_memory(
        stream, "pipeline5_sink", output_mode="append"
    )
