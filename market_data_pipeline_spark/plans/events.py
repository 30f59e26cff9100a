"""Event-stream queries over ``events``: tumbling/sliding windows,
sessionization, funnels, retention cohorts, attribution, Markov
transitions, PageRank over session follows (``e*``), and the interval
joins over 30-minute sessions (``iv*``).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import (
    analytics,
    events as ev,
    timeseries as tseries,
)
from market_data_pipeline_spark.operators.graph import (
    PAGERANK_SCALE,
    pagerank_fixed,
    session_follow_edges,
)
from market_data_pipeline_spark.plans.driver_queries import SESSION_CTE, query
from market_data_pipeline_spark.sources.catalog import load_table


# --- E1: tumbling event windows --------------------------------------------


@query(
    "e1_tumbling_window",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2""",
)
def e1_tumbling_window(spark, sf_dir):
    return ev.tumbling_window(
        load_table(spark, sf_dir, "events"), duration="hour", keys=["event_type"]
    )


# --- E2: sliding event windows ---------------------------------------------


@query(
    "e2_sliding_window",
    """WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value FROM events
), expanded AS (
  SELECT ws AS window_start, event_type, value FROM b
  UNION ALL
  SELECT ws - INTERVAL '30 minutes' AS window_start, event_type, value FROM b
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY 1, 2, 3""",
)
def e2_sliding_window(spark, sf_dir):
    return ev.sliding_window(
        load_table(spark, sf_dir, "events"),
        window_duration="1 hour",
        slide_duration="30 minutes",
        keys=["event_type"],
    )


# --- E3: sessionization -----------------------------------------------------


@query(
    "e3_sessionize",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id, ts, value,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY 1, 2""",
)
def e3_sessionize(spark, sf_dir):
    return ev.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


# --- E4: semi-structured JSON props ------------------------------------------


@query(
    "e4_json_props",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE props IS NOT NULL
GROUP BY 1""",
)
def e4_json_props(spark, sf_dir):
    """Semi-structured extraction: the events props column is a JSON
    string; get_json_object pulls $.k JVM-side (no UDF), bucketed agg."""
    ev_df = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    return ev_df.groupBy(
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_bucket")
    ).agg(
        F.count("*").alias("n_events"),
        analytics.exact_sum(F.col("value")).alias("total_value"),
    )


@query(
    "e5_funnel_users",
    """WITH v AS (
  SELECT user_id, MIN(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.first_view
  GROUP BY 1
)
SELECT v.user_id, v.first_view, c.first_click,
       c.first_click IS NOT NULL AS converted
FROM v LEFT JOIN c ON v.user_id = c.user_id
ORDER BY v.user_id""",
)
def e5_funnel_users(spark, sf_dir):
    """View→click conversion funnel: first view per user, then the first
    click strictly after it. One scan — the per-user first-view comes from
    a window over the same pass instead of the oracle's self-join."""
    ev_df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    v0 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev_df.withColumn("_v0", v0).filter(F.col("_v0").isNotNull())
    per_user = staged.groupBy("user_id").agg(
        F.min("_v0").alias("first_view"),
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("_v0")),
                F.col("ts"),
            )
        ).alias("first_click"),
    )
    return per_user.select(
        "user_id",
        "first_view",
        "first_click",
        F.col("first_click").isNotNull().alias("converted"),
    )


@query(
    "iv1_interval_join",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id, ts,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
), sessions AS (
  SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM s GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, sn.session_start, sn.session_end
FROM events e
JOIN sessions sn
  ON e.user_id = sn.user_id
 AND e.ts >= sn.session_start AND e.ts <= sn.session_end
ORDER BY e.event_id, sn.session_start""",
)
def iv1_interval_join(spark, sf_dir):
    """Point-in-interval join done scalably: events matched back into their
    user's session intervals through the time-bucketed equi-join
    (events.interval_join) — the oracle states the naive range join. Every
    event falls inside exactly one session interval of its user, so the
    output is one row per event; the bucketed plan produces it with a
    hash join instead of a nested loop."""
    ev_df = load_table(spark, sf_dir, "events")
    sessions = ev.sessionize(ev_df, gap_minutes=30).select(
        "user_id", "session_start", "session_end"
    )
    out = ev.interval_join(
        ev_df.select("event_id", F.col("user_id"), "ts"),
        sessions,
        point_ts="ts",
        start_ts="session_start",
        end_ts="session_end",
        keys=["user_id"],
        bucket="1 hour",
    )
    return out.select(
        "event_id", "user_id", "session_start", "session_end"
    )


# --- E6: weekly retention cohorts --------------------------------------------


@query(
    "e6_retention_cohorts",
    """WITH weeks AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1
)
SELECT f.cohort_week,
       CAST(FLOOR(date_diff('day', f.cohort_week, w.week) / 7.0) AS BIGINT)
           AS week_offset,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
FROM weeks w JOIN first f USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2""",
)
def e6_retention_cohorts(spark, sf_dir):
    """Weekly cohort-retention matrix in long form (cohort = ISO week of
    first activity; offsets are exact Monday-date arithmetic)."""
    return ev.retention_cohorts(load_table(spark, sf_dir, "events"))


# --- IV2: interval-overlap join (concurrent sessions) ------------------------


@query(
    "iv2_concurrent_sessions",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id, ts,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
), sessions AS (
  SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM s GROUP BY 1, 2
)
SELECT a.user_id AS user_a, a.session_start AS start_a,
       b.user_id AS user_b, b.session_start AS start_b,
       greatest(a.session_start, b.session_start) AS overlap_start,
       least(a.session_end, b.session_end) AS overlap_end
FROM sessions a JOIN sessions b
  ON a.user_id < b.user_id
 AND a.session_start <= b.session_end AND b.session_start <= a.session_end
ORDER BY 1, 2, 3, 4""",
)
def iv2_concurrent_sessions(spark, sf_dir):
    """Interval-interval overlap join: pairs of different users whose
    30-minute-gap sessions intersect in time ("who was online
    together"). The oracle states the naive range self-join; the engine
    runs events.interval_overlap_join — both sides bucketed to covering
    hours, hash join on the bucket, each pair emitted once from the
    bucket holding the overlap's start. At 100 TB add a coarse grouping
    key (shard/region) to the join to bound per-bucket fan-out.

    The session frame feeds BOTH join sides, and the broadcast build
    side can't reuse the probe side's exchange (different tree shapes),
    so without a checkpoint the scan + two sessionize windows execute
    twice (r12 plan audit: two full parquet→Window→Window chains). The
    lazy localCheckpoint materializes sessionize once; both sides read
    its blocks (guide §3.3/§5 — rows identical)."""
    ev_df = load_table(spark, sf_dir, "events")
    sess = (
        ev.sessionize(ev_df, gap_minutes=30)
        .select("user_id", "session_start", "session_end")
        .localCheckpoint(eager=False)
    )
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("session_start").alias("start_a"),
        F.col("session_end").alias("end_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("session_start").alias("start_b"),
        F.col("session_end").alias("end_b"),
    )
    out = ev.interval_overlap_join(
        a, b, "start_a", "end_a", "start_b", "end_b",
        bucket="1 hour",
        extra_condition=F.col("user_a") < F.col("user_b"),
    )
    return out.select(
        "user_a",
        "start_a",
        "user_b",
        "start_b",
        F.greatest("start_a", "start_b").alias("overlap_start"),
        F.least("end_a", "end_b").alias("overlap_end"),
    )


@query(
    "e7_cumulative_users",
    """WITH days AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
), firsts AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_users FROM (
    SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
    FROM events GROUP BY 1, 2)
  GROUP BY 1, 2
)
SELECT d.event_type, d.day,
       CAST(COALESCE(f.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(f.new_users, 0)) OVER (
         PARTITION BY d.event_type ORDER BY d.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM days d LEFT JOIN firsts f USING (event_type, day)
ORDER BY 1, 2""",
)
def e7_cumulative_users(spark, sf_dir):
    """Users-to-date growth curve per event type. COUNT(DISTINCT) OVER
    is the unscalable form; this is the first-appearance rewrite (one
    map-combined aggregate + a running sum over the bounded day grid) —
    see operators.events.cumulative_distinct_users."""
    return ev.cumulative_distinct_users(load_table(spark, sf_dir, "events"))


@query(
    "iv3_nearest_event",
    """WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), r AS (
  SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'error'
)
SELECT user_id, left_id, left_ts, nearest_ts, diff_us FROM (
  SELECT l.user_id, l.event_id AS left_id, l.ts AS left_ts,
         r.ts AS nearest_ts,
         abs(date_diff('microsecond', r.ts, l.ts)) AS diff_us,
         ROW_NUMBER() OVER (
           PARTITION BY l.event_id
           ORDER BY abs(date_diff('microsecond', r.ts, l.ts)), r.ts) AS rn
  FROM l LEFT JOIN r USING (user_id)
)
WHERE rn = 1 ORDER BY left_id""",
)
def iv3_nearest_event(spark, sf_dir):
    """Nearest-in-time join (either direction): closest error to each
    click per user, one union-window pass, one shuffle on the key —
    never the |L|x|R| theta join (which the sf-scale oracle runs) — see
    operators.events.nearest_event_join."""
    events = load_table(spark, sf_dir, "events")
    return ev.nearest_event_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "error"),
    )


@query(
    "e8_last_touch_attribution",
    """WITH l AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts AS click_ts, MIN(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT l.user_id, l.purchase_id, l.pts AS purchase_ts, l.value,
       r.click_id, r.click_ts
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND r.click_ts <= l.pts
ORDER BY purchase_id""",
)
def e8_last_touch_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase credited to the
    user's latest click at-or-before it — the event-domain reuse of the
    single-shuffle as-of join (operators.timeseries.asof_join), checked
    against DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.min("event_id").alias("click_id"))
        .select("user_id", "cts", "click_id", F.col("cts").alias("click_ts"))
    )
    joined = tseries.asof_join(
        purchases, clicks, on=["user_id"], left_ts="pts", right_ts="cts",
        value_cols=["click_id", "click_ts"],
    )
    return joined.select(
        "user_id", "purchase_id", F.col("pts").alias("purchase_ts"), "value",
        "click_id", "click_ts",
    )


@query(
    "e9_markov_transitions",
    """WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT from_type, SUM(n) AS t FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, p.n,
       ROUND(p.n / CAST(t.t AS DOUBLE), 6) AS p
FROM pairs p JOIN tot t USING (from_type)
ORDER BY from_type, to_type""",
)
def e9_markov_transitions(spark, sf_dir):
    """Per-user event-type transition matrix (first-order Markov
    estimate): one lead-window pass over the per-key shuffle, counts
    aggregated before the probability join — see
    operators.events.transition_matrix."""
    return ev.transition_matrix(load_table(spark, sf_dir, "events"))


_ALLEN_CASE = """CASE
  WHEN start_a = start_b AND end_a = end_b THEN 'equals'
  WHEN start_a <= start_b AND end_a >= end_b THEN 'contains'
  WHEN start_a >= start_b AND end_a <= end_b THEN 'during'
  WHEN start_a < start_b THEN 'overlaps'
  ELSE 'overlapped_by' END"""


@query(
    "iv4_allen_relations",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id, ts,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
), sessions AS (
  SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM s GROUP BY 1, 2
), pairs AS (
  SELECT a.session_start AS start_a, a.session_end AS end_a,
         b.session_start AS start_b, b.session_end AS end_b
  FROM sessions a JOIN sessions b
    ON a.user_id < b.user_id
   AND a.session_start <= b.session_end
   AND b.session_start <= a.session_end
)
SELECT {_ALLEN_CASE} AS relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1 ORDER BY 1""",
)
def iv4_allen_relations(spark, sf_dir):
    """Allen-style interval-relation census over concurrent session
    pairs (equals / contains / during / overlaps / overlapped_by) — the
    temporal-reasoning summary on top of the bucketed overlap join; the
    oracle states the naive range self-join the engine never runs.
    The shared session frame is lazily checkpointed for the same
    both-join-sides reason as iv2 (sessionize otherwise runs twice)."""
    ev_df = load_table(spark, sf_dir, "events")
    sess = (
        ev.sessionize(ev_df, gap_minutes=30)
        .select("user_id", "session_start", "session_end")
        .localCheckpoint(eager=False)
    )
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("session_start").alias("start_a"),
        F.col("session_end").alias("end_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("session_start").alias("start_b"),
        F.col("session_end").alias("end_b"),
    )
    pairs = ev.interval_overlap_join(
        a, b, "start_a", "end_a", "start_b", "end_b",
        bucket="1 hour",
        extra_condition=F.col("user_a") < F.col("user_b"),
    )
    return ev.allen_relation_census(pairs)


@query(
    "e10_conversion_latency",
    """WITH f AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_from_ts
  FROM events GROUP BY 1
), t AS (
  SELECT e.user_id, MIN(e.ts) AS first_to_ts
  FROM events e JOIN f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= f.first_from_ts
  GROUP BY 1
)
SELECT f.user_id, f.first_from_ts, t.first_to_ts,
       (epoch_us(t.first_to_ts) - epoch_us(f.first_from_ts)) / 1000000.0
           AS latency_sec
FROM f LEFT JOIN t USING (user_id)
WHERE f.first_from_ts IS NOT NULL
ORDER BY user_id""",
)
def e10_conversion_latency(spark, sf_dir):
    """Per-user view->purchase conversion latency in one aggregate pass
    (no join: the qualifying first purchase is resolved from a sorted
    conditional collect within the same grouped rows). Non-converting
    users kept with NULL latency — they are every funnel's denominator.
    See operators.events.conversion_latency."""
    return ev.conversion_latency(
        load_table(spark, sf_dir, "events"), "view", "purchase"
    )


@query(
    "e11_rfm_scores",
    """WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
per_user AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                        CAST((SELECT mx FROM anchor) AS DATE)) AS BIGINT)
             AS recency_days,
         COUNT(*) AS frequency,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                THEN CAST(value AS DECIMAL(18,2)) END),
                       0) AS DOUBLE) AS monetary
  FROM events GROUP BY 1
)
SELECT user_id, recency_days, frequency, monetary,
       CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r_score,
       CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_score,
       CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_score
FROM per_user ORDER BY user_id""",
)
def e11_rfm_scores(spark, sf_dir):
    """RFM (recency/frequency/monetary) user segmentation: one per-user
    aggregate, then three exact range-partitioned ntiles
    (analytics.global_ntile) — never a single-task global window.
    Monetary accumulates in DECIMAL for engine-exact sums. See
    operators.events.rfm_scores."""
    return ev.rfm_scores(load_table(spark, sf_dir, "events"))


@query(
    "e12_burst_detection",
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
def e12_burst_detection(spark, sf_dir):
    """Per-user burst (bot) heuristic: peak events in any 1-minute
    tumbling window, flagged against a threshold — two back-to-back
    map-combined aggregates on the user key, no windows or joins. See
    operators.events.burst_detection."""
    return ev.burst_detection(
        load_table(spark, sf_dir, "events"),
        window_duration="1 minute",
        burst_threshold=3,
    )


@query(
    "iv5_interval_coverage",
    """WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
  FROM events
), flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), numbered AS (
  -- ORDER BY s, event_id: must match the flagged CTE's sort exactly, or
  -- duplicate timestamps can land a flagged row in the previous island
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), islands AS (
  SELECT user_id, island, COUNT(*) AS n, (MAX(e) - MIN(s)) / 1000000.0 AS covered
  FROM numbered GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       SUM(CAST(ROUND(covered * 1e6) AS BIGINT)) / 1e6 AS covered_sec
FROM islands GROUP BY 1 ORDER BY user_id""",
)
def iv5_interval_coverage(spark, sf_dir):
    """Union-of-intervals coverage per user (each event covers 10
    minutes; overlaps merge): the sweep-line as three windows + one
    aggregate, all on the user key — one shuffle, never an interval
    self-join. See operators.events.interval_coverage."""
    return ev.interval_coverage(
        load_table(spark, sf_dir, "events"), duration_minutes=10
    )


@query(
    "e13_bounce_rate",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM s GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS bounce_rate
FROM per_session GROUP BY 1 ORDER BY user_id""",
)
def e13_bounce_rate(spark, sf_dir):
    """Per-user session bounce rate (share of 1-event sessions, 30-min
    gap rule): sessionize + one aggregate on the already-partitioned
    user key. See operators.events.bounce_rate."""
    return ev.bounce_rate(load_table(spark, sf_dir, "events"))


@query(
    "e14_sliding_active_users",
    """WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), ends AS (
  SELECT DISTINCT user_id, d + CAST(x AS INTEGER) AS day
  FROM days, range(0, 7) AS r(x)
), observed AS (SELECT DISTINCT d AS day FROM days)
SELECT e.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM ends e JOIN observed USING (day)
GROUP BY 1 ORDER BY day""",
)
def e14_sliding_active_users(spark, sf_dir):
    """EXACT trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) no engine supports as a window function, rewritten
    as a bounded explode of each (user, day) into the 7 windows it
    feeds. See operators.events.sliding_active_users."""
    return ev.sliding_active_users(
        load_table(spark, sf_dir, "events"), window_days=7
    )


@query(
    "e15_session_paths",
    """WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), paths AS (
  SELECT user_id, sid,
         array_to_string(list_slice(list(event_type ORDER BY ts, event_id),
                                    1, 10), '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path LIMIT 20""",
)
def e15_session_paths(spark, sf_dir):
    """Top session event-type paths (path mining): sessionize, render
    each session's first 10 event types as an ordered '>'-path (sorted
    collect bounded by session size, capped), count, TakeOrdered top-20.
    See operators.events.top_session_paths."""
    return ev.top_session_paths(load_table(spark, sf_dir, "events"), k=20)


@query(
    "e16_interarrival_stats",
    """WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       SUM(gap) / 1e6 / COUNT(*) AS mean_gap_sec,
       MAX(gap) / 1e6 AS max_gap_sec
FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY user_id""",
)
def e16_interarrival_stats(spark, sf_dir):
    """Per-user inter-arrival cadence (gap count, exact mean gap, max
    gap): bot/heartbeat/dropout analysis. Gaps are integer microseconds
    so the mean is exact BIGINT arithmetic — engine-identical with no
    rounding. One series-key shuffle. See
    operators.events.interarrival_stats."""
    return ev.interarrival_stats(load_table(spark, sf_dir, "events"))


@query(
    "e17_hourly_profile",
    """SELECT CAST(isodow(ts) AS BIGINT) AS day_of_week,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
)
def e17_hourly_profile(spark, sf_dir):
    """7x24 seasonality heatmap (ISO weekday x hour): event count +
    exact distinct actors per cell — the load-forecast / anomaly
    baseline. Constant-size output, map-side combine does the work. See
    operators.events.hourly_profile."""
    return ev.hourly_profile(load_table(spark, sf_dir, "events"))


@query(
    "e18_first_touch_attribution",
    """WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
), fc AS (
  SELECT user_id, ts AS fts, event_id AS fid
  FROM (
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT p.user_id, p.purchase_id, p.pts AS purchase_ts, p.value,
       CASE WHEN fc.fts <= p.pts THEN fc.fid END AS first_click_id,
       CASE WHEN fc.fts <= p.pts THEN fc.fts END AS first_click_ts
FROM p LEFT JOIN fc USING (user_id) ORDER BY purchase_id""",
)
def e18_first_touch_attribution(spark, sf_dir):
    """First-touch attribution — each purchase credited to the user's
    EARLIEST click, provided it precedes the purchase (e8's last-touch
    mirror). The first click per user is one argmin aggregate
    (min(struct(ts, id)) — lexicographic, deterministic), broadcast
    back onto purchases; no window over the event stream and no as-of
    machinery needed because the prefix-minimum is global."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    first_click = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("_fc"))
        .select("user_id", F.col("_fc.ts").alias("_fts"), F.col("_fc.event_id").alias("_fid"))
    )
    hit = F.col("_fts") <= F.col("purchase_ts")
    return (
        purchases.join(first_click, "user_id", "left")
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts",
            "value",
            F.when(hit, F.col("_fid")).alias("first_click_id"),
            F.when(hit, F.col("_fts")).alias("first_click_ts"),
        )
    )


@query(
    "e19_event_type_pairs",
    """WITH kt AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM kt a JOIN kt b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def e19_event_type_pairs(spark, sf_dir):
    """Event-type co-occurrence (users exhibiting both types of each
    unordered pair): market-basket primitive whose pair explosion is
    bounded by the TYPE VOCABULARY (C(|types|,2) per user), never event
    volume — the distinct (user, type) pass collapses the stream first.
    See operators.events.event_type_pairs."""
    return ev.event_type_pairs(load_table(spark, sf_dir, "events"))


@query(
    "e20_stickiness",
    """WITH du AS (
  SELECT DISTINCT strftime(ts, '%Y-%m') AS month, CAST(ts AS DATE) AS day, user_id
  FROM events
)
SELECT month, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau,
       COUNT(*) / COUNT(DISTINCT day) AS avg_dau,
       COUNT(*) / COUNT(DISTINCT day) / COUNT(DISTINCT user_id) AS stickiness
FROM du GROUP BY 1 ORDER BY month""",
)
def e20_stickiness(spark, sf_dir):
    """Monthly DAU/MAU stickiness: the engagement ratio product teams
    track. One (month, day, user) distinct pass feeds every aggregate;
    the DAU mean is exact integer arithmetic so the ratio is
    engine-identical. See operators.events.stickiness."""
    return ev.stickiness(load_table(spark, sf_dir, "events"))


@query(
    "iv6_activity_span",
    """SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
            AS BIGINT) AS span_days,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
       ROUND(COUNT(DISTINCT CAST(ts AS DATE)) * 1.0
             / (date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
                + 1), 6) AS density
FROM events GROUP BY 1 ORDER BY user_id""",
)
def iv6_activity_span(spark, sf_dir):
    """Per-user activity span: first/last seen, calendar span, distinct
    active days, and density (active/span) — the lifetime-engagement
    summary behind churn features. One groupBy with an exact
    count-distinct on the day; all integer arithmetic."""
    events = load_table(spark, sf_dir, "events")
    span = F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
    return (
        events.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            span.cast("long").alias("span_days"),
            F.countDistinct(F.to_date("ts")).cast("long").alias("active_days"),
            F.round(
                F.countDistinct(F.to_date("ts")) * 1.0 / (span + 1), 6
            ).alias("density"),
        )
    )


@query(
    "e21_dwell_time",
    """WITH g AS (
  SELECT event_type,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dwell
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_dwells,
       SUM(dwell) / 1e6 / COUNT(*) AS mean_dwell_sec,
       MAX(dwell) / 1e6 AS max_dwell_sec
FROM g WHERE dwell IS NOT NULL GROUP BY 1 ORDER BY event_type""",
)
def e21_dwell_time(spark, sf_dir):
    """Dwell time attributed to the PRECEDING event type (how long users
    linger after each action before their next event) — the engagement
    signal behind content ranking. One per-user lead window + one
    type groupBy; dwells are integer microseconds so the mean is exact
    BIGINT arithmetic, engine-identical."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dwell = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    staged = events.select("event_type", dwell.alias("_d")).filter(
        F.col("_d").isNotNull()
    )
    return (
        staged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dwells"),
            (F.sum("_d") / 1e6 / F.count(F.lit(1))).alias("mean_dwell_sec"),
            (F.max("_d") / 1e6).alias("max_dwell_sec"),
        )
    )


@query(
    "e22_anomalous_days",
    """WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), s AS (
  SELECT SUM(n_events) * 1.0 / COUNT(*) AS mu,
         ROUND(STDDEV_SAMP(n_events), 6) AS sigma
  FROM d
)
SELECT day, n_events,
       ROUND((n_events - s.mu) / s.sigma, 6) AS zscore,
       ABS((n_events - s.mu) / s.sigma) > 2 AS is_anomaly
FROM d, s ORDER BY day""",
)
def e22_anomalous_days(spark, sf_dir):
    """Daily event-volume anomaly screen: each day's count z-scored
    against the whole series (|z| > 2 flags traffic spikes/outages).
    Counts are integers, the mean an exact ratio, the stddev rounded
    before the ratio (accumulation-order dependent) — the ts10 rounding
    discipline applied to operational volumes. One tiny day-level
    aggregate + a broadcast scalar join."""
    events = load_table(spark, sf_dir, "events")
    d = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    s = d.agg(
        (F.sum("n_events") * 1.0 / F.count(F.lit(1))).alias("_mu"),
        F.round(F.stddev_samp("n_events"), 6).alias("_sigma"),
    )
    z = (F.col("n_events") - F.col("_mu")) / F.col("_sigma")
    return (
        d.crossJoin(F.broadcast(s))
        .select(
            "day",
            "n_events",
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > 2).alias("is_anomaly"),
        )
    )


@query(
    "e23_funnel_3step",
    """WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_full_funnel""",
)
def e23_funnel_3step(spark, sf_dir):
    """Three-step strict-order funnel (view -> later click -> later
    purchase): users surviving each stage. ONE scan with three chained
    conditional-min window passes over the same user partitioning (the
    oracle's formulation needs three self-joins; the window form
    shuffles once) — e5's two-step funnel completed to the standard
    depth-3 report."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = events.withColumn(
        "_t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    staged = staged.withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("_t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    staged = staged.withColumn(
        "_t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("_t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    return staged.agg(
        F.countDistinct(F.when(F.col("_t1").isNotNull(), F.col("user_id")))
        .cast("long")
        .alias("n_view"),
        F.countDistinct(F.when(F.col("_t2").isNotNull(), F.col("user_id")))
        .cast("long")
        .alias("n_view_click"),
        F.countDistinct(F.when(F.col("_t3").isNotNull(), F.col("user_id")))
        .cast("long")
        .alias("n_full_funnel"),
    )


@query(
    "e24_event_pagerank",
    """WITH RECURSIVE raw AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS src,
         event_type AS dst
  FROM events
), e AS (
  SELECT src, dst, COUNT(*) AS m FROM raw WHERE src IS NOT NULL GROUP BY 1, 2
), deg AS (
  SELECT src, SUM(m) AS d FROM e GROUP BY 1
), nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
), nn AS (SELECT COUNT(*) AS n FROM nodes),
pr(iter, node, r) AS (
  SELECT 0, node, 1000000000000000 // (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT it.iter + 1, n.node,
     (15 * 1000000000000000) // (100 * (SELECT n FROM nn))
     + (17 * (COALESCE(f.infp, 0) + dg.dang // (SELECT n FROM nn))) // 20
  FROM (SELECT MAX(iter) AS iter FROM pr) it
  CROSS JOIN nodes n
  LEFT JOIN (
    SELECT ee.dst,
           SUM((p2.r // dd.d) * ee.m + ((p2.r % dd.d) * ee.m) // dd.d) AS infp
    FROM pr p2 JOIN e ee ON ee.src = p2.node JOIN deg dd ON dd.src = p2.node
    GROUP BY 1
  ) f ON f.dst = n.node
  CROSS JOIN (
    SELECT COALESCE(SUM(p3.r), 0) AS dang
    FROM pr p3 LEFT JOIN deg d3 ON d3.src = p3.node WHERE d3.src IS NULL
  ) dg
  WHERE it.iter < 10
)
SELECT node, ROUND(r / 1e15, 6) AS rank
FROM pr WHERE iter = 10 ORDER BY rank DESC, node""",
)
def e24_event_pagerank(spark, sf_dir):
    """PageRank over the event-type follow graph (which event type
    accumulates attention mass under random-surfer dynamics) — the
    canonical distributed ITERATIVE algorithm done the scale-correct
    way: each node row carries its out-edges, so an iteration is one
    map-combined groupBy and one eager checkpoint (two jobs), and the
    dangling mass the next iteration needs is observed by that
    checkpoint. The type graph here is small; the operator is
    node-count-agnostic (nothing driver-side but the iteration counter
    and that scalar).

    Arithmetic is exact integer fixed-point (graph.pagerank_fixed), so
    the iterative fixed point IS oracle-checkable: a DuckDB recursive
    CTE replays the same integer recurrence bit-for-bit. Was rows-only
    under the float formulation (order-dependent double sums); float
    parity is still pinned by pytest."""
    edges = session_follow_edges(load_table(spark, sf_dir, "events"))
    return (
        pagerank_fixed(edges, iterations=10)
        .select(
            "node",
            F.round(F.col("rank_fp") / F.lit(float(PAGERANK_SCALE)), 6).alias("rank"),
        )
    )


@query(
    "e25_cohort_ltv",
    """WITH wk AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week, event_type, value FROM events
), first_wk AS (
  SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1
), rev AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, w.week) / 7 AS BIGINT) AS week_offset,
         SUM(CAST(w.value AS DECIMAL(18,2))) AS rev_dec
  FROM wk w JOIN first_wk f ON w.user_id = f.user_id
  WHERE w.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset,
       CAST(rev_dec AS DOUBLE) AS revenue,
       -- cents derive from the DECIMAL sum (exact), never from the
       -- double: double*100 sits a ULP under the integer and Spark's
       -- cast truncates where DuckDB's rounds
       CAST(SUM(CAST(rev_dec * 100 AS BIGINT))
                OVER (PARTITION BY cohort_week ORDER BY week_offset
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100
           AS cumulative_ltv
FROM rev ORDER BY cohort_week, week_offset""",
)
def e25_cohort_ltv(spark, sf_dir):
    """Cohort lifetime value: purchase revenue per signup-week cohort at
    each week offset, with the running cumulative LTV — e6's retention
    matrix upgraded from presence counts to money. Decimal-exact
    revenue; the cumulative window rides exact integer cents and
    partitions by cohort (bounded by the calendar). Two shuffles: the
    user-key cohort join, then the (cohort, offset) aggregate."""
    events = load_table(spark, sf_dir, "events")
    wk = events.select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("week"),
        "event_type",
        "value",
    )
    first_wk = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    rev = (
        wk.join(first_wk, "user_id")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("_rev_dec"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cents derive from the DECIMAL sum (exact, engine-independent) —
    # (double_revenue * 100).cast(long) truncated a ULP-under double
    # where DuckDB's CAST rounds, flipping the last cent
    return rev.select(
        "cohort_week",
        "week_offset",
        F.col("_rev_dec").cast("double").alias("revenue"),
        (
            F.sum((F.col("_rev_dec") * 100).cast("long")).over(w).cast("double")
            / 100
        ).alias("cumulative_ltv"),
    )


@query(
    "iv7_gap_histogram",
    """WITH g AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_type,
       CAST(GREATEST(0, FLOOR(LOG10(GREATEST(gap, 1) / 1e6 + 1))) AS BIGINT)
           AS log10_gap_sec_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM g WHERE gap IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def iv7_gap_histogram(spark, sf_dir):
    """Inter-event gap histogram in log10-second buckets per event type
    (the cadence fingerprint: bots pile into the low buckets, humans
    spread) — e16's per-user stats rolled up to a constant-size
    distribution. Gaps are exact integer microseconds; the bucket edges
    are integer log10 of whole seconds, deterministic everywhere."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    staged = events.select("event_type", gap.alias("_gap")).filter(
        F.col("_gap").isNotNull()
    )
    bucket = F.greatest(
        F.lit(0), F.floor(F.log10(F.greatest(F.col("_gap"), F.lit(1)) / 1e6 + 1))
    ).cast("long")
    return (
        staged.groupBy("event_type", bucket.alias("log10_gap_sec_bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "e26_session_percentiles",
    """WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), sess AS (
  SELECT user_id, sid,
         (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1e6 AS dur_sec
  FROM numbered GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(quantile_cont(dur_sec, 0.5), 6) AS p50_sec,
       ROUND(quantile_cont(dur_sec, 0.9), 6) AS p90_sec,
       ROUND(quantile_cont(dur_sec, 0.99), 6) AS p99_sec
FROM sess""",
)
def e26_session_percentiles(spark, sf_dir):
    """Exact session-duration percentiles (p50/p90/p99) over 30-minute
    gap sessions — the latency-style SLO report for engagement.
    Durations are exact integer-microsecond spans; the exact
    interpolated percentile runs as ONE global aggregate over
    session-level rows (bounded: one row per session, the
    post-aggregation shape), rounded for the lerp arithmetic."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    staged = events.withColumn(
        "_new",
        (gap_us.isNull() | (gap_us > 1800 * 1_000_000)).cast("int"),
    ).withColumn(
        "_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sess = staged.groupBy("user_id", "_sid").agg(
        (
            (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts"))))
            / 1e6
        ).alias("dur_sec")
    )
    q = F.expr("percentile(dur_sec, array(0.5, 0.9, 0.99))")
    return sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"), q.alias("_q")
    ).select(
        "n_sessions",
        F.round(F.col("_q")[0], 6).alias("p50_sec"),
        F.round(F.col("_q")[1], 6).alias("p90_sec"),
        F.round(F.col("_q")[2], 6).alias("p99_sec"),
    )


@query(
    "e28_wau_trend",
    """WITH w AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM events GROUP BY 1
)
SELECT week, wau,
       ROUND(wau * 1.0 / LAG(wau) OVER (ORDER BY week) - 1, 6) AS wow_growth
FROM w ORDER BY week""",
)
def e28_wau_trend(spark, sf_dir):
    """Weekly active users with week-over-week growth — the topline
    engagement trend. One exact distinct aggregate per week + a lag over
    the week series (bounded by the calendar, post-aggregation)."""
    events = load_table(spark, sf_dir, "events")
    w = events.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(F.countDistinct("user_id").cast("long").alias("wau"))
    lw = Window.orderBy("week")
    return w.select(
        "week",
        "wau",
        F.round(F.col("wau") * 1.0 / F.lag("wau").over(lw) - 1, 6).alias(
            "wow_growth"
        ),
    )


@query(
    "e30_hourly_conversion",
    """SELECT CAST(hour(ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_purchases,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS purchase_rate
FROM events GROUP BY 1 ORDER BY hour""",
)
def e30_hourly_conversion(spark, sf_dir):
    """Purchase-rate seasonality by hour of day (when traffic actually
    converts — the staffing/bidding curve next to e17's raw volume
    heatmap). One 24-group conditional aggregate, map-side combined,
    constant-size output."""
    events = load_table(spark, sf_dir, "events")
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        events.groupBy(F.hour("ts").cast("long").alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(is_p).cast("long").alias("n_purchases"),
            F.round(F.sum(is_p) * 1.0 / F.count(F.lit(1)), 6).alias(
                "purchase_rate"
            ),
        )
    )


@query(
    "e31_new_vs_returning",
    """WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
), daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT d.day,
       CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
       CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS returning_users,
       ROUND(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS returning_share
FROM daily d JOIN first_seen f ON d.user_id = f.user_id
GROUP BY 1 ORDER BY d.day""",
)
def e31_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning active split (the acquisition/retention
    decomposition every growth dashboard leads with): first-seen date
    per user as a MIN window over the distinct daily actives (r13 walk
    census: the old separate first-seen aggregate joined back onto the
    distinct pass walked events twice; min over the distinct
    (day, user) rows is the same date — guide §2.4), exact counts.
    NULL users are dropped before the window, as the old inner join
    (and the oracle's) dropped them; the window would otherwise pool
    them into one pseudo-user."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    first = F.min("day").over(Window.partitionBy("user_id"))
    is_new = F.when(F.col("day") == F.col("_first"), 1).otherwise(0)
    is_ret = F.when(F.col("day") > F.col("_first"), 1).otherwise(0)
    return (
        daily.select("day", "user_id", first.alias("_first"))
        .groupBy("day")
        .agg(
            F.sum(is_new).cast("long").alias("new_users"),
            F.sum(is_ret).cast("long").alias("returning_users"),
            F.round(F.sum(is_ret) * 1.0 / F.count(F.lit(1)), 6).alias(
                "returning_share"
            ),
        )
    )


@query(
    "e32_session_depth",
    f"""WITH {SESSION_CTE}, s AS (
  SELECT user_id,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), depth AS (
  SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY 1, 2
)
SELECT CAST(LEAST(FLOOR(LOG2(n_events)), 6) AS BIGINT) AS log2_depth_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM depth GROUP BY 1 ORDER BY log2_depth_bucket""",
)
def e32_session_depth(spark, sf_dir):
    """Session-depth distribution: sessions bucketed by log2 of their
    event count (capped at 2^6+) — the engagement-shape histogram
    (single-hit bounces on the left, marathon sessions on the right)
    that a mean session length hides. Sessionization is e3's
    two-window shape; the histogram is constant-size."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    staged = events.withColumn(
        "_ns", (gap_us.isNull() | (gap_us > 1800 * 1_000_000)).cast("int")
    ).withColumn(
        "_sid", F.sum("_ns").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    depth = staged.groupBy("user_id", "_sid").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bucket = F.least(F.floor(F.log2("n_events")), F.lit(6)).cast("long")
    return (
        depth.groupBy(bucket.alias("log2_depth_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )


@query(
    "iv8_peak_concurrency",
    """WITH iv AS (
  SELECT event_type, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(floor(value * 60 * 1e6) AS BIGINT) AS e_us
  FROM events WHERE value IS NOT NULL
), pts AS (
  SELECT event_type, s_us AS t_us, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT event_type, e_us, CAST(-1 AS BIGINT) FROM iv
), sweep AS (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t_us, delta
                          ROWS UNBOUNDED PRECEDING) AS live
  FROM pts
)
SELECT event_type, CAST(MAX(live) AS BIGINT) AS peak_concurrency
FROM sweep GROUP BY event_type ORDER BY event_type""",
)
def iv8_peak_concurrency(spark, sf_dir):
    """Peak concurrent activity per event type via the classic +1/-1
    boundary sweep: each event holds for value minutes; the running sum
    of interval boundaries (ends sort before starts at the same instant
    -> half-open intervals) peaks at the max concurrency. One shuffle on
    event_type; the sweep is an integer cumulative sum, engine-exact.
    Completes the interval family with the O(n log n) sweep pattern (the
    interval-join approach to this is quadratic). NULL values are
    dropped up front — a NULL e_us boundary sorts first in Spark
    windows but last in DuckDB, so the running sum would diverge
    between engines (r6 advisor)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    iv = events.select(
        "event_type",
        us.alias("s_us"),
        (us + F.floor(F.col("value") * 60 * 1e6).cast("long")).alias("e_us"),
    )
    pts = iv.select(
        "event_type", F.col("s_us").alias("t_us"), F.lit(1).cast("long").alias("delta")
    ).unionByName(
        iv.select(
            "event_type",
            F.col("e_us").alias("t_us"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t_us", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pts.withColumn("live", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("live").cast("long").alias("peak_concurrency"))
    )


@query(
    "e33_daypart_rollup",
    """SELECT event_type,
       CASE WHEN hour(ts) < 6 THEN 'night'
            WHEN hour(ts) < 12 THEN 'morning'
            WHEN hour(ts) < 18 THEN 'afternoon'
            ELSE 'evening' END AS daypart,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
)
def e33_daypart_rollup(spark, sf_dir):
    """Event volume/reach/value by (type, daypart) — the engagement-mix
    rollup behind send-time optimization. Pure map + one map-combined
    aggregate; value sums in DECIMAL(18,2) (the repo's exact-sum rule)."""
    events = load_table(spark, sf_dir, "events")
    h = F.hour("ts")
    daypart = (
        F.when(h < 6, "night")
        .when(h < 12, "morning")
        .when(h < 18, "afternoon")
        .otherwise("evening")
    )
    return (
        events.groupBy("event_type", daypart.alias("daypart"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            analytics.exact_sum(F.col("value")).alias("total_value"),
        )
    )


@query(
    "e34_active_gap_histogram",
    """WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), gaps AS (
  SELECT user_id,
         day - LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
  FROM days
)
SELECT CAST(gap AS BIGINT) AS gap_days, CAST(COUNT(*) AS BIGINT) AS n
FROM gaps WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""",
)
def e34_active_gap_histogram(spark, sf_dir):
    """Histogram of per-user gaps between consecutive ACTIVE days — the
    churn-risk / resurrection-lag distribution (how long do users go
    dark). Per-user lag windows (series-key shuffle), then a tiny
    grouped count; the histogram is bounded by the calendar span."""
    events = load_table(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    return (
        days.withColumn("gap", F.datediff(F.col("day"), F.lag("day").over(w)))
        .filter(F.col("gap").isNotNull())
        .groupBy(F.col("gap").cast("long").alias("gap_days"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "iv9_interval_stabbing",
    """WITH m AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events
               WHERE value IS NOT NULL),
probes AS (
  SELECT CAST(r.range AS BIGINT) AS probe_idx,
         t0 + CAST(r.range * 21600000000 AS BIGINT) AS probe_us
  FROM m, range(12) r
), iv AS (
  SELECT epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(floor(value * 60 * 1e6) AS BIGINT) AS e_us
  FROM events WHERE value IS NOT NULL
)
SELECT p.probe_idx, p.probe_us,
       CAST(SUM(CASE WHEN iv.s_us <= p.probe_us AND p.probe_us < iv.e_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covering
FROM iv, probes p
GROUP BY 1, 2 ORDER BY 1""",
)
def iv9_interval_stabbing(spark, sf_dir):
    """Interval STABBING query: how many live activity intervals (each
    event holds for ``value`` minutes) cover each of 12 probe instants
    (6-hour grid from the stream's start)? The probe set broadcasts and
    the corpus streams through ONCE with a per-row 12-way conditional
    count — no interval index, no shuffle beyond the 12-group aggregate.
    The grid anchor is one driver-side MIN scalar (bounded, the o2
    cursor pattern). Complements iv8's sweep (all-time peak) with
    point-in-time depth. NULL values are dropped before building the
    boundaries — a NULL end would otherwise make the covered predicate
    NULL and the engines disagree on NULL ordering (r6 advisor)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    t0 = events.agg(F.min(us).alias("t0")).collect()[0]["t0"]
    probes = spark.range(12).select(
        F.col("id").cast("long").alias("probe_idx"),
        (F.lit(t0) + F.col("id") * F.lit(21600000000)).cast("long").alias("probe_us"),
    )
    iv = events.select(
        us.alias("s_us"),
        (us + F.floor(F.col("value") * 60 * 1e6).cast("long")).alias("e_us"),
    )
    covered = (F.col("s_us") <= F.col("probe_us")) & (
        F.col("probe_us") < F.col("e_us")
    )
    return (
        iv.crossJoin(F.broadcast(probes))
        .groupBy("probe_idx", "probe_us")
        .agg(
            F.sum(F.when(covered, 1).otherwise(0)).cast("long").alias("n_covering")
        )
    )


@query(
    "e35_repeat_latency",
    """WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), ranked AS (
  SELECT user_id, day,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM days
), firsts AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 2 THEN day END)
           - MAX(CASE WHEN rn = 1 THEN day END) AS latency
  FROM ranked WHERE rn <= 2 GROUP BY user_id
)
SELECT CAST(latency AS BIGINT) AS latency_days,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM firsts WHERE latency IS NOT NULL GROUP BY 1 ORDER BY 1""",
)
def e35_repeat_latency(spark, sf_dir):
    """Time-to-second-visit distribution: days between each user's first
    and second ACTIVE day, histogrammed — the activation-lag metric
    behind onboarding funnels (users who never return simply drop out of
    the histogram). Per-user windows bounded at two rows; output bounded
    by the calendar span."""
    events = load_table(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    ranked = days.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    firsts = ranked.groupBy("user_id").agg(
        F.datediff(
            F.max(F.when(F.col("rn") == 2, F.col("day"))),
            F.max(F.when(F.col("rn") == 1, F.col("day"))),
        ).alias("latency")
    )
    return (
        firsts.filter(F.col("latency").isNotNull())
        .groupBy(F.col("latency").cast("long").alias("latency_days"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "e36_second_order_markov",
    """WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type, 2) OVER w AS p2,
         LAG(event_type, 1) OVER w AS p1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT p2, p1, event_type AS nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE p2 IS NOT NULL GROUP BY 1, 2, 3
)
SELECT p2, p1, nxt, n,
       n / SUM(n) OVER (PARTITION BY p2, p1) AS prob
FROM tri ORDER BY p2, p1, nxt""",
)
def e36_second_order_markov(spark, sf_dir):
    """SECOND-order Markov transitions over per-user event sequences
    (trigram context): where the first-order chain (e9) says "click
    follows view", this distinguishes "view,view→click" from
    "purchase,view→click" — the memory a path model actually needs.
    Per-user lag windows (one series shuffle); the conditional
    probability divides exact BIGINT counts inside a context-bounded
    window (|event_types|² partitions)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.lag("event_type", 2).over(w).alias("p2"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.col("event_type").alias("nxt"),
    ).filter(F.col("p2").isNotNull())
    tri = seq.groupBy("p2", "p1", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ctx = Window.partitionBy("p2", "p1")
    return tri.select(
        "p2", "p1", "nxt", "n", (F.col("n") / F.sum("n").over(ctx)).alias("prob")
    )


@query(
    "e37_retention_survival",
    """WITH pk AS (
  SELECT user_id,
         CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
              AS INTEGER) AS lifetime_days
  FROM events GROUP BY 1
), lt AS (
  SELECT lifetime_days, CAST(COUNT(*) AS BIGINT) AS n_keys FROM pk GROUP BY 1
)
SELECT lifetime_days, n_keys,
       CAST(SUM(n_keys) OVER (ORDER BY lifetime_days DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS surviving,
       ROUND(CAST(SUM(n_keys) OVER (ORDER BY lifetime_days DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / SUM(n_keys) OVER (), 6) AS survival_rate
FROM lt ORDER BY lifetime_days""",
)
def e37_retention_survival(spark, sf_dir):
    """Observed-lifetime survival curve over the event stream: for each
    observed per-user lifetime k (days between first and last event),
    the number and fraction of users surviving >= k days — the
    engagement-decay curve behind churn models. The reverse-cumulative
    window runs over the LIFETIME DOMAIN (bounded by the capture
    window's calendar span, not by users), the same bounded-domain
    single-partition argument as a16. See
    operators.events.retention_survival."""
    return ev.retention_survival(load_table(spark, sf_dir, "events"))


@query(
    "e38_event_type_lift",
    """WITH kt AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total FROM kt),
m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM kt GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM kt a JOIN kt b ON a.user_id = b.user_id
       AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, ma.nt AS n_a, mb.nt AS n_b, p.n_both,
       ROUND(CAST(p.n_both AS DOUBLE) * tot.n_total
             / (CAST(ma.nt AS DOUBLE) * mb.nt), 6) AS lift
FROM pairs p
JOIN m ma ON p.type_a = ma.event_type
JOIN m mb ON p.type_b = mb.event_type
CROSS JOIN tot
ORDER BY p.type_a, p.type_b""",
)
def e38_event_type_lift(spark, sf_dir):
    """Association lift for event-type pairs: n_both * N / (n_a * n_b)
    over distinct users — separates "both types are popular" (lift ~ 1)
    from genuine behavioral association. Extends e19's co-occurrence
    counts with broadcast marginals; pair fan-out stays bounded by the
    type vocabulary. See operators.events.event_type_lift."""
    return ev.event_type_lift(load_table(spark, sf_dir, "events"))


@query(
    "e39_power_users",
    """WITH uc AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1
), d AS (
  SELECT user_id, n_events,
         NTILE(10) OVER (ORDER BY n_events DESC, user_id) AS decile
  FROM uc
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS events,
       ROUND(CAST(SUM(n_events) AS DOUBLE) / SUM(SUM(n_events)) OVER (), 6)
           AS event_share
FROM d GROUP BY 1 ORDER BY decile""",
)
def e39_power_users(spark, sf_dir):
    """Activity concentration ("whales") report: users bucketed into
    activity deciles, each decile's share of total events — the skew
    profile that decides whether per-user operators need salting (a
    top decile owning half the events at 100 TB means hot keys). The
    decile assignment runs on USER-cardinality rows — unbounded at
    100 TB, so it uses analytics.global_ntile (range-partitioned local
    rank + exact offset arithmetic, the r5_symbol_deciles machinery)
    rather than a partition-less NTILE window, with a total order
    (n_events DESC, user_id) making buckets bit-identical to SQL NTILE;
    the share window is over 10 rows."""
    uc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    d = analytics.global_ntile(
        uc, [F.col("n_events").desc(), F.col("user_id")], 10, out_col="decile"
    ).select("n_events", F.col("decile").cast("int").alias("decile"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("events"),
        )
        .select(
            "decile",
            "n_users",
            "events",
            F.round(
                F.col("events").cast("double") / F.sum("events").over(w_all), 6
            ).alias("event_share"),
        )
    )


@query(
    "e42_daily_error_rate",
    """SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors,
       SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0
           / COUNT(*) AS error_rate,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'error' THEN user_id END)
            AS BIGINT) AS n_affected_users
FROM events GROUP BY 1 ORDER BY day""",
)
def e42_daily_error_rate(spark, sf_dir):
    """Daily reliability rollup: error share of all events plus the
    blast radius (distinct users who hit at least one error that day) —
    the SRE view of the event stream that no other e-query carries
    (only iv3 mentions 'error', as a join example). One
    date-key aggregate with two COUNT DISTINCTs (bounded expand, day
    granularity); error_rate is a division of two exact integers, IEEE-
    identical in both engines with no rounding needed."""
    events = load_table(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    return (
        events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(is_err, 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
            (
                F.sum(F.when(is_err, 1).otherwise(0)) * 1.0
                / F.count(F.lit(1))
            ).alias("error_rate"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.countDistinct(F.when(is_err, F.col("user_id")))
            .cast("long")
            .alias("n_affected_users"),
        )
    )


@query(
    "e43_activity_streaks",
    """WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
isl AS (
  SELECT user_id,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM days
),
runs AS (
  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2
),
best AS (
  SELECT user_id, MAX(len) AS best_streak FROM runs GROUP BY 1
)
SELECT CAST(best_streak AS BIGINT) AS streak_days,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM best GROUP BY 1 ORDER BY streak_days""",
)
def e43_activity_streaks(spark, sf_dir):
    """Longest consecutive-calendar-day activity streak per user,
    rolled into a (streak length -> user count) histogram — the
    habit-formation / gamification metric (checker: ts31 streaks are
    PRICE runs; nothing covers user-day streaks). The date-arithmetic
    islands trick: day minus the per-user day rank is constant exactly
    within a consecutive run, so one distinct-day dedup plus one
    user-key window finds every streak without self-joins; all-integer
    outputs, histogram bounded by the longest streak. See
    operators.events.activity_streaks."""
    return ev.activity_streaks(load_table(spark, sf_dir, "events"))
