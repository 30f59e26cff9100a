"""Event-stream operators (SURVEY §7 Phase 6): tumbling/sliding windows and
sessionization over the ``events`` table, batch formulation.

Structured Streaming variants live in ``streaming.jobs`` — same logical
shapes with ``readStream`` + watermarks. In batch the windows are plain
date_trunc/window groupBys: one shuffle on (window, keys), map-side partial
aggregation, no state store needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators.analytics import exact_sum, global_ntile


def tumbling_window(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "hour",
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Fixed tumbling windows via date_trunc: (window_start, keys) ->
    count, exact sum, min/max.

    ``duration`` is a date_trunc unit (minute/hour/day/week/month).
    """
    keys = keys or []
    return (
        df.groupBy(
            F.date_trunc(duration, F.col(ts_col)).alias("window_start"),
            *[F.col(k) for k in keys],
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col(value_col)).alias("total_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )


def sliding_window(
    df: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    slide_duration: str = "30 minutes",
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Sliding windows via ``F.window`` (each event lands in
    window/slide overlapping windows; Spark expands them without a UDF).

    Returns (window_start, window_end, keys..., n_events, total_value).
    """
    keys = keys or []
    win = F.window(F.col(ts_col), window_duration, slide_duration)
    return (
        df.groupBy(win.alias("w"), *[F.col(k) for k in keys])
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col(value_col)).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the user's
    inter-event gap exceeds ``gap_minutes``.

    Classic two-window formulation (lag -> boundary flag -> running sum =
    session id): shuffles once on user, both windows reuse that
    partitioning. Returns per-session rows: (user_id, session_id,
    session_start, session_end, n_events, total_value).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # exact integer microseconds (unix_timestamp would truncate to seconds
    # and mis-classify gaps within 1s of the boundary)
    gap_us = gap_minutes * 60 * 1_000_000
    with_bounds = (
        df.withColumn("_prev_ts", F.lag(ts_col).over(w))
        .withColumn(
            "_new_session",
            (
                F.col("_prev_ts").isNull()
                | (
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                    - F.unix_micros(F.col("_prev_ts").cast("timestamp"))
                    > gap_us
                )
            ).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        with_bounds.groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
    )


def sessionize_sharded(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
    shard_hours: int = 24,
) -> DataFrame:
    """Gap sessionization value-identical to :func:`sessionize`, but
    hot-entity-proof: the per-user event window runs per (user, TIME
    SHARD), then shard-local sessions are stitched across shard edges.

    Why: ``sessionize``'s window partitions on the user alone, so an
    order-dependent scan of a pathological hot entity (bot account,
    system user) serializes ALL its rows onto one task — the one skew
    class AQE does not cover (it splits join partitions, not window
    partitions) and salting cannot fix (it breaks order semantics). The
    r8 straggler rehearsal measured a 1.26x slope at 50%-hot/10x; at
    100 TB a 1%-hot entity is billions of rows on one core — hours.
    Sharding by ``floor(epoch / shard_hours)`` bounds any task at (hot
    entity's events per shard) while keeping per-shard order exact.

    Stitching is exact, not approximate: within a shard, consecutive
    sessions are separated by > gap by construction, and shards
    partition time, so ordering a user's shard-local sessions by start
    time reproduces the global event order; two adjacent sessions merge
    iff next.start - prev.end <= gap — precisely the single-pass rule.
    The stitch pass is a window over the user again, but on the BOUNDED
    session-summary frame (<= true sessions + shards the user spans),
    never the raw events.

    Aggregates survive the merge exactly: counts add, and total_value
    is carried as the DECIMAL(18,2) partial between the two phases so
    the final double equals :func:`sessionize`'s single-phase decimal
    sum bit-for-bit (same integer, one division).

    Cost: one shuffle on (user, shard) for the local pass (the groupBy
    reuses its partitioning), one small shuffle on user for the stitch.
    Shard boundaries are epoch arithmetic — timezone-independent.
    Returns (user_id, session_id, session_start, session_end, n_events,
    total_value), identical to :func:`sessionize`.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    shard_us = shard_hours * 3_600 * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col, "_shard").orderBy(ts_col)
    local = (
        df.withColumn("_us", us)
        .withColumn("_shard", F.floor(F.col("_us") / shard_us))
        .withColumn("_prev", F.lag("_us").over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (F.col("_us") - F.col("_prev") > gap_us)
            ).cast("int"),
        )
        .withColumn(
            "_ls",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(user_col, "_shard", "_ls")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.min("_us").alias("_start_us"),
            F.max("_us").alias("_end_us"),
            F.count("*").alias("_n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_v"),
        )
    )
    w2 = Window.partitionBy(user_col).orderBy("_start_us")
    return (
        local.withColumn("_prev_end", F.lag("_end_us").over(w2))
        .withColumn(
            "_merge_new",
            (
                F.col("_prev_end").isNull()
                | (F.col("_start_us") - F.col("_prev_end") > gap_us)
            ).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("_merge_new").over(
                w2.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(user_col, "session_id")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("_n").cast("long").alias("n_events"),
            F.sum("_v").cast("double").alias("total_value"),
        )
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    keys: list[str] | None = None,
    bucket: str = "1 hour",
) -> DataFrame:
    """Point-in-interval join at scale: each point row matched to the
    interval rows with ``start_ts <= point_ts <= end_ts`` (and equal
    ``keys``, if given).

    The naive formulation is a range-predicate join, which Spark executes
    as a (broadcast) nested loop — O(|points| x |intervals|) and a
    guaranteed cliff. This rewrites it as an equi-join: intervals explode
    to the fixed-width time buckets they overlap (``sequence`` over
    truncated epochs — JVM-side, no UDF), points map to their single
    bucket, the join runs hash-partitioned on (keys..., bucket), and the
    exact range predicate filters the in-bucket candidates. Cost is
    |points| + sum(interval spans / bucket) shuffled rows; pick ``bucket``
    near the typical interval length so each interval explodes to O(1)
    buckets. No dedup pass is needed: a point lives in exactly one bucket,
    so each qualifying (point, interval) pair is produced exactly once.
    """
    keys = keys or []
    secs = F.lit(_bucket_seconds(bucket))
    p = points.withColumn(
        "_bk", F.floor(F.unix_timestamp(F.col(point_ts)) / secs)
    )
    iv = intervals.withColumn(
        "_bk",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_ts)) / secs),
                F.floor(F.unix_timestamp(F.col(end_ts)) / secs),
            )
        ),
    )
    joined = p.join(iv, [*keys, "_bk"]).filter(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
    )
    return joined.drop("_bk")


def _bucket_seconds(bucket: str) -> int:
    n, unit = bucket.split()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        unit.rstrip("s")
    ]
    return int(n) * mult


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention cohorts: users are grouped by the ISO week of
    their first activity; each cohort's distinct active users are counted
    at every subsequent week offset — the classic cohort-retention matrix
    in long form.

    One pass: the distinct (user, week) frame carries its cohort week
    as a MIN window over the user partition, then one count-distinct
    shuffle on (cohort, offset). The
    week offset is exact integer arithmetic on Monday-truncated dates, so
    the result hash-matches any engine with ISO date_trunc. NULL users
    are dropped before the window, as the old inner join (and the
    oracle's) dropped them.
    Returns (cohort_week, week_offset, n_users).
    """
    weeks = events.filter(F.col(user_col).isNotNull()).select(
        F.col(user_col),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("week"),
    ).distinct()
    # cohort week = MIN window over the user partition (r13 walk
    # census: the old min-aggregate joined back onto `weeks` executed
    # the distinct pass twice; the window is one walk and one user-key
    # exchange — guide §2.4). Same value per (user, week) row.
    cohort_week = F.min("week").over(Window.partitionBy(user_col))
    return (
        weeks.select(
            cohort_week.alias("cohort_week"),
            (F.datediff(F.col("week"), cohort_week) / 7)
            .cast("long")
            .alias("week_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    keys: list[str] | None = None,
    bucket: str = "1 hour",
    extra_condition: Column | None = None,
) -> DataFrame:
    """Interval-interval overlap join at scale: every (left, right) row
    pair whose time ranges intersect (``l.start <= r.end AND r.start <=
    l.end``, plus equal ``keys`` and any ``extra_condition``).

    Same bucketing rewrite as :func:`interval_join`, with the
    interval-interval twist: BOTH sides explode to their covering
    buckets, so an overlapping pair can share several buckets. Instead
    of a global dropDuplicates, each pair is emitted only from the
    FIRST bucket both rows share — the bucket containing
    ``greatest(l.start, r.start)``, i.e. the overlap's start — which is
    computable row-locally inside the join. Cost stays
    sum(spans/bucket) shuffled rows per side and the join is a pure
    hash join; the naive range formulation nested-loops.
    Returns left columns + right columns (caller aliases beforehand).
    """
    keys = keys or []
    secs = F.lit(_bucket_seconds(bucket))

    def exploded(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "_bk",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(s)) / secs),
                    F.floor(F.unix_timestamp(F.col(e)) / secs),
                )
            ),
        )

    l = exploded(left, left_start, left_end)
    r = exploded(right, right_start, right_end)
    overlap_start_bucket = F.floor(
        F.unix_timestamp(F.greatest(F.col(left_start), F.col(right_start))) / secs
    )
    cond = (
        (F.col(left_start) <= F.col(right_end))
        & (F.col(right_start) <= F.col(left_end))
        & (F.col("_bk") == overlap_start_bucket)
    )
    if extra_condition is not None:
        cond = cond & extra_condition
    return l.join(r, [*keys, "_bk"]).filter(cond).drop("_bk")


def cumulative_distinct_users(
    df: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily cumulative distinct-user counts per event type ("users to
    date" growth curves).

    The naive form — COUNT(DISTINCT user) OVER (ORDER BY day) — holds
    every user id in window state and reprocesses the full id set per
    day; it does not scale and Spark (rightly) refuses DISTINCT in
    windows. The scalable rewrite: a user contributes to the running
    count exactly once, at their FIRST day — so aggregate min(day) per
    (type, user) (one shuffle, map-combined), count first-appearances
    per day, and running-sum those per-day counts over the bounded
    (type, day) grid. Days with activity but no new users appear with
    new_users=0.

    The two events walks are DELIBERATE (r13 walk census follow-up): a
    one-walk rewrite tagging each user's first row with row_number over
    the (type, user) partition was tried and REVERTED — it replaces the
    map-combined min aggregate (which shuffles ~one row per (type,
    user) per map partition) with a full-row shuffle + sort of every
    event (guide §2.3 "aggregate before you shuffle"), and measured
    2.0x slower isolated at sf0.1 (0.72 -> 1.46 s best-of-reps). The
    second walk is a column-pruned scan; the extra shuffled bytes at
    100 TB cost far more than it saves.
    Returns (event_type, day, new_users, cum_users).
    """
    day = F.to_date(F.col(ts_col))
    days = df.select(F.col(type_col), day.alias("day")).distinct()
    firsts = (
        df.select(F.col(type_col), F.col(user_col), day.alias("day"))
        .groupBy(type_col, user_col)
        .agg(F.min("day").alias("first_day"))
        .groupBy(type_col, F.col("first_day").alias("day"))
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = (
        Window.partitionBy(type_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        days.join(firsts, [type_col, "day"], "left")
        .withColumn("new_users", F.coalesce(F.col("new_users"), F.lit(0)).cast("long"))
        .withColumn("cum_users", F.sum("new_users").over(w).cast("long"))
    )


def nearest_event_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    left_id_col: str = "event_id",
) -> DataFrame:
    """NEAREST-neighbor as-of join: for each left event, the closest
    right event timestamp for the same key in EITHER direction (the
    sensor-fusion/attribution variant of the backward-only as-of join in
    operators.timeseries.asof_join).

    Same union trick as the as-of join, run both ways in ONE pass: union
    tagged left/right rows, sort per key, take the running
    last-non-null right ts (nearest before) and the reversed-frame
    first-non-null (nearest after), pick the closer (ties -> earlier).
    One shuffle on the key; never a range nested-loop (the theta-join
    form materializes |L|x|R| pairs per key). The right side is
    deduped to distinct (key, ts) so window order is total and the
    result deterministic.
    Returns left keys + (left_id, ts as left_ts, nearest_ts,
    diff_us >= 0 or NULL when the key has no right rows).
    """
    lt = left.select(
        F.col(key_col), F.col(left_id_col).alias("_lid"), F.col(ts_col).alias("_lts"),
        F.lit(None).cast("timestamp").alias("_rts"),
    )
    # null _lid on the right side mirrors the LEFT's id type (string/int
    # event ids included) instead of pinning long
    lid_type = left.schema[left_id_col].dataType.simpleString()
    rt = right.select(F.col(key_col), F.col(ts_col).alias("_rts")).distinct().select(
        F.col(key_col), F.lit(None).cast(lid_type).alias("_lid"),
        F.lit(None).cast("timestamp").alias("_lts"), F.col("_rts"),
    )
    both = lt.unionByName(rt)
    # right rows sort before left rows at the same instant (_is_l), so a
    # same-timestamp right event is visible as "before" with diff 0
    order = [F.col("_ts_sort"), F.col("_is_l"), F.col("_rts")]
    staged = both.withColumn(
        "_ts_sort", F.coalesce(F.col("_lts"), F.col("_rts"))
    ).withColumn("_is_l", F.col("_lid").isNotNull().cast("int"))
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    scored = (
        staged.withColumn("_prev", F.last("_rts", ignorenulls=True).over(w_prev))
        .withColumn("_next", F.first("_rts", ignorenulls=True).over(w_next))
        .filter(F.col("_lid").isNotNull())
    )
    d_prev = F.unix_micros(F.col("_lts")) - F.unix_micros(F.col("_prev"))
    d_next = F.unix_micros(F.col("_next")) - F.unix_micros(F.col("_lts"))
    pick_prev = F.col("_next").isNull() | (
        F.col("_prev").isNotNull() & (d_prev <= d_next)
    )
    return scored.select(
        F.col(key_col),
        F.col("_lid").alias("left_id"),
        F.col("_lts").alias("left_ts"),
        F.when(pick_prev, F.col("_prev")).otherwise(F.col("_next")).alias("nearest_ts"),
        F.when(pick_prev, d_prev).otherwise(d_next).alias("diff_us"),
    )


def transition_matrix(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event streams:
    P(next event type | current type), estimated from every consecutive
    pair within a key's time-ordered sequence — the behavioral-model
    summary behind funnel diagnostics and anomaly scoring.

    One window pass (lead over the per-key shuffle, (ts, id) total
    order so equal timestamps stay deterministic), then a two-level
    count: per (from, to) and per from — the denominator aggregates the
    already-tiny transition counts, not the events.
    Returns (from_type, to_type, n, p) for observed transitions.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(F.col(key_col), F.col(ts_col), F.col(id_col), F.col(type_col))
        .withColumn("_next", F.lead(type_col).over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(F.col(type_col).alias("from_type"), F.col("_next").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .withColumn("p", F.round(F.col("n") / F.col("_tot").cast("double"), round_digits))
        .select("from_type", "to_type", F.col("n").cast("long").alias("n"), "p")
    )


def conversion_latency(
    df: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user conversion latency: seconds from the user's FIRST
    ``from_type`` event to their first ``to_type`` event at-or-after it.

    One map-combined aggregate gets each user's first ``from`` timestamp;
    the first qualifying ``to`` event is a conditional ``min`` in the
    SAME aggregate pass — no join, no window, one shuffle on the user
    key. Users who never convert surface latency NULL (kept, not
    dropped: the non-converting population is the denominator every
    funnel metric needs).
    Returns (key, first_from_ts, first_to_ts, latency_sec).
    """
    first_from = F.min(F.when(F.col(type_col) == from_type, F.col(ts_col)))
    agg = (
        df.filter(F.col(type_col).isin([from_type, to_type]))
        .groupBy(key_col)
        .agg(
            first_from.alias("first_from_ts"),
            # collect the candidate to-events; the qualifying min needs
            # first_from first, so it is a second conditional min over the
            # same grouped rows via a self-contained expression below
            F.min(F.when(F.col(type_col) == to_type, F.col(ts_col))).alias(
                "_first_to_any"
            ),
            F.sort_array(
                F.collect_list(
                    F.when(F.col(type_col) == to_type, F.col(ts_col))
                )
            ).alias("_to_list"),
        )
    )
    # earliest to-event >= first_from: the to-list is sorted, filter+head.
    # Bounded state: per-user event counts, the same bound sessionize
    # carries; at 100 TB swap collect_list for a two-pass aggregate if a
    # single user can hold millions of events.
    # try_element_at, not element_at: a user with zero qualifying
    # to-events has an EMPTY filtered list, which ANSI mode (Spark 4
    # default) turns into an out-of-bounds error instead of NULL
    first_to = F.try_element_at(
        F.filter(
            F.col("_to_list"),
            lambda t: t >= F.col("first_from_ts"),
        ),
        F.lit(1),
    )
    return (
        agg.filter(F.col("first_from_ts").isNotNull())
        .select(
            F.col(key_col),
            "first_from_ts",
            first_to.alias("first_to_ts"),
            (
                (F.unix_micros(first_to) - F.unix_micros("first_from_ts"))
                / F.lit(1000000.0)
            ).alias("latency_sec"),
        )
    )


def rfm_scores(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
    monetary_type: str = "purchase",
    n_quantiles: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) user scoring — the classic
    segmentation: days since last activity, total events, and exact
    DECIMAL-summed spend on ``monetary_type`` events, each bucketed into
    ``n_quantiles`` quintiles.

    One aggregate per user (single shuffle), then three range-partitioned
    exact ntiles via analytics.global_ntile — NEVER a single global
    window partition (the ntile over "all users" is the one-task
    scale-killer shape). Recency anchors to the corpus max timestamp so
    the score is reproducible from the lake alone. Tie order inside each
    ntile is pinned by the user key for engine-independent buckets.
    Returns (key, recency_days, frequency, monetary, r_score, f_score,
    m_score).
    """
    # ONE walk of the event stream: the corpus-max anchor is the max of
    # the per-user maxes, so it derives from the (tiny, |users|-row)
    # per-user aggregate instead of a second full scan (r12 opt
    # session-3 walk census: e11 read events twice). The lazy
    # localCheckpoint lets the anchor aggregate and the downstream
    # ntile chain share the materialized per-user frame.
    per_user_raw = (
        df.groupBy(key_col)
        .agg(
            F.max(ts_col).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.when(
                    F.col(type_col) == monetary_type, F.col(value_col)
                ).cast("decimal(18,2)")
            ).alias("_mon"),
        )
        .localCheckpoint(eager=False)
    )
    anchor = per_user_raw.agg(F.max("_last").alias("_mx"))
    per_user = (
        per_user_raw.crossJoin(F.broadcast(anchor))
        .select(
            F.col(key_col),
            F.datediff(F.to_date("_mx"), F.to_date("_last"))
            .cast("long")
            .alias("recency_days"),
            F.col("frequency"),
            F.coalesce(F.col("_mon"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    # lower recency is BETTER: rank ascending so bucket 1 = most recent
    scored = global_ntile(
        per_user, [F.col("recency_days"), F.col(key_col)], n_quantiles,
        out_col="r_score",
    )
    scored = global_ntile(
        scored, [F.desc("frequency"), F.col(key_col)], n_quantiles,
        out_col="f_score",
    )
    return global_ntile(
        scored, [F.desc("monetary"), F.col(key_col)], n_quantiles,
        out_col="m_score",
    )


def burst_detection(
    df: DataFrame,
    window_duration: str = "1 minute",
    burst_threshold: int = 5,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user activity-burst summary: bucket events into tumbling
    windows, find each user's maximum per-window event count, and flag
    users whose peak exceeds ``burst_threshold`` (the bot/abuse
    heuristic every event pipeline ships).

    Two map-combined aggregates back to back — (user, window) counts,
    then the per-user max — both shuffling on the user key (the second
    groupBy is a prefix of the first's keys, so AQE coalesces without a
    second full exchange). No windows, no joins.
    Returns (key, total_events, peak_per_window, n_windows, is_burst).
    """
    win = F.window(F.col(ts_col), window_duration)
    per_window = df.groupBy(F.col(key_col), win.alias("_w")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        per_window.groupBy(key_col)
        .agg(
            F.sum("_n").cast("long").alias("total_events"),
            F.max("_n").cast("long").alias("peak_per_window"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .withColumn(
            "is_burst", (F.col("peak_per_window") >= burst_threshold).cast("boolean")
        )
    )


def interval_coverage(
    df: DataFrame,
    duration_minutes: int = 10,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key UNION-of-intervals length: each event covers
    ``[ts, ts + duration)``; overlapping covers merge, and the result is
    the total covered seconds per key (activity-coverage / uptime
    semantics — double-counting overlaps is the classic naive bug).

    The sweep-line as windows: order each key's intervals by start, flag
    a new island when this start exceeds the running max of all PREVIOUS
    ends, number islands with a running sum, then sum each island's
    ``max(end) - min(start)``. Three window passes + one aggregate, ALL
    on the same key partitioning — one shuffle total, never an
    interval self-join. Tie order is pinned by (ts, id) so island
    numbering is deterministic; the coverage total is order-invariant
    anyway.
    Returns (key, n_events, n_islands, covered_sec).
    """
    dur_us = duration_minutes * 60 * 1_000_000
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    staged = (
        df.select(
            F.col(key_col),
            F.col(id_col),
            F.col(ts_col),
            F.unix_micros(F.col(ts_col)).alias("_s"),
            (F.unix_micros(F.col(ts_col)) + dur_us).alias("_e"),
        )
        .withColumn(
            "_prev_max_e",
            F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "_new",
            (
                F.col("_prev_max_e").isNull()
                | (F.col("_s") > F.col("_prev_max_e"))
            ).cast("int"),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    islands = staged.groupBy(key_col, "_island").agg(
        F.count(F.lit(1)).alias("_n"),
        ((F.max("_e") - F.min("_s")) / F.lit(1000000.0)).alias("_covered"),
    )
    return islands.groupBy(key_col).agg(
        F.sum("_n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        # island lengths are exact integer micros / 1e6 — summing the
        # per-island doubles is order-dependent only below the 1e-6
        # granularity the integers guarantee, so fixed-point to be exact
        (F.sum(F.round(F.col("_covered") * 1e6).cast("long")) / 1e6).alias(
            "covered_sec"
        ),
    )


def bounce_rate(
    df: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user session bounce rate: fraction of the user's sessions
    (gap-based, same rule as :func:`sessionize`) containing exactly one
    event — the engagement metric every analytics suite ships.

    Builds on sessionize's per-session rows; one extra map-combined
    aggregate on the user key (the session frame is already partitioned
    by it, so AQE skips the second exchange). The rate is an exact
    integer ratio.
    Returns (key, n_sessions, n_bounces, bounce_rate).
    """
    sessions = sessionize(df, ts_col=ts_col, user_col=key_col, gap_minutes=gap_minutes)
    return sessions.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        (
            F.sum((F.col("n_events") == 1).cast("long"))
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
    )


def sliding_active_users(
    df: DataFrame,
    window_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """EXACT trailing-N-day distinct active users per activity day — the
    sliding COUNT(DISTINCT) no engine supports as a window function
    (distinct doesn't decompose over sliding frames).

    The first-appearance rewrite generalized to sliding windows: each
    distinct (user, active_day) contributes to the windows ending on
    ``active_day .. active_day + N-1``, so explode those N end-days,
    de-duplicate (user, end_day), and count per end_day — three
    hash shuffles, all map-combined, each carrying at most N x the
    distinct (user, day) rows. End-days with no activity of their own
    are dropped (the report convention: one row per observed day).
    Returns (day, active_users) — at N=1 this is daily actives.
    """
    days = df.select(
        F.col(key_col), F.to_date(F.col(ts_col)).alias("_d")
    ).distinct()
    ends = days.select(
        F.col(key_col),
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), window_days - 1))
        ).alias("day"),
    ).distinct()
    observed = days.select(F.col("_d").alias("day")).distinct()
    return (
        ends.join(observed, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct(key_col).alias("active_users"))
    )


def top_session_paths(
    df: DataFrame,
    k: int = 20,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_len: int = 10,
) -> DataFrame:
    """Most frequent session event-type paths (the path-mining staple:
    which journeys actually happen): sessionize by the gap rule, render
    each session's first ``max_len`` event types as an ordered '>'-path,
    count paths, TakeOrdered top-k.

    The path build is one sorted collect per (user, session) — bounded
    by the session's event count (the same bound sessionize carries),
    capped at ``max_len`` so a bot session can't build a megabyte path
    string. Tie order inside a session is pinned by (ts, event id).
    Returns (path, n_sessions) ordered (n desc, path).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_us = gap_minutes * 60 * 1_000_000
    staged = (
        df.withColumn("_prev", F.lag(ts_col).over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (
                    F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_prev"))
                    > gap_us
                )
            ).cast("int"),
        )
        .withColumn(
            "_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    paths = staged.groupBy(user_col, "_sid").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(ts_col, id_col, type_col))
                    ),
                    lambda s: s[type_col],
                ),
                1,
                max_len,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.col("path"))
        .limit(k)
    )


def sliding_active_users_hll(
    df: DataFrame,
    window_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lg_config_k: int = 14,
) -> DataFrame:
    """Approximate trailing-N-day distinct actives via MERGEABLE HLL
    sketches — the scale path for :func:`sliding_active_users` when the
    exact rewrite's N x explode of distinct (user, day) rows is itself
    too big (billions of users x long windows): one HLL sketch per day
    (map-combined, fixed bytes per day regardless of user count), then
    the trailing window MERGES N sketches per row — the frame carries
    kilobyte sketches, never user ids.

    Error is the standard HLL ±~0.8% at lg_config_k=14; batch-parity
    with the exact operator is pinned by pytest within that bound.
    Returns (day, active_users_approx).
    """
    daily = (
        df.select(F.to_date(F.col(ts_col)).alias("day"), F.col(key_col))
        .groupBy("day")
        .agg(F.hll_sketch_agg(key_col, F.lit(lg_config_k)).alias("_sk"))
    )
    # the global-order window here is the ALLOWED single-partition shape:
    # its input is post-aggregation (one sketch row per day — bounded by
    # the calendar, a century is ~36k rows), so the exchange moves
    # kilobyte sketches, never the event stream
    # unix_date is a timezone-independent day ordinal; the previous
    # day->timestamp->long cast assumed consecutive days are exactly
    # 86400s apart, which breaks across DST transitions in any non-UTC
    # session timezone
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(
        -(window_days - 1), 0
    )
    return daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("_sk").over(w))
        .cast("long")
        .alias("active_users_approx"),
    )


def interarrival_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key inter-arrival time statistics: gap count, exact mean gap,
    and max gap in seconds — the first cut of any event-cadence /
    heartbeat analysis (bot detection, sensor dropout, SLA monitoring).

    One per-key lag window (single shuffle on the key). Gaps are integer
    microseconds, so the SUM is exact BIGINT arithmetic and the mean
    (sum/1e6/count) is engine-identical without output rounding —
    the integer-accumulation pattern the fixed-point operators use,
    available for free here because timestamps already are integers.
    ``id_col`` breaks equal-timestamp ties for a total order.
    Returns (key, n_gaps, mean_gap_sec, max_gap_sec).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    staged = df.select(F.col(key_col), gap.alias("_gap")).filter(
        F.col("_gap").isNotNull()
    )
    return staged.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        (F.sum("_gap") / 1e6 / F.count(F.lit(1))).alias("mean_gap_sec"),
        (F.max("_gap") / 1e6).alias("max_gap_sec"),
    )


def hourly_profile(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Seasonality profile: event count and exact distinct actors per
    (ISO weekday, hour-of-day) cell — the 7x24 heatmap behind load
    forecasting and anomaly baselines.

    One groupBy on a 168-value composite key; count-distinct adds its
    usual expand, bounded by the tiny cell count. Map-side combine does
    the heavy lifting; output is constant-size regardless of input.
    Returns (day_of_week 1=Mon..7=Sun, hour, n_events, n_users).
    """
    return (
        df.select(
            # dayofweek is 1=Sunday; shift to ISO 1=Monday
            (((F.dayofweek(ts_col) + 5) % 7) + 1).cast("long").alias("day_of_week"),
            F.hour(ts_col).cast("long").alias("hour"),
            F.col(key_col),
        )
        .groupBy("day_of_week", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct(key_col).cast("long").alias("n_users"),
        )
    )


def event_type_pairs(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Co-occurrence counts of event-type pairs within the same key:
    for every unordered pair (a < b) of DISTINCT types a key produced,
    count the keys exhibiting both — the market-basket / feature
    co-occurrence primitive.

    The pair explosion is bounded by the TYPE VOCABULARY, not the event
    volume: distinct (key, type) first (collapses billions of events to
    keys x |types| rows), then a self-join on the key emits at most
    C(|types|, 2) rows per key. With |types| in the tens this is a
    constant fan-out; an unbounded-vocabulary variant would need the
    dedup family's hot-bucket caps instead.
    Returns (type_a, type_b, n_keys).
    """
    kt = df.select(F.col(key_col).alias("_k"), F.col(type_col).alias("_t")).distinct()
    a = kt.select("_k", F.col("_t").alias("type_a"))
    b = kt.select("_k", F.col("_t").alias("type_b"))
    return (
        a.join(b, "_k")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )


def stickiness(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Monthly engagement stickiness: mean DAU / MAU per calendar month
    (the fraction of a month's actives who show up on an average day).

    Two exact count-distinct aggregations sharing one (month, day)
    pre-distinct pass; both are key-partitioned shuffles. DAU averaging
    uses exact integer sums (count of distinct (day, user) rows /
    distinct days), so the ratio is engine-identical.
    Returns (month 'yyyy-MM', n_days, mau, avg_dau, stickiness).
    """
    du = df.select(
        F.date_format(ts_col, "yyyy-MM").alias("month"),
        F.to_date(ts_col).alias("_day"),
        F.col(key_col),
    ).distinct()  # (month, day, user) distinct — one shuffle
    return du.groupBy("month").agg(
        F.countDistinct("_day").cast("long").alias("n_days"),
        F.countDistinct(key_col).cast("long").alias("mau"),
        # total (day,user) pairs / days = average DAU, exact ints
        (F.count(F.lit(1)) / F.countDistinct("_day")).alias("avg_dau"),
        (
            F.count(F.lit(1))
            / F.countDistinct("_day")
            / F.countDistinct(key_col)
        ).alias("stickiness"),
    )


def event_type_lift(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    round_digits: int = 6,
) -> DataFrame:
    """Association lift for unordered event-type pairs: for each pair
    (a < b), lift = P(a and b) / (P(a) * P(b)) over the key universe —
    the market-basket strength measure that separates "co-occurs because
    both are popular" (lift ~ 1) from genuine association (lift >> 1).
    Extends event_type_pairs with the marginals.

    Same scale shape as event_type_pairs: one distinct (key, type) pass
    collapses the event volume, the pair self-join fans out at most
    C(|types|, 2) per key, and the two marginal frames are type-keyed
    (|types| rows) so both joins and the total-count scalar are
    broadcasts — no extra key-partitioned shuffle beyond the pair count.
    Lift arithmetic is per-row IEEE on exact BIGINT counts, rounded.
    Returns (type_a, type_b, n_a, n_b, n_both, lift).
    """
    kt = df.select(F.col(key_col).alias("_k"), F.col(type_col).alias("_t")).distinct()
    total = kt.select(F.countDistinct("_k").cast("long").alias("_n_total"))
    per_type = kt.groupBy("_t").agg(F.count(F.lit(1)).cast("long").alias("_nt"))
    a = kt.select("_k", F.col("_t").alias("type_a"))
    b = kt.select("_k", F.col("_t").alias("type_b"))
    pairs = (
        a.join(b, "_k")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ma = per_type.select(F.col("_t").alias("type_a"), F.col("_nt").alias("n_a"))
    mb = per_type.select(F.col("_t").alias("type_b"), F.col("_nt").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("_n_total")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                round_digits,
            ).alias("lift"),
        )
    )


def retention_survival(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    round_digits: int = 6,
) -> DataFrame:
    """Observed-lifetime survival curve: per key, lifetime = days between
    first and last event; for each observed lifetime value k, report how
    many keys survive at least k days and the survival fraction — the
    Kaplan-Meier-style engagement-decay curve (no censoring model: the
    capture window is fixed, as in an offline training-data snapshot).

    One key-partitioned aggregate (billions of events -> one row per
    key), one lifetime-keyed count, then the reverse cumulative sum runs
    on a single-partition window over the LIFETIME DOMAIN — bounded by
    the calendar span of the capture window (days, not keys), the same
    bounded-domain argument as the monthly-momentum rollup. Counts are
    exact BIGINTs; the rate is one IEEE division per row.
    Returns (lifetime_days, n_keys, surviving, survival_rate).
    """
    per_key = df.groupBy(key_col).agg(
        F.datediff(F.max(F.to_date(ts_col)), F.min(F.to_date(ts_col))).alias(
            "lifetime_days"
        )
    )
    by_lt = per_key.groupBy("lifetime_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys")
    )
    w_rev = (
        Window.orderBy(F.col("lifetime_days").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return by_lt.select(
        "lifetime_days",
        "n_keys",
        F.sum("n_keys").over(w_rev).cast("long").alias("surviving"),
        F.round(
            F.sum("n_keys").over(w_rev).cast("double") / F.sum("n_keys").over(w_all),
            round_digits,
        ).alias("survival_rate"),
    )


def activity_streaks(events: DataFrame) -> DataFrame:
    """Longest consecutive-calendar-day activity streak per user,
    rolled into a (streak length -> user count) histogram — the
    habit-formation / gamification metric. The date-arithmetic islands
    trick: day minus the per-user day rank is constant exactly within a
    consecutive run, so one distinct-day dedup plus one user-key window
    finds every streak without self-joins; all-integer outputs,
    histogram bounded by the longest streak.
    Returns (streak_days, n_users)."""
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    best = runs.groupBy("user_id").agg(F.max("len").alias("best_streak"))
    return best.groupBy(
        F.col("best_streak").cast("long").alias("streak_days")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


def allen_relation_census(
    pairs: DataFrame,
    start_a: str = "start_a",
    end_a: str = "end_a",
    start_b: str = "start_b",
    end_b: str = "end_b",
) -> DataFrame:
    """Allen-style interval-relation census over pre-joined interval
    pairs (equals / contains / during / overlaps / overlapped_by) — the
    temporal-reasoning summary on top of a bucketed overlap join
    (:func:`interval_overlap_join` produces the pairs without the
    naive range self-join). Returns (relation, n_pairs)."""
    relation = (
        F.when(
            (F.col(start_a) == F.col(start_b)) & (F.col(end_a) == F.col(end_b)),
            F.lit("equals"),
        )
        .when(
            (F.col(start_a) <= F.col(start_b)) & (F.col(end_a) >= F.col(end_b)),
            F.lit("contains"),
        )
        .when(
            (F.col(start_a) >= F.col(start_b)) & (F.col(end_a) <= F.col(end_b)),
            F.lit("during"),
        )
        .when(F.col(start_a) < F.col(start_b), F.lit("overlaps"))
        .otherwise(F.lit("overlapped_by"))
    )
    return (
        pairs.select(relation.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
