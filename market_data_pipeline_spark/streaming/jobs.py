"""Structured Streaming over the events table.

The reference is batch-only (SURVEY §2.9: its "daily batch" is a scheduled
whole-job rerun), so these are the §7 Phase-6 extensions: the same logical
windows as ``operators.events`` re-expressed as streams, plus the two
genuinely streaming-only pieces — an ``applyInPandasWithState`` arbitrary
stateful operator and a ``foreachBatch`` incremental upsert sink.

Design rules:

- **Identical aggregation expressions as batch.** ``streaming_tumbling``
  reuses the decimal-accumulated sums of ``operators.events``, so a stream
  run to completion hash-matches the batch (and hence the DuckDB oracle).
  That parity is asserted in tests and exposed as query-surface entries.
- **Watermarks bound state.** Every windowed agg takes a watermark: on an
  unbounded production stream that is what lets Spark drop finalized
  window state instead of holding every window forever. (The run-to-
  completion helpers use ``complete`` output mode, where results do not
  depend on the watermark — late data is still correct there.)
- **availableNow for backfill.** ``run_stream_to_memory`` executes the
  stream with ``Trigger.AvailableNow`` — the production pattern for
  "replay the lake through the streaming topology, then keep tailing".
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from market_data_pipeline_spark.operators.analytics import exact_sum
from market_data_pipeline_spark.sources.catalog import (
    ensure_session_defaults,
    normalize_event_ts,
    read_parquet_cached_schema,
)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the driver's events parquet.

    The file source needs an explicit schema; it is taken from the parquet
    footer via a throwaway batch read (cheap — footer only). ``ts`` is
    normalized by ``normalize_event_ts`` exactly like the batch catalog —
    it handles both driver encodings (TIMESTAMP(NANOS) read as bigint
    under nanosAsLong, and TIMESTAMP_NTZ cast under the UTC session).
    ``max_files_per_trigger`` splits the backfill into multiple
    micro-batches (used by tests to prove cross-batch state).
    """
    ensure_session_defaults(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = read_parquet_cached_schema(spark, path).schema
    # the file source's basePath must be a directory; events.parquet is a
    # single file in the driver layout, so stream the directory with a
    # glob filter selecting only it
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(sf_dir))


def read_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the driver's documents parquet — the
    continuous-ingest entry point for the corpus operators (schema from
    the footer, same single-file glob trick as :func:`read_events_stream`).
    Batch-built operators that are stream-safe (map-only projections,
    stream-static joins like ``dedup.incremental_dedup``) compose onto
    this frame unchanged."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = read_parquet_cached_schema(spark, path).schema
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", "documents.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(sf_dir)


def streaming_tumbling(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming tumbling window: same outputs as the batch
    ``operators.events.tumbling_window`` (window_start, keys..., n_events,
    total_value, min/max) so the two plans are interchangeable."""
    keys = keys or []
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), duration).alias("w"),
            *[F.col(k) for k in keys],
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col(value_col)).alias("total_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *keys,
            "n_events",
            "total_value",
            "min_value",
            "max_value",
        )
    )


def streaming_sliding(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming sliding window, batch-parity with
    ``operators.events.sliding_window``."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration, slide_duration).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col(value_col)).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based session windows via the built-in ``session_window`` —
    the streaming-native form of ``operators.events.sessionize`` (which
    assigns ordinal ids with lag+cumsum; same session boundaries).

    Note ``session_window.end`` is last-event-time + gap by definition, so
    ``session_end`` here is max(ts) per session, emitted separately to
    match the batch operator's schema.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col), F.session_window(F.col(ts_col), gap).alias("w")
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            exact_sum(F.col(value_col)).alias("total_value"),
        )
        .select(
            user_col, "session_start", "session_end", "n_events", "total_value"
        )
    )


def streaming_dedup(
    events: DataFrame,
    id_cols: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication by key with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes its event time, so state is O(keys-per-watermark-
    horizon) instead of O(all keys ever) — the at-least-once-source ->
    exactly-once-rows repair stage of a streaming ingest path.

    Append output mode (row stream, no aggregation), so it composes with a
    downstream batch agg or a foreachBatch upsert sink.
    """
    id_cols = id_cols or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


_INTERVAL = re.compile(
    r"\d+ (?:year|month|week|day|hour|minute|second|millisecond|microsecond)s?",
    re.IGNORECASE,
)


def streaming_view_click_join(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Stream-stream inner join: attribute each click to the views by the
    same user in the preceding ``attribution_window`` — the canonical
    event-attribution shape (ad view→click, impression→conversion).

    Both sides carry watermarks and the join condition carries an explicit
    event-time range, which is what lets Spark BOUND the join state: a
    buffered view can be dropped once the click-side watermark passes
    view_ts + window (without the range the state grows forever). One
    shuffle per side on the user key; matches emit append-mode as they
    arrive. Run to completion over a finite lake, the result equals the
    batch interval self-join — which is the oracle.
    Returns (view_id, click_id, user_id, view_ts, click_ts).
    ``attribution_window`` must read ``<integer> <unit>`` ("30 minutes"):
    it is pasted into SQL text, so anything else raises ``ValueError``.
    """
    if not _INTERVAL.fullmatch(attribution_window):
        raise ValueError(
            f"attribution_window must be '<integer> <unit>', got {attribution_window!r}"
        )
    views = (
        events.filter(F.col(type_col) == "view")
        .select(
            F.col(id_col).alias("view_id"),
            F.col(user_col).alias("user_id"),
            F.col(ts_col).alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col(type_col) == "click")
        .select(
            F.col(id_col).alias("click_id"),
            F.col(user_col).alias("_c_user"),
            F.col(ts_col).alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("_c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}"))
    )
    return views.join(clicks, cond, "inner").select(
        "view_id", "click_id", "user_id", "view_ts", "click_ts"
    )


# --- arbitrary stateful processing -----------------------------------------

USER_STATE_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("events_total", T.LongType()),
        T.StructField("value_total", T.DoubleType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

USER_STATE = T.StructType(
    [
        T.StructField("events_total", T.LongType()),
        T.StructField("value_total", T.DoubleType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def running_user_totals(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Arbitrary stateful operator (``applyInPandasWithState``): per-user
    running event count / value total / last-seen, updated every
    micro-batch.

    This is the shape Spark's built-in windows can't express — unbounded
    per-key running state emitted on every update (device counters,
    per-user quotas, online feature stores). State is a single fixed-width
    row per user, so the state store stays O(|users|) regardless of event
    volume; the watermark lets Spark GC idle keys with event-time timeouts
    in a production variant (NoTimeout here: the driver tables are finite).
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            events_total, value_total, last_us = state.get
        else:
            events_total, value_total, last_us = 0, 0.0, 0
        for pdf in pdfs:
            events_total += len(pdf)
            value_total += float(pdf["value"].sum())
            # normalize to µs regardless of whether pandas materialized
            # datetime64[ns] or datetime64[us]
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            last_us = max(last_us, int(ts_us.max()))
        state.update((events_total, value_total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "events_total": [events_total],
                "value_total": [round(value_total, 2)],
                "last_seen": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .select(F.col(user_col), F.col(ts_col), F.col(value_col))
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATE_OUTPUT,
            stateStructType=USER_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- execution helpers ------------------------------------------------------


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_sec: int = 300,
    state_partitions: int | None = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a streaming frame to completion (Trigger.AvailableNow) into a
    memory sink and return the sink table as a batch DataFrame.

    The backfill pattern: replay everything currently in the lake through
    the streaming topology, then stop. A production deployment keeps the
    same code with a processing-time trigger + durable checkpointLocation.

    ``state_partitions`` sizes the STATE STORE partitioning, which Spark
    locks to ``spark.sql.shuffle.partitions`` at the stream's first batch
    (it lives in the checkpoint forever after). State partitioning must
    be sized to state volume and executor count, not inherited from the
    batch-shuffle setting: every stateful operator commits one store per
    partition per micro-batch, so oversized counts turn into pure
    fixed cost (measured at sf0.1: the 4-store stream-stream join at 32
    partitions 13.5s -> 3.2s at 8). The default 8 is the measured sf0.1
    sweet spot for the test topologies; it is NOT a scale constant —
    the r9 100x rehearsal (SCALE.md §A.1, st10 at 150k state groups on
    a single Arrow-stateful store) measured 63.2s at 8 partitions vs
    21.8s at 32, identical results: once per-store group counts are
    non-trivial the rule's floor is the executor parallelism term
    (``max(executors, ceil(peak_state_rows / ~1M))``), so production
    call sites pass the rule's value, not the default. The conf is set
    for the stream's lifetime and restored afterwards — batch queries
    in the session are unaffected (each batch execution re-reads the
    conf).

    ``checkpoint_dir``: optional DURABLE checkpoint path for deployments
    that need resume-after-crash. Default (None) keeps Spark's implicit
    temp checkpoint (deleted on stop). This was probed in r12: explicit
    scratch checkpoints measured at parity in isolation but the
    benchmark's aged session priced the st-family +30-80% against the
    implicit path (and /dev/shm-backed scratch was ~2x slower than the
    page cache for the multi-store topologies) — both variants were
    reverted; see OPTIMIZATION_r12.md "dead ends".
    """
    spark = stream_df.sparkSession
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        try:
            q.awaitTermination(timeout_sec)
        finally:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", before)
    return stream_df.sparkSession.table(name)


def stream_upsert_to_table(
    stream_df: DataFrame,
    table,
    timeout_sec: int = 300,
    checkpoint_dir: str | None = None,
) -> None:
    """foreachBatch sink: insert-if-absent each micro-batch into a
    ``storage.table.ParquetTable`` — the streaming edition of the
    reference's daily insert-if-absent batch
    (reference: scripts/daily_stock_master_update.py:258-294), with the
    left-anti dedup running per micro-batch instead of per day.

    With ``checkpoint_dir`` the source offsets are durable: a re-run
    processes only files that arrived since the last run (incremental
    ingest), and a crash resumes from the last committed batch. The
    insert-if-absent write keeps the sink idempotent, so
    at-least-once delivery from the checkpoint still yields exactly-once
    table contents.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert_absent(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()


EWMA_STATE = T.StructType(
    [
        T.StructField("num", T.DoubleType()),
        T.StructField("den", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)

EWMA_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def streaming_ewma(
    events: DataFrame,
    alpha: float = 0.2,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "2 hours",
    round_digits: int = 6,
) -> DataFrame:
    """Streaming per-key EWMA (pandas ``adjust=True`` semantics) as an
    ``applyInPandasWithState`` recurrence — the online companion of the
    batch segmented-scan form (operators.timeseries.ewma): the batch
    operator replays history with a closed form; this one carries
    (numerator, denominator) state forward per key:

        num <- x + q*num,  den <- 1 + q*den,  ewma = num/den

    so each micro-batch costs O(batch) with O(|keys|) fixed-width state.
    Rows within a micro-batch are sorted by event time before folding;
    CROSS-batch late rows are a documented limitation shared by every
    sequential-state operator (production: widen the watermark and feed
    from an ordered-per-key source like a keyed Kafka partition).
    Emits the running (key, n_events, ewma) on every update.
    """
    q = 1.0 - alpha

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        num, den, n, last_us = state.get if state.exists else (0.0, 0.0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(ts_col, kind="mergesort")
        for x in batch[value_col].astype(float):
            num = x + q * num
            den = 1.0 + q * den
            n += 1
        ts_us = batch[ts_col].values.astype("datetime64[us]").astype("int64")
        last_us = max(last_us, int(ts_us.max()))
        state.update((num, den, n, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma": [round(num / den, round_digits)],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .select(F.col(key_col), F.col(ts_col), F.col(value_col))
        # NULL values are non-observations: dropped JVM-side BEFORE the
        # stateful fold — pandas would coerce them to NaN and poison the
        # (num, den) recurrence permanently (found by the r7 NULL sweep)
        .filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT,
            stateStructType=EWMA_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


STATS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s_cents", T.LongType()),
        # DECIMAL(38,0), not LONG: the squared-cents sum crosses 2^63 at
        # |value| ~ 9.6e8 over a single row (cents^2), and an int64
        # state wraps silently (r7 extremes sweep). 38 digits hold
        # cents^2 sums for any ledger whose LINEAR sum fits s_cents.
        # COMPATIBILITY (r7 ADVICE #3): this widened ssq from LongType;
        # a streaming_running_stats checkpoint written before the change
        # fails state-schema validation on restart — upgrading a live
        # query requires a NEW checkpoint directory (state reset).
        T.StructField("ssq", T.DecimalType(38, 0)),
    ]
)

STATS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("var_pop", T.DoubleType()),
    ]
)


def streaming_running_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming per-key running mean/variance — the online-feature /
    anomaly-baseline state every monitoring pipeline keeps. State is
    exact integer sums in cents — (n, Σ100x, Σ(100x)²) — merged per
    micro-batch in O(batch); mean and population variance derive from
    the exact sums through ONE fixed double expression tree, so the
    result is bit-identical to any engine evaluating the same formula
    over the same history. (A float Welford state would sit a ULP away
    from the SQL aggregate and flip rounding boundaries: the 2-decimal
    values make means like x.xxx0625 EXACT rounding ties.) Emits
    running (key, n, mean, var_pop) on every update.
    """
    import numpy as np

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        from decimal import Decimal

        n, s_cents, ssq = state.get if state.exists else (0, 0, Decimal(0))
        ssq = int(ssq)
        batch = pd.concat(list(pdfs), ignore_index=True)
        x = batch[value_col].to_numpy(dtype=np.float64)
        if len(x):
            cents = np.round(x * 100).astype(np.int64)
            n += len(cents)
            s_cents += int(cents.sum())
            # np.int64 * np.int64 wraps silently past 2^63 (|value|
            # ~9.6e8 suffices — r7 extremes sweep). Fast path: when the
            # provable bound len * max^2 fits int64, the vectorized
            # square-sum is exact; else exact Python-int squares.
            m = int(np.abs(cents).max()) if len(cents) else 0
            if m == 0 or len(cents) * m * m < 2**63:
                ssq += int(np.dot(cents, cents))
            else:
                ssq += sum(int(c) * int(c) for c in cents.tolist())
        state.update((n, s_cents, Decimal(ssq)))
        s = s_cents / 100.0
        # float(ssq) FIRST, then divide: SQL engines cast the exact
        # integer to double and divide in two rounding steps; Python's
        # int/float division is correctly rounded in ONE step and sits
        # a ULP off once ssq > 2^53 (r7 extremes sweep)
        var = (float(ssq) / 10000.0 - s * s / n) / n if n else None
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "mean_value": [s / n if n else None],
                "var_pop": [var],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .select(F.col(key_col), F.col(ts_col), F.col(value_col))
        # NULL values are non-observations: dropped JVM-side BEFORE the
        # stateful fold — pandas coerces them to NaN and
        # round(NaN*100).astype(int64) is garbage cents that corrupt the
        # exact sums forever (found by the r7 NULL sweep)
        .filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=STATS_OUTPUT,
            stateStructType=STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_burst_counts(
    events: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming per-(user, tumbling-window) event counts — the stateful
    half of burst/bot detection (operators.events.burst_detection) run
    through Structured Streaming: watermarked window aggregation, one
    state store keyed on (user, window). The per-user peak/flag summary
    is a stateless batch reduction over the completed sink (same split
    a production job uses: the stream maintains the fine-grained counts,
    the alerting query reads them)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col), F.window(F.col(ts_col), window_duration).alias("w")
        )
        .agg(F.count("*").alias("n"))
    )


def streaming_distinct_users(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Hourly DISTINCT actives through Structured Streaming — the
    aggregation streaming famously cannot do directly (COUNT(DISTINCT)
    is unsupported on streams) expressed as CHAINED stateful operators:
    a streaming (window, user) dedup-aggregation followed by a streaming
    count over its appended output. Spark 3.4+ supports multiple
    stateful operators in one query when every stage is
    watermark-append; both stages here share the event-time watermark.

    State is bounded by the watermark horizon x distinct (window, user)
    pairs — the same state the batch distinct pass would shuffle, aged
    out as windows close. Returns (window_start, n_users).
    """
    w = F.window(F.col(ts_col), duration)
    dedup = (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), F.col(key_col))
        .agg(F.count("*").alias("_n"))  # per-(window, user) marker row
    )
    return (
        dedup.groupBy("w")
        .agg(F.count("*").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )


def streaming_ingest_pipeline(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """The full streaming INGEST CHAIN as one query — the streaming-side
    analog of the batch corpus pipeline (plans.pipelines.prepare_corpus):

      at-least-once source -> quality floor -> exactly-once repair
      (dedup) -> watermarked windowed aggregate sink

    Chained in ONE streaming plan (r10 verdict #4: the 13 topologies
    existed solo; this is the composition proof). Stage semantics:

    - **quality floor** (map-only, stateless): rows must carry an
      idempotency key (``event_id`` — the dedup stage keys on it, and a
      NULL key would alias unrelated rows into one state slot), a
      user/type, and a non-negative value; ``error``-type events are
      routed out of the analytics path.
    - **dedup-lite**: ``dropDuplicatesWithinWatermark`` on the
      idempotency key — state is bounded by keys-per-watermark-horizon,
      the at-least-once -> exactly-once repair stage (same operator as
      :func:`streaming_dedup`).
    - **windowed sink**: tumbling per-type count + decimal-exact value
      sum (the :func:`streaming_tumbling` aggregate shape).

    Both stateful stages share the event-time watermark (the Spark 3.4+
    multiple-stateful-operator contract, same as
    :func:`streaming_distinct_users`), so the query is append-mode:
    only watermark-closed windows emit, and the batch oracle replays
    the exact emission rule (windows ending <= max(clean ts) - horizon).

    100 TB posture: every stage is either stateless or watermark-
    bounded state; state volume is O(keys per horizon) + O(open
    windows x types), independent of stream length — the §A.1 state
    partitioning rule applies unchanged.
    """
    clean = events.filter(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("event_type") != "error")
    )
    deduped = clean.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.groupBy(
            F.window(F.col(ts_col), duration).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
