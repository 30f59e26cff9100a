"""Structured Streaming jobs: batch parity of windowed aggs, session
windows, cross-micro-batch arbitrary state, foreachBatch upsert sink."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import events as EV
from market_data_pipeline_spark.storage.table import ParquetTable
from market_data_pipeline_spark.streaming import jobs as SJ

TS = dt.datetime


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """A small event lake written as MULTIPLE parquet files so
    maxFilesPerTrigger can split the backfill into several micro-batches."""
    base = tmp_path_factory.mktemp("events_stream")
    rows1 = [
        (0, TS(2024, 1, 1, 0, 5), 1, "click", 10.0),
        (1, TS(2024, 1, 1, 0, 20), 1, "view", 5.0),
        (2, TS(2024, 1, 1, 0, 50), 2, "click", 2.0),
    ]
    rows2 = [
        (3, TS(2024, 1, 1, 1, 10), 1, "click", 7.0),   # >30min gap: new session for user 1
        (4, TS(2024, 1, 1, 1, 15), 2, "error", 1.0),
        (5, TS(2024, 1, 1, 2, 40), 2, "view", 4.0),
    ]
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    spark.createDataFrame(rows1, cols).coalesce(1).write.parquet(
        str(base / "part1"), mode="overwrite"
    )
    spark.createDataFrame(rows2, cols).coalesce(1).write.parquet(
        str(base / "part2"), mode="overwrite"
    )
    # flatten: the file source reads a directory of parquet files
    import shutil

    out = base / "lake"
    out.mkdir()
    i = 0
    for sub in ["part1", "part2"]:
        for f in sorted((base / sub).glob("*.parquet")):
            shutil.copy(f, out / f"{i:02d}.parquet")
            i += 1
    return str(out)


def _read_stream(spark, event_dir, max_files=None):
    schema = spark.read.parquet(event_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(event_dir)


def test_streaming_tumbling_matches_batch(spark, event_dir):
    stream = SJ.streaming_tumbling(_read_stream(spark, event_dir), "1 hour")
    got = SJ.run_stream_to_memory(stream, "t_tumble")
    batch = EV.tumbling_window(spark.read.parquet(event_dir), duration="hour")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_sliding_matches_batch(spark, event_dir):
    stream = SJ.streaming_sliding(_read_stream(spark, event_dir))
    got = SJ.run_stream_to_memory(stream, "t_slide")
    batch = EV.sliding_window(spark.read.parquet(event_dir))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_sessionize_matches_batch(spark, event_dir):
    stream = SJ.streaming_sessionize(_read_stream(spark, event_dir), gap="30 minutes")
    got = SJ.run_stream_to_memory(stream, "t_sess")
    batch = EV.sessionize(spark.read.parquet(event_dir), gap_minutes=30)
    got_rows = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in got.collect()
    )
    batch_rows = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in batch.collect()
    )
    assert got_rows == batch_rows
    # user 1: sessions {0:05,0:20} and {1:10}; user 2: {0:50,1:15} and {2:40}
    assert len(got_rows) == 4



def test_view_click_join_rejects_non_interval_window(spark):
    """attribution_window is pasted into SQL text: a value that is not
    '<integer> <unit>' raises instead of widening the join window."""
    events = spark.createDataFrame(
        [(0, TS(2024, 1, 1, 0, 0), 1, "view"), (1, TS(2024, 1, 3, 0, 0), 1, "click")],
        ["event_id", "ts", "user_id", "event_type"],
    )
    assert SJ.streaming_view_click_join(events, "30 minutes").count() == 0
    with pytest.raises(ValueError, match="attribution_window"):
        SJ.streaming_view_click_join(events, "30 minutes + INTERVAL 100 days")


def test_running_user_totals_across_micro_batches(spark, event_dir):
    # one file per trigger -> 2 micro-batches; state must carry across
    stream = SJ.running_user_totals(_read_stream(spark, event_dir, max_files=1))
    out = SJ.run_stream_to_memory(stream, "t_state", output_mode="update")
    # update mode appends one row per (user, batch); the final state is the
    # row with the max events_total per user
    final = {
        r.user_id: (r.events_total, r.value_total)
        for r in out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("events_total"))
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert final[1] == (3, 22.0)
    assert final[2] == (3, 7.0)
    # state actually spanned micro-batches: some user emitted twice
    per_user_rows = out.groupBy("user_id").count().collect()
    assert any(r["count"] > 1 for r in per_user_rows)


def test_stream_upsert_sink(spark, event_dir, tmp_path):
    table = ParquetTable(spark, str(tmp_path / "events_tbl"), key=["event_id"])
    stream = _read_stream(spark, event_dir, max_files=1)
    SJ.stream_upsert_to_table(stream, table)
    assert table.read_current().count() == 6
    # re-running the same backfill inserts nothing new (idempotent)
    SJ.stream_upsert_to_table(_read_stream(spark, event_dir), table)
    assert table.read_current().count() == 6


def test_checkpointed_upsert_is_incremental(spark, event_dir, tmp_path):
    """Durable offsets: re-running the same checkpointed stream after new
    files land processes ONLY the new files (and stays idempotent)."""
    import shutil

    lake = tmp_path / "lake2"
    lake.mkdir()
    files = sorted(__import__("pathlib").Path(event_dir).glob("*.parquet"))
    shutil.copy(files[0], lake / files[0].name)

    table = ParquetTable(spark, str(tmp_path / "tbl"), key=["event_id"])
    ckpt = str(tmp_path / "ckpt")

    SJ.stream_upsert_to_table(_read_stream(spark, str(lake)), table, checkpoint_dir=ckpt)
    assert table.read_current().count() == 3  # first file only

    seen_batches = table.read_current().count()
    # a new file lands; same checkpoint -> only it is processed
    shutil.copy(files[1], lake / files[1].name)
    SJ.stream_upsert_to_table(_read_stream(spark, str(lake)), table, checkpoint_dir=ckpt)
    assert table.read_current().count() == 6

    # third run with nothing new: no-op
    SJ.stream_upsert_to_table(_read_stream(spark, str(lake)), table, checkpoint_dir=ckpt)
    assert table.read_current().count() == 6
    assert seen_batches == 3


def test_streaming_dedup_across_micro_batches(spark, event_dir):
    # union the stream with itself -> every event_id arrives (at least)
    # twice, split across micro-batches; the dedup must still emit each
    # exactly once
    doubled = _read_stream(spark, event_dir, max_files=1).unionByName(
        _read_stream(spark, event_dir, max_files=1)
    )
    deduped = SJ.streaming_dedup(doubled, id_cols=["event_id"])
    got = SJ.run_stream_to_memory(
        deduped.select("event_id", "user_id", "value"),
        "t_dedup",
        output_mode="append",
    )
    rows = sorted((r.event_id, r.user_id, r.value) for r in got.collect())
    want = sorted(
        (r.event_id, r.user_id, r.value)
        for r in spark.read.parquet(event_dir).collect()
    )
    assert rows == want


def test_streaming_ingest_dedup_equals_batch(spark, sf_dir):
    """The stream-static incremental dedup must produce exactly the batch
    anti-join's survivor set when run to completion."""
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.operators import dedup as DD
    from market_data_pipeline_spark.sources.catalog import load_table
    from market_data_pipeline_spark.streaming import jobs as sj

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\x0B\f\r]+")
    fp = F.md5(F.array_join(F.slice(toks, 1, 10), " ").cast("binary"))
    seen = docs.filter(F.col("doc_id") % 5 != 0)

    batch = DD.incremental_dedup(
        docs.filter(F.col("doc_id") % 5 == 0), seen, fingerprint_col=fp
    )
    batch_ids = sorted(r["doc_id"] for r in batch.select("doc_id").collect())

    stream = sj.read_documents_stream(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    out = sj.run_stream_to_memory(
        DD.incremental_dedup(stream, seen, fingerprint_col=fp).select("doc_id"),
        "t_st7_sink",
        output_mode="append",
    )
    stream_ids = sorted(r["doc_id"] for r in out.collect())
    assert stream_ids == batch_ids and len(batch_ids) > 0


def test_stateful_folds_skip_null_values(spark, tmp_path):
    """r7 NULL sweep: a NULL value reaching the pandas state fold becomes
    NaN — EWMA's (num, den) go NaN forever, and running-stats'
    round(NaN*100).astype(int64) corrupts the exact cent sums. Both
    operators must drop NULL values JVM-side and fold only observations."""
    import datetime as dt

    from market_data_pipeline_spark.streaming import jobs as sj

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), v)
        for i, v in enumerate([10.0, None, 20.0, None, 40.0])
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    ewma_out = sj.run_stream_to_memory(
        sj.streaming_ewma(stream, alpha=0.2), "t_null_ewma", output_mode="update"
    ).orderBy(F.desc("n_events")).limit(1).collect()[0]
    # closed form over [10, 20, 40] only, adjust=True, q=0.8
    q = 0.8
    num = 10.0 * q**2 + 20.0 * q + 40.0
    den = q**2 + q + 1
    assert ewma_out["n_events"] == 3
    assert ewma_out["ewma"] == pytest.approx(round(num / den, 6))

    stats_out = sj.run_stream_to_memory(
        sj.streaming_running_stats(spark.readStream.schema(schema).parquet(src)),
        "t_null_stats",
        output_mode="update",
    ).orderBy(F.desc("n_events")).limit(1).collect()[0]
    mean = (10.0 + 20.0 + 40.0) / 3
    var = ((10 - mean) ** 2 + (20 - mean) ** 2 + (40 - mean) ** 2) / 3
    assert stats_out["n_events"] == 3
    assert stats_out["mean_value"] == pytest.approx(mean)
    assert stats_out["var_pop"] == pytest.approx(var)


def test_streaming_ingest_pipeline_chain(spark, event_dir):
    """pipeline5's topology (r11): the 4-stage ingest chain — doubled
    at-least-once source, quality floor, dedup repair, watermarked
    tumbling sink — run ACROSS micro-batches must equal the batch
    replay with the append-mode emission rule applied. Also pins the
    quality floor: the error-type event and a null-id row are dropped
    BEFORE dedup, so they can neither alias state nor reach the sink."""
    # the module fixture spans <3h (nothing would clear the 2h horizon);
    # widen it: same rows pushed to later hours + a null-id row the
    # quality floor must reject before it can alias dedup state
    fixture = spark.read.parquet(event_dir)
    later = [
        (100 + i, dt.datetime(2024, 1, 1, 5 + i, 10), 3, "click", float(i))
        for i in range(4)
    ]
    extra = spark.createDataFrame(
        later + [(None, dt.datetime(2024, 1, 1, 0, 40), 9, "click", 3.0)],
        fixture.schema,
    )
    base = fixture.unionByName(extra)
    import shutil
    import tempfile

    # files must land in rough TIME ORDER (a real ingest): with
    # maxFilesPerTrigger=1 the watermark advances per batch, and a
    # shuffled file order would make earlier hours arrive late and be
    # legitimately dropped as late data — not the behavior under test
    lake = tempfile.mkdtemp(prefix="p5lake_")
    staging = tempfile.mkdtemp(prefix="p5stage_")
    buckets = [
        base.filter(F.hour("ts") <= 0),
        base.filter((F.hour("ts") >= 1) & (F.hour("ts") <= 2)),
        base.filter(F.hour("ts") >= 5),
    ]
    for i, b in enumerate(buckets):
        d = f"{staging}/{i}"
        b.coalesce(1).write.mode("overwrite").parquet(d)
        import glob as _glob

        src = _glob.glob(f"{d}/*.parquet")[0]
        shutil.copy(src, f"{lake}/{i:02d}.parquet")

    doubled = _read_stream(spark, lake, max_files=1).unionByName(
        _read_stream(spark, lake, max_files=1)
    )
    got = SJ.run_stream_to_memory(
        SJ.streaming_ingest_pipeline(doubled),
        "t_p5_chain",
        output_mode="append",
    )
    rows = sorted(
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in got.collect()
    )
    clean = spark.read.parquet(lake).filter(
        F.col("event_id").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("event_type") != "error")
    )
    horizon = clean.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("h")
    ).collect()[0]["h"]
    want = sorted(
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in clean.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(horizon))
        .collect()
    )
    # equality against the SINGLE-copy batch replay proves the doubled
    # source was fully absorbed: a missed dedup doubles n_events/total
    assert rows == want and len(rows) > 0
