"""End-to-end ingest pipelines — the reference's two batch entry points
re-expressed as set-based Spark jobs (SURVEY §3.1, §3.2).

Where the reference loops rows and issues per-row point queries
(reference: scripts/sync_delisted_stocks.py:131-187,
src/clickhouse/stock_master.py:144-192), every step here is one
DataFrame job: normalize -> validate -> left-anti upsert / outer-join
update -> write. Idempotence is the core correctness property — the daily
batch re-runs the full crawl every day (reference:
scripts/daily_stock_master_update.py:333-367) and must insert nothing the
second time.

Driver-side collects in this module touch only *stats* (single-row
aggregates for the run report), never data rows.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.normalize import (
    normalize_delisted,
    normalize_new_listings,
    to_canonical_master,
)
from market_data_pipeline_spark.operators import dedup, text as tx
from market_data_pipeline_spark.operators.setops import union_relaxed
from market_data_pipeline_spark.operators.upsert import apply_delistings
from market_data_pipeline_spark.operators.validate import (
    name_rule,
    symbol_rule,
    validate,
    validate_delisted,
)
from market_data_pipeline_spark.schemas import STOCK_MASTER
from market_data_pipeline_spark.sources.krx import backup_parquet
from market_data_pipeline_spark.storage.table import ParquetTable


def with_audit_cols(df: DataFrame, now: dt.datetime | None = None) -> DataFrame:
    """F10 — create_dt/update_dt writer columns; ``now`` is injectable so
    golden outputs are deterministic (SURVEY §7 hard-point 5).

    A NAIVE ``now`` is a UTC wall value by contract: F.lit(naive
    datetime) would otherwise convert through the PYTHON PROCESS'S
    local zone, silently shifting the audit instant on any non-UTC
    workstation (BENCHNOTES "Round 8: session-timezone adversary": the
    only divergence in the registry-wide America/New_York run; pinned by
    tests/test_krx_pipeline.py::test_audit_cols_naive_now_is_utc)."""
    if now is not None and now.tzinfo is None:
        now = now.replace(tzinfo=dt.timezone.utc)
    ts = F.lit(now) if now is not None else F.current_timestamp()
    out = df
    if "create_dt" not in df.columns:
        out = out.withColumn("create_dt", ts.cast("timestamp"))
    return out.withColumn("update_dt", ts.cast("timestamp"))


def update_listed_stocks(
    master: ParquetTable,
    per_market_listings: dict[str, DataFrame],
    now: dt.datetime | None = None,
) -> int:
    """§3.1 step 1 — merge per-market listing frames (each with at least
    (symbol, name)), canonicalize, validate, insert-if-absent
    (reference: scripts/daily_stock_master_update.py:45-116).

    Returns the number of newly inserted symbols.
    """
    if not per_market_listings:
        return 0
    canon = [
        to_canonical_master(df, market=mkt) for mkt, df in per_market_listings.items()
    ]
    merged = union_relaxed(canon)
    valid, _stats = validate(
        merged, [symbol_rule(), name_rule()], dedup_keys=["symbol"]
    )
    return master.upsert_absent(with_audit_cols(valid, now))


def sync_new_listings(
    master: ParquetTable,
    raw_listings: DataFrame,
    now: dt.datetime | None = None,
) -> int:
    """§3.1 step 2 — normalized crawl output -> canonical master rows ->
    insert-if-absent. Replaces the reference's per-row point-query loop
    (reference: src/clickhouse/stock_master.py:144-192) with one anti-join.
    """
    norm = normalize_new_listings(raw_listings)
    industry = (
        F.col("industry") if "industry" in norm.columns else F.lit(None)
    ).cast("string")
    rows = norm.select(
        F.col("company_code").alias("symbol"),
        F.trim(F.col("company_name")).alias("name"),
        F.col("market"),
        F.lit(None).cast("string").alias("sector"),
        industry.alias("industry"),
        F.col("listing_date_parsed").alias("listing_date"),
        F.lit(None).cast("date").alias("delisting_date"),
        F.lit(None).cast("string").alias("delisting_reason"),
        F.lit(1).cast("int").alias("is_active"),
    )
    valid, _stats = validate(rows, [symbol_rule(), name_rule()], dedup_keys=["symbol"])
    return master.upsert_absent(with_audit_cols(valid, now))


def sync_delisted_stocks(
    master: ParquetTable,
    raw_delisted: DataFrame,
    backup_dir: str | None = None,
    force: bool = False,
    now: dt.datetime | None = None,
) -> dict:
    """§3.2 — the richest dataflow: idempotence gate, normalization,
    validation chain, set-based master update, timestamped backup, report
    (reference: scripts/sync_delisted_stocks.py:219-267).

    Returns the run-report dict (small driver-side stats only).
    """
    # idempotence gate (reference :103-117): skip if delisted data exists.
    # Only evaluated when it can matter — ``force=True`` used to pay the
    # gate's scan job and then ignore its answer (r12 opt: the daily
    # batch always passes force=True, so this was one dead job per run).
    if not force:
        existing_delisted = (
            master.read_current().filter(F.col("is_active") == 0).limit(1).count()
            if master.exists()
            else 0
        )
        if existing_delisted:
            return {
                "gate_skipped": True,
                "reason": "delisted data present; use force=True",
            }

    norm = normalize_delisted(raw_delisted)
    shaped = norm.select(
        F.col("company_code").alias("symbol"),
        F.trim(F.col("company_name")).alias("name"),
        F.col("market"),
        F.col("delisting_date_parsed").alias("delisting_date"),
        (
            F.col("delisting_reason")
            if "delisting_reason" in norm.columns
            else F.lit(None).cast("string")
        ).alias("delisting_reason"),
    )
    valid, vstats = validate_delisted(shaped)

    updated, ustats = apply_delistings(
        master.read_current() if master.exists() else _empty_master(master, valid),
        with_audit_cols(valid, now).drop("create_dt"),
    )
    # materialize the stats BEFORE overwriting: their plans scan the
    # pre-overwrite master files, which the stage-and-swap replaces.
    # One collect, not two: both stats are single-row aggregates with
    # disjoint columns, so a crossJoin evaluates them in a single job
    # (r12 opt — the job count, not the bytes, is this path's cost).
    report = {  # single-row aggregates only
        **vstats.crossJoin(ustats).collect()[0].asDict(),
        "gate_skipped": False,
    }
    master.overwrite(with_audit_cols(updated, now))

    if backup_dir:
        backup_parquet(valid, backup_dir, "delisted_valid", timestamp=now)
    return report


def _empty_master(master: ParquetTable, like: DataFrame) -> DataFrame:
    return like.sparkSession.createDataFrame([], STOCK_MASTER)


def delisted_report(master: ParquetTable) -> DataFrame:
    """§3.2 report — per-market delisted counts + date range
    (reference: scripts/sync_delisted_stocks.py:269-304; A3)."""
    return (
        master.read_current()
        .filter(F.col("is_active") == 0)
        .groupBy("market")
        .agg(
            F.count("*").alias("delisted_count"),
            F.min("delisting_date").alias("earliest"),
            F.max("delisting_date").alias("latest"),
        )
    )


def run_daily_update(
    master: ParquetTable,
    per_market_listings: dict[str, DataFrame],
    raw_new_listings: DataFrame,
    raw_delisted: DataFrame,
    backup_dir: str | None = None,
    now: dt.datetime | None = None,
    snapshot_tag: str | None = None,
) -> dict:
    """The full daily batch (reference:
    scripts/daily_stock_master_update.py:333-367): listed-stock upsert,
    new-listing sync, delisted sync, compaction ("OPTIMIZE FINAL"), stats.

    Safe to re-run: every step is insert-if-absent or a keyed overwrite.
    ``snapshot_tag`` pins a pre-update table snapshot first (hard-linked,
    metadata-only) so a bad upstream feed is one ``master.restore(tag)``
    away from undone — the rollback story the reference's timestamped
    parquet backups approximate with full copies.
    """
    # record the tag only if a snapshot was actually taken (r5 advice #4:
    # reporting the requested tag on a first run — master absent, nothing
    # snapshotted — invites master.restore(tag) FileNotFoundError during
    # incident rollback, the worst possible moment)
    snapshot_taken: str | None = None
    if snapshot_tag is not None and master.exists():
        master.snapshot(snapshot_tag)
        snapshot_taken = snapshot_tag
    inserted_listed = update_listed_stocks(master, per_market_listings, now)
    inserted_new = sync_new_listings(master, raw_new_listings, now)
    delisted_stats = sync_delisted_stocks(
        master, raw_delisted, backup_dir=backup_dir, force=True, now=now
    )
    master.compact()

    counts = (
        master.read_current()
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("is_active") == 1, 1)).alias("active"),
            F.count(F.when(F.col("is_active") == 0, 1)).alias("delisted"),
        )
        .collect()[0]
        .asDict()
    )
    return {
        "inserted_listed": inserted_listed,
        "inserted_new_listings": inserted_new,
        "delisted_sync": delisted_stats,
        "pre_update_snapshot": snapshot_taken,
        **counts,
    }


def prepare_corpus(
    spark,
    docs,
    benchmark=None,
    min_tokens: int = 5,
    jaccard_bands: int = 16,
    chunk_tokens: int = 64,
    overlap: int = 16,
    n_shards: int = 8,
    *,
    pack_budget: int = 256,
    min_ascii_ratio: float | None = None,
    min_ttr: float | None = None,
    max_dup_sentence_ratio: float | None = None,
    audit_counts: bool = True,
):
    """Run the full prep pipeline on a documents DataFrame.

    Returns (chunks_df_with_shards_and_packs, stage_counts dict).
    Library entry so tests and the pipeline4 oracle drive the identical
    composition the CLI runs (moved here from scripts/corpus_prep.py in
    r10 — plans own compositions, scripts stay thin).

    The optional round-5 gates are OFF by default (None): a minimum
    printable-ASCII ratio (binary-spill / mojibake floor — leave off for
    intentionally multilingual corpora), a minimum type-token ratio
    (template/repetition floor), and a maximum within-doc duplicate-
    sentence ratio (boilerplate floor). All three are map-only column
    expressions folded into the same quality scan.
    """
    # ``audit_counts=False`` skips the five per-stage .count() actions —
    # the CLI wants the audit trail, the pipeline4 gate query does not.
    # Measured effect on a warm local[32] session: ~neutral (the final
    # write materializes the same lazy checkpoints either way); on a
    # cluster each skipped count is one fewer scheduler round-trip
    counts = {"input": docs.count()} if audit_counts else {}

    # 1. quality floor: drop empty/ultra-short docs (permissive default —
    # quality scoring is advisory, hard floors only remove degenerate rows)
    q = docs.filter(tx.token_count(F.col("text")) >= min_tokens)
    if min_ascii_ratio is not None:
        kept = F.length(F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", ""))
        q = q.filter(kept >= min_ascii_ratio * F.length(F.col("text")))
    if min_ttr is not None:
        toks = tx.words(F.col("text"))
        q = q.filter(
            F.size(F.array_distinct(toks)) >= min_ttr * F.size(toks)
        )
    if max_dup_sentence_ratio is not None:
        sents = tx.sentences(F.col("text"))
        q = q.filter(
            (F.size(sents) == 0)
            | (
                F.size(sents) - F.size(F.array_distinct(sents))
                <= max_dup_sentence_ratio * F.size(sents)
            )
        )
    # the survivor set feeds four downstream consumers (exact dedup,
    # minhash, cluster survivor join, chunking) — materialize once
    q = q.localCheckpoint(eager=False)
    if audit_counts:
        counts["after_quality"] = q.count()

    # 2. exact dedup (first occurrence per identical text)
    exact_keep = dedup.exact_dedup(q).select("doc_id")
    q2 = q.join(exact_keep, "doc_id", "left_semi").localCheckpoint(eager=False)
    if audit_counts:
        counts["after_exact_dedup"] = q2.count()

    # 3. near-dup clusters -> keep the LONGEST member per cluster
    pairs = dedup.minhash_lsh_pairs(q2, bands=jaccard_bands, max_bucket_size=200)
    comp = dedup.connected_components(pairs)
    clustered = q2.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")

    # Survivor pick partitions by a key that gives every NON-clustered doc
    # (component NULL — typically the vast majority of the corpus) its own
    # singleton window partition. Partitioning by bare "component" would
    # funnel all NULLs into ONE window partition — the single-task global
    # window shape the plan-audit tests forbid, and a guaranteed straggler
    # at 100 TB even though the when() discards the value. The prefixes
    # keep a singleton whose doc_id happens to equal a cluster's
    # representative id (CC components are min-node doc_ids) from being
    # merged into that cluster's partition, which bare
    # coalesce(component, doc_id) would do.
    part_key = F.coalesce(
        F.concat(F.lit("c:"), F.col("component").cast("string")),
        F.concat(F.lit("d:"), F.col("doc_id").cast("string")),
    )
    w = Window.partitionBy(part_key).orderBy(
        F.desc(tx.token_count(F.col("text"))), "doc_id"
    )
    survivors = (
        clustered.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "component")
    )
    survivors = survivors.localCheckpoint(eager=False)
    if audit_counts:
        counts["after_near_dedup"] = survivors.count()

    # 4. optional decontamination against a benchmark table
    if benchmark is not None:
        flags = dedup.decontaminate(survivors, benchmark)
        clean_ids = flags.filter(~F.col("contaminated")).select("doc_id")
        survivors = survivors.join(clean_ids, "doc_id", "left_semi")
        survivors = survivors.localCheckpoint(eager=False)
        if audit_counts:
            counts["after_decontaminate"] = survivors.count()

    # 5. context chunking + shard assignment (chunk key rides along so a
    # loader worker reads exactly its shard, in a deterministic order)
    chunks = tx.chunk_documents(
        survivors, chunk_tokens=chunk_tokens, overlap=overlap
    ).withColumn(
        "chunk_key",
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx")),
    )
    shards = tx.shuffle_shards(chunks, key_col="chunk_key", n_shards=n_shards)
    out = chunks.join(shards, "chunk_key").select(
        "doc_id", "chunk_idx", "chunk_text", "n_tokens", "shard", "pos"
    )

    # 6. per-shard sequence packing: greedy concat in pos order within
    # each shard (pack_no = (cumsum - n_tokens) // pack_budget) — the
    # loader's concat-then-chunk budget assignment. The window partitions
    # on shard, so parallelism = n_shards by construction, mirroring the
    # one-writer-per-shard export sink (same argument as pk1).
    wp = (
        Window.partitionBy("shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = out.withColumn(
        "pack_no",
        F.floor(
            (F.sum("n_tokens").over(wp) - F.col("n_tokens")) / pack_budget
        ).cast("long"),
    )
    if audit_counts:
        counts["chunks"] = out.count()
    return out, counts
