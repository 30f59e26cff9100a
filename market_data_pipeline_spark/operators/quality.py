"""Declarative data-quality constraint checking ("Deequ-lite").

Generalizes the reference's hard-coded validation chain (reference:
scripts/sync_delisted_stocks.py:50-101 — fixed regex/name/date filters)
into a declarative expectations report any table can run: row-level
predicates are verified in ONE aggregation pass (conditional counts, no
per-rule scan), uniqueness constraints in one two-level aggregate per key
set, and everything comes back as a long-form report frame a pipeline can
gate on or persist as a run audit.

Scale: the row-rule pass is a single map-side-combined aggregate over one
scan regardless of rule count; each uniqueness check is one shuffle on its
key set. Nothing driver-side but the report itself (rows = #constraints).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """A named row-level predicate that should hold for every row."""

    name: str
    predicate: Column


def not_null(col: str) -> Expectation:
    return Expectation(f"{col}_not_null", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> Expectation:
    return Expectation(
        f"{col}_in_range", F.col(col).isNotNull() & F.col(col).between(lo, hi)
    )


def matches(col: str, pattern: str) -> Expectation:
    return Expectation(
        f"{col}_matches", F.col(col).isNotNull() & F.col(col).rlike(pattern)
    )


def in_set(col: str, values: list) -> Expectation:
    # isNotNull guard: for NULL, isin() yields NULL and ~NULL is NULL, so a
    # bare isin silently PASSES null rows — diverging from the documented
    # every-row semantics and the sibling in_range/matches rules.
    return Expectation(
        f"{col}_in_set", F.col(col).isNotNull() & F.col(col).isin(values)
    )


REPORT_SCHEMA = (
    "constraint string, n_rows bigint, n_violations bigint, "
    "pass_ratio double, passed boolean"
)


def check_constraints(
    df: DataFrame,
    expectations: list[Expectation],
    unique_keys: list[list[str]] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Run all expectations; return the long-form report
    (constraint, n_rows, n_violations, pass_ratio, passed).

    Row-level expectations share ONE aggregation pass: the agg emits one
    violation count per rule plus the row count, and the single result row
    is unpivoted to report rows with an inline explode (driver never sees
    data). Each ``unique_keys`` entry adds a uniqueness constraint
    ``unique(k1,k2)`` whose violation count is rows minus distinct keys —
    a separate two-phase aggregate per key set (distinct cardinality can't
    ride the conditional-count pass without an Expand blow-up; see
    apx1's round-1 lesson).
    """
    reports: list[DataFrame] = []
    if expectations:
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.count(F.when(~e.predicate, 1)).alias(f"_v{i}")
            for i, e in enumerate(expectations)
        ]
        row = df.agg(*aggs)
        entries = F.array(
            *[
                F.struct(
                    F.lit(e.name).alias("constraint"),
                    F.col(f"_v{i}").alias("n_violations"),
                )
                for i, e in enumerate(expectations)
            ]
        )
        long = row.select(
            F.col("_n").alias("n_rows"), F.explode(entries).alias("_e")
        ).select(
            F.col("_e.constraint").alias("constraint"),
            "n_rows",
            F.col("_e.n_violations").alias("n_violations"),
        )
        reports.append(long)
    for keys in unique_keys or []:
        uniq = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("_d"),
        ).select(
            F.lit(f"unique({','.join(keys)})").alias("constraint"),
            "n_rows",
            (F.col("n_rows") - F.col("_d")).alias("n_violations"),
        )
        reports.append(uniq)
    if not reports:
        raise ValueError("no expectations or unique_keys given")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select(
        "constraint",
        "n_rows",
        "n_violations",
        F.when(F.col("n_rows") == 0, F.lit(1.0))
        .otherwise(
            F.round(1.0 - F.col("n_violations") / F.col("n_rows"), round_digits)
        )
        .alias("pass_ratio"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form column profile: one row per profiled column with null
    count, exact distinct count, and min/max (rendered as strings so the
    output schema is uniform across column types) — the data-profiling
    report a pipeline runs on first contact with a new table, companion
    to the expectations API above.

    Two aggregate passes over a column-pruned scan, BOTH hash-based
    (r10 rewrite, dp1 4.1s -> 1.2s at sf0.1): the original single-pass
    form mixed countDistinct with min/max(string) in one agg, and a
    string in the aggregation BUFFER forces SortAggregate — Spark
    sorted the len(cols)-times-expanded fact three times. Now (a) the
    keyless basic agg (counts, nulls, min/max) runs without any sort —
    string buffers cost nothing with no grouping keys — and (b)
    distinct counts go through Expand -> distinct(gid, value) ->
    count, where strings are grouping KEYS (hash-aggregable), never
    buffers. The 3-row distinct table broadcast-joins back.

    Distinct counts are over the column's STRING rendering: bijective
    for the supported profile types (integers, strings, dates) — keep
    profiled columns to those when hash-comparing across engines;
    float formatting is engine-specific either way.
    Returns (column, n_rows, n_nulls, n_distinct, min_value, max_value).
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nulls_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    basic = df.agg(*aggs)
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("_c"), F.col(c).cast("string").alias("_v")
                    )
                    for c in cols
                ]
            )
        ).alias("_p")
    ).select("_p._c", "_p._v")
    dist = (
        pairs.filter(F.col("_v").isNotNull())
        .distinct()
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("_dist"))
    )
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"_nulls_{c}").alias("n_nulls"),
            F.col(f"_min_{c}").alias("min_value"),
            F.col(f"_max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    long = basic.select(F.explode(F.array(*rows)).alias("_p")).select("_p.*")
    return (
        long.join(F.broadcast(dist), long.column == dist._c, "left")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            F.coalesce("_dist", F.lit(0)).cast("long").alias("n_distinct"),
            "min_value",
            "max_value",
        )
    )


def freshness_report(
    df,
    key_col: str = "symbol",
    ts_col: str = "trade_date",
    max_staleness_days: int = 7,
):
    """Per-key freshness SLA: how stale is each series against the
    table's watermark (global max date)? The data-ops check that pages
    someone when a feed silently stops for one symbol while the table
    as a whole keeps growing.

    One aggregate on the key (map-combined) plus a broadcast 1-row
    watermark join — no window, no second scan of the fact. ``stale``
    compares whole-day integers, so the flag is engine-exact.
    Returns (key, last_ts, watermark_ts, days_stale, stale) per key.
    """
    from pyspark.sql import functions as F

    per_key = df.groupBy(key_col).agg(F.max(ts_col).alias("last_ts"))
    watermark = df.agg(F.max(ts_col).alias("watermark_ts"))
    return (
        per_key.join(F.broadcast(watermark))
        .withColumn(
            "days_stale",
            F.datediff(F.col("watermark_ts"), F.col("last_ts")).cast("long"),
        )
        .withColumn("stale", F.col("days_stale") > max_staleness_days)
    )


def population_stability(
    df,
    bucket_col,
    is_reference_col,
    round_digits: int = 6,
):
    """Population Stability Index between a reference and a current
    population sharing one table — the data-drift check run between
    snapshot pairs or time slices (PSI > 0.2 is the classic retrain
    alarm).

    ``bucket_col`` assigns each row a bucket; ``is_reference_col`` is a
    boolean Column splitting the two populations. ONE scan, one
    map-combined aggregate: per-bucket conditional counts, shares
    against broadcast 1-row totals, per-bucket PSI term
    (p_ref - p_cur) * ln(p_ref / p_cur). Buckets empty on either side
    are emitted with a NULL psi_term (the standard epsilon fudge hides
    real schema drift — surfacing the empty bucket is the point).
    Returns (bucket, n_ref, n_cur, p_ref, p_cur, psi_term).
    """
    from pyspark.sql import functions as F

    counts = (
        df.select(bucket_col.alias("bucket"), is_reference_col.alias("_ref"))
        .groupBy("bucket")
        .agg(
            F.sum(F.col("_ref").cast("long")).alias("n_ref"),
            F.sum((~F.col("_ref")).cast("long")).alias("n_cur"),
        )
    )
    totals = counts.agg(
        F.sum("n_ref").alias("_tref"), F.sum("n_cur").alias("_tcur")
    )
    shares = counts.join(F.broadcast(totals)).select(
        "bucket",
        "n_ref",
        "n_cur",
        (F.col("n_ref") / F.col("_tref").cast("double")).alias("p_ref"),
        (F.col("n_cur") / F.col("_tcur").cast("double")).alias("p_cur"),
    )
    term = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.round(
            (F.col("p_ref") - F.col("p_cur"))
            * F.log(F.col("p_ref") / F.col("p_cur")),
            round_digits,
        ),
    )
    return shares.withColumn("psi_term", term)


def source_completeness(docs: DataFrame) -> DataFrame:
    """Per-source field-completeness audit (empty/short text, missing
    language tag, and whether the materialized n_chars column actually
    equals length(text)) — the intake contract check before a source is
    admitted to the corpus. One map-combined aggregate.
    Returns (source, n_docs, n_empty_text, n_short_text,
    n_missing_lang, n_bad_char_count)."""

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        cnt(F.col("text").isNull() | (F.trim("text") == "")).alias(
            "n_empty_text"
        ),
        cnt(F.length("text") < 20).alias("n_short_text"),
        cnt(F.col("lang").isNull() | (F.trim("lang") == "")).alias(
            "n_missing_lang"
        ),
        cnt(F.col("n_chars") != F.length("text")).alias("n_bad_char_count"),
    )
