"""Data-quality validation chain (SURVEY §3.2, P2-P5 + A9).

Re-expresses ``validate_delisted_data`` (reference:
scripts/sync_delisted_stocks.py:50-101) as a composable filter pipeline
returning ``(valid_df, stats_df)``. Each rule is a named predicate so the
stats can report how many rows each rule dropped — computed in ONE pass
with conditional aggregation instead of one count() action per rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators.quality import Expectation

SYMBOL_RE = r"^\d{6}$"
MIN_DATE = "1990-01-01"


def symbol_rule(col: str = "symbol") -> Expectation:
    """P2 — symbol is exactly 6 digits (reference:
    scripts/sync_delisted_stocks.py:63-67)."""
    return Expectation("valid_symbol", F.col(col).rlike(SYMBOL_RE))


def name_rule(col: str = "name") -> Expectation:
    """P4 — non-null, non-empty after trim (reference:
    scripts/sync_delisted_stocks.py:69-74)."""
    c = F.col(col)
    return Expectation("valid_name", c.isNotNull() & (F.length(F.trim(c)) > 0))


def date_range_rule(col: str = "delisting_date") -> Expectation:
    """P5 — 1990-01-01 <= d <= today (reference:
    scripts/sync_delisted_stocks.py:76-82)."""
    c = F.col(col)
    return Expectation(
        "valid_date", c.isNotNull() & c.between(F.lit(MIN_DATE), F.current_date())
    )


def required_columns(df: DataFrame, cols: list[str]) -> list[str]:
    """Missing-column check (reference:
    scripts/sync_delisted_stocks.py:57-60). Returns the missing names."""
    return [c for c in cols if c not in df.columns]


def validate(
    df: DataFrame,
    rules: list[Expectation],
    dedup_keys: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply all rules conjunctively; optionally dedup survivors by key
    (A9). Returns (valid_df, stats_df) where stats_df has one row:
    (input_count, <rule>_failed..., valid_count).

    One aggregation pass computes every rule's failure count; the valid
    frame is a plain filter chain so Catalyst pushes it into the scan.
    """
    stats_aggs = [F.count("*").alias("input_count")]
    all_pred = F.lit(True)
    for r in rules:
        stats_aggs.append(F.count(F.when(~r.predicate, 1)).alias(f"{r.name}_failed"))
        all_pred = all_pred & r.predicate
    stats_aggs.append(F.count(F.when(all_pred, 1)).alias("valid_count"))
    stats = df.agg(*stats_aggs)

    valid = df.filter(all_pred)
    if dedup_keys:
        valid = valid.dropDuplicates(dedup_keys)
    return valid, stats


def validate_delisted(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The reference's exact chain for delisted-stock batches
    (reference: scripts/sync_delisted_stocks.py:50-101): required columns,
    6-digit code, non-empty name, date range, dedup on
    (symbol, delisting_date)."""
    missing = required_columns(df, ["symbol", "name", "delisting_date"])
    if missing:
        raise ValueError(f"missing required columns: {missing}")
    return validate(
        df,
        [symbol_rule(), name_rule(), date_range_rule()],
        dedup_keys=["symbol", "delisting_date"],
    )
