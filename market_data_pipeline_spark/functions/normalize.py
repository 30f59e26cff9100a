"""Column-level normalization helpers (SURVEY §2.8, F1-F15).

Every helper is a pure ``Column -> Column`` (or DataFrame -> DataFrame for
frame-shaped ones) built from JVM-side ``pyspark.sql.functions`` — no UDFs,
so all of it stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def strip_non_digits(c: Column) -> Column:
    """F1 — drop every non-digit (reference:
    src/crawlers/krx_delisted_crawler.py:228-238)."""
    return F.regexp_replace(c, r"[^\d]", "")


def parse_korean_number(c: Column) -> Column:
    """F2 — keep digits and '.', cast non-strict: '10,000원' -> 10000.0,
    unparseable -> null (reference:
    src/crawlers/krx_new_listing_crawler.py:281-290)."""
    cleaned = F.regexp_replace(c, r"[^\d.]", "")
    return F.when(cleaned == "", None).otherwise(cleaned).cast("double")


def clean_symbol(c: Column) -> Column:
    """F1+F3 — strip non-digits then take the first 6 chars (reference:
    src/crawlers/krx_delisted_crawler.py:238-239,
    scripts/daily_stock_master_update.py:236)."""
    return F.substring(strip_non_digits(c), 1, 6)


def empty_to_null(c: Column) -> Column:
    """F7 — '' -> null (reference:
    src/crawlers/krx_delisted_crawler.py:246-251)."""
    return F.when(c == "", None).otherwise(c)


def parse_multiformat_date(c: Column) -> Column:
    """F8 — parse '2023.12.31' / '2023-11-30' / '20231025' to DATE; null on
    failure (reference: src/crawlers/krx_delisted_crawler.py:226-232 —
    digit-strip then '%Y%m%d' non-strict).

    ``try_to_date``, not ``to_date``: Spark 4 defaults to ANSI mode, where
    ``to_date`` THROWS on invalid dates like '00000000' (found by the
    hypothesis suite) — the reference's strict=False semantics are
    null-on-failure."""
    digits = strip_non_digits(c)
    return F.when(F.length(digits) == 8, F.try_to_date(digits, "yyyyMMdd")).otherwise(
        F.lit(None).cast("date")
    )


def month_bucket(c: Column) -> Column:
    """F9 — yyyyMM partition bucket (reference:
    src/clickhouse/price_client.py:93 — toYYYYMM)."""
    return F.date_format(c, "yyyyMM")


def normalize_delisted(raw: DataFrame) -> DataFrame:
    """Full normalization chain for crawled delisted rows (reference:
    src/crawlers/krx_delisted_crawler.py:196-257): parse date, clean code,
    6-char filter, empty->null on string columns.

    Input: RAW_DELISTED-shaped frame; output adds typed
    ``delisting_date_parsed`` and cleaned ``company_code``.
    """
    df = raw.withColumn(
        "delisting_date_parsed", parse_multiformat_date(F.col("delisting_date"))
    ).withColumn("company_code", clean_symbol(F.col("company_code")))
    df = df.filter(F.length("company_code") == 6)
    for c in ("company_name", "delisting_reason", "remarks", "sequence"):
        if c in df.columns:
            df = df.withColumn(c, empty_to_null(F.col(c)))
    return df


def normalize_new_listings(raw: DataFrame) -> DataFrame:
    """Normalization chain for crawled new listings (reference:
    src/crawlers/krx_new_listing_crawler.py:244-300): date parse, numeric
    parse of '500원'-style fields, code cleanup + 6-char filter."""
    df = (
        raw.withColumn("listing_date_parsed", parse_multiformat_date(F.col("listing_date")))
        .withColumn("company_code", clean_symbol(F.col("company_code")))
        .withColumn("par_value_num", parse_korean_number(F.col("par_value")))
        .withColumn("ipo_price_num", parse_korean_number(F.col("ipo_price")))
    )
    return df.filter(F.length("company_code") == 6)


def to_canonical_master(
    df: DataFrame,
    symbol_col: str = "symbol",
    name_col: str = "name",
    market: str | None = None,
) -> DataFrame:
    """P1 — canonical master projection with casts and literals
    (reference: scripts/daily_stock_master_update.py:88-95,
    src/setup/load_stock_master_clickhouse.py:115-122; delisting_reason
    from the legacy richer schema, src/setup/setup_clickhouse.py:73-87)."""
    market_col = F.lit(market) if market is not None else F.col("market")

    def opt_str(col: str):
        return (
            empty_to_null(F.trim(F.col(col)))
            if col in df.columns
            else F.lit(None)
        ).cast("string")

    return df.select(
        F.col(symbol_col).cast("string").alias("symbol"),
        F.trim(F.col(name_col)).cast("string").alias("name"),
        market_col.cast("string").alias("market"),
        opt_str("sector").alias("sector"),
        opt_str("industry").alias("industry"),
        (
            F.col("listing_date").cast("date")
            if "listing_date" in df.columns
            else F.lit(None).cast("date")
        ).alias("listing_date"),
        F.lit(None).cast("date").alias("delisting_date"),
        F.lit(None).cast("string").alias("delisting_reason"),
        F.lit(1).cast("int").alias("is_active"),
    )
