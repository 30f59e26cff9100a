"""CLI: data-quality report over the master/price tables (reference:
scripts/check_stock_data.py — including the statistics the reference
*calls* but never implemented, SURVEY §0 drift list: count stats, missing
dates, coverage quality score at scripts/check_stock_data.py:82-93).

Modes:
  --sf-dir DIR     report over the driver's synthetic tables (derived
                   master/price frames — same mapping as the query surface)
  --master P --price P   report over real engine tables (parquet paths)

Prints JSON lines: table info, per-market count stats, worst-coverage
symbols, and the overall quality score (actual rows / expected rows,
expected ≈ 5/7 of span days per symbol — trading-day heuristic).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--price", default=None)
    ap.add_argument("--worst", type=int, default=10, help="N worst-coverage symbols")
    args = ap.parse_args()

    from market_data_pipeline_spark.operators import analytics as A
    from market_data_pipeline_spark.session import get_spark

    spark = get_spark("check-data")
    spark.sparkContext.setLogLevel("ERROR")

    if args.sf_dir:
        from market_data_pipeline_spark.plans.driver_queries import (
            master_frame,
            price_frame,
        )

        master = master_frame(spark, args.sf_dir)
        price = price_frame(spark, args.sf_dir)
    elif args.master and args.price:
        from market_data_pipeline_spark.storage.table import (
            stock_master_table,
            stock_price_table,
        )

        master = stock_master_table(spark, args.master).read_current()
        price = stock_price_table(spark, args.price).read_current()
    else:
        ap.error("provide --sf-dir or both --master and --price")

    print(json.dumps({"table_info": A.table_info(price).collect()[0].asDict()}, default=str))
    stats = A.stock_count_stats(master).orderBy("market").limit(30)
    print(json.dumps({"count_stats": [r.asDict() for r in stats.collect()]}, default=str))

    cov = A.missing_dates_stats(price).withColumn(
        # trading-day heuristic: ~5/7 of calendar span expected
        "coverage",
        F.round(F.col("day_count") / (F.col("span_days") * 5.0 / 7.0), 3),
    )
    worst = cov.orderBy("coverage", "symbol").limit(args.worst)
    print(json.dumps({"worst_coverage": [r.asDict() for r in worst.collect()]}, default=str))

    # the reference's quality-score percentage
    # (scripts/check_stock_data.py:93 intent): actual vs expected rows
    agg = cov.agg(
        F.sum("day_count").alias("actual"),
        F.sum(F.col("span_days") * 5.0 / 7.0).alias("expected"),
    ).collect()[0]
    score = round(100.0 * agg.actual / agg.expected, 2) if agg.expected else 0.0
    print(json.dumps({"quality_score_pct": score}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
