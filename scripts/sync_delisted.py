"""CLI: one-shot delisted-stock sync with validation (reference:
scripts/sync_delisted_stocks.py:307-398 — §3.2, the richest dataflow).

Crawl (or load fixture) -> validate -> set-based master update ->
timestamped backup -> per-market report. Idempotent: a second run without
--force hits the existing-data gate.

Usage:
  python scripts/sync_delisted.py --master /data/master \\
      [--backup-dir /data/backups] [--force] [--fixture FILE.html]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--master", required=True)
    ap.add_argument("--backup-dir", default=None)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--fixture", default=None, help="saved KRX delisted HTML")
    ap.add_argument("--markets", nargs="+", default=["KOSPI", "KOSDAQ", "KONEX"])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from market_data_pipeline_spark.plans import pipelines as pl
    from market_data_pipeline_spark.session import get_spark
    from market_data_pipeline_spark.sources import krx
    from market_data_pipeline_spark.storage.table import stock_master_table

    spark = get_spark("sync-delisted")
    spark.sparkContext.setLogLevel("WARN")

    transport = None
    if args.fixture:
        def transport(url: str, form: dict) -> bytes:  # noqa: ANN001
            with open(args.fixture, "rb") as f:
                return f.read()

    src = krx.KrxDelistedSource(spark, transport=transport)
    master = stock_master_table(spark, args.master)
    report = pl.sync_delisted_stocks(
        master,
        src.fetch_all(markets=tuple(args.markets)),
        backup_dir=args.backup_dir,
        force=args.force,
    )
    print(json.dumps(report, default=str))
    if not report.get("gate_skipped"):
        rows = pl.delisted_report(master).orderBy(F.desc("delisted_count"), "market")
        for row in rows.collect():
            print(json.dumps(row.asDict(), default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
