"""Dump every registered query's optimized logical plan with run-specific
ids masked, so the plans of two checkouts can be diffed line by line.
Queries are dumped in name order, whatever order they registered in.

Usage: python scripts/plan_dump.py SF_DIR [query ...] > plans.txt
       diff -u before.txt after.txt

Masked: expression ids (``#123``, ``#123L``), RDD ids (``[12]`` after an
RDD class name), the random suffix of scratch directories, and the counter
of lambda variables (``x_1#2`` -> ``x_N``). That counter is JVM-global, so
without the mask one extra lambda in any query renumbers every later one.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(/tmp/[A-Za-z0-9]+_)[A-Za-z0-9_]+"), r"\1X"),
    (re.compile(r"\b([xyz])_\d+#N"), r"\1_N"),
)


def mask(text: str) -> str:
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def main() -> int:
    from market_data_pipeline_spark.plans.driver_queries import QUERIES
    from market_data_pipeline_spark.session import get_spark

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sf, only = sys.argv[1], set(sys.argv[2:])
    spark = get_spark("plan-dump", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        try:
            plan = QUERIES[name](spark, sf)._jdf.queryExecution().optimizedPlan().toString()
        except Exception as exc:
            plan = f"ERROR {str(exc).splitlines()[0]}"
        print(f"=== {name}\n{mask(plan)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
