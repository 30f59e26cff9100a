"""Input-walk census (round 12, session 3): how many times does each
query EXECUTE each of its parquet inputs?

Wraps every ``load_table`` result in a row-counting mapInPandas
pass-through (one accumulator per call site), runs each declared query
to a noop sink, and reports call sites whose subtree executed more than
once — the redundant-recompute signal that found the pagerank 4x and
connected-components 2x inits.

Interpretation notes:
- executions ~= accumulator / table row count, per call site. A ratio
  >= ~1.5 means that call site's subtree ran at least twice (exchange
  reuse and checkpoints make exact integers; limits/samples give < 1).
- Frame memos (price_frame/master_frame/_ts_series) are cleared between
  queries so walks attribute to the query under test.
- The Arrow pass-through blocks filter/limit pushdown, so TIMES here
  are meaningless — this census measures execution COUNTS only.

Usage:
  python scripts/walk_census.py [--sf DIR] [--out FILE] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import market_data_pipeline_spark.plans.driver_queries as DQ  # noqa: E402
import market_data_pipeline_spark.plans.tpch as TPCH  # noqa: E402
from market_data_pipeline_spark.session import get_spark  # noqa: E402

ORIG_LOAD = DQ.load_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    ap.add_argument("--out", default="/tmp/walk_census.json")
    args = ap.parse_args()

    spark = get_spark("walk-census")
    spark.sparkContext.setLogLevel("ERROR")

    # base row counts per table (once)
    table_rows: dict[str, int] = {}

    def rows_of(name: str) -> int:
        if name not in table_rows:
            table_rows[name] = ORIG_LOAD(spark, args.sf, name).count()
        return table_rows[name]

    sites: list[tuple[str, object]] = []  # (table, accumulator) per call

    def counting_load(spark_, sf_dir, name, *a, **k):
        df = ORIG_LOAD(spark_, sf_dir, name, *a, **k)
        acc = spark_.sparkContext.accumulator(0)
        schema = df.schema

        def bump(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf

        sites.append((name, acc))
        # a fresh frame per call: no staged_frame memo built on it ever
        # hits, so every query re-walks (and counts) its own tables
        return df.mapInPandas(bump, schema)

    DQ.load_table = counting_load
    TPCH.load_table = counting_load

    names = args.names or list(DQ.QUERIES)
    # r12 advice #3: a typo'd CLI name was a KeyError that aborted the
    # whole census — validate up front instead.
    unknown = sorted(set(names) - set(DQ.QUERIES))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    report: dict[str, dict] = {}
    flagged: dict[str, list] = {}
    for qname in names:
        fn = DQ.QUERIES[qname]
        sites.clear()
        try:
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
        except Exception as exc:  # eager builders that need real tables etc.
            report[qname] = {"error": str(exc).splitlines()[0][:200]}
            continue
        entry = []
        for tname, acc in sites:
            n = rows_of(tname)
            execs = round(acc.value / n, 2) if n else 0.0
            entry.append({"table": tname, "execs": execs})
            if execs >= 1.5:
                flagged.setdefault(qname, []).append({"table": tname, "execs": execs})
        report[qname] = {"sites": entry}
        print(f"{qname}: " + ", ".join(f"{e['table']}={e['execs']}" for e in entry),
              file=sys.stderr)

    with open(args.out, "w") as fh:
        json.dump({"rows": table_rows, "queries": report, "flagged": flagged}, fh,
                  indent=1, sort_keys=True)
    print(json.dumps(flagged, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
