"""Classify every registered query by the Spark jobs its build fires.

Usage: python3 perfbench/census.py [--seed N] [--out perfbench/manifest.json]

Runs each ``QUERIES[name]`` once on seeded sf0.1 tables at local[cores],
under its own job group: jobs that exist after the query function returns
were fired while the plan was built ("eager"); the noop-format write that
follows is the action. Writes the census and the workload lists derived
from it:

- ``analytics_mix``: queries whose build fires no job;
- ``iterative_ops``: queries whose build fires jobs, except the pipelines
  and the streaming queries. Those run in ``daily_batch``, and so does a
  subset of this list, at its end.

The lists are committed, so they stay fixed when a later change makes an
eager query lazy; rerun this script only to re-derive them on purpose.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


# What one run executes. A run has to fit the benchmark's time budget (set-up
# and the timed and checked passes in about a minute), so
# each list is cut to a fixed subset, drawn from queries
# with a DuckDB oracle so that every op's result is compared with one:
# - analytics_mix: ANALYTICS_OPS typical lazy queries: evenly spaced, by
#   census time, over those between the 25th and 75th percentile of it; few
#   enough that a run holds several timed passes;
# - iterative_ops, run at the end of daily_batch: the operator loops named
#   as job storms (PageRank, CC dedup, RFM) plus one cheap eager query.
ANALYTICS_OPS = 6
ITERATIVE_RUN = [
    "e24_event_pagerank",
    "dd7_dup_clusters",
    "e11_rfm_scores",
    "dd1_exact_dedup",
]


def is_batch_query(name: str) -> bool:
    """Pipelines and streaming queries belong to the daily batch."""
    return name.startswith(("pipeline", "stb")) or (
        name.startswith("st") and name[2:3].isdigit()
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(__file__), "manifest.json"))
    args = ap.parse_args()
    work = harness.prepare("census")
    try:
        import gen

        data = os.path.join(work, "sf0.1")
        gen.write_tables(data, args.seed)
        spark, _, _ = harness.start_session(work)
        from market_data_pipeline_spark.plans.driver_queries import QUERIES

        sc = spark.sparkContext
        rows = {}
        for i, (name, fn) in enumerate(QUERIES.items()):
            group = f"census-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, data)
            build_s = time.perf_counter() - t0
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            df.write.mode("overwrite").format("noop").save()
            total_s = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            rows[name] = {
                "build_s": round(build_s, 3),
                "build_jobs": build_jobs,
                "action_s": round(total_s - build_s, 3),
                "action_jobs": jobs - build_jobs,
            }
            print(name, rows[name], file=sys.stderr, flush=True)
        harness.stop_session(spark)
    finally:
        harness.cleanup(work)
    from market_data_pipeline_spark.plans.driver_queries import ORACLES

    manifest = build_manifest(rows, set(ORACLES), harness.cores(), args.seed)
    with open(args.out, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.write("\n")
    return 0


def build_manifest(rows: dict, oracled: set, cores: int, seed: int) -> dict:
    """Workload lists and run subsets from census ``rows``; ``oracled``
    names the queries that have a DuckDB oracle."""
    lazy = [n for n, r in rows.items() if not is_batch_query(n) and r["build_jobs"] == 0]
    eager = [n for n, r in rows.items() if not is_batch_query(n) and r["build_jobs"] > 0]
    by_cost = sorted((n for n in lazy if n in oracled),
                     key=lambda n: (rows[n]["build_s"] + rows[n]["action_s"], n))
    typical = by_cost[len(by_cost) // 4: 3 * len(by_cost) // 4]
    step = len(typical) / ANALYTICS_OPS
    return {
        "rule": "census at sf0.1, local[%d], seed %d: jobs fired while the "
        "query function builds its plan" % (cores, seed),
        "analytics_mix": lazy,
        "iterative_ops": eager,
        "batch_queries": [n for n in rows if is_batch_query(n)],
        "runs": {
            "analytics_mix": [typical[int(i * step)] for i in range(ANALYTICS_OPS)],
            "iterative_ops": [n for n in ITERATIVE_RUN if n in eager and n in oracled],
        },
        "census": rows,
    }


if __name__ == "__main__":
    sys.exit(main())
