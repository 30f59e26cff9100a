"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The query surface is the registry in
``market_data_pipeline_spark.plans.driver_queries`` (``QUERIES``,
``ORACLES``), filled by the subject modules under ``plans/`` — one entry
per operator family from SURVEY §2 plus the Phase-6 LLM-pipeline
extensions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from market_data_pipeline_spark.plans.driver_queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the per-market daily
    summary (broadcast fact⋈dim join + grouped exact aggregation)."""
    return QUERIES["a6_daily_market_summary"](spark, "/root/testdata/sf0.001")


# Recording order (rolling, machine-derived — r8 verdict #1). The
# driver records only a ~50-row PREFIX of queries() iteration order per
# round, so the order IS the re-record policy. From round 9 on it is
# computed from the CORRECTNESS_r*.json trail itself instead of
# hand-maintained frozensets (rounds 2-8 drifted those three times):
#
#   tier 0 — oracled queries with NO hash-green driver row in ANY
#            correctness file: never-green backlog and this round's new
#            registrations alike (a new registration has no row yet).
#   tier 1 — green queries, OLDEST newest-green round first: the ~50
#            stalest greens are re-recorded every round, so no green
#            row ages past ~ceil(|registry| / 50) rounds (~7 at 359).
#   tier 0.5 — rows-only queries with NO row of ANY kind in the trail
#            (r11 verdict #1): with 363 queries vs a ~50-row window,
#            tier-1 re-records fill the window every round and tier-2
#            was structurally starved FOREVER — 7 registry entries had
#            literally never been driver-recorded. Reserve up to
#            _TIER2_RESERVED slots per round for them, cheapest first,
#            right after tier 0; once the driver records a row the
#            entry ages into plain tier 2 and frees its slot.
#   tier 2 — rows-only queries (no oracle) with at least one recorded
#            row: can never hash-green, recorded dead last.
#
# Within each tier, cheapest-first by the frozen sf0.1 cost table
# (BENCHQ_r14.json) so a time-budgeted window covers the most queries.

_TIER2_RESERVED = 5


def _trail_rounds() -> tuple[dict[str, int], dict[str, int]]:
    """One pass over the CORRECTNESS_r*.json trail. Returns two maps:

    - newest green: per query, the newest round with a hash_match=true
      row — the query's driver-trail vintage (tiers 0 and 1);
    - first seen: per query, the oldest round with ANY recorded row
      (hash-green or rows-only). Re-records never move it; a rows-only
      query absent from it has never been recorded (tier 0.5).
    """
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    newest: dict[str, int] = {}
    first: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.load(open(path))
        except Exception:
            continue  # a malformed trail file degrades order, not correctness
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            first[name] = min(first.get(name, rnd), rnd)
            if row.get("hash_match") is True:
                newest[name] = max(newest.get(name, 0), rnd)
    return newest, first


def _cost_table() -> dict[str, float]:
    """Measured sf0.1 per-query wall times (seconds), frozen in
    BENCHQ_r14.json. Used only to sort WITHIN each tier cheapest-first,
    so a time-budgeted recording window covers the most queries. A
    missing file degrades only the order, never correctness;
    new/unlisted queries default to mid-cost 1.0 via ``_COST.get``."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCHQ_r14.json")
    try:
        queries = json.load(open(path))["queries"]
    except Exception:
        return {}
    return {n: float(t) for n, t in queries.items() if isinstance(t, (int, float))}


_COST = _cost_table()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    vintage, ever = _trail_rounds()
    never_recorded_rows_only = sorted(
        (n for n in QUERIES if n not in ORACLES and n not in ever),
        key=lambda n: (_COST.get(n, 1.0), n),
    )
    reserved = set(never_recorded_rows_only[:_TIER2_RESERVED])

    def key(name: str):
        if name not in ORACLES:
            if name in reserved:  # reserved first-driver-row slots
                return (0.5, 0, _COST.get(name, 1.0), name)
            return (2, 0, _COST.get(name, 1.0), name)  # rows-only: dead last
        v = vintage.get(name, 0)
        if v == 0:
            return (0, 0, _COST.get(name, 1.0), name)  # never green / new
        return (1, v, _COST.get(name, 1.0), name)  # stalest green first

    return {n: QUERIES[n] for n in sorted(QUERIES, key=key)}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
