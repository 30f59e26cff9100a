"""Smoke tests for the driver contract: entry() runs, every queries()
entry returns a DataFrame at sf0.001, and every oracle key has a query."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_oracle_keys_subset_of_queries():
    qs, oras = E.queries(), E.oracle_sql()
    assert set(oras) <= set(qs)
    assert len(qs) >= 30


def test_recording_order_is_rolling_vintage():
    """r8 verdict #1 + r11 verdict #1: the driver records a ~50-row
    prefix of queries() order, so the order must be (never-green
    oracled first, then up to _TIER2_RESERVED never-RECORDED rows-only
    entries, then greens stalest-vintage first, remaining rows-only
    dead last) — computed from the CORRECTNESS trail, not
    hand-maintained sets."""
    qs, oras = E.queries(), E.oracle_sql()
    vint, ever = E._trail_rounds()
    names = list(qs)
    oracled = [n for n in names if n in oras]
    rows_only = [n for n in names if n not in oras]
    never_recorded = [n for n in rows_only if n not in ever]
    reserved = never_recorded[: E._TIER2_RESERVED]
    # interleave contract: tier0 nevers, reserved rows-only, greens,
    # then the rest of rows-only
    nevers = [n for n in oracled if vint.get(n, 0) == 0]
    greens = [n for n in oracled if vint.get(n, 0) > 0]
    tail_rows_only = [n for n in rows_only if n not in reserved]
    assert names[: len(nevers)] == nevers
    assert set(names[len(nevers) : len(nevers) + len(reserved)]) == set(reserved)
    assert names[len(nevers) + len(reserved) :] == greens + tail_rows_only
    vs = [vint[n] for n in greens]
    assert vs == sorted(vs)
    # the reservation self-retires: once every rows-only entry has a
    # driver row, the reserved block is empty and order reverts
    if not never_recorded:
        assert names == nevers + greens + tail_rows_only


def test_every_query_builds_plan(registry_plans):
    """Building the DataFrame (analysis phase) must succeed for every
    query; execution is covered by scripts/check_oracle.py and bench."""
    assert set(registry_plans) == set(E.queries())
    errors = {n: r["error"] for n, r in registry_plans.items() if "error" in r}
    assert not errors, f"queries that fail to build: {errors}"
    assert not [n for n, r in registry_plans.items() if not r["columns"]]
