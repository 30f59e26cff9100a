"""bench.py's per-family subtotals: a family is the query name's leading
letters, and each subtotal sums its members' best-of-2 wall times."""

from __future__ import annotations

from bench import family_subtotals


def test_family_subtotals_groups_by_prefix():
    timings = {"pipeline1_daily_update": 5.0, "pipeline3_daily_master_update": 10.4,
               "skw1_join_key_skew_profile": 0.8, "skw3_sharded_sessions": 1.3}
    assert family_subtotals(timings) == {"pipeline": 15.4, "skw": 2.1}
