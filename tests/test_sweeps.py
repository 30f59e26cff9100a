"""Smoke tests for the adversarial parity sweeps (scripts/sweep.py): each
case builds one adversary's clone of sf0.001 and runs a representative
query subset through the oracle gate's loop on the test session, which
must come back CLEAN. This keeps the adversary table from bit-rotting and
re-pins the bugs the sweeps found (NaN state poisoning, unicode
tokenization drift, >2^53 double rounding) at the query level.

The full sweeps (all 363 queries per adversary) stay manual:
  python scripts/sweep.py <adversary>|all
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
import sweep  # noqa: E402

CASES = [
    # (adversary, representative queries — each a past finding or a cheap probe)
    ("empty", ["dq7_orphan_rates", "k12_mmr_diverse", "r2_rollup_market_year",
               "r3_cube_flag_status"]),
    ("null", ["dq7_orphan_rates", "e25_cohort_ltv", "tx25_langid_confusion"]),
    ("unicode", ["tx5_vocabulary", "tx10_repetition_stats", "tx4_fingerprint"]),
    ("ties", ["iv7_gap_histogram", "e30_hourly_conversion"]),
    ("extremes", ["dp4_price_histogram", "f16_oof_target_encoding"]),
    ("zerovec", ["k1_knn_topk", "sd1_semantic_dedup", "k11_norm_stats"]),
    ("skew", ["e11_rfm_scores", "ts9_rolling_corr", "j12_nation_top_customers"]),
]


# ids keep the suite's historical test names
@pytest.mark.parametrize("adversary,queries", CASES, ids=[f"{c[0]}_sweep" for c in CASES])
def test_sweep_runs_clean(spark, adversary, queries, tmp_path):
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    tally = sweep.sweep(spark, adversary, queries, str(tmp_path))
    assert tally["FAIL"] == 0, f"{adversary} found divergences/crashes in {queries}"
    assert tally["PASS"] + tally["WARN"] + tally["rows-only"] == len(queries)
    # the sweep runs on the caller's session and leaves its settings alone
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
