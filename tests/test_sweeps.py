"""Smoke tests for the round-7 adversarial parity sweeps: each sweep
builds its adversarial clone of sf0.001 and must run a representative
query subset CLEAN (exit 0). This keeps the sweep scripts from
bit-rotting and re-pins the bugs they found (NaN state poisoning,
unicode tokenization drift, >2^53 double rounding) at the query level.

The full sweeps (all 355 queries, ~4-12 min each) stay manual:
  python scripts/{empty,null,unicode,ties,extremes,zerovec,skew}_sweep.py
"""

from __future__ import annotations

import importlib
import os
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")

CASES = [
    # (module, representative queries — each a past finding or a cheap probe)
    ("empty_sweep", ["dq7_orphan_rates", "k12_mmr_diverse"]),
    ("null_sweep", ["dq7_orphan_rates", "e25_cohort_ltv", "tx25_langid_confusion"]),
    ("unicode_sweep", ["tx5_vocabulary", "tx10_repetition_stats", "tx4_fingerprint"]),
    ("ties_sweep", ["iv7_gap_histogram", "e30_hourly_conversion"]),
    ("extremes_sweep", ["dp4_price_histogram", "f16_oof_target_encoding"]),
    ("zerovec_sweep", ["k1_knn_topk", "sd1_semantic_dedup", "k11_norm_stats"]),
    ("skew_sweep", ["e11_rfm_scores", "ts9_rolling_corr", "j12_nation_top_customers"]),
]


@pytest.mark.parametrize("module,queries", CASES, ids=[c[0] for c in CASES])
def test_sweep_runs_clean(spark, module, queries, monkeypatch):
    if SCRIPTS not in sys.path:
        sys.path.insert(0, SCRIPTS)
    mod = importlib.import_module(module)
    monkeypatch.setattr(sys, "argv", [f"{module}.py", *queries])
    assert mod.main() == 0, f"{module} found divergences/crashes in {queries}"
