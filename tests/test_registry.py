"""The registry's contents: every query the benchmark census names is
registered, with its oracle where it has one, and every registration
comes from a subject module (``driver_queries`` is the registration
point and registers none itself). A subject module that is never
imported fails here."""

from __future__ import annotations

import json
import os

from market_data_pipeline_spark.plans.driver_queries import ORACLES, QUERIES

MANIFEST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "manifest.json",
)


def test_registry_matches_census():
    with open(MANIFEST) as f:
        census = json.load(f)["census"]
    assert len(census) == 363
    assert set(QUERIES) == set(census)


def test_registrations_come_from_subject_modules():
    assert len(ORACLES) == 351 and set(ORACLES) <= set(QUERIES)
    home = "market_data_pipeline_spark.plans.driver_queries"
    assert [n for n, fn in QUERIES.items() if fn.__module__ == home] == []
