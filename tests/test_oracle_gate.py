"""Regression tests for the local oracle gate's degenerate-empty guard
(r6 verdict #2: a 0-row two-sided match printed PASS and hid two broken
query drafts in round 6 — a26's unfillable 60-obs window and tx36's
terminator-less corpus). These drive scripts/check_oracle.compare, the
exact code path the gate runs."""

import importlib.util
import os
import sys

spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "check_oracle.py"),
)
check_oracle = importlib.util.module_from_spec(spec)
sys.modules["check_oracle"] = check_oracle
spec.loader.exec_module(check_oracle)


def test_empty_two_sided_match_fails():
    status, msg = check_oracle.compare("some_query", ["a", "b"], [], ["a", "b"], [])
    assert status == "FAIL"
    assert "degenerate" in msg


def test_whitelisted_empty_passes(monkeypatch):
    monkeypatch.setitem(
        check_oracle.MAY_BE_EMPTY, "inv_check", "invariant holds by design"
    )
    status, msg = check_oracle.compare("inv_check", ["a"], [], ["a"], [])
    assert status == "PASS"
    assert "whitelisted" in msg


def test_nonempty_match_passes():
    srows = [{"a": 1, "b": 2.0}, {"a": 2, "b": 3.5}]
    status, msg = check_oracle.compare(
        "q", ["a", "b"], srows, ["b", "a"], [{"a": 2, "b": 3.5}, {"a": 1, "b": 2.0}]
    )
    assert status == "PASS"
    assert "2 rows" in msg


def test_value_mismatch_fails():
    status, msg = check_oracle.compare(
        "q", ["a"], [{"a": 1}], ["a"], [{"a": 2}]
    )
    assert status == "FAIL"
    assert "values differ" in msg


def test_rowcount_mismatch_fails():
    status, _ = check_oracle.compare("q", ["a"], [{"a": 1}], ["a"], [])
    assert status == "FAIL"


def test_column_mismatch_fails():
    status, _ = check_oracle.compare("q", ["a"], [], ["b"], [])
    assert status == "FAIL"


def test_one_sided_empty_is_rowcount_not_degenerate():
    # Only a TWO-sided empty is the vacuous case; one-sided empties are
    # ordinary rowcount failures and must not mention the whitelist.
    status, msg = check_oracle.compare("q", ["a"], [], ["a"], [{"a": 1}])
    assert status == "FAIL"
    assert "rowcount" in msg
