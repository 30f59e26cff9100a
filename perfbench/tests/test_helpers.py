"""Unit tests for the benchmark's own helpers (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from check import rows_hash  # noqa: E402
from metrics import layer_of, percentile, samples_beyond  # noqa: E402
from spans import innermost, self_times  # noqa: E402


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile([7.0], 0.9) == 7.0
    assert percentile([3, 1, 2], 0.5) == 2
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_tail_needs_ten_samples_beyond():
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(99, 0.9) == 9
    assert samples_beyond(1, 0.9) == 0


def test_rows_hash_ignores_row_and_column_order():
    a = [{"x": 1, "y": 0.1 + 0.2}, {"x": 2, "y": float("nan")}]
    b = [{"y": float("nan"), "x": 2}, {"y": 0.3, "x": 1}]
    assert rows_hash(["x", "y"], a, norm) == rows_hash(["y", "x"], b, norm)
    assert rows_hash(["x", "y"], a, norm)[0] == 2


def test_rows_hash_sees_value_and_multiplicity_changes():
    a = [{"x": 1}, {"x": 1}]
    assert rows_hash(["x"], a, norm) != rows_hash(["x"], a[:1], norm)
    assert rows_hash(["x"], a, norm) != rows_hash(["x"], [{"x": 1}, {"x": 2}], norm)


def _span(sid, parent, t0, t1, name="x"):
    return {"sid": sid, "parent": parent, "t0": t0, "t1": t1, "name": name}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 6.0, "plans"),
        _span(2, 1, 2.0, 5.0, "sources"),
        _span(3, 2, 3.0, 4.0, "sources"),
        _span(4, 0, 6.0, 9.5, "exec"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 1.5, 1: 2.0, 2: 2.0, 3: 1.0, 4: 3.5})
    assert sum(st.values()) == pytest.approx(10.0)


def test_innermost_span_owns_a_job():
    class S:
        def __init__(self, sid, t0, t1):
            self.sid, self.t0, self.t1 = sid, t0, t1

    spans = [S(0, 0.0, 10.0), S(1, 1.0, 6.0), S(2, 2.0, 3.0)]
    assert innermost(spans, 2.5) == 2
    assert innermost(spans, 4.0) == 1
    assert innermost(spans, 8.0) == 0


def test_layer_names():
    assert layer_of("operators.dedup") == "operators.dedup"
    assert layer_of("plans.price_frame") == "plans"
    assert layer_of("storage.upsert_absent") == "storage"


def test_price_cycle_is_deterministic_and_consistent():
    a, b = gen.price_cycle(7, symbols=20, history_days=5), gen.price_cycle(7, symbols=20, history_days=5)
    assert a == b
    assert gen.price_cycle(8, symbols=20, history_days=5)["history"] != a["history"]
    keys = {(r[0], r[1]) for r in a["history"]}
    for rows, n in zip(a["increments"], a["inserted"]):
        new = {(r[0], r[1]) for r in rows} - keys
        assert len(new) == n
        keys |= new
    assert set(a["expected"]) == keys
    for r in a["revisions"]:
        assert a["expected"][(r[0], r[1])] == r  # the latest update_dt wins


def test_tables_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(str(tmp_path / "a"), 3, sf=0.001)
    gen.write_tables(str(tmp_path / "b"), 3, sf=0.001)
    for t in ("lineitem", "events", "documents", "embeddings"):
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet")
        )
    assert pq.read_table(tmp_path / "a" / "lineitem.parquet").num_rows == 6000


def test_end_children_waits_for_orphaned_grandchildren(tmp_path):
    import subprocess

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # the shell exits at once and leaves its background sleep orphaned;
    # a subreaper inherits it and end_children must wait for it
    code = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {here!r})\n"
        "import harness\n"
        "harness._become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 0.5 & echo $!'], stdout=open('pid', 'w'))\n"
        "t0 = time.monotonic()\n"
        "harness.end_children()\n"
        "assert time.monotonic() - t0 > 0.3\n"
        "assert harness._children() == []\n"
        "assert not os.path.exists(f'/proc/{open(\"pid\").read().strip()}')\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd=tmp_path, timeout=60)
