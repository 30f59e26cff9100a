"""Per-layer report over the benchmark's run records.

Usage: python3 perfbench/report.py [runs_dir]

Reads every record ``run.py`` wrote (default ``.perfbench_work/runs``) and
prints, per workload: self time by layer per pass, the per-layer metrics
(median over traced runs), the share of ops whose layer self times cover
at least 95% of their wall time, and the tracing overhead: median traced
``wall_s`` minus median untraced ``wall_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import WORK  # noqa: E402
from metrics import layer_of  # noqa: E402
from spans import self_times  # noqa: E402


def layer_self_times(trace: dict) -> dict[str, float]:
    """Self time per layer, per pass; the op root's own time is ``bench``."""
    out: dict[str, float] = defaultdict(float)
    selfs = self_times(trace["spans"])
    for s in trace["spans"]:
        name = "bench" if s["name"] == "op" else layer_of(s["name"])
        out[name] += selfs[s["sid"]]
    passes = max(trace.get("passes", 1), 1)
    return {k: v / passes for k, v in out.items()}


def op_coverage(trace: dict) -> list[float]:
    """Per op: share of its wall time covered by layer spans."""
    selfs = self_times(trace["spans"])
    return [
        1.0 - selfs[s["sid"]] / (s["t1"] - s["t0"])
        for s in trace["spans"]
        if s["name"] == "op" and s["t1"] > s["t0"]
    ]


def main() -> int:
    runs_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(WORK, "runs")
    records = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(runs_dir, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        records[rec["workload"]].append(rec)
    if not records:
        print(f"no run records under {runs_dir}", file=sys.stderr)
        return 1
    for workload, recs in sorted(records.items()):
        plain = [r for r in recs if not r["trace"]]
        traced = [r for r in recs if r["trace"]]
        print(f"== {workload}: {len(plain)} untraced, {len(traced)} traced run(s)")
        for r in plain:
            e = {**r["end_to_end"], **r["extra"]}
            print(f"  seed {r['seed']:>4}  " + "  ".join(f"{k}={v:.4f}" for k, v in e.items())
                  + f"  failed={r['failed']}/{r['attempted']}")
        if not traced:
            continue
        selfs = defaultdict(list)
        for r in traced:
            for k, v in layer_self_times(r["trace"]).items():
                selfs[k].append(v)
        print("  self time per pass by layer (median over traced runs):")
        for k in sorted(selfs, key=lambda k: -statistics.median(selfs[k])):
            print(f"    {k:24s} {statistics.median(selfs[k]):10.4f} s")
        print("  per-layer metrics (median over traced runs):")
        for k in traced[0]["layers"]:
            print(f"    {k:34s} {statistics.median(r['layers'][k] for r in traced):14.6f}")
        cov = [c for r in traced for c in op_coverage(r["trace"])]
        print(f"  ops whose layer self times cover >=95% of wall: "
              f"{sum(c >= 0.95 for c in cov)}/{len(cov)} (min {min(cov, default=0):.4f})")
        if plain:
            on = statistics.median(r["end_to_end"]["wall_s"] for r in traced)
            off = statistics.median(r["end_to_end"]["wall_s"] for r in plain)
            print(f"  tracing overhead: traced wall_s {on:.4f} - untraced {off:.4f} = "
                  f"{on - off:+.4f} s ({(on - off) / off:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
