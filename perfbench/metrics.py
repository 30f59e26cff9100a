"""Turning a run's samples and spans into the reported numbers.

Pure functions over plain dicts, so the run, the report and the tests
share them.
"""

from __future__ import annotations

import math

from spans import self_times

MB = 1024.0 * 1024.0
# each price-cycle op is named price.<step>[.<n>]
STORAGE_STEPS = ("overwrite", "upsert", "compact", "read_current")
OPERATOR_LAYERS = ("dedup", "graph", "similarity", "text", "events")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q`` percentile."""
    return n - max(1, math.ceil(q * n))


def layer_of(span_name: str) -> str:
    """``operators.dedup`` keeps two parts; every other layer is the first
    part of the span name (``plans.price_frame`` -> ``plans``)."""
    parts = span_name.split(".")
    if parts[0] == "operators":
        return ".".join(parts[:2])
    return parts[0]


def _ratio(hits: float, calls: float) -> float:
    return hits / calls if calls else 0.0


def layer_metrics(trace: dict) -> dict[str, float]:
    """Per-layer metrics of one traced run. ``trace`` holds ``spans``,
    ``jobs``, ``counts``, ``ops`` (one record per timed op: ``op``,
    ``name``, ``t``, ``gc_ms``), ``passes``, ``cores`` and the workload's
    extras. Sums are per pass over the op list; ratios are not."""
    spans = trace["spans"]
    by_sid = {s["sid"]: s for s in spans}
    selfs = self_times(spans)
    passes = max(trace.get("passes", 1), 1)
    ops = trace["ops"]
    jobs = trace["jobs"]
    counts = trace.get("counts", {})
    out: dict[str, float] = {}

    def inside(sid, prefix) -> bool:
        while sid is not None:
            s = by_sid[sid]
            if s["name"].startswith(prefix):
                return True
            sid = s["parent"]
        return False

    def dur(s) -> float:
        return s["t1"] - s["t0"]

    def top(prefix):
        """Spans of ``prefix`` not nested in another span of it."""
        return [
            s for s in spans
            if s["name"].startswith(prefix)
            and not (s["parent"] is not None and inside(s["parent"], prefix))
        ]

    out["session.start_s"] = trace.get("session_start_s", 0.0)
    out["session.worker_warm_s"] = trace.get("session_worker_warm_s", 0.0)

    plan_spans = top("plans")
    query_spans = [s for s in plan_spans if s["parent"] is not None
                   and by_sid[s["parent"]]["name"] == "op"]
    eager = [j for j in jobs if j["span"] is not None and not inside(j["span"], "exec")]
    eager_ops = {j["op"] for j in eager}
    out["plans.build_s"] = sum(dur(s) for s in query_spans if s["op"] not in eager_ops) / passes
    out["plans.py4j_calls"] = sum(s["py4j1"] - s["py4j0"] for s in query_spans) / passes
    out["plans.eager_s"] = sum(j["end"] - j["submit"] for j in eager) / 1000.0 / passes
    out["plans.eager_jobs"] = len(eager) / passes
    out["plans.frame_cache_hit_ratio"] = _ratio(counts.get("frame.hits", 0), counts.get("frame.calls", 0))

    loads = top("sources")
    out["sources.load_calls"] = len(loads) / passes
    out["sources.load_s"] = sum(dur(s) for s in loads) / passes
    out["sources.schema_hit_ratio"] = _ratio(counts.get("schema.hits", 0), counts.get("schema.calls", 0))

    for layer in OPERATOR_LAYERS:
        name = f"operators.{layer}"
        out[f"{name}.self_s"] = sum(selfs[s["sid"]] for s in spans if layer_of(s["name"]) == name) / passes
        out[f"{name}.jobs"] = sum(
            1 for j in jobs if j["span"] is not None and layer_of(by_sid[j["span"]]["name"]) == name
        ) / passes

    op_wall = sum(o["t"] for o in ops)
    task_s = sum(j["task_ms"] for j in jobs) / 1000.0
    out["exec.action_s"] = sum(dur(s) for s in top("exec")) / passes
    out["exec.gc_s"] = sum(o["gc_ms"] for o in ops) / 1000.0 / passes
    out["exec.jobs"] = len(jobs) / passes
    out["exec.stages"] = sum(j["stages"] for j in jobs) / passes
    out["exec.tasks"] = sum(j["tasks"] for j in jobs) / passes
    out["exec.task_s"] = task_s / passes
    out["exec.slot_util"] = task_s / (op_wall * trace["cores"]) if op_wall else 0.0
    out["exec.shuffle_read_mb"] = sum(j["shuffle_read"] for j in jobs) / MB / passes
    out["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in jobs) / MB / passes
    out["exec.spill_mb"] = sum(j["spill"] for j in jobs) / MB / passes
    out["exec.input_mb"] = sum(j["input"] for j in jobs) / MB / passes

    for step in STORAGE_STEPS:
        out[f"storage.{step}_s"] = sum(
            o["t"] for o in ops if o["name"].split(".")[:2] == ["price", step]
        ) / passes
    out["storage.jobs"] = sum(
        1 for j in jobs if j["span"] is not None and inside(j["span"], "storage")
    ) / passes
    price_ops = {o["op"] for o in ops if o["name"].startswith("price.")}
    written = sum(j["output"] for j in jobs if j["op"] in price_ops)
    out["storage.bytes_written_per_row"] = _ratio(written, trace.get("rows_landed", 0))
    out["storage.files_per_partition"] = trace.get("files_per_partition", 0.0)

    stream = trace.get("streaming", {})
    out["streaming.start_s"] = stream.get("start_s", 0.0) / passes
    out["streaming.batches"] = stream.get("batches", 0) / passes
    out["streaming.batch_s"] = stream.get("batch_s", 0.0) / passes

    root_self = [selfs[s["sid"]] / dur(s) for s in spans if s["name"] == "op" and dur(s) > 0]
    out["trace.max_unattributed_share"] = max(root_self, default=0.0)
    out["trace.wall_s"] = trace.get("wall_s", 0.0)
    return out
