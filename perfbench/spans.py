"""Tracing for the benchmark's traced run (``--trace 1``).

The engine is measured from outside: ``install`` wraps the public
functions of each engine layer so every call records a span (name, start,
end, parent, op). Spark jobs are read back from the driver's status store
after each op and attributed to the innermost span that was open when the
job was submitted. Spans and counts stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import Counter

PKG = "market_data_pipeline_spark"

# module -> layer name; operator modules become operators.<module>
LAYER_MODULES = {
    f"{PKG}.sources.catalog": "sources",
    f"{PKG}.plans.driver_queries": "plans",
    f"{PKG}.plans.tpch": "plans",
    f"{PKG}.plans.pipelines": "plans",
    f"{PKG}.storage.table": "storage",
    f"{PKG}.streaming.jobs": "streaming",
}
OPERATOR_MODULES = (
    "analytics bloom dedup events graph incremental multimodal quality rangejoin "
    "setops similarity skew text timeseries upsert util validate"
).split()
# memoized frame builders: a hit returns the object the last call with the
# same arguments returned
FRAME_FNS = ("price_frame", "returns_frame", "master_frame")
SCHEMA_FNS = ("read_parquet_cached_schema",)
LOAD_FNS = ("load_table", "read_parquet_cached_schema")

# the installed Tracer, looked up through sys.modules so that a wrapper
# pickled into a Python worker finds none there and just calls through
ACTIVE = None


class Span:
    __slots__ = ("sid", "parent", "op", "name", "t0", "t1", "py4j0", "py4j1")

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.py4j_calls = 0
        self.counts: Counter = Counter()
        self.jobs: list[dict] = []  # {"op", "span", "submit", "end", stage sums}
        self._last: dict = {}
        self.recording = False  # spans and counts only in the timed section
        # perf_counter -> epoch seconds, to place job timestamps in spans
        self.epoch = time.time() - time.perf_counter()

    def begin(self, name: str) -> Span:
        s = Span()
        s.sid = len(self.spans)
        s.parent = self.stack[-1].sid if self.stack else None
        s.op = self.op
        s.name = name
        s.py4j0 = self.py4j_calls
        s.t1 = s.py4j1 = None
        self.spans.append(s)
        self.stack.append(s)
        s.t0 = time.perf_counter()
        return s

    def end(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        s.py4j1 = self.py4j_calls
        while self.stack and self.stack.pop() is not s:
            pass

    def note_return(self, kind: str, key, value) -> None:
        """Count a memo lookup as a hit when it returned the same object as
        the previous call with the same key (calls before recording starts
        only remember what they returned)."""
        hit = self._last.get((kind, key)) is value
        self._last[(kind, key)] = value
        if self.recording:
            self.counts[f"{kind}.calls"] += 1
            self.counts[f"{kind}.hits"] += int(hit)


def _key(args, kwargs):
    return repr(args[1:]) + repr(sorted(kwargs.items()))


def _wrap(fn, name: str, memo: str | None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        mod = sys.modules.get(__name__)
        tracer = getattr(mod, "ACTIVE", None)
        if tracer is None:
            return fn(*args, **kwargs)
        if not tracer.recording:
            out = fn(*args, **kwargs)
        else:
            s = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(s)
        if memo is not None:
            tracer.note_return(memo, _key(args, kwargs), out)
        return out

    wrapper.__perfbench_original__ = fn
    return wrapper


def _layer_modules():
    """(module name, layer) for every instrumented module, imported now so
    that queries importing an operator inside their body get the wrapper."""
    import importlib

    out = dict(LAYER_MODULES)
    for m in OPERATOR_MODULES:
        out[f"{PKG}.operators.{m}"] = f"operators.{m}"
    for m in out:
        importlib.import_module(m)
    return list(out.items())


def install(tracer: Tracer) -> int:
    """Wrap every public function of the layer modules (and the public
    methods of ``ParquetTable``) wherever the engine's modules reference
    them, and count py4j round trips into ``tracer``. Spans are recorded
    only while ``tracer.recording`` is set. Returns the number of functions
    wrapped."""
    global ACTIVE
    wrapped: dict[int, object] = {}
    for modname, layer in _layer_modules():
        mod = sys.modules[modname]
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(obj):
                continue
            if obj.__module__ != modname or obj.__name__ == "query":
                continue
            memo = None
            if name in FRAME_FNS:
                memo = "frame"
            elif name in SCHEMA_FNS:
                memo = "schema"
            span = f"{layer}.{name}" if name in FRAME_FNS + LOAD_FNS else layer
            wrapped[id(obj)] = _wrap(obj, span, memo)
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith(PKG) or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, name, w)
    from market_data_pipeline_spark.storage.table import ParquetTable

    for name, obj in list(vars(ParquetTable).items()):
        if not name.startswith("_") and inspect.isfunction(obj):
            setattr(ParquetTable, name, _wrap(obj, f"storage.{name}", None))

    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        tracer.py4j_calls += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted
    ACTIVE = tracer
    return len(wrapped)


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_listener():
    """A StreamingQueryListener that totals start latency (query start to
    its first trigger), micro-batches, and batch time. Event timestamps
    come from the JVM, so listener-bus delay does not enter the numbers."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started: dict = {}
            self.first: dict = {}
            self.batches = 0
            self.batch_ms = 0

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = _epoch(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            self.batches += 1
            self.batch_ms += p.batchDuration
            self.first.setdefault(str(p.runId), _epoch(p.timestamp))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def totals(self) -> dict:
            start = sum(self.first[r] - t for r, t in self.started.items() if r in self.first)
            return {"start_s": start, "batches": self.batches, "batch_s": self.batch_ms / 1000.0}

    return Listener()


# -- status store ---------------------------------------------------------


class StatusReader:
    """Jobs and stage metrics from the driver's status store, fetched as
    JSON so one op costs a handful of py4j round trips."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.jvm = jvm
        self.gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self.gc_beans)

    def jobs(self, group: str) -> list[dict]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        if not ids:
            return []
        lst = self.jvm.java.util.ArrayList()
        for j in ids:
            lst.add(self.store.job(j))
        return json.loads(self.mapper.writeValueAsString(lst))

    def stages(self, stage_ids) -> list[dict]:
        lst = self.jvm.java.util.ArrayList()
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self.jvm.java.util.ArrayList(), False, self.no_quantiles
            )
            for i in range(attempts.size()):
                lst.add(attempts.apply(i))
        return json.loads(self.mapper.writeValueAsString(lst))


STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_ms": "executorRunTime",
    "shuffle_read": "shuffleReadBytes",
    "shuffle_write": "shuffleWriteBytes",
    "spill": "memoryBytesSpilled",
    "input": "inputBytes",
    "output": "outputBytes",
}


def collect_op_jobs(tracer: Tracer, reader: StatusReader, op: int, group: str) -> None:
    """Read the op's jobs and their stages and attribute each job to the
    innermost span of the op that was open when it was submitted."""
    jobs = reader.jobs(group)
    if not jobs:
        return
    seen: set[int] = set()
    stage_ids = []
    for j in jobs:
        for sid in j["stageIds"]:
            if sid not in seen:
                seen.add(sid)
                stage_ids.append(sid)
    by_stage = {}
    for st in reader.stages(stage_ids):
        by_stage.setdefault(st["stageId"], []).append(st)
    op_spans = [s for s in tracer.spans if s.op == op and s.t1 is not None]
    owned: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        submit = j.get("submissionTime") or 0
        end = j.get("completionTime") or submit
        rec = {"op": op, "job": j["jobId"], "stages": 0,
               "span": innermost(op_spans, submit / 1000.0 - tracer.epoch),
               "submit": submit, "end": end}
        for k in STAGE_FIELDS:
            rec[k] = 0
        for sid in j["stageIds"]:
            if sid in owned:
                continue  # a stage shared with an earlier job counts once
            owned.add(sid)
            for st in by_stage.get(sid, []):
                if st["status"] == "SKIPPED":
                    continue
                rec["stages"] += 1
                for k, f in STAGE_FIELDS.items():
                    rec[k] += st.get(f) or 0
        tracer.jobs.append(rec)


def innermost(spans: list[Span], t: float) -> int | None:
    """The sid of the latest-starting span whose interval contains ``t``
    (nested spans start later than their parents)."""
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
            best = s
    if best is None and spans:
        # millisecond job timestamps can fall just outside a short span:
        # take the span that ended closest before ``t``
        before = [s for s in spans if s.t1 <= t]
        best = max(before, key=lambda s: s.t1) if before else spans[0]
    return best.sid if best else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    out = {s["sid"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= s["t1"] - s["t0"]
    return out
