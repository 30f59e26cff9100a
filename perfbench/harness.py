"""Process and session set-up shared by the benchmark's entry points.

Everything a run writes lives under ``<checkout>/.perfbench_work``: the
generated tables, Spark's local and warehouse directories, and the temp
directories the pipelines create. ``prepare`` must run before pyspark is
imported, because the JVM and ``tempfile`` read these settings once.

``prepare`` also makes this process a child subreaper: the Python worker
daemon the JVM forks outlives the JVM by a moment, and its workers outlive
the daemon, so once orphaned they are re-parented here. ``cleanup`` waits
for every such descendant to end, on every path out of a run.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare(tag: str) -> str:
    """Create a fresh work directory for this run and point every temp
    location at it. Returns the directory."""
    _become_subreaper()
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def _become_subreaper() -> None:
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _proc_stats() -> dict[int, list[str]]:
    """The fields of /proc/<pid>/stat after the command name, by pid."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    out[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                pass  # ended while listing
    return out


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = os.getpid()
    return [pid for pid, f in _proc_stats().items() if int(f[1]) == me]


def end_children(grace_s: float = 15.0) -> None:
    """Wait until this process has no child left, reaping each. As a
    subreaper it inherits every orphaned descendant, so no children means
    no descendants. Children still running after ``grace_s`` get SIGTERM,
    and SIGKILL after as long again."""
    t0 = time.monotonic()
    sent = None
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants,
    each with the children it has reaped (/proc stat fields 14-17)."""
    me = os.getpid()
    stats = _proc_stats()
    parent = {pid: int(f[1]) for pid, f in stats.items()}
    total = 0
    for pid, f in stats.items():
        p = pid
        while p != me and p in parent:
            p = parent[p]
        if p == me:
            total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def cleanup(work: str) -> None:
    """End every child process, then remove the run's work directory. A
    driver JVM still up (a run that failed before stopping Spark) is told
    to exit first."""
    context = sys.modules.get("pyspark.context")
    if context is not None and context.SparkContext._gateway is not None:
        stop_gateway(context.SparkContext._gateway)
    end_children()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK)
    except OSError:
        pass


def start_session(work: str):
    """The engine's own session factory on local[cores], plus a warm-up of
    the JVM and of the Python worker daemon. Returns (spark, start_s,
    worker_warm_s)."""
    from market_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    start_s = time.perf_counter() - t0

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def _noop(x):
        return x

    # real classes, not the strings postponed annotations would leave
    _noop.__annotations__ = {"x": pd.Series, "return": pd.Series}
    t0 = time.perf_counter()
    n = cores()
    spark.range(0, 100 * n, 1, n).select(pandas_udf(_noop, "long")("id")).write.mode(
        "overwrite"
    ).format("noop").save()
    return spark, start_s, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit. The Python worker
    daemon ends a moment later; ``cleanup`` waits for it."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        stop_gateway(gateway)


def stop_gateway(gateway) -> None:
    """Close the py4j gateway and wait for the driver JVM to exit."""
    import subprocess

    from py4j.protocol import Py4JError

    try:
        gateway.shutdown()
    except (Py4JError, OSError) as e:
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """High-water resident set of this process plus the driver JVM
    (VmHWM from /proc), in MB."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    return hwm("self") + hwm(jvm_pid)
