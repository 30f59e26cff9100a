"""SparkSession factory.

Defaults chosen for correctness-vs-oracle and 100 TB-scale discipline:

- **UTC session timezone**: timestamp values must hash-match a DuckDB oracle;
  a local timezone would silently shift epoch values.
- **AQE on**: runtime coalescing of shuffle partitions + skew-join splitting;
  at 100 TB this is what turns a fixed ``spark.sql.shuffle.partitions`` into
  a safe upper bound instead of a tuning cliff.
- **Arrow on**: any pandas edge (tests, toPandas, pandas UDFs) moves by
  columnar batch instead of pickled rows.
- **Shuffle partitions**: small default for local test scale; production
  entry points should set ``spark.sql.shuffle.partitions`` to ~2-3x total
  cores and let AQE coalesce down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> None:
    """Make this package importable by python worker/daemon processes.

    The worker daemon is launched with the JVM's environment, not the
    driver's ``sys.path``; the custom preloading daemon module
    (``daemon_preload``) must be resolvable there. Must run before the JVM
    starts (harmless no-op afterwards).
    """
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + existing if existing else "")
        )


def get_spark(
    app_name: str = "market-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real cluster pass ``None`` with a pre-set master URL in
    the environment and this is a no-op.

    **Session-defaults contract** (tests/test_session_contract.py): every
    timestamp result in the engine assumes a UTC session timezone at plan
    BUILD time — Spark resolves tz-aware expressions during analysis, so
    the zone in force when a DataFrame is constructed is baked into the
    plan. This factory pins UTC for sessions it builds; externally-built
    sessions are re-pinned by ``sources.catalog.ensure_session_defaults``,
    which every public entry path (``load_table``, the streaming jobs)
    routes through. Don't bypass ``load_table`` with a raw
    ``spark.read.parquet`` in query code.

    The generated-class cache size (``spark.sql.codegen.cache.maxEntries``)
    is a static conf: it takes effect only when this factory starts the
    driver JVM. A session built outside ``get_spark`` keeps Spark's
    default of 100 entries and recompiles on warm passes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _export_pythonpath()
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode runs all 32 executor threads inside the driver JVM —
        # the 1g default heap OOMs under concurrent joins. Only effective
        # at JVM launch (fresh process); harmless no-op afterwards.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Parquet writer defaults: snappy is the read-speed sweet spot; at
        # 100 TB switch to zstd for colder data via table properties.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Row-group min/max based skipping relies on sorted-within-file
        # layout written by storage.table; keep filter pushdown on.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) (events.ts) is unreadable by default;
        # read as long and convert in sources.catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Long-lived sessions (the 100+-query bench, notebook use)
        # accumulate localCheckpoint blocks and shuffle files whose cleanup
        # waits on a driver JVM GC; force one periodically so the block
        # manager doesn't balloon across hundreds of queries. 15s, not the
        # previous 60s: the r11 aged-session probe (BENCHNOTES "Round 11",
        # Arrow-UDF noise band) traced the 2-4x per-query bench noise band to
        # queries landing inside a bloated between-GC window — at 60s,
        # 4/15 aged-session k16 reps measured 6.0-9.3s vs a 1.5s floor;
        # at 15s, 0/12 reps exceeded 2.4s on a quiet box. The shorter
        # tick quarters the garbage-accumulation window; the System.gc()
        # it costs is a driver-side pause amortized across whole queries.
        .config("spark.cleaner.periodicGC.interval", "15s")
        # PySpark 4 wraps every DataFrame/Column method to capture the
        # user call site for error context; with it on, EACH wrapped call
        # pays getActiveSession + a conf read + a python stack walk + two
        # JVM thread-local updates (~3-4 py4j round trips). Plan BUILD
        # time is a per-query fixed cost in this engine (r12 census:
        # median 0.15s/query, ~25% of it this wrapper), so trade error
        # ergonomics for build latency. Cached module-wide by
        # pyspark.errors.utils.is_debugging_enabled on first wrapped call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark's cache of Janino-compiled generated classes (whole-stage
        # and expression code, keyed by source text) defaults to 100
        # entries, fewer than one warm perfbench analytics_mix pass needs
        # (~103): each warm pass evicted what the next one needed and
        # recompiled ~53 classes; at 4096 the median pass fell 2.10 ->
        # 1.79 s (local[4], 4 vCPUs). One pass over all 363 registered
        # queries compiles 3,807 distinct classes at sf0.01 (3,794 at
        # sf0.001; ~50-60 of them are new on every call), so 4096 holds
        # the registry's working set with ~7% headroom. Cost: JVM
        # Metaspace after one registry pass 242 MB vs 210 MB at 100
        # (~8.6 KB per retained class, so at most ~35 MB once full).
        # 0 disables the cache rather than lifting the bound. Static conf:
        # read once, when the driver JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Preload numpy/pandas/pyarrow in the worker daemon so forked
        # workers inherit them copy-on-write: N chained Arrow-python
        # stages x C cores = N*C workers, each otherwise paying the
        # ~1-2s import chain on first spawn (see daemon_preload.py).
        .config("spark.python.daemon.module", "market_data_pipeline_spark.daemon_preload")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
