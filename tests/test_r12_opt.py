"""Round-12 optimization invariants.

Pins the semantics of the r12 fixed-cost optimizations:

- the stat-keyed parquet schema cache returns exactly the inference
  schema, and a REWRITTEN file (new stat) re-infers instead of serving
  the stale schema;
- ``ParquetTable.upsert_absent`` still reports exact inserted counts now
  that the count rides the write job via an Observation (including the
  zero-insert day);
- ``run_stream_to_memory`` honors an explicit durable checkpoint path;
- ``pagerank_fixed``'s join-free dangling aggregation returns exactly
  (node, rank_fp) with the same mass as the per-iteration-join version
  it replaced (value pin on a graph WITH a dangling node).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.sources import catalog as cat


def test_schema_cache_hit_matches_inference(spark, sf_dir, tmp_path):
    path = os.path.join(sf_dir, "lineitem.parquet")
    inferred = spark.read.parquet(path).schema
    first = cat.read_parquet_cached_schema(spark, path).schema
    second = cat.read_parquet_cached_schema(spark, path).schema  # cache hit
    assert first == inferred
    assert second == inferred


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(3).select(F.col("id").alias("a")).write.parquet(p)
    s1 = cat.read_parquet_cached_schema(spark, p).schema
    assert [f.name for f in s1] == ["a"]
    # rewrite with a DIFFERENT schema at the same path: the stat key
    # (mtime_ns, size) changes, so the cache must re-infer
    import shutil

    shutil.rmtree(p)
    spark.range(3).select(
        F.col("id").alias("a"), F.lit("x").alias("b")
    ).write.parquet(p)
    spark.catalog.refreshByPath(p)
    s2 = cat.read_parquet_cached_schema(spark, p).schema
    assert [f.name for f in s2] == ["a", "b"]


def test_schema_cache_missing_path_raises_like_plain_reader(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(Exception):
        cat.read_parquet_cached_schema(spark, missing).schema


def test_upsert_absent_observed_counts(spark, tmp_path):
    from market_data_pipeline_spark.storage.table import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "tbl"), key=["k"])
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert t.upsert_absent(base) == 2  # bootstrap
    mixed = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    assert t.upsert_absent(mixed) == 1  # one genuinely new
    assert t.upsert_absent(mixed) == 0  # zero-insert day (observed count)
    rows = {r["k"] for r in t.read_current().collect()}
    assert rows == {1, 2, 3}


def test_stream_explicit_checkpoint_param(spark, sf_dir, tmp_path):
    from market_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_stream_to_memory,
        streaming_tumbling,
    )

    ckpt = str(tmp_path / "ckpt")
    out = run_stream_to_memory(
        streaming_tumbling(read_events_stream(spark, sf_dir)),
        name="t_r12_ckpt_param",
        checkpoint_dir=ckpt,
    )
    assert out.count() > 0
    # the durable path is used (offsets/commits land there)
    assert os.path.isdir(os.path.join(ckpt, "offsets"))


def test_pagerank_fixed_dangling_mass_join_free(spark):
    from market_data_pipeline_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_fixed,
    )

    # b and c are dangling (no out-edges) — the conditional-aggregate
    # path must redistribute their mass exactly as the old per-iteration
    # anti-join did. Reference values from the pure-python integer
    # recurrence (same as tests/test_properties_round9 pins).
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("d", "a")], "src string, dst string"
    )
    out = pagerank_fixed(edges, iterations=3)
    assert out.columns == ["node", "rank_fp"]
    got = {r["node"]: r["rank_fp"] for r in out.collect()}

    # pure-python replay of the documented integer recurrence
    nodes = ["a", "b", "c", "d"]
    n = len(nodes)
    out_edges = {"a": ["b", "c"], "d": ["a"]}
    ranks = {v: PAGERANK_SCALE // n for v in nodes}
    base = (15 * PAGERANK_SCALE) // (100 * n)
    for _ in range(3):
        contrib = {v: 0 for v in nodes}
        for src, dsts in out_edges.items():
            d = len(dsts)
            r = ranks[src]
            for dst in dsts:
                contrib[dst] += (r // d) + ((r % d) * 1) // d
        dang = sum(ranks[v] for v in nodes if v not in out_edges)
        ranks = {
            v: base + (17 * (contrib[v] + dang // n)) // 20 for v in nodes
        }
    assert got == ranks


# --- session-2 optimization invariants (lazy ntile/rank, plan memos) -----


def _job_counter(spark) -> int:
    # DAGScheduler.nextJobId is an AtomicInteger; py4j unboxes .get-less
    # access to the current int value
    return spark._jsc.sc().dagScheduler().nextJobId()


def test_global_ntile_builds_lazily_and_matches_window(spark):
    """r12 session-2: global_ntile must not run the per-call driver
    OFFSETS job at plan-build time (the offsets ride an in-plan window +
    broadcast join, not a driver collect) and still assign buckets
    bit-identically to NTILE(). Note: localCheckpoint(eager=False)
    itself still executes its shuffle stages under AQE when the plan is
    first walked, so 'lazy' here means 'no more jobs than the old build
    MINUS its count/collect' — pinned as a strict job-count reduction
    vs the driver-collect formulation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.operators import analytics as A

    df = spark.createDataFrame(
        [(f"s{i:03d}", (i * 37) % 19) for i in range(200)], "k string, v int"
    )
    j0 = _job_counter(spark)
    out = A.global_ntile(df, [F.desc("v"), F.col("k")], 7, out_col="b")
    new_jobs = _job_counter(spark) - j0
    # the old formulation additionally ran groupBy(_pid).count().collect()
    j1 = _job_counter(spark)
    ranged = df.repartitionByRange(4, F.desc("v"), F.col("k")).localCheckpoint(
        eager=False
    )
    ranged.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").agg(
        F.count("*")
    ).collect()
    old_jobs = _job_counter(spark) - j1
    assert new_jobs < old_jobs, (new_jobs, old_jobs)
    got = {
        (r["k"], r["b"])
        for r in out.select("k", "b").collect()
    }
    want = {
        (r["k"], r["b"])
        for r in df.withColumn(
            "b", F.ntile(7).over(Window.orderBy(F.desc("v"), F.col("k"))).cast("long")
        ).collect()
    }
    assert got == want


def test_global_rank_cumsum_builds_lazily(spark):
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.operators import analytics as A

    df = spark.createDataFrame(
        [(i, (i * 13) % 7 + 1) for i in range(100)], "id long, v long"
    )
    j0 = _job_counter(spark)
    out = A.global_rank_cumsum(df, [F.col("id")], "v", "rk", "cs")
    new_jobs = _job_counter(spark) - j0
    j1 = _job_counter(spark)
    ranged = df.repartitionByRange(4, F.col("id")).localCheckpoint(eager=False)
    ranged.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").agg(
        F.count("*"), F.sum("v")
    ).collect()
    old_jobs = _job_counter(spark) - j1
    assert new_jobs < old_jobs, (new_jobs, old_jobs)
    rows = {r["id"]: (r["rk"], r["cs"]) for r in out.collect()}
    acc = 0
    for i in range(100):
        acc += (i * 13) % 7 + 1
        assert rows[i] == (i + 1, acc)


def test_lsh_bucket_single_expr_matches_python(spark):
    """lsh_bucket is now one parsed SQL expression; its sign pattern must
    equal the straightforward python dot-product signs."""
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.operators.similarity import (
        lsh_bucket,
        random_hyperplanes,
    )

    dim, n_planes = 8, 5
    planes = random_hyperplanes(dim, n_planes, seed=7)
    vecs = [
        (i, [((i * 31 + j * 17) % 13 - 6) / 3.0 for j in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", lsh_bucket("embedding", planes).alias("b")
        ).collect()
    }
    for i, v in vecs:
        want = 0
        for p_i, p in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, p):
                acc += float(x) * float(y)
            if acc >= 0:
                want |= 1 << p_i
        assert got[i] == want, f"vec {i}: {got[i]} != {want}"


def test_plan_memos_share_and_clear(spark, sf_dir):
    """master_frame / filtered price_frame memoize the lazy PLAN through
    staged_frame — same object on repeat calls, a different symbols list
    gives a different plan — and a plan-only entry is served only while
    its inputs are the same objects (a rewritten table's new relation
    rebuilds it), LRU-bounded per (session, name)."""
    from market_data_pipeline_spark.plans import driver_queries as dq
    from market_data_pipeline_spark.sources import catalog as cat

    m1 = dq.master_frame(spark, sf_dir)
    m2 = dq.master_frame(spark, sf_dir)
    assert m1 is m2
    p1 = dq.price_frame(spark, sf_dir, symbols=["3", "7"])
    p2 = dq.price_frame(spark, sf_dir, symbols=["3", "7"])
    assert p1 is p2
    assert dq.price_frame(spark, sf_dir, symbols=["3"]) is not p1

    built = []

    def build(df):
        built.append(df)
        return df.select("id")

    a, b = spark.range(1), spark.range(1)
    f1 = cat.staged_frame(spark, "/memo", "probe", (a,), build)
    assert cat.staged_frame(spark, "/memo", "probe", (a,), build) is f1
    f2 = cat.staged_frame(spark, "/memo", "probe", (b,), build)
    assert f2 is not f1 and built == [a, b]
    cap = cat._STAGED_CAP[False]
    for i in range(cap + 1):
        cat.staged_frame(spark, f"/memo{i}", "probe", (a,), build)
    kept = [k[1] for k in cat._STAGED if k[0] is spark and k[2] == "probe"]
    assert kept == [f"/memo{i}" for i in range(1, cap + 1)]
    assert dq.master_frame(spark, sf_dir) is m1  # other names untouched


def test_load_table_memoizes_relation_until_rewrite(spark, tmp_path):
    """read_parquet_cached_schema returns the SAME DataFrame for an
    unchanged file version (plan-object reuse, no data caching) and a
    FRESH one after the file is replaced."""
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.sources import catalog as cat

    p = str(tmp_path / "memo.parquet")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(p)
    d1 = cat.read_parquet_cached_schema(spark, p)
    d2 = cat.read_parquet_cached_schema(spark, p)
    assert d1 is d2
    import shutil

    shutil.rmtree(p)
    spark.range(3).select(F.col("id").alias("a")).write.parquet(p)
    spark.catalog.refreshByPath(p)
    d3 = cat.read_parquet_cached_schema(spark, p)
    assert d3 is not d1
    assert d3.count() == 3
