"""The superstep loops (operators/graph.py ``_superstep``): PageRank and
connected components cost a constant plus two Spark jobs per round, keep
their synchronous round semantics, and rely on an ``Observation`` being
delivered by an eager ``localCheckpoint``.

Jobs are counted as the census counts them: every job fired under one
job group while the operator builds its result.
"""

from __future__ import annotations

import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import dedup
from market_data_pipeline_spark.operators.graph import pagerank_fixed

# chain 1-2-3-4-5-6 joined through 6-25 to a star centred on 20 (leaves
# 21..25): min label 1 has to travel the whole chain and the star.
CHAIN_STAR = (
    [(i, i + 1) for i in range(1, 6)] + [(20, j) for j in range(21, 26)] + [(25, 6)]
)

PR_EDGES = [
    ("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "a"), ("a", "c"), ("e", "e"), ("a", "f"),
]


@contextmanager
def _jobs(spark):
    """Yields a callable returning the number of jobs fired so far inside
    the block."""
    sc = spark.sparkContext
    group = f"graph-loops-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_pagerank_fixed_two_jobs_per_iteration(spark):
    edges = spark.createDataFrame(PR_EDGES, "src string, dst string")
    for k in (1, 4):
        with _jobs(spark) as fired:
            out = pagerank_fixed(edges, iterations=k)
            jobs = fired()
        assert jobs <= 4 + 2 * k, (k, jobs)
    # exact integer ranks after 4 iterations, as the join-per-iteration
    # formulation computed them
    assert {r["node"]: r["rank_fp"] for r in out.collect()} == {
        "a": 284574690353326, "b": 144743849062818, "c": 223534249815131,
        "d": 38828011871462, "e": 216533268430102, "f": 91785930467140,
    }


def test_connected_components_rounds_and_jobs(spark):
    pairs = spark.createDataFrame(CHAIN_STAR, "doc_a long, doc_b long")
    with _jobs(spark) as fired:
        out = dedup.connected_components(pairs)
        jobs = fired()
    rounds = out._cc_audit["rounds"]
    assert rounds == [10, 6, 9, 8, 7, 6, 5, 4, 0]
    assert jobs <= 3 + 2 * len(rounds), (rounds, jobs)
    assert {r["component"] for r in out.collect()} == {1}
    # synchronous rounds: after 3 every node holds the min label within
    # distance 3 (a node updated in round i does not forward the new
    # label until round i+1)
    out3 = dedup.connected_components(pairs, max_iterations=3)
    assert dict(out3.collect()) == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 3,
        20: 5, 21: 6, 22: 6, 23: 6, 24: 6, 25: 4,
    }


def _get_within(obs, seconds):
    """``obs.get`` in a daemon thread; fails instead of hanging when the
    metrics are never delivered (``Observation.get`` has no timeout)."""
    box = {}
    t = threading.Thread(target=lambda: box.setdefault("row", obs.get), daemon=True)
    t.start()
    t.join(seconds)
    assert "row" in box, (
        f"Observation not delivered within {seconds}s of an eager "
        "localCheckpoint: the superstep loops in operators/graph.py would hang"
    )
    return box["row"]


def test_observation_delivered_by_eager_local_checkpoint(spark):
    rows = spark.createDataFrame([(1, 2), (1, 3), (2, 5)], "k long, v long")
    for frame, want in ((rows, {"n": 2, "s": 10}), (rows.limit(0), {"n": 0, "s": None})):
        obs = Observation()
        (
            frame.groupBy("k")
            .agg(F.sum("v").alias("v"))
            .observe(obs, F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .localCheckpoint(eager=True)
        )
        assert _get_within(obs, 60) == want


def test_null_nodes_keep_join_semantics(spark):
    """A NULL node neither sends nor receives, as an equi-join on NULL
    would have it: PageRank counts it dangling and CC leaves it unlabeled
    (values as the join-per-iteration formulation computed them)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("a", None), (None, "a"), ("b", "c"), (None, None), ("c", "a")],
        "src string, dst string",
    )
    assert dict(pagerank_fixed(edges, iterations=3).collect()) == {
        "a": 240047363281250, "b": 183187011718750,
        "c": 207309082031250, None: 49561035156250,
    }
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4), (None, None)], "doc_a long, doc_b long"
    )
    out = dedup.connected_components(pairs)
    assert dict(out.collect()) == {1: 1, 2: 1, 3: 3, 4: 3, None: None}
    assert out._cc_audit == {"rounds": [2, 0], "converged": True}
