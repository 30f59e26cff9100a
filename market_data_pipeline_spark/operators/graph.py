"""Iterative graph algorithms on DataFrames (extension family).

PageRank here and connected components (`operators/dedup.py`) are both
synchronous message passing, and both run on :func:`_superstep`: the
state is one row per node, (node, value, adjacency array), and one
round is

- ONE explode of each node's adjacency into (neighbour, message) rows,
  unioned with the nodes' own rows, which carry value and adjacency
  forward — no join against an edge list;
- ONE groupBy(node) that combines the messages (map-combined before the
  shuffle);
- ONE eager localCheckpoint, which cuts the lineage every round (round N
  never replans or re-executes rounds 1..N-1) and, through an
  ``Observation``, returns the round's scalar (PageRank's dangling mass,
  CC's changed-label count) without another job.

So a round costs two Spark jobs, the shuffle-map stage and the
checkpoint's result stage, whatever the graph. The input plan is walked
once, into the initial state; the driver holds the round counter and
the observed scalars. Convergence is by fixed iteration count for
PageRank (the standard batch formulation) and by "no label changed" for
CC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _superstep(
    state: DataFrame, send: Column, combine: Column, update: Column, *observe: Column
) -> tuple[DataFrame, dict]:
    """One synchronous round over ``state`` = (node, value, adj), one row
    per node. Returns the next state, checkpointed, and the observed
    metrics.

    - ``send`` (over value, adj): the array<struct<node, msg>> a node
      sends along its adjacency. A message to a NULL node is dropped, as
      an equi-join on NULL would drop it;
    - ``combine`` (over msg): a node's inbox, NULL when nothing arrived;
    - ``update`` (over prev = the node's value, inbox): its next value;
    - ``observe``: named aggregates over the next rows (value, adj, prev,
      inbox), delivered by the checkpoint's own jobs.
    """
    msgs = state.select(F.inline(send)).filter(F.col("node").isNotNull())
    obs = Observation()
    nxt = (
        state.unionByName(msgs, allowMissingColumns=True)
        .groupBy("node")
        .agg(
            F.first("value", ignorenulls=True).alias("prev"),
            F.first("adj", ignorenulls=True).alias("adj"),
            combine.alias("inbox"),
        )
        .select("node", update.alias("value"), "adj", "prev", "inbox")
        .observe(obs, *observe)
        .select("node", "value", "adj")
        .localCheckpoint(eager=True)
    )
    return nxt, obs.get


def _pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int,
    rank_type: str,
    start,
    send: str,
    step,
) -> DataFrame:
    """The loop both PageRanks share; returns (node, rank).

    The initial state is ONE aggregation pass over the raw edge plan: the
    (src, dst) multiset, then one row per node with adj = its out-edges
    as array<struct<node, m, d>> (m the multiplicity, d the out-degree;
    empty for a dangling node). Its checkpoint observes the node count
    and the dangling count. ``start(n)`` is the initial rank, ``send``
    the SQL for the mass a node's rank ``value`` sends along edge ``e``,
    and ``step(dang, n)`` the next rank from ``inbox`` (the summed
    inflow) and the previous round's dangling mass ``dang``.
    """
    grouped = edges.groupBy(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).agg(F.count(F.lit(1)).alias("m"))
    # a NULL source sends nothing and counts as dangling, as the
    # oracle's equi-joins treat it
    out_edge = F.when(
        F.col("src").isNotNull(), F.struct(F.col("dst").alias("node"), "m")
    )
    obs = Observation()
    state = (
        grouped.select(
            F.inline(
                F.array(
                    F.struct(F.col("src").alias("node"), out_edge.alias("e")),
                    F.struct(F.col("dst").alias("node"), F.lit(None).alias("e")),
                )
            )
        )
        .groupBy("node")
        .agg(F.collect_list("e").alias("adj"), F.sum("e.m").alias("d"))
        .select(
            "node",
            F.expr(
                "transform(adj, e -> named_struct('node', e.node, 'm', e.m, 'd', d))"
            ).alias("adj"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.size("adj") == 0).alias("dangling"),
        )
        .localCheckpoint(eager=True)
    )
    seen = obs.get
    n = seen["n"]
    if n == 0:
        return state.select("node", F.lit(None).cast(rank_type).alias("rank"))
    r0 = start(n)
    state = state.select("node", F.lit(r0).cast(rank_type).alias("value"), "adj")
    dang = seen["dangling"] * r0
    for _ in range(iterations):
        state, seen = _superstep(
            state,
            F.expr(f"transform(adj, e -> named_struct('node', e.node, 'msg', {send}))"),
            F.sum("msg"),
            step(dang, n).cast(rank_type),
            F.coalesce(
                F.sum(F.when(F.size("adj") == 0, F.col("value"))), F.lit(0)
            ).alias("dang"),
        )
        dang = seen["dang"]
    return state.select("node", F.col("value").alias("rank"))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list (duplicate edges act as
    weights). Returns (node, rank) with ranks summing to ~1.

    One :func:`_superstep` per iteration: every node sends rank * m / d
    along each out-edge, the inflow sums in the one groupBy, and the rank
    sitting on dangling nodes (no out-edges), observed by the previous
    round, is redistributed uniformly.
    """
    return _pagerank(
        edges, src_col, dst_col, iterations, "double",
        start=lambda n: 1.0 / n,
        send="value * (e.m / e.d)",
        step=lambda dang, n: F.lit((1.0 - damping) / n)
        + F.lit(damping) * (F.coalesce(F.col("inbox"), F.lit(0.0)) + F.lit(dang) / n),
    )


#: Fixed-point scale for :func:`pagerank_fixed` — rank mass carried as
#: BIGINT multiples of 1e-15. All intermediates stay far inside int64:
#: ranks sum to <= SCALE, per-edge contributions decompose as
#: (r div d)*m + ((r mod d)*m) div d with m <= d (multiplicity never
#: exceeds out-degree), so the largest product is max(r, d*m) — safe
#: while per-node out-degree stays below ~3e9 edges (d*m <= d^2 < 2^63).
PAGERANK_SCALE = 10**15


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
) -> DataFrame:
    """PageRank with damping 0.85 in EXACT integer fixed-point — the
    engine-reproducible variant of :func:`pagerank`.

    Same superstep loop, but every quantity is a BIGINT multiple of
    1e-15 and every division is integral with floor semantics:

        contrib(src->dst) = (r div d) * m + ((r mod d) * m) div d
                          = floor(r * m / d)          (exact identity)
        r' = floor(0.15 * SCALE / n)
             + (17 * (in + dang div n)) div 20        (0.85 = 17/20)

    Integer addition is associative, so the result is independent of
    partitioning, shuffle order and engine — DuckDB's recursive-CTE
    oracle reproduces it bit-for-bit, which is what upgrades
    e24_event_pagerank from rows-only to value-hash-gated. The floor
    truncations leak <= n*1e-15 mass per iteration, so ranks differ
    from the float formulation by < 1e-12 after 10 iterations (pinned
    against the float path and a pure-python integer reference in
    pytest).

    Returns (node, rank_fp BIGINT); rank = rank_fp / PAGERANK_SCALE.
    """
    return _pagerank(
        edges, src_col, dst_col, iterations, "long",
        start=lambda n: PAGERANK_SCALE // n,
        send="(value DIV e.d) * e.m + ((value % e.d) * e.m) DIV e.d",
        step=lambda dang, n: F.lit((15 * PAGERANK_SCALE) // (100 * n))
        + F.expr(f"17 * (coalesce(inbox, 0) + {dang}L DIV {n}) DIV 20"),
    ).withColumnRenamed("rank", "rank_fp")


def session_follow_edges(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Edge list for the event-type follow graph: one edge per
    consecutive event pair within a user's stream (A -> B whenever B
    immediately follows A). One per-user lag window — the e9 transition
    pattern emitted as edges instead of probabilities, ready for
    :func:`pagerank`."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    return (
        events.select(
            F.lag(type_col).over(w).alias("src"), F.col(type_col).alias("dst")
        )
        .filter(F.col("src").isNotNull())
    )
