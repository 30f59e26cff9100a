"""Embedding similarity search (SURVEY §7 Phase 6).

Brute-force cosine top-k as the correctness baseline, LSH-bucketed
(random hyperplane) and IVF as the scale paths. Vectors are
``array<float>`` columns. Two arithmetic regimes, chosen per call site:

- **oracle-checked paths** (knn_*, cosine_near_dup_pairs, ivf probe)
  use JVM-side ``F.aggregate``/``F.zip_with`` sequential accumulation —
  bit-reproducible against the DuckDB SQL oracle;
- **bulk approximate paths** (LSH banding/confirmation) use
  Arrow-batched numpy matmuls — interpreted higher-order functions don't
  codegen, and a batch matmul is ~5-10x faster where bit-exactness
  doesn't gate a hash compare (signs and thresholds only).

At 100 TB: brute force against a single query vector is a map-only scan +
TakeOrdered (no shuffle); batch-query mode broadcasts the query set; the
LSH variant prunes candidates with an equi-join on (plane-sign bucket).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from market_data_pipeline_spark.operators.util import col, ensure_parallelism


def _as_doubles(v: Column) -> Column:
    """The array ``v`` with every component cast to double."""
    return F.transform(v, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (the
    angle is undefined). try_divide, not /: ANSI Spark otherwise raises
    DIVIDE_BY_ZERO and one all-zero corrupt vector crashes the whole
    corpus query — the r7 zero-vector sweep found TEN queries crashing
    through this one helper (the round-6 k23 property had caught only
    its own call site). DuckDB's x/0 is already NULL, so the oracles
    agree without changes."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def exact_sq_fold(terms: Column, scale: float) -> Column:
    """Exact sum of an array of NON-NEGATIVE integral-valued doubles
    (each term an ``F.round(... * scale)`` fixed-point square), divided
    back by ``scale`` — the engine-identical L2/error fold under k11,
    k15, k16 and the quantization audit.

    Two-path on a provable magnitude bound (the
    streaming_running_stats pattern, streaming/jobs.py — r7 verdict
    #2: the unconditional DECIMAL(38,0) folds added for ANSI overflow
    safety cost the k bench family ~+24%): when ``size * max_term <
    2^53`` the plain DOUBLE fold is already exact — every term and
    every partial sum is an integer below the double integer ceiling —
    so the hot path (unit-norm embeddings: terms <= scale) never
    allocates a per-element BigDecimal; only rows past the bound
    (|component| ~ 4e2+ at dim 64 / scale 1e9) pay the decimal fold.
    Both paths produce the SAME integer before the final double
    division, so values are bit-identical on either path (pinned by
    the two-path parity test in tests/test_llm_ops.py).

    NULL/empty handling matches the decimal-only fold: NULL array or a
    NULL element folds to NULL on either path (array_max skips NULLs,
    but the fold itself propagates them); an empty array folds to 0.

    ``terms`` must be a materialized column (alias it in a prior
    select); inlining the term constructor would make Catalyst
    re-evaluate it once per reference here (bound + fold).
    """
    fast = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    slow = F.aggregate(
        F.transform(terms, lambda t: t.cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, t: acc + t,
    ).cast("double")
    # size * max bounds the sum; coalesce(True) routes empty arrays
    # (size 0 -> 0 * NULL = NULL) down the trivially-exact fast path.
    in_bound = F.size(terms).cast("double") * F.array_max(terms) < 9.0e15
    return F.when(F.coalesce(in_bound, F.lit(True)), fast).otherwise(slow) / scale


# ivf_assign inlines the centroid pool as a plan literal up to this many
# scalar terms (|C| * dim); beyond it, a literal this size would bloat
# the Catalyst tree and every task closure, so the broadcast-join argmax
# takes over.
_LITERAL_ARGMAX_TERMS = 200_000


def _sql_dlit(x) -> str:
    """One double literal as SQL text, bit-exact.

    ``repr(float)`` is the shortest string that round-trips the IEEE
    double in Python, and Java's ``Double.parseDouble`` is correctly
    rounded, so the JVM recovers the identical bits. The ``D`` suffix
    forces DOUBLE — a bare ``0.1`` literal is DECIMAL(1,1) in Spark SQL.
    Non-finite values have no bare-literal spelling; CAST from string.
    A None component becomes a NULL double (the ivf_assign NULL-centroid
    class, r7 ADVICE #1): the cosine then folds to NULL, which both
    engines rank NULLS LAST."""
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _vec_expr(v) -> Column:
    """A literal ``array<double>`` built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) for x in v])`` costs ~2 py4j round trips per
    component — a 16x64 centroid pool was measured at 1.8-4.4 s of pure
    plan-BUILD latency in ivf_assign (the dd3 Column-loop disease, r12
    S3). One ``F.expr`` string is a single round trip and parses in
    ~1 ms; ConstantFolding collapses it to the same array literal."""
    return F.expr("array(" + ",".join(_sql_dlit(x) for x in v) + ")")


def _py_norm(v) -> float | None:
    """Driver-side L2 norm, bit-identical to :func:`_norm`'s fold: the
    same sequential left fold (acc + x*x in index order) in IEEE
    doubles — Python floats ARE IEEE doubles — then a correctly-rounded
    sqrt on both runtimes. Lets a literal centroid's norm be inlined as
    a plan constant instead of re-folded per corpus row. None when any
    component is None (the fold's NULL propagation)."""
    acc = 0.0
    for x in v:
        if x is None:
            return None
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


def knn_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k rows by cosine similarity to a literal query vector.

    Map-only scan + per-partition heap (TakeOrderedAndProject): scales
    linearly with no shuffle. Cosine is rounded (default 6 dp) so ordering
    and golden hashes are stable across engines.
    Returns (id_col, cosine) ordered by (cosine desc, id).
    """
    q = _vec_expr(query_vec)
    sim = cosine(F.col(vec_col), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        embeddings.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def grouped_knn(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 3,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple = (),
    round_digits: int | None = 6,
) -> DataFrame:
    """Per-GROUP top-k by cosine to a literal query vector — the
    stratified retrieval shape ("best k candidates from EVERY
    label/source/shard") that a global top-k (knn_bruteforce) cannot
    express: one dominant group would crowd out the rest.

    Map-side cosine against the broadcast-literal query, then ONE
    shuffle on ``group_col`` for a rank window bounded at k per group —
    the only data movement; at 100 TB the window partitions are the
    groups, so group skew is visible to AQE and bounded output (k *
    |groups| rows) keeps downstream trivial. Ties break on id; NULL
    cosines (zero-norm vectors) sort last, matching the oracle's ORDER
    BY cosine DESC NULLS LAST.
    Returns (group_col, id_col, cosine, rank 1..k).
    """
    q = _vec_expr(query_vec)
    sim = cosine(F.col(vec_col), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = embeddings
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*exclude_ids))
    scored = scored.select(F.col(group_col), F.col(id_col), sim.alias("cosine"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("cosine").desc_nulls_last(), F.col(id_col)
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def knn_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k neighbors for every query row (queries broadcast).

    The query side must be small (it is broadcast to every executor); the
    corpus side streams. Self-matches (same id) are excluded.
    Returns (query_id, vec_id, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    sim = cosine(F.col(vec_col), F.col("_qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(F.col(query_id_col), F.col(id_col), sim.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def normalized(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stage unit-normalized double vectors into a materialized ``_nvec``
    column (plus the id and any extras).

    Pair-wise cosine over N vectors touches each vector ~N times; dividing
    by the norm once per row up front turns every subsequent cosine into a
    plain dot product. Materializing through a projection stops Catalyst
    from inlining (and so recomputing) the normalization into each use.
    """
    dd = _as_doubles(F.col(vec_col))
    staged = ensure_parallelism(df, id_col).select(
        F.col(id_col), *[F.col(c) for c in extra_cols], dd.alias("_dvec")
    )
    n = F.sqrt(
        F.aggregate(
            F.transform(F.col("_dvec"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        # try_divide: a zero-norm vector has no direction — NULL
        # components propagate to NULL similarities (filtered by any
        # threshold) instead of an ANSI DIVIDE_BY_ZERO crash
        F.transform(F.col("_dvec"), lambda x: F.try_divide(x, n)).alias("_nvec"),
    )


def _block_pair_cosines(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    round_digits: int | None,
    emit,
    out_ids: tuple[str, str],
) -> DataFrame:
    """The blocked exact all-pairs harness of :func:`cosine_near_dup_pairs`
    and :func:`knn_graph`. Vectors hash into ``n_blocks`` blocks; each of
    the B(B+1)/2 block pairs (ba <= bb) is one shuffle group holding its
    ``a`` rows (block ba) and ``b`` rows (block bb). Per group, one numpy
    matmul ``A @ B.T / outer(|a|, |b|)``, rounded to ``round_digits``,
    gives the cosine matrix C, and ``emit(key, C, ia, ib)`` turns it into
    rows of (out_ids[0], out_ids[1], cosine) with the ids' type; ``key``
    is (ba, bb) and ia/ib are the a/b ids. ``emit``'s name is the UDF
    name in the plan."""
    import numpy as np
    import pandas as pd

    staged = embeddings.select(
        col(id_col).alias("_id"), _as_doubles(col(vec_col)).alias("_dvec")
    ).withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_blocks)).cast("int"))
    block_pairs = embeddings.sparkSession.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ba int, bb int",
    )
    sa, sb = (
        staged.join(F.broadcast(block_pairs), F.col("_blk") == F.col(blk)).select(
            "ba", "bb", F.lit(side).alias("_side"), "_id", "_dvec"
        )
        for side, blk in (("a", "ba"), ("b", "bb"))
    )
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def group(key, pdf):
        a_rows = pdf[pdf["_side"] == "a"]
        b_rows = pdf[pdf["_side"] == "b"]
        if a_rows.empty or b_rows.empty:
            return pd.DataFrame({out_ids[0]: [], out_ids[1]: [], "cosine": []})
        A = np.vstack(a_rows["_dvec"].to_numpy())
        B = np.vstack(b_rows["_dvec"].to_numpy())
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        C = (A @ B.T) / np.outer(na, nb)
        if round_digits is not None:
            C = np.round(C, round_digits)
        return emit(key, C, a_rows["_id"].to_numpy(), b_rows["_id"].to_numpy())

    group.__name__ = emit.__name__
    return (
        sa.unionByName(sb)
        .groupBy("ba", "bb")
        .applyInPandas(
            group, f"{out_ids[0]} {id_type}, {out_ids[1]} {id_type}, cosine double"
        )
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    rounded cosine(a, b) >= threshold.

    Blocked exact all-pairs (the correctness baseline and the oracle for
    :func:`cosine_near_dup_lsh`): vectors hash into ``n_blocks`` blocks;
    each of the B(B+1)/2 block PAIRS becomes one shuffle group whose
    pairs are confirmed in a single Arrow-batched numpy matmul
    ``A @ B.T / outer(|a|, |b|)``. Candidate pairs are never materialized
    as rows — the naive theta self-join plans as a
    BroadcastNestedLoopJoin that copies both vectors into N²/2 rows and
    evaluates an interpreted higher-order dot per row (measured 22.6s at
    sf0.1; this form: ~1s). Shuffle volume is rows×(B+1); per-group
    memory is (N/B)²-bounded, tunable via ``n_blocks``. At 100 TB use
    the LSH variant — this exact form is for modest N (dedup within a
    shard/bucket) and as the approximate path's recall oracle.

    Rounding note: the matmul accumulates in a BLAS-chosen order, not the
    SQL oracle's sequential order; differences are ULP-level and the
    6-dp ROUND on both sides absorbs them (a flip needs a true cosine
    within ~1e-15 of a rounding boundary — verified value-identical to
    the sequential path and the DuckDB oracle at sf0.01 and sf0.1).
    Returns (vec_a, vec_b, cosine), one row per pair with vec_a < vec_b.
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def confirm(key, C, ia, ib):
        mask = C >= thr
        if key[0] == key[1]:
            # diagonal group: both sides hold the same block; keep each
            # unordered pair once
            mask &= ia[:, None] < ib[None, :]
        ii, jj = np.nonzero(mask)
        id_a, id_b = ia[ii], ib[jj]
        # off-diagonal blocks are disjoint but unordered by id: normalize
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": C[ii, jj]})

    return _block_pair_cosines(
        embeddings, id_col, vec_col, n_blocks, round_digits, confirm, ("vec_a", "vec_b")
    )


def cosine_near_dup_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_bands: int = 8,
    band_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate embedding near-dup pairs: sign-LSH banding prunes the
    candidate space, exact cosine confirms.

    Each band hashes the vector to a ``band_planes``-bit sign bucket;
    vectors colliding in ANY band become candidates (equi-join per band on
    (band, bucket) — the quadratic blow-up is confined to same-bucket
    groups, expected size N / 2^band_planes per band). High-cosine pairs
    collide in some band with probability 1 - (1 - p^band_planes)^n_bands,
    p = 1 - angle/pi.

    Plan shape (the part that matters at 100 TB): ONE shuffle of
    (id, bands, vector) rows to their (band, bucket) groups; inside each
    group a single numpy matmul confirms all pairs at once and emits only
    the pairs that pass the threshold. Candidate pairs are never
    materialized as rows — the classic LSH failure mode (candidate set
    approaching all-pairs at permissive thresholds) then costs O(group²)
    FLOPs in a vectorized matmul instead of O(group²) shuffled rows.
    Cross-band duplicates are eliminated for free: a pair is emitted only
    by the FIRST band whose buckets collide (both bucket arrays are in
    the group), so no global dropDuplicates pass exists.

    Crossover note: sign-LSH amplification only prunes when the target
    cosine is high (collision prob p = 1 - angle/pi per plane). At
    permissive thresholds (~0.4, p≈0.63) group sizes approach N/2^planes
    with most pairs confirmed in-group — there
    :func:`cosine_near_dup_pairs` (exact) does the same FLOPs without
    the banding overhead. Use this variant for true near-dup thresholds
    (>=0.8) or N too large for the quadratic exact path.
    Returns (vec_a, vec_b, cosine) with cosine >= threshold.
    """
    nv = normalized(embeddings, id_col, vec_col)
    planes = random_hyperplanes(dim, n_bands * band_planes, seed)

    # all n_bands*band_planes projections in ONE Arrow-batched matmul
    # ((batch, dim) @ (dim, planes)) with per-band sign packing — the
    # per-plane JVM formulation folds an interpreted dim-element lambda
    # per plane per row (HOFs don't codegen); sign(x) is exact, so the
    # numpy float path changes no buckets
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    plane_mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = 1 << np.arange(band_planes, dtype=np.int64)

    def buckets(vecs):
        vm = np.vstack(vecs.to_numpy())                       # (batch, dim)
        signs = (vm @ plane_mat) >= 0                          # (batch, planes)
        per_band = signs.reshape(len(vm), n_bands, band_planes) @ weights
        return pd.Series(list(per_band.astype(np.int64)))

    buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    # asNondeterministic: stop Catalyst duplicating the projection below a
    # pushed filter (see dedup.minhash_signatures for the measured case)
    bucket_udf = pandas_udf(buckets, "array<long>").asNondeterministic()

    def confirm(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        vm = np.vstack(pdf["_nvec"].to_numpy())            # (n, dim)
        bks = np.vstack(pdf["_bks"].to_numpy())            # (n, n_bands)
        band = int(pdf["_bd"].iloc[0])
        sims = vm @ vm.T
        # threshold the ROUNDED cosine, exactly like the declared oracle
        # cosine_near_dup_pairs (r5 advice #2: a pair with true cosine in
        # [threshold-5e-7, threshold) rounds up and must be emitted by
        # both paths); round_digits=None means raw on both paths too
        if round_digits is not None:
            sims = np.round(sims, round_digits)
        ia, ib = np.nonzero(np.triu(sims >= threshold, k=1))
        if len(ia):
            # emit only where THIS band is the first colliding band —
            # exact cross-band dedup without a global shuffle
            first = (bks[ia] == bks[ib]).argmax(axis=1)
            keep = first == band
            ia, ib = ia[keep], ib[keep]
        a, b = ids[ia], ids[ib]
        swap = a > b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        return pd.DataFrame({"vec_a": a2, "vec_b": b2, "cosine": sims[ia, ib]})

    banded = nv.select(
        F.col(id_col), F.col("_nvec"), bucket_udf(F.col("_nvec")).alias("_bks")
    ).select(
        F.col(id_col),
        F.col("_nvec"),
        F.col("_bks"),
        F.posexplode_outer("_bks").alias("_bd", "_bk"),
    ).filter(F.col("_bk").isNotNull())
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return banded.groupBy("_bd", "_bk").applyInPandas(
        confirm, f"vec_a {id_type}, vec_b {id_type}, cosine double"
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    round_digits: int | None = 6,
    keep_vec: bool = False,
) -> DataFrame:
    """Inverted-file index: assign every vector to its nearest centroid by
    cosine (deterministic ties: lowest centroid id).

    Two regimes, both fully DETERMINISTIC under stage retries (the r6
    advisor flagged the previous per-row monotonically_increasing_id
    group key: under partial stage recomputation upstream rows can be
    re-keyed, risking duplicated or stitched argmax groups):

    - **literal argmax** (centroid pool ≤ ``_LITERAL_ARGMAX_TERMS``
      scalar terms, which is every IVF in this repo — k ~ sqrt(N) cells
      only pays off when each cell still holds many vectors): centroids
      are collected once (bounded — they are the broadcast side by
      construction) and inlined as an array-of-structs literal; each
      corpus row picks its best centroid with ``array_min`` over
      (rank, -cosine, centroid_id) structs inside ONE projection —
      id-type agnostic (no id negation). Map-only,
      ZERO shuffle, multiplicity trivially preserved — strictly better
      than the old crossJoin + groupBy shape, which exchanged |V| rows.
    - **join argmax** (huge centroid pools, where a multi-MB literal
      would bloat the Catalyst tree): broadcast crossJoin then argmax
      grouped on the FULL input row (id_col, vec_col) — a deterministic,
      collision-free key (unlike a 64-bit hash, whose birthday collisions
      at 1e9 rows would stitch distinct rows) — with exact-duplicate
      multiplicity restored by a count/|C| re-expansion. Costs one |V|
      shuffle that now carries the vector column; retry-safety is worth
      the bytes, and the literal path covers all practical pools anyway.

    Duplicate ids each keep their own assignment (an index must never
    silently drop rows) — caught by the round-6 IVF hypothesis property
    (duplicate-id append case), which still pins both paths.

    ``keep_vec`` carries the vector column through so callers that need
    vectors downstream (IVF probe, SemDeDup) don't re-join
    ``embeddings`` — that re-join scans the full vector column (the
    widest column in the table) a second time.
    Returns (id_col, centroid_id, cosine[, vec_col]).
    """
    cent_rows = centroids.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    ).collect()  # bounded: centroids are the small/broadcast side
    cid_type = centroids.schema[id_col].dataType
    carry = [F.col(vec_col)] if keep_vec else []
    if not cent_rows:
        return embeddings.select(
            F.col(id_col),
            F.lit(None).cast(cid_type).alias(centroid_id_col),
            F.lit(None).cast("double").alias("cosine"),
            *carry,
        ).filter(F.lit(False))

    # The literal path builds F.lit() from the collected vectors, which
    # raises driver-side on a NULL vector / NULL component; the join
    # path already handles those gracefully (NULL cosine loses the
    # argmax), so degenerate pools route there (r7 ADVICE #1).
    literal_ok = all(
        r["_cvec"] is not None and None not in r["_cvec"] for r in cent_rows
    ) and (
        len(cent_rows) * len(cent_rows[0]["_cvec"]) <= _LITERAL_ARGMAX_TERMS
    )
    if literal_ok:
        # Each centroid's component array is ONE parsed F.expr (see
        # _vec_expr: the per-component F.lit loop cost 1.8-4.4 s of
        # pure py4j plan-build latency at 16x64 — the dominant cost of
        # k4/k5/k17 at sf0.1), and its L2 norm is precomputed on the
        # driver (_py_norm — bit-identical to _norm's sequential fold)
        # so the per-row cosine divides by a literal instead of
        # re-folding the centroid per corpus row.
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(r["_cid"]).cast(cid_type).alias("cid"),
                    _vec_expr(r["_cvec"]).alias("cvec"),
                    F.lit(_py_norm(r["_cvec"])).alias("cnorm"),
                )
                for r in cent_rows
            ]
        )

        # The corpus row's own norm is hoisted to a child projection and
        # referenced by name, so it folds ONCE per row instead of once
        # per centroid (CollapseProject keeps non-cheap multiply-used
        # aliases materialized; codegen CSE would not help here because
        # higher-order functions are interpreted).
        row_norm = F.col("_rn")

        def _sim(c):
            s = F.try_divide(
                _dot(F.col(vec_col), c["cvec"]), row_norm * c["cnorm"]
            )
            return F.round(s, round_digits) if round_digits is not None else s

        # Ordering key: cosine DESC with NaN first and NULL last —
        # exactly a descending double scan (and DuckDB's ORDER BY cosine
        # DESC), encoded for array_MIN as (rank, -cosine, cid): NULL
        # cosine (zero-norm centroid or query) must LOSE the argmax (r7
        # zero-vector sweep: one all-zero centroid otherwise swallows
        # the whole corpus), and the tie-break ascends on cid WITHOUT
        # negating it, so non-numeric centroid ids analyze fine (r7
        # ADVICE #2 — the semantic_dedup idiom). The winner's original
        # cosine rides along as a non-ordering struct field.
        # TWO transforms, not one: the key needs the cosine four times
        # (NaN test, NULL test, negation, carry), and inlining _sim
        # into each reference re-folds the whole dot product per
        # reference — measured 6x on k4 (r8 bench diff). The inner
        # transform materializes each centroid's cosine ONCE; the key
        # reads cheap struct fields.
        scored_arr = F.transform(
            cent_arr,
            lambda c: F.struct(
                _sim(c).alias("cosine"), c["cid"].alias("cid")
            ),
        )

        def _key(sc):
            s = sc["cosine"]
            return F.struct(
                F.when(F.isnan(s), 0)
                .when(s.isNotNull(), 1)
                .otherwise(2)
                .alias("_r"),
                F.when(s.isNotNull() & ~F.isnan(s), -s)
                .otherwise(F.lit(0.0))
                .alias("_n"),
                sc["cid"].alias("cid"),
                s.alias("cosine"),
            )

        best = F.array_min(F.transform(scored_arr, _key))
        return embeddings.select(
            "*", _norm(F.col(vec_col)).alias("_rn")
        ).select(
            F.col(id_col),
            best["cid"].alias(centroid_id_col),
            best["cosine"].alias("cosine"),
            *carry,
        )

    c = centroids.select(
        F.col(id_col).alias(centroid_id_col), F.col(vec_col).alias("_cvec")
    )
    sim = cosine(F.col(vec_col), F.col("_cvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = embeddings.crossJoin(F.broadcast(c)).select(
        F.col(id_col), F.col(vec_col), F.col(centroid_id_col), sim.alias("cosine")
    )
    # same (rank, -cosine, cid) MIN ordering as the literal path: NaN
    # first, NULL cosine last (a NULL would otherwise win the struct
    # comparison — r7 zero-vector sweep), cid tie-break un-negated so
    # non-numeric centroid ids work (r7 ADVICE #2)
    ord_key = F.struct(
        F.when(F.isnan(F.col("cosine")), 0)
        .when(F.col("cosine").isNotNull(), 1)
        .otherwise(2)
        .alias("_r"),
        F.when(
            F.col("cosine").isNotNull() & ~F.isnan(F.col("cosine")),
            -F.col("cosine"),
        )
        .otherwise(F.lit(0.0))
        .alias("_n"),
        F.col(centroid_id_col).alias("_cid"),
    )
    grouped = scored.groupBy(id_col, vec_col).agg(
        F.min_by(centroid_id_col, ord_key).alias(centroid_id_col),
        F.max("cosine").alias("cosine"),
        # each distinct (id, vec) row scored |C| times per input copy;
        # count/|C| recovers how many identical input rows it stands for
        (F.count(F.lit(1)) / len(cent_rows)).cast("long").alias("_dup_n"),
    )
    out = grouped.withColumn(
        "_dup", F.explode(F.sequence(F.lit(1), F.col("_dup_n")))
    )
    return out.select(id_col, centroid_id_col, "cosine", *carry)


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Learned IVF centroids via pyspark.ml KMeans (the production path;
    :func:`knn_ivf`'s default first-k-vectors centroids are the
    deterministic oracle-checkable stand-in).

    Returns (id_col = 0..k-1, vec_col = array<double> centroid) — the
    same shape as a centroid frame sliced from the corpus, so it plugs
    into ``knn_ivf(..., centroids=...)`` unchanged.

    ``sample_fraction`` fits on a seeded Bernoulli sample instead of the
    full corpus: KMeans re-scans its input every iteration, so at 100 TB
    fitting on the full data multiplies the whole-table scan by max_iter.
    Centroid quality needs only a representative sample (k ≪ sample size);
    the full corpus is still assigned exactly via the broadcast centroids.
    The sample (and thus the index layout) is deterministic per seed.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = embeddings
    if sample_fraction is not None and sample_fraction < 1.0:
        src = embeddings.sample(fraction=sample_fraction, seed=seed)
    feats = src.select(
        array_to_vector(_as_doubles(col(vec_col))).alias(
            "features"
        )
    )
    spark = embeddings.sparkSession
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )
    # Empty-input guard (registry-wide empty sweep, r7): MLlib KMeans
    # aborts with "Nothing has been added to this summarizer" on a 0-row
    # fit. An empty centroid frame is the total answer — ivf_assign
    # already maps empty centroids to an empty assignment.
    if not feats.take(1):
        return spark.createDataFrame([], schema)
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    centers = model.clusterCenters()
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)], schema
    )


def kmeans_lloyd_exact(
    embeddings: DataFrame,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_hex: int | None = 4,
    scale: float = 1e6,
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means, engine-exact end to end
    (r11 verdict #3: the oracle-replayable alternative to the MLlib fit
    in :func:`kmeans_centroids`, whose kmeans|| init draws from a JVM
    RNG no SQL engine can replay).

    Every step is the repo's already-hash-green fixed-point recipe:

    - **seeded sample + init**: rows whose first hex digit of
      ``md5('{seed}-' || id)`` is < ``sample_hex`` form the fit sample
      (``sample_hex/16`` of the corpus — KMeans re-scans its input per
      iteration, so fitting on a sample divides the dominant cost; the
      md5 draw is the seeded-shuffle both engines replay, unlike
      ``DataFrame.sample``'s partition-dependent XORShift). The k
      smallest md5 draws seed the centroids.
    - **assignment**: exact fixed-point squared distance — each row
      folds ``round((x-y)^2 * 1e9)`` as DECIMAL(38,0) over a zip_with
      against the literal centroid (the k15 recipe; decimal addition is
      exact and order-free, so the fold equals the oracle's
      join-on-dim SUM, and the fold's (sum, seen) accumulator pair
      reproduces SUM's skip-NULL/all-NULL semantics); argmin over the
      per-centroid struct array with NULL distances ranked last and
      ties on lowest cid.
    - **update**: exact per-dim means (``sum(round(v*1e6)::bigint)/1e6
      / n`` — the :func:`group_centroids` recipe) over the sample
      exploded under its assignment; an empty cluster keeps its
      previous centroid (MLlib parity).

    The sample is persisted once (Lloyd re-reads its input every
    iteration — the same ``.cache()`` MLlib's own loop does; at 100 TB
    pick ``sample_hex`` so the sample fits the cluster's storage tier).
    Centroids are collected per iteration (k x dim doubles, bounded —
    exactly what MLlib's iteration loop does) and re-injected as ONE
    parsed SQL literal-argmin expression, so each iteration is a single
    map + k x dim groupBy job, not a 5-deep recursive lineage (r12's
    broadcast-join shape cost ~1.25 s/iteration of fixed overhead —
    createDataFrame, broadcast build, three aggregation/join stages —
    per iteration at local[32]; the text-built F.expr costs one py4j
    round trip where a Column-API literal tree cost ~1100). Python
    float round-trips IEEE doubles bit-exactly, so the driver hop
    costs no precision.
    Returns (id_col = 0..k-1, vec_col = array<double>) — plugs into
    ``knn_ivf(..., centroids=...)`` unchanged.
    """
    spark = embeddings.sparkSession
    # id_col and vec_col are column NAMES: quoted (backticks doubled)
    # wherever they are parsed — as a column reference, in the SQL text
    vc = "`" + vec_col.replace("`", "``") + "`"
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )
    draw = F.md5(F.concat(F.lit(f"{seed}-"), col(id_col).cast("string")))
    src = embeddings.filter(
        col(vec_col).isNotNull() & (F.size(col(vec_col)) > 0)
    ).select(
        col(id_col),
        _as_doubles(col(vec_col)).alias(vec_col),
    )
    if sample_hex is not None and sample_hex < 16:
        hexdigits = [format(i, "x") for i in range(sample_hex)]
        src = src.filter(F.substring(draw, 1, 1).isin(hexdigits))
    # AQE is parked for the whole fit (seed draw + Lloyd loop) and
    # restored in the finally: every step is a fresh tiny
    # statically-shaped query, and AQE's per-stage re-planning
    # roundtrips are pure latency on it (measured ~2x per-iteration
    # wall on a 500-row sample).
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    exploded = None
    try:
        seed_rows = src.orderBy(draw, col(id_col)).limit(k).collect()
        if not seed_rows:
            return spark.createDataFrame([], schema)
        cents: list[tuple[int, list]] = [
            (i, [None if x is None else float(x) for x in r[vec_col]])
            for i, r in enumerate(seed_rows)
        ]
        if max_iter <= 0:
            return spark.createDataFrame(list(cents), schema)
        # r13: the assignment is MAP-ONLY — each iteration inlines the
        # current centroids as ONE parsed SQL expression (a zip_with
        # fold per centroid, built as text so plan build is a single
        # py4j round trip) and picks the argmin row-locally, then one
        # groupBy computes the k x dim means. One shuffle + one job per
        # iteration, versus the r12 shape's per-iteration
        # createDataFrame + broadcast-build + 3 aggregations/joins
        # (measured ~1.25 s/iteration of pure fixed cost on a 500-row
        # sample at local[32]; k5's bench share was 10-18 s). The
        # DECIMAL(38,0) fixed-point distance is the SAME terms summed
        # exactly (decimal addition is order-free), with SUM's
        # skip-NULL/all-NULL semantics reproduced by the fold's
        # (sum, seen-non-null) accumulator pair, so centroids are
        # bit-identical to the r12 join shape (A/B'd at two SFs) and
        # the unrolled DuckDB oracle still hash-matches.
        sample = src.persist()
        exploded = sample  # unpersisted in the finally
        d9 = _sql_dlit(1e9)
        zero = "CAST(0 AS DECIMAL(38,0))"
        for _ in range(max_iter):
            scored_sql = ",".join(
                "named_struct('sq',aggregate("
                f"zip_with({vc},array({{arr}}),"
                f"(x,y)->CAST(round((x-y)*(x-y)*{d9}) AS DECIMAL(38,0))),"
                f"named_struct('s',{zero},'n',false),"
                f"(a,t)->named_struct('s',a.s+coalesce(t,{zero}),"
                "'n',a.n OR t IS NOT NULL),"
                f"a->IF(a.n,CAST(a.s AS DOUBLE)/{d9},CAST(NULL AS DOUBLE))"
                "),'cid',{cid}L)".format(
                    arr=",".join(_sql_dlit(x) for x in cv), cid=cid
                )
                for cid, cv in cents
            )
            # NULL sq (every term NULL) ranks LAST on both engines —
            # struct-compare NULL-first would otherwise make a corrupt
            # row win every argmin (the ivf_assign rank trick)
            best_sql = (
                f"array_min(transform(array({scored_sql}),"
                "p->named_struct('r',IF(p.sq IS NOT NULL,1,2),"
                "'s',coalesce(p.sq,0.0D),'c',p.cid))).c"
            )
            # TWO selects, deliberately: a generator and the argmin in
            # ONE select puts the argmin in the Project ABOVE the
            # Generate (ExtractGenerator keeps non-generator
            # expressions in the upper project), re-evaluating the
            # k x dim interpreted fold once per EXPLODED row — a
            # dim-fold amplification measured at 41 s vs 2 s on the
            # sf0.1 sample. Split, the argmin rides Generate's
            # requiredChildOutput as a computed attribute: once per
            # input row.
            assigned = sample.select(
                F.expr(best_sql).alias("_cid"), F.col(vc)
            )
            per_dim = (
                assigned.select(
                    "_cid",
                    F.posexplode(F.col(vc)).alias("_dim", "_v"),
                )
                .groupBy("_cid", "_dim")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("_n"),
                    (
                        F.sum(F.round(F.col("_v") * scale).cast("long"))
                        / F.lit(scale)
                    ).alias("_s"),
                )
                .select(
                    "_cid", "_dim", (F.col("_s") / F.col("_n")).alias("_m")
                )
            )
            means: dict[int, dict[int, float]] = {}
            for r in per_dim.collect():  # bounded: k x dim rows
                means.setdefault(r["_cid"], {})[r["_dim"]] = r["_m"]
            cents = [
                (
                    cid,
                    [means[cid].get(d) for d in range(len(prev))]
                    if cid in means
                    else prev,  # empty cluster keeps its centroid
                )
                for cid, prev in cents
            ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
        if exploded is not None:
            exploded.unpersist()
    return spark.createDataFrame(list(cents), schema)


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors: corpus is partitioned into
    ``n_centroids`` inverted lists by nearest centroid; each query probes
    its ``n_probe`` closest centroids' lists and ranks exactly within them.

    Default centroids are the first ``n_centroids`` corpus vectors by id —
    deterministic so the result is oracle-checkable; pass
    ``centroids=kmeans_centroids(...)`` for the learned production index
    (same shape, same probe path). Scale: the cross join is only
    |corpus| x n_centroids against a broadcast side; the probe join is an
    equi-join on centroid id, i.e. each query scans ~n_probe/n_centroids of
    the corpus instead of all of it.
    Returns (query_id, vec_id, cosine, rank).
    """
    if centroids is None:
        centroids = embeddings.filter(F.col(id_col) < n_centroids)
    # keep_vec: one scan of the vector column, not assignment + re-join
    corpus = ivf_assign(
        embeddings, centroids, id_col, vec_col, keep_vec=True
    ).select(F.col(id_col), F.col(vec_col), F.col("centroid_id"))

    # probe list: top n_probe centroids per query
    c = centroids.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cvec"))
    qsim = cosine(F.col("_qvec"), F.col("_cvec"))
    if round_digits is not None:
        qsim = F.round(qsim, round_digits)
    qw = Window.partitionBy(query_id_col).orderBy(F.desc("_qcsim"), F.col("centroid_id"))
    probes = (
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec"))
        .crossJoin(F.broadcast(c))
        .select(F.col(query_id_col), F.col("_qvec"), F.col("centroid_id"), qsim.alias("_qcsim"))
        .withColumn("_rn", F.row_number().over(qw))
        .filter(F.col("_rn") <= n_probe)
        .select(query_id_col, "_qvec", "centroid_id")
    )

    sim = cosine(F.col(vec_col), F.col("_qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        corpus.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(F.col(query_id_col), F.col(id_col), sim.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id (bigint) from hyperplane projections of the
    named array column.

    Built as ONE SQL string parsed in a single py4j round trip (r12
    census: the former per-plane Column loop invoked ~n_planes x dim
    ``F.lit`` calls — 4337 py4j round trips of plan-BUILD latency for
    k3's 6x64 planes). The parsed tree is the same sequential
    aggregate-over-zip_with double fold per plane (bit-identical
    projections — the k3 oracle's list_dot_product equivalence argument
    is unchanged); plane components are inlined with ``repr``, which
    round-trips doubles exactly, through a string-to-double CAST."""
    bits = ["CAST(0 AS BIGINT)"]
    for i, p in enumerate(planes):
        arr = ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in p)
        proj = (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bits.append(
            f"(CASE WHEN ({proj}) >= 0 THEN CAST({1 << i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("(" + " | ".join(bits) + ")")


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket, then exact cosine ranking within the bucket.

    The corpus is bucketed once (map-only); queries join on bucket id —
    at scale this replaces the full cross join with an equi-join whose key
    cardinality is 2^n_planes. Recall is tunable via n_planes (fewer planes
    = bigger buckets = higher recall, more compute).
    Returns (query_id, vec_id, cosine, rank).
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    corpus = embeddings.withColumn("_bucket", lsh_bucket(vec_col, planes))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
    ).withColumn("_bucket", lsh_bucket("_qvec", planes))
    sim = cosine(F.col(vec_col), F.col("_qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        corpus.join(F.broadcast(q), "_bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(F.col(query_id_col), F.col(id_col), sim.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings by nearest centroid, then inside
    each cluster drop every vector having a semantic near-duplicate
    (rounded cosine >= threshold) with a smaller id.

    The whole-corpus pairwise problem is confined to clusters: the scan
    shuffles ONCE on centroid id, and each cluster's pairs are confirmed
    in a single Arrow-batched numpy gram matrix (V @ V.T over unit rows) —
    candidate pairs never materialize as rows. At 100 TB this is exactly
    the SemDeDup recipe: pick n_clusters so the expected cluster size
    keeps the per-group quadratic in memory (k ~ N/5000), fit centroids on
    a sample (pass ``centroids=kmeans_centroids(..., sample_fraction=)``),
    and assignment stays a broadcast cross join. Default centroids are the
    first ``n_clusters`` corpus vectors by id — deterministic, so the
    result is oracle-checkable end-to-end; the learned path plugs in with
    identical plan shape.

    Keep-rule determinism: survivor = lowest id among mutual near-dups
    (``dup_of`` = min smaller-id near-dup, NULL for kept rows). Cosines
    round to ``round_digits`` before the threshold on both the Spark and
    oracle sides (see cosine_near_dup_pairs for why 6 dp absorbs BLAS
    accumulation-order ULPs).
    Returns (id_col, centroid_id, dup_of, keep), one row per vector.
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = embeddings.filter(F.col(id_col) < n_clusters)
    dd = _as_doubles(F.col(vec_col))
    # assignment argmax inlined (same semantics as ivf_assign: rounded
    # cosine, lowest-centroid-id tiebreak) with the vector CARRIED through
    # the window — calling ivf_assign and re-joining embeddings for the
    # vectors scans the full vector column twice (plan audit: 3 scans ->
    # 2), which at 100 TB is a second pass over the widest column there is
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cvec")
    )
    sim = cosine(F.col("_dvec"), F.col("_cvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    # sort-free argmax (see ivf_assign): map-side partials collapse the
    # |V|x|centroids| fan-out to one row per vector before the shuffle.
    # min_by over (-sim, centroid_id) = highest sim, lowest-id tiebreak —
    # and unlike negating the id it works for STRING centroid ids too
    # (struct comparison is lexicographic per field)
    # coalesce to +inf: a NULL cosine (zero-norm centroid or vector)
    # otherwise WINS min_by's struct ordering (NULLs sort first) and one
    # all-zero centroid swallows the corpus — r7 zero-vector sweep, the
    # same hazard fixed in ivf_assign's two argmax paths
    ord_key = F.struct(
        F.coalesce(-F.col("_sim"), F.lit(float("inf"))).alias("_negs"),
        F.col("centroid_id"),
    )
    vecs = (
        embeddings.select(F.col(id_col), dd.alias("_dvec"))
        .crossJoin(F.broadcast(c))
        .select(F.col(id_col), F.col("_dvec"), F.col("centroid_id"), sim.alias("_sim"))
        .groupBy(id_col)
        .agg(
            F.min_by("_dvec", ord_key).alias("_dvec"),
            F.min_by("centroid_id", ord_key).alias("centroid_id"),
        )
    )

    thr, rd = float(threshold), round_digits
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id_sort", kind="mergesort")
        ids = pdf["_id_sort"].to_numpy()
        V = np.vstack(pdf["_dvec"].to_numpy())
        V = V / np.sqrt((V * V).sum(axis=1, keepdims=True))
        C = V @ V.T
        if rd is not None:
            C = np.round(C, rd)
        # strictly-lower-triangular near-dup mask: row i dups of j < i
        mask = np.tril(C >= thr, k=-1)
        has_dup = mask.any(axis=1)
        dup_idx = mask.argmax(axis=1)
        # pass native id values through untouched (r5 advice #3: int()
        # coercion broke string-typed id_cols, which every sibling
        # operator here supports via the same id_type derivation)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "centroid_id": pdf["centroid_id"].to_numpy(),
                "dup_of": pd.array(
                    [ids[j] if h else None for j, h in zip(dup_idx, has_dup)],
                    dtype="object",
                ),
                "keep": ~has_dup,
            }
        )

    # centroid ids may come from an external centroids frame (kmeans) with
    # a different type than id_col — derive both types, never hardcode
    cid_type = c.schema["centroid_id"].dataType.simpleString()
    out = (
        vecs.withColumnRenamed(id_col, "_id_sort")
        .groupBy("centroid_id")
        .applyInPandas(
            dedup_cluster,
            f"vec_id {id_type}, centroid_id {cid_type}, dup_of {id_type}, keep boolean",
        )
    )
    return out.withColumnRenamed("vec_id", id_col)


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH: for every vector, its top-k most
    cosine-similar OTHER vectors (the all-to-all companion of
    :func:`knn_batch`, which broadcasts a small query set).

    Blocked exact all-pairs, same harness as
    :func:`cosine_near_dup_pairs`: B(B+1)/2 block-pair shuffle groups,
    one numpy matmul per group. Instead of thresholded pairs, each group
    emits every source row's top-k WITHIN the group (np.argpartition —
    O(n) per row, not a sort); a per-source window over the ≤ B*k
    surviving candidates picks the global top-k. Candidate volume is
    rows×B×k, never rows² — the window's partition (one source id) is
    B*k rows, so no skew. At 100 TB this exact form runs within IVF/LSH
    cells; the global graph goes through :func:`knn_ivf`.

    Ranking uses the ROUNDED cosine with neighbor-id tiebreak (BLAS
    accumulation order differs from SQL's — rounding first makes the
    order engine-independent). Returns (src_id, nbr_id, cosine,
    rank<=k), in no defined order.
    """
    import numpy as np
    import pandas as pd

    # The graph is DEFINED over nonzero-norm vectors: a zero vector has
    # no direction, and its NaN cosines otherwise scramble the numpy
    # top-k while the SQL oracle emits NULL-cosine rows — neither is a
    # neighbor list (r7 zero-vector sweep). Oracles filter identically.
    nonzero = (
        F.aggregate(
            F.transform(col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        > 0
    )
    def topk_block(key, C, ia, ib):
        frames = []
        # per-group top-k for BOTH directions (a rows see b candidates,
        # b rows see a candidates); the diagonal group covers one side
        # only and masks self-pairs
        sides = [(C, ia, ib)]
        if key[0] != key[1]:
            sides.append((C.T, ib, ia))
        for M, src, nbr in sides:
            Mm = M.copy()
            if key[0] == key[1]:
                # Mask self-pairs by ID EQUALITY, not matrix position:
                # Spark gives no intra-group row-ordering guarantee, so
                # when the diagonal group's 'a'/'b' rows arrive in
                # different relative orders (shuffle block fetch order is
                # randomized on real clusters) np.fill_diagonal would hit
                # the wrong cells — self-pairs with cosine 1.0 would
                # survive and genuine pairs would be wrongly masked.
                Mm[src[:, None] == nbr[None, :]] = -np.inf
            take = min(k, Mm.shape[1])
            idx = np.argpartition(-Mm, take - 1, axis=1)[:, :take]
            rows = np.repeat(np.arange(Mm.shape[0]), take)
            cols = idx.ravel()
            vals = Mm[rows, cols]
            keep = np.isfinite(vals)
            frames.append(
                pd.DataFrame(
                    {
                        "src_id": src[rows[keep]],
                        "nbr_id": nbr[cols[keep]],
                        "cosine": vals[keep],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    candidates = _block_pair_cosines(
        embeddings.filter(nonzero),
        id_col,
        vec_col,
        n_blocks,
        round_digits,
        topk_block,
        ("src_id", "nbr_id"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.col("nbr_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_train(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    sample_limit: int = 2048,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Train product-quantization codebooks: split the vector into ``m``
    subspaces and run a small seeded Lloyd's k-means per subspace on a
    bounded sample — codebook fitting is small-data BY DESIGN (m*k
    centroids summarize the space; the sample, not the corpus, bounds
    the work). Returns ``m`` numpy arrays of shape (k_codes, dim/m).

    Deterministic AND layout-independent (r5 advice #5): the sample is
    the ``sample_limit`` rows with the smallest md5(seed:id) key — the
    same rerun-stable idiom the hash samplers use — so the codebooks do
    not depend on partition count or cluster width. (The previous
    ``sample(1.0).limit(n)`` selected rows by partition layout.) The
    TakeOrdered is bounded by sample_limit. Seeded init + fixed
    iterations as before.
    """
    import numpy as np

    sample = (
        embeddings.select(
            F.col(vec_col),
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))).alias(
                "_smp"
            ),
        )
        .orderBy("_smp")
        .limit(sample_limit)
        .select(vec_col)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    dsub_guard = dim // m
    # Empty-input guard (registry-wide empty sweep, r7): a 0-row sample
    # yields a 1-D (0,) array, so axis-1 math below raises AxisError.
    # Return one all-zero code per subspace — the degenerate codebook is
    # total (pq_encode of the then-empty corpus is empty; knn_pq's ADC
    # table stays well-formed) and deterministic.
    if X.size == 0:
        return [np.zeros((1, dsub_guard), dtype=np.float64) for _ in range(m)]
    # L2-normalize: squared distance on unit vectors is 2 - 2*cosine, so
    # ADC ranking matches the cosine ranking the exact paths use.
    # Zero-norm guard: an all-zero embedding otherwise turns into NaN
    # subvectors that poison every centroid it touches.
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        idx = rng.choice(len(S), size=min(k_codes, len(S)), replace=False)
        C = S[idx].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append(C)
    return books


def pq_encode(
    embeddings: DataFrame,
    books: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector into ``m`` one-byte codes (nearest centroid
    per subspace) — 32x smaller than float32 for 64-dim/m=8, which is
    what lets a 100 TB embedding corpus live in executor memory as an
    in-RAM index. One Arrow-batched numpy pass; codebooks ship in the
    task closure (m*k*dsub floats).
    Returns (id_col, codes array<int>).
    """
    import numpy as np
    import pandas as pd

    m = len(books)
    dsub = books[0].shape[1]

    def encode(it):
        for pdf in it:
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(X, axis=1, keepdims=True)
            X = X / np.where(norms == 0, 1.0, norms)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    # derive the id type from the input schema (like knn_graph) instead of
    # pinning long: a string/int id would otherwise silently miscast
    schema = T.StructType(
        [
            T.StructField(id_col, embeddings.schema[id_col].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )
    return embeddings.select(col(id_col), col(vec_col)).mapInPandas(encode, schema)


def knn_pq(
    codes: DataFrame,
    books: list,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    rerank_with: DataFrame | None = None,
    shortlist: int = 50,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: the query builds one m x k_codes lookup table of exact
    subspace distances; each corpus row's approximate distance is the
    SUM of m table lookups — a pure-codegen expression over the codes
    array (element_at per subspace), no Python and no vector math at
    scan time. TakeOrdered top-k, no shuffle.

    ``rerank_with``: the production two-stage shape — ADC scans the
    compressed index for a ``shortlist``, then only the shortlist's
    full vectors are fetched (semi-join on id) and re-ranked by exact
    cosine. The expensive exact math touches ``shortlist`` rows instead
    of the corpus; quantization error only costs recall if a true
    neighbor misses the whole shortlist.
    Returns (id_col, adc_distance) ordered ascending, or with rerank
    (id_col, cosine) ordered by (cosine desc, id), top-k either way.
    """
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / (qn if qn != 0 else 1.0)
    m = len(books)
    dsub = books[0].shape[1]
    dist = F.lit(0.0)
    for j in range(m):
        table = ((books[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
        dist = dist + F.element_at(
            F.lit([float(x) for x in table]).cast("array<double>"),
            F.element_at(F.col("codes"), j + 1) + 1,
        )
    scored = codes.select(F.col(id_col), F.round(dist, 6).alias("adc_distance"))
    if rerank_with is None:
        return scored.orderBy("adc_distance", id_col).limit(k)
    short = scored.orderBy("adc_distance", id_col).limit(shortlist)
    qn = [float(x) for x in q]
    qcol = F.array(*[F.lit(x) for x in qn])
    exact = rerank_with.join(F.broadcast(short.select(id_col)), id_col, "left_semi")
    sim = F.round(cosine(F.col(vec_col), qcol), 6)
    return (
        exact.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def radius_search(
    embeddings: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """All corpus vectors within a cosine RADIUS of each query (the
    fixed-threshold companion to :func:`knn_batch`'s fixed-k): retrieval
    recall sweeps and near-duplicate probes want "everything above 0.8",
    not "the best 10".

    Same plan as knn_batch minus the ranking window: queries broadcast,
    the corpus streams through one scan, the rounded cosine filters
    map-side — no shuffle at all after the scan (the top-k variant needs
    one for its per-query window). Self-matches excluded.
    Returns (query_id, vec_id, cosine >= threshold).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    sim = cosine(F.col(vec_col), F.col("_qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(F.col(query_id_col), F.col(id_col), sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def group_centroids(
    embeddings: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """Exact per-group embedding centroid (mean vector), distributed by
    DIMENSION: posexplode the vectors, fixed-point each component to
    1/scale, sum as BIGINT per (group, dim) — engine-exact means with no
    accumulation-order drift — and reassemble the vector with a sorted
    collect bounded by the dimensionality.

    The shuffle carries (group, dim, value) triples — dim x rows, the
    unavoidable volume for an exact per-dimension reduction — and every
    aggregate is map-combined. Domain centroids feed coverage/balance
    analyses and the IVF/SemDeDup operators directly (same
    (id, vector) shape as their centroid inputs).
    Returns (group_col, n_vectors, centroid array<double>).
    """
    exploded = embeddings.select(
        F.col(group_col),
        F.posexplode(
            _as_doubles(F.col(vec_col))
        ).alias("_dim", "_v"),
    )
    per_dim = exploded.groupBy(group_col, "_dim").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        (F.sum(F.round(F.col("_v") * scale).cast("long")) / F.lit(scale)).alias(
            "_s"
        ),
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.max("_n").alias("n_vectors"),
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_dim", (F.col("_s") / F.col("_n")).alias("_m")))
                ),
                lambda s: s["_m"],
            ).alias("centroid"),
        )
    )


def label_centroid_sq_distances(
    embeddings: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every vector scored against EVERY label centroid with the exact
    fixed-point squared distance — the shared staging under the
    nearest-centroid confusion matrix (k15) and the simplified
    silhouette (k16), extracted r11 (registry hygiene). Centroids are
    :func:`group_centroids` outputs (vocab-sized) and broadcast; the
    per-vector scoring is one map-side pass (the ivf_assign shape), and
    the squared distance goes through :func:`exact_sq_fold` (double
    fold under the provable 2^53 bound, DECIMAL(38,0) past it — ANSI-
    safe at |x| ~ 3e3 without per-element BigDecimal on benign data,
    r7 verdict #2). Quadratic only in |labels|.
    Returns (id_col, true_label, cand, _sq)."""
    cents = group_centroids(embeddings, label_col).select(
        F.col(label_col).alias("cand"), "centroid"
    )
    terms = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.col("centroid"),
        lambda x, y: F.round((x - y) * (x - y) * 1e9),
    )
    return (
        embeddings.crossJoin(F.broadcast(cents))
        .select(
            id_col,
            F.col(label_col).alias("true_label"),
            "cand",
            terms.alias("_t"),
        )
        .select(
            id_col,
            "true_label",
            "cand",
            exact_sq_fold(F.col("_t"), 1e9).alias("_sq"),
        )
    )


def centroid_distances(
    embeddings: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    scale: float = 1e6,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise Euclidean distance between per-group centroids — the
    cluster-separation / embedding-drift diagnostic (how far apart are
    the label means; which classes are entangled).

    Builds on :func:`group_centroids` (exact fixed-point means), then
    self-joins the GROUP-level frame: the pair explosion is bounded by
    C(|groups|, 2), never by the embedding count, so the quadratic term
    is over a handful of centroid rows. The distance folds over the two
    centroid arrays with ``F.zip_with`` + ``F.aggregate`` — JVM-side
    higher-order functions, no UDF. Rounded because the per-dimension
    means are exact but their squared-sum fold is IEEE.
    Returns (group_a, group_b, n_a, n_b, dist) for group_a < group_b.
    """
    cents = group_centroids(embeddings, group_col, vec_col, scale)
    a = cents.select(
        F.col(group_col).alias("group_a"),
        F.col("n_vectors").alias("n_a"),
        F.col("centroid").alias("_ca"),
    )
    b = cents.select(
        F.col(group_col).alias("group_b"),
        F.col("n_vectors").alias("n_b"),
        F.col("centroid").alias("_cb"),
    )
    sq = F.aggregate(
        F.zip_with("_ca", "_cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            F.round(F.sqrt(sq), round_digits).alias("dist"),
        )
    )


def norm_stats(
    embeddings: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    unit_tol: float = 1e-3,
) -> DataFrame:
    """Per-group embedding norm health check: exact average L2 norm and
    the count of unit-normalized vectors — the first audit before any
    cosine-based pipeline (un-normalized vectors silently corrupt cosine
    thresholds and SemDeDup radii).

    Per-row norms fold JVM-side over the array with each squared term
    fixed-pointed (round * 1e9) and summed exactly via the two-path
    exact_sq_fold (double fold under the provable 2^53 bound,
    DECIMAL(38,0) past it — r7 zero-vector sweep made the fold
    overflow-safe, r7 verdict #2 made the safe path pay only when
    needed); the group average fixed-points the norms again
    (1e-6 -> DECIMAL sum) — engine-identical with no output rounding.
    Map-only until one bounded groupBy on the label.
    Returns (group_col, n_vectors, avg_norm, n_unit).
    """
    terms = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * x.cast("double") * 1e9),
    )
    staged = embeddings.select(F.col(group_col), terms.alias("_t")).select(
        F.col(group_col), F.sqrt(exact_sq_fold(F.col("_t"), 1e9)).alias("_nrm")
    )
    return staged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (
            (
                F.sum(F.round(F.col("_nrm") * 1e6).cast("decimal(38,0)"))
                .cast("double")
            )
            / 1e6
            / F.count(F.lit(1))
        ).alias("avg_norm"),
        F.sum(
            F.when(F.abs(F.col("_nrm") - 1) < unit_tol, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_unit"),
    )


def mmr_select(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k: greedily pick the item
    maximizing ``lam * sim(query, d) - (1 - lam) * max sim(d, selected)``
    — the retrieval-diversification step RAG and dedup-aware sampling
    pipelines run after plain kNN (plain top-k returns near-duplicates;
    MMR trades a little relevance for coverage).

    Two phases with the IVF re-rank discipline: a DISTRIBUTED cosine
    top-``pool`` retrieval (map-only scan + TakeOrdered, vectors carried
    for the ``pool`` survivors only), then the greedy O(k * pool) loop
    over that BOUNDED pool driver-side in numpy — the iteration is
    inherently sequential (step i depends on the i-1 selection), and
    pool is tens of rows, so distributing it would ship more plan than
    data.

    Scoring is exact integer fixed-point on the rounded-cosine grid:
    with ``lam`` = a/10, score_fp = a*rel_fp - (10-a)*pen_fp where
    rel_fp/pen_fp are the 6-dp cosines scaled to integers. Float
    scoring needed a 1e-12 epsilon tie-break (0.7*x - 0.3*y collides
    to within ULPs for algebraically equal grid points), which is not
    a total order and not engine-reproducible; the integer form has
    exact ties broken on id, so the greedy chain is replayed verbatim
    by k12's unrolled SQL oracle. Zero-norm/NULL-cosine rows are
    excluded from the pool (a NaN relevance previously sorted FIRST
    and the float loop's None-init could emit it as rank 1).
    Returns (rank 1..k, id_col, relevance, mmr_score).
    """

    if not (0 < lam < 1) or round(lam * 10) != lam * 10:
        raise ValueError("lam must be a multiple of 0.1 in (0, 1) for exact scoring")
    lam_n = int(round(lam * 10))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    rel_col = F.round(cosine(col(vec_col), q), round_digits)
    cand = (
        embeddings.select(
            col(id_col),
            col(vec_col).cast("array<double>").alias("_v"),
            rel_col.alias("_rel"),
            # sequential sum of squares, same fold order as the oracle's
            # list_dot_product(ev, ev)
            F.aggregate(
                col(vec_col).cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            ).alias("_n2"),
        )
        .filter(F.col("_rel").isNotNull() & ~F.isnan(F.col("_rel")))
        # overflow guard (r10 review): a vector whose self-dot overflows
        # to inf has a FINITE relevance (finite/inf = 0), passes the NaN
        # filter, and then crashes the greedy loop with inf/inf = NaN at
        # int() time (the old BLAS path silently emitted garbage instead).
        # Drop non-finite-norm vectors BEFORE the pool limit, mirrored in
        # the oracle (isfinite(list_dot_product)) so pool membership
        # stays engine-identical. inf < inf and NaN < x are both false.
        .filter(F.col("_n2") < F.lit(float("inf")))
        .orderBy(F.desc("_rel"), col(id_col))
        .limit(pool)
        .collect()  # bounded: exactly `pool` rows with their vectors
    )
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    if not cand:
        return embeddings.sparkSession.createDataFrame([], schema)
    scale = 10**round_digits
    ids = [r[id_col] for r in cand]
    rel_fp = [int(round(r["_rel"] * scale)) for r in cand]
    # 6-dp rounded pairwise cosines as integers, computed with the SAME
    # sequential formula as the oracle's
    # list_dot_product(a,b) / (sqrt(list_dot_product(a,a)) *
    # sqrt(list_dot_product(b,b))): left-to-right double accumulation
    # over the RAW vectors, divide, then round half-away-from-zero.
    # A BLAS matmul of pre-normalized vectors was "equal to within
    # ULPs", but a ULP at a 0.5e-6 rounding boundary flips one pair_fp
    # integer and the divergence cascades through the whole greedy
    # chain (r9 ADVICE #3) — the pool is only `pool` rows, so the
    # vectorization loss is noise. Zero norms cannot reach here: the
    # pool filter already dropped NULL/NaN-relevance rows.
    import math

    vecs = [[float(x) for x in r["_v"]] for r in cand]

    def _sdot(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    norms = [math.sqrt(_sdot(v, v)) for v in vecs]
    n = len(vecs)
    pair_fp = [[0] * n for _ in range(n)]
    for i in range(n):
        for j in range(i + 1, n):
            # the sequential dot is exactly symmetric, so mirror it
            c = _sdot(vecs[i], vecs[j]) / (norms[i] * norms[j]) * scale
            # r10 advice: the pool guard checks SELF-dots only; two
            # individually finite-norm vectors (each self-dot just
            # under DBL_MAX) can still overflow the PAIRWISE dot to
            # +/-inf (c = inf) or the norm product to inf (c = NaN),
            # crashing int() below. Clamp the pair's cosine to 0 —
            # deterministic, and unreachable for unit-scale embeddings
            # so the k12 oracle chain is unaffected.
            if not math.isfinite(c):
                c = 0.0
            fp = int(math.floor(c + 0.5) if c >= 0 else math.ceil(c - 0.5))
            pair_fp[i][j] = pair_fp[j][i] = fp
    chosen: list[int] = []
    out_rows = []
    for rank in range(1, min(k, len(ids)) + 1):
        best_i, best_score = None, None
        for i in range(len(ids)):
            if i in chosen:
                continue
            penalty = max((int(pair_fp[i][j]) for j in chosen), default=0)
            score = lam_n * rel_fp[i] - (10 - lam_n) * penalty
            if (
                best_score is None
                or score > best_score
                or (score == best_score and ids[i] < ids[best_i])
            ):
                best_i, best_score = i, score
        chosen.append(best_i)
        out_rows.append(
            (
                rank,
                int(ids[best_i]),
                rel_fp[best_i] / scale,
                best_score / (10 * scale),
            )
        )
    return embeddings.sparkSession.createDataFrame(out_rows, schema)


def pca_explained_variance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    top_k: int = 16,
    round_digits: int = 6,
) -> DataFrame:
    """Explained-variance spectrum of the embedding corpus — the
    intrinsic-dimensionality diagnostic (how many directions carry the
    geometry; a spectrum collapsing onto few components means the
    64-dim space is mostly dead weight, an anisotropic one breaks
    cosine calibration).

    The scalable single-pass PCA shape: one Arrow-batched pass
    accumulates per-partition Gram partials (X^T X, column sums, count)
    — dim x dim doubles per PARTITION, not per row — which ship to the
    driver (numPartitions x dim² floats, bounded) where the covariance
    eigendecomposition runs on the dim x dim matrix with numpy. The
    corpus never shuffles; only the sketch-sized partials move. Valid
    while dim² fits in memory (64-dim -> 4096 doubles; even 4096-dim ->
    16M doubles per partition is fine); past that you want randomized
    SVD, which composes on the same partial-Gram pass.

    No oracle (eigendecomposition is iterative); parity vs a direct
    numpy PCA is pinned by pytest. Accumulation order varies with
    partitioning, so eigenvalues are reproducible only to float
    accumulation noise — rounded to ``round_digits`` for stability.
    Returns (component, eigenvalue, explained_ratio, cumulative_ratio)
    for the top_k components, variance-descending.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession

    def partials(it):
        n = 0
        s = None
        ss = None
        for pdf in it:
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    rows = (
        embeddings.select(
            _as_doubles(F.col(vec_col)).alias(vec_col)
        )
        .mapInPandas(partials, "n long, s array<double>, ss array<double>")
        .collect()
    )  # bounded: one row per partition, dim² doubles each
    if not rows:
        return spark.createDataFrame(
            [],
            "component long, eigenvalue double, explained_ratio double, "
            "cumulative_ratio double",
        )
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    dim = len(s)
    ss = np.sum([np.asarray(r["ss"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    evals = np.clip(evals, 0.0, None)  # clip float-noise negatives
    total = evals.sum()
    out = []
    cum = 0.0
    for i, ev in enumerate(evals[:top_k]):
        ratio = float(ev / total) if total > 0 else 0.0
        cum += ratio
        out.append(
            (
                i,
                round(float(ev), round_digits),
                round(ratio, round_digits),
                round(cum, round_digits),
            )
        )
    return spark.createDataFrame(
        out,
        "component long, eigenvalue double, explained_ratio double, "
        "cumulative_ratio double",
    )


def quantization_error_stats(
    embeddings: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group int8 scalar-quantization error audit: each vector is
    quantized with its own symmetric scale (max|component| / 127),
    dequantized, and the round-trip L2 error — absolute and relative to
    the vector norm — is averaged per group. The go/no-go report before
    shipping embeddings at 4x compression into an ANN index (recall loss
    tracks relative quantization error).

    Entirely map-only JVM array folds until one bounded groupBy on the
    label: the error list is built with nested transform (no explode —
    the vector never leaves its row), each squared term is fixed-pointed
    (round 1e12 / 1e9) and summed exactly via the two-path
    exact_sq_fold — a plain double fold under the provable 2^53 bound
    (the overwhelmingly common unit-norm case), DECIMAL(38,0) past it
    (a BIGINT fold would silently wrap for |component| beyond ~3e4 in
    non-ANSI Spark and error in ANSI — r6 advisor + r7 verdict #2) —
    and the group means fix-point again (1e-9, decimal-summed), making
    every stage accumulation-order-proof. Zero vectors (scale 0) are
    excluded — a 0-norm vector has no relative error — and so are
    vectors whose 1e-9 fixed-point norm rounds to zero (|x| ≲ 2e-5
    everywhere): the audit has no meaningful relative error at its own
    precision, and in ANSI Spark both cases otherwise raise
    DIVIDE_BY_ZERO (found by the round-7 hypothesis property). Both
    filters run BEFORE the divisions they guard.
    Returns (group_col, n_vectors, avg_l2_err, avg_rel_err).
    """
    dec = "decimal(38,0)"
    v = _as_doubles(F.col(vec_col))
    vmx = embeddings.select(
        F.col(group_col), v.alias("_v")
    ).select(
        F.col(group_col),
        F.col("_v"),
        F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))).alias("_mx"),
    )
    err = F.transform(
        F.col("_v"),
        lambda x: x - F.round(x / F.col("_mx") * 127) * F.col("_mx") / 127,
    )
    staged = (
        vmx.filter(F.col("_mx") > 0)
        .select(
            F.col(group_col),
            F.transform(err, lambda d: F.round(d * d * 1e12)).alias("_e2"),
            F.transform(
                F.col("_v"), lambda x: F.round(x * x * 1e9)
            ).alias("_q2"),
        )
        .select(
            F.col(group_col),
            F.sqrt(exact_sq_fold(F.col("_e2"), 1e12)).alias("_l2"),
            F.sqrt(exact_sq_fold(F.col("_q2"), 1e9)).alias("_nrm"),
        )
        .filter(F.col("_nrm") > 0)
    )
    n = F.count(F.lit(1))
    return staged.groupBy(group_col).agg(
        n.cast("long").alias("n_vectors"),
        (F.sum(F.round(F.col("_l2") * 1e9).cast(dec)) / 1e9 / n).alias(
            "avg_l2_err"
        ),
        (
            F.sum(F.round(F.col("_l2") / F.col("_nrm") * 1e9).cast(dec))
            / 1e9
            / n
        ).alias("avg_rel_err"),
    )


def split_representativeness(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Train/test split-representativeness audit: split each label's
    vectors by id parity (the deterministic 50/50 split) and report the
    cosine between the two half-centroids — near 1.0 means either half
    represents the label's region and an id-hash split is safe; a low
    value flags ordered or clustered ids leaking structure into the
    split. Exploded-scalar discipline (the k9 shape): per
    (label, parity, dim) sums are 1e-6 fixed-point BIGINTs, the means
    and the per-dim cosine are then identical double arithmetic on any
    engine, rounded at 6. A zero-norm half-centroid yields NULL via
    try_divide (matching SQL x/0 semantics — a plain division crashes
    under Spark ANSI mode on all-zero vectors in one parity).
    Returns (label, n_even, n_odd, split_cosine)."""
    ex = embeddings.select(
        label_col,
        (F.col(id_col) % 2).cast("int").alias("par"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"),
    ).select(
        label_col,
        "par",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v") * 1e6).cast("long").alias("v6"),
    )
    m = ex.groupBy(label_col, "par", "dim").agg(
        (F.sum("v6") / 1e6 / F.count(F.lit(1))).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )
    pv = m.groupBy(label_col, "dim").agg(
        F.max(F.when(F.col("par") == 0, F.col("mean"))).alias("a"),
        F.max(F.when(F.col("par") == 1, F.col("mean"))).alias("b"),
        F.max(F.when(F.col("par") == 0, F.col("n"))).alias("ne"),
        F.max(F.when(F.col("par") == 1, F.col("n"))).alias("no"),
    )
    return pv.groupBy(label_col).agg(
        F.max("ne").cast("long").alias("n_even"),
        F.max("no").cast("long").alias("n_odd"),
        F.round(
            F.try_divide(
                F.sum(F.col("a") * F.col("b")),
                F.sqrt(F.sum(F.col("a") * F.col("a")))
                * F.sqrt(F.sum(F.col("b") * F.col("b"))),
            ),
            6,
        ).alias("split_cosine"),
    )
