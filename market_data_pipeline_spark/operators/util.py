"""Small shared operator utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def col(name: str) -> Column:
    """The column NAMED ``name``, backtick-quoted so that a dot, a space
    or a backtick in it is part of the name (``F.col`` would parse a dot
    as a struct path). For caller-supplied column names."""
    return F.col("`" + name.replace("`", "``") + "`")


def pairs_within_groups(
    df: DataFrame,
    group_keys: list[str],
    id_col: str,
    payload_cols: list[str] | None = None,
    max_group_size: int | None = None,
) -> DataFrame:
    """All (a, b) member pairs with ``a.id < b.id`` within each group —
    the bucket-join step shared by every LSH/banding dedup operator.

    Implemented as ONE shuffle (groupBy the bucket key, collect members,
    emit in-group combinations from the sorted member array) instead of a
    self equi-join. The self-join formulation executes the upstream
    pipeline twice — Catalyst broadcasts one side when it looks small,
    which kills the ReusedExchange that would otherwise dedupe the two
    identical subplans — and shuffles every exploded row twice. Here the
    expensive upstream (shingling, signatures) runs exactly once.

    Skew note: a hot bucket (viral duplicate cluster, stop-shingle)
    produces its k^2 pairs inside ONE task because the bucket is one
    shuffle key. ``max_group_size`` is the production knob: buckets with
    more members are dropped entirely BEFORE their members are collected —
    the size check is a count over an unordered window on the same
    partitioning (spillable; an oversized bucket streams through the
    count and is filtered, it never materializes as an in-memory array,
    and the upstream pipeline still executes exactly once since the
    window and the groupBy share the exchange). Dropped buckets produce
    no pairs; audit what was dropped with :func:`bucket_overflow_stats`.
    Dropping hot buckets is the standard dedup-pipeline semantics — a
    shingle shared by 10k documents carries no near-dup signal, only k^2
    pair cost.

    Returns one row per pair with struct columns ``a`` and ``b`` holding
    (id_col, *payload_cols) each.
    """
    payload_cols = payload_cols or []
    if max_group_size is not None:
        w = Window.partitionBy(*[col(k) for k in group_keys])
        df = (
            df.withColumn("_gsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_gsz") <= max_group_size)
            .drop("_gsz")
        )
    member = F.struct(col(id_col), *[col(c) for c in payload_cols])
    grouped = df.groupBy(*[col(k) for k in group_keys]).agg(
        # array_sort makes pair order deterministic regardless of
        # collect_list's arrival order (struct sort = lexicographic by
        # field, id first)
        F.array_sort(F.collect_list(member)).alias("_m")
    )
    pairs = F.flatten(
        F.transform(
            F.col("_m"),
            lambda a, i: F.transform(
                F.slice(F.col("_m"), i + F.lit(2), F.size(F.col("_m"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # `size(arr) > 0` filter whose predicate re-embeds the whole (higher-
    # order-function) array expression; HOFs don't codegen, and the
    # interpreted per-row predicate costs ~10x the projection itself.
    # explode_outer infers nothing; the null rows (empty groups) are
    # dropped by a cheap filter on the GENERATED column instead.
    return (
        grouped.select(*[col(k) for k in group_keys], F.explode_outer(pairs).alias("_p"))
        .filter(F.col("_p").isNotNull())
        .select(*[col(k) for k in group_keys], F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    )


def bucket_overflow_stats(
    df: DataFrame, group_keys: list[str], max_group_size: int
) -> DataFrame:
    """Audit companion to ``pairs_within_groups(max_group_size=...)``:
    one row per OVERSIZED bucket with its member count, so pipelines can
    log how much signal the cap discarded (the brief's rule: no silent
    caps). Same single-shuffle shape as the pair generation; run it on the
    same input when the audit is wanted.
    """
    return (
        df.groupBy(*[F.col(k) for k in group_keys])
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > max_group_size)
    )


def ensure_parallelism(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """Repartition a frame up to the cluster's default parallelism when its
    scan would otherwise under-parallelize downstream compute.

    Single-file parquet with one row group (the driver's testdata layout)
    scans as ONE input partition, so a map-only pipeline (shingling,
    signatures, feature extraction) runs on one core no matter how many
    executors exist. One cheap exchange of the raw rows unlocks the full
    cluster. At production scale inputs ship in many files/row groups and
    this is a no-op (the partition count check short-circuits).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target, col(id_col)) if id_col else df.repartition(target)
