"""Set operations (SURVEY §2.7).

The reference's ``pl.concat(dfs, how='vertical_relaxed')`` (reference:
src/crawlers/krx_delisted_crawler.py:312,350) unions frames whose columns
may differ in presence and type. Spark's union requires aligned schemas, so
``union_relaxed`` normalizes every branch to the widened common schema
first, then unions by name.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    NullType,
    StringType,
)

# minimal numeric-widening lattice (Spark typeName()s); anything else
# falls back to string
_NUMERIC_ORDER = ["byte", "short", "integer", "long", "float", "double"]


def _widen(a: DataType, b: DataType) -> DataType:
    if a == b:
        return a
    if isinstance(a, NullType):
        return b
    if isinstance(b, NullType):
        return a
    names = (a.typeName(), b.typeName())
    if all(n in _NUMERIC_ORDER for n in names):
        idx = max(_NUMERIC_ORDER.index(n) for n in names)
        return DoubleType() if _NUMERIC_ORDER[idx] in ("float", "double") else LongType()
    return StringType()


def union_relaxed(dfs: list[DataFrame]) -> DataFrame:
    """U1 — union by name with type relaxation: missing columns become
    nulls, conflicting types widen (numeric lattice, else string)."""
    if not dfs:
        raise ValueError("union_relaxed needs at least one frame")
    merged: dict[str, DataType] = {}
    order: list[str] = []
    for df in dfs:
        for f in df.schema.fields:
            if f.name not in merged:
                merged[f.name] = f.dataType
                order.append(f.name)
            else:
                merged[f.name] = _widen(merged[f.name], f.dataType)

    def conform(df: DataFrame) -> DataFrame:
        cols = []
        have = {f.name: f.dataType for f in df.schema.fields}
        for name in order:
            if name in have:
                cols.append(F.col(name).cast(merged[name]).alias(name))
            else:
                cols.append(F.lit(None).cast(merged[name]).alias(name))
        return df.select(*cols)

    return reduce(lambda a, b: a.unionByName(b), [conform(df) for df in dfs])


def key_difference(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """U3 — keys in ``incoming`` not in ``existing``, kept distributed
    (reference collects to a Python set at
    scripts/sync_new_listings.py:114-121)."""
    return (
        incoming.select(key).distinct().join(existing.select(key).distinct(), key, "left_anti")
    )


def bag_difference(left: DataFrame, right: DataFrame) -> DataFrame:
    """U5 — multiset (EXCEPT ALL) difference: each row survives with
    multiplicity max(0, count_left - count_right). Unlike the set-based
    ``key_difference``, duplicates carry meaning (per-occurrence
    reconciliation: ledger entries, event replays, bag-of-rows diffs).

    Spark's ``exceptAll`` plans this as a count-aggregate + generate —
    one shuffle on the full row, no join explosion; the same shape DuckDB
    executes for EXCEPT ALL, so multiplicities match exactly.
    """
    return left.exceptAll(right)
