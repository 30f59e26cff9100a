"""Reference helpers shared by the property-test modules."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal


def rhu(x: float, digits: int = 0) -> float:
    """Spark ROUND on double: shortest-repr decimal quantized HALF_UP."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, ROUND_HALF_UP))


def write_lineitem(spark, tmp_path, pts):
    """pts: list of (symbol:int, date, close:float) single-line days."""
    rows = [
        (i + 1, sym, 1, 1, 1.0, float(c), 0.0, 0.0, "N", "O", d)
        for i, (sym, d, c) in enumerate(pts)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
