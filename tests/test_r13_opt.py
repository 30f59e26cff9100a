"""Round-13 optimization invariants."""

from __future__ import annotations

from market_data_pipeline_spark.plans.driver_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_mm6_phash_dedup_surface_is_canonicalizable(spark):
    """mm6 is rows-only (no oracle), so the driver records its raw rows —
    which its canonicalizer sorts with pandas. pandas cannot order list
    cells, so every output column must be a scalar type, and the row set
    must actually survive a pandas lexsort (r12 verdict item #2: the old
    array<long> media_ids crashed the driver's recorder)."""
    import pandas as pd

    df = QUERIES["mm6_phash_dedup"](spark, SF_DIR)
    for f in df.schema.fields:
        assert f.dataType.typeName() in {
            "string",
            "long",
            "integer",
            "double",
            "float",
            "boolean",
            "date",
            "timestamp",
            "decimal",
        }, f"non-scalar column {f.name}: {f.dataType}"
    rows = df.collect()
    assert rows, "duplicate salting must produce at least one group"
    pdf = pd.DataFrame([r.asDict() for r in rows])
    pdf.sort_values(by=list(pdf.columns))  # the canonicalizer's operation
    # the salted exact re-ingests must pair original with +1_000_000 copy
    for r in rows:
        assert r["n_images"] >= 2
        ids = [int(x) for x in r["media_ids"].split(",")]
        assert ids == sorted(ids)


def test_sql_dlit_vec_expr_py_norm_bit_parity(spark):
    """r13 k5/k4/k17 fix: ivf_assign/kmeans_lloyd_exact now build their
    centroid literals as parsed SQL text (_sql_dlit/_vec_expr) and
    precompute centroid norms on the driver (_py_norm). All three must
    be BIT-identical to the Column-API path they replaced: repr(float)
    -> Double.parseDouble is a correctly-rounded round trip, and
    _py_norm replays _norm's sequential IEEE fold."""
    import math
    import struct

    from pyspark.sql import functions as F

    from market_data_pipeline_spark.operators import similarity as SIM

    def bits(x):
        return None if x is None else struct.pack(">d", float(x)).hex()

    tricky = [
        0.1,
        -0.1,
        1.0 / 3.0,
        -0.0,
        0.0,
        1e-308,
        5e-324,  # min subnormal
        1.7976931348623157e308,  # max double
        math.pi,
        -2.2250738585072014e-308,
        123456789.123456789,
        None,
        float("nan"),
        float("inf"),
        float("-inf"),
    ]
    got = (
        spark.range(1)
        .select(*[F.expr(SIM._sql_dlit(x)).alias(f"c{i}") for i, x in enumerate(tricky)])
        .collect()[0]
    )
    for i, x in enumerate(tricky):
        g = got[f"c{i}"]
        if x is None:
            assert g is None
        elif isinstance(x, float) and math.isnan(x):
            assert g is not None and math.isnan(g)
        else:
            assert bits(g) == bits(x), f"{x!r} -> {g!r}"

    # _vec_expr == the old per-component F.lit array, bitwise
    vecs = [
        [0.1, -0.0, 1.0 / 3.0, 5e-324],
        [1e-308, math.pi, -1.5, 2.0],
        [],
    ]
    for v in vecs:
        row = (
            spark.range(1)
            .select(
                SIM._vec_expr(v).alias("a"),
                F.array(*[F.lit(float(x)) for x in v]).alias("b"),
            )
            .collect()[0]
        )
        assert [bits(x) for x in row["a"]] == [bits(x) for x in row["b"]]

    # _py_norm == the in-plan _norm fold over the same literal array
    norm_vecs = [
        [3.0, 4.0],
        [0.1, 0.2, 0.3, -0.4],
        [1e-200, 1e-200],
        [0.0],
        [],
        [1.0, None, 2.0],
        [None],
    ]
    for v in norm_vecs:
        plan_norm = (
            spark.range(1)
            .select(SIM._norm(SIM._vec_expr(v)).alias("n"))
            .collect()[0]["n"]
        )
        assert bits(SIM._py_norm(v)) == bits(plan_norm), f"{v}"


def test_kmeans_lloyd_exact_null_ragged_golden(spark):
    """Regression pin for the r13 map-only Lloyd assignment: NULL
    components and ragged dims must keep the r12 join-shape semantics
    (skip-NULL fixed-point sums, all-NULL distance ranks last, per-dim
    means skip NULLs). Golden values captured from the r12
    implementation (commit bc1be8e) on this exact fixture."""
    from market_data_pipeline_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, None]),
        (1, [None, 2.0]),
        (2, [3.0, 4.0]),
        (3, [0.5, None]),
        (4, [5.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.vec_id, tuple(r.embedding))
        for r in SIM.kmeans_lloyd_exact(
            emb, k=2, max_iter=3, sample_hex=None
        ).collect()
    )
    assert got == [(0, (2.6666666666666665,)), (1, (0.75, None))]
