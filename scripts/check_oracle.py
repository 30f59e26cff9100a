"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row
count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

The loop itself is ``run``; the adversarial sweeps (scripts/sweep.py)
call it over their clones on the caller's session.

Degenerate-empty guard (r6 verdict #2): a PASS where BOTH sides return
0 rows is vacuous — it proved only that two empty sets are equal, not
that the query computes anything. Round 6 shipped two such drafts
(a26_new_highs_lows with an unfillable 60-obs window, tx36_readability
on a terminator-less corpus) that "passed" until an eyeball caught the
row counts. The gate now FAILS a 0-row two-sided match unless the query
is explicitly whitelisted in MAY_BE_EMPTY, and always prints row counts
on PASS. Rows-only queries get the same treatment (0 rows -> FAIL).
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_data_pipeline_spark.session import get_spark  # noqa: E402
from __spark_entry__ import oracle_sql, queries  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Queries whose EMPTY result is a meaningful, intended answer at sf0.01
# (invariant checks that hold, reconciliations with no discrepancies).
# Every entry needs a one-line justification; anything else returning
# 0 rows on both sides is a degenerate pass and FAILS the gate.
MAY_BE_EMPTY: dict[str, str] = {
    # (currently empty: at sf0.01 every registered query returns >=1 row;
    #  violation-shaped queries emit per-group counts, not bare rows)
}


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def compare(name, spark_cols, srows, duck_cols, drows):
    """The gate's comparison, factored out so tests can drive it.

    Returns (status, message) where status is "PASS" or "FAIL". The
    degenerate-empty guard lives HERE so the regression test exercises
    the same code path the gate runs.
    """
    if sorted(spark_cols) != sorted(duck_cols):
        return "FAIL", f"cols {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(srows) != len(drows):
        return "FAIL", f"rowcount {len(srows)} vs {len(drows)}"
    if not srows and not drows:
        if name in MAY_BE_EMPTY:
            return "PASS", f"0 rows (whitelisted empty: {MAY_BE_EMPTY[name]})"
        return "FAIL", (
            "degenerate 0-row two-sided match — a vacuous pass; add to "
            "MAY_BE_EMPTY with a justification if genuinely intended"
        )
    cols = sorted(spark_cols)
    skey = sorted(tuple(str(norm(r[c])) for c in cols) for r in srows)
    dkey = sorted(tuple(str(norm(r[c])) for c in cols) for r in drows)
    if skey != dkey:
        ndiff = len([1 for a, b in zip(skey, dkey) if a != b])
        diff = [(a, b) for a, b in zip(skey, dkey) if a != b][:3]
        return "FAIL", f"values differ ({ndiff} rows), e.g. {diff}"
    return "PASS", f"{len(srows)} rows"


def within_rel_tol(spark_cols, srows, duck_cols, drows, rel_tol) -> bool:
    """True iff the two row sets match exactly on non-floats and within
    ``rel_tol`` RELATIVE on floats. Rows are aligned by their non-float
    fields; ambiguous alignments (duplicate non-float keys) fall back to
    sorted float tuples."""
    if sorted(spark_cols) != sorted(duck_cols) or len(srows) != len(drows):
        return False
    cols = sorted(spark_cols)

    def group(rows):
        g = {}
        for r in rows:
            key = tuple(str(r[c]) for c in cols if not isinstance(r[c], float))
            floats = [r[c] for c in cols if isinstance(r[c], float)]
            g.setdefault(key, []).append(sorted(floats, key=lambda x: (math.isnan(x), x)))
        return g

    gs, gd = group(srows), group(drows)
    if gs.keys() != gd.keys():
        return False
    for k in gs:
        a, b = sorted(gs[k]), sorted(gd[k])
        if len(a) != len(b):
            return False
        for fa, fb in zip(a, b):
            if len(fa) != len(fb):
                return False
            for x, y in zip(fa, fb):
                if not (math.isnan(x) and math.isnan(y)) and not math.isclose(
                    x, y, rel_tol=rel_tol, abs_tol=rel_tol
                ):
                    return False
    return True


def run(spark, data_dir, only=(), *, adversarial=False, rel_tol=0.0) -> Counter:
    """Run every queries() entry (or those in ``only``) on ``spark`` over
    the tables in ``data_dir``, compare each oracled one with its
    oracle_sql() on DuckDB over the same files, print one line per query
    and return the tally of outcomes: PASS, FAIL, rows-only, and for
    adversarial runs WARN and ulp (the PASSes that needed ``rel_tol``).

    The gate runs with the defaults. With ``adversarial`` a two-sided
    0-row match is WARN rather than FAIL (the degenerate-empty guard is
    for query authoring; an adversary may empty a result) and a rows-only
    query need only not crash. ``rel_tol`` re-checks a values-differ
    result float by float at that relative tolerance. Crashes and DuckDB
    errors FAIL.
    """
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    oras = oracle_sql()
    tally = Counter()
    for name, fn in queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, data_dir)
            spark_cols = list(sdf.columns)
            srows = [row.asDict() for row in sdf.collect()]
        except Exception as e:
            tally["FAIL"] += 1
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oras:
            if not srows and not adversarial and name not in MAY_BE_EMPTY:
                tally["FAIL"] += 1
                print(f"FAIL {name}: rows-only returned 0 rows (degenerate)")
            else:
                tally["rows-only"] += 1
                print(f"ok   {name}: rows-only ({len(srows)} rows, cols={sorted(spark_cols)})")
            continue
        try:
            ddf = con.execute(oras[name]).fetch_arrow_table()
        except Exception as e:
            tally["FAIL"] += 1
            print(f"FAIL {name}: duckdb error {e}")
            continue
        drows = ddf.to_pylist()
        status, msg = compare(name, spark_cols, srows, ddf.column_names, drows)
        if status == "FAIL" and adversarial and "degenerate 0-row" in msg:
            status, msg = "WARN", "two-sided empty"
        elif status == "FAIL" and rel_tol and "values differ" in msg and within_rel_tol(
            spark_cols, srows, ddf.column_names, drows, rel_tol
        ):
            tally["ulp"] += 1
            status, msg = "PASS", f"{len(srows)} rows, within {rel_tol:g} relative"
        tally[status] += 1
        print(f"{status} {name}: {msg}" if status != "PASS" else f"PASS {name} ({msg})")
    return tally


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tally = run(get_spark("oracle-check", shuffle_partitions=8), sf, set(sys.argv[2:]))
    print(f"\n{tally['FAIL']} failures" if tally["FAIL"] else "\nALL PASS")
    return 1 if tally["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main())
