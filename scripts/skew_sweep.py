"""Key-skew engine-parity sweep: clone sf0.001 with ~50% of rows forced
onto ONE hot key per join/group/window dimension, then run every oracled
queries() entry on Spark AND its oracle_sql() on DuckDB over the SAME
skewed tables and compare with the oracle gate's own compare().

Motivation (r7 verdict #3): Zipf-skewed keys are the classic 100x-scale
killer — one hot symbol/user/shingle turns a balanced shuffle into a
straggler task — and the shipped testdata is uniform by construction,
so neither the per-round gate nor the other five sweeps ever exercises
this class. Correctness under skew is checked here registry-wide at
sf0.001; the PERFORMANCE side (which plans AQE rescues vs which need
operators/skew.salted_join) was measured at sf0.1 and is recorded in
BENCHNOTES "Round 8: key-skew adversary".

Skews injected (deterministic, ~50% of rows each, hot key = MIN of the
column's existing domain so referential joins stay valid):
  lineitem.l_partkey   -> hot part      (= hot SYMBOL for the ts family:
                                          PRICE_CTE groups lineitem by
                                          l_partkey, so half of all
                                          trading rows land on one
                                          symbol's window partition)
  lineitem.l_suppkey   -> hot supplier  (j14 sourcing entropy, tpch)
  orders.o_custkey     -> hot customer  (j12, tpch q13/q18/q22)
  events.user_id       -> hot user      (sessionize/windows/funnels: one
                                          user owns half the event log)
  documents.source     -> hot source    (group-by-source rollups)
  documents.text       -> hot text      (25%: one giant dup cluster for
                                          the dd shingle/minhash family)
  embeddings.label     -> hot label     (k-family centroid/groupBy)

A two-sided 0-row match is WARN, not FAIL (degenerate-empty policy
guards authoring, not adversarial inputs). Rows-only queries are
SKIPPED except that a crash still FAILs.

Usage: python scripts/skew_sweep.py [query ...]
Exit 1 on any true divergence or crash.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = os.path.join(REPO, ".scratch", "skew_tables")
SRC = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def build_skewed(src: str = SRC, scratch: str = SCRATCH) -> None:
    import duckdb

    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    con = duckdb.connect()
    hot = {
        "part": con.execute(
            f"SELECT MIN(l_partkey) FROM '{src}/lineitem.parquet'"
        ).fetchone()[0],
        "supp": con.execute(
            f"SELECT MIN(l_suppkey) FROM '{src}/lineitem.parquet'"
        ).fetchone()[0],
        "cust": con.execute(
            f"SELECT MIN(o_custkey) FROM '{src}/orders.parquet'"
        ).fetchone()[0],
        "user": con.execute(
            f"SELECT MIN(user_id) FROM '{src}/events.parquet'"
        ).fetchone()[0],
        "source": con.execute(
            f"SELECT MIN(source) FROM '{src}/documents.parquet'"
        ).fetchone()[0],
        "label": con.execute(
            f"SELECT MIN(label) FROM '{src}/embeddings.parquet'"
        ).fetchone()[0],
    }
    hot_text = con.execute(
        f"SELECT text FROM '{src}/documents.parquet' ORDER BY doc_id LIMIT 1"
    ).fetchone()[0]

    # table -> {column: CASE rewrite} forcing ~50% of rows onto the hot
    # key, keyed on the table's own primary key so the skew is
    # deterministic; columns substituted IN PLACE (original order kept)
    rewrites: dict[str, dict[str, str]] = {
        "lineitem": {
            "l_partkey": (
                f"CASE WHEN (l_orderkey + l_linenumber) % 2 = 0 "
                f"THEN {hot['part']} ELSE l_partkey END"
            ),
            "l_suppkey": (
                f"CASE WHEN (l_orderkey + l_linenumber) % 2 = 0 "
                f"THEN {hot['supp']} ELSE l_suppkey END"
            ),
        },
        "orders": {
            "o_custkey": (
                f"CASE WHEN o_orderkey % 2 = 0 THEN {hot['cust']} "
                "ELSE o_custkey END"
            ),
        },
        "events": {
            "user_id": (
                f"CASE WHEN event_id % 2 = 0 THEN {hot['user']} "
                "ELSE user_id END"
            ),
        },
        "documents": {
            "text": "CASE WHEN doc_id % 4 = 0 THEN $hot_text$ ELSE text END",
            "source": (
                f"CASE WHEN doc_id % 2 = 0 THEN '{hot['source']}' "
                "ELSE source END"
            ),
        },
        "embeddings": {
            "label": (
                f"CASE WHEN vec_id % 2 = 0 THEN '{hot['label']}' "
                "ELSE label END"
            ),
        },
    }
    for t in TABLES:
        if t in rewrites:
            all_cols = [
                r[0]
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
                ).fetchall()
            ]
            sel = ", ".join(
                f"{rewrites[t][c]} AS {c}" if c in rewrites[t] else c
                for c in all_cols
            )
            q = (
                f"COPY (SELECT {sel} FROM '{src}/{t}.parquet') "
                f"TO '{scratch}/{t}.parquet' (FORMAT PARQUET)"
            )
            if "$hot_text$" in q:
                con.execute(q.replace("$hot_text$", "?"), [hot_text])
            else:
                con.execute(q)
        else:
            shutil.copy(f"{src}/{t}.parquet", f"{scratch}/{t}.parquet")


def main() -> int:
    import duckdb

    only = set(sys.argv[1:])
    build_skewed()

    from market_data_pipeline_spark.session import get_spark
    from __spark_entry__ import oracle_sql, queries
    from check_oracle import compare  # same comparator the gate runs

    spark = get_spark("skew-sweep", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SCRATCH}/{t}.parquet'")

    qs, oras = queries(), oracle_sql()
    failures, warns = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oras:
            # rows-only: no oracle to diverge from; crashes still count
            try:
                fn(spark, SCRATCH).collect()
                print(f"skip  {name}: rows-only (no crash)")
            except Exception:
                failures.append((name, "rows-only CRASH on skewed input"))
                tb = traceback.format_exc().strip().splitlines()[-1][:160]
                print(f"FAIL  {name}: rows-only crash {tb}")
            continue
        try:
            sdf = fn(spark, SCRATCH)
            spark_cols = list(sdf.columns)
            srows = [row.asDict() for row in sdf.collect()]
        except Exception:
            failures.append((name, "SPARK CRASH"))
            tb = traceback.format_exc().strip().splitlines()[-1][:160]
            print(f"FAIL  {name}: spark crash {tb}")
            continue
        try:
            ddf = con.execute(oras[name]).fetch_arrow_table()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {str(e)[:160]}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:160]}")
            continue
        status, msg = compare(name, spark_cols, srows, ddf.column_names, ddf.to_pylist())
        if status == "FAIL" and "degenerate 0-row" in msg:
            warns.append(name)
            print(f"WARN  {name}: two-sided empty under skewed input")
        elif status == "FAIL":
            failures.append((name, msg))
            print(f"FAIL  {name}: {msg[:300]}")
        else:
            print(f"ok    {name}: {msg}")
    print(f"\n{len(failures)} divergence(s), {len(warns)} empty-warn(s)")
    for n, m in failures:
        print(f"  DIVERGE {n}: {m[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    raise SystemExit(main())
