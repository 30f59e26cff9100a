"""NULL partition keys: queries that find each key's first-seen value with
a MIN window drop NULL-key rows, exactly as the inner join in their DuckDB
oracle does, instead of pooling them into one pseudo-key."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from check_oracle import compare  # noqa: E402

from market_data_pipeline_spark.plans.driver_queries import ORACLES, QUERIES  # noqa: E402

# query -> (table, key column, which rows lose their key). e6 counts
# DISTINCT users, so a pooled NULL pseudo-user only shows as a cohort no
# real user has: nulling the whole first week makes one.
CASES = {
    "a31_new_vs_repeat_revenue": ("orders", "o_custkey", "o_orderkey % 5 = 0"),
    "e31_new_vs_returning": ("events", "user_id", "event_id % 5 = 0"),
    "e6_retention_cohorts": (
        "events",
        "user_id",
        "date_trunc('week', ts) = (SELECT min(date_trunc('week', ts)) FROM src)",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_null_keys_match_duckdb(spark, sf_dir, tmp_path, name):
    table, key, nulled = CASES[name]
    dst = f"{tmp_path}/{table}.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM '{sf_dir}/{table}.parquet'")
    cols = [r[0] for r in con.execute("DESCRIBE src").fetchall()]
    sel = ", ".join(
        f"CASE WHEN {nulled} THEN NULL ELSE {c} END AS {c}" if c == key else c
        for c in cols
    )
    con.execute(f"COPY (SELECT {sel} FROM src) TO '{dst}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{dst}'")
    assert con.execute(f"SELECT count(*) FROM {table} WHERE {key} IS NULL").fetchone()[0] > 0

    sdf = QUERIES[name](spark, str(tmp_path))
    ddf = con.execute(ORACLES[name]).fetch_arrow_table()
    status, msg = compare(
        name, sdf.columns, [r.asDict() for r in sdf.collect()],
        ddf.column_names, ddf.to_pylist(),
    )
    assert status == "PASS", msg
