from __future__ import annotations

import os
import sys

import pytest

from market_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mdps-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    """Every registered query built once at sf0.001, kept as a small record
    rather than the DataFrame: ``columns``, field ``types`` (type names),
    ``root_sort`` (the analyzed plan root is a global Sort) and the
    ``audit_plan`` ``facts`` without the plan text. A build exception is
    recorded under ``error`` and an audit exception under ``audit_error``
    (streaming/memory-sink queries run on build and may not audit)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from plan_audit import audit_plan

    from market_data_pipeline_spark.plans.driver_queries import QUERIES

    records: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            root = df._jdf.queryExecution().analyzed()
            rec = {
                "columns": df.columns,
                "types": [f.dataType.typeName() for f in df.schema.fields],
                "root_sort": root.getClass().getSimpleName() == "Sort"
                and getattr(root, "global")(),
            }
        except Exception as exc:
            records[name] = {"error": repr(exc)}
            continue
        try:
            facts = audit_plan(df)
            del facts["plan_text"]
            rec["facts"] = facts
        except Exception as exc:
            rec["audit_error"] = repr(exc)
        records[name] = rec
    return records
