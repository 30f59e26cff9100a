"""Output checks, run outside the timed section.

Oracled queries are compared with their DuckDB oracle through
``compare`` from ``scripts/check_oracle.py`` (imported from the file, so
the benchmark and the correctness gate share one rule). Queries without an
oracle must return rows, and the same rows when evaluated twice: an
order-insensitive hash of the result, built with the gate's ``norm``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

from harness import ROOT

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def load_gate():
    """The ``scripts/check_oracle.py`` module."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rows_hash(cols, rows, norm) -> tuple[int, str]:
    """(row count, sha256) of a result, independent of row and column
    order. ``rows`` are dicts keyed by column name."""
    cols = sorted(cols)
    keys = sorted(repr(tuple(str(norm(r[c])) for c in cols)) for r in rows)
    h = hashlib.sha256(repr(cols).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return len(keys), h.hexdigest()


class Checker:
    def __init__(self, data_dir: str):
        import duckdb

        from market_data_pipeline_spark.plans.driver_queries import ORACLES

        self.gate = load_gate()
        self.oracles = ORACLES
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def result(self, df) -> tuple[list[str], list[dict]]:
        return list(df.columns), [r.asDict() for r in df.collect()]

    def check(self, name: str, cols, rows, again=None) -> str | None:
        """None when the result is right, else why not. ``again`` is a
        callable that recomputes (cols, rows); rows-only queries need it."""
        if name in self.oracles:
            ddf = self.con.execute(self.oracles[name]).fetch_arrow_table()
            status, msg = self.gate.compare(
                name, cols, rows, ddf.column_names, ddf.to_pylist()
            )
            return None if status == "PASS" else msg
        if not rows:
            return "rows-only query returned 0 rows"
        first = rows_hash(cols, rows, self.gate.norm)
        second = rows_hash(*again(), self.gate.norm)
        if first != second:
            return f"rows-only result changed between runs: {first} vs {second}"
        return None
