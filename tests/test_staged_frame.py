"""Staged-frame memos (``sources.catalog.staged_frame``) follow their
source tables: rewriting a table in a live session re-stages every memo
derived from it, with no manual clear."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from market_data_pipeline_spark.plans import driver_queries as dq

REWRITTEN = ("lineitem", "part", "documents")

MEMOS = {
    "price_frame": lambda s, d: dq.price_frame(s, d),
    "price_frame_symbols": lambda s, d: dq.price_frame(s, d, symbols=dq.RETURN_SYMBOLS),
    "master_frame": lambda s, d: dq.master_frame(s, d),
    "returns_frame": lambda s, d: dq.returns_frame(s, d),
    "ts12_linear_trend": lambda s, d: dq.QUERIES["ts12_linear_trend"](s, d),
    "mm1_image_stats": lambda s, d: dq.QUERIES["mm1_image_stats"](s, d),
}


def _copy_tables(src: str, dst: str) -> None:
    # copyfile, not copytree: the source tree is read-only and its mode
    # bits must not follow the copy
    os.makedirs(dst)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))


def _rows(df) -> list[str]:
    return sorted(map(str, df.collect()))


@pytest.mark.parametrize("memo", sorted(MEMOS))
def test_table_rewrite_restages_memo(spark, sf_dir, tmp_path, memo):
    """Query a copy of sf0.001, rewrite lineitem/part/documents with half
    their rows, and query again in the same session: the answer must equal a
    never-queried directory holding the rewritten files, and differ
    from the first answer."""
    fn = MEMOS[memo]
    live, fresh = str(tmp_path / "live"), str(tmp_path / "fresh")
    _copy_tables(sf_dir, live)
    before = _rows(fn(spark, live))
    for name in REWRITTEN:
        # rewritten the way Spark writes a table: a directory of part files
        path = os.path.join(live, f"{name}.parquet")
        t = pq.read_table(path)
        os.remove(path)
        os.makedirs(path)
        pq.write_table(t.slice(0, t.num_rows // 2), os.path.join(path, "part-00000.parquet"))
    shutil.copytree(live, fresh)
    after = _rows(fn(spark, live))
    assert after != before
    assert after == _rows(fn(spark, fresh))
