"""KRX source adapters (fixture HTML, injected transport — no network) and
the end-to-end ingest pipelines (§3.1 daily batch, §3.2 delisted sync)."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_spark.plans import pipelines as PL
from market_data_pipeline_spark.sources import krx
from market_data_pipeline_spark.storage.table import stock_master_table

NOW = dt.datetime(2024, 6, 1, 2, 0, 0)

DELISTED_HTML = """
<html><body>
<table><tr><td>nav junk</td></tr></table>
<table>
  <tr><th>번호</th><th>회사명</th><th>종목코드</th><th>폐지일자</th><th>폐지사유</th><th>비고</th></tr>
  <tr><td>1</td><td>테스트회사</td><td>123456</td><td>2023.12.31</td><td>상장폐지신청</td><td></td></tr>
  <tr><td>2</td><td>다른회사</td><td>A654321</td><td>2023-11-30</td><td>감사의견거절</td><td>비고</td></tr>
  <tr><td>3</td><td>세번째</td><td>111222</td><td>20231025</td><td>기타</td></tr>
  <tr><td>4</td><td>나쁜코드</td><td>12</td><td>20230101</td><td>코드불량</td><td></td></tr>
</table>
</body></html>
"""

LISTING_HTML = """
<html><body>
<table>
  <tr><th>번호</th><th>회사명</th><th>종목코드</th><th>상장일</th><th>액면가</th><th>공모가</th></tr>
  <tr><td>1</td><td>새회사</td><td>777888</td><td>2024.01.15</td><td>500원</td><td>10,000원</td></tr>
  <tr><td>2</td><td>두번째</td><td>999000</td><td>20240220</td><td>100원</td><td>5,500원</td></tr>
</table>
</body></html>
"""


def euc_kr_transport(html: str):
    calls = []

    def transport(url, form):
        calls.append((url, form))
        return html.encode("euc-kr")

    transport.calls = calls
    return transport


def test_parse_html_table_picks_largest():
    header, rows = krx.parse_html_table(DELISTED_HTML)
    assert header[1] == "회사명"
    assert len(rows) == 4
    # short row padded to header width
    assert len(rows[2]) == len(header)
    assert rows[0][2] == "123456"


def test_decode_fallback_chain():
    assert "테스트" in krx.decode_krx_bytes("테스트".encode("euc-kr"))
    assert "테스트" in krx.decode_krx_bytes("테스트".encode("utf-8"))
    assert krx.decode_krx_bytes(b"\xff\xfe\xfd") != ""  # latin1 last resort


def test_delisted_source_with_fixture(spark):
    src = krx.KrxDelistedSource(spark, transport=euc_kr_transport(DELISTED_HTML))
    df = src.fetch_market("KOSPI")
    rows = {r.company_code: r for r in df.collect()}
    assert rows["123456"].company_name == "테스트회사"
    assert rows["123456"].market == "KOSPI"
    assert rows["123456"].delisting_date == "2023.12.31"
    # raw source keeps strings; cleanup happens in normalize
    assert "12" in rows


def test_delisted_fetch_all_skips_failed_market(spark):
    good = euc_kr_transport(DELISTED_HTML)

    def flaky(url, form):
        if form["marketType"] in ("kosdaqMkt", "konexMkt"):
            raise ConnectionError("boom")
        return good(url, form)

    src = krx.KrxDelistedSource(spark, transport=flaky)
    df = src.fetch_all()
    markets = {r.market for r in df.collect()}
    assert markets == {"KOSPI"}  # failed markets skipped, good one kept


def test_new_listing_source_numeric_fields(spark):
    from market_data_pipeline_spark.functions.normalize import normalize_new_listings

    src = krx.KrxNewListingSource(spark, transport=euc_kr_transport(LISTING_HTML))
    norm = normalize_new_listings(src.fetch_market("KOSDAQ"))
    rows = {r.company_code: r for r in norm.collect()}
    assert rows["777888"].par_value_num == 500.0
    assert rows["777888"].ipo_price_num == 10000.0
    assert rows["777888"].listing_date_parsed == dt.date(2024, 1, 15)


def test_backup_parquet_timestamped(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    path = krx.backup_parquet(df, str(tmp_path), "crawl", timestamp=NOW)
    assert path.endswith("crawl_20240601_020000.parquet")
    assert spark.read.parquet(path).count() == 1


@pytest.fixture()
def master(spark, tmp_path):
    return stock_master_table(spark, str(tmp_path / "master"))


def _listings(spark):
    kospi = spark.createDataFrame(
        [("005930", "Samsung Electronics"), ("000660", "SK hynix"), ("bad", "X")],
        ["symbol", "name"],
    )
    kosdaq = spark.createDataFrame(
        [("035720", "Kakao"), ("005930", "dup-should-dedup")], ["symbol", "name"]
    )
    return {"KOSPI": kospi, "KOSDAQ": kosdaq}


def test_daily_update_end_to_end_and_idempotent(spark, master, tmp_path):
    delisted_src = krx.KrxDelistedSource(spark, transport=euc_kr_transport(DELISTED_HTML))
    listing_src = krx.KrxNewListingSource(spark, transport=euc_kr_transport(LISTING_HTML))
    raw_delisted = delisted_src.fetch_market("KOSPI")
    raw_new = listing_src.fetch_market("KOSDAQ")

    report = PL.run_daily_update(
        master, _listings(spark), raw_new, raw_delisted,
        backup_dir=str(tmp_path / "bk"), now=NOW,
    )
    # 3 valid listed symbols (-1 on first write), 2 new listings, 3 delisted inserts
    assert report["total"] == 8
    assert report["active"] == 5
    assert report["delisted"] == 3
    assert report["delisted_sync"]["inserted"] == 3

    cur = master.read_current()
    k = {r.symbol: r for r in cur.collect()}
    assert k["123456"].is_active == 0
    assert k["123456"].delisting_date == dt.date(2023, 12, 31)
    assert k["111222"].delisting_date == dt.date(2023, 10, 25)  # 20231025 format
    assert k["654321"].delisting_date == dt.date(2023, 11, 30)  # 'A654321' cleaned
    assert k["005930"].name == "Samsung Electronics"  # dedup kept first-valid
    assert k["777888"].listing_date == dt.date(2024, 1, 15)
    assert "bad" not in k  # invalid symbols filtered

    # re-run: nothing new inserted, counts stable (idempotence)
    report2 = PL.run_daily_update(
        master, _listings(spark), raw_new, raw_delisted, now=NOW
    )
    assert report2["inserted_listed"] == 0
    assert report2["inserted_new_listings"] == 0
    assert report2["total"] == 8


def test_sync_delisted_gate_and_force(spark, master):
    src = krx.KrxDelistedSource(spark, transport=euc_kr_transport(DELISTED_HTML))
    raw = src.fetch_market("KOSPI")
    r1 = PL.sync_delisted_stocks(master, raw, now=NOW)
    assert r1["gate_skipped"] is False
    assert r1["inserted"] == 3
    # gate: second run without force skips
    r2 = PL.sync_delisted_stocks(master, raw, now=NOW)
    assert r2["gate_skipped"] is True
    # force re-runs but changes nothing (every row already delisted)
    r3 = PL.sync_delisted_stocks(master, raw, force=True, now=NOW)
    assert r3["gate_skipped"] is False
    assert r3["inserted"] == 0 and r3["updated"] == 0 and r3["skipped"] == 3
    assert master.read_current().filter(F.col("is_active") == 0).count() == 3


def test_delisted_report(spark, master):
    src = krx.KrxDelistedSource(spark, transport=euc_kr_transport(DELISTED_HTML))
    PL.sync_delisted_stocks(master, src.fetch_market("KOSPI"), now=NOW)
    rep = PL.delisted_report(master).orderBy(F.desc("delisted_count"), "market").collect()
    assert rep[0].market == "KOSPI"
    assert rep[0].delisted_count == 3
    assert rep[0].earliest == dt.date(2023, 10, 25)
    assert rep[0].latest == dt.date(2023, 12, 31)


def test_fdr_listing_source_injected(spark):
    import pandas as pd

    from market_data_pipeline_spark.sources.fdr import FdrListingSource

    def fake(market):
        if market == "ETF":
            raise ConnectionError("fdr down")
        return pd.DataFrame({"Code": ["005930", "000660"], "Name": ["Samsung", "Hynix"]})

    src = FdrListingSource(spark, fetcher=fake)
    frames = src.fetch_all()
    assert set(frames) == {"KOSPI", "KOSDAQ", "KONEX"}  # ETF failure tolerated
    rows = frames["KOSPI"].collect()
    assert {r.symbol for r in rows} == {"005930", "000660"}
    assert all(r.market == "KOSPI" for r in rows)


def test_fdr_feeds_daily_pipeline(spark, tmp_path):
    import pandas as pd

    from market_data_pipeline_spark.sources.fdr import FdrListingSource

    src = FdrListingSource(
        spark,
        fetcher=lambda m: pd.DataFrame({"Code": ["111111"], "Name": [f"Only-{m}"]}),
    )
    master = stock_master_table(spark, str(tmp_path / "m"))
    n = PL.update_listed_stocks(master, src.fetch_all(markets=("KOSPI",)), now=NOW)
    assert n == 1  # bootstrap write reports the real row count
    assert master.read_current().count() == 1


def test_daily_update_pre_snapshot_rollback(spark, master, tmp_path):
    """A snapshot-tagged daily update is one restore away from undone:
    run once to seed, snapshot-run a second batch, restore, and the
    table equals its pre-second-batch state exactly."""
    delisted_src = krx.KrxDelistedSource(spark, transport=euc_kr_transport(DELISTED_HTML))
    listing_src = krx.KrxNewListingSource(spark, transport=euc_kr_transport(LISTING_HTML))
    raw_delisted = delisted_src.fetch_market("KOSPI")
    raw_new = listing_src.fetch_market("KOSDAQ")

    PL.run_daily_update(master, _listings(spark), raw_new, raw_delisted, now=NOW)
    before = {tuple(map(str, r)) for r in master.read_current().collect()}

    extra = spark.createDataFrame(
        [("999999", "Late Entrant")], ["symbol", "name"]
    )
    report = PL.run_daily_update(
        master,
        {"KOSPI": extra},
        raw_new,
        raw_delisted,
        now=NOW,
        snapshot_tag="pre_batch2",
    )
    assert report["pre_update_snapshot"] == "pre_batch2"
    assert report["inserted_listed"] == 1  # the batch did change the table

    master.restore("pre_batch2")
    after = {tuple(map(str, r)) for r in master.read_current().collect()}
    assert after == before


@pytest.fixture
def new_york_tz(monkeypatch):
    """The Python process runs in America/New_York for one test."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_audit_cols_naive_now_is_utc(spark, new_york_tz):
    """A naive ``now`` is a UTC wall value, whatever the process's local
    zone: update_dt must be the UTC epoch of ``now``, not its New York
    reading (which would be 4 hours later on this date)."""
    now = dt.datetime(2024, 3, 10, 12, 0)
    df = PL.with_audit_cols(spark.range(1), now=now)
    got = df.select(F.unix_timestamp("update_dt").alias("s")).first()["s"]
    assert got == int(now.replace(tzinfo=dt.timezone.utc).timestamp()) == 1710072000
