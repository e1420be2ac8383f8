"""Full-pipeline E2E (the reference's main.py flow): two load cycles
with growing upstream data, idempotency, and the live get_last_price —
including a lookup between cycles after every kind of warehouse write,
which its cached latest-price snapshot must not hide."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.errors import AnalysisException

from utn_dataengineering_stockmarketpipeline_spark import pipeline
from utn_dataengineering_stockmarketpipeline_spark.operators import warehouse as wh

from conftest import spark_jobs


def make_fetcher(up_to: str, listed: tuple[str, ...] = ("AAA", "BBB")):
    """Fixture API serving a calendar that 'grows' as up_to advances;
    ``listed`` is the exchange's symbol list (the markets dimension)."""
    d0 = dt.date(2024, 1, 1)

    def fetch(kind, entity, from_date):
        if kind == "market":
            return [
                {"Code": t, "Name": f"Co {t}", "Country": "US",
                 "Exchange": entity, "Currency": "USD",
                 "Type": "Common Stock", "Isin": f"ISIN{t}"}
                for t in listed
            ]
        out = []
        for i in range(60):
            d = (d0 + dt.timedelta(days=i)).isoformat()
            if from_date <= d <= up_to:
                out.append(
                    {"date": d, "open": 1.0 + i, "high": 2.0 + i,
                     "low": 0.5 + i, "close": 1.5 + i,
                     "adjusted_close": 1.4 + i, "volume": 100 + i}
                )
        return out

    return fetch


@pytest.fixture
def dbs(spark):
    tag = uuid.uuid4().hex[:8]
    stage, dw = f"p_stage_{tag}", f"p_dw_{tag}"
    yield stage, dw
    wh.delete_schemas(spark, stage, dw)


def test_two_cycle_incremental_pipeline(spark, dbs, tmp_path):
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    tickers, exchanges = ["AAA", "BBB"], ["NYSE"]

    # cycle 1: first 10 days exist upstream
    r1 = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-10"), tickers, exchanges, lake_dir,
        stage, dw,
    )
    assert r1.fetched["stock_prices"] == 20  # 10 days x 2 tickers
    assert r1.committed["stock_prices"] == 20
    assert r1.committed["markets"] == 2

    # cycle 2: upstream grew by 5 days — only the delta is fetched
    r2 = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-15"), tickers, exchanges, lake_dir,
        stage, dw,
    )
    assert r2.fetched["stock_prices"] == 10  # 5 new days x 2
    assert r2.committed["stock_prices"] == 10
    assert r2.committed["markets"] == 0  # dim snapshot unchanged

    # cycle 3: nothing new upstream — fully idempotent
    r3 = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-15"), tickers, exchanges, lake_dir,
        stage, dw,
    )
    assert r3.fetched["stock_prices"] == 0
    assert r3.committed["stock_prices"] == 0

    fact = spark.table(f"{dw}.stock_prices")
    assert fact.count() == 30
    assert fact.select("stock_key").distinct().count() == 30

    # the flagship query over the live warehouse
    rows = pipeline.get_last_price(spark, "AAA", dw).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["stock_date_fmt"] == "15-01-2024"
    assert r["market_companyname"] == "Co AAA"
    assert r["market_exchange"] == "NYSE"


def _last(spark, ticker, dw):
    return [r.asDict() for r in pipeline.get_last_price(spark, ticker, dw).collect()]


def _dates(spark, ticker, dw):
    return [r["stock_date_fmt"] for r in _last(spark, ticker, dw)]


def _run(spark, dbs, lake_dir, up_to, tickers=("AAA", "BBB"), **kw):
    stage, dw = dbs
    return pipeline.run_pipeline(spark, make_fetcher(up_to, **kw), list(tickers),
                                 ["NYSE"], lake_dir, stage, dw)


def test_lookup_between_cycles_sees_every_write(spark, dbs, tmp_path):
    _, dw = dbs
    lake_dir = str(tmp_path / "bronze")

    # BBB is not listed yet: its bars have no dimension row
    _run(spark, dbs, lake_dir, "2024-01-10", listed=("AAA",))
    assert _dates(spark, "AAA", dw) == ["10-01-2024"]
    assert _last(spark, "BBB", dw)[0]["market_companyname"] is None

    # a dimension-only change (no new fact rows) is visible
    report = _run(spark, dbs, lake_dir, "2024-01-10")
    assert (report.committed["stock_prices"], report.committed["markets"]) == (0, 1)
    assert _last(spark, "BBB", dw)[0]["market_companyname"] == "Co BBB"

    # a new day committed after a lookup is visible on the next lookup
    _run(spark, dbs, lake_dir, "2024-01-12")
    assert _dates(spark, "AAA", dw) == ["12-01-2024"]

    # the global-max-date quirk: BBB has no bar on the latest date
    report = _run(spark, dbs, lake_dir, "2024-01-13", tickers=("AAA",))
    assert report.committed["stock_prices"] == 1
    assert _dates(spark, "AAA", dw) == ["13-01-2024"]
    assert _last(spark, "BBB", dw) == []
    assert _last(spark, "ZZZ", dw) == []

    # truncating the fact table empties the answer instead of re-reading
    # the deleted files
    wh.truncate_table(spark, dw, "stock_prices")
    assert _last(spark, "AAA", dw) == []


def test_lookup_after_drop_raises_and_recreate_serves_new_rows(spark, dbs, tmp_path):
    stage, dw = dbs
    _run(spark, dbs, str(tmp_path / "bronze"), "2024-01-10")
    assert _dates(spark, "AAA", dw) == ["10-01-2024"]

    def cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    n_cached = cached()
    wh.delete_schemas(spark, stage, dw)
    with pytest.raises(AnalysisException):
        _last(spark, "AAA", dw)
    assert cached() == n_cached - 1  # the dropped rows are released too

    _run(spark, dbs, str(tmp_path / "bronze2"), "2024-01-04")
    assert _dates(spark, "AAA", dw) == ["04-01-2024"]


def test_lookup_survives_clear_cache(spark, dbs, tmp_path):
    _, dw = dbs
    _run(spark, dbs, str(tmp_path / "bronze"), "2024-01-10")
    before = _last(spark, "AAA", dw)
    spark.catalog.clearCache()
    assert _last(spark, "AAA", dw) == before
    _run(spark, dbs, str(tmp_path / "bronze"), "2024-01-11")
    assert _dates(spark, "AAA", dw) == ["11-01-2024"]


def test_two_warehouses_never_share_a_snapshot(spark, dbs, tmp_path):
    other = tuple(f"{db}_b" for db in dbs)
    try:
        _run(spark, dbs, str(tmp_path / "a"), "2024-01-10")
        _run(spark, other, str(tmp_path / "b"), "2024-01-20")
        for rnd in range(2):
            for dw, day in ((dbs[1], "10-01-2024"), (other[1], "20-01-2024")):
                dates, jobs = spark_jobs(spark, lambda: _dates(spark, "AAA", dw))
                assert dates == [day]
                # each keeps its own snapshot: alternating does not rebuild
                assert rnd == 0 or len(jobs) == 1
    finally:
        wh.delete_schemas(spark, *other)


def test_cycle_jobs_do_not_grow_with_tickers(spark, dbs, tmp_path):
    """A post-load cycle launches the same Spark jobs at 2 and at 6
    tickers: watermarks, fetch, stage and commit each run once over all
    tickers, not once per ticker."""
    jobs = {}
    for n in (2, 6):
        tickers = tuple(f"T{i}" for i in range(n))
        pair = tuple(f"{db}_{n}" for db in dbs)
        lake_dir = str(tmp_path / f"bronze{n}")
        try:
            _run(spark, pair, lake_dir, "2024-01-10", tickers, listed=tickers)
            report, ids = spark_jobs(spark, lambda: _run(
                spark, pair, lake_dir, "2024-01-11", tickers, listed=tickers))
            assert report.committed == {"markets": 0, "stock_prices": n}
            jobs[n] = len(ids)
        finally:
            wh.delete_schemas(spark, *pair)
    assert jobs[2] == jobs[6]


def test_replayed_cycle_commits_nothing_and_adds_no_file(spark, dbs, tmp_path):
    """A cycle whose upstream only re-serves loaded days stages them,
    commits none and leaves both warehouse tables' files untouched."""
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    _run(spark, dbs, lake_dir, "2024-01-10")
    assert _dates(spark, "AAA", dw) == ["10-01-2024"]

    def files():
        return [sorted(spark.table(f"{dw}.{t}").inputFiles())
                for t in ("stock_prices", "markets")]

    before = files()
    upstream = make_fetcher("2024-01-10")

    def replaying(kind, entity, from_date):  # re-serves every loaded day
        return upstream(kind, entity, "2024-01-01")

    report = pipeline.run_pipeline(spark, replaying, ["AAA", "BBB"], ["NYSE"],
                                   lake_dir, stage, dw)
    assert report.staged == {"markets": 2, "stock_prices": 20}
    assert report.committed == {"markets": 0, "stock_prices": 0}
    assert files() == before
    # an unchanged file set keeps the latest-price snapshot: one job
    dates, jobs = spark_jobs(spark, lambda: _dates(spark, "AAA", dw))
    assert (dates, len(jobs)) == (["10-01-2024"], 1)


def test_corpus_release_end_to_end(spark, tmp_path):
    """The LLM-corpus release flow, end to end on real files: curated
    catalog query -> seeded-shuffle shard export -> atomic snapshot
    publish -> (bad release) -> rollback serves the previous version.

    Each stage is an already-verified unit; this pins the COMPOSITION —
    schemas line up, the export consumes the curation output, the
    snapshot layer versions the export manifest + shards together."""
    from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
    from utn_dataengineering_stockmarketpipeline_spark.sources import (
        snapshots as sn,
    )
    from utn_dataengineering_stockmarketpipeline_spark.sources.lake import (
        write_training_shards,
    )
    from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "corpus_releases")

    # release 1: curated survivors joined back to their text
    kept = CATALOG["llm_curation_pipeline"].build(spark, sf).select("doc_id")
    docs = load_table(spark, sf, "documents").join(kept, "doc_id")
    n_curated = docs.count()
    assert 0 < n_curated < load_table(spark, sf, "documents").count()

    shards1 = str(tmp_path / "shards_v1")
    manifest1 = write_training_shards(
        docs, shards1, n_shards=4, shuffle_seed="release-1"
    )
    v1 = sn.publish_snapshot(manifest1, root)
    assert sn.read_snapshot(spark, root).agg({"n_docs": "sum"}).first()[0] == n_curated

    # release 2: a (deliberately bad) empty-gate release
    shards2 = str(tmp_path / "shards_v2")
    manifest2 = write_training_shards(
        docs.limit(3), shards2, n_shards=4, shuffle_seed="release-2"
    )
    v2 = sn.publish_snapshot(manifest2, root)
    assert sn.current_version(spark, root) == v2
    assert sn.read_snapshot(spark, root).agg({"n_docs": "sum"}).first()[0] == 3

    # rollback: the previous release is immediately current again,
    # and its shard files still reproduce the curated corpus exactly
    sn.rollback(spark, root, to_version=v1)
    assert sn.read_snapshot(spark, root).agg({"n_docs": "sum"}).first()[0] == n_curated
    back = spark.read.parquet(shards1)
    assert back.count() == n_curated
    assert back.select("doc_id").distinct().count() == n_curated
