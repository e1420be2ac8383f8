"""End-to-end pipeline orchestration — the reference's ``main.py`` flow
(``main.py:57-100``) as one composable function.

Reference run: for each exchange, full symbol-list snapshot → warehouse
dimension; for each ticker, incremental EOD pull from the saved state →
bronze parquet → stage → SCD-0 warehouse commit; then the
``get_last_price`` query. Spark-native differences:

- a cycle is planned over all keys at once, not per ticker: one
  watermark aggregate, one fetch frame per phase, counts taken from the
  fetched rows and from the writes themselves. So a cycle runs a fixed
  budget of Spark jobs whatever the ticker count: 12, or 9 when nothing
  is new (tests/test_pipeline_e2e.py pins that it does not grow);
- the incremental bound derives from the warehouse itself
  (sources/state.py) — no ``state.json``;
- the bronze lake partitions by year/month (not day/ticker, §4.1);
- stage → warehouse is one left-anti append, not a truncate-and-INSERT
  loop over a WAN;
- ``get_last_price`` filters a cached latest-price snapshot that is
  rebuilt only when the warehouse's files change, not a per-lookup scan.

Everything is injected (fetcher, paths, databases) so the same function
runs in tests against local JSON fixtures and in production against the
real API — the reference hard-codes all of it.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import warehouse as wh
from .operators.transforms import normalize_market_payload, normalize_stock_payload
from .operators.windows import latest_global_date
from .sources import lake
from .sources.rest import Fetcher, fetch_markets, fetch_stocks
from .sources.state import next_from_dates


@dataclass
class PipelineReport:
    """Row counts per phase (the reference prints these; we return them)."""

    fetched: dict[str, int] = field(default_factory=dict)
    staged: dict[str, int] = field(default_factory=dict)
    committed: dict[str, int] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    tickers: list[str],
    exchanges: list[str],
    lake_dir: str,
    stage: str = wh.STAGE,
    warehouse: str = wh.WAREHOUSE,
) -> PipelineReport:
    """One full load cycle: dims (full refresh) + facts (incremental).

    The warehouse commit is exactly-once: re-running with the same
    upstream data commits zero new rows (SCD-0 absorbs every replay).
    The bronze lake is at-least-once: it appends every fetched row,
    re-served days included.
    """
    report = PipelineReport()
    wh.create_tables(spark, stage, warehouse)

    # --- dimension: full snapshot of every exchange (T4, main.py:22-23) ---
    dim = normalize_market_payload(fetch_markets(spark, fetcher, exchanges))
    # the stage holds exactly the fetched snapshot: its write count is both
    report.fetched["markets"] = report.staged["markets"] = wh.save_to_stage(
        spark, "markets", dim, stage
    )
    report.committed["markets"] = wh.commit_to_warehouse(
        spark, "markets", stage, warehouse
    )

    # --- fact: incremental for every ticker (T1, main.py:14-16) ---
    fact_table = spark.table(f"`{warehouse}`.`stock_prices`")
    raw, report.fetched["stock_prices"] = fetch_stocks(
        spark, fetcher, next_from_dates(fact_table, tickers)
    )
    incoming = normalize_stock_payload(raw, F.col("ticker"))
    if report.fetched["stock_prices"]:
        lake.write_stocks(incoming, lake_dir)  # bronze first (K1)
    report.staged["stock_prices"] = wh.save_to_stage(
        spark, "stock_prices", incoming, stage
    )
    report.committed["stock_prices"] = wh.commit_to_warehouse(
        spark, "stock_prices", stage, warehouse
    )
    return report


def get_last_price(
    spark: SparkSession, ticker: str, warehouse: str = wh.WAREHOUSE
) -> DataFrame:
    """The reference's analytical query over the live warehouse
    (``DB_manager.py:181-199``), global-max-date quirk included: a
    ticker with no bar on the latest date of the whole fact table gets
    0 rows.

    Served as a lazy ticker filter over the warehouse's latest-price
    snapshot (see :func:`_latest_price_snapshot`), so a repeated lookup
    is one single-task Spark job over a cached partition instead of a
    fresh scan, aggregate and two joins.

    Freshness: a write made through this session (append, overwrite,
    truncate, drop) is visible on the next lookup. A table written by
    another process needs ``REFRESH TABLE`` first, as any read of a
    Spark catalog table does. If a table no longer exists,
    ``spark.table`` raises.
    """
    snapshot = _latest_price_snapshot(spark, warehouse)
    return snapshot.filter(F.col("stock_ticker") == ticker)


# (session, warehouse) -> (file sets of the fact and dim tables, snapshot).
# Per process because get_last_price's signature is the reference's; the
# session in the key keeps sessions from sharing a snapshot.
_SNAPSHOTS: dict[
    tuple[SparkSession, str], tuple[tuple[frozenset, frozenset], DataFrame]
] = {}
_SNAPSHOTS_LOCK = threading.Lock()


def _latest_price_snapshot(spark: SparkSession, warehouse: str) -> DataFrame:
    """Every ticker's ``get_last_price`` row, cached in one partition.

    The snapshot is valid while the fact and dim tables resolve to the
    same files: Spark names every written file uniquely and re-lists a
    table after each write made through the session, so an unchanged
    file set means unchanged rows. Spark's own recaching is not enough:
    after ``TRUNCATE TABLE`` it re-reads deleted files, and a snapshot
    kept after ``DROP DATABASE … CASCADE`` would still serve the dropped
    rows. At millions of files per table the key should become a table
    format's snapshot id instead of the listing.
    """
    key = (spark, warehouse)
    with _SNAPSHOTS_LOCK:
        held = _SNAPSHOTS.get(key)
        try:
            fact = spark.table(f"`{warehouse}`.`stock_prices`")
            dim = spark.table(f"`{warehouse}`.`markets`")
        except AnalysisException:  # dropped: stop caching the dropped rows
            if held is not None:
                del _SNAPSHOTS[key]
                held[1].unpersist()
            raise
        files = (frozenset(fact.inputFiles()), frozenset(dim.inputFiles()))
        if held is not None:
            held_files, snapshot = held
            # storageLevel: spark.catalog.clearCache() drops the cache
            if held_files == files and snapshot.storageLevel.useMemory:
                return snapshot
            snapshot.unpersist()
        snapshot = wh.last_price_rows(latest_global_date(fact), dim).coalesce(1).cache()
        _SNAPSHOTS[key] = (files, snapshot)
        return snapshot
