"""REST ingestion source (SURVEY.md §2 S1-S3, E1).

The reference fetches EODHD endpoints with blocking ``requests`` calls in
a single process (``API_manager.py:51-65,119-140``). Here the fetch is a
pluggable callable so tests inject local JSON fixtures (no network).

The pipeline pulls on the driver and hands Spark ONE frame per phase
(:func:`fetch_stocks`, :func:`fetch_markets`): a cycle's payload is a
few rows per ticker, so the cost that matters is Spark jobs, and one
frame keeps them fixed whatever the ticker count. For a ticker universe
too large for the driver, ``sources/datasource.py`` reads on the
executors.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import MARKET_RAW, STOCK_RAW, STOCK_TAGGED

# fetcher(kind, entity, from_date) -> list of JSON row dicts.
Fetcher = Callable[[str, str, str], list[dict[str, Any]]]

# Error sentinels the API returns in-body (API_manager.py:61-65).
_API_ERRORS = ("Exchange Not Found.", "Ticker Not Found.")


class ApiError(RuntimeError):
    """Raised when the API answers with an in-body error sentinel (E1)."""


def _check_payload(payload: Any) -> list[dict[str, Any]]:
    if isinstance(payload, str) and payload in _API_ERRORS:
        raise ApiError(payload)
    if payload is None:
        return []
    return list(payload)


def http_fetcher(base_url: str, api_token: str) -> Fetcher:
    """Production fetcher hitting an EODHD-shaped REST API.

    Mirrors API_manager.py:51-59 (eod/{t}) and :131-140
    (exchange-symbol-list/{m}); the token is never logged (the reference
    redacts it too, API_manager.py:57).
    """

    def fetch(kind: str, entity: str, from_date: str) -> list[dict[str, Any]]:
        import urllib.parse
        import urllib.request

        if kind == "stock":
            path, params = f"eod/{entity}.US", {"from": from_date}
        elif kind == "market":
            path, params = f"exchange-symbol-list/{entity}", {"type": "common_stock"}
        else:
            raise ValueError(f"unknown kind: {kind}")
        params.update({"api_token": api_token, "fmt": "json"})
        url = f"{base_url}/{path}?{urllib.parse.urlencode(params)}"
        with urllib.request.urlopen(url, timeout=60) as resp:  # noqa: S310
            return json.loads(resp.read())

    return fetch


def json_rows_to_df(
    spark: SparkSession, rows: Iterable[dict[str, Any]], schema: T.StructType
) -> DataFrame:
    """S3: materialize a JSON payload as a typed DataFrame.

    Unlike the reference's ``pd.DataFrame.from_dict`` inference
    (API_manager.py:147), the schema is explicit; fields absent from the
    payload surface as nulls (the adjusted_close/warning drift case).
    """
    names = [f.name for f in schema.fields]
    prepared = [tuple(r.get(n) for n in names) for r in rows]
    return spark.createDataFrame(prepared, schema)


def fetch_stock(
    spark: SparkSession, fetcher: Fetcher, ticker: str, from_date: str
) -> DataFrame:
    """S1: incremental EOD prices for one ticker (raw payload shape).

    Payload validation (E1 sentinels, null→empty) happens HERE, not in
    the fetcher, so every fetcher implementation gets it.
    """
    rows = _check_payload(fetcher("stock", ticker, from_date))
    return json_rows_to_df(spark, rows, STOCK_RAW)


def fetch_stocks(
    spark: SparkSession, fetcher: Fetcher, from_dates: Mapping[str, str]
) -> tuple[DataFrame, int]:
    """S1 for many tickers: each ticker's incremental pull from its
    ``from_dates`` bound, validated as in :func:`fetch_stock`, tagged
    with the ticker and built into ONE ``STOCK_TAGGED`` DataFrame.

    Returns the frame and its row count, which needs no Spark job.
    """
    rows = [
        {**r, "ticker": ticker}
        for ticker, from_date in from_dates.items()
        for r in _check_payload(fetcher("stock", ticker, from_date))
    ]
    return json_rows_to_df(spark, rows, STOCK_TAGGED), len(rows)


def fetch_markets(
    spark: SparkSession, fetcher: Fetcher, exchanges: Iterable[str]
) -> DataFrame:
    """S2: full symbol-list snapshots of ``exchanges`` (raw payload shape,
    each row carries its ``Exchange``) in ONE DataFrame."""
    rows = [
        r
        for exchange in exchanges
        for r in _check_payload(fetcher("market", exchange, "1990-01-01"))
    ]
    return json_rows_to_df(spark, rows, MARKET_RAW)


def fetch_market(spark: SparkSession, fetcher: Fetcher, exchange: str) -> DataFrame:
    """S2: full symbol-list snapshot for one exchange (raw payload shape)."""
    return fetch_markets(spark, fetcher, [exchange])
