"""Incremental-watermark state (SURVEY.md §2 S4, K4, T1, T3).

The reference persists per-ticker last-loaded dates in ``state.json``
(read ``API_manager.py:79-96``, write ``:100-113``) — with two bugs we
do not replicate: a double ``json.load`` on an exhausted handle and a
truncate-before-write that loses state on crash (SURVEY.md §2.9).

The Spark-native design needs no side state file at all: the sink itself
is the state. ``max(stock_date) per ticker`` over the warehouse table is
the exact watermark, is crash-consistent (it can't disagree with the
data), and is a cheap aggregate that partition-prunes at scale.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Missing entity → fetch-everything sentinel (API_manager.py:91 uses
# "1990-1-1"; we normalize to ISO).
SENTINEL_DATE = "1990-01-01"


def watermarks(sink: DataFrame, entity_col: str = "stock_ticker",
               date_col: str = "stock_date") -> DataFrame:
    """Last loaded date per entity: the replacement for state.json.

    Returns (entity, watermark_date). Map-side partial MAX makes this a
    tiny shuffle even over a 100 TB fact table, and a year/month
    partition layout lets Spark prune to recent partitions when callers
    bound the lookback.
    """
    return sink.groupBy(F.col(entity_col)).agg(
        F.max(F.col(date_col)).alias("watermark_date")
    )


def next_from_dates(sink: DataFrame, entities: list[str],
                    entity_col: str = "stock_ticker",
                    date_col: str = "stock_date") -> dict[str, str]:
    """``from`` bound of every entity's next incremental pull, from ONE
    :func:`watermarks` aggregate: watermark + 1 day (API_manager.py:125),
    or the missing-entity sentinel (API_manager.py:91)."""
    marks = dict(
        watermarks(sink.filter(F.col(entity_col).isin(entities)),
                   entity_col, date_col).collect()
    )
    return {
        e: SENTINEL_DATE if marks.get(e) is None
        else (marks[e] + dt.timedelta(days=1)).isoformat()
        for e in entities
    }


def next_from_date(sink: DataFrame, ticker: str,
                   entity_col: str = "stock_ticker",
                   date_col: str = "stock_date") -> str:
    """``from`` bound for one ticker's next incremental pull
    (:func:`next_from_dates` of one entity)."""
    return next_from_dates(sink, [ticker], entity_col, date_col)[ticker]
