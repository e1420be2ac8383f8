"""Seeded input generation: a ticker universe, its EOD price history,
and an in-process fetcher that serves that history the way the EOD REST
API does (``sources.rest.Fetcher``: ``fetcher(kind, entity, from_date)``).

Everything is a pure function of the seed, so a workload replays
exactly; the generator also keeps the known answers the workloads check
their results against.
"""

from __future__ import annotations

import datetime as dt
import random
import string
from dataclasses import dataclass

EXCHANGES = ("NYSE", "NASDAQ")
START = dt.date(2021, 1, 4)  # a Monday


@dataclass(frozen=True)
class Company:
    code: str
    name: str
    exchange: str
    isin: str


@dataclass(frozen=True)
class Bar:
    date: str  # ISO yyyy-mm-dd
    open: float
    high: float
    low: float
    close: float
    volume: int


def business_days(n: int) -> list[str]:
    """The first ``n`` Monday-to-Friday dates from ``START``, ISO strings."""
    out, d = [], START
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


class Market:
    """A seeded universe of ``n_tickers`` companies with ``n_days`` of
    daily bars each (every ticker trades every business day, so the
    global latest date is every ticker's latest date)."""

    def __init__(self, seed: int, n_tickers: int, n_days: int):
        rng = random.Random(f"perfbench::{seed}")
        codes: set[str] = set()
        while len(codes) < n_tickers:
            codes.add("".join(rng.choices(string.ascii_uppercase,
                                          k=rng.choice((3, 4)))))
        self.companies = [
            Company(
                code=c,
                name=f"{c.title()} Holdings {rng.randrange(1000)}",
                exchange=EXCHANGES[i % len(EXCHANGES)],
                isin=f"US{rng.randrange(10**9, 10**10)}",
            )
            for i, c in enumerate(sorted(codes))
        ]
        self.dates = business_days(n_days)
        self.bars: dict[str, list[Bar]] = {}
        for co in self.companies:
            px = rng.uniform(10.0, 500.0)
            bars = []
            for d in self.dates:
                px = max(1.0, px * (1.0 + rng.gauss(0.0, 0.02)))
                op = round(px * (1.0 + rng.gauss(0.0, 0.005)), 2)
                cl = round(px, 2)
                hi = round(max(op, cl) * (1.0 + abs(rng.gauss(0.0, 0.01))), 2)
                lo = round(min(op, cl) * (1.0 - abs(rng.gauss(0.0, 0.01))), 2)
                bars.append(Bar(d, op, hi, lo, cl, rng.randrange(10**4, 10**7)))
            self.bars[co.code] = bars
        # a few non-common listings the market normalizer must filter out
        self.funds = [
            Company(f"{c.code}X", f"{c.name} Fund", c.exchange, c.isin + "F")
            for c in self.companies[: max(1, n_tickers // 10)]
        ]

    @property
    def tickers(self) -> list[str]:
        return [c.code for c in self.companies]

    def company(self, code: str) -> Company:
        return next(c for c in self.companies if c.code == code)

    def bar(self, code: str, day: int) -> Bar:
        return self.bars[code][day]


class Fetcher:
    """In-process stand-in for the EOD REST API over a :class:`Market`.

    ``visible_days`` is how much of the history exists "upstream" so
    far; advancing it by one models the next trading day's EOD publish.
    With ``overlap_days`` > 0 a stock pull also re-serves that many
    trading days before its ``from_date``, as an upstream that republishes
    recent days does: those rows are a replay the load must not commit
    again.
    """

    def __init__(self, market: Market, visible_days: int, overlap_days: int = 0):
        self.market = market
        self.visible_days = visible_days
        self.overlap_days = overlap_days

    def __call__(self, kind: str, entity: str, from_date: str) -> list[dict]:
        m = self.market
        if kind == "market":
            return [
                {"Code": c.code, "Name": c.name, "Country": "US",
                 "Exchange": c.exchange, "Currency": "USD", "Type": typ,
                 "Isin": c.isin}
                for typ, group in (("Common Stock", m.companies),
                                   ("ETF", m.funds))
                for c in group
                if c.exchange == entity
            ]
        if kind != "stock":
            raise ValueError(f"unknown kind: {kind}")
        bars = m.bars[entity][: self.visible_days]
        first = next((i for i, b in enumerate(bars) if b.date >= from_date),
                     len(bars))
        return [
            {"date": b.date, "open": b.open, "high": b.high, "low": b.low,
             "close": b.close, "adjusted_close": b.close, "volume": b.volume}
            for b in bars[max(0, first - self.overlap_days):]
        ]


# Popularity skew of the lookup mix. An assumption, not a measurement of
# this API's users (no such trace is public): Breslau et al., "Web
# Caching and Zipf-like Distributions" (INFOCOM 1999), found request
# popularity in six web proxy traces Zipf-like with exponents 0.64-0.83;
# this mix takes 0.8 from that range.
ZIPF_S = 0.8
SCAN_EVERY = 10  # one op in SCAN_EVERY is a scan


def zipf_picks(seed: int, tickers: list[str], n: int) -> list[tuple[str, str]]:
    """A seeded operation mix: ``n`` (op, ticker) pairs, tickers drawn
    Zipf(``ZIPF_S``) over a seed-shuffled popularity order. One op in
    ``SCAN_EVERY`` is a ``"scan"`` (the 6th, 16th, ...), the rest are
    ``"lookup"``s, so even a short run gets its share of scans."""
    rng = random.Random(f"perfbench:mix:{seed}")
    order = list(tickers)
    rng.shuffle(order)
    weights = [1.0 / (k ** ZIPF_S) for k in range(1, len(order) + 1)]
    picks = rng.choices(order, weights=weights, k=n)
    return [("scan" if i % SCAN_EVERY == SCAN_EVERY // 2 else "lookup", t)
            for i, t in enumerate(picks)]


# -- the catalog tables (documents, embeddings, events, orders) ------------------

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream group filter big vector").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
EMB_DIM = 64


def catalog_tables(seed: int, n_docs: int, n_events: int, n_orders: int) -> dict:
    """Seeded pyarrow tables shaped like the catalog's parquet inputs:
    ``documents`` (one doc in ten a near-copy of an earlier one, so the
    dedup queries find pairs), ``embeddings`` (one per doc, ten labelled
    clusters, near-copies following their documents), ``events`` (30 days
    of five event types from 150 users) and ``orders`` (what the
    reference tables derive the stock schema from)."""
    import pyarrow as pa

    rng = random.Random(f"perfbench:catalog:{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[rng.randrange(i)].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = rng.choices(VOCAB, k=rng.randrange(10, 100))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centres = [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(10)]
    labels, vecs = [], []
    for i in range(n_docs):
        label = rng.randrange(10)
        labels.append(label)
        vecs.append([c + rng.gauss(0.0, 1.5) for c in centres[label]])
    embeddings = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    t0 = dt.datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 10**6
    stamps = sorted(rng.randrange(span_us) for _ in range(n_events))
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=u) for u in stamps],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in range(n_events)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(0.0, 100.0), 2) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    })

    days = 365
    orders = pa.table({
        "o_orderkey": pa.array(range(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array([rng.randrange(1, 1000) for _ in range(n_orders)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(900.0, 500_000.0), 2)
                         for _ in range(n_orders)],
        "o_orderdate": pa.array(
            [dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(days))
             for _ in range(n_orders)], pa.timestamp("us")),
        "o_orderpriority": [f"{rng.randrange(1, 6)}-P" for _ in range(n_orders)],
    })
    return {"documents": documents, "embeddings": embeddings,
            "events": events, "orders": orders}


def write_catalog_tables(seed: int, out_dir: str, n_docs: int, n_events: int,
                         n_orders: int) -> dict:
    """Write :func:`catalog_tables` as ``<out_dir>/<name>.parquet`` and
    return them."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tables = catalog_tables(seed, n_docs, n_events, n_orders)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
