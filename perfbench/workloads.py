"""The benchmark's workloads. Each takes a :class:`Context`, runs its
set-up (data generation, the load, warm-up), then its timed operations
through the package's public functions, checking every result against
the generator's known answers.

One closed-loop client: each operation starts when the previous one has
returned. A timed phase starts operations until ``seconds`` have passed
and at least the workload's ``*_MIN_*`` count of them has run. A traced
run installs its tracer when the timed phase starts.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench.gen import (
    EXCHANGES,
    Fetcher,
    Market,
    write_catalog_tables,
    zipf_picks,
)
from perfbench.trace import LLM_QUERIES, STREAM_QUERIES, NoTracer, Tracer
from utn_dataengineering_stockmarketpipeline_spark import pipeline
from utn_dataengineering_stockmarketpipeline_spark.operators import (
    transforms,
    warehouse as wh,
    windows,
)
from utn_dataengineering_stockmarketpipeline_spark.plans import reference_tables
from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
from utn_dataengineering_stockmarketpipeline_spark.schemas import (
    MARKET_RAW,
    STOCK_RAW,
)

STAGE, DW = wh.STAGE, wh.WAREHOUSE

# (name, unit) of the metrics every untraced run reports. The timed ops
# are gated on the CPU time they cost (Python driver, JVM and Python
# workers): on a shared host their wall times swing with the neighbours'
# load far more than their CPU cost does (README.md has the measured
# spreads). The load is part of setup_s. Wall times and the load's own
# cost are printed on the summary line.
END_TO_END = (("setup_s", "s"), ("op_cpu_ms", "ms"))


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    t_start: float
    # set-up layer -> seconds (trace.SETUP_LAYERS), filled in as set-up runs
    setup_layers: dict[str, float]
    setup_s: float = 0.0


@dataclass
class Result:
    attempted: int
    failed: int
    end_to_end: dict[str, float]
    layer_metrics: dict[str, dict]
    summary: dict[str, float]


def cpu_seconds(root: int) -> float:
    """CPU time (user + system, all threads) of process ``root`` and all
    its descendants (here the Python driver, the JVM and PySpark's Python
    workers), including descendants already reaped, whose time is in
    their parent's ``cutime`` / ``cstime``."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    tree, frontier = {root}, {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree |= frontier
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


@dataclass
class Ops:
    """Attempted/failed counts, and per-kind wall latencies and CPU costs
    (of this process's tree, :func:`cpu_seconds`) of checked ops."""

    attempted: int = 0
    failed: int = 0
    latencies: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)

    def run(self, kind: str, work: Callable[[], object],
            check: Callable[[object], list[str]], timed: bool = True) -> None:
        """Time ``work()``, then check its result (untimed). A raise or
        a failed check counts the op as failed; only passing timed ops
        record a latency."""
        self.attempted += 1
        c0 = cpu_seconds(os.getpid())
        t = time.perf_counter()
        try:
            out = work()
        except Exception:  # noqa: BLE001 - the op boundary; keep running
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        dt = time.perf_counter() - t
        cpu = cpu_seconds(os.getpid()) - c0
        print(f"[perfbench] {kind} {dt * 1000:.0f} ms, cpu {cpu * 1000:.0f} ms",
              file=sys.stderr)
        problems = check(out)
        if problems:
            self.failed += 1
            print(f"perfbench: {kind} failed its check: {problems}",
                  file=sys.stderr)
        elif timed:
            self.latencies.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(cpu)

    def p(self, kind: str, q: float, cpu: bool = False) -> float:
        """The ``q`` quantile (nearest rank) of ``kind``'s latencies, or
        of its CPU costs."""
        xs = sorted((self.cpu if cpu else self.latencies).get(kind, []))
        if not xs:
            raise RuntimeError(f"no successful {kind} operations")
        return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


def log(ctx: Context, msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - ctx.t_start:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _ddmmyyyy(iso: str) -> str:
    y, m, d = iso.split("-")
    return f"{d}-{m}-{y}"


def _check_last_price(market: Market, ticker: str, day: int):
    """Check of a ``get_last_price`` result: one row, the ticker's bar on
    ``day`` (the global latest date), joined to its company."""
    def check(rows) -> list[str]:
        if len(rows) != 1:
            return [f"{ticker}: {len(rows)} rows"]
        r, bar, co = rows[0], market.bar(ticker, day), market.company(ticker)
        want = {"stock_date_fmt": _ddmmyyyy(bar.date), "stock_ticker": ticker,
                "stock_close": bar.close, "market_companyname": co.name,
                "market_exchange": co.exchange, "market_stockisin": co.isin}
        return [f"{ticker}.{k}: {r[k]!r} != {v!r}"
                for k, v in want.items() if r[k] != v]
    return check


def _check_counts(want: dict[str, dict[str, int]]):
    def check(report) -> list[str]:
        return [f"{phase}.{table}: {getattr(report, phase).get(table)} != {n}"
                for phase, tables in want.items() for table, n in tables.items()
                if getattr(report, phase).get(table) != n]
    return check


def _tracer(ctx: Context):
    """The timed phase's tracer: a real one, installed, in a traced run."""
    if not ctx.trace:
        return NoTracer()
    tracer = Tracer(ctx.spark, [os.path.join(ctx.work, "lake"),
                                os.path.join(ctx.work, "spark-warehouse")])
    tracer.install()
    return tracer


def _result(ctx, ops, tracer, n_timed, load_kind, op_kind, summary) -> Result:
    """``n_timed``: ops attempted in the timed phase."""
    op_p50_ms = ops.p(op_kind, 0.5) * 1000.0
    gated = {"setup_s": ctx.setup_s,
             "op_cpu_ms": ops.p(op_kind, 0.5, cpu=True) * 1000.0}
    layer = {}
    if ctx.trace:
        layer = tracer.metrics(n_timed, ctx.setup_layers, op_p50_ms,
                               gated["op_cpu_ms"])
        tracer.uninstall()
    return Result(
        attempted=ops.attempted, failed=ops.failed, end_to_end=gated,
        layer_metrics=layer,
        summary={**gated, **summary, "load_s": ops.p(load_kind, 0.5),
                 "load_cpu_s": ops.p(load_kind, 0.5, cpu=True),
                 "op_p50_ms": op_p50_ms, "timed_ops": n_timed},
    )


# -- etl_incremental -----------------------------------------------------------

ETL_TICKERS = 3
ETL_BACKFILL_DAYS = 250
ETL_MAX_CYCLES = 200
ETL_MIN_CYCLES = 1


def etl_incremental(ctx: Context) -> Result:
    """The reference's daily flow: backfill ``ETL_TICKERS`` tickers x
    ``ETL_BACKFILL_DAYS`` days through ``pipeline.run_pipeline`` (set-up,
    also measured on its own as the load), then one-new-day cycles, each
    followed by the ``get_last_price`` read that must already see the new day
    (freshness). In every cycle the upstream also re-serves the previous
    day, a replay that must commit no row."""
    spark, ops = ctx.spark, Ops()
    lake_dir = os.path.join(ctx.work, "lake")
    log(ctx, "session up")
    market = Market(ctx.seed, ETL_TICKERS, ETL_BACKFILL_DAYS + ETL_MAX_CYCLES)
    fetch = Fetcher(market, ETL_BACKFILL_DAYS)
    n = ETL_TICKERS

    def run():
        return pipeline.run_pipeline(spark, fetch, market.tickers,
                                     list(EXCHANGES), lake_dir)

    ops.run("backfill", run, _check_counts(
        {"fetched": {"stock_prices": n * ETL_BACKFILL_DAYS},
         "committed": {"stock_prices": n * ETL_BACKFILL_DAYS, "markets": n}}))
    fetch.overlap_days = 1
    ctx.setup_s = time.perf_counter() - ctx.t_start
    log(ctx, "set-up done")
    tracer, n0 = _tracer(ctx), ops.attempted

    def cycle():
        report = run()
        df = pipeline.get_last_price(spark, probe)
        with tracer.span("pipeline.get_last_price", "exec_s"):
            return report, df.collect()

    counts = _check_counts({"fetched": {"stock_prices": 2 * n},
                            "committed": {"stock_prices": n, "markets": 0}})
    t0 = time.perf_counter()
    while ((time.perf_counter() - t0 < ctx.seconds
            or ops.attempted - n0 < ETL_MIN_CYCLES)
           and fetch.visible_days < len(market.dates)):
        fetch.visible_days += 1
        day = fetch.visible_days - 1
        probe = market.tickers[day % n]
        visible = _check_last_price(market, probe, day)
        ops.run("cycle", cycle, lambda out: counts(out[0]) + visible(out[1]))

    log(ctx, "timed phase done")
    return _result(ctx, ops, tracer, ops.attempted - n0, "backfill", "cycle", {
        "backfill_s": ops.p("backfill", 0.5),
        "freshness_s": ops.p("cycle", 0.5),
        "cycles": len(ops.latencies.get("cycle", [])),
    })


# -- price_lookup --------------------------------------------------------------

LOOKUP_TICKERS = 200
LOOKUP_DAYS = 250
WARM_LOOKUPS = 8
WARM_SCANS = 1
LOOKUP_MIN_OPS = 10  # nine lookups and the mix's first scan


def _bulk_load(spark, market: Market, stage: str, dw: str) -> tuple[int, int]:
    """Load ``market`` into ``dw`` in one batch: stage, then SCD-0
    commit, markets first. Returns (markets, stock rows) committed."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    wh.create_tables(spark, stage, dw)
    f = Fetcher(market, len(market.dates))
    mk = spark.createDataFrame(
        pd.DataFrame([row for ex in EXCHANGES for row in f("market", ex, "")],
                     columns=MARKET_RAW.names), MARKET_RAW)
    stock_schema = T.StructType([T.StructField("ticker", T.StringType()),
                                 *STOCK_RAW.fields])
    rows = [(t, b.date, b.open, b.high, b.low, b.close, b.close, b.volume, None)
            for t in market.tickers for b in market.bars[t]]
    raw = spark.createDataFrame(pd.DataFrame(rows, columns=stock_schema.names),
                                stock_schema)
    prices = transforms.normalize_stock_payload(raw, F.col("ticker"))
    wh.save_to_stage(spark, "markets",
                     transforms.normalize_market_payload(mk), stage)
    n_mk = wh.commit_to_warehouse(spark, "markets", stage, dw)
    wh.save_to_stage(spark, "stock_prices", prices, stage)
    return n_mk, wh.commit_to_warehouse(spark, "stock_prices", stage, dw)


def _scan_op(spark, tracer, market: Market, dw: str, ticker: str):
    """A scan: 30-day rolling mean over one ticker's history, plus the
    latest row of every ticker. Returns (work, check)."""
    from pyspark.sql import functions as F

    def work():
        fact = spark.table(f"`{dw}`.`stock_prices`")
        rolled = transforms.add_rolling_mean(fact.filter(F.col("stock_ticker") == ticker))
        with tracer.span("operators.transforms.add_rolling_mean", "exec_s"):
            rolled_rows = rolled.collect()
        latest = windows.latest_per_entity(fact)
        with tracer.span("operators.windows.latest_per_entity", "exec_s"):
            latest_rows = latest.collect()
        return rolled_rows, latest_rows

    def check(out) -> list[str]:
        rolled_rows, latest_rows = out
        bars = market.bars[ticker]
        problems = []
        if len(rolled_rows) != len(bars):
            problems.append(f"rolling {ticker}: {len(rolled_rows)} rows")
        else:
            last = max(rolled_rows, key=lambda r: r["stock_date"])
            want = statistics.fmean(b.close for b in bars[-30:])
            if not math.isclose(last["stock_30daymean"], want, rel_tol=1e-9):
                problems.append(f"rolling {ticker}: {last['stock_30daymean']} != {want}")
        if len(latest_rows) != len(market.companies):
            problems.append(f"latest: {len(latest_rows)} rows")
        for r in latest_rows:
            bar = market.bars[r["stock_ticker"]][-1]
            if (r["stock_date"].isoformat(), r["stock_close"]) != (bar.date, bar.close):
                problems.append(f"latest {r['stock_ticker']}: {r['stock_date']}")
        return problems

    return work, check


def price_lookup(ctx: Context) -> Result:
    """Read path: a warehouse of ``LOOKUP_TICKERS`` x ``LOOKUP_DAYS``
    loaded in one batch (set-up), then a seeded Zipf mix of ~90%
    ``get_last_price`` lookups and ~10% scans."""
    spark, ops = ctx.spark, Ops()
    last = LOOKUP_DAYS - 1
    log(ctx, "session up")
    market = Market(ctx.seed, LOOKUP_TICKERS, LOOKUP_DAYS)
    mix = zipf_picks(ctx.seed, market.tickers, 100_000)

    # set-up: the bulk load (also measured on its own), then warm-up
    want = (LOOKUP_TICKERS, LOOKUP_TICKERS * LOOKUP_DAYS)
    ops.run("load", lambda: _bulk_load(spark, market, STAGE, DW),
            lambda got: [] if got == want else [f"load {got} != {want}"])
    for _, ticker in mix[-WARM_LOOKUPS:]:
        ops.run("warm", lambda: pipeline.get_last_price(spark, ticker).collect(),
                _check_last_price(market, ticker, last), timed=False)
    for _, ticker in mix[-WARM_SCANS:]:
        ops.run("warm", *_scan_op(spark, NoTracer(), market, DW, ticker),
                timed=False)
    ctx.setup_s = time.perf_counter() - ctx.t_start
    log(ctx, "warm-up done")
    tracer, n0 = _tracer(ctx), ops.attempted

    def lookup():
        df = pipeline.get_last_price(spark, ticker)
        with tracer.span("pipeline.get_last_price", "exec_s"):
            return df.collect()

    t0 = time.perf_counter()
    for op, ticker in mix:
        if (time.perf_counter() - t0 >= ctx.seconds
                and ops.attempted - n0 >= LOOKUP_MIN_OPS):
            break
        if op == "scan":
            ops.run("scan", *_scan_op(spark, tracer, market, DW, ticker))
        else:
            ops.run("lookup", lookup, _check_last_price(market, ticker, last))

    log(ctx, "timed phase done")
    n = len(ops.latencies.get("lookup", []))
    return _result(ctx, ops, tracer, ops.attempted - n0, "load", "lookup", {
        "lookup_p50_ms": ops.p("lookup", 0.5) * 1000.0,
        "lookup_p90_ms": ops.p("lookup", 0.9) * 1000.0,
        "lookups": n,
        "scan_p50_ms": (ops.p("scan", 0.5) * 1000.0
                        if ops.latencies.get("scan") else None),
        "scans": len(ops.latencies.get("scan", [])),
    })


# -- curation_batch ------------------------------------------------------------

CATALOG_DOCS = 150
CATALOG_EVENTS = 2000
CATALOG_ORDERS = 1000
CATALOG_MIN_PASSES = 1
CATALOG_TABLES = ("documents", "embeddings", "events", "orders")


def _canon(v) -> str:
    """A value as the catalog's oracle checks compare it: floats to 12
    significant digits, None as its own token."""
    if v is None:
        return "\u2205"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    return str(v)


def _canon_rows(columns: list[str], rows) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of canonical values, columns sorted by name
    (both engines alias their columns alike)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _oracle_rows(sf_dir: str, names) -> dict[str, list[tuple[str, ...]]]:
    """Each query's known answer, from its DuckDB oracle in the catalog."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        out = {}
        for name in names:
            cur = con.execute(CATALOG[name].oracle)
            out[name] = _canon_rows([d[0] for d in cur.description],
                                    cur.fetchall())
        return out
    finally:
        con.close()


def _reference_counts(orders) -> dict[str, int]:
    """Rows the reference tables derived from ``orders`` must have: one
    per (order day, ticker) for stock_prices, one per ticker for markets
    (tickers are ``o_custkey % 5``)."""
    keys = zip(orders.column("o_orderdate").to_pylist(),
               orders.column("o_custkey").to_pylist())
    pairs = {(d.date(), c % 5) for d, c in keys}
    return {"stock_prices": len(pairs), "markets": len({t for _, t in pairs})}


def curation_batch(ctx: Context) -> Result:
    """Curation and stream-drain passes over seeded catalog tables: set-up
    writes the tables, computes every query's DuckDB oracle (untimed) and
    materializes the reference tables; one cold pass is the load; then
    timed passes, each running every query in ``LLM_QUERIES`` and
    ``STREAM_QUERIES`` once and checking its rows against the oracle."""
    spark, ops = ctx.spark, Ops()
    sf = os.path.join(ctx.work, "tables")
    log(ctx, "session up")
    tables = write_catalog_tables(ctx.seed, sf, CATALOG_DOCS, CATALOG_EVENTS,
                                  CATALOG_ORDERS)
    queries = [(f"plans.queries_llm.{q}", q) for q in LLM_QUERIES] + [
        (f"plans.queries_streaming.{q}", q) for q in STREAM_QUERIES]
    want = _oracle_rows(sf, [q for _, q in queries])
    log(ctx, "tables and oracles ready")

    ref_want = _reference_counts(tables["orders"])
    for name, fn in (("stock_prices", reference_tables.stock_prices),
                     ("markets", reference_tables.markets)):
        def materialize(name=name, fn=fn):
            t = time.perf_counter()
            n = fn(spark, sf).count()
            ctx.setup_layers[f"plans.reference_tables.{name}"] = (
                time.perf_counter() - t)
            return n
        ops.run(f"reference.{name}", materialize,
                lambda n, name=name: [] if n == ref_want[name] else
                [f"{name}: {n} rows != {ref_want[name]}"], timed=False)

    llm_s, stream_s = [], []  # per pass: summed wall time of each group

    def one_pass(tracer):
        def work():
            out, times = {}, {"llm": 0.0, "stream": 0.0}
            for span, q in queries:
                t = time.perf_counter()
                with tracer.span(span):
                    df = CATALOG[q].build(spark, sf)
                    out[q] = (df.columns, df.collect())
                dt = time.perf_counter() - t
                times["stream" if q in STREAM_QUERIES else "llm"] += dt
                print(f"[perfbench]   {q} {dt * 1000:.0f} ms", file=sys.stderr)
            llm_s.append(times["llm"])
            stream_s.append(times["stream"])
            return out
        return work

    def check(out) -> list[str]:
        problems = []
        for q, (cols, rows) in out.items():
            got = _canon_rows(cols, rows)
            if got != want[q]:
                problems.append(f"{q}: {len(got)} rows differ from its "
                                f"oracle's {len(want[q])}")
        return problems

    ops.run("load", one_pass(NoTracer()), check)  # the cold pass
    ctx.setup_s = time.perf_counter() - ctx.t_start
    log(ctx, "warm-up done")
    tracer, n0 = _tracer(ctx), ops.attempted
    del llm_s[:], stream_s[:]
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < ctx.seconds
           or ops.attempted - n0 < CATALOG_MIN_PASSES):
        ops.run("pass", one_pass(tracer), check)

    log(ctx, "timed phase done")
    return _result(ctx, ops, tracer, ops.attempted - n0, "load", "pass", {
        "curation_pass_s": statistics.median(llm_s),
        "drain_pass_s": statistics.median(stream_s),
        "passes": len(ops.latencies.get("pass", [])),
    })


WORKLOADS: dict[str, Callable[[Context], Result]] = {
    "etl_incremental": etl_incremental,
    "price_lookup": price_lookup,
    "curation_batch": curation_batch,
}
