"""Reference-parity queries (SURVEY.md §2) over the derived
``stock_prices`` / ``markets`` tables (plans/reference_tables.py).

Each query is the Spark-first re-expression of an operator the reference
performs; the paired DuckDB oracle proves value parity. Citations point
at the reference implementation being re-expressed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import fmt_ddmmyyyy, surrogate_key
from ..operators.scd import new_rows
from ..operators.transforms import (
    normalize_market_payload,
    normalize_stock_payload,
)
from ..operators.warehouse import last_price_rows
from ..operators.windows import latest_global_date, latest_per_entity
from ..sources.parquet import load_table
from .catalog import register
from .reference_tables import markets, stock_prices, with_reference_ctes

# Ticker guaranteed present on the globally-latest date at sf0.01 (the
# W1 quirk means absent tickers yield 0 rows — see SURVEY.md §2.7).
FLAGSHIP_TICKER = "AAPL"


def get_last_price(spark: SparkSession, sf_dir: str, ticker: str) -> DataFrame:
    """Flagship: the reference's one analytical query, ``get_last_price``
    (DB_manager.py:181-199) — latest close joined to the dimension row.

    Reference semantics preserved exactly: filter to the *global* max
    date (scalar subquery, DB_manager.py:192-195), then the ticker; left
    join the tiny dim (broadcast, ``warehouse.last_price_rows``).
    """
    fact = stock_prices(spark, sf_dir)
    latest = latest_global_date(fact).filter(F.col("stock_ticker") == ticker)
    return last_price_rows(latest, markets(spark, sf_dir))


@register(
    "ref_get_last_price",
    with_reference_ctes(f"""
SELECT strftime(stock_date, '%d-%m-%Y') AS stock_date_fmt,
       stock_ticker, market_companyname, stock_close,
       market_exchange, market_stockisin
FROM stock_prices LEFT JOIN markets ON stock_ticker = market_stockid
WHERE stock_date = (SELECT MAX(stock_date) FROM stock_prices)
  AND stock_ticker = '{FLAGSHIP_TICKER}'
"""),
    doc="DB_manager.py:181-199 — latest close + dim enrich (W1 quirk kept)",
    tags=("reference", "join", "scalar-subquery"),
)
def q_get_last_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return get_last_price(spark, sf_dir, FLAGSHIP_TICKER)


@register(
    "ref_latest_per_ticker",
    with_reference_ctes("""
SELECT stock_ticker, stock_date, stock_close FROM (
  SELECT stock_ticker, stock_date, stock_close,
         ROW_NUMBER() OVER (PARTITION BY stock_ticker
                            ORDER BY stock_date DESC) AS rn
  FROM stock_prices) WHERE rn = 1
"""),
    doc="robust W1 variant: row_number per ticker (SURVEY.md §2.7)",
    tags=("reference", "window"),
)
def q_latest_per_ticker(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_per_entity(stock_prices(spark, sf_dir)).select(
        "stock_ticker", "stock_date", "stock_close"
    )


@register(
    "ref_rolling_30day_mean",
    with_reference_ctes("""
SELECT stock_ticker, stock_date,
       CAST(SUM(CAST(stock_close AS DECIMAL(18,4)))
              OVER (PARTITION BY stock_ticker ORDER BY stock_date
                    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY stock_ticker ORDER BY stock_date
                          ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
         AS stock_30daymean
FROM stock_prices
"""),
    doc="P10/W2: the reference DECLARES mean-30days (API_manager.py:180-181) "
        "but never computes it; here a real window op. Decimal-exact sum → "
        "double division keeps cross-engine bit parity.",
    tags=("reference", "window"),
)
def q_rolling_30day_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-29, 0)
    )
    return stock_prices(spark, sf_dir).select(
        "stock_ticker",
        "stock_date",
        (
            F.sum(F.col("stock_close").cast("decimal(18,4)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("stock_30daymean"),
    )


@register(
    "ref_scd0_new_markets",
    with_reference_ctes("""
SELECT s.* FROM markets s
LEFT JOIN (SELECT * FROM markets WHERE market_exchange = 'NASDAQ') w
  ON s.market_stockid = w.market_stockid
WHERE w.market_stockid IS NULL
"""),
    doc="J1: SCD-0 anti-join insert, markets (DB_manager.py:142-156) — "
        "stage = full snapshot, warehouse = NASDAQ subset → new = NYSE rows",
    tags=("reference", "anti-join", "scd0"),
)
def q_scd0_new_markets(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = markets(spark, sf_dir)
    warehouse = stage.filter(F.col("market_exchange") == "NASDAQ")
    return new_rows(stage, warehouse, "market_stockid")


@register(
    "ref_scd0_new_stock_keys",
    with_reference_ctes("""
SELECT s.stock_key, s.stock_date, s.stock_ticker, s.stock_close
FROM (SELECT * FROM stock_prices WHERE stock_year = 2001) s
LEFT JOIN (SELECT * FROM stock_prices WHERE stock_date <= DATE '2001-03-31') w
  ON s.stock_key = w.stock_key
WHERE w.stock_key IS NULL
"""),
    doc="J2: SCD-0 anti-join insert, stock_prices (DB_manager.py:157-177) — "
        "incoming 2001 batch overlaps Jan-Mar already loaded",
    tags=("reference", "anti-join", "scd0"),
)
def q_scd0_new_stock_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = stock_prices(spark, sf_dir)
    incoming = fact.filter(F.col("stock_year") == 2001)
    loaded = fact.filter(F.col("stock_date") <= F.lit("2001-03-31").cast("date"))
    return new_rows(incoming, loaded, "stock_key").select(
        "stock_key", "stock_date", "stock_ticker", "stock_close"
    )


@register(
    "ref_watermarks",
    with_reference_ctes("""
SELECT stock_ticker, MAX(stock_date) AS watermark_date
FROM stock_prices GROUP BY stock_ticker
"""),
    doc="S4/K4/T1: incremental watermark per ticker — the state.json "
        "replacement (API_manager.py:79-113); sink-derived, crash-consistent",
    tags=("reference", "aggregate", "state"),
)
def q_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.state import watermarks

    return watermarks(stock_prices(spark, sf_dir))


@register(
    "ref_global_max_date",
    with_reference_ctes("SELECT MAX(stock_date) AS max_date FROM stock_prices"),
    doc="A1: ungrouped MAX scalar subquery (DB_manager.py:192-195)",
    tags=("reference", "aggregate"),
)
def q_global_max_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stock_prices(spark, sf_dir).agg(F.max("stock_date").alias("max_date"))


# --- payload-normalization parity (P1-P7) ----------------------------------
# The raw API payload doesn't exist in testdata, so both sides derive the
# same raw shape from `orders` first (strings + doubles, drift columns
# present), then the Spark side runs the real operator while the oracle
# inlines the transform.

_RAW_STOCK_SQL = """
SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS "date",
       o_totalprice AS "open",
       o_totalprice * 1.01 AS high,
       o_totalprice * 0.99 AS low,
       o_totalprice * 1.005 AS "close",
       o_totalprice AS adjusted_close,
       o_orderkey AS volume,
       CAST(NULL AS VARCHAR) AS warning
FROM orders WHERE CAST(o_custkey % 5 AS INT) = 0
"""


def _raw_stock_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") % 5).cast("int") == 0
    )
    return o.select(
        F.col("o_orderdate").cast("date").cast("string").alias("date"),
        F.col("o_totalprice").alias("open"),
        (F.col("o_totalprice") * 1.01).alias("high"),
        (F.col("o_totalprice") * 0.99).alias("low"),
        (F.col("o_totalprice") * 1.005).alias("close"),
        F.col("o_totalprice").alias("adjusted_close"),
        F.col("o_orderkey").alias("volume"),
        F.lit(None).cast("string").alias("warning"),
    )


@register(
    "ref_normalize_stock_payload",
    f"""
WITH raw AS ({_RAW_STOCK_SQL})
SELECT CAST("date" AS DATE) AS stock_date,
       "open" AS stock_open, high AS stock_high, low AS stock_low,
       "close" AS stock_close, CAST(volume AS BIGINT) AS stock_volume,
       'AAPL' AS stock_ticker,
       CAST(EXTRACT(YEAR FROM CAST("date" AS DATE)) AS INT) AS stock_year,
       CAST(EXTRACT(MONTH FROM CAST("date" AS DATE)) AS INT) AS stock_month,
       CAST(EXTRACT(DAY FROM CAST("date" AS DATE)) AS INT) AS stock_day,
       "date" || '/' || 'AAPL' AS stock_key
FROM raw
""",
    doc="P1-P6 as ONE projection (API_manager.py:145-182): literal ticker "
        "tag, string→date, date parts, surrogate key, drift-tolerant drops, "
        "renames — zero-shuffle map stage",
    tags=("reference", "transform"),
)
def q_normalize_stock_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_stock_payload(_raw_stock_df(spark, sf_dir), "AAPL")


@register(
    "ref_normalize_market_payload",
    """
WITH raw AS (
  SELECT c_name AS Code, 'Co ' || c_name AS Name, 'USA' AS Country,
         CASE WHEN c_custkey % 2 = 0 THEN 'NYSE' ELSE 'NASDAQ' END AS Exchange,
         'USD' AS Currency,
         CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'Common Stock'
              WHEN 1 THEN 'ETF' ELSE 'Fund' END AS Type,
         'ISIN' || c_name AS Isin
  FROM customer)
SELECT Code AS market_stockid, Name AS market_companyname,
       Country AS market_country, Exchange AS market_exchange,
       Currency AS market_currency, Isin AS market_stockisin
FROM raw WHERE Type = 'Common Stock'
""",
    doc="P6/P7: Type='Common Stock' filter + renames (API_manager.py:185-197); "
        "filter pushes to the scan",
    tags=("reference", "transform", "filter"),
)
def q_normalize_market_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    raw = c.select(
        F.col("c_name").alias("Code"),
        F.concat(F.lit("Co "), F.col("c_name")).alias("Name"),
        F.lit("USA").alias("Country"),
        F.when(F.col("c_custkey") % 2 == 0, "NYSE")
        .otherwise("NASDAQ")
        .alias("Exchange"),
        F.lit("USD").alias("Currency"),
        F.when((F.col("c_custkey") % 3).cast("int") == 0, "Common Stock")
        .when((F.col("c_custkey") % 3).cast("int") == 1, "ETF")
        .otherwise("Fund")
        .alias("Type"),
        F.concat(F.lit("ISIN"), F.col("c_name")).alias("Isin"),
    )
    return normalize_market_payload(raw)


@register(
    "ref_scalar_functions",
    with_reference_ctes("""
SELECT stock_key,
       strftime(stock_date, '%d-%m-%Y') AS date_ddmmyyyy,
       CAST(stock_date AS VARCHAR) AS date_str,
       CAST(EXTRACT(YEAR FROM stock_date) AS INT) AS y,
       CAST(EXTRACT(MONTH FROM stock_date) AS INT) AS m,
       CAST(EXTRACT(DAY FROM stock_date) AS INT) AS d,
       CAST(stock_date AS VARCHAR) || '/' || stock_ticker AS rebuilt_key
FROM stock_prices
"""),
    doc="F1-F5: TO_CHAR dd-MM-yyyy (DB_manager.py:184), casts, date parts, "
        "key concat (API_manager.py:156-162)",
    tags=("reference", "scalar"),
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    return sp.select(
        "stock_key",
        fmt_ddmmyyyy("stock_date").alias("date_ddmmyyyy"),
        F.col("stock_date").cast("string").alias("date_str"),
        F.year("stock_date").alias("y"),
        F.month("stock_date").alias("m"),
        F.dayofmonth("stock_date").alias("d"),
        surrogate_key("stock_date", "stock_ticker").alias("rebuilt_key"),
    )


@register(
    "ref_stock_prices_table",
    with_reference_ctes("SELECT * FROM stock_prices"),
    doc="derived fact table itself — validates DataFrame vs SQL derivation "
        "parity end-to-end (FIXTURES.md §B)",
    tags=("reference", "derivation"),
)
def q_stock_prices_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stock_prices(spark, sf_dir)


@register(
    "ref_markets_table",
    with_reference_ctes("SELECT * FROM markets"),
    doc="derived dimension table (FIXTURES.md §B)",
    tags=("reference", "derivation"),
)
def q_markets_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markets(spark, sf_dir)


@register(
    "ref_daily_returns",
    with_reference_ctes("""
SELECT stock_ticker, stock_date,
       stock_close / LAG(stock_close) OVER w - 1 AS daily_return
FROM stock_prices
WINDOW w AS (PARTITION BY stock_ticker ORDER BY stock_date)
"""),
    doc="daily returns per ticker via lag window — per-row double "
        "arithmetic only (no float accumulation), so the oracle matches "
        "exactly; first bar per ticker yields null",
    tags=("reference", "window", "returns"),
)
def q_daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w = Window.partitionBy("stock_ticker").orderBy("stock_date")
    return sp.select(
        "stock_ticker",
        "stock_date",
        (F.col("stock_close") / F.lag("stock_close").over(w) - 1).alias(
            "daily_return"
        ),
    )


@register(
    "ref_calendar_gaps",
    with_reference_ctes("""
SELECT stock_ticker, prev_date, stock_date, CAST(gap_days AS INT) AS gap_days
FROM (
  SELECT stock_ticker, stock_date,
         LAG(stock_date) OVER (PARTITION BY stock_ticker
                               ORDER BY stock_date) AS prev_date,
         datediff('day',
                  LAG(stock_date) OVER (PARTITION BY stock_ticker
                                        ORDER BY stock_date),
                  stock_date) AS gap_days
  FROM stock_prices)
WHERE gap_days > 3
"""),
    doc="trading-calendar gap detection — the market-data QA pass a "
        "feed operator runs nightly: per-ticker bar-to-bar date deltas "
        "via one lag window, report gaps wider than a weekend+holiday "
        "(> 3 days = missed sessions or a feed outage). Integer day "
        "arithmetic, exact across engines; one ticker-partitioned "
        "window shuffle, no self-join",
    tags=("reference", "window", "data-quality"),
)
def q_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w = Window.partitionBy("stock_ticker").orderBy("stock_date")
    prev = F.lag("stock_date").over(w)
    return (
        sp.select(
            "stock_ticker",
            prev.alias("prev_date"),
            "stock_date",
            F.datediff(F.col("stock_date"), prev).alias("gap_days"),
        )
        .filter(F.col("gap_days") > 3)
    )


@register(
    "ref_top_movers",
    with_reference_ctes("""
SELECT stock_date, stock_ticker, ret,
       CAST(rk AS INT) AS move_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY stock_date
                                   ORDER BY abs(ret) DESC, stock_ticker) AS rk
      FROM (SELECT stock_ticker, stock_date,
                   stock_close / LAG(stock_close) OVER
                     (PARTITION BY stock_ticker ORDER BY stock_date) - 1 AS ret
            FROM stock_prices)
      WHERE ret IS NOT NULL)
WHERE rk <= 2
"""),
    doc="top-2 absolute movers per day: lag-window returns re-ranked by "
        "a second window — deterministic (abs desc, ticker) tiebreak",
    tags=("reference", "window", "topk", "returns"),
)
def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w = Window.partitionBy("stock_ticker").orderBy("stock_date")
    r = sp.select(
        "stock_ticker",
        "stock_date",
        (F.col("stock_close") / F.lag("stock_close").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    rk = Window.partitionBy("stock_date").orderBy(
        F.abs("ret").desc(), "stock_ticker"
    )
    return (
        r.withColumn("move_rank", F.row_number().over(rk))
        .filter(F.col("move_rank") <= 2)
        .select("stock_date", "stock_ticker", "ret", "move_rank")
    )


@register(
    "ref_ohlc_monthly",
    with_reference_ctes("""
SELECT stock_ticker,
       stock_year,
       stock_month,
       arg_min(stock_open, stock_date)  AS month_open,
       MAX(stock_high)                  AS month_high,
       MIN(stock_low)                   AS month_low,
       arg_max(stock_close, stock_date) AS month_close,
       CAST(SUM(stock_volume) AS BIGINT) AS month_volume,
       COUNT(*)                         AS n_days
FROM stock_prices
GROUP BY stock_ticker, stock_year, stock_month
"""),
    doc="resample daily bars to monthly OHLC candles: open/close via "
        "min_by/max_by on the (unique) trading date, so the aggregation "
        "is a single shuffle with map-side partials — no window, no sort "
        "of the whole history. Extends the daily-bar granularity the "
        "reference stores (API_manager.py:119-127).",
    tags=("reference", "aggregate", "resample"),
)
def q_ohlc_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    return sp.groupBy("stock_ticker", "stock_year", "stock_month").agg(
        F.min_by("stock_open", "stock_date").alias("month_open"),
        F.max("stock_high").alias("month_high"),
        F.min("stock_low").alias("month_low"),
        F.max_by("stock_close", "stock_date").alias("month_close"),
        F.sum("stock_volume").alias("month_volume"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "ref_ohlc_incremental",
    with_reference_ctes("""
SELECT stock_ticker,
       stock_year,
       stock_month,
       MIN(stock_date)                  AS first_date,
       arg_min(stock_open, stock_date)  AS month_open,
       MAX(stock_high)                  AS month_high,
       MIN(stock_low)                   AS month_low,
       MAX(stock_date)                  AS last_date,
       arg_max(stock_close, stock_date) AS month_close,
       CAST(SUM(stock_volume) AS BIGINT) AS month_volume,
       COUNT(*)                         AS n_days
FROM stock_prices
GROUP BY stock_ticker, stock_year, stock_month
"""),
    doc="INCREMENTAL monthly OHLC via mergeable aggregate state "
        "(operators/transforms.ohlc_state/ohlc_merge): the engine "
        "builds state from the even-day bars, a 'nightly batch' state "
        "from the odd-day bars, and MERGES the two — open/close "
        "resolve by carried anchor dates (min_by/max_by), making the "
        "non-commutative first/last-by-time reductions monoid-"
        "mergeable. The oracle aggregates ALL bars directly, so a "
        "green row proves merge(state(A), state(B)) == state(A ∪ B) — "
        "the identity incremental view maintenance rests on. At 100 TB "
        "the nightly merge touches |updated months| rows, never "
        "history",
    tags=("reference", "aggregate", "incremental", "state"),
)
def q_ohlc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.transforms import ohlc_merge, ohlc_state

    sp = stock_prices(spark, sf_dir)
    even = sp.filter(F.dayofmonth("stock_date") % 2 == 0)
    odd = sp.filter(F.dayofmonth("stock_date") % 2 == 1)
    return ohlc_merge(ohlc_state(even), ohlc_state(odd))


@register(
    "ref_vwap_monthly",
    with_reference_ctes("""
SELECT stock_ticker,
       stock_year,
       stock_month,
       CAST(SUM(CAST(stock_close * stock_volume AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(SUM(stock_volume) AS DOUBLE) AS vwap,
       CAST(SUM(stock_volume) AS BIGINT) AS total_volume
FROM stock_prices
GROUP BY stock_ticker, stock_year, stock_month
"""),
    doc="volume-weighted average price per ticker-month; the weighted "
        "sum goes through DECIMAL so the reduction is exact and "
        "order-independent (parallel Spark sum == serial DuckDB sum)",
    tags=("reference", "aggregate", "vwap"),
)
def q_vwap_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    wsum = F.sum(
        (F.col("stock_close") * F.col("stock_volume")).cast("decimal(28,6)")
    ).cast("double")
    vol = F.sum("stock_volume")
    return sp.groupBy("stock_ticker", "stock_year", "stock_month").agg(
        (wsum / vol.cast("double")).alias("vwap"),
        vol.alias("total_volume"),
    )


@register(
    "ref_bollinger_bands",
    with_reference_ctes("""
SELECT stock_ticker, stock_date, sma20,
       sma20 + 2 * sd AS upper_band,
       sma20 - 2 * sd AS lower_band
FROM (
  SELECT stock_ticker, stock_date,
         sm / 1000000.0 / 20 AS sma20,
         SQRT(GREATEST((s2 - sd1 * sd1 / 20) / 19, 0)) / 100 AS sd,
         rn
  FROM (
    SELECT stock_ticker, stock_date,
           CAST(SUM(CAST(ROUND(stock_close * 1000000) AS BIGINT))
                OVER w20 AS DOUBLE) AS sm,
           CAST(SUM(CAST(ROUND(stock_close * 100) AS BIGINT))
                OVER w20 AS DOUBLE) AS sd1,
           CAST(SUM(CAST(ROUND(stock_close * 100) AS BIGINT)
                    * CAST(ROUND(stock_close * 100) AS BIGINT))
                OVER w20 AS DOUBLE) AS s2,
           ROW_NUMBER() OVER wseq AS rn
    FROM stock_prices
    WINDOW w20 AS (PARTITION BY stock_ticker ORDER BY stock_date
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
           wseq AS (PARTITION BY stock_ticker ORDER BY stock_date)
  )
) WHERE rn >= 20
"""),
    doc="20-day Bollinger bands. Rolling stddev is NOT computed with the "
        "engine's stddev aggregate (whose float accumulation order "
        "differs across engines): both moments come from exact int64 "
        "window sums of ROUND-quantized closes (micro-dollars for the "
        "mean, cents for the variance — per-row squares ≈ (100·p)² "
        "≤ ~1e12, 20-row sums ≈ 2e13, comfortably < 2^53), then "
        "identical scalar "
        "double math — bit-equal results. ROUND() is the only double→"
        "exact conversion both engines perform identically (CAST to "
        "DECIMAL rounds differently at scale boundaries — found by the "
        "full-catalog 12-digit sweep), and the quantization is sized "
        "so every sum stays under 2^53 and converts to double exactly. "
        "Rows with an incomplete 20-day frame are dropped (rn >= 20).",
    tags=("reference", "window", "rolling"),
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w20 = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-19, 0)
    )
    wseq = Window.partitionBy("stock_ticker").orderBy("stock_date")
    qm = F.round(F.col("stock_close") * 1_000_000).cast("bigint")
    qd = F.round(F.col("stock_close") * 100).cast("bigint")
    sm = F.sum(qm).over(w20).cast("double")
    sd1 = F.sum(qd).over(w20).cast("double")
    s2 = F.sum(qd * qd).over(w20).cast("double")
    base = sp.select(
        "stock_ticker",
        "stock_date",
        sm.alias("sm"),
        sd1.alias("sd1"),
        s2.alias("s2"),
        F.row_number().over(wseq).alias("rn"),
    ).filter(F.col("rn") >= 20)
    sma20 = F.col("sm") / F.lit(1_000_000.0) / F.lit(20)
    sd = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("sd1") * F.col("sd1") / F.lit(20))
            / F.lit(19),
            F.lit(0.0),
        )
    ) / F.lit(100.0)
    return base.select(
        "stock_ticker",
        "stock_date",
        sma20.alias("sma20"),
        (sma20 + F.lit(2.0) * sd).alias("upper_band"),
        (sma20 - F.lit(2.0) * sd).alias("lower_band"),
    )


#: cap for the ticker-pair self-joins (ref_ticker_correlation,
#: ref_spearman_tickers): the date-equi join emits O(T²/2) pairs per
#: trading day — fine for any real exchange (T ≈ 10⁴ → 5·10⁷ pairs/day,
#: still partitioned equi-join work), but a user-supplied entity column
#: with 10⁶ distinct values would silently submit a 5·10¹¹-rows/day
#: job. Past the cap the query raises with the named alternative — the
#: risk.MAX_THEIL_SEN_OBS / similarity.MAX_BROADCAST_ROWS discipline.
MAX_PAIR_TICKERS = 20_000


def _guard_ticker_pairs(r: DataFrame, entity_col: str = "stock_ticker") -> None:
    """Raise if the pair space of a ticker×ticker date-equi self-join
    is beyond :data:`MAX_PAIR_TICKERS` entities (one tiny distinct-count
    aggregate — the cap probe never materializes a pair). Probe the RAW
    price projection, not the lag-window returns relation: the entity
    universe is the same (minus single-tick entities, a conservative
    superset for a cap) and the probe stays a scan-and-agg instead of
    paying the per-ticker window sort as an extra eager job."""
    t = r.select(entity_col).distinct().count()
    if t > MAX_PAIR_TICKERS:
        raise ValueError(
            f"ticker-pair self-join: {t} distinct entities "
            f"(> {MAX_PAIR_TICKERS}); the pair space is O(T²/2) per "
            f"trading day. The count is over the raw price projection, "
            f"so single-tick entities (which produce no return rows) "
            f"are included — a deliberately conservative cap. Restrict "
            f"the universe (sector/index subset) or switch to a "
            f"factor-model covariance instead of all-pairs correlation."
        )


@register(
    "ref_ticker_correlation",
    with_reference_ctes("""
, r AS (
  SELECT stock_ticker, stock_date,
         stock_close / LAG(stock_close) OVER
           (PARTITION BY stock_ticker ORDER BY stock_date) - 1 AS ret
  FROM stock_prices
), p AS (
  SELECT a.stock_ticker AS ticker_a, b.stock_ticker AS ticker_b,
         a.ret AS x, b.ret AS y
  FROM r a JOIN r b
    ON a.stock_date = b.stock_date AND a.stock_ticker < b.stock_ticker
  WHERE a.ret IS NOT NULL AND b.ret IS NOT NULL
), m AS (
  SELECT ticker_a, ticker_b,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
  FROM p GROUP BY ticker_a, ticker_b
)
SELECT ticker_a, ticker_b, CAST(n AS BIGINT) AS n_days,
       (n * sxy - sx * sy)
         / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS return_corr
FROM m WHERE n >= 2
"""),
    doc="pairwise Pearson correlation of daily returns between tickers "
        "(self equi-join on trading date, ticker_a < ticker_b halves the "
        "pair space). Deliberately avoids the engines' corr() aggregate: "
        "all five moments are exact DECIMAL sums (scale 12 keeps the "
        "unscaled values < 2^53, where decimal->double conversion is "
        "identical across engines), the final correlation is identical "
        "scalar double arithmetic in both engines. Oracle body extends "
        "the wrapper's CTE list (leading comma) rather than nesting WITH.",
    tags=("reference", "join", "statistics"),
)
def q_ticker_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w = Window.partitionBy("stock_ticker").orderBy("stock_date")
    r = sp.select(
        "stock_ticker",
        "stock_date",
        (F.col("stock_close") / F.lag("stock_close").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    _guard_ticker_pairs(sp)
    a, b = r.alias("a"), r.alias("b")
    pairs = a.join(
        b,
        (F.col("a.stock_date") == F.col("b.stock_date"))
        & (F.col("a.stock_ticker") < F.col("b.stock_ticker")),
    ).select(
        F.col("a.stock_ticker").alias("ticker_a"),
        F.col("b.stock_ticker").alias("ticker_b"),
        F.col("a.ret").alias("x"),
        F.col("b.ret").alias("y"),
    )

    def _dsum_expr(col, scale):
        return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")

    x, y = F.col("x"), F.col("y")
    m = pairs.groupBy("ticker_a", "ticker_b").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum_expr(x, 12).alias("sx"),
        _dsum_expr(y, 12).alias("sy"),
        _dsum_expr(x * y, 12).alias("sxy"),
        _dsum_expr(x * x, 12).alias("sxx"),
        _dsum_expr(y * y, 12).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.filter(n >= 2).select(
        "ticker_a",
        "ticker_b",
        n.cast("bigint").alias("n_days"),
        corr.alias("return_corr"),
    )


@register(
    "ref_spearman_tickers",
    with_reference_ctes("""
, r AS (
  SELECT stock_ticker, stock_date,
         stock_close / LAG(stock_close) OVER
           (PARTITION BY stock_ticker ORDER BY stock_date) - 1 AS ret
  FROM stock_prices
), p AS (
  SELECT a.stock_ticker AS ticker_a, b.stock_ticker AS ticker_b,
         a.stock_date AS d, a.ret AS x, b.ret AS y
  FROM r a JOIN r b
    ON a.stock_date = b.stock_date AND a.stock_ticker < b.stock_ticker
  WHERE a.ret IS NOT NULL AND b.ret IS NOT NULL
), rk AS (
  SELECT ticker_a, ticker_b,
         ROW_NUMBER() OVER (PARTITION BY ticker_a, ticker_b
                            ORDER BY x, d) AS rx,
         ROW_NUMBER() OVER (PARTITION BY ticker_a, ticker_b
                            ORDER BY y, d) AS ry
  FROM p
), m AS (
  SELECT ticker_a, ticker_b, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(rx - ry AS HUGEINT) * CAST(rx - ry AS HUGEINT)) AS sd2
  FROM rk GROUP BY ticker_a, ticker_b)
SELECT ticker_a, ticker_b, n_days,
       CAST(1000000 - (CAST(sd2 AS HUGEINT) * 6000000)
            // (CAST(n_days AS HUGEINT)
                * (CAST(n_days AS HUGEINT) * CAST(n_days AS HUGEINT) - 1))
            AS BIGINT) AS rho_micro
FROM m WHERE n_days >= 2
"""),
    doc="pairwise SPEARMAN rank correlation of daily returns — the "
        "robust, outlier-immune complement to ref_ticker_correlation's "
        "Pearson (one fat-tailed crash day dominates a Pearson moment; "
        "ranks cap it at one position). Integer end to end where "
        "Pearson needs five double moments: each return is ranked "
        "within its pair by ROW_NUMBER (ties sequence-broken by "
        "trading date — deterministic identical integer ranks in both "
        "engines, since IEEE division makes the raw returns bit-equal), "
        "then ρ = 1 − 6·Σd²/(n(n²−1)) is emitted as exact micro-units "
        "via integral division of DECIMAL(38,0) products (Σd² ≤ n³ "
        "honesty bound: exact to n ≈ 10^10 days). Plan: the returns "
        "self-join halves the pair space (a < b); the rank windows "
        "partition by pair — |pairs| × |days| rows, never a global "
        "sort.",
    tags=("reference", "window", "statistics"),
)
def q_spearman_tickers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w = Window.partitionBy("stock_ticker").orderBy("stock_date")
    r = sp.select(
        "stock_ticker",
        "stock_date",
        (F.col("stock_close") / F.lag("stock_close").over(w) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    _guard_ticker_pairs(sp)
    a, b = r.alias("a"), r.alias("b")
    pairs = a.join(
        b,
        (F.col("a.stock_date") == F.col("b.stock_date"))
        & (F.col("a.stock_ticker") < F.col("b.stock_ticker")),
    ).select(
        F.col("a.stock_ticker").alias("ticker_a"),
        F.col("b.stock_ticker").alias("ticker_b"),
        F.col("a.stock_date").alias("d"),
        F.col("a.ret").alias("x"),
        F.col("b.ret").alias("y"),
    )
    wx = Window.partitionBy("ticker_a", "ticker_b").orderBy("x", "d")
    wy = Window.partitionBy("ticker_a", "ticker_b").orderBy("y", "d")
    ranked = pairs.select(
        "ticker_a",
        "ticker_b",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    dec = "decimal(19,0)"
    dd = (F.col("rx") - F.col("ry")).cast(dec)
    m = ranked.groupBy("ticker_a", "ticker_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(dd * dd).alias("sd2"),
    )
    return m.filter(F.col("n_days") >= 2).select(
        "ticker_a",
        "ticker_b",
        "n_days",
        F.expr(
            "1000000 - (sd2 * 6000000) div"
            " (cast(n_days as decimal(19,0))"
            "  * (cast(n_days as decimal(19,0))"
            "     * cast(n_days as decimal(19,0)) - 1))"
        ).alias("rho_micro"),
    )


@register(
    "ref_rsi14",
    with_reference_ctes("""
, chg AS (
  SELECT stock_ticker, stock_date,
         CAST(stock_close - LAG(stock_close) OVER
              (PARTITION BY stock_ticker ORDER BY stock_date)
              AS DECIMAL(18,6)) AS chg
  FROM stock_prices),
g AS (
  SELECT stock_ticker, stock_date,
         CASE WHEN chg > 0 THEN chg ELSE CAST(0 AS DECIMAL(18,6)) END AS gain,
         CASE WHEN chg < 0 THEN -chg ELSE CAST(0 AS DECIMAL(18,6)) END AS loss
  FROM chg WHERE chg IS NOT NULL),
w AS (
  SELECT stock_ticker, stock_date,
         CAST(SUM(gain) OVER f AS DOUBLE) AS sum_gain,
         CAST(SUM(loss) OVER f AS DOUBLE) AS sum_loss,
         COUNT(*) OVER f AS n
  FROM g WINDOW f AS (PARTITION BY stock_ticker ORDER BY stock_date
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT stock_ticker, stock_date,
       CASE WHEN sum_loss = 0 THEN 100.0
            ELSE 100.0 - 100.0 / (1.0 + sum_gain / sum_loss) END AS rsi14
FROM w WHERE n = 14
"""),
    doc="RSI-14 (SMA variant): daily close changes split into gain/loss "
        "streams, 14-row sliding sums as exact DECIMAL partials (so the "
        "sliding-window reduction is order-independent and the oracle "
        "hash-matches), one shuffle shared with every other per-ticker "
        "window. Extends the declared-but-uncomputed indicator family "
        "the reference renames for (API_manager.py:180-181)",
    tags=("reference", "window", "indicator"),
)
def q_rsi14(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    wlag = Window.partitionBy("stock_ticker").orderBy("stock_date")
    chg = sp.select(
        "stock_ticker",
        "stock_date",
        (F.col("stock_close") - F.lag("stock_close").over(wlag))
        .cast("decimal(18,6)")
        .alias("chg"),
    ).filter(F.col("chg").isNotNull())
    zero = F.lit(0).cast("decimal(18,6)")
    g = chg.select(
        "stock_ticker",
        "stock_date",
        F.when(F.col("chg") > 0, F.col("chg")).otherwise(zero).alias("gain"),
        F.when(F.col("chg") < 0, -F.col("chg")).otherwise(zero).alias("loss"),
    )
    frame = wlag.rowsBetween(-13, 0)
    w = g.select(
        "stock_ticker",
        "stock_date",
        F.sum("gain").over(frame).cast("double").alias("sum_gain"),
        F.sum("loss").over(frame).cast("double").alias("sum_loss"),
        F.count(F.lit(1)).over(frame).alias("n"),
    ).filter(F.col("n") == 14)
    return w.select(
        "stock_ticker",
        "stock_date",
        F.when(F.col("sum_loss") == 0, F.lit(100.0))
        .otherwise(
            F.lit(100.0)
            - F.lit(100.0) / (F.lit(1.0) + F.col("sum_gain") / F.col("sum_loss"))
        )
        .alias("rsi14"),
    )


@register(
    "ref_drawdown",
    with_reference_ctes("""
SELECT stock_ticker, stock_date, stock_close,
       MAX(stock_close) OVER (PARTITION BY stock_ticker ORDER BY stock_date
                              ROWS UNBOUNDED PRECEDING) AS running_peak,
       stock_close / MAX(stock_close) OVER
           (PARTITION BY stock_ticker ORDER BY stock_date
            ROWS UNBOUNDED PRECEDING) - 1 AS drawdown
FROM stock_prices
"""),
    doc="running peak + drawdown per ticker: cumulative MAX over an "
        "ordered row frame (exact — no float accumulation at all, so "
        "cross-engine identical); the risk metric every stock dashboard "
        "derives from the bars the reference stores",
    tags=("reference", "window", "indicator"),
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    peak = F.max("stock_close").over(
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sp.select(
        "stock_ticker",
        "stock_date",
        "stock_close",
        peak.alias("running_peak"),
        (F.col("stock_close") / peak - 1).alias("drawdown"),
    )


@register(
    "ref_ticker_beta",
    with_reference_ctes("""
, rets AS (
  SELECT stock_ticker, stock_date,
         stock_close / LAG(stock_close) OVER
             (PARTITION BY stock_ticker ORDER BY stock_date) - 1 AS r
  FROM stock_prices),
rr AS (SELECT * FROM rets WHERE r IS NOT NULL),
mkt AS (
  SELECT stock_date,
         CAST(SUM(CAST(ROUND(r * 10000) AS BIGINT)) AS DOUBLE)
           / COUNT(*) AS rm_q
  FROM rr GROUP BY stock_date),
pairs AS (
  SELECT stock_ticker,
         CAST(ROUND(rr.r * 10000) AS BIGINT) AS y,
         CAST(ROUND(mkt.rm_q) AS BIGINT) AS x
  FROM rr JOIN mkt USING (stock_date)),
s AS (
  SELECT stock_ticker, COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM pairs GROUP BY stock_ticker)
SELECT stock_ticker, n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta
FROM s
"""),
    doc="per-ticker beta vs the equal-weight market return: the "
        "covariance/variance ratio from EXACT int64 partial sums (n, "
        "Σx, Σy, Σxy, Σx²) over quantized returns (round(r·10⁴) — 1 bp "
        "resolution; integer quantization is the only double→exact "
        "conversion both engines perform identically). Quantization is "
        "sized so every sum stays under 2⁵³: each converts to double "
        "EXACTLY and the final combination is pure IEEE double "
        "arithmetic, identical on any engine. (DuckDB's HUGEINT→DOUBLE "
        "cast is off by 1 ulp for some >2⁵³ values — discovered "
        "building this oracle — so exact-integer-then-cast does NOT "
        "work at 10⁶ quantization.) One-pass parallel regression: "
        "never a second centered pass over 100 TB, order-independent "
        "partial aggregation",
    tags=("reference", "aggregate", "regression"),
)
def q_ticker_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    wlag = Window.partitionBy("stock_ticker").orderBy("stock_date")
    rr = sp.select(
        "stock_ticker",
        "stock_date",
        (F.col("stock_close") / F.lag("stock_close").over(wlag) - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    q = F.round(F.col("r") * 10_000).cast("bigint")
    mkt = rr.groupBy("stock_date").agg(
        (F.sum(q).cast("double") / F.count(F.lit(1))).alias("rm_q")
    )
    pairs = rr.join(mkt, "stock_date").select(
        "stock_ticker",
        q.alias("y"),
        F.round(F.col("rm_q")).cast("bigint").alias("x"),
    )
    s = pairs.groupBy("stock_ticker").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select("stock_ticker", "n", beta.alias("beta"))


# Post-merge SCD2 markets state, shared by ref_scd2_markets (full table)
# and ref_scd2_as_of (point-in-time snapshots). Hand-derived expected
# output of scd2_apply over the seeded current state + fresh snapshot.
_SCD2_STATE_CTES = """
, cur_open AS (
  SELECT market_stockid,
         CASE WHEN market_exchange = 'NASDAQ'
              THEN market_companyname || ' (legacy)'
              ELSE market_companyname END AS market_companyname,
         market_country, market_exchange, market_currency, market_stockisin,
         DATE '2020-01-01' AS valid_from,
         CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM markets),
cur_closed AS (
  SELECT market_stockid, market_companyname || ' (v0)' AS market_companyname,
         market_country, market_exchange, market_currency, market_stockisin,
         DATE '2015-01-01' AS valid_from,
         DATE '2020-01-01' AS valid_to,
         FALSE AS is_current
  FROM markets WHERE market_stockid = 'AAPL'),
scd2_state AS (
SELECT * FROM cur_closed
UNION ALL
SELECT * FROM cur_open WHERE market_exchange <> 'NASDAQ'
UNION ALL
SELECT market_stockid, market_companyname, market_country, market_exchange,
       market_currency, market_stockisin, valid_from,
       DATE '2024-06-01' AS valid_to, FALSE AS is_current
FROM cur_open WHERE market_exchange = 'NASDAQ'
UNION ALL
SELECT market_stockid, market_companyname, market_country, market_exchange,
       market_currency, market_stockisin,
       DATE '2024-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
       TRUE AS is_current
FROM markets WHERE market_exchange = 'NASDAQ')
"""


@register(
    "ref_scd2_markets",
    with_reference_ctes(_SCD2_STATE_CTES + "\nSELECT * FROM scd2_state"),
    doc="SCD Type 2 versioned-dimension merge (operators/scd.scd2_apply) "
        "— one step past the reference's insert-only Type 0 "
        "(DB_manager.py:139). Current state: NASDAQ rows carry a stale "
        "'(legacy)' name plus one closed AAPL history row; applying the "
        "fresh markets snapshot must close the 3 stale versions at the "
        "load date, open 3 new ones, pass through unchanged NYSE rows "
        "and history. Attribute comparison joins on an MD5 of tracked "
        "columns so only (key, hash) shuffles; the oracle hand-derives "
        "the expected post-merge state",
    tags=("reference", "scd2", "warehouse"),
)
def q_scd2_markets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2_markets_state(spark, sf_dir)


def _scd2_markets_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-merge SCD2 markets table (the ref_scd2_markets result),
    shared with ref_scd2_as_of."""
    from ..operators.scd import scd2_apply

    mk = markets(spark, sf_dir)
    stale_name = F.when(
        F.col("market_exchange") == "NASDAQ",
        F.concat(F.col("market_companyname"), F.lit(" (legacy)")),
    ).otherwise(F.col("market_companyname"))
    cur_open = mk.select(
        "market_stockid",
        stale_name.alias("market_companyname"),
        "market_country",
        "market_exchange",
        "market_currency",
        "market_stockisin",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    cur_closed = mk.filter(F.col("market_stockid") == "AAPL").select(
        "market_stockid",
        F.concat(F.col("market_companyname"), F.lit(" (v0)")).alias(
            "market_companyname"
        ),
        "market_country",
        "market_exchange",
        "market_currency",
        "market_stockisin",
        F.lit("2015-01-01").cast("date").alias("valid_from"),
        F.lit("2020-01-01").cast("date").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    current = cur_open.unionByName(cur_closed)
    return scd2_apply(
        mk,
        current,
        key="market_stockid",
        tracked=["market_companyname"],
        load_date="2024-06-01",
    )


@register(
    "ref_scd2_as_of",
    with_reference_ctes(_SCD2_STATE_CTES + """
, dates(as_of) AS (VALUES (DATE '2016-06-01'), (DATE '2022-01-01'),
                          (DATE '2024-12-01'))
SELECT d.as_of, s.market_stockid, s.market_companyname,
       s.valid_from, s.valid_to
FROM scd2_state s CROSS JOIN dates d
WHERE s.valid_from <= d.as_of
  AND (s.valid_to IS NULL OR s.valid_to > d.as_of)
"""),
    doc="point-in-time reconstruction over the SCD2 dimension "
        "(operators/scd.scd2_as_of) — the temporal READ versioned "
        "dimensions exist to serve: 'what did markets look like on "
        "date X'. Three report dates span all version states (only "
        "the AAPL v0 history row in 2016; the '(legacy)' NASDAQ "
        "versions + NYSE in 2022; post-merge fresh names in 2024). "
        "Half-open [valid_from, valid_to) intervals match scd2_apply's "
        "close/open convention, so a version boundary date belongs to "
        "exactly one version. Plan: the N report dates ride ONE scan "
        "(explode of a literal date array — broadcast-sized), not N "
        "passes over the dimension",
    tags=("reference", "scd2", "warehouse", "temporal"),
)
def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_as_of

    state = _scd2_markets_state(spark, sf_dir)
    return scd2_as_of(
        state, ["2016-06-01", "2022-01-01", "2024-12-01"]
    ).select(
        "as_of", "market_stockid", "market_companyname",
        "valid_from", "valid_to",
    )


@register(
    "ref_scd1_markets",
    with_reference_ctes("""
SELECT market_stockid, market_companyname, market_country,
       market_exchange, market_currency, market_stockisin
FROM markets
UNION ALL
SELECT 'DLST', 'Delisted Holdings', 'USA', 'NYSE', 'USD', 'US0000000DL5'
"""),
    doc="SCD Type 1 overwrite-in-place upsert (operators/scd.scd1_apply) "
        "— the middle rung between the reference's insert-only Type 0 "
        "(DB_manager.py:142-177) and the versioned Type 2. Current state: "
        "NASDAQ rows carry stale '(legacy)' names, AAPL is missing (new "
        "key), and a delisted 'DLST' row has no snapshot match. Applying "
        "the fresh markets snapshot must overwrite the stale names, "
        "insert AAPL, and pass DLST through — so the result is exactly "
        "markets ∪ {DLST}, which the oracle states directly. Plan: one "
        "left_anti shuffle + union, no full-outer, no attribute diffing",
    tags=("reference", "scd1", "warehouse"),
)
def q_scd1_markets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd1_apply

    mk = markets(spark, sf_dir)
    cols = [
        "market_stockid",
        "market_companyname",
        "market_country",
        "market_exchange",
        "market_currency",
        "market_stockisin",
    ]
    stale_name = F.when(
        F.col("market_exchange") == "NASDAQ",
        F.concat(F.col("market_companyname"), F.lit(" (legacy)")),
    ).otherwise(F.col("market_companyname"))
    stale = (
        mk.filter(F.col("market_stockid") != "AAPL")
        .select(
            "market_stockid",
            stale_name.alias("market_companyname"),
            *cols[2:],
        )
    )
    delisted = spark.range(1).select(
        F.lit("DLST").alias("market_stockid"),
        F.lit("Delisted Holdings").alias("market_companyname"),
        F.lit("USA").alias("market_country"),
        F.lit("NYSE").alias("market_exchange"),
        F.lit("USD").alias("market_currency"),
        F.lit("US0000000DL5").alias("market_stockisin"),
    )
    current = stale.unionByName(delisted)
    return scd1_apply(mk.select(*cols), current, key="market_stockid")


@register(
    "ref_ema20",
    with_reference_ctes("""
, b AS (
  SELECT stock_ticker, stock_date, stock_close,
         ROW_NUMBER() OVER (PARTITION BY stock_ticker
                            ORDER BY stock_date) AS rn
  FROM stock_prices)
SELECT stock_ticker, stock_date, stock_close, e AS ema
FROM (
  WITH RECURSIVE ema(stock_ticker, rn, stock_date, stock_close, e) AS (
    SELECT stock_ticker, rn, stock_date, stock_close, stock_close
    FROM b WHERE rn = 1
    UNION ALL
    SELECT b.stock_ticker, b.rn, b.stock_date, b.stock_close,
           (2.0 / 21.0) * b.stock_close + (1.0 - 2.0 / 21.0) * ema.e
    FROM b JOIN ema
      ON b.stock_ticker = ema.stock_ticker AND b.rn = ema.rn + 1)
  SELECT * FROM ema)
"""),
    doc="EMA-20 per ticker: the per-group ordered-recurrence operator "
        "class (operators/windows.ema, applyInPandas — one shuffle on "
        "the key, sequential smoothing inside each Arrow group). Window "
        "frames cannot express e_t = a·x_t + (1-a)·e_{t-1}; the oracle "
        "is DuckDB's recursive CTE stepping the identical recurrence, "
        "and both sides run the same (mul, mul, add) float op order, "
        "so values match exactly",
    tags=("reference", "indicator", "stateful", "applyInPandas"),
)
def q_ema20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import ema

    sp = stock_prices(spark, sf_dir)
    return ema(sp, "stock_ticker", "stock_date", "stock_close", span=20)


@register(
    "ref_rolling_beta",
    with_reference_ctes("""
, rets AS (
  SELECT stock_ticker, stock_date,
         stock_close / LAG(stock_close) OVER
             (PARTITION BY stock_ticker ORDER BY stock_date) - 1 AS r
  FROM stock_prices),
rr AS (SELECT * FROM rets WHERE r IS NOT NULL),
mkt AS (
  SELECT stock_date,
         CAST(SUM(CAST(ROUND(r * 10000) AS BIGINT)) AS DOUBLE)
           / COUNT(*) AS rm_q
  FROM rr GROUP BY stock_date),
pairs AS (
  SELECT stock_ticker, stock_date,
         CAST(ROUND(rr.r * 10000) AS BIGINT) AS y,
         CAST(ROUND(mkt.rm_q) AS BIGINT) AS x
  FROM rr JOIN mkt USING (stock_date)),
wsum AS (
  SELECT stock_ticker, stock_date,
         COUNT(*) OVER w60 AS n,
         CAST(SUM(x) OVER w60 AS DOUBLE) AS sx,
         CAST(SUM(y) OVER w60 AS DOUBLE) AS sy,
         CAST(SUM(x * y) OVER w60 AS DOUBLE) AS sxy,
         CAST(SUM(x * x) OVER w60 AS DOUBLE) AS sxx,
         ROW_NUMBER() OVER wseq AS rn
  FROM pairs
  WINDOW w60 AS (PARTITION BY stock_ticker ORDER BY stock_date
                 ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
         wseq AS (PARTITION BY stock_ticker ORDER BY stock_date))
SELECT stock_ticker, stock_date,
       (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS beta60
FROM wsum WHERE rn >= 60
"""),
    doc="ROLLING 60-bar beta vs the equal-weight market — the pairwise "
        "rolling-regression class (two series combine per date, then "
        "window sums per ticker): extends ref_ticker_beta's one-pass "
        "exact-int64 regression to a sliding frame. Same quantization "
        "discipline (round(r*1e4), every window sum < 2^53, identical "
        "scalar double math both engines); incomplete 60-bar frames "
        "drop; a zero-variance market window nulls (NULLIF, both "
        "engines). One date-key shuffle for the market join, one "
        "ticker shuffle shared by both windows",
    tags=("reference", "indicator", "window", "regression"),
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    wlag = Window.partitionBy("stock_ticker").orderBy("stock_date")
    rr = sp.select(
        "stock_ticker",
        "stock_date",
        (
            F.col("stock_close") / F.lag("stock_close").over(wlag) - 1
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    mkt = rr.groupBy("stock_date").agg(
        (
            F.sum(F.round(F.col("r") * 10000).cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("rm_q")
    )
    pairs = rr.join(mkt, "stock_date").select(
        "stock_ticker",
        "stock_date",
        F.round(F.col("r") * 10000).cast("bigint").alias("y"),
        F.round(F.col("rm_q")).cast("bigint").alias("x"),
    )
    w60 = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-59, 0)
    )
    wseq = Window.partitionBy("stock_ticker").orderBy("stock_date")
    ws = pairs.select(
        "stock_ticker",
        "stock_date",
        F.count(F.lit(1)).over(w60).alias("n"),
        F.sum("x").over(w60).cast("double").alias("sx"),
        F.sum("y").over(w60).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w60).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w60).cast("double").alias("sxx"),
        F.row_number().over(wseq).alias("rn"),
    ).filter(F.col("rn") >= 60)
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.when(
        denom != 0, denom
    )
    return ws.select("stock_ticker", "stock_date", beta.alias("beta60"))


@register(
    "ref_table_diff",
    with_reference_ctes("""
, old_snap AS (
  SELECT market_stockid,
         CASE WHEN market_exchange = 'NASDAQ'
              THEN market_companyname || ' (legacy)'
              ELSE market_companyname END AS market_companyname
  FROM markets WHERE market_stockid != 'AAPL'
  UNION ALL SELECT 'DLST', 'Delisted Holdings'),
new_snap AS (SELECT market_stockid, market_companyname FROM markets)
SELECT COALESCE(n.market_stockid, o.market_stockid) AS market_stockid,
       change_type
FROM old_snap o FULL OUTER JOIN new_snap n
  ON o.market_stockid = n.market_stockid
CROSS JOIN LATERAL (SELECT CASE
    WHEN o.market_stockid IS NULL THEN 'added'
    WHEN n.market_stockid IS NULL THEN 'removed'
    WHEN o.market_companyname IS DISTINCT FROM n.market_companyname
      THEN 'changed' END AS change_type)
WHERE change_type IS NOT NULL
"""),
    doc="snapshot diff report (operators/scd.table_diff) — the CDC "
        "primitive under every SCD policy: added / removed / changed "
        "per key, unchanged keys dropped. The comparison rides an MD5 "
        "of the compare columns so the full-outer join carries "
        "(key, hash) however wide the table is; null-safe on both the "
        "key and the attributes. Fixture: the scd1 stale snapshot "
        "(legacy NASDAQ names, AAPL missing, DLST extra) diffed "
        "against the fresh markets table — AAPL added, DLST removed, "
        "NASDAQ rows changed. The oracle classifies by direct "
        "attribute comparison (IS DISTINCT FROM), an independent "
        "formulation of the same semantics",
    tags=("reference", "cdc", "diff", "warehouse"),
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import table_diff

    mk = markets(spark, sf_dir)
    stale_name = F.when(
        F.col("market_exchange") == "NASDAQ",
        F.concat(F.col("market_companyname"), F.lit(" (legacy)")),
    ).otherwise(F.col("market_companyname"))
    old = (
        mk.filter(F.col("market_stockid") != "AAPL")
        .select("market_stockid", stale_name.alias("market_companyname"))
        .unionByName(
            spark.range(1).select(
                F.lit("DLST").alias("market_stockid"),
                F.lit("Delisted Holdings").alias("market_companyname"),
            )
        )
    )
    new = mk.select("market_stockid", "market_companyname")
    return table_diff(old, new, key="market_stockid",
                      compare=["market_companyname"])


@register(
    "ref_macd",
    with_reference_ctes("""
, b AS MATERIALIZED (
  SELECT stock_ticker, stock_date, stock_close,
         ROW_NUMBER() OVER (PARTITION BY stock_ticker
                            ORDER BY stock_date) AS rn
  FROM stock_prices),
m AS MATERIALIZED (
  SELECT e12.stock_ticker, e12.rn, e12.stock_date, e12.e - e26.e AS macd
  FROM (
    WITH RECURSIVE r(stock_ticker, rn, stock_date, e) AS (
      SELECT stock_ticker, rn, stock_date, stock_close FROM b WHERE rn = 1
      UNION ALL
      SELECT b.stock_ticker, b.rn, b.stock_date,
             (2.0 / 13.0) * b.stock_close + (1.0 - 2.0 / 13.0) * r.e
      FROM b JOIN r ON b.stock_ticker = r.stock_ticker AND b.rn = r.rn + 1)
    SELECT * FROM r) e12
  JOIN (
    WITH RECURSIVE r(stock_ticker, rn, stock_date, e) AS (
      SELECT stock_ticker, rn, stock_date, stock_close FROM b WHERE rn = 1
      UNION ALL
      SELECT b.stock_ticker, b.rn, b.stock_date,
             (2.0 / 27.0) * b.stock_close + (1.0 - 2.0 / 27.0) * r.e
      FROM b JOIN r ON b.stock_ticker = r.stock_ticker AND b.rn = r.rn + 1)
    SELECT * FROM r) e26
    ON e12.stock_ticker = e26.stock_ticker AND e12.rn = e26.rn)
SELECT stock_ticker, stock_date, macd, s AS signal, macd - s AS histogram
FROM (
  WITH RECURSIVE sr(stock_ticker, rn, stock_date, macd, s) AS (
    SELECT stock_ticker, rn, stock_date, macd, macd FROM m WHERE rn = 1
    UNION ALL
    SELECT m.stock_ticker, m.rn, m.stock_date, m.macd,
           (2.0 / 10.0) * m.macd + (1.0 - 2.0 / 10.0) * sr.s
    FROM m JOIN sr ON m.stock_ticker = sr.stock_ticker
                  AND m.rn = sr.rn + 1)
  SELECT * FROM sr)
"""),
    doc="MACD(12,26,9): COMPOSED ordered recurrences — two EMAs of the "
        "close, their difference, then an EMA of that derived series "
        "(the signal), histogram = macd - signal. Exercises the "
        "recurrence operator as a composable building block: the "
        "signal EMA consumes an engine-computed series, not a stored "
        "column. Every stage is the exact (mul, mul, add) float op "
        "order on both engines (ema() and the three recursive CTEs), "
        "so values match bit-for-bit with no rounding. Three key "
        "shuffles + two (ticker, date) joins — all on the same key, so "
        "AQE coalesces the exchange reuse. Oracle CTEs are MATERIALIZED "
        "— without the hint DuckDB re-evaluates the nested EMA "
        "recursions on every signal-recursion step (O(n^2) blowup)",
    tags=("reference", "indicator", "stateful", "applyInPandas"),
)
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import ema

    sp = stock_prices(spark, sf_dir)
    e12 = ema(
        sp, "stock_ticker", "stock_date", "stock_close", span=12,
        out_col="e12",
    ).select("stock_ticker", "stock_date", "e12")
    e26 = ema(
        sp, "stock_ticker", "stock_date", "stock_close", span=26,
        out_col="e26",
    ).select("stock_ticker", "stock_date", "e26")
    m = e12.join(e26, ["stock_ticker", "stock_date"]).select(
        "stock_ticker",
        "stock_date",
        (F.col("e12") - F.col("e26")).alias("macd"),
    )
    sig = ema(
        m, "stock_ticker", "stock_date", "macd", span=9, out_col="signal"
    ).select("stock_ticker", "stock_date", "signal")
    return m.join(sig, ["stock_ticker", "stock_date"]).select(
        "stock_ticker",
        "stock_date",
        "macd",
        "signal",
        (F.col("macd") - F.col("signal")).alias("histogram"),
    )


@register(
    "ref_stochastic_14",
    with_reference_ctes("""
, base AS (
  SELECT stock_ticker, stock_date,
         ROUND(100 * (stock_close - MIN(stock_low) OVER w14)
               / NULLIF(MAX(stock_high) OVER w14
                        - MIN(stock_low) OVER w14, 0), 6) AS pct_k,
         ROW_NUMBER() OVER wseq AS rn
  FROM stock_prices
  WINDOW w14 AS (PARTITION BY stock_ticker ORDER BY stock_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         wseq AS (PARTITION BY stock_ticker ORDER BY stock_date)),
k AS (SELECT * FROM base WHERE rn >= 14)
SELECT stock_ticker, stock_date, pct_k,
       CASE WHEN COUNT(*) OVER w3 >= 3
            THEN ROUND(AVG(pct_k) OVER w3, 6) END AS pct_d
FROM k
WINDOW w3 AS (PARTITION BY stock_ticker ORDER BY stock_date
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""),
    doc="14-bar stochastic oscillator (%K = position of the close in "
        "the 14-bar high-low range, %D = 3-bar SMA of %K) — the "
        "min/max-frame indicator class complementing the "
        "sum-frame (Bollinger) and recurrence (EMA/RSI) classes. "
        "MIN/MAX window picks are EXACT (no accumulation-order float "
        "hazard), so plain double arithmetic matches across engines; "
        "%K rounds to 6 before the %D average so both engines average "
        "identical inputs. Incomplete 14-bar frames drop (rn >= 14); "
        "%D nulls until 3 %K bars exist; a flat 14-bar range nulls %K "
        "(NULLIF guard). Both windows share one ticker shuffle.",
    tags=("reference", "indicator", "window"),
)
def q_stochastic_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w14 = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-13, 0)
    )
    wseq = Window.partitionBy("stock_ticker").orderBy("stock_date")
    rng = F.max("stock_high").over(w14) - F.min("stock_low").over(w14)
    pct_k = F.round(
        100
        * (F.col("stock_close") - F.min("stock_low").over(w14))
        / F.when(rng != 0, rng),
        6,
    )
    base = sp.select(
        "stock_ticker",
        "stock_date",
        pct_k.alias("pct_k"),
        F.row_number().over(wseq).alias("rn"),
    ).filter(F.col("rn") >= 14)
    w3 = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-2, 0)
    )
    pct_d = F.when(
        F.count(F.lit(1)).over(w3) >= 3, F.round(F.avg("pct_k").over(w3), 6)
    )
    return base.select(
        "stock_ticker", "stock_date", "pct_k", pct_d.alias("pct_d")
    )


@register(
    "ref_ema20_chunked",
    with_reference_ctes("""
, b AS (
  SELECT stock_ticker, stock_date, stock_close,
         ROW_NUMBER() OVER (PARTITION BY stock_ticker
                            ORDER BY stock_date) AS rn
  FROM stock_prices)
SELECT stock_ticker, stock_date, stock_close, ROUND(e, 4) AS ema
FROM (
  WITH RECURSIVE ema(stock_ticker, rn, stock_date, stock_close, e) AS (
    SELECT stock_ticker, rn, stock_date, stock_close, stock_close
    FROM b WHERE rn = 1
    UNION ALL
    SELECT b.stock_ticker, b.rn, b.stock_date, b.stock_close,
           (2.0 / 21.0) * b.stock_close + (1.0 - 2.0 / 21.0) * ema.e
    FROM b JOIN ema
      ON b.stock_ticker = ema.stock_ticker AND b.rn = ema.rn + 1)
  SELECT * FROM ema)
"""),
    doc="EMA-20 via the SEGMENTED-SCAN decomposition "
        "(operators/windows.ema_chunked) — the unbounded-key form of "
        "the ordered recurrence. Each key's series is chunked by "
        "row_number (one window shuffle); each chunk reduces to an "
        "affine map e_out = (1-a)^m·s + B; per key the maps fold in "
        "chunk order (one tiny row per CHUNK, so a billion-row key "
        "folds ~1000 summaries instead of hitting ema()'s one-task "
        "bound); seeds join back null-safely on the NATIVE key and "
        "each chunk finishes locally. chunk_rows=512 forces ~4 chunks "
        "per ticker at sf0.01, so the driver row exercises real chunk "
        "boundaries. Regrouped float arithmetic differs from the "
        "sequential loop in final ulps (pytest bounds it at 1e-12 "
        "relative), so both sides round to 4 decimals; ref_ema20 "
        "remains the op-order-exact full-precision row",
    tags=("reference", "indicator", "stateful", "segmented-scan"),
)
def q_ema20_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import ema_chunked

    sp = stock_prices(spark, sf_dir)
    out = ema_chunked(
        sp, "stock_ticker", "stock_date", "stock_close",
        span=20, chunk_rows=512,
    )
    return out.withColumn("ema", F.round("ema", 4))


@register(
    "ref_unpivot_ohlc",
    with_reference_ctes("""
SELECT stock_ticker, stock_date, field, value
FROM stock_prices
UNPIVOT (value FOR field IN
         (stock_open, stock_high, stock_low, stock_close))
"""),
    doc="wide→long reshape of the OHLC bars (`DataFrame.unpivot`, the "
        "melt operator): 4 price fields per bar become 4 rows — a "
        "zero-shuffle Expand stage fused with the scan, vs DuckDB's "
        "SQL-standard UNPIVOT. The long form feeds generic "
        "per-(field) analytics without per-column query variants.",
    tags=("reference", "reshape"),
)
def q_unpivot_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    return sp.unpivot(
        ids=["stock_ticker", "stock_date"],
        values=["stock_open", "stock_high", "stock_low", "stock_close"],
        variableColumnName="field",
        valueColumnName="value",
    )


@register(
    "ref_zscore_anomalies",
    with_reference_ctes("""
, win AS (
  SELECT stock_ticker, stock_date, stock_close,
         SUM(CAST(stock_close AS DECIMAL(18,6))) OVER w AS s1,
         SUM(CAST(stock_close * stock_close AS DECIMAL(28,10))) OVER w AS s2,
         COUNT(*) OVER w AS n
  FROM stock_prices
  WINDOW w AS (PARTITION BY stock_ticker ORDER BY stock_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
z AS (
  SELECT stock_ticker, stock_date, stock_close,
         CAST(s1 AS DOUBLE) / 20.0 AS mu,
         SQRT(GREATEST(
           (CAST(s2 AS DOUBLE) - 20.0 * (CAST(s1 AS DOUBLE) / 20.0)
                                      * (CAST(s1 AS DOUBLE) / 20.0)) / 19.0,
           0.0)) AS sd
  FROM win WHERE n = 20)
SELECT stock_ticker, stock_date, stock_close,
       ROUND(mu, 6) AS rolling_mean,
       ROUND((stock_close - mu) / sd, 4) AS zscore
FROM z
WHERE sd > 0 AND ABS((stock_close - mu) / sd) > 2.0
"""),
    doc="rolling 20-day z-score anomaly detection per ticker: exact "
        "decimal window sums (sum, sum-of-squares) feed a closed-form "
        "variance in plain double arithmetic, so both engines execute "
        "the identical IEEE op sequence and the |z|>2 cut lands on "
        "bit-identical values — no stddev_samp, whose parallel merge "
        "order is engine-specific. One shuffle on ticker; the frame "
        "is rows-based so partial windows are dropped by count, not "
        "by date arithmetic",
    tags=("reference", "window", "anomaly", "timeseries"),
)
def q_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = stock_prices(spark, sf_dir)
    w = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-19, 0)
    )
    c = F.col("stock_close").cast("decimal(18,6)")
    # square in DOUBLE then cast — the same IEEE product both engines
    # compute; squaring inside decimal overflows DuckDB's mul width
    c2 = (F.col("stock_close") * F.col("stock_close")).cast("decimal(28,10)")
    df = sp.select(
        "stock_ticker",
        "stock_date",
        "stock_close",
        F.sum(c).over(w).alias("s1"),
        F.sum(c2).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") == 20)
    mu = F.col("s1").cast("double") / F.lit(20.0)
    var = (
        F.col("s2").cast("double") - F.lit(20.0) * mu * mu
    ) / F.lit(19.0)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("stock_close") - mu) / sd
    return (
        df.withColumn("mu", mu)
        .withColumn("sd", sd)
        .filter((F.col("sd") > 0) & (F.abs((F.col("stock_close") - F.col("mu")) / F.col("sd")) > 2.0))
        .select(
            "stock_ticker",
            "stock_date",
            "stock_close",
            F.round("mu", 6).alias("rolling_mean"),
            F.round((F.col("stock_close") - F.col("mu")) / F.col("sd"), 4).alias(
                "zscore"
            ),
        )
    )


@register(
    "ref_snapshot_versions",
    """
WITH c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS all_rows,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F')
              AS BIGINT) AS f_rows,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority LIKE '1-%')
              AS BIGINT) AS p1_rows,
         CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000.0)
              AS BIGINT) AS big_rows
  FROM orders)
SELECT CAST(1 AS INT) AS version, TRUE AS committed,
       FALSE AS rolled_back, FALSE AS is_current, all_rows AS n_rows
FROM c
UNION ALL SELECT 2, TRUE, FALSE, FALSE, f_rows FROM c
UNION ALL SELECT 3, TRUE, TRUE, FALSE, p1_rows FROM c
UNION ALL SELECT 4, TRUE, FALSE, TRUE, big_rows FROM c
""",
    doc="versioned-release manifest (sources/snapshots.py): publishes "
        "four deterministic orders-derived snapshots into a fresh lake "
        "— full corpus (v1), status-F slice (v2), priority-1 slice "
        "(v3), then ROLLBACK to v2 (tombstoning v3) and a re-publish "
        "that must allocate a FRESH v4 (never reusing the tombstoned "
        "number) — and returns the manifest each state transition "
        "produces: (version, committed, rolled_back, is_current, "
        "n_rows), with n_rows read back through read_snapshot's "
        "pinned-version path so the oracle match proves the published "
        "bytes, not just the bookkeeping. The atomic-marker commit "
        "protocol (data first, _COMMITTED create LAST; rollback is a "
        "tombstone create, never a delete) is what makes each row's "
        "flags deterministic. First driver row for the round-10 "
        "release layer",
    tags=("reference", "release", "snapshots"),
)
def q_snapshot_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshots as snap
    from .scratch import scratch_dir

    root = scratch_dir("snaplake_")
    orders = load_table(spark, sf_dir, "orders")
    snap.publish_snapshot(orders, root)
    snap.publish_snapshot(orders.filter(F.col("o_orderstatus") == "F"), root)
    snap.publish_snapshot(
        orders.filter(F.col("o_orderpriority").startswith("1-")), root
    )
    snap.rollback(spark, root, 2)
    snap.publish_snapshot(
        orders.filter(F.col("o_totalprice") > 100000.0), root
    )
    parts = [
        snap.read_snapshot(spark, root, m["version"])
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit(m["version"]).alias("version"),
            F.lit(m["committed"]).alias("committed"),
            F.lit(m["rolled_back"]).alias("rolled_back"),
            F.lit(m["is_current"]).alias("is_current"),
            "n_rows",
        )
        for m in snap.snapshot_versions(spark, root)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "ref_var_historical",
    with_reference_ctes("""
SELECT stock_ticker, n_days, var95_ppm, cvar95_ppm
FROM (
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  r2 AS (SELECT * FROM rets WHERE ret_ppm IS NOT NULL),
  st AS (
    SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n_days,
           GREATEST(1, CAST(CEIL(COUNT(*) * 0.05) AS BIGINT)) AS k
    FROM r2 GROUP BY stock_ticker),
  rk AS (
    SELECT r2.*, ROW_NUMBER() OVER (
             PARTITION BY stock_ticker
             ORDER BY ret_ppm, stock_date) AS rn
    FROM r2)
  SELECT rk.stock_ticker, st.n_days,
         MAX(CASE WHEN rn = k THEN ret_ppm END) AS var95_ppm,
         CAST(SUM(ret_ppm) AS DOUBLE) / COUNT(*) AS cvar95_ppm
  FROM rk JOIN st USING (stock_ticker)
  WHERE rn <= k
  GROUP BY rk.stock_ticker, st.n_days)
"""),
    doc="per-ticker 95% historical value-at-risk + expected shortfall "
        "over the daily-return series (extends the "
        "ref_daily_returns/drawdown risk family; the reference computes "
        "none of these but its stock domain is exactly where they "
        "live). Returns quantize to integer parts-per-million "
        "(ROUND((close/lag - 1)*1e6)) so the 5th-percentile statistic "
        "is a DISCRETE order statistic — the k = max(1, ceil(0.05 n)) "
        "smallest return, picked by a deterministic (value, date) "
        "row_number, never an interpolated float percentile whose "
        "lower+(upper-lower)*f association differs across engines — "
        "and CVaR is the exact-integer SUM of the k tail returns over "
        "k (one double division at the end). Plan: one lag window, one "
        "per-ticker count agg broadcast back, one rank window over the "
        "same partitioning, map-side-combined tail aggregation — at "
        "100 TB everything partitions by ticker; no global sort, no "
        "float accumulation",
    tags=("reference", "risk", "window", "quantile"),
)
def q_var_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.var_cvar(risk.returns_ppm(stock_prices(spark, sf_dir)))


@register(
    "ref_sharpe_ratio",
    with_reference_ctes("""
SELECT stock_ticker, n_days,
       ROUND(mean_raw, 6) AS mean_ppm,
       ROUND(SQRT(var_raw), 6) AS vol_ppm,
       ROUND((mean_raw / SQRT(var_raw)) * SQRT(252.0), 6) AS sharpe_ann
FROM (
  WITH rets AS (
    SELECT stock_ticker,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  agg AS (
    SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ret_ppm) AS DOUBLE) AS s,
           CAST(SUM(ret_ppm * ret_ppm) AS DOUBLE) AS q
    FROM rets WHERE ret_ppm IS NOT NULL
    GROUP BY stock_ticker)
  SELECT stock_ticker, n_days,
         s / n_days AS mean_raw,
         (q - (s * s) / n_days) / (n_days - 1) AS var_raw
  FROM agg WHERE n_days >= 2)
WHERE var_raw > 0
"""),
    doc="annualized Sharpe ratio per ticker (mean/vol of daily returns "
        "x sqrt(252)) — the risk-adjusted-return head of the stock "
        "domain, beside ref_var_historical's tail risk. Float "
        "discipline: returns quantize to integer ppm, the sums S and "
        "SUM-of-squares Q are EXACT integers (|S| < 2^53, Q < 2^53 at "
        "any plausible ppm scale, so their doubles are exact), and "
        "mean/variance/Sharpe derive from (S, Q, n) in one pinned "
        "association — no parallel float accumulation exists for "
        "engines to disagree on; sqrt is IEEE correctly-rounded. ONE "
        "lag window + ONE map-side-combined aggregate",
    tags=("reference", "risk", "window"),
)
def q_sharpe_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.sharpe(risk.returns_ppm(stock_prices(spark, sf_dir)))


@register(
    "ref_up_streaks",
    with_reference_ctes("""
SELECT stock_ticker, streak_len, start_date, end_date
FROM (
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  rn AS (
    SELECT stock_ticker, stock_date, ret_ppm,
           ROW_NUMBER() OVER (PARTITION BY stock_ticker
                              ORDER BY stock_date) AS rn_all
    FROM rets WHERE ret_ppm IS NOT NULL),
  pos AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY stock_ticker
                                 ORDER BY stock_date) AS rn_pos
    FROM rn WHERE ret_ppm > 0),
  runs AS (
    SELECT stock_ticker, rn_all - rn_pos AS grp,
           CAST(COUNT(*) AS BIGINT) AS streak_len,
           MIN(stock_date) AS start_date, MAX(stock_date) AS end_date
    FROM pos GROUP BY stock_ticker, rn_all - rn_pos)
  SELECT stock_ticker, streak_len, start_date, end_date,
         ROW_NUMBER() OVER (PARTITION BY stock_ticker
                            ORDER BY streak_len DESC, start_date) AS pick
  FROM runs)
WHERE pick = 1
"""),
    doc="longest run of consecutive positive-return days per ticker — "
        "the gaps-and-islands idiom as a first-class engine shape "
        "(momentum streaks; the same plan answers outage runs, login "
        "streaks, sensor fault windows). Island key = rn_all - rn_pos "
        "(two same-partition windows, ONE shuffle — the second window "
        "reuses the first's partitioning), integer end-to-end; "
        "deterministic (len DESC, start ASC) pick of the winner",
    tags=("reference", "window", "islands"),
)
def q_up_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.longest_positive_streak(
        risk.returns_ppm(stock_prices(spark, sf_dir))
    )


@register(
    "ref_var_backtest",
    with_reference_ctes("""
SELECT stock_ticker, n_est, var_ppm, n_test, n_viol,
       (n_viol * 1000000) // n_test AS viol_ppm,
       CAST(50000 AS BIGINT) AS expected_ppm
FROM (
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  r2 AS (SELECT * FROM rets WHERE ret_ppm IS NOT NULL),
  est AS (SELECT * FROM r2 WHERE stock_date <= DATE '1995-06-30'),
  st AS (
    SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n_est,
           GREATEST(1, CAST(CEIL(COUNT(*) * 0.05) AS BIGINT)) AS k
    FROM est GROUP BY stock_ticker),
  rk AS (
    SELECT est.*, ROW_NUMBER() OVER (
             PARTITION BY stock_ticker
             ORDER BY ret_ppm, stock_date) AS rn
    FROM est),
  fitted AS (
    SELECT rk.stock_ticker, st.n_est,
           MAX(CASE WHEN rn = k THEN ret_ppm END) AS var_ppm
    FROM rk JOIN st USING (stock_ticker)
    WHERE rn <= k GROUP BY rk.stock_ticker, st.n_est)
  SELECT t.stock_ticker, f.n_est, f.var_ppm,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN t.ret_ppm < f.var_ppm THEN 1 ELSE 0 END)
              AS BIGINT) AS n_viol
  FROM r2 t JOIN fitted f USING (stock_ticker)
  WHERE t.stock_date > DATE '1995-06-30'
  GROUP BY t.stock_ticker, f.n_est, f.var_ppm)
"""),
    doc="out-of-sample VaR backtest (operators/risk.var_backtest) — "
        "the Kupiec unconditional-coverage loop that closes the risk "
        "family the way the confusion-matrix eval closed language-ID: "
        "95% VaR fitted on the pre-1995-07 half of each ticker's "
        "ppm-return series, exceedances counted strictly after, "
        "violation rate emitted as exact integral-division ppm beside "
        "the expected 50000 (the Kupiec LR itself is a driver scalar "
        "over these two integers — ln of count ratios stays OUT of "
        "the relation). Returns computed over the full series FIRST "
        "so the boundary return keeps its lag base; integer "
        "end-to-end; fitted VaR broadcast back over the test slice, "
        "one map-side-combined violation count",
    tags=("reference", "risk", "backtest"),
)
def q_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.var_backtest(stock_prices(spark, sf_dir), "1995-06-30")


@register(
    "ref_snapshot_diff",
    """
WITH cls AS (
  SELECT o_orderkey,
         o_orderstatus = 'F' AS in_v1,
         (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
          OR o_orderpriority LIKE '3-%') AS in_v2,
         o_orderpriority LIKE '1-%' AS mutated
  FROM orders)
SELECT o_orderkey,
       CASE WHEN NOT in_v1 THEN 'added'
            WHEN NOT in_v2 THEN 'removed'
            WHEN mutated THEN 'changed' END AS change_type
FROM cls
WHERE (in_v1 OR in_v2)
  AND NOT (in_v1 AND in_v2 AND NOT mutated)
""",
    doc="cross-VERSION change-data feed over the release layer: two "
        "snapshot versions publish into a fresh lake (v1 = status-F "
        "orders; v2 = priority-1/2/3 orders with urgent rows' "
        "totalprice bumped), both read back through read_snapshot's "
        "pinned-version path, then scd.table_diff classifies every "
        "key added / removed / changed — the 'what changed between "
        "corpus release v7 and v8' question a training-data consumer "
        "asks before re-training. The diff rides (key, md5) however "
        "wide the table is; the oracle classifies the same rows by "
        "direct predicate algebra (F∩urgent = changed, F∩(2,3) = "
        "unchanged and dropped, non-F 1-3 = added, F∩(4,5) = removed), "
        "so the match proves the published BYTES drive the diff. "
        "Composes the r11 snapshot manifest row with the r7 CDC "
        "primitive",
    tags=("reference", "release", "snapshots", "cdc"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import table_diff
    from ..sources import snapshots as snap
    from .scratch import scratch_dir

    root = scratch_dir("snapdiff_")
    orders = load_table(spark, sf_dir, "orders")
    snap.publish_snapshot(
        orders.filter(F.col("o_orderstatus") == "F"), root
    )
    v2 = orders.filter(
        F.col("o_orderpriority").startswith("1-")
        | F.col("o_orderpriority").startswith("2-")
        | F.col("o_orderpriority").startswith("3-")
    ).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority").startswith("1-"),
            F.col("o_totalprice") + F.lit(1.0),
        ).otherwise(F.col("o_totalprice")),
    )
    snap.publish_snapshot(v2, root)
    old = snap.read_snapshot(spark, root, 1)
    new = snap.read_snapshot(spark, root, 2)
    return table_diff(
        old, new, key="o_orderkey", compare=["o_totalprice"]
    )


@register(
    "ref_snapshot_vacuum",
    """
WITH c AS (
  SELECT CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F')
              AS BIGINT) AS f_rows,
         CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000.0)
              AS BIGINT) AS big_rows,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority LIKE '2-%')
              AS BIGINT) AS p2_rows
  FROM orders)
SELECT CAST(1 AS INT) AS version, 'vacuumed' AS state,
       CAST(NULL AS BIGINT) AS n_rows
FROM c
UNION ALL SELECT 2, 'live', f_rows FROM c
UNION ALL SELECT 3, 'vacuumed', NULL FROM c
UNION ALL SELECT 4, 'live', big_rows FROM c
UNION ALL SELECT 5, 'current', p2_rows FROM c
""",
    doc="snapshot vacuum + never-reuse allocator proof "
        "(sources/snapshots.vacuum — the last release-layer operation "
        "without a driver row): publishes the v1-v4 lake of "
        "ref_snapshot_versions (v3 tombstoned by rollback), vacuums "
        "with keep_last=2 — which must delete exactly v1 (history "
        "beyond the two live versions v2/v4) and v3 (tombstoned) and "
        "NEVER the current version — then publishes again and the "
        "allocator must mint a FRESH v5 (the _retired markers written "
        "before each delete keep vacuumed numbers burned even though "
        "their directories are gone). The manifest row per version "
        "('vacuumed' | 'live' | 'current', with n_rows re-read through "
        "read_snapshot for every surviving version) proves disk state, "
        "allocator floor, and bookkeeping in one relation",
    tags=("reference", "release", "snapshots", "vacuum"),
)
def q_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshots as snap
    from .scratch import scratch_dir

    root = scratch_dir("snapvac_")
    orders = load_table(spark, sf_dir, "orders")
    snap.publish_snapshot(orders, root)                                # v1
    snap.publish_snapshot(orders.filter(F.col("o_orderstatus") == "F"),
                          root)                                        # v2
    snap.publish_snapshot(
        orders.filter(F.col("o_orderpriority").startswith("1-")), root
    )                                                                  # v3
    snap.rollback(spark, root, 2)
    snap.publish_snapshot(
        orders.filter(F.col("o_totalprice") > 100000.0), root
    )                                                                  # v4
    removed = snap.vacuum(spark, root, keep_last=2)
    snap.publish_snapshot(
        orders.filter(F.col("o_orderpriority").startswith("2-")), root
    )                                                                  # v5
    manifest = snap.snapshot_versions(spark, root)
    parts = [
        spark.range(1).select(
            F.lit(v).cast("int").alias("version"),
            F.lit("vacuumed").alias("state"),
            F.lit(None).cast("bigint").alias("n_rows"),
        )
        for v in removed
    ] + [
        snap.read_snapshot(spark, root, m["version"])
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit(m["version"]).cast("int").alias("version"),
            F.lit("current" if m["is_current"] else "live").alias("state"),
            "n_rows",
        )
        for m in manifest
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "ref_autocorr_lag1",
    with_reference_ctes("""
SELECT stock_ticker, n_pairs, autocorr
FROM (
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  r2 AS (SELECT * FROM rets WHERE ret_ppm IS NOT NULL),
  p AS (
    SELECT stock_ticker, ret_ppm AS x,
           LEAD(ret_ppm) OVER (PARTITION BY stock_ticker
                               ORDER BY stock_date) AS y
    FROM r2),
  p2 AS (SELECT * FROM p WHERE y IS NOT NULL),
  m AS (
    SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM p2 GROUP BY stock_ticker)
  SELECT stock_ticker, n AS n_pairs,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS autocorr
  FROM m
  WHERE n >= 2
    AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
    AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0)
"""),
    doc="lag-1 autocorrelation of each ticker's daily ppm-return "
        "series (operators/risk.autocorr_lag1) — the momentum / "
        "mean-reversion diagnostic that closes the serial-dependence "
        "question beside the streak analytics. One lead window over "
        "the entity partitioning, all six moments exact integer sums "
        "of ppm values, the Pearson formula in ONE pinned double "
        "association emitted UNROUNDED (bit-identical cross-engine — "
        "the ref_ticker_correlation discipline with integer moments); "
        "zero-variance sides filtered (engine-divergent NULL)",
    tags=("reference", "risk", "window", "statistics"),
)
def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.autocorr_lag1(risk.returns_ppm(stock_prices(spark, sf_dir)))


@register(
    "ref_variance_ratio",
    with_reference_ctes("""
SELECT stock_ticker, n_obs, n_q, vr
FROM (
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  r2 AS (SELECT * FROM rets WHERE ret_ppm IS NOT NULL),
  b AS (
    SELECT stock_ticker, ret_ppm AS x,
           SUM(ret_ppm) OVER (PARTITION BY stock_ticker
                              ORDER BY stock_date
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
                             ) AS yq,
           ROW_NUMBER() OVER (PARTITION BY stock_ticker
                              ORDER BY stock_date) AS rn
    FROM r2),
  m1 AS (
    SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM b GROUP BY stock_ticker),
  mq AS (
    SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS nq,
           CAST(SUM(yq) AS BIGINT) AS sy,
           CAST(SUM(yq * yq) AS BIGINT) AS syy
    FROM b WHERE rn >= 5 GROUP BY stock_ticker)
  SELECT m1.stock_ticker, n AS n_obs, nq AS n_q,
         ((cast(nq as double) * syy - cast(sy as double) * sy)
          * cast(n as double) * n)
         / ((cast(n as double) * sxx - cast(sx as double) * sx)
            * cast(nq as double) * nq * 5) AS vr
  FROM m1 JOIN mq ON m1.stock_ticker = mq.stock_ticker
  WHERE nq >= 2
    AND cast(n as double) * sxx - cast(sx as double) * sx > 0)
"""),
    doc="variance-ratio white-noise test per ticker, horizon q=5 "
        "(operators/risk.variance_ratio, Lo-MacKinlay 1988 shape): "
        "Var(overlapping 5-day aggregated ppm returns) / (5 · Var(1-"
        "day)) — VR ≈ 1 under a random walk, > 1 momentum, < 1 mean "
        "reversion; the horizon generalization of ref_autocorr_lag1. "
        "Defined on partial SUMS of simple ppm returns (exactly "
        "additive — the log-return refinement would put a libm ln on "
        "every row, the cross-engine flake class). One rolling window "
        "+ one rank window on the entity partitioning, five exact "
        "BIGINT moments, VR emitted UNROUNDED from one pinned double "
        "association shared verbatim with the oracle",
    tags=("reference", "risk", "window", "statistics"),
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.variance_ratio(
        risk.returns_ppm(stock_prices(spark, sf_dir)), q=5
    )


@register(
    "ref_theil_sen_slope",
    with_reference_ctes("""
SELECT stock_ticker, n_pairs, slope_micro
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  pairs AS (
    SELECT a.e, a.d AS di, b.d AS dj, b.vc - a.vc AS dvc,
           CAST(date_diff('day', a.d, b.d) AS BIGINT) AS dd,
           CAST(b.vc - a.vc AS DOUBLE)
             / CAST(date_diff('day', a.d, b.d) AS BIGINT) AS slope
    FROM base a JOIN base b ON a.e = b.e AND a.d < b.d),
  ranked AS (
    SELECT e, dvc, dd,
           ROW_NUMBER() OVER (PARTITION BY e
                              ORDER BY slope, di, dj) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY e) AS BIGINT) AS m
    FROM pairs)
  SELECT e AS stock_ticker, m AS n_pairs,
         CAST((CAST(dvc AS HUGEINT) * 10000) // dd AS BIGINT)
           AS slope_micro
  FROM ranked WHERE rn = (m + 1) // 2)
"""),
    doc="Theil-Sen robust trend per ticker (operators/risk."
        "theil_sen_slope): the MEDIAN pairwise slope over all day "
        "pairs, in exact micro-dollars/day — the trend line one bad "
        "tick cannot drag (OLS breaks at a single outlier; Theil-Sen "
        "tolerates 29% corruption). Pair slopes compare as one IEEE "
        "division of cent-delta over integer day gap (bit-equal both "
        "engines), the median is the DISCRETE lower-median order "
        "statistic with a (slope, date, date) total order (the VaR "
        "quantile rule), and the selected pair's slope is emitted by "
        "integral division of its own integers (toward-zero in both "
        "engines, negative-safe). The pair join is O(n²/2) per entity "
        "BY DEFINITION — guarded by risk.MAX_THEIL_SEN_OBS, which "
        "raises with the named alternative instead of silently "
        "running quadratic",
    tags=("reference", "risk", "statistics", "robust"),
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.theil_sen_slope(stock_prices(spark, sf_dir))


@register(
    "ref_mann_kendall",
    with_reference_ctes("""
SELECT stock_ticker, n_obs, s_stat, tau_a_ppm
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  m AS (
    SELECT a.e,
           CAST(SUM(CASE WHEN b.vc > a.vc THEN 1
                         WHEN b.vc < a.vc THEN -1 ELSE 0 END) AS BIGINT)
             AS s_stat,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM base a JOIN base b ON a.e = b.e AND a.d < b.d
    GROUP BY a.e),
  cnt AS (SELECT e, CAST(COUNT(*) AS BIGINT) AS n_obs
          FROM base GROUP BY e)
  SELECT m.e AS stock_ticker, cnt.n_obs, m.s_stat,
         CAST((CAST(m.s_stat AS HUGEINT) * 1000000)
              // CAST(m.n_pairs AS HUGEINT) AS BIGINT) AS tau_a_ppm
  FROM m JOIN cnt ON m.e = cnt.e)
"""),
    doc="Mann-Kendall monotone-trend test per ticker (operators/risk."
        "mann_kendall): S = Σ sign(v_j − v_i) over all day pairs, with "
        "Kendall's tau-a = S/C(n,2) in exact signed ppm — the "
        "SIGNIFICANCE companion to ref_theil_sen_slope (whether a "
        "monotone trend exists vs how steep it is; the classic "
        "robust-trend reporting pair). Strictly integer: signs compare "
        "cent-quantized BIGINTs (no IEEE division anywhere, tighter "
        "than theil_sen), S and pair counts are exact sums, tau via "
        "integral division (toward-zero in both engines, downtrend-"
        "safe — verified: DuckDB HUGEINT // truncates toward zero). "
        "Shares theil_sen's capped equi-self-join pair generator "
        "(risk.MAX_THEIL_SEN_OBS raises with the named alternative); "
        "the reduction is one map-side-combined aggregate, no window, "
        "no sort",
    tags=("reference", "risk", "statistics", "robust"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.mann_kendall(stock_prices(spark, sf_dir))


@register(
    "ref_theil_sen_eval",
    with_reference_ctes("""
SELECT stock_ticker, n_obs, n_spiked, slope_ts_micro, slope_ols_micro,
       slope_clean_micro, robust_wins
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  cont AS (
    SELECT e, d,
           CASE WHEN spiked THEN vc * 10 ELSE vc END AS vc,
           CASE WHEN spiked THEN 1 ELSE 0 END AS sp
    FROM (SELECT e, d, vc,
                 ('0x' || substr(md5(e || '|' || CAST(d AS VARCHAR)),
                                 1, 8))::BIGINT * 1000
                   < 100 * (1::BIGINT << 32) AS spiked
          FROM base)),
  counts AS (
    SELECT e, CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(sp) AS BIGINT) AS n_spiked
    FROM cont GROUP BY e),
  pairs AS (
    SELECT a.e, a.d AS di, b.d AS dj, b.vc - a.vc AS dvc,
           CAST(date_diff('day', a.d, b.d) AS BIGINT) AS dd,
           CAST(b.vc - a.vc AS DOUBLE)
             / CAST(date_diff('day', a.d, b.d) AS BIGINT) AS slope
    FROM cont a JOIN cont b ON a.e = b.e AND a.d < b.d),
  ranked AS (
    SELECT e, dvc, dd,
           ROW_NUMBER() OVER (PARTITION BY e
                              ORDER BY slope, di, dj) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY e) AS BIGINT) AS m
    FROM pairs),
  ts AS (
    SELECT e, CAST((CAST(dvc AS HUGEINT) * 10000) // dd AS BIGINT)
                AS slope_ts_micro
    FROM ranked WHERE rn = (m + 1) // 2),
  cx AS (
    SELECT e, vc AS y,
           CAST(date_diff('day', MIN(d) OVER (PARTITION BY e), d)
                AS BIGINT) AS x
    FROM cont),
  ols_cont AS (
    SELECT e,
           CAST(((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
                  - SUM(CAST(x AS HUGEINT)) * SUM(CAST(y AS HUGEINT)))
                 * 10000)
                // (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
                    - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)))
                AS BIGINT) AS slope_ols_micro
    FROM cx GROUP BY e
    HAVING COUNT(*) >= 2
       AND CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
           - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)) > 0),
  bx AS (
    SELECT e, vc AS y,
           CAST(date_diff('day', MIN(d) OVER (PARTITION BY e), d)
                AS BIGINT) AS x
    FROM base),
  ols_clean AS (
    SELECT e,
           CAST(((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
                  - SUM(CAST(x AS HUGEINT)) * SUM(CAST(y AS HUGEINT)))
                 * 10000)
                // (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
                    - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)))
                AS BIGINT) AS slope_clean_micro
    FROM bx GROUP BY e
    HAVING COUNT(*) >= 2
       AND CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
           - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)) > 0)
  SELECT counts.e AS stock_ticker, counts.n_obs, counts.n_spiked,
         ts.slope_ts_micro, ols_cont.slope_ols_micro,
         ols_clean.slope_clean_micro,
         ABS(ts.slope_ts_micro - ols_clean.slope_clean_micro)
           < ABS(ols_cont.slope_ols_micro - ols_clean.slope_clean_micro)
           AS robust_wins
  FROM counts
  JOIN ts ON counts.e = ts.e
  JOIN ols_cont ON counts.e = ols_cont.e
  JOIN ols_clean ON counts.e = ols_clean.e)
"""),
    doc="the EVAL LOOP on the robust-trend family (operators/risk."
        "theil_sen_eval — the var_backtest pattern applied to "
        "estimators): deterministically spike ~10% of each ticker's "
        "ticks (md5-uniform (ticker, date) hash ×10 on the cents — "
        "reproducible, engine-identical, no RNG), fit Theil-Sen AND "
        "exact-moment OLS on the contaminated series, and exact-moment "
        "OLS on the clean series as truth; robust_wins measures — not "
        "asserts — whether |TS − clean| < |OLS − clean|, i.e. whether "
        "the 29%-breakdown robustness claim that justifies the O(n²/2) "
        "estimator holds on THIS corpus. All three slopes are exact "
        "integer micro-dollars/day (theil_sen's discrete lower-median "
        "rule; OLS via integral division of DECIMAL(38,0) integer "
        "moments), the contamination flag is the split_assignment "
        "pure-integer md5 band compare. Same capped pair join; the OLS "
        "legs are map-side-combined moment aggregates",
    tags=("reference", "risk", "statistics", "robust", "eval"),
)
def q_theil_sen_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.theil_sen_eval(stock_prices(spark, sf_dir))


@register(
    "ref_ols_trend",
    with_reference_ctes("""
SELECT stock_ticker, n_obs, slope_micro
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  bx AS (
    SELECT e, vc AS y,
           CAST(date_diff('day', MIN(d) OVER (PARTITION BY e), d)
                AS BIGINT) AS x
    FROM base)
  SELECT e AS stock_ticker, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
                - SUM(CAST(x AS HUGEINT)) * SUM(CAST(y AS HUGEINT)))
               * 10000)
              // (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
                  - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)))
              AS BIGINT) AS slope_micro
  FROM bx GROUP BY e
  HAVING COUNT(*) >= 2
     AND CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
         - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)) > 0)
"""),
    doc="exact-moment OLS trend per ticker (operators/risk.ols_trend) "
        "— the NON-robust baseline the robust-trend family is measured "
        "against (ref_theil_sen_eval fits it on clean and contaminated "
        "series; this is the standalone form). slope = "
        "(nΣxy − ΣxΣy)/(nΣxx − (Σx)²) in exact integer micro-dollars/"
        "day by integral division of DECIMAL(38,0) integer moments over "
        "the cent-quantized projection — no doubles, no libm, engine-"
        "identical truncation. Entities with <2 observations or "
        "degenerate x-variance excluded, mirroring the theil_sen/"
        "variance_ratio guards. Scale: linear — one scan, one map-side-"
        "combined five-moment groupBy; no window in the moment pass, no "
        "join beyond the tiny n_obs attach, never a pair space (the "
        "O(n²/2) estimators cap; this one never needs to)",
    tags=("reference", "risk", "statistics"),
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.ols_trend(stock_prices(spark, sf_dir))


@register(
    "ref_seasonal_mann_kendall",
    with_reference_ctes("""
SELECT stock_ticker, n_obs, s_stat, tau_a_ppm
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(month(stock_date) AS INT) AS season,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  m AS (
    SELECT a.e,
           CAST(SUM(CASE WHEN b.vc > a.vc THEN 1
                         WHEN b.vc < a.vc THEN -1 ELSE 0 END) AS BIGINT)
             AS s_stat,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM base a JOIN base b
      ON a.e = b.e AND a.season = b.season AND a.d < b.d
    GROUP BY a.e),
  cnt AS (SELECT e, CAST(COUNT(*) AS BIGINT) AS n_obs
          FROM base GROUP BY e)
  SELECT m.e AS stock_ticker, cnt.n_obs, m.s_stat,
         CAST((CAST(m.s_stat AS HUGEINT) * 1000000)
              // CAST(m.n_pairs AS HUGEINT) AS BIGINT) AS tau_a_ppm
  FROM m JOIN cnt ON m.e = cnt.e)
"""),
    doc="seasonal (Hirsch-Slack 1984) Mann-Kendall per ticker "
        "(operators/risk.seasonal_mann_kendall) — the trend test for "
        "series with a periodic cycle: pairs compare ONLY within the "
        "same month-of-year season, so January never votes against July "
        "and a pure seasonal swing contributes exactly zero to S. "
        "S = Σ_m S_m over the twelve monthly sub-series, tau_a = "
        "S / Σ_m C(n_m,2) in exact signed ppm. Same integer discipline "
        "as ref_mann_kendall (cent-BIGINT sign compares, integral-"
        "division tau, toward-zero both engines). The season key rides "
        "INSIDE the equi-join — the pair space shrinks from C(n,2) to "
        "Σ_m C(n_m,2) ≈ n²/24, and the MAX_THEIL_SEN_OBS cap guards "
        "the largest (entity, season) sub-series, not the whole series",
    tags=("reference", "risk", "statistics", "robust"),
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.seasonal_mann_kendall(stock_prices(spark, sf_dir))


@register(
    "ref_runs_test",
    with_reference_ctes("""
SELECT stock_ticker, n_up, n_down, n_runs, runs_excess_ppm
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  dif AS (
    SELECT e, d, vc - LAG(vc) OVER (PARTITION BY e ORDER BY d) AS dvc
    FROM base),
  sgn AS (
    SELECT e, d, CASE WHEN dvc > 0 THEN 1 ELSE -1 END AS s
    FROM dif WHERE dvc IS NOT NULL AND dvc <> 0),
  chg AS (
    SELECT e, s,
           CASE WHEN LAG(s) OVER (PARTITION BY e ORDER BY d) IS NULL
                  OR LAG(s) OVER (PARTITION BY e ORDER BY d) = s
                THEN 0 ELSE 1 END AS c
    FROM sgn),
  agg AS (
    SELECT e,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
           CAST(SUM(c) + 1 AS BIGINT) AS n_runs
    FROM chg GROUP BY e)
  SELECT e AS stock_ticker, n_up, n_down, n_runs,
         CAST(((CAST(n_runs AS HUGEINT) * (n_up + n_down)
                - (n_up + n_down)
                - 2 * CAST(n_up AS HUGEINT) * n_down) * 1000000)
              // ((n_up + n_down) + 2 * CAST(n_up AS HUGEINT) * n_down)
              AS BIGINT) AS runs_excess_ppm
  FROM agg WHERE n_up > 0 AND n_down > 0)
"""),
    doc="Wald-Wolfowitz up/down runs test per ticker "
        "(operators/risk.runs_test) — the RANDOMNESS companion to the "
        "trend family: mann_kendall asks 'is there a monotone trend', "
        "this asks 'is the sign sequence random at all'. Ties dropped "
        "per the classical test; runs = 1 + sign-changes over the "
        "tie-free sequence; excess vs the exact null E[R] = "
        "1 + 2·n_up·n_down/n emitted as pure integer ppm by integral "
        "division (toward-zero both engines) — negative = momentum "
        "(too few runs), positive = mean-reversion. Integer end to "
        "end on the cent-quantized series. Scale: two per-entity "
        "window sorts (diff lag + run-boundary lag), one map-side-"
        "combined aggregate — no pair space, no collect, linear in "
        "rows like ref_ols_trend",
    tags=("reference", "risk", "statistics"),
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.runs_test(stock_prices(spark, sf_dir))


@register(
    "ref_turning_points",
    with_reference_ctes("""
SELECT stock_ticker, n_obs, n_turning, turning_excess_ppm
FROM (
  WITH base AS (
    SELECT stock_ticker AS e, stock_date AS d,
           CAST(ROUND(stock_close * 100) AS BIGINT) AS vc
    FROM stock_prices
    WHERE stock_close IS NOT NULL AND stock_date IS NOT NULL),
  mk AS (
    SELECT e,
           CASE WHEN (vc > LAG(vc) OVER w AND vc > LEAD(vc) OVER w)
                  OR (vc < LAG(vc) OVER w AND vc < LEAD(vc) OVER w)
                THEN 1 ELSE 0 END AS tp
    FROM base WINDOW w AS (PARTITION BY e ORDER BY d)),
  agg AS (
    SELECT e, CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(tp) AS BIGINT) AS n_turning
    FROM mk GROUP BY e)
  SELECT e AS stock_ticker, n_obs, n_turning,
         CAST(((3 * CAST(n_turning AS HUGEINT) - 2 * (n_obs - 2))
               * 1000000)
              // (2 * (n_obs - 2)) AS BIGINT) AS turning_excess_ppm
  FROM agg WHERE n_obs >= 3)
"""),
    doc="turning-points randomness test per ticker "
        "(operators/risk.turning_points) — the CHEAP screen next to "
        "ref_runs_test: count strict local extrema in the date-ordered "
        "cent series vs the exact i.i.d. null expectation 2(n−2)/3, "
        "excess as pure integer ppm by integral division — negative = "
        "smooth/trending, positive = oscillating. Ties break "
        "strictness and don't count (classical treatment). Scale: ONE "
        "per-entity window sort (lag+lead in the same frame, no "
        "tie-free re-sequencing), one aggregate — the lightest member "
        "of the randomness family",
    tags=("reference", "risk", "statistics"),
)
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.turning_points(stock_prices(spark, sf_dir))


# Shared oracle CTE chain for the ACF family (ref_acf consumes the acf
# relation directly; ref_ljung_box reduces it): pair-Pearson of
# (ret_t, ret_{t+k}) per (ticker, lag k), k = 1..10, quantized once to
# signed ppm — autocorr_lag1's estimator resolved per horizon.
_ACF_CORE_SQL = """
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  r2 AS (
    SELECT stock_ticker, ret_ppm,
           ROW_NUMBER() OVER (PARTITION BY stock_ticker
                              ORDER BY stock_date) AS rn
    FROM rets WHERE ret_ppm IS NOT NULL),
  lags AS (SELECT unnest(generate_series(1, 10)) AS lag),
  p AS (
    SELECT a.stock_ticker, k.lag, a.ret_ppm AS x, b.ret_ppm AS y
    FROM r2 a CROSS JOIN lags k
    JOIN r2 b ON b.stock_ticker = a.stock_ticker
             AND b.rn = a.rn + k.lag),
  m AS (
    SELECT stock_ticker, lag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM p GROUP BY stock_ticker, lag),
  acf AS (
    SELECT stock_ticker, CAST(lag AS INT) AS lag, n AS n_pairs,
           CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy))
                 * 1000000 + 0.5) AS BIGINT) AS rho_ppm
    FROM m
    WHERE n >= 2
      AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
      AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0)"""


@register(
    "ref_acf",
    with_reference_ctes(f"""
SELECT stock_ticker, lag, n_pairs, rho_ppm
FROM ({_ACF_CORE_SQL}
  SELECT * FROM acf)
"""),
    doc="autocorrelation function at lags 1..10 per ticker "
        "(operators/risk.acf_ppm) — ref_autocorr_lag1's pair-Pearson "
        "estimator of (ret_t, ret_{t+k}) resolved PER HORIZON: lag-1 "
        "asks 'is there serial dependence tomorrow', the ACF asks at "
        "WHICH horizon it lives (weekly seasonality at k=5, slow mean "
        "reversion as a long negative tail — the shape "
        "ref_variance_ratio integrates, here resolved per lag). All "
        "ten lead columns come from ONE window pass over the entity "
        "partitioning (one sort, not K), stacked JVM-side to "
        "(entity, lag, x, y) and reduced by one map-side-combined "
        "six-moment aggregate; rho quantized ONCE to signed ppm with "
        "the mode-stable floor(x*1e6 + 0.5) on a bit-identical double "
        "so the ref_ljung_box lag reduction downstream is an exact "
        "order-free integer sum. Degenerate (entity, lag) cells "
        "(under 2 pairs, zero-variance side) drop as in "
        "ref_autocorr_lag1. Scale: linear — no pair space (the lag "
        "stack is x10 rows, not O(n^2)), no self-join, no collect",
    tags=("reference", "risk", "window", "statistics"),
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.acf_ppm(risk.returns_ppm(stock_prices(spark, sf_dir)))


@register(
    "ref_ljung_box",
    with_reference_ctes(f"""
SELECT stock_ticker, n_obs, n_lags, q_micro
FROM ({_ACF_CORE_SQL},
  cnt AS (SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n_obs
          FROM r2 GROUP BY stock_ticker),
  qc AS (
    SELECT acf.stock_ticker, cnt.n_obs,
           (CAST(rho_ppm AS HUGEINT) * rho_ppm) // (cnt.n_obs - acf.lag)
             AS qc
    FROM acf JOIN cnt ON acf.stock_ticker = cnt.stock_ticker)
  SELECT stock_ticker, n_obs, CAST(COUNT(*) AS BIGINT) AS n_lags,
         CAST((CAST(n_obs AS HUGEINT) * (n_obs + 2) * SUM(qc)) // 1000000
              AS BIGINT) AS q_micro
  FROM qc GROUP BY stock_ticker, n_obs)
"""),
    doc="Ljung-Box portmanteau white-noise gate per ticker "
        "(operators/risk.ljung_box) — Q = n(n+2)*SUM_k rho_k^2/(n-k) "
        "over the quantized ACF: the single 'is this series white "
        "noise AT ALL' verdict in front of the per-lag ref_acf (the "
        "kruskal_wallis-to-mann_whitney relationship applied to serial "
        "dependence). Large Q rejects i.i.d. — exactly the assumption "
        "the VaR/Sharpe estimators lean on; this is their admission "
        "test. Integer end to end FROM the ppm ACF: per lag "
        "rho_ppm^2 div (n-k) is an exact integral division, the lag "
        "reduction an exact int64 sum (order-free — the reason "
        "acf_ppm quantizes), q_micro = (n*(n+2)*SUM) div 1e6 via one "
        "DECIMAL(38,0) product (n^2*SUM can cross the long boundary). "
        "rho is the pair-Pearson ACF, so this is the Ljung-Box form "
        "OVER THAT ESTIMATOR — the exact recurrence pinned, not "
        "'approximately the textbook'. Lags that dropped in acf_ppm "
        "are absent from the sum; n_lags records how many "
        "contributed. The per-entity n_obs attach is deliberately "
        "unhinted: AQE broadcasts it when it fits (entity universe "
        "can be 1e8 at corpus scale — the basket_pairs support-join "
        "rule)",
    tags=("reference", "risk", "statistics"),
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.ljung_box(risk.returns_ppm(stock_prices(spark, sf_dir)))


@register(
    "ref_underwater_duration",
    with_reference_ctes("""
SELECT stock_ticker, underwater_days, start_date, end_date
FROM (
  WITH f AS (
    SELECT stock_ticker, stock_date,
           stock_close < MAX(stock_close) OVER (
             PARTITION BY stock_ticker ORDER BY stock_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS under,
           ROW_NUMBER() OVER (PARTITION BY stock_ticker
                              ORDER BY stock_date) AS rn_all
    FROM stock_prices),
  u AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY stock_ticker
                                 ORDER BY stock_date) AS rn_u
    FROM f WHERE under),
  runs AS (
    SELECT stock_ticker, rn_all - rn_u AS grp,
           CAST(COUNT(*) AS BIGINT) AS underwater_days,
           MIN(stock_date) AS start_date, MAX(stock_date) AS end_date
    FROM u GROUP BY stock_ticker, rn_all - rn_u)
  SELECT stock_ticker, underwater_days, start_date, end_date,
         ROW_NUMBER() OVER (PARTITION BY stock_ticker
                            ORDER BY underwater_days DESC, start_date)
           AS pick
  FROM runs)
WHERE pick = 1
"""),
    doc="longest underwater spell per ticker "
        "(operators/risk.underwater_duration): the maximum run of "
        "consecutive closes strictly below the running peak — drawdown "
        "DURATION, the time dimension ref_drawdown's depth number "
        "does not carry. One running-max window flags below-peak days, "
        "then the gaps-and-islands skeleton of ref_up_streaks (island "
        "key = rn_all - rn_under, two windows on ONE entity "
        "partitioning / one shuffle), winner by (len DESC, start ASC); "
        "comparisons on identical doubles, counting integer",
    tags=("reference", "risk", "window", "islands"),
)
def q_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.underwater_duration(stock_prices(spark, sf_dir))


@register(
    "ref_cusum_alarms",
    with_reference_ctes("""
SELECT stock_ticker, n_days, max_cusum_ppm, max_date, first_alarm_date
FROM (
  WITH rets AS (
    SELECT stock_ticker, stock_date,
           CAST(ROUND((stock_close / LAG(stock_close) OVER (
                         PARTITION BY stock_ticker ORDER BY stock_date)
                       - 1) * 1e6) AS BIGINT) AS ret_ppm
    FROM stock_prices),
  r2 AS (SELECT * FROM rets WHERE ret_ppm IS NOT NULL),
  p AS (
    SELECT stock_ticker, stock_date,
           CAST(SUM(ret_ppm - 500) OVER (
             PARTITION BY stock_ticker ORDER BY stock_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS pf
    FROM r2),
  s AS (
    SELECT stock_ticker, stock_date,
           pf - LEAST(CAST(0 AS BIGINT), CAST(MIN(pf) OVER (
             PARTITION BY stock_ticker ORDER BY stock_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT)) AS cusum
    FROM p),
  s2 AS (
    SELECT *, MAX(cusum) OVER (PARTITION BY stock_ticker) AS smax
    FROM s)
  SELECT stock_ticker, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(MAX(cusum) AS BIGINT) AS max_cusum_ppm,
         MIN(CASE WHEN cusum = smax THEN stock_date END) AS max_date,
         MIN(CASE WHEN cusum > 50000 THEN stock_date END)
           AS first_alarm_date
  FROM s2 GROUP BY stock_ticker)
"""),
    doc="one-sided CUSUM drift alarms per ticker "
        "(operators/risk.cusum_alarms, Page 1954): sequential "
        "evidence of a sustained upward return shift, allowance "
        "k=500 ppm/step, alarm threshold h=50000 ppm — the "
        "mid-SEQUENCE monitoring companion to the batch "
        "distributional monitors (KS/PSI). The 'inherently "
        "sequential' recurrence S_t = max(0, S_{t-1} + x_t - k) is "
        "computed as the exact window identity S_t = P_t - min(0, "
        "running-min P) — two cumulative windows on ONE entity "
        "partitioning, no recursion, no UDF; integer ppm end to end "
        "so the oracle matches bit-for-bit",
    tags=("reference", "risk", "window", "monitoring"),
)
def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import risk

    return risk.cusum_alarms(risk.returns_ppm(stock_prices(spark, sf_dir)))
