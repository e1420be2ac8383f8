"""Warehouse surface — the reference's DB_manager re-expressed on the
Spark catalog (SURVEY.md §2.3 D1-D5, §2.2 K3/K5, §2.5 J1/J2).

The reference manages a Postgres warehouse: two schemas (``stage``,
``datawarehouse``), typed DDL, truncate-and-reload stage loads, and
SCD-0 inserts (``DB_manager.py:39-179``). Spark's catalog + managed
parquet tables express the same surface without the stage *network* hop
— the stage keeps its role as the validated landing zone, but the load
is a metadata-cheap INSERT OVERWRITE, and the warehouse commit is the
same left-anti append the reference runs in SQL.

At scale: managed tables here are plain parquet; a production
deployment swaps in a transactional format for concurrent writers —
the API is format-agnostic on purpose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import fmt_ddmmyyyy
from ..schemas import MARKETS, STOCK_PRICES
from .scd import new_rows

STAGE = "stage"
WAREHOUSE = "datawarehouse"

# table name → (StructType, SCD-0 key) — DDL parity with
# DB_manager.py:43-86.
_TABLES = {
    "stock_prices": (STOCK_PRICES, "stock_key"),
    "markets": (MARKETS, "market_stockid"),
}


def _ddl(schema) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def create_tables(spark: SparkSession, stage: str = STAGE,
                  warehouse: str = WAREHOUSE) -> None:
    """D1: CREATE SCHEMA / CREATE TABLE IF NOT EXISTS
    (``createTables`` DB_manager.py:39-90): 2 databases x 2 tables,
    explicit types. Spark has no engine PKs — key uniqueness is the
    SCD-0 invariant, asserted in tests."""
    for db in (stage, warehouse):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    for table, (schema, _) in _TABLES.items():
        for db in (stage, warehouse):
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{db}`.`{table}` "
                f"({_ddl(schema)}) USING PARQUET"
            )


def truncate_table(spark: SparkSession, db: str, table: str) -> None:
    """D2 (``truncate_table`` DB_manager.py:93-95)."""
    spark.sql(f"TRUNCATE TABLE `{db}`.`{table}`")


def delete_schemas(spark: SparkSession, stage: str = STAGE,
                   warehouse: str = WAREHOUSE) -> None:
    """D3: DROP SCHEMA … CASCADE — the full reset used by ``reboot.py``
    (``delete_schemas`` DB_manager.py:98-103)."""
    for db in (stage, warehouse):
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def make_query(spark: SparkSession, query: str) -> DataFrame:
    """D4: the generic SQL executor (``makeQuery`` DB_manager.py:29-35).
    Spark SQL *is* the engine's query surface; no catch-and-print —
    callers get real exceptions (E2 improved)."""
    return spark.sql(query)


def _insert_counted(df: DataFrame, table: str, mode: str) -> int:
    """Insert ``df`` into ``table`` by position and return the rows
    written, counted by the write job itself through an ``Observation``
    instead of a second scan."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode).insertInto(table)
    return obs.get["rows"]


def save_to_stage(spark: SparkSession, table: str, df: DataFrame,
                  stage: str = STAGE) -> int:
    """K3: truncate-and-reload the stage table
    (``save_to_stage`` DB_manager.py:107-136). One INSERT OVERWRITE —
    atomic per partition set, no row-oriented INSERT loop — returns the
    row count the reference prints (:109), observed on the write."""
    schema, _ = _TABLES[table]
    aligned = df.select(*[c.name for c in schema.fields])
    return _insert_counted(aligned, f"`{stage}`.`{table}`", "overwrite")


def commit_to_warehouse(spark: SparkSession, table: str,
                        stage: str = STAGE,
                        warehouse: str = WAREHOUSE) -> int:
    """J1/J2: SCD-0 commit — append stage rows whose key is absent from
    the warehouse (``commit_to_warehouse`` DB_manager.py:140-179, the
    LEFT JOIN … IS NULL anti-join). Returns rows inserted (:179).

    A commit with nothing new writes no file: an empty append would
    still leave an empty parquet file, and a changed file set also
    invalidates the latest-price snapshot (pipeline.py). Otherwise the
    count comes from the append itself, so it is exactly what was
    written; nothing is cached between the check and the append."""
    schema, key = _TABLES[table]
    stg = spark.table(f"`{stage}`.`{table}`")
    tgt = spark.table(f"`{warehouse}`.`{table}`")
    # re-align: the USING-key anti-join moves the key column first and
    # insertInto maps by POSITION, not name.
    fresh = new_rows(stg, tgt, key).select(*[c.name for c in schema.fields])
    if fresh.isEmpty():
        return 0
    return _insert_counted(fresh, f"`{warehouse}`.`{table}`", "append")


def last_price_rows(latest: DataFrame, dim: DataFrame) -> DataFrame:
    """J3: ``get_last_price``'s output shape (``DB_manager.py:183-191``) —
    fact rows left-joined to their ``markets`` row and projected to the
    six reported columns, the date as ``DD-MM-YYYY``. The dimension is
    broadcast: Postgres used a PK index, Spark ships the small table to
    every task instead."""
    return latest.join(
        F.broadcast(dim), latest["stock_ticker"] == dim["market_stockid"], "left"
    ).select(
        fmt_ddmmyyyy("stock_date").alias("stock_date_fmt"),
        "stock_ticker",
        "market_companyname",
        "stock_close",
        "market_exchange",
        "market_stockisin",
    )


def show_preview(df: DataFrame, n: int = 3) -> None:
    """K5: console sink (``API_manager.py:59`` head(3) preview)."""
    df.show(n)
