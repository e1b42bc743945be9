"""The program's public calls the workloads make, in one place.

Nothing here reimplements the engine: each function composes the
package's own ingest, models, incremental, runner, checks, manifest and
serve entry points the way the reference's daily DAG does
(extract/load -> staging -> intermediate -> marts -> tests).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark import checks
from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.models.intermediate import int_universe_daily
from stock_market_data_pipeline_spark.models.marts import (
    IndicatorParams,
    agg_daily_market_breadth,
    dim_securities_current,
)
from stock_market_data_pipeline_spark.models.staging import (
    stack_constituent_snapshots,
    stage_daily_stocks,
)
from stock_market_data_pipeline_spark.runner import Model, Runner

from .gen import INGESTED_AT

#: the reference's windows (SMA 20/50/200, 252-row band, 14-row RSI)
PARAMS = IndicatorParams()

UNIVERSE_COLS = ["ticker", "trade_date", "close", "volume", "n_trades",
                 "company", "sector", "index_weight", "prev_close",
                 "consecutive_trading_days", "is_new_to_index"]

BARS = "raw_daily_bars"
LEDGER = "ingestion_checkpoints"
FCT = "fct_trading_momentum"
BREADTH = "agg_daily_market_breadth"
DIM = "dim_securities_current"


def write_history(market, warehouse: str) -> None:
    """Lay down the raw bars history and its completed ledger rows as
    the ingest path's own files would be (one parquet file each)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    bars = os.path.join(warehouse, BARS)
    os.makedirs(bars, exist_ok=True)
    pq.write_table(market.history_arrow(),
                   os.path.join(bars, "part-00000-history.parquet"))
    led = os.path.join(warehouse, LEDGER)
    os.makedirs(led, exist_ok=True)
    days = [d.isoformat() for d in market.history_dates()]
    pq.write_table(pa.table({
        "run_id": pa.array([f"history-{d}" for d in days], pa.string()),
        "api_date": pa.array(days, pa.string()),
        "status": pa.array(["completed"] * len(days), pa.string()),
        "rows_loaded": pa.array([len(market.tickers)] * len(days),
                                pa.int64()),
        "event_at": pa.array([INGESTED_AT] * len(days),
                             pa.timestamp("us")),
        "error": pa.array([None] * len(days), pa.string()),
    }), os.path.join(led, "part-history.parquet"))


def constituents(spark: SparkSession, market) -> DataFrame:
    """The interval-versioned membership dimension (staging layer)."""
    return stack_constituent_snapshots([
        (spark.createDataFrame(
            rows, "ticker string, company string, sector string, "
                  "index_weight double"), vf, vt)
        for rows, vf, vt in market.snapshot_rows()])


def staged(spark: SparkSession, warehouse: str) -> DataFrame:
    return stage_daily_stocks(
        spark.read.parquet(os.path.join(warehouse, BARS)))


def universe(stg: DataFrame, dim: DataFrame) -> DataFrame:
    """int_universe_daily over OHLC-valid staged bars, projected to the
    columns the momentum fact consumes."""
    valid = stg.where(F.col("is_valid_record") == 1)
    return int_universe_daily(
        valid.withColumnRenamed("num_transactions", "n_trades"), dim
    ).select(*UNIVERSE_COLS)


def fct_table(warehouse: str) -> ManifestTable:
    return ManifestTable(os.path.join(warehouse, FCT), "trade_month")


def read_fct(spark: SparkSession, warehouse: str) -> DataFrame:
    return fct_table(warehouse).read(spark).drop("trade_month")


def publish_marts(spark: SparkSession, warehouse: str) -> dict:
    """Step 3 of a daily refresh: breadth and dim as ``table`` models
    through the runner, each with checks.py audits.  Both tables exist,
    so each publish takes the write-audit-publish branch path."""
    r = Runner(spark, warehouse)
    r.register(Model(
        BREADTH,
        lambda s, b: agg_daily_market_breadth(read_fct(s, warehouse), PARAMS),
        materialization="table",
        audits={"breadth_reconciles": checks.breadth_reconciles,
                "breadth_unique_day":
                    lambda df: checks.unique_key(df, ["trade_date"])}))
    r.register(Model(
        DIM,
        lambda s, b: dim_securities_current(read_fct(s, warehouse), PARAMS),
        materialization="table",
        audits={"dim_unique_ticker":
                    lambda df: checks.unique_key(df, ["ticker"]),
                "dim_ticker_not_null":
                    lambda df: checks.not_null(df, ["ticker"])}))
    return r.run()


def create_marts(spark: SparkSession, warehouse: str) -> None:
    """The first build of breadth and dim, straight from the
    materialized fact: unpartitioned tables, as the runner lays out a
    ``table`` model without ``partition_by``."""
    fct = read_fct(spark, warehouse)
    for name, build in ((BREADTH, agg_daily_market_breadth),
                        (DIM, dim_securities_current)):
        ManifestTable.create(build(fct, PARAMS),
                             os.path.join(warehouse, name), ts=None)
