"""Load path (S5/S6 + P5/P6) and the per-date orchestration loop
(src/load.py:12-99, src/extract_load_stocks.py:29-80).

normalize_rows: the reference's pandas rename/enrich before load
(rename t->TS etc., stamp DATE + INGESTED_AT, tz-strip) — here done as
Catalyst column ops on a DataFrame built from the fetched rows through
an Arrow table (:func:`session.local_frame`): Spark plans it as a JVM
LocalRelation, so an ingested date starts no Python worker, and the
rows pass createDataFrame's own type verifier first.

ensure_table / append: CREATE IF NOT EXISTS + schema-subset guard +
bulk append onto a parquet table directory (Delta MERGE/append on a
real cluster — same call shape).
"""

from __future__ import annotations

import os
from datetime import date as date_t

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ..session import local_frame
from .calendar import trading_days
from .ledger import Ledger
from .source import RateLimiter, fetch_with_retry

#: raw bars table DDL (src/snowflake_client.py:63-77)
RAW_BARS_SCHEMA = StructType([
    StructField("T", StringType()),
    StructField("V", DoubleType()),
    StructField("VW", DoubleType()),
    StructField("O", DoubleType()),
    StructField("C", DoubleType()),
    StructField("H", DoubleType()),
    StructField("L", DoubleType()),
    StructField("N", LongType()),
    StructField("TS", TimestampType()),
    StructField("DATE", DateType()),
    StructField("INGESTED_AT", TimestampType()),
])

FETCH_SCHEMA = StructType([
    StructField("T", StringType()),
    StructField("o", DoubleType()),
    StructField("c", DoubleType()),
    StructField("h", DoubleType()),
    StructField("l", DoubleType()),
    StructField("v", DoubleType()),
    StructField("vw", DoubleType()),
    StructField("n", LongType()),
    StructField("ts_ms", LongType()),
])


def normalize_rows(spark: SparkSession, rows: list[dict],
                   api_date: str) -> DataFrame:
    """P5: rename/enrich fetched rows; P6: project to the exact target
    column subset (src/load.py:36-76, 62-68)."""
    df = local_frame(spark, rows, FETCH_SCHEMA)
    enriched = df.select(
        F.col("T"),
        F.col("v").alias("V"),
        F.col("vw").alias("VW"),
        F.col("o").alias("O"),
        F.col("c").alias("C"),
        F.col("h").alias("H"),
        F.col("l").alias("L"),
        F.col("n").alias("N"),
        F.timestamp_millis(F.col("ts_ms")).alias("TS"),
        F.lit(api_date).cast("date").alias("DATE"),
        F.current_timestamp().cast("timestamp").alias("INGESTED_AT"),
    )
    # column-subset guard: only target columns, in target order
    target = [f.name for f in RAW_BARS_SCHEMA.fields]
    out = enriched.select(*[c for c in target if c in enriched.columns])
    # one file per daily micro-batch (guide §6 — output file sizing):
    # a date's bars are one API page; letting the local default
    # parallelism shard them wrote 8-32 near-empty files PER DAY,
    # inflating every later listing/heal/read of the table
    return out.coalesce(1)


def ensure_table(path: str) -> None:
    """S6: CREATE TABLE IF NOT EXISTS — a parquet dir here."""
    os.makedirs(path, exist_ok=True)


def heal_schema(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """S6 self-heal (src/snowflake_client.py:54-100 ADD COLUMN IF NOT
    EXISTS): align an incoming frame with the existing table —
    columns the table has but the frame lacks are padded with NULLs of
    the table's type; NEW frame columns are kept (schema evolution,
    surfaced to readers via evolved_read). No-op on an empty table."""
    if not (os.path.isdir(path) and any(
            not f.startswith(("_", ".")) for f in os.listdir(path))):
        return df
    existing = spark.read.parquet(path).schema
    have = {f.name for f in df.schema.fields}
    for f in existing.fields:
        if f.name not in have:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def evolved_read(spark: SparkSession, path: str) -> DataFrame:
    """Read a table whose files may span schema versions: mergeSchema
    unions the per-file schemas (older files surface NULLs for newer
    columns) — the read side of ADD COLUMN IF NOT EXISTS."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def append_bars(df: DataFrame, path: str,
                spark: SparkSession | None = None) -> int:
    """S5: bulk append (schema-healed when the table exists).
    Returns rows written — counted from the SAME execution as the
    write (a separate count() would re-run the fetch/normalize lineage
    and could disagree with what was committed)."""
    from pyspark.sql import Observation

    if spark is not None:
        df = heal_schema(df, spark, path)
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    observed.write.mode("append").parquet(path)
    return int(obs.get["n"])


def extract_load_range(spark: SparkSession, warehouse: str,
                       start: date_t, end: date_t,
                       holidays: list | None = None,
                       transport=None,
                       rate_limiter: RateLimiter | None = None) -> dict:
    """The daily/backfill loop (src/extract_load_stocks.py:29-80):
    plan trading days, prune completed via ledger, fetch-normalize-
    append per date with started/completed/failed checkpoints.
    Re-running is a no-op for completed dates (exactly-once-per-date).
    """
    bars_path = os.path.join(warehouse, "raw_daily_bars")
    ensure_table(bars_path)
    ledger = Ledger(spark, os.path.join(warehouse, "ingestion_checkpoints"))
    limiter = rate_limiter or RateLimiter(min_interval=0.0)

    plan = [r.cal_date.isoformat()
            for r in trading_days(spark, start, end, holidays).collect()]
    done = ledger.completed_dates()
    loaded, skipped = 0, 0
    for api_date in plan:
        if api_date in done:
            skipped += 1
            continue
        limiter.wait()
        run_id = ledger.record(api_date, "started")
        try:
            rows = fetch_with_retry(api_date, transport=transport)
            n = append_bars(normalize_rows(spark, rows, api_date),
                            bars_path, spark)
            ledger.record(api_date, "completed", rows_loaded=n,
                          run_id=run_id)
            loaded += 1
        except Exception as exc:
            ledger.record(api_date, "failed", error=str(exc)[:500],
                          run_id=run_id)
            raise
    return {"planned": len(plan), "loaded": loaded, "skipped": skipped,
            "bars_path": bars_path}
