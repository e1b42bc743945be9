"""Checkpoint ledger (S7/S8): the exactly-once-per-date idempotency
mechanism (src/snowflake_client.py:86-97, 126-160;
src/extract_load_stocks.py:53-69).

One append-only table; a date counts as done when a 'completed' row
exists. Append-only + latest-status-wins means retries and crashes
leave at most re-runnable state, never lost state — the same contract
Structured Streaming gets from its checkpoint directory, kept here as
a queryable table like the reference's ADMIN.INGESTION_CHECKPOINTS.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from ..session import local_frame

LEDGER_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("api_date", StringType()),
    StructField("status", StringType()),           # started|completed|failed
    StructField("rows_loaded", LongType()),
    StructField("event_at", TimestampType()),
    StructField("error", StringType()),
])


class Ledger:
    """Parquet-backed append-only checkpoint ledger."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path))

    def read(self) -> DataFrame:
        if not self._exists():
            return local_frame(self.spark, [], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)

    def record(self, api_date: str, status: str, rows_loaded: int = 0,
               error: str | None = None, run_id: str | None = None) -> str:
        """Append ONE checkpoint row.  Written driver-side with
        pyarrow (r17, guide §2.4 — remove the job): a 1-row
        control-plane record needs a file in the ledger directory,
        not a distributed Spark write job (which cost ~0.5 s each,
        3 per ingested date).  The file is parquet with the exact
        LEDGER_SCHEMA arrow rendering, so :meth:`read`'s
        schema-pinned ``spark.read.parquet`` consumes it unchanged;
        a unique part- name keeps concurrent writers append-only,
        exactly like Spark's own output files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        run_id = run_id or uuid.uuid4().hex
        tb = pa.table({
            "run_id": pa.array([run_id], pa.string()),
            "api_date": pa.array([api_date], pa.string()),
            "status": pa.array([status], pa.string()),
            "rows_loaded": pa.array([rows_loaded], pa.int64()),
            "event_at": pa.array(
                [datetime.now(timezone.utc).replace(tzinfo=None)],
                pa.timestamp("us")),
            "error": pa.array([error], pa.string()),
        })
        os.makedirs(self.path, exist_ok=True)
        pq.write_table(
            tb, os.path.join(self.path,
                             f"part-{uuid.uuid4().hex}.parquet"))
        return run_id

    def completed_dates(self) -> set[str]:
        """S8: SELECT DISTINCT api_date WHERE status='completed'."""
        return {
            r.api_date
            for r in (self.read().where(F.col("status") == "completed")
                      .select("api_date").distinct().collect())
        }
