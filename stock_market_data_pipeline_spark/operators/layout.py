"""Storage-layout operators: bucketed tables (co-located joins) and
layout helpers.  Compaction (the small-files problem) is table
maintenance on the manifest layer: ``ManifestTable.compact``.

These are the operational levers that matter at 100 TB:

- BUCKETING: `bucketBy(n, key)` at write time makes every later
  equi-join/aggregate on the key shuffle-FREE — the exchange is paid
  once at write, amortized over every read. The reference's
  `cluster_by=['ticker']` (fct_trading_momentum.sql:5) is the
  Snowflake analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 8,
                   sort_by: list[str] | None = None) -> None:
    """Write ``df`` as a bucketed, per-bucket-sorted managed table.
    Reads of this table expose ``HashPartitioning(key, n_buckets)``,
    so joins/aggregates between tables bucketed the SAME way plan
    with zero Exchange (verified in tests/test_layout.py)."""
    w = (df.write.format("parquet").mode("overwrite")
         .bucketBy(n_buckets, key))
    w = w.sortBy(*(sort_by or [key]))
    w.saveAsTable(table)
