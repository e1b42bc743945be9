"""SparkSession factory tuned for both local test runs and cluster scale.

The reference delegates execution to Snowflake (SURVEY.md §4); here the
equivalent "warehouse" is a properly configured SparkSession: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas interchange, UTC session time zone to match the reference's
TIMESTAMP_NTZ semantics (src/snowflake_client.py:73-75).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

_LOCAL_DEFAULTS = {
    # Shuffle partitions sized for local cores; on a real cluster this is
    # overridden (AQE coalesces anyway).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parity with the reference's fixed-schema discipline (SURVEY.md §1.2):
    # fail fast rather than silently coerce.
    "spark.sql.parquet.mergeSchema": "false",
    # local test files are single small parquets; the 128 MB default
    # would scan them on 1-3 cores while 32 idle. 4 MB splits keep the
    # map side parallel at bench scale; cluster deployments (many
    # 100 MB+ files) should override back to the default.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
    # backstop for TIMESTAMP(NANOS) parquet, which Spark rejects by
    # default on INFERRED reads: surface nanos as long instead of
    # erroring. The events readers don't depend on this — they sniff
    # the footer and read under an explicit per-layout schema
    # (physical.py) — but schema-inferred reads (temp views, ad-hoc
    # spark.read.parquet) stay usable if the generator ever reverts
    # the table to nanos.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # NOTE: only effective when THIS builder launches the JVM; a later
    # getOrCreate on an existing session silently ignores it. Set
    # SPARK_GRAFT_DRIVER_MEM (or spark-submit --driver-memory) before
    # first session creation to size the driver. The default is modest
    # so session startup never fails on small hosts.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
}


def get_spark(app_name: str = "stock_market_data_pipeline_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to local[$SPARK_GRAFT_CPUS]."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _LOCAL_DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str
                ) -> DataFrame:
    """Driver-side ``rows`` (dicts or tuples) as a frame Spark plans as
    a JVM ``LocalRelation``, so scanning it starts no Python worker.
    ``spark.createDataFrame(list, schema)`` plans a Python RDD instead,
    and every action over it runs Python tasks, each paying PySpark's
    per-task worker set-up, even for zero rows.

    Every row first passes the verifier ``createDataFrame`` applies, so
    the same rows are rejected (Arrow alone would truncate ``2.5`` into
    a long column and take ``True`` as ``1.0`` in a double one), and is
    converted by the same ``toInternal`` (naive datetimes are local
    time, as there)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    arrow = to_arrow_schema(schema)
    cols = list(zip(*internal)) or [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(col, f.type) for col, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
