"""Streaming jobs over the events table.

Both jobs run Trigger.AvailableNow (ordered backfill replay — the
analog of the reference's oldest->newest date loop,
src/extract_load_stocks.py:64-78) and are verified against batch
oracles: a correct streaming pipeline's terminal state equals the
batch computation over the same inputs.

Determinism: value sums go through exact decimals (2-dp synthetic
values), so streaming state-merge order can't perturb the result —
the same rule as every batch aggregate in this engine.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from ..physical import EVENTS_DDL, events_ts_unit, normalize_event_ts
from ..scratch import scratch_dir
from ..session import local_frame

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the NANOS-layout reader DDL (ts as raw BIGINT). Kept as a named
#: constant for tests that fabricate nanos-layout event files; the
#: production readers below sniff the actual footer via
#: ``physical.events_ts_unit`` and pick the right DDL per layout.
EVENTS_SCHEMA = EVENTS_DDL["ns"]


def _staged_events_dir(sf_dir: str, copies: int = 1) -> str:
    """Stage the events file into a temp directory (the file streaming
    source reads directories). ``copies`` > 1 simulates duplicate
    delivery of the same payload — each copy is one micro-batch with
    maxFilesPerTrigger=1."""
    d = scratch_dir("events_src_")
    src = os.path.join(sf_dir, "events.parquet")
    for i in range(copies):
        shutil.copy(src, os.path.join(d, f"events_{i}.parquet"))
    return d


def _events_stream(spark: SparkSession, src_dir: str,
                   max_files: int | None = None) -> DataFrame:
    # sniff the staged files' physical ts layout from one footer (the
    # stream schema must be fixed before the query starts, so the
    # branch happens here, not per-batch; staged dirs are homogeneous
    # by construction). NANOS -> explicit BIGINT schema + floor to
    # micros; MICROS -> TIMESTAMP directly; anything else raises
    # SchemaDriftError instead of mis-scaling.
    unit = events_ts_unit(src_dir)
    # Session time zone has no reader-level equivalent and is consumed
    # at ACTION time (a save/restore around this lazy read would
    # restore before the scan runs), so it is set here; date casts and
    # tumbling windows must not depend on the host zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = (spark.readStream.schema(EVENTS_DDL[unit])
              .format("parquet"))
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return normalize_event_ts(reader.load(src_dir), unit)


def hourly_rollup(spark: SparkSession, sf_dir: str,
                  watermark: str = "4 hours") -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type with a late-
    data watermark; complete-mode memory sink, AvailableNow trigger.

    Returns the terminal result as a batch DataFrame whose values are
    bit-comparable to the batch GROUP BY date_trunc('hour') oracle.
    """
    stream = _events_stream(spark, _staged_events_dir(sf_dir))
    # NOTE: no COUNT(DISTINCT) here — streaming aggregation doesn't
    # support exact distinct (state would be unbounded); the batch
    # rollup keeps it, streaming pipelines use approx_count_distinct
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("total_value"))
    )
    name = "hourly_rollup_sink"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(name)
            .select(F.col("w.start").alias("hour_start"), "event_type",
                    "n_events", "total_value"))


def dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication under duplicate delivery: the source
    stages the SAME payload twice (each copy one micro-batch), and
    ``dropDuplicates`` on the event key suppresses the re-delivery —
    the streaming half of exactly-once (SURVEY §2.9), complementing
    the foreachBatch MERGE in :func:`upsert_replay`.

    Dedup state is hash-partitioned by event_id across executors; with
    a real unbounded stream pair it with
    ``dropDuplicatesWithinWatermark`` so state is evicted past the
    lateness bound (on a finite AvailableNow replay, plain
    dropDuplicates keeps exact state for the run). Append-mode output:
    rows flow through unbuffered, the terminal table is exactly the
    single-copy source."""
    stream = _events_stream(spark, _staged_events_dir(sf_dir, copies=2),
                            max_files=1)
    deduped = (stream.withWatermark("ts", "10 minutes")
               .dropDuplicates(["event_id"]))
    name = "dedup_replay_sink"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (deduped.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name).select(
        "event_id", "ts", "user_id", "event_type", "value", "props")


def upsert_replay(spark: SparkSession, sf_dir: str,
                  mode: str = "rewrite") -> DataFrame:
    """foreachBatch MERGE upsert through the engine's default
    transactional write path (manifest.ManifestTable.merge_batch): the
    stream is replayed in multiple micro-batches; every batch MERGEs
    on event_id into a manifest-committed table, and the batch ledger
    commits atomically WITH the merged data — re-delivery of an
    already-recorded batch is refused from the manifest without
    staging a byte (exactly-once effect on at-least-once delivery,
    SURVEY §2.9 row 1), and a crash mid-merge leaves the table
    readable at the prior snapshot (the reference's transactional
    Snowflake MERGE contract, fct_trading_momentum.sql:2-7 — the
    round-7 version of this path used an in-process ledger plus
    per-partition dynamic overwrite, which left both a ledger/data
    crash window and torn multi-partition states).

    The SAME file is also delivered a second time (a duplicate-source
    union), so the upsert path is observably exercised: without the
    MERGE the target would double-count.  Key stability for the
    partition-pruned merge holds by construction: event_date derives
    from the event's own immutable ts, so every re-delivery of an
    event_id carries the same event_date.

    ``mode="dv"`` routes every batch through the LOW-SHUFFLE merge
    (matched rows dead-marked by deletion vectors, update rows
    appended — manifest.merge_batch(mode='dv')): identical terminal
    state, write cost O(matched + batch rows) per micro-batch instead
    of re-staging every touched partition — the steady-state CDC shape
    at 100 TB, where each micro-batch touches a sliver of rows across
    many large partitions.

    Returns the terminal per-type rollup of the target table.
    """
    from ..manifest import ManifestTable

    tmp = scratch_dir("stream_upsert_")
    root = os.path.join(tmp, "events_current")

    # duplicate delivery: the same payload staged twice; one file per
    # micro-batch, so batch 2 re-delivers batch 1's rows
    stream = _events_stream(spark, _staged_events_dir(sf_dir, copies=2),
                            max_files=1)
    # v1: an empty table pinning the schema, so EVERY data batch —
    # including the first — flows through the ledgered merge path
    empty = (local_frame(spark, [], stream.schema)
             .withColumn("event_date", F.to_date("ts")))
    table = ManifestTable.create(empty, root, ts="event_date")

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        updates = (batch_df.dropDuplicates(["event_id"])
                   .withColumn("event_date", F.to_date("ts")))
        table.merge_batch(spark, updates, ["event_id"],
                          "events_upsert", batch_id, mode=mode)

    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (stream.writeStream.foreachBatch(do_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    if mode == "dv":
        # the duplicate delivery re-merged batch 1's rows, so the
        # low-shuffle path MUST have dead-marked matched live rows —
        # green means merge-on-read actually happened, not that the
        # rewrite path quietly ran
        mf = table._raw()
        n_dv = sum(r.get("dv_rows", 0)
                   for r in mf["partitions"].values()
                   if isinstance(r, dict))
        if n_dv == 0:
            raise RuntimeError(
                "dv-mode streaming merge left no deletion vectors — "
                "duplicate delivery should have dead-marked rows")
    final = table.read(spark)
    return (final.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("total_value"))
            )


def _staged_events_chunks(spark: SparkSession, sf_dir: str,
                          n_chunks: int = 3) -> str:
    """Stage the events table as ``n_chunks`` TIME-ORDERED parquet
    files (chunk k = k-th tertile of the timestamp range), mtime-
    ordered so the file source replays them chronologically one per
    micro-batch — sessions that straddle a chunk boundary arrive in
    DIFFERENT micro-batches."""
    import time as _time

    from ..operators.events_ops import read_events

    d = scratch_dir("events_chunks_")
    # layout-agnostic: read through the normalizing batch reader (ts is
    # TimestampType micros whatever the source layout) and split on
    # unix_micros; the chunks are written pinned to TIMESTAMP_MICROS so
    # the stream reader's footer sniff sees a layout it knows.
    df = read_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    lo, hi = df.agg(F.min(us), F.max(us)).first()
    span = (hi - lo) + 1
    prev_out = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for k in range(n_chunks):
            a = lo + span * k // n_chunks
            b = lo + span * (k + 1) // n_chunks
            chunk_dir = os.path.join(d, f"__w{k}")
            (df.where((us >= a) & (us < b))
             .coalesce(1).write.mode("overwrite").parquet(chunk_dir))
            part = [f for f in os.listdir(chunk_dir)
                    if f.endswith(".parquet")][0]
            tgt = os.path.join(d, f"chunk_{k}.parquet")
            os.rename(os.path.join(chunk_dir, part), tgt)
            shutil.rmtree(chunk_dir, ignore_errors=True)
            mtime = _time.time() - (n_chunks - k) * 10
            os.utime(tgt, (mtime, mtime))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev_out)
    return d


def session_replay(spark: SparkSession, sf_dir: str,
                   gap: str = "30 minutes") -> DataFrame:
    """Streaming SESSION WINDOWS (merging-state session_window
    aggregate): per-user sessions whose state merges across
    micro-batches; AvailableNow replay, complete-mode memory sink.
    Terminal sessions must equal the batch gap-based sessionizer —
    the defining property: the input is split into 3 chronological
    chunks replayed one per micro-batch, so any session straddling a
    chunk boundary MUST merge across batches to match the oracle."""
    stream = _events_stream(spark,
                            _staged_events_chunks(spark, sf_dir, 3),
                            max_files=1)
    agg = (
        stream
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("total_value"))
    )
    name = "session_replay_sink"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events",
        "total_value")


def interval_join_replay(spark: SparkSession, sf_dir: str,
                         max_age: str = "1 hour") -> DataFrame:
    """Watermarked STREAM-STREAM interval join (the one §2.9 concept
    beyond the reference's batch surface): each click joins every view
    by the same user in the trailing ``max_age`` window, with BOTH
    sides watermarked so the join state is evictable — the canonical
    attribution-join shape.

    Scale contract: the time-range predicate plus the two watermarks
    bound the state store to ``max_age`` of events per side per key —
    without them a stream-stream join buffers both streams forever.
    State is hash-partitioned by user_id across executors, exactly the
    partitioning the equi-half of the join needs.

    Replay: the input is split into 3 chronological chunks, one per
    micro-batch (both sources advance one file per trigger), so a
    click can match a view delivered in an EARLIER micro-batch only
    via the state store; the terminal append-mode output must equal
    the batch interval join (the DuckDB oracle).
    """
    src = _staged_events_chunks(spark, sf_dir, 3)
    clicks = (
        _events_stream(spark, src, max_files=1)
        .where(F.col("event_type") == "click")
        .selectExpr("event_id AS click_id", "user_id AS click_user",
                    "ts AS click_ts")
        .withWatermark("click_ts", max_age))
    views = (
        _events_stream(spark, src, max_files=1)
        .where(F.col("event_type") == "view")
        .selectExpr("event_id AS view_id", "user_id AS view_user",
                    "ts AS view_ts")
        .withWatermark("view_ts", max_age))
    joined = (
        clicks.join(
            views,
            F.expr(f"click_user = view_user AND view_ts <= click_ts "
                   f"AND click_ts < view_ts + interval {max_age}"),
            "inner")
        .select("click_id", "view_id",
                F.col("click_user").alias("user_id"),
                "click_ts", "view_ts"))
    name = "interval_join_sink"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (joined.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name)


def manifest_append_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch append into a ManifestTable with the batch ledger
    INSIDE the table (SURVEY §2.9 exactly-once, upgraded): each
    micro-batch's files and the stream's high-water batch id commit in
    ONE atomic manifest link, so there is no crash window between
    "data published" and "batch remembered" — the hole any EXTERNAL
    ledger file leaves open (:func:`upsert_replay` is the keyed-MERGE
    sibling of this append-only sink, on the same atomic-ledger
    contract).  Structured Streaming re-delivers the last
    micro-batch on checkpoint recovery; ``append_batch`` recognizes it
    from the live manifest and drops it without staging a byte.

    The replay half is exercised in-line, not just claimed: after the
    AvailableNow run terminates, the final micro-batch is re-delivered
    by hand (exactly what a post-commit crash recovery does) and the
    function RAISES unless the sink refuses it with the table version
    unchanged.  Terminal per-type rollup must equal the single-copy
    batch oracle.
    """
    import tempfile

    from ..manifest import ManifestTable

    src = _staged_events_chunks(spark, sf_dir, 3)
    stream = _events_stream(spark, src, max_files=1)
    root = scratch_dir("stream_manifest_")

    # v1: an empty table (schema from the stream, no partitions yet) so
    # that EVERY data batch — including the first — flows through the
    # ledgered append_batch path.
    empty = (local_frame(spark, [], stream.schema)
             .withColumn("event_date", F.to_date("ts")))
    table = ManifestTable.create(empty, root, ts="event_date")
    seen: list[int] = []

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        updates = batch_df.withColumn("event_date", F.to_date("ts"))
        if table.append_batch(updates, "events_ingest", batch_id):
            seen.append(batch_id)

    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (stream.writeStream.foreachBatch(do_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    if not seen:
        raise RuntimeError("stream delivered no batches")
    # crash-recovery replay of the last committed batch: must be a
    # no-op — refused from the manifest ledger, version unchanged
    v_before = table.version()
    replayed = table.append_batch(empty, "events_ingest", seen[-1])
    if replayed or table.version() != v_before:
        raise RuntimeError(
            f"replayed batch {seen[-1]} was not refused "
            f"(committed={replayed}, {v_before} -> {table.version()})")

    final = table.read(spark).drop("event_date")
    return (final.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("total_value")))
