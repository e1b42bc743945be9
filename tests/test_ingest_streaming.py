"""Unit tests for the ingest path (S1-S8) and streaming semantics that
the oracle entries can't observe: retry ladders, failure checkpoints,
crash-recovery idempotency."""

from __future__ import annotations

import os
import tempfile
from datetime import date

import pytest

from stock_market_data_pipeline_spark.ingest.source import (
    FetchError, RateLimiter, Response, fetch_with_retry,
    synthetic_grouped_daily,
)


def test_retry_ladder_429_then_ok():
    calls, sleeps = [], []
    def transport(d):
        calls.append(d)
        return Response(429, []) if len(calls) < 3 else Response(200, [{"x": 1}])
    rows = fetch_with_retry("1998-02-02", transport=transport,
                            sleeper=sleeps.append)
    assert rows == [{"x": 1}]
    assert sleeps == [60.0, 60.0]          # 429 -> long wait, twice


def test_retry_5xx_wait_differs():
    sleeps = []
    seq = iter([Response(503, []), Response(200, [{"x": 2}])])
    rows = fetch_with_retry("1998-02-02", transport=lambda d: next(seq),
                            sleeper=sleeps.append)
    assert rows == [{"x": 2}] and sleeps == [5.0]


def test_retry_4xx_aborts_immediately():
    with pytest.raises(FetchError, match="non-retryable HTTP 403"):
        fetch_with_retry("1998-02-02",
                         transport=lambda d: Response(403, []),
                         sleeper=lambda s: None)


def test_retry_exhaustion():
    with pytest.raises(FetchError, match="exhausted 3 attempts"):
        fetch_with_retry("1998-02-02",
                         transport=lambda d: Response(429, []),
                         sleeper=lambda s: None)


def test_rate_limiter_enforces_interval():
    t = {"now": 0.0}
    slept = []
    rl = RateLimiter(min_interval=20.0, clock=lambda: t["now"],
                     sleeper=slept.append)
    rl.wait()                      # first call: no wait
    t["now"] = 5.0
    rl.wait()                      # 15s early
    assert slept == [15.0]


def test_synthetic_rows_are_deterministic():
    a = synthetic_grouped_daily("1998-02-02")
    b = synthetic_grouped_daily("1998-02-02")
    assert a.rows == b.rows and len(a.rows) == 50


def test_failed_date_is_retried_next_run(spark):
    """A date whose load FAILS is not marked completed: the next run
    retries it (src/load.py:82-99 failure checkpoint semantics)."""
    from stock_market_data_pipeline_spark.ingest.loader import (
        extract_load_range,
    )

    wh = tempfile.mkdtemp(prefix="wh_fail_")
    boom = {"armed": True}

    def flaky(d):
        if d == "1998-02-03" and boom["armed"]:
            return Response(403, [])   # terminal failure on day 2
        return synthetic_grouped_daily(d)

    with pytest.raises(FetchError):
        extract_load_range(spark, wh, date(1998, 2, 2), date(1998, 2, 4),
                           transport=flaky)
    boom["armed"] = False
    r = extract_load_range(spark, wh, date(1998, 2, 2), date(1998, 2, 4),
                           transport=flaky)
    # day 1 was completed before the crash -> skipped; days 2-3 load now
    assert r["skipped"] == 1 and r["loaded"] == 2
    bars = spark.read.parquet(os.path.join(wh, "raw_daily_bars"))
    assert bars.count() == 150 and bars.select("DATE").distinct().count() == 3


def test_ledger_completed_dates(spark):
    from stock_market_data_pipeline_spark.ingest.ledger import Ledger

    led = Ledger(spark, tempfile.mkdtemp(prefix="led_") + "/l")
    assert led.completed_dates() == set()
    rid = led.record("1998-02-02", "started")
    assert led.completed_dates() == set()
    led.record("1998-02-02", "completed", rows_loaded=50, run_id=rid)
    led.record("1998-02-03", "failed", error="x")
    assert led.completed_dates() == {"1998-02-02"}


def test_schema_self_heal_and_evolution(spark):
    """S6 self-heal: a frame missing a table column gets NULL-padded;
    a frame with a NEW column evolves the table, and evolved_read
    surfaces it with NULLs on old files."""
    import tempfile

    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.ingest.loader import (
        append_bars, evolved_read, heal_schema,
    )

    path = tempfile.mkdtemp(prefix="heal_") + "/t"
    v1 = spark.createDataFrame([(1, "a", 10.0)], "id long, s string, x double")
    append_bars(v1, path, spark)

    # frame MISSING column x -> healed with NULL double
    v2 = spark.createDataFrame([(2, "b")], "id long, s string")
    healed = heal_schema(v2, spark, path)
    assert "x" in healed.columns
    append_bars(v2, path, spark)

    # frame with a NEW column y -> schema evolution
    v3 = spark.createDataFrame([(3, "c", 30.0, 99)],
                               "id long, s string, x double, y long")
    append_bars(v3, path, spark)

    out = evolved_read(spark, path).orderBy("id").collect()
    assert [r.id for r in out] == [1, 2, 3]
    assert out[1].x is None          # healed NULL
    assert out[0].y is None and out[2].y == 99


def test_datasource_plans_one_partition_per_trading_date(spark):
    """The custom DataSource must parallelize a backfill by DATE:
    one InputPartition per weekday (the distributed form of the
    reference's serial date loop)."""
    from stock_market_data_pipeline_spark.ingest.datasource import (
        GroupedDailyReader, weekdays,
    )
    from datetime import date

    r = GroupedDailyReader({"start": "1998-02-02", "end": "1998-02-15"})
    parts = r.partitions()
    assert len(parts) == len(weekdays(date(1998, 2, 2), date(1998, 2, 15)))
    assert len(parts) == 10  # two full Mon-Fri weeks
    assert [p.value for p in parts][:2] == ["1998-02-02", "1998-02-03"]
    # executor-side read of one partition yields that date's bars only
    rows = list(r.read(parts[0]))
    assert len(rows) == 50
    assert {row[-1] for row in rows} == {date(1998, 2, 2)}


def test_watermark_drops_too_late_rows(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark must DROP a
    row arriving after its window was FINALIZED (SURVEY §2.9 late
    data). Spark's watermark is an eviction bound, not a strict input
    filter: a late row whose window is still in state MERGES (that is
    valid), so the observable drop needs THREE batches — batch 1
    seeds, batch 2 advances the watermark and EVICTS+EMITS the early
    windows, batch 3 delivers a row into an already-emitted window.
    Correct behavior: that window appears exactly once, count
    unchanged, and no duplicate emission."""
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F
    from stock_market_data_pipeline_spark.streaming.events import (
        EVENTS_SCHEMA,
    )

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base_ns = 1_700_000_000 * 1_000_000_000

    def write_events(rows, name, mtime):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        d = str(tmp_path / ("__" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        tgt = os.path.join(src_dir, name + ".parquet")
        shutil.copy(os.path.join(d, part), tgt)
        os.utime(tgt, (mtime, mtime))

    hour = 3_600 * 1_000_000_000
    # batch 1: events in hours 0..3 -> watermark (used in batch 2)
    # becomes 3h-10min
    batch1 = [(i, base_ns + i * hour, 1, "view", 1.0, "{}")
              for i in range(4)]
    # batch 2: on-time event in hour 4; DURING this batch windows
    # 0..2 are evicted and emitted (they end before the watermark)
    batch2 = [(50, base_ns + 4 * hour, 3, "view", 1.0, "{}")]
    # batch 3: an hour-0 event, 4h late — its window was already
    # emitted in batch 2, so it must be dropped (not merged, and no
    # duplicate hour-0 row emitted)
    batch3 = [(100, base_ns + 10, 2, "late", 9.9, "{}")]
    now = _time.time()
    write_events(batch1, "b1", now - 30)
    write_events(batch2, "b2", now - 20)
    write_events(batch3, "b3", now - 10)

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .format("parquet").option("maxFilesPerTrigger", 1)
              .load(src_dir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    import tempfile
    with tempfile.TemporaryDirectory() as ckpt:
        q = (agg.writeStream.format("memory").queryName("late_sink")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    rows = spark.table("late_sink").collect()
    starts = [r["w"]["start"] for r in rows]
    # no window emitted twice (a merged-or-reborn late window would
    # re-emit), and every emitted count is exactly 1 — the late row
    # contributed nowhere
    assert len(starts) == len(set(starts)), rows
    assert all(r["n"] == 1 for r in rows), rows
    # windows 0..3 finalized (watermark ends at 4h-10min); hour-4 held
    assert len(rows) == 4, rows


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_built_frames_plan_as_local_relations(spark, tmp_path):
    """The ingest's driver-side frames (the fetched rows, the trading
    calendar), an empty ledger, an empty change-feed range and the
    SQL surface's result frames scan as JVM LocalRelations: a Python
    RDD frame (LogicalRDD) would start Python workers on every action
    over it."""
    from stock_market_data_pipeline_spark.ingest.calendar import (
        trading_days,
    )
    from stock_market_data_pipeline_spark.ingest.ledger import Ledger
    from stock_market_data_pipeline_spark.ingest.loader import (
        normalize_rows,
    )
    from stock_market_data_pipeline_spark.manifest import ManifestTable
    from stock_market_data_pipeline_spark.manifest_datasource import (
        manifest_sql,
    )

    frames = {
        "normalize_rows": normalize_rows(
            spark, synthetic_grouped_daily("1998-02-02").rows,
            "1998-02-02"),
        "trading_days": trading_days(spark, date(1998, 2, 2),
                                     date(1998, 2, 15)),
        "empty ledger": Ledger(spark, str(tmp_path / "none")).read(),
    }
    # a change-feed range holding only metadata-only commits
    t = ManifestTable.create(
        spark.range(4).selectExpr("id", "cast(id % 2 AS string) AS pt"),
        str(tmp_path / "tc"), "pt")
    t.add_columns([("z", "bigint")])
    frames["empty table_changes"] = t.table_changes(spark, 2)
    # a DML metrics row and an inspection table
    frames["DML metrics"] = manifest_sql(
        spark, "DELETE FROM tc WHERE id < 0", {"tc": t})
    frames["meta_files"] = t.meta_files(spark)
    for name, df in frames.items():
        plan = _optimized_plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, (
            name, plan)
    assert frames["normalize_rows"].count() == 50
    assert frames["trading_days"].count() == 10
    assert frames["empty ledger"].count() == 0
    assert frames["empty table_changes"].count() == 0
    assert frames["DML metrics"].collect()[0]["num_deleted_rows"] == 0
    assert frames["meta_files"].count() >= 2


def test_local_frame_matches_create_dataframe(spark):
    """The Arrow-built frame holds exactly the rows createDataFrame
    builds from the same driver rows, nested and temporal types
    included."""
    import datetime
    import decimal

    from stock_market_data_pipeline_spark.session import local_frame

    ddl = ("t timestamp, d date, m decimal(10,2), a array<int>, "
           "mp map<string,int>, st struct<x:int,y:string>, s string")
    rows = [(datetime.datetime(2024, 1, 2, 3, 4, 5),
             datetime.date(2024, 1, 2), decimal.Decimal("1.50"), [1, 2],
             {"k": 1}, (3, "z"), "a"),
            (None, None, None, None, None, None, None)]
    got = local_frame(spark, rows, ddl)
    assert "LocalRelation" in _optimized_plan(got)
    assert got.schema == spark.createDataFrame(rows, ddl).schema
    assert got.collect() == spark.createDataFrame(rows, ddl).collect()


@pytest.mark.parametrize("field,value", [
    ("o", "abc"),       # string in a double field
    ("n", 2.5),         # float in a long field: Arrow would truncate
    ("v", True),        # bool in a double field: Arrow would take 1.0
    ("c", 5),           # int in a double field
])
def test_mistyped_payload_row_fails_the_date(spark, tmp_path, field,
                                             value):
    """A payload row createDataFrame's verifier rejects fails its date
    through the Arrow ingest too: the ledger records 'failed' and no
    bar is appended."""
    from stock_market_data_pipeline_spark.ingest.ledger import Ledger
    from stock_market_data_pipeline_spark.ingest.loader import (
        extract_load_range,
    )

    def transport(d):
        resp = synthetic_grouped_daily(d)
        resp.rows[7] = {**resp.rows[7], field: value}
        return resp

    wh = str(tmp_path / "wh")
    with pytest.raises((TypeError, ValueError)):
        extract_load_range(spark, wh, date(1998, 2, 2), date(1998, 2, 2),
                           transport=transport)
    statuses = [(r.api_date, r.status) for r in
                Ledger(spark, os.path.join(wh, "ingestion_checkpoints"))
                .read().collect()]
    assert sorted(statuses) == [("1998-02-02", "failed"),
                                ("1998-02-02", "started")]
    bars = os.path.join(wh, "raw_daily_bars")
    assert not [f for f in os.listdir(bars) if f.endswith(".parquet")]
