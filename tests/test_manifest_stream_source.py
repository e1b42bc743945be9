"""`spark.readStream.format("manifest")`: the manifest table as a
Structured Streaming source — version offsets in Spark's checkpoint
(exactly-once across restarts), file-granular incremental batches,
loud refusal of non-append history unless ignoreChanges opts in."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.manifest_datasource import (
    ManifestDataSource,
)


def _frame(spark, lo, hi):
    return (spark.range(lo, hi)
            .select(F.col("id"),
                    (F.col("id") % 4).cast("string").alias("pt")))


def _run(spark, root, ckpt, out, **options):
    spark.dataSource.register(ManifestDataSource)
    s = spark.readStream.format("manifest").options(**options).load(root)
    q = (s.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    return spark.read.parquet(out)


def test_stream_replays_then_tails_exactly_once(spark):
    root, ckpt, out = (tempfile.mkdtemp(prefix=p)
                       for p in ("ms_t_", "ms_c_", "ms_o_"))
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    assert _run(spark, root, ckpt, out).count() == 100
    t.append(_frame(spark, 100, 150))
    t.append(_frame(spark, 150, 160))
    got = _run(spark, root, ckpt, out)
    assert sorted(r["id"] for r in got.collect()) == list(range(160))
    # no new commits -> the restarted query emits nothing again
    assert _run(spark, root, ckpt, out).count() == 160


def test_starting_version_latest_skips_history(spark):
    root, ckpt, out = (tempfile.mkdtemp(prefix=p)
                       for p in ("ms_t_", "ms_c_", "ms_o_"))
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    assert _run(spark, root, ckpt, out,
                startingVersion="latest").count() == 0
    t.append(_frame(spark, 100, 120))
    got = _run(spark, root, ckpt, out, startingVersion="latest")
    assert sorted(r["id"] for r in got.collect()) == \
        list(range(100, 120))


def test_non_append_history_raises_unless_opted_in(spark):
    root, ckpt, out = (tempfile.mkdtemp(prefix=p)
                       for p in ("ms_t_", "ms_c_", "ms_o_"))
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    assert _run(spark, root, ckpt, out).count() == 100
    t.delete_where(spark, F.expr("pmod(id, 9) = 0"), mode="dv")
    t.append(_frame(spark, 100, 110))
    # the planner-side refusal surfaces as StreamingQueryException
    # from awaitTermination, carrying the source's message
    with pytest.raises(Exception, match="deletion vectors"):
        _run(spark, root, ckpt, out)
    # a FRESH query with ignoreChanges streams added files only
    ckpt2, out2 = (tempfile.mkdtemp(prefix=p)
                   for p in ("ms_c2_", "ms_o2_"))
    got = _run(spark, root, ckpt2, out2, startingVersion="latest")
    assert got.count() == 0       # already at head; nothing re-emitted
    t.append(_frame(spark, 110, 130))
    got = _run(spark, root, ckpt2, out2, startingVersion="latest",
               ignoreChanges="true")
    assert sorted(r["id"] for r in got.collect()) == \
        list(range(110, 130))


def test_read_change_feed_streams_row_level_deltas(spark):
    """readChangeFeed=true: the stream emits the commits' ROW-LEVEL
    change rows (table schema + _change_type + _commit_version) from
    the change-set files the writes committed — an insert feed at
    zero extra bytes, a delete feed classified; a version without a
    captured change set raises the changes() error."""
    import os

    root, out = (tempfile.mkdtemp(prefix=p) for p in ("cdf_t_",
                                                      "cdf_o_"))
    ckpt = os.path.join(tempfile.mkdtemp(prefix="cdf_c_"), "ck")
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    t.append(_frame(spark, 100, 150), cdf=True)              # v2
    t.delete_where(spark, F.expr("pmod(id, 10) = 3"),
                   cdf=True)                                 # v3
    spark.dataSource.register(ManifestDataSource)

    def run(ckpt_, out_, **opts):
        q = (spark.readStream.format("manifest")
             .options(**opts).option("readChangeFeed", "true")
             .load(root)
             .writeStream.format("parquet").option("path", out_)
             .option("checkpointLocation", ckpt_)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))
        return spark.read.parquet(out_)

    got = run(ckpt, out, startingVersion="1")
    assert got.columns[-2:] == ["_change_type", "_commit_version"]
    by = {(r["_change_type"], r["_commit_version"]): r["cnt"]
          for r in got.groupBy("_change_type", "_commit_version")
          .agg(F.count("*").alias("cnt")).collect()}
    n_deleted = sum(1 for i in range(150) if i % 10 == 3)
    assert by == {("insert", 2): 50, ("delete", 3): n_deleted}
    # deleted ids are the real rows, replayable downstream
    dels = sorted(r["id"] for r in got.where(
        F.col("_change_type") == "delete").collect())
    assert dels == [i for i in range(150) if i % 10 == 3]

    # v1 (create) captured no change set: replaying from 0 raises
    ckpt2, out2 = (tempfile.mkdtemp(prefix=p) for p in ("cdf_c2_",
                                                        "cdf_o2_"))
    with pytest.raises(Exception, match="without cdf"):
        run(ckpt2 + "/ck", out2)


def test_max_files_per_trigger_bounds_steady_state(spark):
    """Admission control: with maxFilesPerTrigger set, versions
    appended while the stream runs arrive in BOUNDED micro-batches
    (version-granular), not one giant catch-up — 4 appends of 4
    files each under a 5-file cap need at least 3 batches beyond
    the initial replay."""
    import glob
    import os
    import time

    root, out = (tempfile.mkdtemp(prefix=p) for p in ("msf_t_",
                                                      "msf_o_"))
    ckpt = os.path.join(tempfile.mkdtemp(prefix="msf_c_"), "ck")
    t = ManifestTable.create(_frame(spark, 0, 400), root, ts="pt")
    spark.dataSource.register(ManifestDataSource)
    q = (spark.readStream.format("manifest")
         .option("maxFilesPerTrigger", "5").load(root)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="1 seconds").start())

    def rows():
        if not glob.glob(out + "/*.parquet"):
            return 0
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    try:
        deadline = time.time() + 120
        while time.time() < deadline and rows() < 400:
            time.sleep(2)
        assert rows() == 400
        for i in range(4):          # steady state: 4 versions at once
            t.append(_frame(spark, 400 + i * 100, 500 + i * 100))
        deadline = time.time() + 180
        while time.time() < deadline and rows() < 800:
            time.sleep(2)
        assert rows() == 800
    finally:
        q.stop()
    commits = [c for c in os.listdir(ckpt + "/commits")
               if not c.startswith(".")]
    assert len(commits) >= 4        # 1 replay + >=3 capped batches


def test_initial_snapshot_masks_deletion_vectors(spark):
    """r10 ADVICE item 1 (high): a FRESH-checkpoint stream over a
    table whose live snapshot carries deletion vectors must NOT
    re-emit the DV-dead rows — the s==0 catch-up batch attaches each
    ref's DV sidecars as per-file positional masks, exactly like the
    batch DSv2 reader."""
    root, ckpt, out = (tempfile.mkdtemp(prefix=p)
                       for p in ("msdv_t_", "msdv_c_", "msdv_o_"))
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    t.delete_where(spark, F.expr("pmod(id, 9) = 0"), mode="dv")
    got = _run(spark, root, ckpt, out)
    live = [i for i in range(100) if i % 9 != 0]
    assert sorted(r["id"] for r in got.collect()) == live
    # tailing afterwards stays exactly-once on the same checkpoint
    t.append(_frame(spark, 100, 120))
    got = _run(spark, root, ckpt, out)
    assert sorted(r["id"] for r in got.collect()) == \
        live + list(range(100, 120))


def test_capped_catchup_from_zero_is_uncapped_and_vacuum_safe(spark):
    """r10 ADVICE item 3: with maxFilesPerTrigger set and the default
    startingVersion=0, the first batch is the full-snapshot replay —
    latestOffset must admit through live (not walk per-version diffs,
    which both caps a batch the docstring promises uncapped and dies
    on vacuum-trimmed early manifests)."""
    import os

    root, out = (tempfile.mkdtemp(prefix=p) for p in ("msv_t_",
                                                      "msv_o_"))
    ckpt = os.path.join(tempfile.mkdtemp(prefix="msv_c_"), "ck")
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    t.append(_frame(spark, 100, 150))        # v2
    t.compact(spark)                         # v3 rewrites v1/v2 files
    t.vacuum(retention_seconds=0)            # trims v1/v2 manifests
    got = _run(spark, root, ckpt, out, maxFilesPerTrigger="2")
    # one uncapped snapshot batch, all 150 rows, no FileNotFoundError
    assert got.count() == 150
    commits = [c for c in os.listdir(ckpt + "/commits")
               if not c.startswith(".")]
    assert len(commits) == 1


def test_rewrite_compaction_raises(spark):
    root, ckpt, out = (tempfile.mkdtemp(prefix=p)
                       for p in ("ms_t_", "ms_c_", "ms_o_"))
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    t.append(_frame(spark, 100, 140))
    assert _run(spark, root, ckpt, out).count() == 140
    t.compact(spark)                 # rewrites live files
    t.append(_frame(spark, 140, 150))
    with pytest.raises(Exception,
                       match="rewrote|dropped|deletion"):
        _run(spark, root, ckpt, out)


def test_backfill_chunked_bounded_exactly_once(spark):
    """VERDICT r10 #7: a 10-version backfill through
    backfill_manifest_stream lands in MULTIPLE bounded availableNow
    runs (endingVersion-stepped, version-granular file budget), with
    exactly-once results; a re-invoked backfill resumes from the
    checkpoint and re-runs nothing."""
    import os

    from stock_market_data_pipeline_spark.manifest_datasource import (
        backfill_manifest_stream,
    )

    root, out = (tempfile.mkdtemp(prefix=p) for p in ("bf_t_",
                                                      "bf_o_"))
    ckpt = os.path.join(tempfile.mkdtemp(prefix="bf_c_"), "ck")
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    for i in range(10):                   # v2..v11, 4 files each
        t.append(_frame(spark, 100 + i * 40, 140 + i * 40))

    def start(df):
        return (df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    runs = backfill_manifest_stream(
        spark, root, start, step_files=8, starting_version=1,
        checkpoint=ckpt)
    # 40 files at 8/budget -> 5 bounded runs, never one giant batch
    assert runs >= 3
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(100, 500))   # v2..v11 exactly once
    commits = [c for c in os.listdir(ckpt + "/commits")
               if not c.startswith(".")]
    assert len(commits) == runs
    # re-invoke: checkpoint resume -> zero runs, zero duplicates
    assert backfill_manifest_stream(
        spark, root, start, step_files=8, starting_version=1,
        checkpoint=ckpt) == 0
    assert spark.read.parquet(out).count() == 400


def test_plan_backfill_runs_matches_executed_walk(spark):
    """plan_backfill_runs is the DRY-RUN of the same admission loop
    backfill_manifest_stream executes: identical schedule length,
    identical ending versions, zero streaming runs to compute."""
    import os

    from stock_market_data_pipeline_spark.manifest_datasource import (
        backfill_manifest_stream,
        plan_backfill_runs,
    )

    root, out = (tempfile.mkdtemp(prefix=p) for p in ("bfp_t_",
                                                      "bfp_o_"))
    ckpt = os.path.join(tempfile.mkdtemp(prefix="bfp_c_"), "ck")
    t = ManifestTable.create(_frame(spark, 0, 100), root, ts="pt")
    for i in range(6):                    # v2..v7, 4 files each
        t.append(_frame(spark, 100 + i * 40, 140 + i * 40))

    sched = plan_backfill_runs(root, step_files=8,
                               starting_version=1)
    assert sched[-1] == t.version()
    assert sched == sorted(set(sched))    # strictly increasing
    # a version never splits: each run advances >= 1 version
    assert len(sched) >= 3                # 24 files / 8-file budget

    def start(df):
        return (df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    runs = backfill_manifest_stream(
        spark, root, start, step_files=8, starting_version=1,
        checkpoint=ckpt)
    assert runs == len(sched)
    # full-snapshot replay (starting_version=0) plans as ONE run
    assert plan_backfill_runs(root, step_files=8) == [t.version()]


def test_incremental_batch_opens_only_changed_shards(spark, monkeypatch):
    """A micro-batch costs O(changed partitions): two files appended
    to 1 of 40 partitions open that partition's old and new shards
    (the append-only check and the diff), never the other 39 — not
    even to size the files for packing."""
    from stock_market_data_pipeline_spark.manifest_datasource import (
        ManifestStreamReader)

    root = tempfile.mkdtemp(prefix="ms_shards_")
    t = ManifestTable.create(
        spark.range(0, 400).select(
            F.col("id"), (F.col("id") % 40).cast("string").alias("pt")),
        root, ts="pt")
    for lo in (1000, 2000):                         # v2, v3
        t.append(spark.range(lo, lo + 5)
                 .select(F.col("id"), F.lit("7").alias("pt")))
    rdr = ManifestStreamReader(root, t._raw()["schema"], {})
    opened, real = [], ManifestTable._entries

    def counting(self, mf, value):
        opened.append(value)
        return real(self, mf, value)

    monkeypatch.setattr(ManifestTable, "_entries", counting)
    parts = rdr.partitions({"version": 1}, {"version": 3})
    monkeypatch.undo()
    assert len(opened) <= 4 and set(opened) == {"7"}
    got = sorted(r["id"] for p in parts for b in rdr.read(p)
                 for r in b.to_pylist())
    assert got == [*range(1000, 1005), *range(2000, 2005)]
