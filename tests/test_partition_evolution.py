"""Partition-spec EVOLUTION (Iceberg's metadata-only repartitioning,
VERDICT r10 "What's missing" #4's second half): evolve the transform
without rewriting data; each ref prunes under ITS era's spec; rewriting
ops migrate lazily; DV/update addresses target the OWNING partition."""

import os

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import (
    ManifestTable,
)


def _bars(spark, months=(1, 2, 3), days=(5, 20)):
    rows = [(f"2024-{m:02d}-{d:02d}", f"T{i % 4}", float(i))
            for i, (m, d) in enumerate(
                (m, d) for m in months for d in days)]
    return spark.createDataFrame(
        rows, "trade_date string, ticker string, px double")


def _mk_evolved(spark, tmp_path, name="t"):
    """identity-partitioned daily table, evolved to month: 6 old-era
    day partitions, then one append landing under the month spec."""
    df = _bars(spark)
    t = ManifestTable.create(df, str(tmp_path / name), "trade_date")
    t.evolve_partition("month")
    t.append(spark.createDataFrame(
        [("2024-04-10", "T9", 99.0), ("2024-04-25", "T9", 98.0)],
        df.schema))
    return t, df


def test_evolve_is_metadata_only_and_stamps_eras(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    mf = t._raw()
    assert mf["pt_history"] == [None, {"fn": "month"}]
    assert mf["pt"] == {"fn": "month"}
    pids = {v: r["pid"] for v, r in mf["partitions"].items()}
    assert pids["2024-04"] == 1
    assert all(p == 0 for v, p in pids.items() if v != "2024-04")
    # both eras present, no data rewritten for the old ones
    assert sorted(mf["partitions"]) == [
        "2024-01-05", "2024-01-20", "2024-02-05", "2024-02-20",
        "2024-03-05", "2024-03-20", "2024-04"]


def test_per_era_pruning(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    plan = t.scan_plan({"trade_date": ("2024-02-01", "2024-02-28")})
    assert plan["partitions"] == ["2024-02-05", "2024-02-20"]
    plan = t.scan_plan({"trade_date": ("2024-04-01", None)})
    assert plan["partitions"] == ["2024-04"]
    # a range spanning both eras keeps exactly the right refs of each
    plan = t.scan_plan({"trade_date": ("2024-03-10", "2024-04-15")})
    assert plan["partitions"] == ["2024-03-20", "2024-04"]
    got = (t.read(spark,
                  where={"trade_date": ("2024-03-10", "2024-04-15")})
           .where(F.col("trade_date").between("2024-03-10",
                                              "2024-04-15")))
    assert sorted(r["trade_date"] for r in got.collect()) \
        == ["2024-03-20", "2024-04-10"]


def test_read_totals_across_eras(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    assert t.read(spark).count() == df.count() + 2


@pytest.mark.parametrize("write", ["merge", "merge_batch"])
def test_merge_migrates_old_partitions(spark, tmp_path, write):
    t, df = _mk_evolved(spark, tmp_path)
    up = spark.createDataFrame(
        [("2024-02-05", "T2", 777.0),      # matches a row in an OLD-era ref
         ("2024-05-05", "T0", 5.0)],       # brand new month
        df.schema)
    if write == "merge":
        t.merge(spark, up, keys=["ticker", "trade_date"])
    else:
        # the streaming sink must land the same table as the batch merge
        t.merge_batch(spark, up, ["ticker", "trade_date"],
                      stream_id="s", batch_id=0)
    r = t.read(spark)
    # 6 base + 2 appended + 1 new-month insert; the Feb row UPDATED
    assert r.count() == df.count() + 3
    assert r.where("trade_date='2024-02-05' and ticker='T2'"
                   ).first()["px"] == 777.0
    assert r.where("trade_date='2024-02-05'").count() == 1
    mf = t._raw()
    # the touched old-era day partition migrated into its month
    assert "2024-02-05" not in mf["partitions"]
    assert mf["partitions"]["2024-02"]["pid"] == 1
    assert "2024-05" in mf["partitions"]
    # untouched old-era refs still there, era intact
    assert mf["partitions"]["2024-03-05"]["pid"] == 0


def test_merge_dv_finds_matches_in_old_eras(spark, tmp_path):
    """Two rows share the old-era day partition; a dv-merge of one
    must dead-mark it on the OWNING ref (which survives with its
    other row) and append the new image under the ACTIVE era."""
    rows = [("2024-02-05", "A", 1.0), ("2024-02-05", "B", 2.0),
            ("2024-03-05", "A", 3.0)]
    df = spark.createDataFrame(
        rows, "trade_date string, ticker string, px double")
    t = ManifestTable.create(df, str(tmp_path / "t"), "trade_date")
    t.evolve_partition("month")
    up = spark.createDataFrame(
        [("2024-02-05", "A", 555.0)], df.schema)
    res = t.merge(spark, up, keys=["ticker", "trade_date"],
                  mode="dv")
    assert res == {"rows_dead": 1, "rows_appended": 1}
    r = t.read(spark)
    assert r.where("ticker='A' and trade_date='2024-02-05'"
                   ).first()["px"] == 555.0
    assert r.count() == 3                  # no duplicate
    mf = t._raw()
    # the DV landed on the OWNING old-era ref, which keeps row B
    assert mf["partitions"]["2024-02-05"].get("dv_rows") == 1
    assert mf["partitions"]["2024-02-05"]["pid"] == 0
    # the new image landed under the ACTIVE month spec
    assert mf["partitions"]["2024-02"]["pid"] == 1


def test_delete_where_across_eras(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    res = t.delete_where(
        spark, "trade_date >= '2024-03-01'",
        where={"trade_date": ("2024-03-01", None)})
    assert res["rows_deleted"] == 4        # 2 march days + 2 april rows
    r = t.read(spark)
    assert r.count() == df.count() - 2
    assert r.where("trade_date >= '2024-03-01'").count() == 0
    mf = t._raw()
    assert "2024-03-05" not in mf["partitions"]
    assert "2024-04" not in mf["partitions"]


def test_delete_restages_into_live_active_era_ref(spark, tmp_path):
    """A rewrite delete restages an old-era ref's surviving rows under
    the ACTIVE spec; when that value is already live they must join
    its ref, not replace it (which dropped the active-era rows)."""
    schema = "trade_date string, ticker string, px double"
    t = ManifestTable.create(spark.createDataFrame(
        [("2024-03-05", "A", 1.0), ("2024-03-05", "B", 2.0)], schema),
        str(tmp_path / "t"), "trade_date")
    t.evolve_partition("month")
    t.append(spark.createDataFrame([("2024-03-10", "C", 3.0)], schema))
    assert t.delete_where(spark, "ticker = 'A'")["rows_deleted"] == 1
    assert sorted(r["ticker"] for r in t.read(spark).collect()) == [
        "B", "C"]
    assert sorted(t._raw()["partitions"]) == ["2024-03"]


def test_delete_dv_targets_owning_ref(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    res = t.delete_where(spark, "trade_date = '2024-01-05'",
                         mode="dv")
    assert res["rows_deleted"] == 1
    mf = t._raw()
    # the day ref is fully dead -> dropped outright
    assert "2024-01-05" not in mf["partitions"]
    assert t.read(spark).where(
        "trade_date = '2024-01-05'").count() == 0


def test_update_where_moves_rows_to_active_era(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    res = t.update_where(
        spark, {"trade_date": F.lit("2024-06-01")},
        "trade_date = '2024-01-20'")
    assert res["rows_updated"] == 1
    mf = t._raw()
    assert "2024-06" in mf["partitions"]          # active-era landing
    assert mf["partitions"]["2024-06"]["pid"] == 1
    r = t.read(spark)
    assert r.where("trade_date = '2024-06-01'").count() == 1
    assert r.where("trade_date = '2024-01-20'").count() == 0
    assert r.count() == df.count() + 2


def test_compact_migrates_everything(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    before = t.read(spark).count()
    t.compact(spark, min_files=1)
    mf = t._raw()
    assert sorted(mf["partitions"]) == [
        "2024-01", "2024-02", "2024-03", "2024-04"]
    assert all(r["pid"] == 1 for r in mf["partitions"].values())
    assert t.read(spark).count() == before
    plan = t.scan_plan({"trade_date": ("2024-02-01", "2024-02-28")})
    assert plan["partitions"] == ["2024-02"]


@pytest.mark.parametrize("write", ["append", "append_batch"])
def test_mixed_ref_never_partition_prunes_wrong(spark, tmp_path, write):
    """bucket(2) -> bucket(4) shares value strings across eras: an
    append that collides marks the ref era-MIXED (pid -1), which must
    disable partition pruning for it — a probe under either spec must
    still see its rows."""
    df = spark.createDataFrame(
        [(f"K{i}", float(i)) for i in range(40)],
        "k string, v double")
    t = ManifestTable.create(df, str(tmp_path / "b"), "k",
                             partition=("bucket", 2))
    t.evolve_partition(("bucket", 4))
    extra = spark.createDataFrame(
        [(f"N{i}", 100.0 + i) for i in range(40)], df.schema)
    if write == "append":
        t.append(extra)
    else:
        t.append_batch(extra, "s", 0)
    mf = t._raw()
    assert any(r.get("pid") == -1 for r in mf["partitions"].values())
    for probe in ["K3", "N7", "K11", "N0"]:
        got = (t.read(spark, where={"k": [probe]})
               .where(F.col("k") == probe).count())
        assert got == 1, probe


def test_clone_preserves_history_and_eras(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    c = t.clone(str(tmp_path / "c"))
    cmf = c._raw()
    assert cmf["pt_history"] == [None, {"fn": "month"}]
    assert cmf["partitions"]["2024-04"]["pid"] == 1
    assert cmf["partitions"]["2024-01-05"]["pid"] == 0
    plan = c.scan_plan({"trade_date": ("2024-04-01", None)})
    assert plan["partitions"] == ["2024-04"]
    assert c.read(spark).count() == t.read(spark).count()


def test_time_travel_reads_under_old_spec(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    # version 1 = pre-evolution identity snapshot
    old = t.scan_plan({"trade_date": ("2024-02-01", "2024-02-28")},
                      manifest_name=t._mname(1))
    assert old["partitions"] == ["2024-02-05", "2024-02-20"]
    assert t.read(spark, manifest_name=t._mname(1)).count() \
        == df.count()


def test_count_where_across_eras(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    res = t.count_where(spark, "trade_date",
                        "2024-02-01", "2024-04-30")
    exp = (t.read(spark)
           .where(F.col("trade_date").between("2024-02-01",
                                              "2024-04-30")).count())
    assert res["count"] == exp
    assert res["files_skipped"] > 0


def test_evolve_guards(spark, tmp_path):
    df = _bars(spark)
    t = ManifestTable.create(df, str(tmp_path / "t"), "trade_date",
                             partition="month")
    with pytest.raises(ValueError, match="already the active"):
        t.evolve_partition("month")
    t.evolve_partition("days")
    t.evolve_partition(None)               # back to identity
    mf = t._raw()
    assert mf["pt_history"] == [{"fn": "month"}, {"fn": "days"}, None]
    assert "pt" not in mf
    un = ManifestTable.create(
        spark.createDataFrame([(1,)], "a int"),
        str(tmp_path / "u"), ts=None)
    with pytest.raises(ValueError, match="unpartitioned"):
        un.evolve_partition("month")


def test_dsv2_write_stages_under_active_spec_on_evolved_table(
        spark, tmp_path):
    """VERDICT r12 "Next round" #3: df.write.format('manifest') on a
    partition-EVOLVED table stages under the ACTIVE spec exactly like
    ManifestTable.append — old-era refs untouched, new refs stamped
    with the active era, cross-era pruning intact."""
    t, df = _mk_evolved(spark, tmp_path)   # day -> month, 04 appended
    from stock_market_data_pipeline_spark.manifest_datasource import (
        ManifestDataSource,
    )
    spark.dataSource.register(ManifestDataSource)
    extra = spark.createDataFrame(
        [("2024-05-02", "T5", 50.0), ("2024-05-19", "T5", 51.0)],
        df.schema)
    extra.write.format("manifest").mode("append").save(t.root)
    mf = t._raw()
    assert mf["partitions"]["2024-05"]["pid"] == 1
    assert all(mf["partitions"][v]["pid"] == 0
               for v in mf["partitions"]
               if v.count("-") == 2)       # old-era day refs untouched
    assert t.read(spark).count() == df.count() + 2 + 2
    plan = t.scan_plan({"trade_date": ("2024-05-01", "2024-05-31")})
    assert plan["partitions"] == ["2024-05"]
    # a probe into an OLD era still prunes under the old spec
    plan = t.scan_plan({"trade_date": ("2024-02-01", "2024-02-28")})
    assert plan["partitions"] == ["2024-02-05", "2024-02-20"]


def test_dsv2_write_collision_marks_ref_era_mixed(spark, tmp_path):
    """A DSv2 append whose active-spec value collides with an OLD-era
    ref's value string must mark the merged ref era-MIXED (pid -1) so
    scan_plan never partition-prunes it under either interpretation —
    the bucket(2)->bucket(4) shape test_mixed_ref_never_partition_
    prunes_wrong drives through ManifestTable.append, here through
    df.write."""
    df = spark.createDataFrame(
        [(f"K{i}", float(i)) for i in range(40)],
        "k string, v double")
    t = ManifestTable.create(df, str(tmp_path / "b"), "k",
                             partition=("bucket", 2))
    t.evolve_partition(("bucket", 4))
    from stock_market_data_pipeline_spark.manifest_datasource import (
        ManifestDataSource,
    )
    spark.dataSource.register(ManifestDataSource)
    extra = spark.createDataFrame(
        [(f"N{i}", 100.0 + i) for i in range(40)], df.schema)
    (extra.coalesce(1)        # tiny frame: dodge the spray guard
     .write.format("manifest").mode("append").save(t.root))
    mf = t._raw()
    assert any(r.get("pid") == -1 for r in mf["partitions"].values())
    assert t.read(spark).count() == 80
    for probe in ["K3", "N7", "K11", "N0"]:
        got = (t.read(spark, where={"k": [probe]})
               .where(F.col("k") == probe).count())
        assert got == 1, probe


def test_vacuum_keeps_both_eras_live(spark, tmp_path):
    t, df = _mk_evolved(spark, tmp_path)
    t.vacuum(retention_seconds=0.0)
    assert t.read(spark).count() == df.count() + 2


def test_compact_merges_into_colliding_live_partition(spark, tmp_path):
    """ADVICE r12 (high): a DV'd old-era day ref migrates into its
    month value under compaction; when that month ALREADY holds rows
    appended under the new spec, the staged rewrite must MERGE into
    the live ref, not replace it — replacing silently dropped every
    previously-appended row of that month."""
    schema = "trade_date string, ticker string, px double"
    df = spark.createDataFrame(
        [("2024-01-05", "T0", 0.0), ("2024-01-05", "T1", 1.0),
         ("2024-01-05", "T2", 2.0), ("2024-02-05", "T0", 3.0),
         ("2024-02-05", "T1", 4.0)], schema)
    t = ManifestTable.create(df, str(tmp_path / "t"), "trade_date")
    t.evolve_partition("month")
    # rows appended under the NEW spec into January itself — the
    # collision target for the old-era day refs' migration
    t.append(spark.createDataFrame(
        [("2024-01-11", "T7", 71.0), ("2024-01-12", "T7", 72.0)],
        schema))
    # DV one row of the old-era January day ref, leaving survivors, so
    # default-min_files compaction selects it (dv'd partitions always
    # compact) and NOTHING else
    t.delete_where(spark, F.col("px") == 0.0, mode="dv")
    before = t.read(spark).count()
    assert before == df.count() + 2 - 1
    res = t.compact(spark)                        # min_files=2 default
    assert res["partitions"] == 1
    mf = t._raw()
    # the old-era day key is gone; its survivors merged into 2024-01
    assert "2024-01-05" not in mf["partitions"]
    assert t.read(spark).count() == before
    got = {(r["trade_date"], r["ticker"])
           for r in t.read(
               spark, where={"trade_date": ("2024-01-01",
                                            "2024-01-31")}).collect()}
    assert ("2024-01-11", "T7") in got and ("2024-01-12", "T7") in got
    assert ("2024-01-05", "T1") in got            # DV survivor migrated
    assert ("2024-01-05", "T0") not in got        # the DV'd row stays dead


def test_compact_rebase_keeps_concurrent_append_on_staged_key(
        spark, tmp_path):
    """ADVICE r12 (high), second half: a concurrent append landing on
    a STAGED collision key between compact's read and its commit must
    survive the rebase — the merged map is rebuilt from the newer
    snapshot, so the competitor's rows ride along instead of being
    fingerprint-blind-spotted."""
    schema = "trade_date string, ticker string, px double"
    df = spark.createDataFrame(
        [("2024-01-05", "T0", 0.0), ("2024-01-05", "T1", 1.0),
         ("2024-02-05", "T0", 3.0), ("2024-02-05", "T1", 4.0)],
        schema)
    t = ManifestTable.create(df, str(tmp_path / "t"), "trade_date")
    t.evolve_partition("month")
    t.delete_where(spark, F.col("px") == 0.0, mode="dv")
    competitor = ManifestTable(t.root, ts=t.ts)
    extra = spark.createDataFrame(
        [("2024-01-13", "T8", 81.0)], schema)
    orig_commit = t._commit
    state = {"fired": False}

    def racing_commit(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            competitor.append(extra)      # bumps version -> conflict
        return orig_commit(*a, **kw)

    t._commit = racing_commit
    try:
        t.compact(spark)
    finally:
        t._commit = orig_commit
    assert state["fired"]                 # the race actually happened
    got = t.read(spark).collect()
    assert ("2024-01-13", "T8", 81.0) in [
        (r["trade_date"], r["ticker"], r["px"]) for r in got]
    assert len(got) == df.count() + 1 - 1
