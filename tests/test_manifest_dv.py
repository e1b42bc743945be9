"""Merge-on-read DELETE via deletion vectors
(manifest.py delete_where(mode="dv") / _stage_dv / _read_files).

The contract under test (Delta deletion vectors / Iceberg positional
deletes, finished per r9 ADVICE item 2): a dv delete rewrites NO data
file — it commits tiny (rel, row_index) sidecars attached to the
touched refs — yet every read path (snapshot read, merge read-back,
compaction, count_where boundary reads) excludes the addressed rows;
vacuum treats sidecars as live; a compact() materializes the delete;
and the conflict matrix treats a DV change like the partition rewrite
it semantically is (shard-only fingerprints would resurrect rows).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import (
    CommitConflict,
    CrashInjected,
    ManifestTable,
)
from tests.test_manifest import BASE, UPDATES, _mkdf, _sibling, _snap


@pytest.fixture()
def dvt(spark, tmp_path):
    return ManifestTable.create(
        _mkdf(spark, BASE), str(tmp_path / "dvt"), ts="trade_date")


def _live_paths(t):
    mf = t._raw()
    return sorted(e["path"] for v in mf["partitions"]
                  for e in t._entries(mf, v))


def test_dv_delete_removes_rows_without_rewriting(spark, dvt):
    before = _live_paths(dvt)
    out = dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    assert out == {"rows_deleted": 3, "partitions_rewritten": 0,
                   "partitions_dropped": 0}
    # the whole point: the data file set is bit-identical
    assert _live_paths(dvt) == before
    got = _snap(dvt.read(spark))
    assert all(r[0] != "AAA" for r in got)
    assert len(got) == 3
    # refs carry the sidecars and exact dead counts
    mf = dvt._raw()
    assert all(r.get("dv") and r["dv_rows"] == 1
               for r in mf["partitions"].values())
    # history reports LIVE rows
    assert dvt.history()[-1]["rows"] == 3


def test_dv_rel_addresses_match_driver_relpath(spark, dvt):
    """The __rel derivation (r9 ADVICE item 2's latent prefix bug):
    the JVM-side URI normalization must yield exactly the driver's
    root-relative path for every live file — this is what makes DV
    addresses stable across URI renderings and table moves."""
    mf = dvt._raw()
    files = dvt._part_records(mf, list(mf["partitions"]))
    df = dvt._read_files(spark, files, mf, keep_pos=True)
    rels = {r["__rel"] for r in df.select("__rel").distinct().collect()}
    expected = {e["path"] for v in mf["partitions"]
                for e in dvt._entries(mf, v)}
    assert rels == expected


def test_dv_in_uri_encoded_root_stays_consistent(spark, tmp_path):
    """r10 ADVICE item 2: a table root with characters Spark
    URI-encodes (space) must still produce plain root-relative DV
    addresses — the __rel derivation percent-decodes _metadata.file_path
    after stripping the scheme, so the stored rels match both the
    broadcast anti-join read AND the DSv2 readers' os.path.relpath
    comparisons (a divergence here silently resurrects deleted rows)."""
    from stock_market_data_pipeline_spark.manifest_datasource import (
        ManifestDataSource,
    )

    root = str(tmp_path / "dv table #enc")
    t = ManifestTable.create(_mkdf(spark, BASE), root, ts="trade_date")
    out = t.delete_where(spark, "ticker = 'AAA'", mode="dv")
    assert out["rows_deleted"] == 3
    # stored rels are plain (decoded, root-relative) paths
    mf = t._raw()
    import pyarrow.parquet as pq
    rels = set()
    for v in mf["partitions"].values():
        for d in v.get("dv", []):
            rels.update(pq.read_table(
                os.path.join(root, d["path"]),
                columns=["rel"]).column("rel").to_pylist())
    assert all("%" not in r and not r.startswith("/") for r in rels)
    live = {e["path"] for v in mf["partitions"]
            for e in t._entries(mf, v)}
    assert rels <= live
    # both read paths exclude the deleted rows
    got = _snap(t.read(spark))
    assert all(r[0] != "AAA" for r in got) and len(got) == 3
    spark.dataSource.register(ManifestDataSource)
    push = "spark.sql.python.filterPushdown.enabled"
    prior = spark.conf.get(push, "false")
    spark.conf.set(push, "true")
    try:
        ds = spark.read.format("manifest").load(root)
        assert ds.where("ticker = 'AAA'").count() == 0
        assert ds.count() == 3
    finally:
        spark.conf.set(push, prior)


def test_dv_second_delete_never_readdresses_dead_rows(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    # overlapping condition: the AAA rows are already dead, so only
    # the BBB 01-02 row matches the second pass
    out = dvt.delete_where(
        spark, "trade_date = DATE'2024-01-02'", mode="dv")
    assert out["rows_deleted"] == 1, (
        "the already-dead AAA row must not be re-addressed")
    # 01-02's dead count reached its row count exactly BECAUSE the
    # second pass added 1 (not 2): the partition drops
    assert out["partitions_dropped"] == 1
    mf = dvt._raw()
    assert "2024-01-02" not in mf["partitions"]
    assert _snap(dvt.read(spark)) == _snap(_mkdf(spark, [
        ("BBB", "2024-01-03", 21.0), ("BBB", "2024-01-04", 22.0)]))


def test_dv_delete_with_null_condition_keeps_rows(spark, dvt):
    """SQL DELETE three-valued logic holds in dv mode too: a NULL
    condition keeps the row."""
    dvt.append(_mkdf(spark, [(None, "2024-01-02", 10.0)]))
    out = dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    assert out["rows_deleted"] == 3
    got = dvt.read(spark)
    assert got.where(F.col("ticker").isNull()).count() == 1


def test_dv_partition_fully_dead_drops(spark, dvt):
    out = dvt.delete_where(
        spark, "trade_date = DATE'2024-01-03'", mode="dv")
    assert out == {"rows_deleted": 2, "partitions_rewritten": 0,
                   "partitions_dropped": 1}
    assert "2024-01-03" not in dvt._raw()["partitions"]
    assert dvt.read(spark).count() == 4


def test_dv_time_travel_and_restore(spark, dvt):
    v0 = dvt.version()
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    old = dvt.read(spark, manifest_name=f"manifest-{v0:08d}.json")
    assert old.count() == 6, "pre-delete snapshot must keep all rows"
    dvt.restore(v0)
    assert dvt.read(spark).count() == 6
    assert all("dv" not in r
               for r in dvt._raw()["partitions"].values())


def test_dv_vacuum_keeps_sidecars_and_read_survives(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    removed = dvt.vacuum(retention_seconds=0.0)
    # nothing live may go: neither data files nor dv sidecars
    assert dvt.read(spark).count() == 3
    mf = dvt._raw()
    for r in mf["partitions"].values():
        for e in r.get("dv", []):
            assert os.path.exists(os.path.join(dvt.root, e["path"])), (
                f"vacuum reclaimed live dv sidecar {e['path']}"
                f" (removed={removed})")


def test_dv_compact_materializes_then_vacuum_reclaims(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    sidecars = [os.path.join(dvt.root, e["path"])
                for r in dvt._raw()["partitions"].values()
                for e in r.get("dv", [])]
    # single-file partitions still compact BECAUSE they carry DVs
    out = dvt.compact(spark)
    assert out["partitions"] == 3
    mf = dvt._raw()
    assert all("dv" not in r for r in mf["partitions"].values())
    assert _snap(dvt.read(spark)) == _snap(_mkdf(spark, [
        ("BBB", "2024-01-02", 20.0), ("BBB", "2024-01-03", 21.0),
        ("BBB", "2024-01-04", 22.0)]))
    # with the DVs materialized and history expired, the sidecars age out
    dvt.vacuum(retention_seconds=0.0)
    assert all(not os.path.exists(p) for p in sidecars)
    assert dvt.read(spark).count() == 3


def test_dv_append_preserves_deletions(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    dvt.append(_mkdf(spark, [("DDD", "2024-01-02", 40.0)]))
    got = _snap(dvt.read(spark))
    assert ("AAA", ) not in {(r[0],) for r in got}
    assert len(got) == 4, (
        "append to a dv'd partition must keep prior deletions AND "
        "show the new rows")
    ref = dvt._raw()["partitions"]["2024-01-02"]
    assert ref["dv_rows"] == 1 and ref["files"] == 2


def test_dv_merge_does_not_resurrect(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    dvt.merge(spark, _mkdf(spark, UPDATES), ["ticker", "trade_date"])
    got = _snap(dvt.read(spark))
    # the merge re-inserts AAA keys it carries (they are new rows by
    # merge semantics), but the 01-02 AAA row it never mentioned must
    # stay dead
    assert ("AAA", ) not in {
        (r[0],) for r in got if str(r[1]) == "2024-01-02"}
    # touched partitions were rewritten: their dv is materialized away
    mf = dvt._raw()
    assert "dv" not in mf["partitions"]["2024-01-03"]
    assert "dv" not in mf["partitions"]["2024-01-04"]
    # untouched partition keeps its dv
    assert mf["partitions"]["2024-01-02"].get("dv")


def test_dv_count_where_subtracts_exactly(spark, dvt):
    dvt.delete_where(spark, "close = 10.0", mode="dv")   # AAA 01-02
    out = dvt.count_where(spark, "close", lo=0.0, hi=100.0)
    assert out["count"] == 5
    # the fully-contained dv'd partition is answered from metadata
    assert out["rows_from_metadata"] == 5
    assert out["files_read"] == 0
    # a range whose boundary crosses the dv'd partition reads exactly
    out2 = dvt.count_where(spark, "close", lo=10.0, hi=20.0)
    assert out2["count"] == 3          # 20.0, 11.0, 12.0 (10.0 dead)
    assert out2["files_read"] >= 1


def test_dv_crash_before_commit_leaves_table_intact(spark, dvt):
    with pytest.raises(CrashInjected):
        dvt.delete_where(spark, "ticker = 'AAA'", mode="dv",
                         _crash_before_commit=True)
    assert dvt.read(spark).count() == 6
    assert all("dv" not in r
               for r in dvt._raw()["partitions"].values())
    dvt.vacuum(retention_seconds=0.0)
    assert dvt.read(spark).count() == 6


def test_dv_conflict_raises_when_touched_partition_changed(spark, dvt):
    """Positional addresses are valid only against the file set they
    were computed over: a competitor landing on a touched partition
    between scan and commit must surface CommitConflict, not rebase."""
    mf = dvt._raw()
    plan = dvt.scan_plan()
    _sibling(dvt).append(_mkdf(spark, [("EEE", "2024-01-02", 50.0)]))
    with pytest.raises(CommitConflict, match="row position"):
        dvt._delete_dv(spark, F.expr("ticker = 'AAA'"), plan, mf,
                       False, False)


def test_dv_conflict_rebases_over_disjoint_commit(spark, dvt):
    mf = dvt._raw()
    plan = dvt.scan_plan()
    # competitor creates a brand-new partition: disjoint, rebase
    _sibling(dvt).append(_mkdf(spark, [("EEE", "2024-01-09", 50.0)]))
    out = dvt._delete_dv(spark, F.expr("ticker = 'AAA'"), plan, mf,
                         False, False)
    assert out["rows_deleted"] == 3
    got = _snap(dvt.read(spark))
    assert len(got) == 4 and ("EEE", ) in {(r[0],) for r in got}


def test_compact_conflict_detects_concurrent_dv_delete(
        spark, dvt, monkeypatch):
    """The fingerprint upgrade: a DV delete changes a partition's live
    rows WITHOUT changing its shard.  A compaction staged from the
    pre-delete snapshot must raise, not rebase — rebasing would commit
    files that resurrect the deleted rows."""
    orig = dvt._stage

    def hooked(df, **kw):
        out = orig(df, **kw)
        if not hooked.done:
            hooked.done = True
            _sibling(dvt).delete_where(
                spark, "ticker = 'AAA'", mode="dv")
        return out

    hooked.done = False
    monkeypatch.setattr(dvt, "_stage", hooked)
    with pytest.raises(CommitConflict, match="compact"):
        dvt.compact(spark, min_files=1)
    # and the delete's effect is intact
    assert dvt.read(spark).count() == 3


def test_dv_mode_validated(spark, dvt):
    with pytest.raises(ValueError, match="rewrite"):
        dvt.delete_where(spark, "ticker = 'AAA'", mode="nope")


def test_dv_cdf_classifies_deleted_rows(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv", cdf=True)
    feed = dvt.changes(spark, dvt.version())
    rows = feed.collect()
    assert len(rows) == 3
    assert all(r["_change_type"] == "delete" and r["ticker"] == "AAA"
               for r in rows)


# -- merge-on-read UPDATE (update_where) ------------------------------

def test_update_where_changes_rows_without_rewriting(spark, dvt):
    before = _live_paths(dvt)
    out = dvt.update_where(spark, {"close": "close + 100.0"},
                           "ticker = 'AAA'")
    assert out == {"rows_updated": 3, "partitions_rewritten": 0,
                   "partitions_touched": 3}
    # old files all still live (plus the appended update images)
    after = _live_paths(dvt)
    assert set(before) <= set(after)
    got = _snap(dvt.read(spark))
    assert got == _snap(_mkdf(spark, [
        ("AAA", "2024-01-02", 110.0), ("BBB", "2024-01-02", 20.0),
        ("AAA", "2024-01-03", 111.0), ("BBB", "2024-01-03", 21.0),
        ("AAA", "2024-01-04", 112.0), ("BBB", "2024-01-04", 22.0)]))
    assert dvt.history()[-1]["rows"] == 6


def test_update_where_null_condition_keeps_rows(spark, dvt):
    dvt.append(_mkdf(spark, [(None, "2024-01-02", 7.0)]))
    out = dvt.update_where(spark, {"close": "0.0"}, "ticker = 'AAA'")
    assert out["rows_updated"] == 3
    row = dvt.read(spark).where(F.col("ticker").isNull()).collect()
    assert len(row) == 1 and row[0]["close"] == 7.0


def test_update_where_moves_rows_across_partitions(spark, dvt):
    """Assigning the partition column: the DV kills the old position,
    the new image lands in its new partition."""
    out = dvt.update_where(
        spark, {"trade_date": "DATE'2024-01-09'"},
        "trade_date = DATE'2024-01-02'")
    assert out["rows_updated"] == 2
    mf = dvt._raw()
    # the source partition became fully dead and dropped
    assert "2024-01-02" not in mf["partitions"]
    assert "2024-01-09" in mf["partitions"]
    got = dvt.read(spark)
    assert got.count() == 6
    assert got.where(F.col("trade_date") ==
                     F.lit("2024-01-09").cast("date")).count() == 2


def test_update_where_second_update_sees_first(spark, dvt):
    dvt.update_where(spark, {"close": "close + 1.0"}, "close = 10.0")
    out = dvt.update_where(spark, {"close": "close + 1.0"},
                           "close = 10.0")
    assert out["rows_updated"] == 0, (
        "the first update's postimage (11.0) must be what the second "
        "condition evaluates against")
    assert dvt.read(spark).where(F.col("close") == 11.0).count() == 2


def test_update_where_cdf_pre_and_post_images(spark, dvt):
    dvt.update_where(spark, {"close": "close * 2.0"},
                     "ticker = 'BBB'", cdf=True)
    feed = dvt.changes(spark, dvt.version())
    pre = feed.where(F.col("_change_type") == "update_preimage")
    post = feed.where(F.col("_change_type") == "update_postimage")
    assert pre.count() == 3 and post.count() == 3
    assert sorted(r["close"] for r in post.collect()) == [40.0, 42.0,
                                                          44.0]
    # and ivm folds the update exactly
    from stock_market_data_pipeline_spark.operators.ivm import (
        apply_cdf_delta,
        sum_count_view,
    )
    v0 = dvt.read(spark, manifest_name=(
        f"manifest-{dvt.version() - 1:08d}.json"))
    view = sum_count_view(v0, ["ticker"], ["close"])
    folded = apply_cdf_delta(view, feed, ["ticker"], ["close"])
    rebuilt = sum_count_view(dvt.read(spark), ["ticker"], ["close"])
    assert _snap(folded) == _snap(rebuilt)


def test_update_where_crash_before_commit(spark, dvt):
    with pytest.raises(CrashInjected):
        dvt.update_where(spark, {"close": "0.0"}, "ticker = 'AAA'",
                         _crash_before_commit=True)
    assert _snap(dvt.read(spark)) == _snap(_mkdf(spark, BASE))


def test_update_where_conflict_vs_rebase(spark, dvt):
    """A competitor on a touched partition raises; a disjoint one
    rebases — driven through the real API by racing two handles."""
    import threading

    errs: list = []

    def racer():
        try:
            _sibling(dvt).update_where(
                spark, {"close": "close + 1000.0"}, "ticker = 'BBB'")
        except CommitConflict as e:          # acceptable outcome
            errs.append(e)

    t = threading.Thread(target=racer)
    t.start()
    try:
        dvt.update_where(spark, {"close": "close + 0.5"},
                         "ticker = 'AAA'")
    except CommitConflict as e:
        errs.append(e)
    t.join()
    # at least one side landed; whoever lost surfaced loudly instead
    # of silently dropping the winner's DVs; and no row was lost
    assert dvt.read(spark).count() == 6
    closes = {r["close"] for r in dvt.read(spark).collect()}
    # each ticker's rows reflect EXACTLY the updates that committed
    if not errs:
        assert {10.5, 11.5, 12.5} <= closes
        assert {1020.0, 1021.0, 1022.0} <= closes


def test_update_where_validates_columns(spark, dvt):
    from stock_market_data_pipeline_spark.manifest import SchemaMismatch
    with pytest.raises(SchemaMismatch, match="unknown column"):
        dvt.update_where(spark, {"nope": "1"}, "ticker = 'AAA'")


def test_update_then_compact_materializes(spark, dvt):
    dvt.update_where(spark, {"close": "close + 100.0"},
                     "ticker = 'AAA'")
    dvt.compact(spark)
    mf = dvt._raw()
    assert all("dv" not in r for r in mf["partitions"].values())
    assert dvt.read(spark).where(F.col("close") >= 100.0).count() == 3


def test_scan_plan_reports_surviving_partitions(spark, dvt):
    plan = dvt.scan_plan({"trade_date": ("2024-01-03", "2024-01-03")})
    assert plan["partitions"] == ["2024-01-03"]
    full = dvt.scan_plan()
    assert sorted(full["partitions"]) == [
        "2024-01-02", "2024-01-03", "2024-01-04"]


# -- low-shuffle MERGE (merge mode="dv") -------------------------------

def test_merge_dv_equals_rewrite_merge(spark, tmp_path):
    """The defining property: identical visible semantics to rewrite
    merge on the same inputs — only the write plan differs."""
    a = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "a"), ts="trade_date")
    b = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "b"), ts="trade_date")
    upd = _mkdf(spark, UPDATES)
    a.merge(spark, upd, ["ticker", "trade_date"])
    before = _live_paths(b)
    out = b.merge(spark, upd, ["ticker", "trade_date"], mode="dv")
    assert _snap(a.read(spark)) == _snap(b.read(spark))
    # and the dv side wrote no partition rewrite: every pre-merge
    # file is still live
    assert set(before) <= set(_live_paths(b))
    assert out["rows_dead"] == 1          # AAA 2024-01-03 replaced
    assert out["rows_appended"] == 3


def test_merge_dv_delete_clause(spark, tmp_path):
    a = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "da"), ts="trade_date")
    b = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "db"), ts="trade_date")
    upd = (_mkdf(spark, UPDATES)
           .withColumn("op", F.when(F.col("ticker") == "AAA",
                                    F.lit("d")).otherwise(F.lit("u"))))
    for t, mode in ((a, "rewrite"), (b, "dv")):
        t.add_columns([("op", "string")])
        t.merge(spark, upd, ["ticker", "trade_date"],
                when_matched_delete="op = 'd'", mode=mode)
    assert _snap(a.read(spark)) == _snap(b.read(spark))
    # the matched delete-marked row (AAA 01-03) is gone on both
    assert b.read(spark).where(
        (F.col("ticker") == "AAA")
        & (F.col("trade_date") == F.lit("2024-01-03").cast("date"))
    ).count() == 0


def test_merge_dv_cdf_matches_rewrite_cdf(spark, tmp_path):
    a = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "ca"), ts="trade_date")
    b = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "cb"), ts="trade_date")
    upd = _mkdf(spark, UPDATES)
    a.merge(spark, upd, ["ticker", "trade_date"], cdf=True)
    b.merge(spark, upd, ["ticker", "trade_date"], cdf=True, mode="dv")
    fa = _snap(a.changes(spark, a.version()))
    fb = _snap(b.changes(spark, b.version()))
    assert fa == fb


def test_merge_dv_crash_before_commit(spark, dvt):
    with pytest.raises(CrashInjected):
        dvt.merge(spark, _mkdf(spark, UPDATES),
                  ["ticker", "trade_date"], mode="dv",
                  _crash_before_commit=True)
    assert _snap(dvt.read(spark)) == _snap(_mkdf(spark, BASE))


def test_merge_dv_then_compact_then_merge_again(spark, dvt):
    dvt.merge(spark, _mkdf(spark, UPDATES),
              ["ticker", "trade_date"], mode="dv")
    dvt.compact(spark)
    assert all("dv" not in r
               for r in dvt._raw()["partitions"].values())
    dvt.merge(spark, _mkdf(spark, [("AAA", "2024-01-03", 55.0)]),
              ["ticker", "trade_date"], mode="dv")
    got = dvt.read(spark).where(
        (F.col("ticker") == "AAA")
        & (F.col("trade_date") == F.lit("2024-01-03").cast("date")))
    assert [r["close"] for r in got.collect()] == [55.0]


def test_merge_dv_duplicate_update_rows_land_as_duplicates(spark, dvt):
    """Rewrite-merge keeps every update row (duplicates included) —
    dv mode must too."""
    dup = _mkdf(spark, [("AAA", "2024-01-03", 7.0),
                        ("AAA", "2024-01-03", 8.0)])
    dvt.merge(spark, dup, ["ticker", "trade_date"], mode="dv")
    got = dvt.read(spark).where(
        (F.col("ticker") == "AAA")
        & (F.col("trade_date") == F.lit("2024-01-03").cast("date")))
    assert sorted(r["close"] for r in got.collect()) == [7.0, 8.0]


def test_bloom_and_dv_compose(spark, tmp_path):
    """Deletion vectors under a Bloom-indexed table: a dv'd row's key
    stays in its file's filter (a false positive — read more, never
    wrong), the read excludes the row anyway, and the appended update
    images carry fresh filters so new keys still probe positive."""
    from tests.test_manifest_bloom import SPEC, _mkdocs

    t = ManifestTable.create(
        _mkdocs(spark, n=200), str(tmp_path / "bdv"), ts="src",
        bloom=SPEC, max_records_per_file=50)
    t.delete_where(spark, "doc_id = 157", mode="dv")
    # the filter still names 157 (stale positive), so the file is
    # kept — but the read returns nothing: DV wins over bloom
    plan = t.scan_plan(where={"doc_id": [157]})
    assert plan["files"], "stale bloom positive must keep the file"
    got = (t.read(spark, where={"doc_id": [157]})
           .where(F.col("doc_id") == 157).count())
    assert got == 0
    # updated images get their own filters: the new key probes in
    t.update_where(spark, {"doc_id": "doc_id + 100000"},
                   "doc_id = 158")
    plan2 = t.scan_plan(where={"doc_id": [100158]})
    assert plan2["files"]
    got2 = (t.read(spark, where={"doc_id": [100158]})
            .where(F.col("doc_id") == 100158).count())
    assert got2 == 1


def test_merge_batch_dv_exactly_once(spark, tmp_path):
    """Low-shuffle streaming MERGE: ledger + DVs + new files in one
    commit; a replayed batch id is refused without staging a byte;
    result equals the rewrite-mode sibling batch-for-batch."""
    a = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "sa"), ts="trade_date")
    b = ManifestTable.create(_mkdf(spark, BASE),
                             str(tmp_path / "sb"), ts="trade_date")
    batches = [
        (0, [("AAA", "2024-01-03", 99.0)]),
        (1, [("CCC", "2024-01-04", 30.0), ("AAA", "2024-01-05", 13.0)]),
    ]
    for bid, rows in batches:
        assert a.merge_batch(spark, _mkdf(spark, rows),
                             ["ticker", "trade_date"], "s", bid)
        assert b.merge_batch(spark, _mkdf(spark, rows),
                             ["ticker", "trade_date"], "s", bid,
                             mode="dv")
    assert _snap(a.read(spark)) == _snap(b.read(spark))
    # replay: refused on both modes, nothing changes
    assert not b.merge_batch(spark, _mkdf(spark, batches[1][1]),
                             ["ticker", "trade_date"], "s", 1,
                             mode="dv")
    assert b._raw()["streams"] == {"s": 1}
    assert _snap(a.read(spark)) == _snap(b.read(spark))
    # crash mid-batch: ledger and data both absent — retry commits
    with pytest.raises(CrashInjected):
        b.merge_batch(spark, _mkdf(spark, [("DDD", "2024-01-02", 1.0)]),
                      ["ticker", "trade_date"], "s", 2, mode="dv",
                      _crash_before_commit=True)
    assert b._raw()["streams"] == {"s": 1}
    assert b.merge_batch(spark, _mkdf(spark, [("DDD", "2024-01-02", 1.0)]),
                         ["ticker", "trade_date"], "s", 2, mode="dv")
    assert b.read(spark).where(F.col("ticker") == "DDD").count() == 1


def test_compact_dvs_consolidates_sidecars(spark, dvt):
    """Three successive dv-deletes leave three sidecars on 01-02;
    compact_dvs folds them into ONE without touching data files or
    visible rows; the superseded sidecars become vacuum-reclaimable
    once history expires."""
    dvt.append(_mkdf(spark, [("E%d" % i, "2024-01-02", 100.0 + i)
                             for i in range(3)]))
    for tick in ("AAA", "E0", "E1"):
        dvt.delete_where(
            spark, F.col("ticker") == tick, mode="dv",
            where={"trade_date": ("2024-01-02", "2024-01-02")})
    ref = dvt._raw()["partitions"]["2024-01-02"]
    assert len(ref["dv"]) == 3 and ref["dv_rows"] == 3
    old_sidecars = [os.path.join(dvt.root, e["path"])
                    for e in ref["dv"]]
    data_before = _live_paths(dvt)
    rows_before = _snap(dvt.read(spark))
    out = dvt.compact_dvs(spark)
    assert out == {"partitions": 1, "sidecars_before": 3,
                   "sidecars_after": 1}
    ref2 = dvt._raw()["partitions"]["2024-01-02"]
    assert len(ref2["dv"]) == 1 and ref2["dv_rows"] == 3
    assert _live_paths(dvt) == data_before
    assert _snap(dvt.read(spark)) == rows_before
    # old sidecars age out; the consolidated one stays live
    dvt.vacuum(retention_seconds=0.0)
    assert all(not os.path.exists(p) for p in old_sidecars)
    assert _snap(dvt.read(spark)) == rows_before


def test_compact_dvs_noop_below_threshold(spark, dvt):
    dvt.delete_where(spark, "ticker = 'AAA'", mode="dv")
    out = dvt.compact_dvs(spark)      # 1 sidecar per ref: nothing to do
    assert out["partitions"] == 0


def test_dv_driver_budget_guard_disqualifies_unknown_sizes():
    # r17 (VERDICT r16 item 2): a single legacy entry with NO byte
    # accounting must keep the distributed scan — it used to default
    # to exactly the budget and pass `<=`, driver-reading a sidecar
    # of unknown (possibly huge) size.
    from stock_market_data_pipeline_spark.manifest import (
        _DV_DRIVER_READ_BYTES, _dv_fits_driver_budget)

    assert _dv_fits_driver_budget([{"path": "a", "bytes": 100}])
    assert _dv_fits_driver_budget(
        [{"path": "a", "bytes": _DV_DRIVER_READ_BYTES}])
    assert not _dv_fits_driver_budget(
        [{"path": "a", "bytes": _DV_DRIVER_READ_BYTES + 1}])
    # the fixed edge: one byte-less legacy entry -> distributed path
    assert not _dv_fits_driver_budget([{"path": "a"}])
    assert not _dv_fits_driver_budget(
        [{"path": "a", "bytes": 0}, {"path": "b"}])


def _plans_anti_join(df) -> bool:
    return "LeftAnti" in df._jdf.queryExecution().optimizedPlan().toString()


def test_reads_of_files_no_sidecar_addresses_plan_no_anti_join(
        spark, tmp_path):
    """A JVM read plans the DV anti-join only for the sidecars of the
    files it reads: the incremental read and the change feed of an
    append into a clean partition touch no file a DV addresses, so a
    sidecar elsewhere in the table must not put a join in their plans
    (each would cost the DV'd table, not the change)."""
    rows = [("A", "2024-01-02", 1.0), ("B", "2024-01-02", 2.0),
            ("A", "2024-01-03", 3.0)]
    t = ManifestTable.create(
        spark.createDataFrame(rows, "ticker string, d string, close double"),
        str(tmp_path / "t"), ts="d")
    t.delete_where(spark, "ticker = 'B'", mode="dv")
    assert t._raw()["partitions"]["2024-01-02"].get("dv")
    assert _plans_anti_join(t.read(spark))       # the DV'd snapshot
    v = t.version()
    t.append(spark.createDataFrame([("C", "2024-01-04", 4.0)],
                                   "ticker string, d string, close double"),
             cdf=True)
    inc = t.read_incremental(spark, v)
    feed = t.changes(spark, t.version())
    assert not _plans_anti_join(inc)
    assert not _plans_anti_join(feed)
    assert [tuple(r) for r in inc.collect()] == [("C", "2024-01-04", 4.0)]
    assert [(r.ticker, r._change_type) for r in feed.collect()] == [
        ("C", "insert")]
