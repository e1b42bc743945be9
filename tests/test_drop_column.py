"""Metadata-only DROP COLUMN via column mapping (VERDICT r13 "Next
round" #3 — the Delta column-mapping drop semantics): one commit
removes the column from the pinned schema, no file is touched, the
physical name is RETIRED so a later re-add of the same name binds to
a fresh physical and dropped data can never resurrect.  Correct
through every read path — ManifestTable.read, merges, DVs, compact,
the DSv2 batch reader/writer — with time travel and restore
resolving each version's own schema."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import (
    ManifestTable,
    SchemaMismatch,
)
from stock_market_data_pipeline_spark.manifest_datasource import (
    ManifestDataSource,
)


def _frame(spark, lo, hi, extra=True):
    cols = [F.col("id"),
            (F.col("id") % 4).cast("string").alias("pt"),
            (F.col("id") * 2).alias("v")]
    if extra:
        cols.append((F.col("id") * 3).alias("w"))
    return spark.range(lo, hi).select(*cols).repartition(F.col("pt"))


@pytest.fixture()
def t(spark, tmp_path):
    return ManifestTable.create(_frame(spark, 0, 100),
                                str(tmp_path / "t"), ts="pt")


@pytest.fixture()
def push(spark):
    spark.dataSource.register(ManifestDataSource)
    key = "spark.sql.python.filterPushdown.enabled"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, prior)


def test_drop_is_metadata_only_and_reads_back(spark, t):
    mf0 = t._raw()
    files0 = {e["path"] for v in mf0["partitions"]
              for e in t._entries(mf0, v)}
    t.drop_column("w")
    mf1 = t._raw()
    files1 = {e["path"] for v in mf1["partitions"]
              for e in t._entries(mf1, v)}
    assert files0 == files1                     # zero bytes moved
    assert mf1["retired"] == ["w"]
    got = t.read(spark)
    assert got.columns == ["id", "pt", "v"]
    assert got.count() == 100
    # on disk the files still physically carry the dropped column
    probe = next(iter(files1))
    assert "w" in pq.read_schema(os.path.join(t.root, probe)).names


def test_drop_write_gate_and_post_drop_append(spark, t):
    t.drop_column("w")
    with pytest.raises(SchemaMismatch):
        t.append(_frame(spark, 100, 120))       # still carries w
    t.append(_frame(spark, 100, 120, extra=False))
    got = t.read(spark)
    assert got.columns == ["id", "pt", "v"] and got.count() == 120


def test_readd_same_name_maps_to_fresh_physical(spark, t):
    t.drop_column("w")
    t.add_columns([("w", "bigint")])
    mf = t._raw()
    assert mf["colmap"] == {"w": "w__p1"}       # fresh physical
    assert mf["retired"] == ["w"]
    # old files NULL-fill the fresh physical: no value resurrects
    got = t.read(spark)
    assert got.columns == ["id", "pt", "v", "w"]
    assert got.where(F.col("w").isNotNull()).count() == 0
    # new appends land under the fresh physical name on disk
    before = {e["path"] for v in mf["partitions"]
              for e in t._entries(mf, v)}
    t.append(_frame(spark, 100, 120))
    mf2 = t._raw()
    added = [e["path"] for v in mf2["partitions"]
             for e in t._entries(mf2, v) if e["path"] not in before]
    assert added
    for p in added:
        names = pq.read_schema(os.path.join(t.root, p)).names
        assert "w__p1" in names and "w" not in names
    vals = {r["id"]: r["w"] for r in t.read(spark).collect()}
    for i in range(100):
        assert vals[i] is None                  # dropped era stays NULL
    for i in range(100, 120):
        assert vals[i] == i * 3


def test_drop_then_readd_then_drop_again(spark, t):
    t.drop_column("w")
    t.add_columns([("w", "bigint")])            # physical w__p1
    t.append(_frame(spark, 100, 120))
    t.drop_column("w")                          # retire w__p1 too
    mf = t._raw()
    assert mf["retired"] == ["w", "w__p1"]
    assert "colmap" not in mf or "w" not in (mf.get("colmap") or {})
    t.add_columns([("w", "bigint")])
    assert t._raw()["colmap"] == {"w": "w__p2"}
    assert t.read(spark).where(F.col("w").isNotNull()).count() == 0


def test_drop_renamed_column_retires_the_physical(spark, t):
    t.rename_column("w", "weight")
    t.drop_column("weight")
    mf = t._raw()
    assert mf["retired"] == ["w"]               # the PHYSICAL name
    assert "colmap" not in mf or not mf.get("colmap")
    # re-adding the LOGICAL name "weight" is physically free (no file
    # ever carried "weight"), so no mapping is needed
    t.add_columns([("weight", "bigint")])
    assert "colmap" not in t._raw() or not t._raw().get("colmap")
    assert t.read(spark).where(
        F.col("weight").isNotNull()).count() == 0
    # but re-adding "w" would collide with the retired physical
    t.add_columns([("w", "bigint")])
    assert t._raw()["colmap"] == {"w": "w__p1"}


def test_drop_time_travel_and_restore(spark, t):
    t.drop_column("w")                          # v2
    t.append(_frame(spark, 100, 120, extra=False))  # v3
    old = t.read(spark, manifest_name=t._mname(1))
    assert old.columns == ["id", "pt", "v", "w"]
    assert old.agg(F.sum("w")).collect()[0][0] == \
        sum(i * 3 for i in range(100))
    # restore to v1 resurrects the column; retired stays monotone
    t.restore(1)
    got = t.read(spark)
    assert got.columns == ["id", "pt", "v", "w"]
    assert got.count() == 100
    assert t._raw()["retired"] == ["w"]
    with pytest.raises(SchemaMismatch, match="already exists"):
        t.add_columns([("w", "bigint")])


def test_drop_validation(spark, t):
    with pytest.raises(SchemaMismatch, match="no column"):
        t.drop_column("nope")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("pt")


def test_drop_constraint_guard(spark, t):
    t.set_not_null(spark, "w")
    with pytest.raises(SchemaMismatch, match="references"):
        t.drop_column("w")
    t.drop_constraint("not_null_w")
    t.add_check(spark, "w_bound", "w < 1000 OR v >= 0")
    with pytest.raises(SchemaMismatch, match="references"):
        t.drop_column("w")
    t.drop_constraint("w_bound")
    t.drop_column("w")
    assert t.read(spark).columns == ["id", "pt", "v"]


def test_drop_bloom_column_shrinks_spec(spark, tmp_path):
    t = ManifestTable.create(
        _frame(spark, 0, 100), str(tmp_path / "b"), ts="pt",
        bloom={"cols": ["v", "w"], "m": 1 << 10, "k": 5})
    t.drop_column("w")
    assert t._raw()["bloom"]["cols"] == ["v"]
    assert t.scan_plan({"v": [2]})["files"]     # probe still works
    t.drop_column("v")
    assert "bloom" not in t._raw()


def test_drop_prunes_colstats(spark, t):
    t.analyze(spark)
    assert "w" in t._raw()["colstats"]["columns"]
    t.drop_column("w")
    cs = t._raw()["colstats"]["columns"]
    assert "w" not in cs and "v" in cs


def test_drop_dv_merge_compact_still_exact(spark, t):
    t.drop_column("w")
    t.delete_where(spark, F.expr("pmod(id, 10) = 0"), mode="dv")
    upd = (_frame(spark, 0, 20, extra=False)
           .withColumn("v", F.col("v") + F.lit(1000)))
    t.merge(spark, upd, ["id", "pt"], mode="dv")
    t.compact(spark)
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    for i in range(100):
        if 20 <= i and i % 10 == 0:
            assert i not in got
        elif i < 20:
            assert got[i] == i * 2 + 1000
        else:
            assert got[i] == i * 2
    # compaction physically shed the dropped column's bytes
    mf = t._raw()
    for v in mf["partitions"]:
        for e in t._entries(mf, v):
            assert "w" not in pq.read_schema(
                os.path.join(t.root, e["path"])).names


def test_drop_dsv2_read_write(spark, t, push):
    t.drop_column("w")
    df = spark.read.format("manifest").load(t.root)
    assert df.columns == ["id", "pt", "v"]
    assert df.where("v >= 100").count() == \
        sum(1 for i in range(100) if i * 2 >= 100)
    _frame(spark, 100, 140, extra=False) \
        .write.format("manifest").mode("append").save(t.root)
    assert t.read(spark).count() == 140
    # versionAsOf serves the pre-drop schema
    old = (spark.read.format("manifest")
           .option("versionAsOf", 1).load(t.root))
    assert old.columns == ["id", "pt", "v", "w"]
    # mergeSchema re-add of the dropped name must NOT evolve in-place
    # (staged files would physically collide with the retired name)
    with pytest.raises(Exception, match="collide|add_columns"):
        _frame(spark, 140, 150).write.format("manifest") \
            .option("mergeSchema", "true").mode("append").save(t.root)


def test_drop_twin_table_equivalence(spark, tmp_path):
    """A table created WITH the column then dropped, driven through
    append / dv-delete / merge / compact / overwrite-free ops,
    matches a twin created WITHOUT the column."""
    a = ManifestTable.create(_frame(spark, 0, 60),
                             str(tmp_path / "a"), ts="pt")
    a.drop_column("w")
    b = ManifestTable.create(_frame(spark, 0, 60, extra=False),
                             str(tmp_path / "bb"), ts="pt")

    def drive(tab):
        tab.append(_frame(spark, 60, 80, extra=False))
        tab.delete_where(spark, F.expr("pmod(id, 7) = 0"), mode="dv")
        upd = (tab.read(spark).where("id < 10")
               .withColumn("v", F.col("v") + F.lit(5)))
        tab.merge(spark, upd, ["id", "pt"])
        tab.compact(spark)
        return sorted(tuple(r) for r in tab.read(spark).collect())

    assert drive(a) == drive(b)
    assert a.read(spark).columns == b.read(spark).columns


def test_clone_carries_retired(spark, t, tmp_path):
    t.drop_column("w")
    c = t.clone(str(tmp_path / "c"))
    assert c._raw()["retired"] == ["w"]
    c.add_columns([("w", "bigint")])
    assert c._raw()["colmap"] == {"w": "w__p1"}
    assert c.read(spark).where(F.col("w").isNotNull()).count() == 0


@pytest.mark.parametrize("path", ["overwrite", "dsv2"])
def test_overwrite_resets_retired(spark, t, push, path):
    t.drop_column("w")
    assert t._raw()["retired"] == ["w"]
    if path == "overwrite":
        t.overwrite(_frame(spark, 0, 50, extra=False))
    else:
        _frame(spark, 0, 50, extra=False) \
            .write.format("manifest").mode("overwrite").save(t.root)
    assert "retired" not in t._raw()
    # the refresh's snapshot holds no old file: re-add is collision-
    # free and needs no mapping
    t.add_columns([("w", "bigint")])
    assert "colmap" not in t._raw() or not t._raw().get("colmap")
