"""Column mapping (VERDICT r10 #6 — Delta column-mapping / Iceberg
type-promotion analogs): metadata-only RENAME (stable physical ids,
logical aliases at read) and metadata-only type WIDENING, correct
through every read path — ManifestTable.read, merges, CDF, pruning,
bloom, the DSv2 batch/stream readers — with time travel resolving
each version's own names."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import (
    ManifestTable,
    SchemaMismatch,
)
from stock_market_data_pipeline_spark.manifest_datasource import (
    ManifestDataSource,
)


def _frame(spark, lo, hi, vcol="v", vtype="bigint"):
    return (spark.range(lo, hi)
            .select(F.col("id"),
                    (F.col("id") % 4).cast("string").alias("pt"),
                    (F.col("id") * 2).cast(vtype).alias(vcol))
            .repartition(F.col("pt")))


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


def test_rename_is_metadata_only_and_reads_back(spark, t):
    mf0 = t._raw()
    files0 = {e["path"] for v in mf0["partitions"]
              for e in t._entries(mf0, v)}
    t.rename_column("v", "value")
    mf1 = t._raw()
    files1 = {e["path"] for v in mf1["partitions"]
              for e in t._entries(mf1, v)}
    assert files0 == files1                     # zero bytes moved
    assert mf1["colmap"] == {"value": "v"}
    got = t.read(spark)
    assert got.columns == ["id", "pt", "value"]
    assert got.agg(F.sum("value")).collect()[0][0] == \
        sum(i * 2 for i in range(100))


def test_rename_then_append_stays_physically_uniform(spark, t):
    t.rename_column("v", "value")
    t.append(_frame(spark, 100, 150, vcol="value"))
    # ALL files carry the stable physical name on disk
    import pyarrow.parquet as pq
    import os
    mf = t._raw()
    for v in mf["partitions"]:
        for e in t._entries(mf, v):
            cols = pq.read_schema(
                os.path.join(t.root, e["path"])).names
            assert "v" in cols and "value" not in cols
    got = t.read(spark)
    assert got.columns == ["id", "pt", "value"]
    assert got.count() == 150


def test_rename_pruning_and_bloom_translate(spark, tmp_path):
    # value ranges disjoint per partition so zone maps CAN prune
    df = (spark.range(0, 2000)
          .select(F.col("id"),
                  (F.col("id") / 500).cast("int").cast("string")
                  .alias("pt"),
                  (F.col("id") * 2).alias("v"))
          .repartition(F.col("pt")))
    t = ManifestTable.create(
        df, str(tmp_path / "b"), ts="pt",
        bloom={"cols": ["v"], "m": 1 << 14, "k": 5})
    t.rename_column("v", "value")
    # zone-map/range pruning on the LOGICAL name
    plan = t.scan_plan({"value": (0, 10)})
    total = sum(r["files"] for r in t._raw()["partitions"].values())
    assert 0 < len(plan["files"]) < total
    # bloom membership probe on the logical name (spec pinned
    # physical at create): an absent MID-DOMAIN value (odd, inside
    # every file's [min, max]) only the filter can skip
    plan2 = t.scan_plan({"value": [1001]})
    assert plan2["bloom_skipped"] > 0
    # set_bloom AFTER the rename accepts the logical name
    t2 = ManifestTable.create(_frame(spark, 0, 100),
                              str(tmp_path / "b2"), ts="pt")
    t2.rename_column("v", "value")
    t2.set_bloom(["value"], m=1 << 10, k=5)
    assert t2._raw()["bloom"]["cols"] == ["v"]   # physical pin


def test_rename_time_travel_serves_old_name(spark, t):
    t.rename_column("v", "value")               # v2
    t.append(_frame(spark, 100, 120, vcol="value"))  # v3
    old = t.read(spark, manifest_name=t._mname(1))
    assert old.columns == ["id", "pt", "v"]
    assert old.count() == 100
    new = t.read(spark, manifest_name=t._mname(3))
    assert new.columns == ["id", "pt", "value"]
    # restore to v1 resurrects the old name AND drops the mapping
    t.restore(1)
    assert t.read(spark).columns == ["id", "pt", "v"]
    assert "colmap" not in t._raw()


def test_rename_chain_and_rename_back(spark, t):
    t.rename_column("v", "value")
    t.rename_column("value", "close")
    assert t._raw()["colmap"] == {"close": "v"}
    t.rename_column("close", "v")               # back to original
    assert "colmap" not in t._raw() or not t._raw()["colmap"]
    assert t.read(spark).columns == ["id", "pt", "v"]


def test_rename_validation(spark, t):
    with pytest.raises(SchemaMismatch, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(SchemaMismatch, match="already exists"):
        t.rename_column("v", "id")
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("pt", "month")
    with pytest.raises(ValueError, match="identifier"):
        t.rename_column("v", "bad name")


def test_rename_dv_and_merge_still_exact(spark, t):
    t.rename_column("v", "value")
    t.delete_where(spark, F.expr("pmod(id, 10) = 0"), mode="dv")
    upd = (_frame(spark, 0, 20, vcol="value")
           .withColumn("value", F.col("value") + F.lit(1000)))
    t.merge(spark, upd, ["id", "pt"], mode="dv")
    got = {r["id"]: r["value"] for r in t.read(spark).collect()}
    for i in range(100):
        if 20 <= i and i % 10 == 0:
            assert i not in got
        elif i < 20:
            assert got[i] == i * 2 + 1000       # merged (revives dv'd)
        else:
            assert got[i] == i * 2


def test_rename_cdf_classifies_logical_names(spark, t):
    t.rename_column("v", "value")
    t.delete_where(spark, F.expr("id < 10"), cdf=True)
    ch = t.changes(spark, t.version())
    assert "value" in ch.columns and "v" not in ch.columns
    assert ch.where("_change_type = 'delete'").count() == 10


def test_rename_dsv2_read_write_stream(spark, t, push):
    t.rename_column("v", "value")
    df = spark.read.format("manifest").load(t.root)
    assert df.columns == ["id", "pt", "value"]
    assert df.where("value >= 100").count() == \
        sum(1 for i in range(100) if i * 2 >= 100)
    # DSv2 write with logical names lands physical, reads back
    _frame(spark, 100, 140, vcol="value") \
        .write.format("manifest").mode("append").save(t.root)
    assert t.read(spark).count() == 140
    # versionAsOf resolves the pre-rename name
    old = (spark.read.format("manifest")
           .option("versionAsOf", 1).load(t.root))
    assert old.columns == ["id", "pt", "v"]
    assert old.count() == 100


def test_widen_int_to_bigint_and_float_to_double(spark, tmp_path):
    df = (spark.range(0, 100)
          .select(F.col("id"),
                  (F.col("id") % 4).cast("string").alias("pt"),
                  (F.col("id") * 2).cast("int").alias("n"),
                  (F.col("id") * 1.5).cast("float").alias("x"))
          .repartition(F.col("pt")))
    t = ManifestTable.create(df, str(tmp_path / "w"), ts="pt")
    t.widen_column("n", "bigint")
    t.widen_column("x", "double")
    sch = dict(t._raw()["schema"])
    assert sch["n"] == "bigint" and sch["x"] == "double"
    got = t.read(spark)
    assert dict(got.dtypes)["n"] == "bigint"
    assert dict(got.dtypes)["x"] == "double"
    assert got.agg(F.sum("n")).collect()[0][0] == \
        sum(i * 2 for i in range(100))
    # appends must now carry the WIDE type — narrow raises
    with pytest.raises(SchemaMismatch):
        t.append(df.limit(5))
    wide = (df.withColumn("n", F.col("n").cast("bigint"))
            .withColumn("x", F.col("x").cast("double")))
    t.append(wide.where("id < 20"))             # mixed files on disk
    assert t.read(spark).count() == 120
    # time travel at v1 serves the NARROW pin
    assert dict(t.read(spark, manifest_name=t._mname(1))
                .dtypes)["n"] == "int"


@pytest.mark.parametrize("reader", ["batch", "cdf_stream"])
def test_widen_dsv2_reader_casts(spark, tmp_path, push, reader):
    df = (spark.range(0, 100)
          .select(F.col("id"),
                  (F.col("id") % 4).cast("string").alias("pt"),
                  (F.col("id") * 2).cast("int").alias("n"))
          .repartition(F.col("pt")))
    if reader == "cdf_stream":
        _widen_then_stream_change_feed(spark, tmp_path, df)
        return
    t = ManifestTable.create(df, str(tmp_path / "wd"), ts="pt")
    t.widen_column("n", "bigint")
    got = spark.read.format("manifest").load(t.root)
    assert dict(got.dtypes)["n"] == "bigint"
    assert got.agg(F.sum("n")).collect()[0][0] == \
        sum(i * 2 for i in range(100))


def _widen_then_stream_change_feed(spark, tmp_path, df):
    """The change feed of a widened table: an int append's change
    set predates the widen, so the CDF reader must upcast it like the
    batch reader does, or the bigint column reaches Spark as int."""
    t = ManifestTable.create(df.where("id < 40"), str(tmp_path / "wc"),
                             ts="pt")
    t.append(df.where("id >= 40 AND id < 70"), cdf=True)
    t.widen_column("n", "bigint")
    t.append(df.where("id >= 70").withColumn("n", F.col("n")
                                             .cast("bigint")), cdf=True)
    sink = str(tmp_path / "sink")
    q = (spark.readStream.format("manifest")
         .option("readChangeFeed", "true").option("startingVersion", 1)
         .load(t.root)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    got = spark.read.parquet(sink)
    assert dict(got.dtypes)["n"] == "bigint"
    assert got.count() == 60
    assert got.agg(F.sum("n")).collect()[0][0] == \
        sum(i * 2 for i in range(40, 100))


def test_widen_validation(spark, t):
    with pytest.raises(SchemaMismatch, match="not a safe widening"):
        t.widen_column("v", "int")              # bigint -> int narrows
    with pytest.raises(SchemaMismatch, match="no column"):
        t.widen_column("nope", "bigint")
    with pytest.raises(SchemaMismatch, match="not a safe widening"):
        t.widen_column("pt", "bigint")          # string: nothing legal


def test_rename_and_widen_compose_with_ops(spark, tmp_path):
    """The model-test extension: a renamed+widened table driven
    through append / dv-delete / merge / compact / overwrite matches
    a twin created directly with the final names and types."""
    df_narrow = (spark.range(0, 60)
                 .select(F.col("id"),
                         (F.col("id") % 3).cast("string").alias("pt"),
                         (F.col("id") * 2).cast("int").alias("v"))
                 .repartition(F.col("pt")))
    a = ManifestTable.create(df_narrow, str(tmp_path / "a"), ts="pt")
    a.rename_column("v", "value")
    a.widen_column("value", "bigint")
    b = ManifestTable.create(
        df_narrow.select("id", "pt",
                         F.col("v").cast("bigint").alias("value")),
        str(tmp_path / "bb"), ts="pt")

    def drive(tab):
        extra = (spark.range(60, 80)
                 .select(F.col("id"),
                         (F.col("id") % 3).cast("string").alias("pt"),
                         (F.col("id") * 2).cast("bigint")
                         .alias("value"))
                 .repartition(F.col("pt")))
        tab.append(extra)
        tab.delete_where(spark, F.expr("pmod(id, 7) = 0"), mode="dv")
        upd = (tab.read(spark).where("id < 10")
               .withColumn("value", F.col("value") + F.lit(5)))
        tab.merge(spark, upd, ["id", "pt"])
        tab.compact(spark)
        return sorted(tuple(r) for r in tab.read(spark).collect())

    assert drive(a) == drive(b)
    assert a.read(spark).columns == b.read(spark).columns
