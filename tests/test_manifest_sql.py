"""SQL-addressable manifest tables (VERDICT r10 #2):
`ManifestTable.register` binds a temp view over the DSv2 pushdown
path so raw `spark.sql` serves the governed table — live snapshot
semantics, time-travel pins, Delta's literal VERSION AS OF via
`manifest_sql`, and pushdown observable as task count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.manifest_datasource import (
    manifest_sql,
)


def _frame(spark, lo, hi):
    return (spark.range(lo, hi)
            .select(F.col("id"),
                    (F.col("id") % 4).cast("string").alias("pt"),
                    (F.col("id") * 2.0).alias("v")))


@pytest.fixture()
def t(spark, tmp_path):
    return ManifestTable.create(_frame(spark, 0, 100),
                                str(tmp_path / "t"), ts="pt")


def test_register_serves_table_via_sql(spark, t):
    t.register(spark, "reg_t")
    got = spark.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM reg_t "
                    "WHERE pt = '2'").collect()[0]
    assert got["n"] == 25
    assert got["s"] == sum(i * 2.0 for i in range(2, 100, 4))


def test_register_is_snapshot_scoped_and_rebindable(spark, t):
    """Registration pins the snapshot current at register() (the
    documented Delta-DataFrame-like semantics); re-registering the
    same name — the serving tier's per-request refresh — serves the
    new state, including merge-on-read deletes masked executor-side."""
    t.register(spark, "reg_live")
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM reg_live").collect()[0]["n"] == 100
    t.append(_frame(spark, 100, 120))
    t.delete_where(spark, F.expr("pmod(id, 10) = 0"), mode="dv")
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM reg_live").collect()[0]["n"] == 100
    t.register(spark, "reg_live")          # refresh: re-bind
    live = spark.sql(
        "SELECT COUNT(*) AS n FROM reg_live").collect()[0]["n"]
    assert live == 120 - 12        # append visible, DV delete masked


def test_register_version_pin(spark, t):
    t.append(_frame(spark, 100, 150))            # v2
    t.register(spark, "reg_v1", version=1)
    t.register(spark, "reg_v2", version=2)
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM reg_v1").collect()[0]["n"] == 100
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM reg_v2").collect()[0]["n"] == 150
    with pytest.raises(ValueError, match="at most ONE"):
        t.register(spark, "bad", version=1, tag="x")


def test_manifest_sql_version_as_of(spark, t):
    t.delete_where(spark, F.expr("id < 50"))     # v2 rewrite
    out = manifest_sql(
        spark,
        "SELECT (SELECT COUNT(*) FROM tt VERSION AS OF 1) AS before_n,"
        " COUNT(*) AS now_n FROM tt", {"tt": t})
    row = out.collect()[0]
    assert (row["before_n"], row["now_n"]) == (100, 50)


def test_manifest_sql_join_and_unknown_names(spark, t, tmp_path):
    other = ManifestTable.create(
        _frame(spark, 0, 10).select("id", "pt",
                                    F.col("v").alias("w")),
        str(tmp_path / "o"), ts="pt")
    spark.range(0, 5).createOrReplaceTempView("plain_view")
    out = manifest_sql(
        spark,
        "SELECT COUNT(*) AS n FROM tt VERSION AS OF 1 "
        "JOIN oo VERSION AS OF 1 USING (id, pt) "
        "WHERE id IN (SELECT id FROM plain_view)",
        {"tt": t, "oo": other})
    assert out.collect()[0]["n"] == 5


def test_register_sql_pushdown_task_count(spark, t):
    """The SQL front door plans through the same pruning as the
    DataFrame path: with packing off, task count == surviving files;
    the default (packFiles=auto, r17) view plans the packer's
    deterministic bin count over the same pruned set."""
    from stock_market_data_pipeline_spark.manifest_datasource import (
        expected_scan_tasks)

    t.register(spark, "reg_push",
               reader_options={"packFiles": "0"})
    plan = t.scan_plan({"pt": ["3"]})
    probe = spark.sql("SELECT * FROM reg_push WHERE pt = '3'")
    assert probe.rdd.getNumPartitions() == len(plan["files"])
    total = sum(r["files"] for r in t._raw()["partitions"].values())
    assert len(plan["files"]) < total
    t.register(spark, "reg_push_auto")
    packed = spark.sql("SELECT * FROM reg_push_auto WHERE pt = '3'")
    npacked = packed.rdd.getNumPartitions()
    assert npacked == expected_scan_tasks(t, {"pt": ["3"]})
    assert npacked <= len(plan["files"])


# -- SQL DML (VERDICT r12 "Next round" #4) ----------------------------


def test_sql_insert_into_select(spark, t):
    out = manifest_sql(
        spark,
        "INSERT INTO tt SELECT id, CAST(id % 4 AS STRING) AS pt, "
        "id * 2.0 AS v FROM range(100, 120)", {"tt": t})
    assert out.collect()[0]["num_inserted_rows"] == 20
    assert t.version() == 2
    assert t.read(spark).count() == 120


def test_sql_insert_values_and_column_list(spark, t):
    out = manifest_sql(
        spark,
        "INSERT INTO tt (id, pt, v) VALUES (777, '1', 3.5), "
        "(778, '2', 4.5)", {"tt": t})
    assert out.collect()[0]["num_inserted_rows"] == 2
    got = (t.read(spark).where(F.col("id").isin(777, 778))
           .orderBy("id").collect())
    assert [(r["id"], r["pt"], r["v"]) for r in got] == [
        (777, "1", 3.5), (778, "2", 4.5)]


def test_sql_delete_where(spark, t):
    out = manifest_sql(spark, "DELETE FROM tt WHERE id < 10", {"tt": t})
    assert out.collect()[0]["num_deleted_rows"] == 10
    assert t.read(spark).count() == 90


def test_sql_update_set_where(spark, t):
    out = manifest_sql(
        spark, "UPDATE tt SET v = v * 10 WHERE id IN (3, 7)",
        {"tt": t})
    assert out.collect()[0]["num_updated_rows"] == 2
    got = {r["id"]: r["v"] for r in
           t.read(spark).where(F.col("id").isin(3, 7)).collect()}
    assert got == {3: 60.0, 7: 140.0}


def test_sql_merge_equals_dataframe_merge(spark, t, tmp_path):
    """Twin-table equivalence (the VERDICT r12 #4 'done' pin): the
    SAME keyed upsert driven through spark.sql MERGE on one table and
    DataFrame merge() on its twin must leave identical content AND an
    identically-classified change feed."""
    twin = ManifestTable.create(_frame(spark, 0, 100),
                                str(tmp_path / "twin"), ts="pt")
    updates = (spark.range(90, 110)
               .select(F.col("id"),
                       (F.col("id") % 4).cast("string").alias("pt"),
                       (F.col("id") * 3.0).alias("v")))
    updates.createOrReplaceTempView("upd_src")

    out = manifest_sql(
        spark,
        "MERGE INTO tt AS t USING upd_src AS s "
        "ON t.id = s.id AND t.pt = s.pt "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tt": t}, cdf=True)
    assert out.collect()[0]["num_affected_rows"] > 0
    twin.merge(spark, updates, ["id", "pt"], cdf=True)

    a = sorted(map(tuple, t.read(spark).collect()))
    b = sorted(map(tuple, twin.read(spark).collect()))
    assert a == b
    ca = sorted(map(tuple, t.changes(spark, t.version())
                    .select("id", "pt", "v", "_change_type")
                    .collect()))
    cb = sorted(map(tuple, twin.changes(spark, twin.version())
                    .select("id", "pt", "v", "_change_type")
                    .collect()))
    assert ca == cb
    assert any(r[-1] == "update_postimage" for r in ca)
    assert any(r[-1] == "insert" for r in ca)


def test_sql_merge_through_path_string_keeps_partitioning(spark,
                                                        tmp_path):
    """A table named by its ROOT PATH opens as a plain
    ``ManifestTable(root, None)`` handle; its MERGE must still stage
    under the committed partition column — not commit ``ts: None``
    and an ``__all`` partition holding duplicates of matched keys."""
    root = str(tmp_path / "bars")
    t = ManifestTable.create(_frame(spark, 0, 30), root, ts="pt")
    manifest_sql(
        spark,
        "MERGE INTO bars USING (SELECT id, CAST(id % 4 AS STRING) AS "
        "pt, id * 5.0 AS v FROM range(0, 30)) AS s ON bars.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"bars": root})
    mf = t._raw()
    assert mf["ts"] == "pt"
    assert sorted(mf["partitions"]) == ["0", "1", "2", "3"]
    got = t.read(spark)
    assert got.count() == 30
    assert got.where(F.col("v") == F.col("id") * 5.0).count() == 30
    # a handle declaring a different column than the committed one
    # refuses, the rule the DSv2 writer applies to option("ts")
    with pytest.raises(ValueError, match="partition column"):
        ManifestTable(root, "v").ts


def test_sql_merge_subquery_source_and_delete_clause(spark, t):
    out = manifest_sql(
        spark,
        "MERGE INTO tt USING (SELECT id, CAST(id % 4 AS STRING) AS "
        "pt, 0.0 AS v FROM range(0, 30)) AS s ON tt.id = s.id "
        "WHEN MATCHED AND s.id < 10 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tt": t})
    assert out.count() == 1
    got = t.read(spark)
    assert got.where(F.col("id") < 10).count() == 0
    assert got.where((F.col("id") >= 10) & (F.col("id") < 30)
                     & (F.col("v") == 0.0)).count() == 20
    assert got.count() == 90


def test_sql_merge_not_matched_by_source_delete(spark, t):
    (spark.range(0, 50)
     .select(F.col("id"),
             (F.col("id") % 4).cast("string").alias("pt"),
             (F.col("id") * 2.0).alias("v"))
     ).createOrReplaceTempView("survivors")
    manifest_sql(
        spark,
        "MERGE INTO tt USING survivors s ON tt.id = s.id "
        "AND tt.pt = s.pt "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        {"tt": t})
    assert t.read(spark).count() == 50
    assert t.read(spark).agg(F.max("id")).collect()[0][0] == 49


def test_sql_merge_inserts_unmatched_delete_marked_row(spark, tmp_path):
    """A source row the DELETE condition marks but that matches no
    target row is NOT MATCHED, so the statement's INSERT * takes it
    (SQL MERGE); the Python API's rule drops it."""
    t = ManifestTable.create(_frame(spark, 0, 3), str(tmp_path / "m"),
                             ts="pt")
    manifest_sql(
        spark,
        "MERGE INTO t USING (SELECT * FROM VALUES (1, '1', 5.0), "
        "(7, '1', 5.0) AS x(id, pt, v)) s ON t.id = s.id "
        "WHEN MATCHED AND s.v > 1 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"t": t}, cdf=True)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 2, 7]
    assert sorted((r["id"], r["_change_type"]) for r in
                  t.changes(spark, t.version()).collect()) == [
        (1, "delete"), (7, "insert")]


def test_sql_merge_rejects_unsupported_grammar(spark, t):
    spark.range(3).createOrReplaceTempView("srcv")
    with pytest.raises(ValueError, match="conjunctions"):
        manifest_sql(spark,
                     "MERGE INTO tt USING srcv s ON tt.id > s.id "
                     "WHEN MATCHED THEN UPDATE SET *", {"tt": t})
    with pytest.raises(ValueError, match="share a name"):
        manifest_sql(spark,
                     "MERGE INTO tt USING srcv s ON tt.id = s.other "
                     "WHEN MATCHED THEN UPDATE SET *", {"tt": t})
    with pytest.raises(ValueError, match="keyed upsert"):
        manifest_sql(spark,
                     "MERGE INTO tt USING srcv s ON tt.id = s.id "
                     "WHEN MATCHED THEN UPDATE SET *", {"tt": t})


def test_sql_insert_overwrite(spark, t):
    out = manifest_sql(
        spark,
        "INSERT OVERWRITE tt SELECT id, CAST(id % 4 AS STRING) AS "
        "pt, id * 3.0 AS v FROM range(0, 10)", {"tt": t})
    assert out.collect()[0]["num_inserted_rows"] == 10
    got = t.read(spark)
    assert got.count() == 10
    assert got.where(F.col("v") != F.col("id") * 3.0).count() == 0


def test_sql_ctas_and_replace(spark, t, tmp_path):
    root = str(tmp_path / "ctas")
    out = manifest_sql(
        spark,
        "CREATE TABLE agg PARTITIONED BY (pt) AS "
        "SELECT pt, COUNT(*) AS n, SUM(v) AS s FROM tt GROUP BY pt",
        {"tt": t, "agg": root})
    assert out.collect()[0]["num_inserted_rows"] == 4
    made = ManifestTable(root, "pt")
    assert made._raw()["ts"] == "pt"
    assert made.read(spark).count() == 4
    # the CTAS target is queryable by name in the same session
    assert spark.sql("SELECT COUNT(*) AS n FROM agg").collect()[0]["n"] == 4
    with pytest.raises(ValueError, match="already exists"):
        manifest_sql(spark, "CREATE TABLE agg AS SELECT 1 AS x",
                     {"agg": root})
    manifest_sql(spark,
                 "CREATE OR REPLACE TABLE agg AS "
                 "SELECT pt, COUNT(*) AS n FROM tt GROUP BY pt "
                 "HAVING pt < '2'",
                 {"tt": t, "agg": root})
    assert ManifestTable(root, None).read(spark).count() == 2


# -- SQL DDL + literal TIMESTAMP AS OF (VERDICT r13 #4) --------------


def test_sql_alter_add_columns(spark, t):
    files0 = {e["path"] for v in t._raw()["partitions"]
              for e in t._entries(t._raw(), v)}
    out = manifest_sql(
        spark, "ALTER TABLE t ADD COLUMNS (w bigint, tag string)",
        {"t": t}).collect()[0]
    assert out["table_name"] == "t" and out["version"] == 2
    mf = t._raw()
    assert [c[0] for c in mf["schema"]] == \
        ["id", "pt", "v", "w", "tag"]
    files1 = {e["path"] for v in mf["partitions"]
              for e in t._entries(mf, v)}
    assert files0 == files1                     # metadata only
    # the re-registered session view serves the evolved schema
    got = spark.sql("SELECT COUNT(*) AS n FROM t "
                    "WHERE w IS NULL AND tag IS NULL").collect()[0]
    assert got["n"] == 100


def test_sql_alter_add_column_decimal_type(spark, t):
    manifest_sql(spark,
                 "ALTER TABLE t ADD COLUMN (price decimal(10, 2))",
                 {"t": t})
    assert dict(t._raw()["schema"])["price"] == "decimal(10,2)"


def test_sql_alter_rename_column(spark, t):
    manifest_sql(spark, "ALTER TABLE t RENAME COLUMN v TO value",
                 {"t": t})
    assert t._raw()["colmap"] == {"value": "v"}
    got = spark.sql("SELECT SUM(value) AS s FROM t").collect()[0]
    assert got["s"] == sum(i * 2.0 for i in range(100))


def test_sql_alter_drop_column(spark, t):
    manifest_sql(spark, "ALTER TABLE t DROP COLUMN v", {"t": t})
    mf = t._raw()
    assert [c[0] for c in mf["schema"]] == ["id", "pt"]
    assert mf["retired"] == ["v"]
    assert spark.sql("SELECT * FROM t").columns == ["id", "pt"]


def test_sql_alter_widen_column(spark, tmp_path):
    df = (spark.range(0, 50)
          .select(F.col("id"),
                  (F.col("id") % 4).cast("string").alias("pt"),
                  (F.col("id") * 2).cast("int").alias("n")))
    t = ManifestTable.create(df, str(tmp_path / "w"), ts="pt")
    manifest_sql(spark, "ALTER TABLE t ALTER COLUMN n TYPE bigint",
                 {"t": t})
    assert dict(t._raw()["schema"])["n"] == "bigint"
    from stock_market_data_pipeline_spark.manifest import (
        SchemaMismatch,
    )
    with pytest.raises(SchemaMismatch, match="not a safe widening"):
        manifest_sql(spark, "ALTER TABLE t ALTER COLUMN n TYPE int",
                     {"t": t})


def test_sql_alter_unknown_table_raises(spark, t):
    with pytest.raises(KeyError, match="not in tables"):
        manifest_sql(spark, "ALTER TABLE nope DROP COLUMN v",
                     {"t": t})


def test_sql_ddl_dml_select_round_trip(spark, t):
    """The full SQL lifecycle without touching the Python API: ALTER
    ADD -> UPDATE fills it -> ALTER RENAME -> SELECT serves it ->
    ALTER DROP -> SELECT stops serving it."""
    manifest_sql(spark, "ALTER TABLE t ADD COLUMNS (flag bigint)",
                 {"t": t})
    manifest_sql(spark, "UPDATE t SET flag = id % 2 WHERE id < 100",
                 {"t": t})
    manifest_sql(spark, "ALTER TABLE t RENAME COLUMN flag TO parity",
                 {"t": t})
    got = manifest_sql(
        spark, "SELECT parity, COUNT(*) AS n FROM t "
               "GROUP BY parity ORDER BY parity", {"t": t}).collect()
    assert [(r["parity"], r["n"]) for r in got] == [(0, 50), (1, 50)]
    manifest_sql(spark, "ALTER TABLE t DROP COLUMN parity", {"t": t})
    assert manifest_sql(spark, "SELECT * FROM t", {"t": t}) \
        .columns == ["id", "pt", "v"]


def test_sql_timestamp_as_of(spark, t):
    import datetime as dt

    stamp1 = t._raw()["committed_at"]
    t.append(_frame(spark, 100, 150))            # v2
    iso = (dt.datetime.fromtimestamp(stamp1, dt.timezone.utc)
           .replace(tzinfo=None).isoformat())
    got = manifest_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF "
        f"'{iso}+00:00'",
        {"t": t}).collect()[0]
    assert got["n"] == 100                       # v1 snapshot
    live = manifest_sql(spark, "SELECT COUNT(*) AS n FROM t",
                        {"t": t}).collect()[0]
    assert live["n"] == 150
    # too-early timestamps fail loudly, like Delta
    with pytest.raises(Exception, match="no committed version"):
        manifest_sql(
            spark,
            "SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF "
            "'1999-01-01T00:00:00+00:00'",
            {"t": t}).collect()


def test_sql_timestamp_as_of_join_both_forms(spark, t):
    t.append(_frame(spark, 100, 120))            # v2
    stamp2 = t._raw()["committed_at"]
    t.delete_where(spark, F.expr("id < 50"), mode="dv")  # v3
    import datetime as dt
    iso = (dt.datetime.fromtimestamp(stamp2, dt.timezone.utc)
           .isoformat())
    got = manifest_sql(
        spark,
        f"SELECT COUNT(*) AS n "
        f"FROM t VERSION AS OF 1 a "
        f"JOIN t TIMESTAMP AS OF '{iso}' b ON a.id = b.id",
        {"t": t}).collect()[0]
    assert got["n"] == 100                       # v1 ∩ v2 on id


def test_sql_add_check_and_drop_constraint(spark, t):
    from stock_market_data_pipeline_spark.manifest import (
        ConstraintViolation,
    )

    manifest_sql(spark,
                 "ALTER TABLE t ADD CONSTRAINT v_nonneg "
                 "CHECK (v >= 0)", {"t": t})
    assert "v_nonneg" in t._raw()["constraints"]
    with pytest.raises(ConstraintViolation):
        manifest_sql(
            spark,
            "INSERT INTO t VALUES (999, '3', -1.0)", {"t": t})
    # a failed INSERT commits nothing
    assert spark.sql("SELECT COUNT(*) AS n FROM t") \
        .collect()[0]["n"] == 100
    manifest_sql(spark, "ALTER TABLE t DROP CONSTRAINT v_nonneg",
                 {"t": t})
    manifest_sql(spark, "INSERT INTO t VALUES (999, '3', -1.0)",
                 {"t": t})
    assert t.read(spark).count() == 101
    # adding a check existing rows violate raises (Delta's rule)
    with pytest.raises(ConstraintViolation, match="existing rows"):
        manifest_sql(spark,
                     "ALTER TABLE t ADD CONSTRAINT v_pos "
                     "CHECK (v >= 0)", {"t": t})


def test_sql_set_not_null(spark, t):
    from stock_market_data_pipeline_spark.manifest import (
        ConstraintViolation,
    )

    manifest_sql(spark,
                 "ALTER TABLE t ALTER COLUMN v SET NOT NULL",
                 {"t": t})
    cons = t._raw()["constraints"]
    assert any(c["kind"] == "not_null" and c["col"] == "v"
               for c in cons.values())
    with pytest.raises(ConstraintViolation):
        manifest_sql(spark,
                     "INSERT INTO t VALUES (999, '3', NULL)",
                     {"t": t})


def test_estimate_range_rows_from_sketch(spark, t):
    t.analyze(spark, approx=True, columns=["v"], quantiles=["v"],
              quantile_scale=1.0)
    # v = id * 2.0 over id in [0, 100): exact answers are knowable
    for lo, hi in ((0, 50), (50, 120), (None, 100), (120, None),
                   (None, None)):
        est = t.estimate_range_rows("v", lo, hi)
        exact = t.read(spark).where(
            (F.col("v") >= (lo if lo is not None else -1e18))
            & (F.col("v") < (hi if hi is not None else 1e18))
        ).count()
        # straddling-bucket pro-rata error: generous absolute bound
        # at this tiny scale, exactness in the linear region
        assert abs(est - exact) <= max(4, exact * 0.1), \
            (lo, hi, est, exact)
    import pytest as _pt
    with _pt.raises(RuntimeError, match="no quantile sketch"):
        t.estimate_range_rows("id", 0, 10)


def test_sql_optimize_and_zorder(spark, t):
    # fragment: three appends -> multiple files per partition
    t.append(_frame(spark, 100, 130))
    t.append(_frame(spark, 130, 160))
    out = manifest_sql(spark, "OPTIMIZE t", {"t": t}).collect()[0]
    assert out["partitions_compacted"] == 4
    assert out["files_after"] < out["files_before"]
    assert t.read(spark).count() == 160
    # ZORDER form clusters within partitions: a compacted file's
    # rows come back sorted on the zorder column (single-dimension
    # z-values are order-preserving), the property that makes its
    # footer [min, max] tight when the file later splits
    t2root = t.root + "_z"
    t2 = ManifestTable.create(_frame(spark, 0, 2000), t2root,
                              ts="pt")
    t2.append(_frame(spark, 2000, 4000))
    manifest_sql(spark, "OPTIMIZE tz ZORDER BY (v)", {"tz": t2})
    import os

    import pyarrow.parquet as pq
    mf = t2._raw()
    probe = next(e["path"] for v in sorted(mf["partitions"])
                 for e in t2._entries(mf, v))
    vs = pq.read_table(os.path.join(t2.root, probe),
                       columns=["v"])["v"].to_pylist()
    assert len(vs) == 1000 and vs == sorted(vs)


def test_sql_vacuum_dry_run_and_retain(spark, t):
    t.append(_frame(spark, 100, 130))
    manifest_sql(spark, "OPTIMIZE t", {"t": t})
    dry = manifest_sql(spark, "VACUUM t RETAIN 0 HOURS DRY RUN",
                       {"t": t}).collect()
    assert dry                                  # replaced files listed
    import os
    assert all(os.path.exists(os.path.join(t.root, r["path"]))
               or os.path.exists(r["path"]) for r in dry)
    gone = manifest_sql(spark, "VACUUM t RETAIN 0 HOURS",
                        {"t": t}).collect()
    assert {r["path"] for r in gone} >= {r["path"] for r in dry}
    assert t.read(spark).count() == 130         # live data intact


def test_sql_analyze_and_describe_history(spark, t):
    stats = {r["column"]: r for r in manifest_sql(
        spark, "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS "
               "id, v", {"t": t}).collect()}
    assert set(stats) == {"id", "v"}
    assert abs(stats["id"]["ndv"] - 100) <= 15  # HLL error
    assert stats["id"]["nulls"] == 0
    hist = manifest_sql(spark, "DESCRIBE HISTORY t",
                        {"t": t}).collect()
    # v1 create + v2 analyze commit
    assert [r["version"] for r in hist] == [1, 2]


def test_sql_restore_table(spark, t):
    t.append(_frame(spark, 100, 150))            # v2
    manifest_sql(spark, "DELETE FROM t WHERE id < 50", {"t": t})
    assert t.read(spark).count() == 100
    out = manifest_sql(spark,
                       "RESTORE TABLE t TO VERSION AS OF 2",
                       {"t": t}).collect()[0]
    assert out["version"] == 4                   # restore is a commit
    assert t.read(spark).count() == 150
    # the re-registered view serves the restored state
    assert spark.sql("SELECT COUNT(*) AS n FROM t") \
        .collect()[0]["n"] == 150


def test_sql_create_empty_typed_table(spark, t, tmp_path):
    root = str(tmp_path / "fresh")
    out = manifest_sql(
        spark,
        "CREATE TABLE fresh (id bigint, pt string, "
        "px decimal(10, 2)) PARTITIONED BY (pt)",
        {"t": t, "fresh": root}).collect()[0]
    assert out["table_name"] == "fresh" and out["version"] == 1
    got = spark.sql("SELECT * FROM fresh")
    assert got.count() == 0
    assert dict(got.dtypes) == {"id": "bigint", "pt": "string",
                                "px": "decimal(10,2)"}
    # the empty pin gates later writes like any pinned schema
    manifest_sql(spark,
                 "INSERT INTO fresh VALUES (1, 'a', 9.50), "
                 "(2, 'b', 3.25)", {"fresh": root})
    assert spark.sql("SELECT SUM(px) AS s FROM fresh") \
        .collect()[0]["s"] is not None
    with pytest.raises(ValueError, match="already exists"):
        manifest_sql(spark, "CREATE TABLE fresh (x bigint)",
                     {"fresh": root})


def test_sql_analyze_preserves_stored_sketches(spark, t):
    """A routine SQL ANALYZE must REBUILD (never strip) the
    frequency/quantile sketches the analyzed columns already carry —
    SQL has no syntax to name them."""
    t.analyze(spark, approx=True, columns=["v", "id"],
              frequencies=["id"], quantiles=["v"],
              quantile_scale=10.0)
    t.append(_frame(spark, 100, 150))
    manifest_sql(spark,
                 "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS "
                 "id, v", {"t": t})
    cs = t._raw()["colstats"]["columns"]
    assert cs["id"].get("cms"), "CMS stripped by SQL ANALYZE"
    assert cs["v"].get("ddq"), "quantile sketch stripped"
    assert cs["v"]["ddq"]["scale"] == 10.0
    # and the rebuilt sketch covers the APPENDED rows too
    assert sum(c for _, c in cs["v"]["ddq"]["buckets"]) == 150
    assert t.estimate_quantile("v", 0.5) > 0


def test_sql_analyze_keeps_cms_across_scale_groups(spark, t):
    """ADVICE r14 #2 regression: SQL ANALYZE rebuilds per quantile
    scale group; a column holding cms+ddq at a non-minimum scale must
    keep BOTH sketches (the single-scale-group test above cannot see
    this — the stripping only happens in the scales[1:] calls)."""
    t.analyze(spark, approx=True, columns=["id"], quantiles=["id"],
              quantile_scale=1.0)
    t.analyze(spark, approx=True, columns=["v"], frequencies=["v"],
              quantiles=["v"], quantile_scale=10.0)
    t.append(_frame(spark, 100, 150))
    manifest_sql(spark,
                 "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS "
                 "id, v", {"t": t})
    cs = t._raw()["colstats"]["columns"]
    assert cs["v"].get("cms"), \
        "CMS stripped from non-minimum-scale column by SQL ANALYZE"
    assert cs["v"]["ddq"]["scale"] == 10.0
    assert cs["id"]["ddq"]["scale"] == 1.0
    # the rebuilt quantile sketch covers the appended rows too
    assert sum(c for _, c in cs["v"]["ddq"]["buckets"]) == 150


def test_sql_describe_detail_and_meta_tables(spark, t):
    """VERDICT r14 #3: DESCRIBE DETAIL + the Iceberg metadata-table
    spelling (FROM t.partitions / .files / .refs / .history /
    .column_stats / .detail) — all commit-object reads, composable
    with ordinary SQL on top."""
    t.append(_frame(spark, 100, 140))
    t.delete_where(spark, F.expr("id < 10"), mode="dv")
    det = manifest_sql(spark, "DESCRIBE DETAIL t",
                       {"t": t}).collect()[0]
    assert det["format"] == "manifest"
    assert det["partition_column"] == "pt"
    assert det["version"] == 3
    assert det["live_rows"] == 130 and det["deleted_rows"] == 10
    assert det["created_at"] is not None
    # metadata tables compose with SQL on top
    fold = manifest_sql(
        spark,
        "SELECT CAST(SUM(live_rows) AS BIGINT) AS live, "
        "       CAST(SUM(deleted_rows) AS BIGINT) AS dead "
        "FROM t.partitions", {"t": t}).collect()[0]
    assert (fold["live"], fold["dead"]) == (130, 10)
    nf = manifest_sql(spark,
                      "SELECT COUNT(*) AS n FROM t.files",
                      {"t": t}).collect()[0]["n"]
    assert nf == det["num_files"]
    hist = manifest_sql(
        spark, "SELECT version FROM t.history ORDER BY version",
        {"t": t}).collect()
    assert [r["version"] for r in hist] == [1, 2, 3]
    refs = manifest_sql(spark, "SELECT * FROM t.refs", {"t": t})
    assert refs.where("name = 'main'").collect()[0]["version"] == 3
    # .detail as a relation == the DESCRIBE DETAIL row
    rel = manifest_sql(spark,
                       "SELECT version, live_rows FROM t.detail",
                       {"t": t}).collect()[0]
    assert (rel["version"], rel["live_rows"]) == (3, 130)
    # a dotted name NOT in tables is left for Spark to resolve
    import pytest
    from pyspark.sql.utils import AnalysisException
    with pytest.raises(AnalysisException):
        manifest_sql(spark, "SELECT * FROM nosuch.files", {"t": t})


def test_sql_drop_table(spark, t, tmp_path):
    import os

    root = str(tmp_path / "doomed")
    ManifestTable.create(_frame(spark, 0, 10), root, ts=None)
    out = manifest_sql(spark, "DROP TABLE d", {"d": root}).collect()
    assert out[0]["table_name"] == "d"
    assert not os.path.exists(root)
    # the session view is unbound
    assert not spark.catalog.tableExists("d")
    # IF EXISTS tolerates the re-drop; strict form raises
    manifest_sql(spark, "DROP TABLE IF EXISTS d", {"d": root})
    import pytest
    with pytest.raises((FileNotFoundError, OSError)):
        manifest_sql(spark, "DROP TABLE d", {"d": root})


def test_sql_optimize_where_partition_bounded(spark, t):
    """Delta's OPTIMIZE WHERE: compaction bounded to the named
    partition value(s) — the other partitions' refs ride along
    untouched; non-partition predicates raise rather than degrade to
    a full rewrite."""
    for lo in (100, 200, 300):           # fragment every partition
        t.append(_frame(spark, lo, lo + 30))
    before = {v: [e["path"] for e in t._entries(t._raw(), v)]
              for v in t._raw()["partitions"]}
    out = manifest_sql(spark, "OPTIMIZE t WHERE pt = '1'",
                       {"t": t}).collect()[0]
    assert out["partitions_compacted"] == 1
    after = {v: [e["path"] for e in t._entries(t._raw(), v)]
             for v in t._raw()["partitions"]}
    assert len(after["1"]) == 1 and after["1"] != before["1"]
    for v in ("0", "2", "3"):
        assert after[v] == before[v]     # ALL others untouched
    assert t.read(spark).count() == 190  # row-preserving
    # IN-list form compacts exactly the named set, nothing else
    before2 = {v: [e["path"] for e in t._entries(t._raw(), v)]
               for v in t._raw()["partitions"]}
    out = manifest_sql(spark, "OPTIMIZE t WHERE pt IN ('0', '2')",
                       {"t": t}).collect()[0]
    assert out["partitions_compacted"] == 2
    after2 = {v: [e["path"] for e in t._entries(t._raw(), v)]
              for v in t._raw()["partitions"]}
    for v in ("0", "2"):
        assert len(after2[v]) == 1 and after2[v] != before2[v]
    for v in ("1", "3"):
        assert after2[v] == before2[v]
    assert t.read(spark).count() == 190
    # non-partition predicates refuse loudly
    with pytest.raises(ValueError, match="partition column"):
        manifest_sql(spark, "OPTIMIZE t WHERE id = '7'", {"t": t})
    # an unquoted literal must fail HERE with the offending text,
    # never fall through to an opaque Spark ParseException
    with pytest.raises(ValueError, match="unparsed maintenance"):
        manifest_sql(spark, "OPTIMIZE t WHERE pt = 1", {"t": t})
    with pytest.raises(ValueError, match="unparsed maintenance"):
        manifest_sql(
            spark,
            "RESTORE TABLE t TO TIMESTAMP AS OF 2024-01-01",
            {"t": t})


def test_sql_restore_to_timestamp(spark, t):
    t.append(_frame(spark, 100, 150))                       # v2
    stamp = t._raw()["committed_at"]
    import datetime as dt

    t.delete_where(spark, F.expr("id < 50"), mode="dv")     # v3
    assert t.read(spark).count() == 100
    iso = dt.datetime.fromtimestamp(
        stamp, dt.timezone.utc).isoformat()
    out = manifest_sql(
        spark, f"RESTORE TABLE t TO TIMESTAMP AS OF '{iso}'",
        {"t": t}).collect()[0]
    assert out["version"] == 4           # restore is a new commit
    assert t.read(spark).count() == 150  # v2 state, deletes undone


def test_sql_drop_if_exists_surfaces_rmtree_failure(
        spark, tmp_path, monkeypatch):
    """ADVICE r15 #3: IF EXISTS swallows ONLY the missing-table
    probe.  A deletion failure on an EXISTING table (permissions,
    half-deleted tree) must propagate loudly — reporting success
    while data files remain on disk is the worst outcome a DROP can
    have."""
    import os
    import shutil

    root = str(tmp_path / "sticky")
    ManifestTable.create(_frame(spark, 0, 10), root, ts=None)

    def boom(path, *a, **kw):
        raise OSError(f"permission denied removing {path}")

    monkeypatch.setattr(shutil, "rmtree", boom)
    with pytest.raises(OSError, match="permission denied"):
        manifest_sql(spark, "DROP TABLE IF EXISTS s", {"s": root})
    monkeypatch.undo()
    assert os.path.exists(root)          # nothing silently vanished
    # and the missing-table probe is still swallowed
    gone = str(tmp_path / "never_was")
    out = manifest_sql(spark, "DROP TABLE IF EXISTS g",
                       {"g": gone}).collect()
    assert out[0]["table_name"] == "g"


def test_sql_rewriters_skip_quoted_literals(spark, t):
    """ADVICE r15 #4: grammar-shaped text INSIDE a string literal
    must come through verbatim — no stray temp views registered, no
    literal content rewritten — while the same text outside a
    literal still rewrites (the meta-table read in the same query
    proves the rewriter stayed active)."""
    # the table binds under a name no other test registers, so the
    # no-stray-view assertions cannot see session pollution
    got = manifest_sql(
        spark,
        "SELECT 'FROM qlit.files' AS a, "
        "'FROM qlit VERSION AS OF 1' AS b, "
        '"see table_changes(\'qlit\', 1, 2) for the feed" AS c, '
        "COUNT(*) AS n FROM qlit.partitions",
        {"qlit": t}).collect()
    assert got[0]["a"] == "FROM qlit.files"
    assert got[0]["b"] == "FROM qlit VERSION AS OF 1"
    assert got[0]["c"] == "see table_changes('qlit', 1, 2) for the feed"
    assert got[0]["n"] == 4              # the real rewrite ran
    # the literal mention of qlit.files registered nothing
    assert not spark.catalog.tableExists("qlit__meta_files")
    assert not spark.catalog.tableExists("qlit__ch1_2")


def test_sql_merge_using_table_changes_source(spark, t, tmp_path):
    """ADVICE r15 #2: the DML source subquery gets the same grammar
    rewrites as a standalone SELECT — ``MERGE INTO tgt USING (SELECT
    ... FROM table_changes('src', v1, v2))`` is the natural
    CDF-apply spelling and must not fall through to bare spark.sql's
    ParseException."""
    src_root = str(tmp_path / "src")
    s = ManifestTable.create(_frame(spark, 0, 20), src_root,
                             ts="pt")                        # v1
    s.append(_frame(spark, 100, 110).withColumn(
        "v", F.col("v") + 0.5), cdf=True)                    # v2
    out = manifest_sql(
        spark,
        "MERGE INTO t USING (SELECT id, pt, v FROM "
        "table_changes('s', 2, 2) WHERE _change_type = 'insert') s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"t": t, "s": s}).collect()
    assert out[0]["num_affected_rows"] == 10
    live = t.read(spark)
    assert live.count() == 110
    assert live.filter("id >= 100").count() == 10
    # INSERT INTO gets the same treatment (time-travel in source)
    manifest_sql(spark,
                 "INSERT INTO t SELECT id + 200 AS id, pt, v "
                 "FROM s VERSION AS OF 1 WHERE id < 5",
                 {"t": t, "s": s})
    assert t.read(spark).count() == 115


def test_sql_rewriters_honor_backslash_escaped_quotes(spark, t):
    """Spark's default parser (escapedStringLiterals=false) reads
    \\' as an escaped quote INSIDE the literal; the masking must not
    end the span there, or the literal's tail unmasks and a grammar
    regex can rewrite text the parser treats as data."""
    got = manifest_sql(
        spark,
        "SELECT 'it\\'s listed FROM qbs.files now' AS msg, "
        "COUNT(*) AS n FROM qbs.partitions",
        {"qbs": t}).collect()
    assert got[0]["msg"] == "it's listed FROM qbs.files now"
    assert got[0]["n"] == 4              # the real rewrite still ran
    assert not spark.catalog.tableExists("qbs__meta_files")


# -- text the statement's own lexer reads, not a regex ----------------


@pytest.mark.parametrize("query", [
    "-- don't\nSELECT COUNT(*) AS n FROM tt VERSION AS OF 1",
    "SELECT COUNT(*) AS n FROM `tt` VERSION AS OF 1",
    "SELECT COUNT(*) AS n FROM tt /* x */ VERSION AS OF 1",
], ids=["line-comment-quote", "backticks", "block-comment"])
def test_sql_time_travel_through_comments_and_backticks(spark, t, query):
    t.append(_frame(spark, 100, 150))            # v2
    assert manifest_sql(spark, query, {"tt": t}).collect()[0]["n"] == 100


@pytest.mark.parametrize("query,changed", [
    ("UPDATE st SET s = 'x,y' WHERE id = 1", {1: "x,y"}),
    ("UPDATE st SET s = 'a WHERE b' WHERE id = 2", {2: "a WHERE b"}),
], ids=["comma", "where"])
def test_sql_update_literal_holding_grammar(spark, tmp_path, query,
                                            changed):
    """A SET value's literal may hold a comma or a WHERE: neither
    splits the statement."""
    st = ManifestTable.create(
        spark.range(4).selectExpr("id", "CAST(id % 2 AS STRING) AS pt",
                                  "'orig' AS s"),
        str(tmp_path / "st"), ts="pt")
    out = manifest_sql(spark, query, {"st": st}).collect()[0]
    assert out["num_updated_rows"] == 1
    got = {r["id"]: r["s"] for r in st.read(spark).collect()}
    assert got == {i: changed.get(i, "orig") for i in range(4)}


@pytest.mark.parametrize("query,check", [
    ("-- purge\nDELETE FROM t WHERE id = 3",
     lambda spark, t: t.read(spark).where("id = 3").count() == 0),
    ("-- widen\nALTER TABLE t ADD COLUMNS (z int)",
     lambda spark, t: ["z", "int"] in t._raw()["schema"]),
], ids=["delete", "alter"])
def test_sql_statement_after_a_comment(spark, t, query, check):
    manifest_sql(spark, query, {"t": t})
    assert t.version() == 2
    assert check(spark, t)


def test_sql_delete_where_exists(spark, t):
    """An EXISTS predicate is sliced to its own text, alone or inside
    a conjunction."""
    spark.range(3).createOrReplaceTempView("exists_probe")
    out = manifest_sql(spark, "DELETE FROM tt WHERE id < 5 AND EXISTS "
                              "(SELECT 1 FROM exists_probe)", {"tt": t})
    assert out.collect()[0]["num_deleted_rows"] == 5
    manifest_sql(spark, "DELETE FROM tt WHERE EXISTS (SELECT count(*) "
                        "FROM exists_probe GROUP BY id % 2)", {"tt": t})
    assert t.read(spark).count() == 0
