"""MERGE's third clause: WHEN MATCHED AND <cond> THEN DELETE
(manifest.py merge(when_matched_delete=...)).

The reference's MERGE is Snowflake's full three-clause statement
(dbt snapshots invalidate rows this way); Delta Lake's
``whenMatchedDelete(condition=...)`` is the open analog.  Contract
under test: delete-marked update rows remove their MATCHED live row
in the same atomic commit as the upserts; unmatched delete rows are
no-ops; NULL conditions route to the upsert clauses (three-valued
logic); a partition emptied by deletes drops from the table; and the
CDF classifies removed rows 'delete' alongside the usual
insert/update pre/post kinds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import (
    CrashInjected,
    ManifestTable,
)

KEYS = ["ticker", "trade_date"]


def _mkdf(spark, rows):
    df = spark.createDataFrame(
        rows, "ticker string, trade_date string, close double")
    return df.withColumn("trade_date", F.col("trade_date").cast("date"))


BASE = [
    ("AAA", "2024-01-02", 10.0), ("BBB", "2024-01-02", 20.0),
    ("AAA", "2024-01-03", 11.0), ("BBB", "2024-01-03", 21.0),
]


@pytest.fixture()
def table(spark, tmp_path):
    return ManifestTable.create(
        _mkdf(spark, BASE), str(tmp_path / "t"), ts="trade_date")


def _snap(spark, table):
    return sorted((r.ticker, str(r.trade_date), r.close)
                  for r in table.read(spark).collect())


def test_three_clause_merge(spark, table):
    """One batch: an update, an insert, and a delete — each routed by
    the per-row condition, all in ONE commit."""
    upd = _mkdf(spark, [
        ("AAA", "2024-01-03", -1.0),    # matched + cond TRUE: DELETE
        ("BBB", "2024-01-03", 99.0),    # matched + cond FALSE: UPDATE
        ("CCC", "2024-01-02", 30.0),    # unmatched + FALSE: INSERT
    ])
    v0 = table.version()
    table.merge(spark, upd, KEYS,
                when_matched_delete=F.col("close") < 0)
    assert table.version() == v0 + 1
    assert _snap(spark, table) == sorted([
        ("AAA", "2024-01-02", 10.0), ("BBB", "2024-01-02", 20.0),
        ("BBB", "2024-01-03", 99.0), ("CCC", "2024-01-02", 30.0),
    ])


def test_unmatched_delete_rows_are_noops(spark, table):
    upd = _mkdf(spark, [("ZZZ", "2024-01-02", -1.0)])
    table.merge(spark, upd, KEYS,
                when_matched_delete="close < 0")
    assert _snap(spark, table) == sorted(
        (t, d, c) for t, d, c in BASE)


def test_null_condition_routes_to_upsert(spark, table):
    """SQL three-valued logic: a NULL delete condition is not TRUE —
    the row UPDATES instead of deleting (mirrors delete_where's
    NULL-keeps contract, r8 ADVICE item 1)."""
    upd = _mkdf(spark, [("AAA", "2024-01-03", 50.0)])
    table.merge(spark, upd, KEYS,
                when_matched_delete=F.lit(None).cast("boolean"))
    snap = _snap(spark, table)
    assert ("AAA", "2024-01-03", 50.0) in snap
    assert len(snap) == len(BASE)


def test_partition_emptied_by_delete_is_dropped(spark, table):
    """Deleting every row of a partition drops the partition from the
    commit map entirely — no stale refs, no empty shard."""
    upd = _mkdf(spark, [
        ("AAA", "2024-01-03", -1.0), ("BBB", "2024-01-03", -1.0),
    ])
    table.merge(spark, upd, KEYS,
                when_matched_delete=F.col("close") < 0)
    assert "2024-01-03" not in table._raw()["partitions"]
    assert _snap(spark, table) == sorted([
        ("AAA", "2024-01-02", 10.0), ("BBB", "2024-01-02", 20.0)])


def test_delete_only_merge_that_matches_nothing_commits_nothing(
        spark, table):
    v0 = table.version()
    upd = _mkdf(spark, [("ZZZ", "2024-01-09", -1.0)])
    table.merge(spark, upd, KEYS,
                when_matched_delete=F.col("close") < 0)
    # the touched partition is NEW and received only no-op deletes:
    # nothing staged, nothing dropped, no version burned
    assert table.version() == v0
    assert _snap(spark, table) == sorted(
        (t, d, c) for t, d, c in BASE)


def test_same_key_delete_and_upsert_in_one_batch(spark, table):
    """Per-source-row clauses: the delete removes the live row, the
    upsert re-inserts — final state is the upsert row."""
    upd = _mkdf(spark, [
        ("AAA", "2024-01-03", -1.0),    # delete-marked
        ("AAA", "2024-01-03", 77.0),    # upsert row, same key
    ])
    table.merge(spark, upd, KEYS,
                when_matched_delete=F.col("close") < 0)
    snap = _snap(spark, table)
    assert ("AAA", "2024-01-03", 77.0) in snap
    assert len(snap) == len(BASE)


def test_cdf_classifies_deletes(spark, table):
    upd = _mkdf(spark, [
        ("AAA", "2024-01-03", -1.0),    # delete
        ("BBB", "2024-01-03", 99.0),    # update
        ("CCC", "2024-01-02", 30.0),    # insert
    ])
    table.merge(spark, upd, KEYS, cdf=True,
                when_matched_delete=F.col("close") < 0)
    feed = table.changes(spark, table.version())
    kinds = {(r["_change_type"], r["ticker"], r["close"])
             for r in feed.collect()}
    assert ("delete", "AAA", 11.0) in kinds          # the REMOVED row
    assert ("update_preimage", "BBB", 21.0) in kinds
    assert ("update_postimage", "BBB", 99.0) in kinds
    assert ("insert", "CCC", 30.0) in kinds
    assert len(kinds) == 4                           # nothing else


def test_merge_batch_tombstones_exactly_once(spark, table):
    """The CDC-ingest shape: a micro-batch carrying tombstone rows
    (op='d') deletes matched keys and upserts the rest, exactly-once
    — the batch id, the upserts and the deletes land in ONE commit,
    and a replay of the same batch id is refused without staging."""
    batch = (spark.createDataFrame(
        [("AAA", "2024-01-03", 0.0, "d"),      # tombstone: delete
         ("BBB", "2024-01-03", 99.0, "u"),     # upsert
         ("CCC", "2024-01-02", 30.0, "u")],    # insert
        "ticker string, trade_date string, close double, op string")
        .withColumn("trade_date", F.col("trade_date").cast("date")))
    # the pinned schema has no 'op' column, so the caller folds the
    # tombstone marker into a sentinel the condition can see on a
    # schema-conformant frame (the usual CDC-projection step)
    marked = batch.withColumn(
        "close", F.when(F.col("op") == "d", F.lit(-1.0))
                  .otherwise(F.col("close"))).drop("op")
    assert table.merge_batch(spark, marked, KEYS, "cdc", 0,
                             when_matched_delete=F.col("close") < 0)
    snap = _snap(spark, table)
    assert ("AAA", "2024-01-03", 11.0) not in snap      # deleted
    assert ("BBB", "2024-01-03", 99.0) in snap
    assert ("CCC", "2024-01-02", 30.0) in snap
    # replay: refused from the ledger, nothing changes
    assert not table.merge_batch(spark, marked, KEYS, "cdc", 0,
                                 when_matched_delete=F.col("close") < 0)
    assert _snap(spark, table) == snap
    assert table.manifest()["streams"] == {"cdc": 0}


def test_merge_batch_delete_empties_partition(spark, table):
    batch = _mkdf(spark, [
        ("AAA", "2024-01-03", -1.0), ("BBB", "2024-01-03", -1.0)])
    assert table.merge_batch(spark, batch, KEYS, "cdc", 0,
                             when_matched_delete="close < 0")
    assert "2024-01-03" not in table._raw()["partitions"]
    # the ledger advanced in the SAME commit that dropped the partition
    assert table.manifest()["streams"] == {"cdc": 0}


def test_crash_before_commit_leaves_old_snapshot(spark, table):
    upd = _mkdf(spark, [("AAA", "2024-01-03", -1.0)])
    with pytest.raises(CrashInjected):
        table.merge(spark, upd, KEYS,
                    when_matched_delete=F.col("close") < 0,
                    _crash_before_commit=True)
    assert _snap(spark, table) == sorted(
        (t, d, c) for t, d, c in BASE)


def test_rewrite_merge_of_unmatched_marked_rows_restages_nothing(
        spark, tmp_path):
    """A rewrite MERGE whose only source row is delete-marked and
    matches no live row changes nothing, so it must neither restage
    the partition the row names nor burn a version (dv mode already
    commits nothing); ``merge_batch`` still commits its ledger entry,
    with every partition kept by shard ref."""
    schema = "ticker string, d string, close double"
    t = ManifestTable.create(
        spark.createDataFrame([("A", "2024-01-02", 1.0),
                               ("B", "2024-01-02", 2.0),
                               ("A", "2024-01-03", 3.0)], schema),
        str(tmp_path / "t"), ts="d")
    t.delete_where(spark, "ticker = 'B'", mode="dv")
    t.append(spark.createDataFrame([("C", "2024-01-04", 4.0)], schema),
             cdf=True)
    src = spark.createDataFrame([("Z", "2024-01-03", -1.0)], schema)
    v0, parts0 = t.version(), t._raw()["partitions"]
    t.merge(spark, src, ["ticker", "d"], when_matched_delete="close < 0")
    assert t.version() == v0
    assert t._raw()["partitions"] == parts0
    assert t.merge_batch(spark, src, ["ticker", "d"], "s", 0,
                         when_matched_delete="close < 0")
    mf = t._raw()
    assert mf["version"] == v0 + 1 and mf["streams"] == {"s": 0}
    assert ({v: r["shard"] for v, r in mf["partitions"].items()}
            == {v: r["shard"] for v, r in parts0.items()})
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        ("A", "2024-01-02", 1.0), ("A", "2024-01-03", 3.0),
        ("C", "2024-01-04", 4.0)]
