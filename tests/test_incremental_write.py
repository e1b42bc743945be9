"""Partition-scoped incremental writes through the DEFAULT
transactional path: an incremental run must rewrite ONLY the trailing
partitions of the ManifestTable target — every untouched partition's
manifest file entries survive byte-identically — and repeated runs
must converge to the full rebuild.  The reference's incremental run
touches exactly the trailing-4-day slice
(fct_trading_momentum.sql:209-214), never the whole table."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.incremental import (
    incremental_momentum_run,
    materialize_momentum,
)
from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.models.mapping import (
    universe_daily_from_tpch,
)
from stock_market_data_pipeline_spark.models.marts import (
    SMALL,
    fct_trading_momentum,
)

SPLIT = "1997-06-30"


@pytest.fixture(scope="module")
def universe(spark, sf_dir):
    return universe_daily_from_tpch(spark, sf_dir)


def test_incremental_run_rewrites_only_trailing_partitions(
        spark, universe, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fct") / "fct_momentum")
    table = materialize_momentum(
        spark, universe.where(F.col("trade_date") <= F.lit(SPLIT)),
        root, SMALL)
    before = table.manifest()["partitions"]

    result = incremental_momentum_run(spark, universe, table, SMALL,
                                      lookback_days=4)
    after = table.manifest()["partitions"]

    # cutoff = SPLIT - 4 calendar days -> only 1997-06 and later months
    # are touched; every earlier month's FILE ENTRIES (paths, bytes,
    # stats) must be carried over untouched — the partition-pruned
    # write contract
    untouched = [m for m in before if m < "1997-06"]
    assert untouched, "no untouched partitions — test is vacuous"
    for m in untouched:
        assert after[m] == before[m], m
    touched = [m for m in after if m >= "1997-06"]
    assert touched, "no trailing partitions written"
    assert after["1997-06"] != before["1997-06"]

    # the incremental result is bit-identical to a full rebuild
    full = (fct_trading_momentum(universe, SMALL))
    cols = sorted(full.columns)
    got = Counter(map(tuple,
                      result.drop("trade_month").select(*cols).collect()))
    want = Counter(map(tuple, full.select(*cols).collect()))
    assert got == want


def test_repeated_runs_converge_and_are_idempotent(
        spark, universe, tmp_path_factory):
    """Two advancing runs converge to the rebuild; a third run with an
    UNCHANGED source is a no-op on content (idempotent re-run — the
    scheduler-retry case) though it still commits a new snapshot."""
    root = str(tmp_path_factory.mktemp("fct2") / "fct_momentum")
    table = materialize_momentum(
        spark, universe.where(F.col("trade_date") <= F.lit("1997-05-31")),
        root, SMALL)
    incremental_momentum_run(
        spark, universe.where(F.col("trade_date") <= F.lit(SPLIT)),
        table, SMALL, lookback_days=4)
    second = incremental_momentum_run(spark, universe, table, SMALL,
                                      lookback_days=4)
    full = fct_trading_momentum(universe, SMALL)
    cols = sorted(full.columns)
    want = Counter(map(tuple, full.select(*cols).collect()))
    got2 = Counter(map(tuple,
                       second.drop("trade_month").select(*cols).collect()))
    assert got2 == want
    third = incremental_momentum_run(spark, universe, table, SMALL,
                                     lookback_days=4)
    got3 = Counter(map(tuple,
                       third.drop("trade_month").select(*cols).collect()))
    assert got3 == want


def test_merge_validate_catches_key_that_moved_partitions(
        spark, tmp_path_factory):
    """ADVICE r3 (medium), ported to the manifest path: if an update
    re-dates a key — its partition value differs from the existing
    row's — the partition-pruned MERGE would leave the stale row
    behind.  The debug validator must refuse; without it the
    documented precondition is on the caller."""
    root = str(tmp_path_factory.mktemp("mv") / "t")
    base = spark.createDataFrame(
        [("E1", "2020-01-01", 1.0), ("E2", "2020-01-02", 2.0)],
        "event_id string, event_date string, v double",
    ).withColumn("event_date", F.col("event_date").cast("date"))
    table = ManifestTable.create(base, root, ts="event_date")

    # E1 re-delivered with a DIFFERENT date -> key moves partitions
    moved = spark.createDataFrame(
        [("E1", "2020-01-02", 9.0)],
        "event_id string, event_date string, v double",
    ).withColumn("event_date", F.col("event_date").cast("date"))
    v = table.version()
    with pytest.raises(ValueError, match="precondition violated"):
        table.merge(spark, moved, keys=["event_id"],
                    validate_key_stability=True)
    assert table.version() == v              # nothing committed

    # stable re-delivery (same date) passes validation and merges
    stable = spark.createDataFrame(
        [("E2", "2020-01-02", 20.0)],
        "event_id string, event_date string, v double",
    ).withColumn("event_date", F.col("event_date").cast("date"))
    table.merge(spark, stable, keys=["event_id"],
                validate_key_stability=True)
    rows = sorted(map(tuple, table.read(spark)
                      .select("event_id", "v").collect()))
    assert rows == [("E1", 1.0), ("E2", 20.0)]


def test_merge_source_is_materialized_slice(spark, universe,
                                            tmp_path_factory,
                                            monkeypatch):
    """The frame an incremental run hands to ``ManifestTable.merge`` is
    already materialized: the merge reads its source three times, and
    a source still carrying the whole-history window lineage would
    recompute it for each read.  Its optimized plan has no Window."""
    root = str(tmp_path_factory.mktemp("fct3") / "fct_momentum")
    table = materialize_momentum(
        spark, universe.where(F.col("trade_date") <= F.lit(SPLIT)),
        root, SMALL)
    def node_names(plan) -> list[str]:
        # walk the children, not toString(): a cached relation prints
        # the plan it was built from under itself
        kids = plan.children()
        return [plan.nodeName()] + [n for i in range(kids.size())
                                    for n in node_names(kids.apply(i))]

    plans = []
    real_merge = ManifestTable.merge

    def merge(self, spark_, updates, keys, **kw):
        plans.append(node_names(
            updates._jdf.queryExecution().optimizedPlan()))
        return real_merge(self, spark_, updates, keys, **kw)

    monkeypatch.setattr(ManifestTable, "merge", merge)
    incremental_momentum_run(spark, universe, table, SMALL,
                             lookback_days=4)
    assert len(plans) == 1
    assert "Window" not in plans[0], plans[0]
