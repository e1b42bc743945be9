"""Incremental materialization: upsert-on-key MERGE with the
reference's trailing-lookback reprocess semantics.

Reference analogs:
- dbt ``incremental`` with ``unique_key=['ticker','trade_date']``
  (int_russell3000__daily.sql:3-7, fct_trading_momentum.sql:2-7)
- the trailing-4-day late-data window:
  ``WHERE trade_date >= DATEADD(day,-4,(SELECT MAX(trade_date) FROM this))``
  (int_russell3000__daily.sql:19-26, fct_trading_momentum.sql:209-214)

Design: the MERGE algebra is expressed engine-agnostically as
anti-join + union (:func:`merge_upsert`); the MATERIALIZED write path
is :class:`manifest.ManifestTable` — the reference's incremental
models are transactional by default (Snowflake MERGE,
fct_trading_momentum.sql:2-7), so this engine's default write path is
too: one atomic multi-partition manifest commit, snapshot isolation
for readers, optimistic concurrency between writers, and a crash
anywhere mid-run leaves the prior snapshot fully live.  (The plain
dynamic-partition-overwrite path this module carried through round 7
was atomic only per partition directory; it is gone — users get the
atomic layer, not the mechanism it replaced.)

The key decision for correctness is the WARMUP: the reference
recomputes indicator windows over only the reprocessed slice
(accepting NULL warmups); we instead carry the preceding
``warmup_rows`` rows per key into the window stage and drop them
after, so incremental output is bit-identical to a full rebuild —
verified by the ``fct_momentum_incremental`` and
``manifest_momentum_merge`` catalog entries hash-matching the
full-rebuild oracle.

Scale notes: the MERGE touches only the partitions in the update
slice (the manifest prunes the read-back to them); the warmup
selection is one row_number window over the trailing rows per ticker —
the same single shuffle the indicator stage needs anyway.  The
incremental cutoff (MAX trade_date of the prior materialization) is
read from the manifest's footer-stats zone maps — a driver-side fold,
no Spark job — with a real scan as the fallback when stats are absent
(measured ~35 s saved per sf1 run vs recomputing the momentum lineage
for one scalar).  The recomputed slice is materialized ONCE before the
merge and released after its commit: the merge reads its source three
times (the touched-partition collect and both sides of
:func:`merge_upsert`), and each read otherwise re-ran the whole-history
universe + window lineage.  Three evaluations become one, and the
cache is small — tickers × (new dates + lookback) rows.  The merge
itself stays generic (its NOTE explains why an in-merge persist loses
for cheap sources).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, updates: DataFrame,
                 keys: list[str]) -> DataFrame:
    """Batch MERGE: rows of ``target`` whose key is absent from
    ``updates``, plus all of ``updates`` (update wins on match —
    WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT)."""
    kept = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(updates)


def trailing_slice(universe: DataFrame, as_of_max, lookback_days: int,
                   warmup_rows: int,
                   key: str = "ticker", ts: str = "trade_date"):
    """Split the source into (reprocess slice, warmup rows).

    ``cutoff`` = as_of_max - lookback_days (calendar days, matching the
    reference's DATEADD over trading-day rows — SURVEY §4 gotcha 1).
    Warmup = the last ``warmup_rows`` rows per key strictly before the
    cutoff; they feed the window stage but are dropped from the output.
    """
    cutoff = F.date_sub(F.lit(as_of_max), lookback_days)
    slice_df = universe.where(F.col(ts) >= cutoff)
    w_desc = Window.partitionBy(key).orderBy(F.col(ts).desc())
    warmup = (
        universe.where(F.col(ts) < cutoff)
        .withColumn("__rn", F.row_number().over(w_desc))
        .where(F.col("__rn") <= warmup_rows)
        .drop("__rn")
    )
    return slice_df, warmup, cutoff


def recompute_trailing(universe: DataFrame, as_of, params,
                       lookback_days: int = 4) -> DataFrame:
    """The trailing-slice recompute every incremental momentum path
    shares: slice the last ``lookback_days`` sessions at/after
    ``as_of`` plus a window-sufficient warmup, rebuild the indicators
    over warmup+slice, and return only the slice rows.  ONE home for
    the warmup math — longest frame plus one, because crossover
    columns LAG an already-windowed SMA, so the first recomputed row
    needs its predecessor's full frame too (an off-by-one that a
    frame-length-only warmup misses)."""
    from .models.marts import fct_trading_momentum

    warmup_rows = max(params.sma_l, params.high_low, params.ret_year) + 1
    slice_df, warmup, cutoff = trailing_slice(
        universe, as_of, lookback_days, warmup_rows)
    return (fct_trading_momentum(warmup.unionByName(slice_df), params)
            .where(F.col("trade_date") >= cutoff))


def trade_month_col():
    """Month-grain partition duplicate for the materialized momentum
    fact: day-grain dirs are KB-scale at any realistic per-day volume
    ÷ partition count (the sf1 sweep measured 911 tiny day files with
    per-partition overhead dominating the run); month partitions bound
    the partition count while day-grain pruning still comes from the
    per-file trade_date zone maps.  Derived from the immutable
    trade_date, so the merge's key-stability precondition holds by
    construction."""
    return F.date_format("trade_date", "yyyy-MM")


def materialize_momentum(spark: SparkSession, universe: DataFrame,
                         root: str, params) -> "ManifestTable":
    """Initial materialization of the momentum fact as a month-grain
    ManifestTable (the engine's default transactional target — the
    analog of the reference's first full-refresh dbt run)."""
    from .manifest import ManifestTable
    from .models.marts import fct_trading_momentum

    fct = (fct_trading_momentum(universe, params)
           .withColumn("trade_month", trade_month_col()))
    return ManifestTable.create(fct, root, ts="trade_month")


def incremental_momentum_run(spark: SparkSession, universe: DataFrame,
                             table, params,
                             lookback_days: int = 4) -> DataFrame:
    """One incremental run against a MATERIALIZED momentum target
    (:class:`manifest.ManifestTable`): discover the incremental cutoff
    from the table's zone maps, recompute the trailing slice with
    window-sufficient warmup, and MERGE it on (ticker, trade_date)
    with ONE atomic multi-partition commit — the reference's
    transactional incremental model (fct_trading_momentum.sql:2-7,
    209-214) on plain files.  Idempotent: re-running after the source
    stopped moving converges (the trailing slice re-merges to the same
    rows); a crash mid-run leaves the prior snapshot fully live
    (tests/test_manifest.py crash-injects the commit protocol).

    The table may be partitioned by ``trade_date`` itself or by a
    ``trade_month`` duplicate (the month-grain layout the sf1 sweep
    measured as the right file-count at scale — see
    :func:`trade_month_col`); the duplicate is derived here so every
    caller agrees on the derivation."""
    from datetime import date as _date

    bounds = table.stat_bounds("trade_date")
    if bounds is not None:
        as_of = _date.fromisoformat(str(bounds[1])[:10])
    else:
        as_of = table.read(spark).agg(F.max("trade_date")).first()[0]
    recomputed = recompute_trailing(universe, as_of, params,
                                    lookback_days)
    if table.ts == "trade_month":
        recomputed = recomputed.withColumn("trade_month", trade_month_col())
    # one run of the whole-history lineage, not the merge's three
    # (module docstring, "Scale notes")
    recomputed = recomputed.persist()
    try:
        recomputed.count()
        table.merge(spark, recomputed, ["ticker", "trade_date"])
    finally:
        recomputed.unpersist()
    return table.read(spark)
